"""Feature-store benchmark: one seeded workload per run, through the engine's public API.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Run from the repository root; the engine package is imported from the
directory above this file.  Inputs are generated from ``--seed`` under
a scratch directory inside the checkout (``.perfbench/``), which also
serves as ``TMPDIR`` and Spark's local dir and is removed at the end.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``).  ``perfbench/README.md`` defines every metric.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ml_feature_store_enterprise_grade_spark"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None, sizes: dict | None = None) -> int:
    """Run one workload and print its result line.  ``sizes`` overrides
    the workload's input sizes (the self-tests run on tiny inputs)."""
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = load_spec()
    # A terminated run still stops Spark and removes its scratch dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        run = workloads.Run(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            traced=bool(args.trace),
            scratch=scratch,
            t_process=T_PROCESS,
            sizes=sizes or workloads.SIZES[args.workload],
        )
        try:
            metrics = workloads.WORKLOADS[args.workload](run)
        finally:
            run.close()
        if run.traced:
            os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
            run.tracer.write(
                os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-s{args.seed}.jsonl")
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    declared = spec["per_layer" if run.traced else "end_to_end"]
    names = [m["name"] for m in declared]
    missing = sorted(set(names) - set(metrics))
    if missing:
        print(f"perfbench: workload produced no value for {missing}", file=sys.stderr)
        return 3
    for err in run.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in declared
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
