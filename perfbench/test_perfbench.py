"""Self-tests for the benchmark: python3 -m pytest perfbench -q (from the repository root).

The two smoke tests start Spark on tiny inputs (about a minute each)."""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TINY = {
    "batch": dict(workloads.SIZES["batch"], events=4_000, users=300, entities=300, docs=120,
                  vectors=60),
    "online_refresh": dict(workloads.SIZES["online_refresh"], hour_events=400, users=300,
                           setup_hours=2),
}


def _tables(seed: int) -> dict:
    rng = np.random.default_rng([seed, 7])
    return {
        "events": gen.events(rng, 2_000, 300, 0, 30 * 24 * gen.HOUR_US),
        "hour": gen.hour_file(rng, 5, 1_000, 300, 0.05),
        "documents": gen.documents(rng, 200, 0.2),
        "embeddings": gen.embeddings(rng, 100, 64),
    }


def _digests(tmp_path, seed: int) -> dict[str, str]:
    out = {}
    for name, table in _tables(seed).items():
        path = gen.write(table, str(tmp_path / f"s{seed}" / f"{name}.parquet"))
        with open(path, "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_generators_are_byte_identical_per_seed(tmp_path):
    first = _digests(tmp_path / "a", 11)
    assert first == _digests(tmp_path / "b", 11)
    other = _digests(tmp_path / "c", 12)
    assert all(first[k] != other[k] for k in first)


def test_late_events_stay_inside_the_watermark():
    t = gen.hour_file(np.random.default_rng(3), 7, 5_000, 1_000, 0.05)
    ts = t.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64) - gen.EPOCH_US
    start = 7 * gen.HOUR_US
    late = ts < start
    assert late.any()
    assert ts.min() >= start - gen.HOUR_US // 6  # 10 minutes < the 15-minute watermark
    assert ts.max() < start + gen.HOUR_US


def test_zipf_keys_are_skewed():
    keys = gen.zipf_keys(np.random.default_rng(1), 50_000, 1_000)
    counts = np.sort(np.bincount(keys, minlength=1_000))[::-1]
    assert counts[:10].sum() > 0.25 * counts.sum()
    assert keys.min() >= 0 and keys.max() < 1_000


@pytest.mark.parametrize(
    "n, idx, pct",
    [(11, 0, 100 / 11), (16, 5, 37.5), (40, 29, 75.0), (1_000, 989, 99.0)],
)
def test_tail_leaves_ten_samples_beyond(n, idx, pct):
    got_idx, got_pct = tracing.tail_rank(n)
    assert (got_idx, got_pct) == (idx, pytest.approx(pct))
    assert n - (got_idx + 1) == 10


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tracing.tail_rank(10)


def test_cpu_and_steal_counters():
    c0 = tracing.tree_cpu_s()
    sum(i * i for i in range(2_000_000))
    assert tracing.tree_cpu_s() > c0
    assert 0.0 <= tracing.HostClock().steal_share() <= 1.0


def test_union_length_merges_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([]) == 0


def test_generators_follow_the_measured_sf01_shapes():
    rng = np.random.default_rng(2)
    ev = gen.events(rng, 50_000, 1_500, 0, 30 * 24 * gen.HOUR_US)
    types = np.unique(ev.column("event_type").to_numpy(zero_copy_only=False), return_counts=True)
    assert list(types[0]) == sorted(gen.EVENT_TYPES)
    assert np.all(np.abs(types[1] / 50_000 - 0.2) < 0.01)
    v = ev.column("value").to_numpy()
    assert abs(np.median(v) - 34.8) < 1.5 and np.array_equal(v, np.round(v, 2))
    docs = gen.documents(rng, 2_000)
    words = [t.split() for t in docs.column("text").to_pylist()]
    assert abs(sum(w[-1] == "dup" for w in words) / 2_000 - gen.DUP_SHARE) < 0.015
    assert min(len(w) for w in words) >= 10
    assert docs.column("n_chars").to_pylist() == [len(t) for t in docs.column("text").to_pylist()]
    vec = np.stack(gen.embeddings(rng, 300, 64).column("embedding").to_numpy(zero_copy_only=False))
    assert np.allclose(np.linalg.norm(vec, axis=1), 1.0, atol=1e-5)


def test_spec_matches_the_contract():
    names = [w["name"] for w in SPEC["workloads"]]
    assert sorted(names) == sorted(workloads.WORKLOADS)
    ok = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    assert len({m["name"] for m in metrics}) == len(metrics)
    assert all(ok.match(m["name"]) for m in metrics)
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def _java_pids() -> set[int]:
    """Live JVMs on the machine."""
    out = set()
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/cmdline", "rb") as fh:
                    prog = fh.read().split(b"\0")[0]
            except OSError:
                continue
            if prog.endswith(b"java") and workloads.alive(int(entry)):
                out.add(int(entry))
    return out


def _run(workload: str, trace: int) -> dict:
    before = _java_pids()
    code = (
        "import sys; sys.path[:0] = [%r, %r]; import run; "
        "sys.exit(run.main(sys.argv[1:], sizes=%r))" % (HERE, ROOT, TINY[workload])
    )
    proc = subprocess.run(
        [sys.executable, "-c", code, "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # The run ends its JVM and waits for it: none outlives the run.
    assert not {p for p in _java_pids() - before if workloads.alive(p)}
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(TINY))
def test_smoke_run_prints_every_declared_metric(workload):
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = _run(workload, trace)
        assert sorted(res) == ["attempted", "correct", "failed", "metrics"]
        assert sorted(res["metrics"]) == sorted(m["name"] for m in SPEC[key])
        assert res["attempted"] >= 1 and res["failed"] == 0 and res["correct"]
        for m in SPEC[key]:
            assert res["metrics"][m["name"]]["unit"] == m["unit"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = subprocess.run(
        [*SPEC["command"], "--workload", "batch", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
