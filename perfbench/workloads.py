"""The benchmark workloads and the run state they share.

Why these two (README.md has sizes and metric definitions):

* ``batch`` — one pass of the offline feature path (aggregates, windows,
  as-of joins, drift, the offline store chain), bound by executor scans,
  shuffles and windows, followed by the LLM-data operators (MinHash/LSH
  dedup, embedding similarity, BM25), bound by the driver and
  job count.  No streaming, snapshot reads or online lookups.
* ``online_refresh`` — one client alternating writes and reads: stream
  ingest into the online snapshot, export to a KV stand-in, point
  lookups.  Fixed per-call cost dominates; no batch operator runs.

Each workload is the other's bypass: a change to one layer should move
one of them and leave the other unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa

import gen
from tracing import (
    GROUP_COUNTERS,
    HostClock,
    StreamProgress,
    Tracer,
    descendants,
    peak_rss_mb,
    tail_rank,
    tree_cpu_s,
)

OFFLINE_STEPS = (
    "user_hourly_features",
    "user_rolling_7d_features",
    "pit_asof_join",
    "event_customer_enrichment",
    "drift_ks_click_vs_view",
)
LLM_STEPS = ("dedup_minhash_lsh", "semantic_dedup", "bm25_search_topk")
OPERATOR_LAYERS = (
    "feature_agg", "projection", "asof", "relational", "drift", "dedup", "similarity", "text",
)
STORE_STEPS = ("write_offline", "materialize", "get_historical_features")
LOOKUP_SIZES = (1, 10, 100, 1000)

#: Input sizes per workload: sf0.1 key domains and half its event
#: count, sf0.01 corpus sizes, 10k-event hours over 10k users.  They are
#: set by the run-time budget: every run pays about 20 s of session start
#: and first-query compilation before it measures anything.
SIZES = {
    "batch": {
        "events": 50_000, "users": 1_500, "days": 30, "entities": 5_000,
        "docs": 500, "vectors": 200, "dim": 64,
    },
    "online_refresh": {
        "hour_events": 10_000, "users": 10_000, "late_share": 0.02, "setup_hours": 2,
        "lookup_rounds": 1, "absent_share": 0.1, "cycle_s": 10,
    },
}
#: A pass whose job count for a step falls below this share of the
#: step's first-pass count was served from a session memo.
MEMO_HIT_SHARE = 0.5


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    traced: bool
    scratch: str
    t_process: float
    sizes: dict
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def __post_init__(self):
        # Everything the engine writes to tempfile.gettempdir() (stream
        # checkpoints, staged sources, index files) lands in the scratch
        # dir and is removed with it.
        import tempfile

        tmp = os.path.join(self.scratch, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.scratch, "spark-local")
        # No hsperfdata files under /tmp: every JVM keeps to the checkout.
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        )
        # Spark's collect() turns timestamps into Python datetimes in the
        # process's zone; the engine's session zone is UTC.
        os.environ["TZ"] = "UTC"
        time.tzset()
        self.spark = None
        self.tracer = None

    def start_session(self) -> float:
        """Start the engine's session; returns seconds spent in ``get_spark``."""
        from ml_feature_store_enterprise_grade_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=os.cpu_count() or 4)
        dt = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, f"{self.workload}-s{self.seed}", self.traced)
        return dt

    def rng(self, *stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *stream])

    def op(self, name: str, err: str | None) -> None:
        """Count one checked operation; ``err`` marks it failed."""
        self.attempted += 1
        if err is not None:
            self.failed += 1
            self.errors.append(f"{name}: {err}")

    def pids(self) -> list[int]:
        jvm = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return [os.getpid(), int(jvm)]

    def close(self) -> None:
        """Stop Spark, end its JVM and wait until every process this run
        started has exited.  Left to itself the JVM notices only after
        this process has exited that its parent is gone, and outlives it."""
        from pyspark import SparkContext

        started = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            proc.stdin.close()  # the gateway exits on end of input
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        wait_gone(started | descendants(os.getpid()))


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: set[int], timeout: float = 30.0) -> None:
    """Wait until none of ``pids`` is running; kill what is left after
    ``timeout`` seconds and wait for that too."""
    pids = set(pids)
    for last in (False, True):
        deadline = time.time() + timeout
        while pids and time.time() < deadline:
            for pid in [p for p in pids if not alive(p)]:
                pids.discard(pid)
                try:  # reap it if it is our own child
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            if pids:
                time.sleep(0.05)
        if not pids or last:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# -- shared step machinery ----------------------------------------------


def layer_of(fn) -> str:
    """``operators.dedup`` for a function defined in the engine's
    ``operators/dedup.py``."""
    return fn.__module__.split(".", 1)[1]


def run_step(run: Run, layer: str, name: str, call, out_dir: str | None) -> dict:
    """Time ``call()`` (query planning plus any eager jobs) and, when
    ``out_dir`` is given, the parquet write of the frame it returns."""
    rec = {"layer": layer, "step": name}
    try:
        with run.tracer.span(f"{layer}.{name}", group=True) as sp:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            df = call()
            t1 = time.perf_counter()
            if out_dir is not None:
                df.write.mode("overwrite").parquet(out_dir)
            t2, c2 = time.perf_counter(), tree_cpu_s()
    except Exception as e:  # noqa: BLE001 — one failed step must not end the run
        rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        return rec
    rec.update(call_s=t1 - t0, action_s=t2 - t1, wall_s=sp["dur"], cpu_s=c2 - c0)
    rec.update({k: sp[k] for k in (*GROUP_COUNTERS, "driver_s") if k in sp})
    return rec


def memo_check(run: Run, passes: list[list[dict]]) -> None:
    """Fail a step whose job count in a later pass collapsed to the
    memo-hit level against its first pass (fresh inputs every pass)."""
    first = {r["step"]: r.get("jobs", 0) for r in passes[0]}
    for i, recs in enumerate(passes[1:], start=1):
        for r in recs:
            base, jobs = first.get(r["step"], 0), r.get("jobs", 0)
            run.op(
                f"{r['step']}[pass {i}]",
                f"memo hit: {jobs} jobs against {base} in pass 0"
                if jobs < MEMO_HIT_SHARE * base else None,
            )


LAYER_FIELDS = ("call_s", "action_s", "driver_s", "jobs", "executor_cpu_s", "gc_s",
                "shuffle_write_mb", "spill_mb")


def layer_metrics(recs: list[dict]) -> dict[str, float]:
    """Per-layer sums over one traced pass's steps; operator layers the
    pass does not run report 0."""
    acc = {f"operators.{m}.{f}": 0.0 for m in OPERATOR_LAYERS for f in LAYER_FIELDS}
    for r in recs:
        if r["layer"].startswith("operators.") and "error" not in r:
            for f in LAYER_FIELDS:
                acc[f"{r['layer']}.{f}"] += r[f]
    return acc


def pass_schedule(run: Run, pass_fn, min_passes: int) -> list[dict]:
    """Run passes while the next one is expected to fit in
    ``run.seconds`` (at least ``min_passes``), in execution order.  In a
    traced run only the first pass is traced, so its per-layer numbers
    describe the same first-pass-in-a-fresh-process state as an untraced
    run's; the later passes give the per-pass job counts.  Each result
    carries its ``traced`` flag and the tracing overhead in ``trace_s``."""
    results, times = [], []
    t_start = time.perf_counter()
    while len(results) < min_passes or (
        time.perf_counter() - t_start + statistics.median(times) <= run.seconds
    ):
        t0 = time.perf_counter()
        traced = run.traced and not results
        run.tracer.enabled = traced
        o0 = run.tracer.overhead_s
        res = pass_fn(len(results))
        run.tracer.enabled = run.traced
        res["traced"] = traced
        res["trace_s"] = run.tracer.overhead_s - o0
        results.append(res)
        times.append(time.perf_counter() - t0)
    return results


def report(cpu: dict, wall: dict, steal: float) -> None:
    """The end-to-end figures in CPU and in wall time, on standard error."""
    print("perfbench: cpu " + " ".join(f"{k}={v:.3f}" for k, v in cpu.items())
          + " | wall " + " ".join(f"{k}={v:.3f}" for k, v in wall.items())
          + f" | host steal {steal:.3f}", file=sys.stderr, flush=True)


def common_trace_metrics(session_s: float, persisted: list[int], rss: float,
                         wall: dict, steal: float) -> dict:
    """Every per-layer metric at 0 but the session's, the wall times and
    the host's steal share; each workload then fills in the layers it runs."""
    m = layer_metrics([])
    m.update({f"wall.{k}": v for k, v in wall.items()})
    m["host.steal_share"] = steal
    m.update({f"store.{s}_s": 0.0 for s in (*STORE_STEPS, "export_online")})
    m.update({
        "session.get_spark_s": session_s,
        "session.peak_rss_mb": rss,
        "session.persisted_rdds": statistics.median(persisted) if persisted else 0,
        "store.get_online_features_call_ms": 0.0,
        "store.get_online_features_collect_ms": 0.0,
        "store.lookup_jobs": 0.0,
        "store.hit_ratio": 0.0,
        "store.lookup_tail_ms": 0.0,
        "store.lookup_entities_per_s": 0.0,
        "snapshots.files_current": 0.0,
        "snapshots.generations_on_disk": 0.0,
    })
    for k in STREAM_METRICS:
        m[f"streaming.{k}"] = 0.0
    return m


def persisted_rdds(run: Run) -> int:
    return len(run.spark.sparkContext._jsc.getPersistentRDDs())


def overhead_metrics(wall_s: float, trace_s: float) -> dict:
    """The traced pass's wall time and the tracing overhead, as traced
    wall time over traced wall time less the tracing work that fell
    inside it (``trace_s``)."""
    ratio = wall_s / (wall_s - trace_s)
    print(f"perfbench: tracing overhead {ratio:.4f} ({trace_s:.2f}s of {wall_s:.2f}s)",
          file=sys.stderr, flush=True)
    return {"trace.pipeline_s": wall_s, "trace.overhead_ratio": ratio}


#: sf0.1's ``customer`` and ``nation`` tables, copied unchanged.
STATIC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def copy_tree(src: str, dst: str) -> None:
    """Copy the files of ``src`` into ``dst``: the same bytes under a
    fresh path, so path-keyed session memos cannot serve them."""
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))


def duck(in_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with every catalog table staged in ``in_dir``
    registered under its catalog name, as ``testing.duckdb_connection``
    does for a directory that holds all of them (a workload stages only
    the tables its steps read)."""
    from ml_feature_store_enterprise_grade_spark.catalog import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(in_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare(run: Run, con: duckdb.DuckDBPyConnection, name: str, out: str, sql: str) -> str | None:
    """``testing.compare_query`` of the parquet output at ``out`` against
    ``sql``; None when they match, else the reason and first mismatches."""
    from ml_feature_store_enterprise_grade_spark.testing import compare_query

    res = compare_query(name, run.spark.read.parquet(out), sql, con)
    return None if res.ok else "; ".join([res.detail, *res.mismatches])


def query(name: str):
    from ml_feature_store_enterprise_grade_spark import registry

    registry.load_all()
    return registry.any_query(name)


def oracle(name: str) -> str | None:
    from ml_feature_store_enterprise_grade_spark import registry

    registry.load_all()
    return {**registry.oracles(), **registry.DEFERRED_ORACLES}.get(name)


def registry_pass(run: Run, steps, in_dir: str, out_dir: str) -> list[dict]:
    spark = run.spark
    recs = []
    for name in steps:
        fn = query(name)
        recs.append(
            run_step(run, layer_of(fn), name, lambda fn=fn: fn(spark, in_dir),
                     os.path.join(out_dir, name))
        )
    return recs


def check_registry(run: Run, recs: list[dict], in_dir: str, out_dir: str, tag: str) -> None:
    con = duck(in_dir)
    try:
        for r in recs:
            name = r["step"]
            if r["layer"] == "store":
                continue
            label = f"{name}[{tag}]"
            if "error" in r:
                run.op(label, r["error"])
                continue
            run.op(label, compare(run, con, name, os.path.join(out_dir, name), oracle(name)))
    finally:
        con.close()


def step_summary(passes: list[dict]) -> None:
    """Per-step wall time, CPU time and job count of every pass, on
    standard error."""
    for i, p in enumerate(passes):
        steps = " ".join(
            f"{r['step']}={r.get('wall_s', float('nan')):.2f}s"
            f"/{r.get('cpu_s', float('nan')):.2f}cpu/{r.get('jobs', '?')}j"
            for r in p["recs"]
        )
        traced = " (traced)" if p["traced"] else ""
        print(f"perfbench: pass {i}{traced}: {steps}", file=sys.stderr, flush=True)


# -- batch -----------------------------------------------------------------

FEATURES = ("total_events", "click_count", "total_revenue", "click_through_rate")


def _batch_inputs(run: Run, d: str, stream: int) -> None:
    """One pass's inputs: fresh events, entities, documents and
    embeddings, plus copies of the customer and nation tables."""
    sz = run.sizes
    rng = run.rng(1, stream)
    span = sz["days"] * 24 * gen.HOUR_US
    gen.write(gen.events(rng, sz["events"], sz["users"], 0, span), f"{d}/events.parquet")
    ent_ts = gen.EPOCH_US + rng.integers(0, span, size=sz["entities"])
    gen.write(
        pa.table({
            "user_id": pa.array(gen.zipf_keys(rng, sz["entities"], sz["users"])),
            "event_timestamp": gen.ts_array(ent_ts),
        }),
        f"{d}/entities.parquet",
    )
    gen.write(gen.documents(rng, sz["docs"]), f"{d}/documents.parquet")
    gen.write(gen.embeddings(rng, sz["vectors"], sz["dim"]), f"{d}/embeddings.parquet")
    copy_tree(STATIC, d)


def _store_chain(run: Run, in_dir: str, out_dir: str) -> list[dict]:
    from datetime import timedelta

    from ml_feature_store_enterprise_grade_spark.catalog import load_table, normalize_ts
    from ml_feature_store_enterprise_grade_spark.operators.feature_agg import hourly_features
    from ml_feature_store_enterprise_grade_spark.store import Entity, FeatureStore, FeatureView

    spark = run.spark
    fs = FeatureStore(spark, os.path.join(out_dir, "store"))
    user = Entity("user", join_key="user_id", value_type="bigint")
    fs.apply([user, FeatureView("user_hourly", user, FEATURES, ttl=timedelta(hours=24))])
    entities = normalize_ts(spark.read.parquet(f"{in_dir}/entities.parquet"), ["event_timestamp"])
    refs = [f"user_hourly:{f}" for f in FEATURES]
    return [
        run_step(run, "store", "write_offline", lambda: fs.write_offline(
            "user_hourly", hourly_features(load_table(spark, in_dir, "events"))), None),
        run_step(run, "store", "materialize",
                 lambda: fs.materialize("user_hourly", incremental=False), None),
        run_step(run, "store", "get_historical_features",
                 lambda: fs.get_historical_features(entities, refs),
                 os.path.join(out_dir, "training_set")),
    ]


def _check_store(run: Run, recs: list[dict], in_dir: str, out_dir: str, tag: str) -> None:
    from ml_feature_store_enterprise_grade_spark.snapshots import resolve_snapshot

    hourly = oracle("user_hourly_features")
    cols = ", ".join(f"j.{f} AS user_hourly__{f}" for f in FEATURES)
    con = duck(in_dir)
    try:
        for r in recs:
            if "error" in r:
                run.op(f"{r['step']}[{tag}]", r["error"])
        if any("error" in r for r in recs):
            return
        snap = resolve_snapshot(os.path.join(out_dir, "store", "online", "user_hourly"))
        run.op(f"materialize[{tag}]", "no committed snapshot" if snap is None else compare(
            run, con, "materialize", snap,
            f"SELECT * EXCLUDE (rn) FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id "
            f"ORDER BY feature_timestamp DESC) AS rn FROM ({hourly})) WHERE rn = 1",
        ))
        run.op(f"get_historical_features[{tag}]", compare(
            run, con, "get_historical_features", os.path.join(out_dir, "training_set"),
            f"""
            WITH h AS ({hourly}),
            e AS (SELECT * FROM read_parquet('{in_dir}/entities.parquet')),
            j AS (
                SELECT l.user_id, l.event_timestamp, {", ".join(f"h.{f}" for f in FEATURES)},
                       ROW_NUMBER() OVER (PARTITION BY l.user_id, l.event_timestamp
                                          ORDER BY h.feature_timestamp DESC NULLS LAST) AS rn
                FROM (SELECT DISTINCT user_id, event_timestamp FROM e) l
                LEFT JOIN h ON h.user_id = l.user_id
                 AND h.feature_timestamp <= l.event_timestamp
                 AND h.feature_timestamp > l.event_timestamp - INTERVAL 24 HOURS
            )
            SELECT e.user_id, e.event_timestamp, {cols}
            FROM e LEFT JOIN j ON j.rn = 1 AND j.user_id = e.user_id
                               AND j.event_timestamp = e.event_timestamp
            """,
        ))
    finally:
        con.close()


def batch(run: Run) -> dict:
    """One pass: the offline registry queries, the offline store chain
    ``write_offline`` → ``materialize`` → ``get_historical_features``,
    then the LLM-data registry queries."""

    def one_pass(i: int) -> dict:
        d = os.path.join(run.scratch, f"p{i}")
        _batch_inputs(run, f"{d}/in", i + 1)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        recs = registry_pass(run, OFFLINE_STEPS, f"{d}/in", f"{d}/out")
        recs += _store_chain(run, f"{d}/in", f"{d}/out")
        c1, t1 = tree_cpu_s(), time.perf_counter()
        recs += registry_pass(run, LLM_STEPS, f"{d}/in", f"{d}/out")
        c2, t2 = tree_cpu_s(), time.perf_counter()
        return {"recs": recs, "pipeline_s": t2 - t0, "path_s": t1 - t0,
                "pipeline_cpu_s": c2 - c0, "path_cpu_s": c1 - c0,
                "persisted": persisted_rdds(run)}

    # No warm-up: running every step once on tiny inputs costs as long as
    # the pass itself, which the run-time budget cannot pay.  The pass is
    # the first in a fresh JVM, as a scheduled batch job's is.
    session_s = run.start_session()
    setup_cpu_s, setup_wall_s = tree_cpu_s(), time.time() - run.t_process
    host = HostClock()
    passes = pass_schedule(run, one_pass, 2 if run.traced else 1)
    steal = host.steal_share()
    rss = peak_rss_mb(run.pids())  # before the checks allocate
    for i, res in enumerate(passes):
        d = os.path.join(run.scratch, f"p{i}")
        check_registry(run, res["recs"], f"{d}/in", f"{d}/out", f"pass {i}")
        _check_store(run, [r for r in res["recs"] if r["layer"] == "store"],
                     f"{d}/in", f"{d}/out", f"pass {i}")
    step_summary(passes)
    memo_check(run, [p["recs"] for p in passes])
    # The typical step is the geometric mean over the steps, as in TPC-H's
    # power metric: a median over a few unlike steps jumps from one step to
    # another as their costs shift.
    steps = [r for p in passes for r in p["recs"] if "error" not in r]
    wall = {
        "setup_s": setup_wall_s,
        "pipeline_s": statistics.median(p["pipeline_s"] for p in passes),
        "path_s": statistics.median(p["path_s"] for p in passes),
        "op_ms": 1e3 * statistics.geometric_mean(r["wall_s"] for r in steps),
    }
    cpu = {
        "setup_s": setup_cpu_s,
        "pipeline_cpu_s": statistics.median(p["pipeline_cpu_s"] for p in passes),
        "path_cpu_s": statistics.median(p["path_cpu_s"] for p in passes),
        "op_cpu_ms": 1e3 * statistics.geometric_mean(r["cpu_s"] for r in steps),
    }
    report(cpu, wall, steal)
    if not run.traced:
        return cpu
    traced = passes[0]
    m = common_trace_metrics(session_s, [p["persisted"] for p in passes], rss, wall, steal)
    m.update(layer_metrics(traced["recs"]))
    for r in traced["recs"]:
        if r["layer"] == "store" and "error" not in r:
            m[f"store.{r['step']}_s"] = r["wall_s"]
    m.update(overhead_metrics(traced["pipeline_s"], traced["trace_s"]))
    return m


# -- online_refresh --------------------------------------------------------

VIEW = "user_online"
ONLINE_FEATURES = ("total_events", "click_count", "view_count", "total_revenue")
STREAM_METRICS = (
    "start_s", "batches_per_cycle", "trigger_ms", "add_batch_ms", "query_planning_ms",
    "wal_commit_ms", "commit_ms", "upsert_sink_ms", "state_rows_total", "state_memory_mb",
    "state_commit_ms", "rows_dropped_by_watermark",
)
_PHASES = {
    "trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
    "commit_ms": "commitOffsets",
}


def _kv_writer(db: str):
    """Executor-side KV writer for ``export_online``: upserts each batch
    into a SQLite file the benchmark owns (the stand-in for Redis)."""

    def write(batch: list) -> None:
        import json as _json
        import sqlite3

        con = sqlite3.connect(db, timeout=120)
        try:
            con.executemany(
                "INSERT OR REPLACE INTO kv VALUES (?, ?)",
                [(r["user_id"], _json.dumps(r, default=str)) for r in batch],
            )
            con.commit()
        finally:
            con.close()

    return write


class Online:
    """The online loop's state: landing dir, stream checkpoint, feature
    store, KV stand-in and the stream progress seen so far."""

    def __init__(self, run: Run):
        import sqlite3
        from datetime import timedelta

        from ml_feature_store_enterprise_grade_spark.store import Entity, FeatureStore, FeatureView

        self.run = run
        s = run.scratch
        self.staging = os.path.join(s, "staging")
        self.stream_root = os.path.join(s, "stream")
        self.src = os.path.join(self.stream_root, "events.parquet")
        self.ckpt = os.path.join(s, "ckpt")
        self.kv = os.path.join(s, "kv.sqlite")
        os.makedirs(self.src)
        con = sqlite3.connect(self.kv)
        con.execute("PRAGMA journal_mode=WAL")
        con.execute("CREATE TABLE kv (k INTEGER PRIMARY KEY, v TEXT)")
        con.commit()
        con.close()
        self.fs = FeatureStore(run.spark, os.path.join(s, "store"))
        user = Entity("user", join_key="user_id", value_type="bigint")
        self.fs.apply([user, FeatureView(VIEW, user, ONLINE_FEATURES, ttl=None)])
        self.online_path = self.fs._online_path(VIEW)
        self.progress = None
        if run.traced:
            self.progress = StreamProgress()
            run.spark.streams.addListener(self.progress.listener)
        self.refs = [f"{VIEW}:{f}" for f in ONLINE_FEATURES]

    def land(self, hour: int) -> float:
        name = f"hour_{hour:05d}.parquet"
        os.rename(os.path.join(self.staging, name), os.path.join(self.src, name))
        return time.time()

    def ingest(self) -> dict:
        """Run the stream from its checkpoint over every landed file
        (availableNow) into the online snapshot."""
        from ml_feature_store_enterprise_grade_spark.catalog import normalize_ts
        from ml_feature_store_enterprise_grade_spark.streaming.clickstream import (
            events_raw_schema,
            online_upsert_sink,
            scoped_confs,
            stream_state_confs,
            windowed_features,
        )

        spark = self.run.spark
        upsert = online_upsert_sink(self.online_path)
        sink_ms = []

        def sink(batch_df, batch_id):
            t0 = time.perf_counter()
            upsert(batch_df, batch_id)
            sink_ms.append(1e3 * (time.perf_counter() - t0))

        raw = spark.readStream.schema(events_raw_schema(spark, self.src)).parquet(self.src)
        feats = windowed_features(normalize_ts(raw, ["ts"])).drop("window_start")
        with scoped_confs(spark, stream_state_confs(spark, self.stream_root)):
            t0 = time.perf_counter()
            q = (
                feats.writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .start()
            )
            start_s = time.perf_counter() - t0
            q.awaitTermination()
        recent = [json.loads(p.json) for p in q.recentProgress]
        return {"start_s": start_s, "run_id": str(q.runId), "recent": recent, "sink_ms": sink_ms}

    def export(self) -> None:
        self.fs.export_online(VIEW, _kv_writer(self.kv), batch_size=1000)

    def lookup(self, keys: list[int]) -> tuple[list, float, float, float]:
        """Rows for ``keys``, the call and collect wall times, and the CPU
        time of the whole lookup."""
        from ml_feature_store_enterprise_grade_spark.catalog import local_rows

        c0, t0 = tree_cpu_s(), time.perf_counter()
        ent = local_rows(self.run.spark, [(k,) for k in keys], "user_id bigint")
        df = self.fs.get_online_features(self.refs, ent)
        t1 = time.perf_counter()
        rows = df.collect()
        t2, c2 = time.perf_counter(), tree_cpu_s()
        return rows, t1 - t0, t2 - t1, c2 - c0

    def expected(self) -> dict[int, tuple]:
        """Latest finalized hourly window per user over the landed
        files, from DuckDB: the value a fresh lookup must return."""
        con = duckdb.connect()
        try:
            rows = con.execute(
                f"""
                WITH ev AS (SELECT * FROM read_parquet('{self.src}/*.parquet')),
                f AS (
                    SELECT user_id, date_trunc('hour', ts) + INTERVAL 1 HOUR AS feature_timestamp,
                           COUNT(*) AS total_events,
                           COUNT(*) FILTER (WHERE event_type = 'click') AS click_count,
                           COUNT(*) FILTER (WHERE event_type = 'view') AS view_count,
                           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2)
                               AS total_revenue
                    FROM ev WHERE user_id IS NOT NULL GROUP BY 1, 2
                )
                SELECT user_id, total_events, click_count, view_count, total_revenue
                FROM f
                WHERE feature_timestamp <= (SELECT MAX(ts) - INTERVAL 15 MINUTES FROM ev)
                QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY feature_timestamp DESC) = 1
                """
            ).fetchall()
        finally:
            con.close()
        return {r[0]: _canon(r[1:]) for r in rows}

    def check_kv(self, want: dict[int, tuple]) -> str | None:
        import sqlite3

        con = sqlite3.connect(self.kv)
        try:
            got = {k: json.loads(v) for k, v in con.execute("SELECT k, v FROM kv")}
        finally:
            con.close()
        if set(got) != set(want):
            return f"KV holds {len(got)} users, expected {len(want)}"
        bad = sum(_canon(tuple(got[k][f] for f in ONLINE_FEATURES)) != want[k] for k in want)
        return f"{bad} stale KV values" if bad else None

    def snapshot_files(self) -> tuple[int, int]:
        from ml_feature_store_enterprise_grade_spark.snapshots import resolve_snapshot

        cur = resolve_snapshot(self.online_path)
        files = sum(
            1 for _, _, fs in os.walk(cur) for f in fs if f.endswith(".parquet")
        ) if cur else 0
        gens = sum(1 for d in os.listdir(self.online_path) if d.startswith("v="))
        return files, gens


def _canon(vals) -> tuple:
    return tuple(None if v is None else round(float(v), 6) for v in vals)


def _check_lookup(keys: list[int], rows: list, want: dict[int, tuple]) -> tuple[str | None, int]:
    cols = [f"{VIEW}__{f}" for f in ONLINE_FEATURES]
    if len(rows) != len(keys):
        return f"{len(rows)} rows for {len(keys)} entities", 0
    if sorted(r["user_id"] for r in rows) != sorted(keys):
        return "returned entities differ from requested", 0
    bad = hits = 0
    for r in rows:
        got = _canon(tuple(r[c] for c in cols))
        exp = want.get(r["user_id"], (None,) * len(cols))
        hits += got[0] is not None
        bad += got != exp
    return (f"{bad} of {len(rows)} rows stale or wrong" if bad else None), hits


def _stream_stats(ingest: dict, listened: list[dict]) -> dict:
    batches = listened or ingest["recent"]
    st = [b["stateOperators"][0] for b in batches if b.get("stateOperators")]
    out = {k: float(sum(b["durationMs"].get(v, 0) for b in batches)) for k, v in _PHASES.items()}
    out.update(
        start_s=ingest["start_s"],
        batches_per_cycle=float(len(batches)),
        upsert_sink_ms=float(sum(ingest["sink_ms"])),
        state_rows_total=float(st[-1]["numRowsTotal"]) if st else 0.0,
        state_memory_mb=st[-1]["memoryUsedBytes"] / (1024 * 1024) if st else 0.0,
        state_commit_ms=float(sum(s.get("commitTimeMs", 0) for s in st)),
        rows_dropped_by_watermark=float(sum(s.get("numRowsDroppedByWatermark", 0) for s in st)),
    )
    return out


def online_refresh(run: Run) -> dict:
    """Closed loop, one client: land an event-hour file, ingest it from
    the stream checkpoint into the online snapshot, export the snapshot
    to the KV stand-in, then serve a fixed set of lookups.  The first
    cycle in a fresh JVM costs about half as much again as later ones;
    the medians over three or more cycles leave it out."""
    sz = run.sizes
    t_gen0, c_gen0 = time.perf_counter(), time.process_time()
    cycles = max(3, run.seconds // sz["cycle_s"])
    hours = sz["setup_hours"] + cycles
    staging = os.path.join(run.scratch, "staging")
    for h in range(hours):
        gen.write(
            gen.hour_file(run.rng(3, h), h, sz["hour_events"], sz["users"], sz["late_share"]),
            os.path.join(staging, f"hour_{h:05d}.parquet"),
        )
    plans = []
    for c in range(cycles):
        rng = run.rng(4, c)
        plan = []
        for _ in range(sz["lookup_rounds"]):
            for b in LOOKUP_SIZES:
                keys = gen.zipf_keys(rng, b, sz["users"])
                absent = rng.random(b) < sz["absent_share"]
                keys[absent] = sz["users"] + rng.integers(0, sz["users"], size=int(absent.sum()))
                plan.append([int(k) for k in keys])
        plans.append(plan)
    t_gen, c_gen = time.perf_counter() - t_gen0, time.process_time() - c_gen0

    session_s = run.start_session()
    t0 = time.perf_counter()
    ol = Online(run)
    for h in range(sz["setup_hours"]):
        ol.land(h)
    first = ol.ingest()
    t1 = time.perf_counter()
    ol.export()
    t2 = time.perf_counter()
    ol.lookup(plans[0][0])
    setup_cpu_s = tree_cpu_s() - c_gen
    setup_wall_s = time.time() - run.t_process - t_gen
    print(f"perfbench: setup: session {session_s:.2f}s, ingest {t1 - t0:.2f}s, "
          f"export {t2 - t1:.2f}s, warm-up lookup {time.perf_counter() - t2:.2f}s",
          file=sys.stderr, flush=True)
    run.op("setup_ingest", _dropped_err(_stream_stats(first, [])))

    def cycle(c: int, traced: bool) -> dict:
        run.tracer.enabled = traced
        listener0 = ol.progress.handler_s if ol.progress else 0.0
        t_land = ol.land(sz["setup_hours"] + c)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with run.tracer.span("streaming.ingest"):
            ing = ol.ingest()
        t1 = time.perf_counter()
        with run.tracer.span("store.export_online"):
            ol.export()
        t2, c2 = time.perf_counter(), tree_cpu_s()
        fresh = time.time() - t_land
        want = ol.expected()
        run.op(f"export[cycle {c}]", ol.check_kv(want))
        lat, lat_cpu, call_ms, collect_ms, jobs, served, hits = [], [], [], [], [], 0, 0
        for keys in plans[c]:
            with run.tracer.span("store.get_online_features", group=traced) as sp:
                rows, t_call, t_collect, cpu_s = ol.lookup(keys)
            lat.append(1e3 * (t_call + t_collect))
            lat_cpu.append(1e3 * cpu_s)
            call_ms.append(1e3 * t_call)
            collect_ms.append(1e3 * t_collect)
            jobs.append(sp.get("jobs", 0))
            err, h = _check_lookup(keys, rows, want)
            run.op(f"lookup[cycle {c}, {len(keys)} keys]", err)
            served += len(keys)
            hits += h
        listened = (
            ol.progress.wait_for(ing["run_id"], {p["batchId"] for p in ing["recent"]})
            if traced else []
        )
        # The cycle times ingest, export and each lookup inside lookup();
        # the lookup spans read their counters outside that, so the only
        # tracing work inside the cycle is the progress listener's.
        listener_s = ol.progress.handler_s - listener0 if ol.progress else 0.0
        stats = _stream_stats(ing, listened)
        run.op(f"watermark[cycle {c}]", _dropped_err(stats))
        files, gens = ol.snapshot_files()
        return {
            "traced": traced, "cycle_s": (t2 - t0) + sum(lat) / 1e3, "fresh_s": fresh,
            "refresh_cpu_s": c2 - c0, "cycle_cpu_s": (c2 - c0) + sum(lat_cpu) / 1e3,
            "lat_cpu": lat_cpu,
            "export_s": t2 - t1, "lat": lat, "call_ms": call_ms, "collect_ms": collect_ms,
            "jobs": jobs, "served": served, "hits": hits, "stream": stats,
            "files": files, "gens": gens, "persisted": persisted_rdds(run),
            "trace_s": listener_s,
        }

    host = HostClock()
    results = [cycle(c, run.traced and c == 0) for c in range(cycles)]
    for c, r in enumerate(results):
        print(f"perfbench: cycle {c}{' (traced)' if r['traced'] else ''}: "
              f"refresh {r['fresh_s']:.2f}s/{r['refresh_cpu_s']:.2f}cpu, lookups "
              + " ".join(f"{w:.0f}/{u:.0f}" for w, u in zip(r["lat"], r["lat_cpu"]))
              + " ms/cpu-ms", file=sys.stderr, flush=True)
    run.tracer.enabled = run.traced
    steal = host.steal_share()
    wall = {
        "setup_s": setup_wall_s,
        "pipeline_s": statistics.median(r["cycle_s"] for r in results),
        "path_s": statistics.median(r["fresh_s"] for r in results),
        "op_ms": statistics.median(x for r in results for x in r["lat"]),
    }
    cpu = {
        "setup_s": setup_cpu_s,
        "pipeline_cpu_s": statistics.median(r["cycle_cpu_s"] for r in results),
        "path_cpu_s": statistics.median(r["refresh_cpu_s"] for r in results),
        "op_cpu_ms": statistics.median(x for r in results for x in r["lat_cpu"]),
    }
    report(cpu, wall, steal)
    if not run.traced:
        return cpu
    # Lookups are spanned in every cycle; their latencies come from all
    # of them, the per-lookup job counts and stream phases from cycle 0.
    tr = results[0]
    m = common_trace_metrics(session_s, [r["persisted"] for r in results],
                             peak_rss_mb(run.pids()), wall, steal)
    lat = sorted(x for r in results for x in r["lat"])
    idx, pct = tail_rank(len(lat))
    print(f"perfbench: lookup tail = p{pct:.1f} of {len(lat)} lookups",
          file=sys.stderr, flush=True)
    m.update({
        "store.export_online_s": statistics.median(r["export_s"] for r in results),
        "store.get_online_features_call_ms": statistics.median(
            x for r in results for x in r["call_ms"]),
        "store.get_online_features_collect_ms": statistics.median(
            x for r in results for x in r["collect_ms"]),
        "store.lookup_jobs": statistics.mean(tr["jobs"]),
        "store.hit_ratio": sum(r["hits"] for r in results) / sum(r["served"] for r in results),
        "store.lookup_tail_ms": lat[idx],
        "store.lookup_entities_per_s": sum(r["served"] for r in results) / (sum(lat) / 1e3),
        "snapshots.files_current": statistics.median(r["files"] for r in results),
        "snapshots.generations_on_disk": statistics.median(r["gens"] for r in results),
    })
    m.update({f"streaming.{k}": tr["stream"][k] for k in STREAM_METRICS})
    m.update(overhead_metrics(tr["cycle_s"], tr["trace_s"]))
    return m


def _dropped_err(stats: dict) -> str | None:
    n = stats["rows_dropped_by_watermark"]
    return f"{int(n)} rows dropped by the watermark" if n else None


WORKLOADS = {"batch": batch, "online_refresh": online_refresh}
