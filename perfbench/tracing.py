"""Spans and Spark counters for the traced run.

Spans (name, start, end, parent, run id) are kept in memory and written
once when the run ends.  A span opened with a job group tags every Spark
job the wrapped call submits; its counters come from the status tracker
and the application status store, which Spark keeps with
``spark.ui.enabled=false`` too.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

MB = 1024 * 1024
#: Counters read per job group; see :meth:`Tracer.group_counters`.
GROUP_COUNTERS = ("jobs", "busy_s", "executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")


class Tracer:
    """Records spans, and Spark counters for spans that own a job group,
    when ``enabled``.  Disabled, a span only times its block and, when it
    owns a job group, counts the group's jobs (one cheap status-tracker
    call), so untraced runs still see how many jobs each step ran."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = 0
        #: Seconds spent reading counters for traced spans: the tracing
        #: overhead on the timed thread.
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, group: bool = False):
        """Time the block; with ``group``, run it under a fresh job group
        and attach the group's job count (and, traced, its counters)."""
        rec: dict = {"name": name, "run": self.run_id}
        sc = self.spark.sparkContext
        if self.enabled:
            rec["parent"] = self._stack[-1] if self._stack else None
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            self._stack.append(rec["id"])
        gid = None
        if group:
            self._groups += 1
            gid = f"{self.run_id}-{self._groups}"
            sc.setJobGroup(gid, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["dur"] = rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()
            if gid is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                # Status-store updates arrive through the listener bus.
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                if self.enabled:
                    t0 = time.perf_counter()
                    rec.update(self.group_counters(gid))
                    self.overhead_s += time.perf_counter() - t0
                    rec["driver_s"] = max(0.0, rec["dur"] - rec["busy_s"])
                else:
                    rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(gid))

    def group_counters(self, group: str) -> dict:
        """Jobs of ``group``, the wall time during which any of them ran
        (``busy_s``), and executor CPU, GC, shuffle-write and spill
        totals over their stages."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        store = jsc.statusStore()
        jvm = sc._jvm
        job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
        out = dict.fromkeys(GROUP_COUNTERS, 0.0)
        out["jobs"] = len(job_ids)
        intervals = []
        for jid in job_ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                stages = store.stageData(
                    stage_ids.apply(i), False, jvm.java.util.ArrayList(), False, None
                )
                for k in range(stages.size()):
                    st = stages.apply(k)
                    out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    out["gc_s"] += st.jvmGcTime() / 1e3
                    out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                    out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        out["busy_s"] = union_length(intervals)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, default=str) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def tail_rank(n: int) -> tuple[int, float]:
    """The tail statistic for ``n`` samples: the highest percentile that
    leaves at least 10 samples above it.  Returns the 0-based index into
    the ascending sort and that percentile; ``n`` must exceed 10."""
    if n <= 10:
        raise ValueError(f"a tail with 10 samples beyond it needs more than 10 samples, got {n}")
    idx = n - 11
    return idx, 100.0 * (idx + 1) / n


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below
    it (the JVM, its Python workers, and what they have reaped)."""
    total = 0
    for pid in {os.getpid(), *descendants(os.getpid())}:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class HostClock:
    """The machine's CPU tick counters (``/proc/stat``) since creation:
    :meth:`steal_share` is the share of CPU time the hypervisor gave to
    other guests, which stretches wall times but not CPU times."""

    def __init__(self):
        self.start = self._ticks()

    @staticmethod
    def _ticks() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]

    def steal_share(self) -> float:
        d = [b - a for a, b in zip(self.start, self._ticks())]
        return d[7] / max(1, sum(d))


class StreamProgress:
    """``StreamingQueryListener`` that keeps every progress event of the
    benchmark's queries.  Listener events arrive asynchronously, so
    :meth:`wait_for` blocks until a query's batches have all been seen.
    ``handler_s`` is the time spent in its handler: the listener runs
    only in traced runs, so this is tracing overhead."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress = []
        cond = self._cond = threading.Condition()
        self.handler_s = 0.0
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                t0 = time.perf_counter()
                with cond:
                    progress.append(json.loads(event.progress.json))
                    outer.handler_s += time.perf_counter() - t0
                    cond.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def wait_for(self, run_id: str, batch_ids: set[int], timeout: float = 10.0) -> list[dict]:
        deadline = time.time() + timeout
        with self._cond:
            while True:
                got = [p for p in self.progress if p["runId"] == run_id]
                if {p["batchId"] for p in got} >= batch_ids or time.time() > deadline:
                    return got
                self._cond.wait(0.05)
