"""Measurement helpers: sample statistics, Spark status-store counters,
on-disk table sizes and the in-memory span tracer.

All counters are read from outside the package: Spark's own status
store (executor totals, job and stage data), ``/proc/<jvm>/io`` through
``benchmetrics.JvmIOMeter``, and file sizes under the index root.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

MB = 1 << 20


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; with ten samples or fewer no percentile has, and
    the maximum is reported (percentile 100)."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return float(s[-1]), 100.0
    return float(s[n - 11]), round(100.0 * (n - 10) / n, 1)


class SparkCounters:
    """Engine counters of the local session, from Spark's status store.

    Job and stage ids are sequential, so a span's jobs are the difference
    of the highest job id on each side, and its stages are the ids
    between the highest stage id on each side.  Tasks come from the
    executor totals (``executorList(true)``); task run time, GC time,
    shuffle bytes and spill exist per stage and are summed over a span's
    stages only when asked, one ``lastStageAttempt`` py4j call each."""

    STAGE_KEYS = ("task_ms", "gc_ms", "shuffle_write", "shuffle_read", "spill")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def snapshot(self) -> dict:
        ex = self.store.executorList(True)
        tasks = sum(ex.apply(i).totalTasks() for i in range(ex.size()))
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(None)
        info = tracker.getJobInfo(max(jobs)) if jobs else None
        return {
            "jobs": max(jobs, default=-1) + 1,
            "tasks": tasks,
            "stage_hi": max(info.stageIds, default=-1) if info else -1,
        }

    def stage_totals(self, lo: int, hi: int) -> dict:
        """Sums over the stages with ``lo < id <= hi``."""
        from py4j.protocol import Py4JJavaError

        tot = dict.fromkeys(self.STAGE_KEYS, 0)
        for sid in range(lo + 1, hi + 1):
            try:
                s = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store's retention
                continue
            tot["task_ms"] += s.executorRunTime()
            tot["gc_ms"] += s.jvmGcTime()
            tot["shuffle_write"] += s.shuffleWriteBytes()
            tot["shuffle_read"] += s.shuffleReadBytes()
            tot["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return tot


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; hidden and _SUCCESS files
    are bookkeeping, not table data."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def file_sizes(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def written_bytes(before: dict[str, int], root: str) -> int:
    """Bytes of files under ``root`` that are new or changed size since
    the ``file_sizes`` snapshot ``before``."""
    return sum(
        s for p, s in file_sizes(root).items() if before.get(p) != s
        and not os.path.basename(p).startswith((".", "_"))
    )


def catalog_footprint(root: str) -> dict:
    """Files and bytes of the tables published under an index root
    (generation pointers resolved), and bytes under the root that no
    published table references (stale generations)."""
    from invertedindexbuilder_spark.catalog import resolve_table_path

    names = ("docs", "index", "index_chunks", "stats", "deleted_docs")
    live = {os.path.realpath(resolve_table_path(root, n)) for n in names}
    files = size = stale = 0
    for name in os.listdir(root):
        p = os.path.realpath(os.path.join(root, name))
        if not os.path.isdir(p):
            continue
        f, s = dir_bytes(p)
        if p in live:
            files += f
            size += s
        else:
            stale += s
    return {"files": files, "bytes": size, "stale_bytes": stale}


def steal_s() -> float:
    """Seconds the host ran other guests on this machine's CPUs, summed
    over CPUs (the ``steal`` column of /proc/stat).  A sample whose wall
    time rose with it was slowed by the host, not by the program."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class Tracer:
    """Timed operations, and in a traced run the spans around them.

    Every ``span`` yields a record that ends up holding its wall time
    ``s``, the JVM's read bytes ``rchar`` and the host's ``steal`` over
    the interval (``/proc`` reads on each side), which the end-to-end
    metrics and the diagnostics need in every run.  Enabled, the record is also kept in memory as a span
    (name, start, end, parent id) with the Spark counter deltas over
    its interval (``stages=True`` adds the per-stage sums); the time
    spent taking those snapshots accumulates as the tracer's own
    overhead.  ``dump`` writes the spans out once, at the end of the
    run."""

    def __init__(self, enabled: bool, spark, io) -> None:
        self.enabled = enabled
        self.counters = SparkCounters(spark) if enabled else None
        self.io = io
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0
        self.t_start = time.perf_counter()

    def _counters(self) -> dict:
        t = time.perf_counter()
        s = self.counters.snapshot()
        self.overhead_s += time.perf_counter() - t
        return s

    @contextmanager
    def span(self, name: str, stages: bool = False, **attrs):
        rec: dict = {"name": name, **attrs}
        if self.enabled:
            rec["id"] = len(self.spans)
            rec["parent"] = self._stack[-1] if self._stack else None
            self.spans.append(rec)
            self._stack.append(rec["id"])
            before = self._counters()
        rchar0 = self.io.snapshot()["rchar"]
        steal0 = steal_s()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["s"] = t1 - t0
            rec["rchar"] = self.io.snapshot()["rchar"] - rchar0
            rec["steal"] = steal_s() - steal0
            if self.enabled:
                rec["t0"] = t0 - self.t_start
                rec["t1"] = t1 - self.t_start
                after = self._counters()
                d = {k: after[k] - before[k] for k in after}
                d["stages"] = d.pop("stage_hi")
                if stages:
                    t = time.perf_counter()
                    d.update(self.counters.stage_totals(before["stage_hi"],
                                                        after["stage_hi"]))
                    self.overhead_s += time.perf_counter() - t
                rec["counters"] = d
                self._stack.pop()

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"overhead_s": self.overhead_s, "spans": self.spans}, f)
