"""The benchmark's workloads and the correctness checks around them.

Each workload is one closed loop: a single client issues an operation,
waits for its answer and issues the next, until the run's ``seconds``
are spent and at least a minimum number of operations are done (so
short smoke runs still touch every layer).  The driver-local session
answers the query stream in slices: in ``serve`` one after each Spark
query, so its latencies are sampled across the whole window rather than
in one burst a transient stall could cover; in ``build`` three in
set-up, on the warm-up index.

Answers are checked outside the clock.  ``Run`` collects the timed
samples per operation kind, the number of checked operations and of
failed ones, and diagnostics; ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import os
import time

from meters import catalog_footprint

from inputs import K, SCALES

WARMUP_QUERIES = 3  # untimed chunked queries in serve's set-up, one a class
MIN_BUILDS = 3  # timed builds, at least: a median needs three
MIN_QUERIES = 3  # timed chunked queries, at least: one of each class
LOCAL_PASSES = 9  # local slices the build workload runs in set-up


class Run:
    """State of one benchmark run: session, inputs, tracer, samples."""

    def __init__(self, spark, tracer, work: str, seed: int, scale: str,
                 seconds: int, inject_fault: bool = False) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.sizes = SCALES[scale]
        self.seconds = seconds
        self.inject_fault = inject_fault
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.diag: dict = {}
        self.inputs: dict = {}
        self.index_root = ""
        self.local_pos = 0

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def verify(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)


def same_topk(a, b) -> bool:
    """Same doc ids in the same order, scores within 1e-9 relative."""
    return [d for d, _ in a] == [d for d, _ in b] and all(
        abs(x - y) <= 1e-9 * max(1.0, abs(y)) for (_, x), (_, y) in zip(a, b)
    )


def corrupt(rows):
    """The injected wrong answer of the smoke test: one result dropped."""
    return rows[:-1] if rows else [(0, 1.0)]


def open_index(spark, root: str) -> dict:
    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.plans.build import load_stats
    from invertedindexbuilder_spark.plans.deletes import load_tombstones

    cat = Catalog(spark, root)
    out = {
        "stats": load_stats(spark, root),
        "chunks": cat.read("index_chunks"),
        "docs": cat.read("docs").select("doc_id", "doc_len"),
        "tombstones": load_tombstones(spark, root),
    }
    if cat.exists("index"):
        out["index"] = cat.read("index")
    return out


def spark_query(run: Run, ix: dict, q, surface: str, kind: str = ""):
    """One single-query call on the chunked or merged surface; its wall
    time and JVM read bytes go to the samples ``<kind>`` and
    ``<kind>_rchar`` (``kind`` defaults to the surface)."""
    from invertedindexbuilder_spark.operators.query_exec import (
        topk_bm25,
        topk_bm25_chunked,
    )

    fn, table = (
        (topk_bm25_chunked, ix["chunks"]) if surface == "chunked"
        else (topk_bm25, ix["index"])
    )
    kind = kind or surface
    with run.tracer.span(f"query.{surface}", cls=q.cls, qid=q.qid,
                         kind=kind) as s:
        rows = [(int(r["doc_id"]), float(r["score"])) for r in fn(
            run.spark, table, ix["docs"], ix["stats"], q.text, mode=q.mode,
            k=K, exclude_doc_ids=ix["tombstones"]).collect()]
    run.add(kind, s["s"])
    run.add(kind + "_rchar", s["rchar"])
    run.add(kind + "_steal", s["steal"])
    return rows


def local_slice(run: Run, li, answers: dict) -> None:
    """The next ``local_slice`` queries of the stream (cyclically) on the
    driver-local session.  ``answers`` maps qid -> the first answer seen
    for that query on this index; every later answer must equal it."""
    from invertedindexbuilder_spark.operators.local_query import topk_local

    stream = run.inputs["stream"]
    for _ in range(run.sizes["local_slice"]):
        q = stream[run.local_pos % len(stream)]
        run.local_pos += 1
        t0 = time.perf_counter()
        rows = topk_local(li, q.text, mode=q.mode, k=K)
        run.add("local", time.perf_counter() - t0)
        if q.qid in answers:
            run.verify(same_topk(rows, answers[q.qid]), f"local q{q.qid}")
        else:
            answers[q.qid] = rows


def check_oracle(run: Run, li, queries) -> None:
    """A seeded sample of the stream against the pure-pandas spec oracle
    (tests/oracle_util.py) regenerated at the same seed."""
    from oracle_util import CorpusOracle

    from invertedindexbuilder_spark.operators.local_query import topk_local
    from invertedindexbuilder_spark.operators.query_exec import tokenize_query

    t0 = time.perf_counter()
    oracle = CorpusOracle(run.sizes["docs"], seed=run.seed)
    for q in queries:
        want = oracle.topk(tokenize_query(q.text), q.mode, K)
        got = topk_local(li, q.text, mode=q.mode, k=K)
        if run.inject_fault:
            got = corrupt(got)
        run.verify(same_topk(got, want), f"oracle q{q.qid}")
    run.diag["oracle_check_s"] = time.perf_counter() - t0


def build_index(run: Run, root: str, kind: str, **kw) -> dict:
    """One ``plans.build.build`` of the corpus into ``root``; its wall
    time and JVM read bytes go to the samples ``<kind>`` and
    ``<kind>_rchar``, the index's bytes per posting to
    ``bytes_per_posting``."""
    from invertedindexbuilder_spark.plans.build import build

    with run.tracer.span(kind, stages=True) as s:
        m = build(run.spark, run.spark.read.parquet(run.inputs["corpus"]),
                  root, **kw)
    run.add(kind, s["s"])
    run.add(kind + "_rchar", s["rchar"])
    run.add(kind + "_steal", s["steal"])
    postings = int(m["phases"]["index"]["postings"])
    run.verify(
        int(m["phases"]["docs"]["rows"]) == run.sizes["docs"] and postings > 0,
        "build rows",
    )
    run.add("bytes_per_posting", catalog_footprint(root)["bytes"] / postings)
    s["phases"] = {k: v.get("wall_s") for k, v in m["phases"].items()}
    s["postings"] = postings
    run.index_root = root
    return m


def run_build(run: Run) -> None:
    """``build``: fresh chunk-only builds of the seed corpus, one after
    the other.  Set-up is one untimed build: the first build in a JVM
    pays for JIT and Python worker start-up (about three times a warm
    build).  Its index is checked against the oracle and answers the
    stream on the driver-local session, measured there while no Spark
    job runs.  Every later build must produce the same postings and the
    same local answers.  The first timed build is still some 10 % slow;
    the median of three or more is not."""
    from invertedindexbuilder_spark.operators.local_query import (
        LocalIndex,
        topk_local,
    )

    t_setup = time.perf_counter()
    warm = os.path.join(run.work, "warmup")
    m = build_index(run, warm, "build.warmup", merged=False)
    postings = int(m["phases"]["index"]["postings"])
    run.diag["setup_s"] = time.perf_counter() - t_setup + run.diag["inputs_s"]
    li = LocalIndex(warm)
    check_oracle(run, li, run.inputs["stream"][:6])
    answers: dict[int, list] = {}
    for _ in range(LOCAL_PASSES):
        local_slice(run, li, answers)

    deadline = time.perf_counter() + run.seconds
    builds = 0
    while builds < MIN_BUILDS or time.perf_counter() < deadline:
        root = os.path.join(run.work, f"build{builds}")
        m = build_index(run, root, "build", merged=False)
        run.verify(int(m["phases"]["index"]["postings"]) == postings,
                   "build determinism")
        li = LocalIndex(root)
        for q in run.inputs["stream"][:6]:
            run.verify(same_topk(topk_local(li, q.text, mode=q.mode, k=K),
                                 answers[q.qid]), f"build{builds} q{q.qid}")
        builds += 1
    run.diag["builds"] = builds


def run_serve(run: Run) -> None:
    """``serve``: the stream against an index built in set-up (merged and
    chunk tables), one query at a time on the chunked Spark surface, and
    every fourth query (each class in turn) also on the merged surface;
    every answer is checked against the driver-local session.  Set-up
    ends with the first ``WARMUP_QUERIES`` queries (one of each class)
    on the chunked surface and the first on the merged one, untimed: the
    first queries in a JVM pay for JIT.  The window goes on from there
    in stream order."""
    from invertedindexbuilder_spark.operators.local_query import (
        LocalIndex,
        topk_local,
    )

    t_setup = time.perf_counter()
    root = os.path.join(run.work, "index")
    build_index(run, root, "build", write_chunks=True)
    ix = open_index(run.spark, root)
    li = LocalIndex(root)
    stream = run.inputs["stream"]
    answers: dict[int, list] = {}

    def check(q, rows, surface):
        ref = answers.setdefault(q.qid, topk_local(li, q.text, mode=q.mode, k=K))
        run.verify(same_topk(rows, ref), f"{surface} q{q.qid} vs local")

    for q in stream[:WARMUP_QUERIES]:
        check(q, spark_query(run, ix, q, "chunked", "warmup"), "chunked")
    check(stream[0], spark_query(run, ix, stream[0], "merged", "warmup"),
          "merged")
    run.diag["setup_s"] = time.perf_counter() - t_setup + run.diag["inputs_s"]
    deadline = time.perf_counter() + run.seconds
    i = WARMUP_QUERIES
    while i < WARMUP_QUERIES + MIN_QUERIES or time.perf_counter() < deadline:
        q = stream[i % len(stream)]
        rows = spark_query(run, ix, q, "chunked")
        check(q, corrupt(rows) if run.inject_fault and i == WARMUP_QUERIES
              else rows, "chunked")
        if i % 4 == 0:
            check(q, spark_query(run, ix, q, "merged"), "merged")
        local_slice(run, li, answers)
        i += 1
    run.diag["spark_queries"] = i - WARMUP_QUERIES


WORKLOADS = {"build": run_build, "serve": run_serve}
# the sample kind behind op_p50_s / op_rchar_mb on each workload
PRIMARY_OP = {"build": "build", "serve": "chunked"}
