"""Per-layer numbers for the traced run (``--trace 1``).

Most come from the spans the workload already recorded around its calls
into the package.  What no workload call isolates is measured here by a
probe: the layer's public function called on its own from outside the
package and forced (``count()`` or a driver-side loop), after the
measured window, so the probes never perturb the workload's timings.
Every traced run prints the same metric set, whichever workload ran;
a layer the workload does not use is probed on the workload's inputs.
"""

from __future__ import annotations

import os
import shutil
import time

from meters import (
    MB,
    catalog_footprint,
    dir_bytes,
    file_sizes,
    median,
    tail,
    written_bytes,
)

from inputs import CLASSES, K


def _med(spans, key):
    return median([key(s) for s in spans])


def build_layer(run, out: dict) -> None:
    """plans.build: phase walls from the manifest the build returned and
    the Spark status-store deltas over the build call."""
    spans = run.tracer.find("build")
    cores = run.diag["cores"]
    c = lambda s, k: s["counters"][k]  # noqa: E731
    out["build.docs_phase_s"] = _med(spans, lambda s: s["phases"]["docs"])
    out["build.index_phase_s"] = _med(spans, lambda s: s["phases"]["index"])
    out["build.stats_phase_s"] = _med(spans, lambda s: s["phases"]["stats"])
    out["build.spark_jobs"] = _med(spans, lambda s: c(s, "jobs"))
    out["build.spark_tasks"] = _med(spans, lambda s: c(s, "tasks"))
    out["build.shuffle_write_mb"] = _med(spans, lambda s: c(s, "shuffle_write") / MB)
    out["build.shuffle_read_mb"] = _med(spans, lambda s: c(s, "shuffle_read") / MB)
    out["build.spill_mb"] = _med(spans, lambda s: c(s, "spill") / MB)
    out["build.task_busy_s"] = _med(spans, lambda s: c(s, "task_ms") / 1e3)
    out["build.gc_s"] = _med(spans, lambda s: c(s, "gc_ms") / 1e3)
    out["build.core_busy_frac"] = _med(
        spans, lambda s: c(s, "task_ms") / 1e3 / (s["s"] * cores))


def source_layers(run, out: dict) -> None:
    """operators.docids, operators.postings and operators.index_build,
    each forced on its own over the run's corpus."""
    from pyspark.sql import functions as F

    from invertedindexbuilder_spark.operators.index_build import (
        encode_chunks,
        resolve_salting,
    )
    from invertedindexbuilder_spark.operators.postings import build_postings
    from invertedindexbuilder_spark.plans.build import prepare_docs

    spark = run.spark
    src = spark.read.parquet(run.inputs["corpus"])
    with run.tracer.span("probe.docids") as s:
        prepare_docs(src).count()
    out["docids.s"] = s["s"]

    docs_tok = src.select(
        F.monotonically_increasing_id().alias("doc_id"), "content")
    with run.tracer.span("probe.postings") as s:
        rows = build_postings(docs_tok).count()
    out["postings.tokenize_s"] = s["s"]
    out["postings.rows"] = rows
    out["postings.rchar_mb"] = s["rchar"] / MB

    path = os.path.join(run.work, "probe_postings")
    build_postings(docs_tok).write.parquet(path)
    postings = spark.read.parquet(path)
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    threshold, chunk_blocks, heavy = resolve_salting(postings, par, None, None)
    with run.tracer.span("probe.encode") as s:
        chunk_rows = encode_chunks(postings, salt_threshold=threshold,
                                   chunk_blocks=chunk_blocks,
                                   heavy=heavy).count()
    out["index_build.encode_s"] = s["s"]
    out["index_build.chunk_rows"] = chunk_rows


def catalog_layer(run, out: dict) -> None:
    fp = catalog_footprint(run.index_root)
    out["catalog.index_files"] = fp["files"]
    out["catalog.index_mb"] = fp["bytes"] / MB
    out["catalog.stale_mb"] = fp["stale_bytes"] / MB


def query_layer(run, out: dict) -> None:
    """operators.query_exec on the chunked surface, per query class:
    whole-query counters from the workload's spans; lookup and decode
    forced separately on the first timed query of each class, whose own
    span gives the whole-query time the score (self) time is left from.  A
    workload that ran no chunked query runs those first queries here."""
    from invertedindexbuilder_spark.operators.query_exec import (
        decode_matched_rows,
        lookup_chunk_rows,
        tokenize_query,
    )
    from workloads import open_index, spark_query

    ix = open_index(run.spark, run.index_root)

    def timed(cls):
        return [s for s in run.tracer.find("query.chunked")
                if s["cls"] == cls and s["kind"] == "chunked"]

    stream = run.inputs["stream"]
    for cls in CLASSES:
        if not timed(cls):
            spark_query(run, ix, next(q for q in stream if q.cls == cls),
                        "chunked")
        mine = timed(cls)
        q = stream[mine[0]["qid"]]
        terms = tokenize_query(q.text)
        with run.tracer.span("probe.lookup", cls=cls) as s:
            matched = lookup_chunk_rows(ix["chunks"], terms).persist()
            matched.count()
        with run.tracer.span("probe.decode", cls=cls) as d:
            decoded = decode_matched_rows(matched).count()
        matched.unpersist()
        whole = next(s["s"] for s in mine if s["qid"] == q.qid)
        p = f"query.{cls}."
        out[p + "lookup_s"] = s["s"]
        out[p + "spark_jobs"] = _med(mine, lambda s: s["counters"]["jobs"])
        out[p + "spark_tasks"] = _med(mine, lambda s: s["counters"]["tasks"])
        out[p + "decode_s"] = d["s"]
        out[p + "decoded_postings"] = decoded
        out[p + "decode_rchar_mb"] = d["rchar"] / MB
        out[p + "score_s"] = whole - s["s"] - d["s"]


def batch_layer(run, out: dict) -> None:
    """operators.query_batch: the stream prefix as one OR batch over the
    chunk table, checked per query against the driver-local session;
    decoded postings = the batch's distinct keys forced through the
    decoder once, as the batch decodes them."""
    from invertedindexbuilder_spark.operators.local_query import (
        LocalIndex,
        topk_local,
    )
    from invertedindexbuilder_spark.operators.query_batch import topk_bm25_batch
    from invertedindexbuilder_spark.operators.query_exec import (
        decode_matched_rows,
        lookup_chunk_rows,
        tokenize_query,
    )
    from workloads import open_index, same_topk

    ix = open_index(run.spark, run.index_root)
    queries = run.inputs["stream"][: run.sizes["batch"]]
    qdf = run.spark.createDataFrame(
        [(q.qid, q.text) for q in queries], "query_id long, text string")
    with run.tracer.span("probe.batch") as s:
        rows = topk_bm25_batch(run.spark, ix["chunks"], ix["docs"], ix["stats"],
                               qdf, mode="or", k=K,
                               exclude_doc_ids=ix["tombstones"]).collect()
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    li = LocalIndex(run.index_root)
    for q in queries:
        run.verify(same_topk(by_q.get(q.qid, []),
                             topk_local(li, q.text, mode="or", k=K)),
                   f"batch q{q.qid} vs local")
    terms = sorted({t for q in queries for t in tokenize_query(q.text)})
    out["batch.qps"] = len(queries) / s["s"]
    out["batch.spark_jobs"] = s["counters"]["jobs"]
    out["batch.decoded_postings"] = decode_matched_rows(
        lookup_chunk_rows(ix["chunks"], terms)).count()


def local_layer(run, out: dict) -> None:
    """operators.local_query: the workload's driver-local latencies (the
    tail as in ``meters.tail``), load time and block pruning over the
    stream.  ``blocks_total`` counts every block of every list a query
    matched, ``blocks_decoded`` the session's own count of blocks it
    decoded; above 1 their ratio means blocks decoded twice."""
    from invertedindexbuilder_spark.operators.local_query import (
        LocalIndex,
        topk_local,
    )
    from invertedindexbuilder_spark.operators.query_exec import tokenize_query

    loads = []
    for _ in range(3):
        t0 = time.perf_counter()
        li = LocalIndex(run.index_root)
        loads.append(time.perf_counter() - t0)
    total = 0
    for q in run.inputs["stream"]:
        topk_local(li, q.text, mode=q.mode, k=K)
        rows = [li.lookup(t) for t in tokenize_query(q.text)]
        lists = {r["term"]: r for r in rows if r is not None}
        total += sum(len(r["block_bytes"]) for r in lists.values())
    local_tail, _ = tail(run.samples["local"])
    out["local.p50_ms"] = 1e3 * median(run.samples["local"])
    out["local.tail_ms"] = 1e3 * local_tail
    out["local.load_s"] = median(loads)
    out["local.blocks_decoded"] = li.blocks_decoded
    out["local.blocks_total"] = total
    out["local.blocks_kept_frac"] = li.blocks_decoded / total


def compress_layer(run, out: dict) -> None:
    """functions.compress: single-thread decode of every chunk payload of
    the index, in the driver."""
    import numpy as np
    import pyarrow.parquet as pq

    from invertedindexbuilder_spark.catalog import resolve_table_path
    from invertedindexbuilder_spark.functions.compress import decode_posting_list

    t = pq.read_table(resolve_table_path(run.index_root, "index_chunks"),
                      columns=["df", "block_bytes", "block_counts", "payload"])
    rows = t.to_pylist()
    t0 = time.perf_counter()
    n = 0
    for r in rows:
        d, _ = decode_posting_list(
            r["payload"], r["df"], np.asarray(r["block_bytes"], np.int64),
            block_counts=np.asarray(r["block_counts"], np.int64))
        n += d.size
    out["compress.decode_mpostings_per_s"] = n / 1e6 / (time.perf_counter() - t0)


def ingest_layer(run, out: dict) -> None:
    """plans.deletes and compact, on a copy of the workload's index:
    compact the delta, tombstone the delete sample, purge; time and
    bytes written of the compaction and the purge.  After the tombstones
    and again after the purge, one query of each class on the chunked
    surface must equal ``topk_local`` over the same root."""
    from invertedindexbuilder_spark.operators.local_query import (
        LocalIndex,
        topk_local,
    )
    from invertedindexbuilder_spark.plans.build import compact
    from invertedindexbuilder_spark.plans.deletes import (
        delete_docs,
        purge_deletes,
    )
    from workloads import open_index, same_topk, spark_query

    root = os.path.join(run.work, "probe_ingest")

    def check(when: str) -> None:
        ix = open_index(run.spark, root)
        li = LocalIndex(root)
        for q in run.inputs["stream"][: len(CLASSES)]:
            run.verify(same_topk(spark_query(run, ix, q, "chunked", "ingest"),
                                 topk_local(li, q.text, mode=q.mode, k=K)),
                       f"ingest {when} q{q.qid} vs local")

    shutil.copytree(run.index_root, root)
    before = file_sizes(root)
    with run.tracer.span("compact") as s:
        compact(run.spark, run.spark.read.parquet(run.inputs["delta"]), root)
    written = written_bytes(before, root)
    out["compact.s"] = s["s"]
    out["compact.written_mb"] = written / MB
    out["compact.write_amp"] = written / dir_bytes(run.inputs["delta"])[1]
    delete_docs(run.spark, root, run.inputs["deletes"])
    check("deleted")
    before = file_sizes(root)
    with run.tracer.span("purge") as s:
        purge_deletes(run.spark, root)
    out["purge.s"] = s["s"]
    out["purge.written_mb"] = written_bytes(before, root) / MB
    out["ingest.index_files"] = catalog_footprint(root)["files"]
    check("purged")


def per_layer(run) -> dict:
    out: dict = {}
    build_layer(run, out)
    query_layer(run, out)
    local_layer(run, out)
    compress_layer(run, out)
    catalog_layer(run, out)
    source_layers(run, out)
    batch_layer(run, out)
    ingest_layer(run, out)
    return out
