"""Lexicon semantics and degenerate corpora on every serving surface:
the chunked and merged single-query paths, the batch path over both
tables, and the driver-local session must return the same top-k.

The lexicon fixture holds the cases the key matching encodes: two
stored terms sharing a 14-byte key (D5: the byte-wise last wins), a
duplicated query term (weight 2), a ``strict=False`` lookup, and an
all-unknown query.  The one-doc corpus pins N <= 1: d_avr is ``inf``
(functions/bm25.d_avr), so every surface answers with finite scores
instead of raising ``ZeroDivisionError``."""

from __future__ import annotations

import math

import pytest

from invertedindexbuilder_spark.catalog import Catalog
from invertedindexbuilder_spark.functions.bm25 import d_avr
from invertedindexbuilder_spark.operators.local_query import (
    LocalIndex,
    topk_local,
)
from invertedindexbuilder_spark.operators.query_batch import topk_bm25_batch
from invertedindexbuilder_spark.operators.query_exec import (
    topk_bm25,
    topk_bm25_chunked,
)
from invertedindexbuilder_spark.plans.build import build, load_stats
from invertedindexbuilder_spark.schemas import DOCS_SRC
from invertedindexbuilder_spark.session import local_frame

K = 10
COLLIDING = ("abcdefghijklmno", "abcdefghijklmnz")  # one 14-byte key


def _content(i: int) -> str:
    words = ["common"]
    if i % 4 == 0:
        words.append("alpha")
    if i % 3 == 0:
        words.append("beta")
    if i % 7 == 1:
        words.append(COLLIDING[0])
    if i % 5 == 2:
        words.append(COLLIDING[1])
    # the closing '.' keeps the last word (trailing-drop quirk D0)
    return " ".join(words + ["pad"] * (i % 6)) + " ."


def _build(spark, root: str, n_docs: int) -> dict:
    rows = [
        (f"org/r{i % 3}", f"src/f{i:04d}.py", f"{i:040x}", "py", _content(i))
        for i in range(n_docs)
    ]
    src = local_frame(
        spark,
        {f.name: [r[j] for r in rows] for j, f in enumerate(DOCS_SRC)},
        DOCS_SRC,
    )
    # small salt threshold: 'common' spans several chunk rows
    build(spark, src, root, write_chunks=True, salt_threshold=64,
          chunk_blocks=1)
    cat = Catalog(spark, root)
    return {
        "chunks": cat.read("index_chunks"),
        "index": cat.read("index"),
        "docs": cat.read("docs").select("doc_id", "doc_len"),
        "stats": load_stats(spark, root),
        "local": LocalIndex(root),
    }


def _rows(df) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _answers(spark, ix: dict, queries: list[str], mode: str,
             strict: bool) -> dict[str, list]:
    """surface -> one top-k list per query, scores rounded to 6."""
    out = {
        "merged": [
            _rows(topk_bm25(spark, ix["index"], ix["docs"], ix["stats"], q,
                            mode=mode, k=K, strict=strict, round_digits=6))
            for q in queries
        ],
        "chunked": [
            _rows(topk_bm25_chunked(spark, ix["chunks"], ix["docs"],
                                    ix["stats"], q, mode=mode, k=K,
                                    strict=strict, round_digits=6))
            for q in queries
        ],
        "local": [
            [(d, round(s, 6)) for d, s in topk_local(
                ix["local"], q, mode=mode, k=K, strict=strict)]
            for q in queries
        ],
    }
    qdf = local_frame(spark, {"query_id": list(range(len(queries))),
                              "text": queries},
                      "query_id long, text string")
    for table in ("index", "chunks"):
        got = {i: [] for i in range(len(queries))}
        for r in topk_bm25_batch(spark, ix[table], ix["docs"], ix["stats"],
                                 qdf, mode=mode, k=K, strict=strict,
                                 round_digits=6).orderBy("query_id",
                                                         "rank").collect():
            got[r["query_id"]].append((r["doc_id"], r["score"]))
        out[f"batch_{table}"] = [got[i] for i in range(len(queries))]
    return out


def _assert_agree(answers: dict, queries: list[str]) -> None:
    ref = answers["local"]
    for surface, got in answers.items():
        for q, g, want in zip(queries, got, ref):
            assert [d for d, _ in g] == [d for d, _ in want], (surface, q)
            for (_, gs), (_, ws) in zip(g, want):
                # Spark rounds half-up, Python half-even
                assert abs(gs - ws) <= 1.01e-6, (surface, q, gs, ws)


@pytest.fixture(scope="module")
def lexicon(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("lexicon") / "ix"), 300)


STRICT_QUERIES = [
    COLLIDING[0],                    # D5: resolves to COLLIDING[1]
    COLLIDING[1],
    f"{COLLIDING[0]} beta",
    "alpha alpha beta",              # duplicated term: weight 2
    "alpha common",
    "nothere zilch",                 # all unknown: empty everywhere
]


@pytest.mark.parametrize("mode", ["and", "or"])
def test_lexicon_semantics_agree_strict(spark, lexicon, mode):
    answers = _answers(spark, lexicon, STRICT_QUERIES, mode, strict=True)
    _assert_agree(answers, STRICT_QUERIES)
    local = answers["local"]
    assert local[0] == local[1] and local[0]        # the collision
    assert local[3] and local[-1] == []
    # the duplicated term counts twice: not the single-weight answer
    single = topk_local(lexicon["local"], "alpha beta", mode=mode, k=K)
    assert [round(s, 6) for _, s in single] != [s for _, s in local[3]]


@pytest.mark.parametrize("mode", ["and", "or"])
def test_lexicon_semantics_agree_non_strict(spark, lexicon, mode):
    queries = [COLLIDING[0], COLLIDING[1], f"{COLLIDING[0]} alpha",
               "nothere"]
    answers = _answers(spark, lexicon, queries, mode, strict=False)
    _assert_agree(answers, queries)
    local = answers["local"]
    # each colliding term resolves to its own list without truncation
    assert local[0] and local[1]
    assert {d for d, _ in local[0]} != {d for d, _ in local[1]}
    assert local[-1] == []


def test_d_avr_one_doc_is_inf():
    assert d_avr(120, 1) == math.inf
    assert d_avr(0, 0) == math.inf
    assert d_avr(300, 4) == 100.0


@pytest.fixture(scope="module")
def one_doc(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("one_doc") / "ix"), 1)


@pytest.mark.parametrize("mode", ["and", "or"])
def test_one_doc_corpus_every_surface(spark, one_doc, mode):
    """N = 1 on the chunked, merged, batch and local surfaces: the one
    doc (doc 0 holds 'common alpha beta') is found with a finite score,
    and all surfaces agree."""
    assert one_doc["stats"]["n_docs"] == 1
    queries = ["common", "alpha beta", "nothere"]
    answers = _answers(spark, one_doc, queries, mode, strict=True)
    _assert_agree(answers, queries)
    local = answers["local"]
    for hits in local[:2]:
        assert [d for d, _ in hits] == [0]
        assert all(math.isfinite(s) for _, s in hits)
    assert local[2] == []
