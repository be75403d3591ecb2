"""Seeded benchmark inputs: the corpus, the compaction delta, the
deletion sample and the query stream, plus their fingerprints.

Everything here is a pure function of ``(seed, scale)``.  The corpus and
the delta come from the repository's own FIXTURES generator
(``sources.docs_src``, whose rows are a pure function of seed and row
index): rows ``[0, docs)`` are the corpus and the next ``delta`` rows the
delta, exactly what ``synthetic_docs_src(..., start=docs)`` yields.  They
are generated in the driver and written to parquet during set-up, in the
generator's own file split, so the program under test only ever reads
generated files.  Query terms are drawn from the generator's vocabulary
lists, so a change to them shows up in the query fingerprint as well.

A fingerprint is ``rows`` plus the xor of a 64-bit hash of every row
(all columns), the cheap order-free scheme the build uses for resume.
It is taken on the driver, before the rows are written, with an 8-byte
``blake2b`` digest in place of Spark's ``xxhash64``: a Spark job per
input would add seconds of JVM warm-up to every run's set-up.
``fingerprints.json`` pins the values for a range of seeds; a run whose
inputs differ from the pinned ones fails instead of silently measuring
a different workload.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from invertedindexbuilder_spark.sources.docs_src import (
    MID_TERMS,
    synthetic_docs_src_pandas,
)

# docs: corpus size; delta and deletes: docs compacted in and ids
# tombstoned by the traced run's ingest probe; stream: queries in the stream
# (cycled when a run issues more); local_slice: driver-local queries
# per slice (serve: one slice after each Spark query); batch: stream
# prefix submitted as one Spark batch in the traced run.  "full" is sized so
# one run of either workload, JVM start included, stays under a minute
# on 4 cores; "smoke" only exercises the code paths.
SCALES = {
    "full": {"docs": 10_000, "delta": 1_000, "deletes": 100, "stream": 180,
             "local_slice": 60, "batch": 12},
    "smoke": {"docs": 600, "delta": 60, "deletes": 6, "stream": 36,
              "local_slice": 12, "batch": 6},
}

CLASSES = ("needle", "anchored", "heavy")
MODES = ("and", "or")
K = 10

# 12 % of generated docs carry one of 400 rare terms, so each has
# df ~ 0.0003 N (at 10 k docs about one in twenty is absent; the stream
# draws only from those present, so a needle always costs a lookup and
# a decode); the specials below each appear in ~2 % of docs, "hello"
# in ~7 % (the generator's SPECIALS that survive tokenization as one
# <=15-char term; Hello/HELLO/hello all fold to "hello").
RARE_TERM = re.compile(r"\brare\d{4}\b")
SPECIAL_TERMS = ("42", "0xdeadbeef", "v2", "abcdefghijklmno", "hello")
# "common" is in ~95 % of docs; the generator draws MID_TERMS zipf-wise,
# so the head of the list is in nearly every doc and the tail in fewer.
# Queries draw their common terms from the head only, so that the decode
# volume (every list near N postings) does not swing with the seed.
COMMON_TERMS = ("common",) + tuple(MID_TERMS[:7])

FINGERPRINT_FILE = os.path.join(os.path.dirname(__file__), "fingerprints.json")


@dataclass(frozen=True)
class Query:
    qid: int
    cls: str
    mode: str
    text: str


def query_stream(seed: int, n: int, rare: list[str]) -> list[Query]:
    """``n`` queries whose shape is fixed by position and whose terms
    are seeded.  Position ``i`` has class ``CLASSES[i % 3]``, mode
    ``MODES[(i // 3) % 2]`` and size variant ``v = (i // 6) % 3``:

    - needle: ``1 + v`` of the ``rare`` terms, plus a special term when
      ``i // 18`` is odd;
    - anchored: one rare term plus ``1 + v % 2`` common terms;
    - heavy: ``2 + v`` common terms.

    Every six consecutive queries hold each (class, mode) pair once, and
    a run that issues the first ``m`` queries issues the same shapes at
    every seed, so seeds vary the terms but not the mix."""
    rng = np.random.default_rng((seed, 0x51))
    out = []
    for i in range(n):
        cls = CLASSES[i % 3]
        v = (i // 6) % 3
        if cls == "needle":
            terms = list(rng.choice(rare, 1 + v, replace=False))
            if (i // 18) % 2:
                terms.append(rng.choice(SPECIAL_TERMS))
        elif cls == "anchored":
            terms = [rng.choice(rare)] + list(
                rng.choice(COMMON_TERMS, 1 + v % 2, replace=False))
        else:
            terms = list(rng.choice(COMMON_TERMS, 2 + v, replace=False))
        out.append(Query(i, cls, MODES[(i // 3) % 2],
                         " ".join(str(t) for t in terms)))
    return out


def delete_sample(seed: int, n_docs: int, n: int) -> list[int]:
    rng = np.random.default_rng((seed, 0xD1))
    return sorted(int(x) for x in rng.choice(n_docs, n, replace=False))


def fingerprint(rows) -> str:
    """``rows`` (an iterable of tuples) -> ``n=<rows>,h=<xor of 64-bit
    row hashes>``."""
    n = h = 0
    for row in rows:
        digest = hashlib.blake2b(
            "\x1f".join(map(str, row)).encode(), digest_size=8).digest()
        h ^= int.from_bytes(digest, "little", signed=True)
        n += 1
    return f"n={n},h={h}"


def _write_parquet(rows, path: str) -> None:
    """One file per 2000 rows, the split ``synthetic_docs_src`` uses."""
    os.makedirs(path)
    parts = len(rows) // 2000 + 1
    for i, part in enumerate(np.array_split(np.arange(len(rows)), parts)):
        pq.write_table(
            pa.Table.from_pandas(rows.iloc[part], preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def write_inputs(root: str, seed: int, scale: str) -> dict:
    """Generate and write the corpus and delta parquet under ``root``;
    returns their paths, the delete sample, the query stream and the
    fingerprints."""
    sc = SCALES[scale]
    n = sc["docs"]
    rows = synthetic_docs_src_pandas(n + sc["delta"], seed)
    paths = {"corpus": os.path.join(root, "corpus"),
             "delta": os.path.join(root, "delta")}
    _write_parquet(rows.iloc[:n], paths["corpus"])
    _write_parquet(rows.iloc[n:], paths["delta"])
    deletes = delete_sample(seed, n, sc["deletes"])
    rare = sorted({t for c in rows["content"].iloc[:n]
                   for t in RARE_TERM.findall(c)})
    stream = query_stream(seed, sc["stream"], rare)
    fps = {
        "corpus": fingerprint(rows.iloc[:n].itertuples(index=False)),
        "delta": fingerprint(rows.iloc[n:].itertuples(index=False)),
        "stream": fingerprint(
            [(q.qid, q.cls, q.mode, q.text) for q in stream]
            + [(d, "delete") for d in deletes]),
    }
    return {**paths, "deletes": deletes, "stream": stream, "fingerprints": fps}


def pinned(scale: str, seed: int) -> dict | None:
    if not os.path.exists(FINGERPRINT_FILE):
        return None
    with open(FINGERPRINT_FILE) as f:
        return json.load(f).get(scale, {}).get(str(seed))


def pin(scale: str, entries: dict[int, dict]) -> None:
    data = {}
    if os.path.exists(FINGERPRINT_FILE):
        with open(FINGERPRINT_FILE) as f:
            data = json.load(f)
    data.setdefault(scale, {}).update({str(s): v for s, v in entries.items()})
    data[scale] = dict(sorted(data[scale].items(), key=lambda kv: int(kv[0])))
    with open(FINGERPRINT_FILE, "w") as f:
        json.dump(data, f, indent=1, sort_keys=False)
        f.write("\n")
