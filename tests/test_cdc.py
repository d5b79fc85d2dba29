"""Content-defined chunking (dedup_cdc_chunks):

1. Exactness: Spark's expression-level chunker must equal an
   independent Python recompute of the boundary rule on real corpus
   documents (every chunk, in order).
2. Shift-resistance: prepending one token to a document must preserve
   every chunk after the first content-defined boundary, while the
   fixed-K chunker loses (almost) all of them — the property that
   justifies CDC's existence next to dedup_chunks.
"""

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.operators.dedup import (  # noqa: E402
    CDC_BOUNDARY_DIGITS,
    CHUNK_K,
    cdc_chunk_docs,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    from csv_to_jsonld_processor_spark.session import get_spark

    return get_spark("cdc-test")


def _cdc_py(text: str) -> list[str]:
    toks = text.split(" ")
    edges = [0]
    for i in range(len(toks) - 1):
        h = hashlib.md5((toks[i] + "\x01" + toks[i + 1]).encode()).hexdigest()
        if h[0] in CDC_BOUNDARY_DIGITS:
            edges.append(i + 1)
    edges.append(len(toks))
    return [" ".join(toks[a:b]) for a, b in zip(edges, edges[1:])]


def test_spark_chunks_equal_python_recompute(spark):
    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .select("doc_id", "text")
        .limit(50)
    )
    got = {r["doc_id"]: r["chunks"] for r in cdc_chunk_docs(docs).collect()}
    want = {r["doc_id"]: _cdc_py(r["text"]) for r in docs.collect()}
    assert got == want
    # sanity: mean chunk length is near the geometric mean of 4 tokens
    n_toks = sum(len(c.split(" ")) for cs in want.values() for c in cs)
    n_chunks = sum(len(cs) for cs in want.values())
    assert 2.5 < n_toks / n_chunks < 6.0


def test_cdc_survives_prefix_edit_fixed_k_does_not(spark):
    base = " ".join(f"w{(i * 7) % 23}x{i % 11}" for i in range(80))
    shifted = "INSERTED " + base
    docs = spark.createDataFrame(
        [("base", base), ("shifted", shifted)], ["doc_id", "text"]
    )
    chunks = {r["doc_id"]: r["chunks"] for r in cdc_chunk_docs(docs).collect()}
    b, s = chunks["base"], chunks["shifted"]
    # every base chunk after the first boundary survives verbatim:
    # the edit can only re-cut the chunk(s) overlapping the insertion.
    assert b[1:] == s[len(s) - len(b) + 1 :]
    surviving = len(b) - 1
    assert surviving >= 10  # the overlap is substantial, not vacuous

    # fixed-K chunking of the same pair: one-token shift misaligns every
    # chunk boundary, so (near) zero chunks survive.
    def fixed_k(text: str) -> list[str]:
        toks = text.split(" ")
        return [
            " ".join(toks[i * CHUNK_K : (i + 1) * CHUNK_K])
            for i in range(len(toks) // CHUNK_K)
        ]

    fb, fs = set(fixed_k(base)), set(fixed_k(shifted))
    assert len(fb & fs) <= 1
