"""Streaming KG construction: stream == batch edge-multiset parity."""

import ast
import time

import pytest


@pytest.fixture(scope="module")
def spark():
    from csv_to_jsonld_processor_spark.session import get_spark

    s = get_spark("kgstream")
    from csv_to_jsonld_processor_spark.sources.pydatasource import register

    register(s)
    return s


def _drain(q, n):
    deadline = time.time() + 180
    while time.time() < deadline:
        if q.exception() is not None:
            raise q.exception()
        p = q.lastProgress
        if p and p["sources"]:
            end = p["sources"][0]["endOffset"]
            if isinstance(end, str):
                end = ast.literal_eval(end)
            if end and end.get("index", 0) >= n:
                return
        time.sleep(0.2)
    raise TimeoutError("stream did not drain")


def test_stream_edges_equal_batch_edges(spark):
    """The stateless construction pipeline must emit the exact edge
    multiset under micro-batching (3 uneven batches) that the batch
    pipeline emits over the same 200-page corpus."""
    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg
    from csv_to_jsonld_processor_spark.sources.pages import generate_pages
    from csv_to_jsonld_processor_spark.streaming.kgstream import stream_edges

    n = 200
    stream = (
        spark.readStream.format("synthpages")
        .option("n", n)
        .option("seed", 42)
        .option("rows_per_batch", 77)
        .load()
    )
    q = (
        stream_edges(stream)
        .select("url", "sent_idx", "subj", "pred", "obj")
        .writeStream.format("memory")
        .queryName("kgstream_parity")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        _drain(q, n)
    finally:
        q.stop()
        q.awaitTermination()
    got = sorted(
        tuple(r) for r in spark.table("kgstream_parity").collect()
    )

    batch = build_kg(spark, generate_pages(spark, n, seed=42, partitions=4))["edges"]
    want = sorted(
        tuple(r)
        for r in batch.select("url", "sent_idx", "subj", "pred", "obj").collect()
    )
    assert got == want and len(want) > 100
