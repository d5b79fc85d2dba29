"""Custom Python DataSource connector (Spark 4 DataSource API): the
synthetic page corpus mounted as spark.read.format("synthpages")."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pydatasource")
    from csv_to_jsonld_processor_spark.sources.pydatasource import register

    register(s)
    return s


def test_source_equals_generator(spark):
    """format('synthpages') must produce byte-identical rows to the
    mapInPandas generator — same page function, different plumbing."""
    from csv_to_jsonld_processor_spark.sources.pages import generate_pages

    via_source = spark.read.format("synthpages").option("n", 300).option("seed", 7).load()
    assert via_source.schema.simpleString() == generate_pages(spark, 1, seed=7).schema.simpleString()
    a = {tuple(r) for r in via_source.collect()}
    b = {tuple(r) for r in generate_pages(spark, 300, seed=7).collect()}
    assert a == b and len(a) == 300


def test_partition_planning(spark):
    """Partition count is honored (one task per planned index range) and
    ranges tile [0, n) exactly — no duplicated or dropped pages."""
    from pyspark.sql import functions as F

    df = (
        spark.read.format("synthpages")
        .option("n", 1000)
        .option("partitions", 5)
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    assert df.count() == 1000
    assert df.select(F.countDistinct("url")).first()[0] == 1000


def test_bad_options_fail_loudly(spark):
    with pytest.raises(Exception):
        spark.read.format("synthpages").option("partitions", 0).load().count()


def test_stream_reader_exactly_once_across_restart(spark, tmp_path):
    """readStream.format('synthpages'): offset-managed micro-batches
    (rows_per_batch per trigger), checkpointed file sink, and a
    mid-stream restart — the final table must hold each page exactly
    once and equal the batch reader's corpus. Also exercises the
    self-healing rate-limit cursor documented in latestOffset."""
    import time

    from pyspark.sql import functions as F

    N = 600
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def start():
        return (
            spark.readStream.format("synthpages")
            .option("n", N)
            .option("rows_per_batch", 200)
            .option("partitions", 2)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    from csv_to_jsonld_processor_spark.streaming.ingest import read_file_sink

    def rows_written() -> int:
        # committed rows only: Spark 4 batch reads ignore the sink's
        # _spark_metadata log, so a plain read would count the orphan
        # files a killed batch leaves behind (see read_file_sink)
        try:
            return read_file_sink(spark, out).count()
        except Exception:
            return 0

    q = start()
    deadline = time.time() + 120
    while rows_written() < 200 and time.time() < deadline:
        time.sleep(0.5)
    q.stop()
    assert rows_written() >= 200  # partial progress before the "crash"

    q2 = start()
    deadline = time.time() + 180
    while rows_written() < N and time.time() < deadline:
        time.sleep(0.5)
    q2.stop()

    got = read_file_sink(spark, out)
    assert got.count() == N  # exactly once: no gaps, no replays
    assert got.select(F.countDistinct("url")).first()[0] == N
    batch = {tuple(r) for r in spark.read.format("synthpages").option("n", N).load().collect()}
    assert {tuple(r) for r in got.collect()} == batch
    # the crash window's orphan files MAY exist on disk; a naive listing
    # read can only ever see MORE than the committed set, never less
    assert spark.read.parquet(out).count() >= N
