"""Structured Streaming == batch on bounded input (availableNow drain),
plus watermark late-data semantics."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


@pytest.fixture(scope="module")
def spark():
    return get_spark("streaming")


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events"))
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src.repartition(4).write.mode("overwrite").parquet(d)
    return d


def _norm(df, cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def test_hourly_rollup_stream_equals_batch(spark, events_dir):
    from csv_to_jsonld_processor_spark.streaming.events import (
        hourly_rollup_batch,
        hourly_rollup_stream,
        run_stream_over_dir,
    )

    batch = hourly_rollup_batch(spark.read.parquet(events_dir))
    stream = run_stream_over_dir(
        spark, events_dir, hourly_rollup_stream, EVENTS_SCHEMA, "rollup_mem"
    )
    cols = ["window_start", "event_type", "n_events"]
    assert _norm(stream, cols) == _norm(batch, cols)


def test_sessionize_stream_equals_batch(spark, events_dir):
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.streaming.events import (
        run_stream_over_dir,
        sessionize_batch,
        sessionize_stream,
    )

    src = spark.read.parquet(events_dir).where(F.col("user_id") < 10)
    batch = sessionize_batch(src)

    def xform(stream):
        return sessionize_stream(stream.where(F.col("user_id") < 10))

    stream = run_stream_over_dir(spark, events_dir, xform, EVENTS_SCHEMA, "sessions_mem")
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _norm(stream, cols) == _norm(batch, cols)


def test_stateful_profile_multibatch_equals_batch(spark, tmp_path):
    """applyInPandasWithState: state must carry across micro-batches —
    drain a 4-file source one file per trigger and require the final
    per-user profile to equal the batch groupBy twin."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.session import load_tables
    from csv_to_jsonld_processor_spark.streaming.events import (
        user_profile_batch,
        user_profile_stateful,
    )

    src = load_tables(spark, "/root/testdata/sf0.001")["events"].where(F.col("user_id") < 30)
    d = str(tmp_path / "events_parts")
    src.repartition(4).write.mode("overwrite").parquet(d)
    schema = src.schema.simpleString().replace("struct<", "").rstrip(">").replace(":", " ")

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    q = (
        user_profile_stateful(stream)
        .writeStream.format("memory")
        .queryName("profiles_mb")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("profiles_mb")
    # several micro-batches ran (state exercised across batches)
    assert out.count() > out.select("user_id").distinct().count()

    latest = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max("total_value"), 4).alias("total_value"),
        F.min("first_seen").alias("first_seen"),
        F.max("last_seen").alias("last_seen"),
    )
    batch = user_profile_batch(src).select(
        "user_id",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
        "first_seen",
        "last_seen",
    )
    got = {tuple(r) for r in latest.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_stream_dedup_absorbs_cross_batch_replays(spark, tmp_path):
    """dropDuplicatesWithinWatermark state must survive across
    micro-batches: replays land in separate files and
    maxFilesPerTrigger=1 forces them into later batches than the
    originals, so only carried state can drop them."""
    from csv_to_jsonld_processor_spark.streaming.events import dedup_stream

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet").where(
        "user_id < 20"
    )
    replays = src.where("event_id % 10 = 0")
    assert replays.count() > 0, "degenerate: no replays planted"
    d = str(tmp_path / "in")
    src.repartition(2).write.parquet(d)
    replays.repartition(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_xbatch")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 3, "input did not span multiple micro-batches"

    res = spark.table("dedup_xbatch")
    assert res.count() == src.count(), "replays not fully absorbed"
    assert res.select("event_id").distinct().count() == res.count()


def test_trending_topk_stream_equals_batch(spark, events_dir):
    """Sliding-window trending: the streamed watermarked counts, ranked
    per finalized window downstream of the sink, must equal the batch
    top-k exactly (incl. every event landing in both its overlapping
    windows)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.streaming.events import (
        TREND_K,
        run_stream_over_dir,
        trending_counts_stream,
        trending_topk_batch,
    )

    batch = trending_topk_batch(spark.read.parquet(events_dir))
    counts = run_stream_over_dir(
        spark, events_dir, trending_counts_stream, EVENTS_SCHEMA, "trend_mem"
    )
    rk = W.partitionBy("window_start").orderBy(F.desc("n_events"), F.asc("event_type"))
    streamed = (
        counts.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= TREND_K)
        .select("window_start", "rank", "event_type", "n_events")
    )
    cols = ["window_start", "rank", "event_type", "n_events"]
    assert _norm(streamed, cols) == _norm(batch, cols)
    # sliding semantics: total windowed rows ~ 2x the tumbling count
    n_windows = counts.select("window_start").distinct().count()
    assert n_windows > 24  # > one day of 30-min slides on this corpus


def test_stream_merge_exactly_once_effect(spark, tmp_path):
    """foreachBatch ingestion into the pointered parquet table:
    (1) multi-batch drain equals the batch last-write-wins oracle,
    (2) replaying a batch (the at-least-once crash contract) is a
        byte-level no-op,
    (3) restart from checkpoint after new files arrive picks up only
        the new data and stays consistent."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.session import load_tables
    from csv_to_jsonld_processor_spark.streaming.ingest import (
        apply_batch,
        read_table,
        stream_merge_into_table,
    )

    src = load_tables(spark, "/root/testdata/sf0.001")["events"].where(
        F.col("user_id") < 40
    )
    d_in = str(tmp_path / "in")
    src.where(F.col("event_id") % 3 != 0).repartition(4).write.mode("overwrite").parquet(d_in)

    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = src.schema.simpleString().replace("struct<", "").rstrip(">").replace(":", " ")
    stream_merge_into_table(spark, d_in, schema, table, "user_id", ckpt)

    def oracle(df):
        from pyspark.sql.window import Window as W

        w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        return {
            tuple(r)
            for r in df.withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1")
            .drop("_rn")
            .collect()
        }

    first_files = spark.read.parquet(d_in)
    got = {tuple(r) for r in read_table(spark, table).collect()}
    assert got == oracle(first_files) and len(got) > 10

    # (2) replay any batch: apply the whole input again under a fake id
    apply_batch(spark, first_files, 9999, table, "user_id")
    assert {tuple(r) for r in read_table(spark, table).collect()} == got

    # (3) late files arrive; restart from the same checkpoint
    src.where(F.col("event_id") % 3 == 0).repartition(2).write.mode("append").parquet(d_in)
    stream_merge_into_table(spark, d_in, schema, table, "user_id", ckpt)
    got2 = {tuple(r) for r in read_table(spark, table).collect()}
    assert got2 == oracle(src)


def test_stream_merge_replay_same_batch_id_after_flip(spark, tmp_path):
    """The crash window round-4 ADVICE flagged: pointer flip completed
    but the checkpoint offset commit didn't, so foreachBatch re-runs
    with the SAME batch_id. apply_batch must short-circuit (CURRENT
    already names gen-<batch_id>) instead of overwriting the very
    generation it is lazily reading as base."""
    import os

    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.session import load_tables
    from csv_to_jsonld_processor_spark.streaming.ingest import apply_batch, read_table

    src = load_tables(spark, "/root/testdata/sf0.001")["events"].where(F.col("user_id") < 20)
    table = str(tmp_path / "table")
    os.makedirs(table)

    apply_batch(spark, src, 0, table, "user_id")
    before = {tuple(r) for r in read_table(spark, table).collect()}
    assert before
    gen_mtime = os.path.getmtime(os.path.join(table, "gen-0"))

    # replay the SAME id — must be a no-op, not a self-overwrite
    apply_batch(spark, src, 0, table, "user_id")
    assert {tuple(r) for r in read_table(spark, table).collect()} == before
    assert os.path.getmtime(os.path.join(table, "gen-0")) == gen_mtime  # untouched
    with open(os.path.join(table, "CURRENT")) as f:
        assert f.read().strip() == "gen-0"

    # and a NEW id still advances the table
    apply_batch(spark, src.limit(0), 1, table, "user_id")
    with open(os.path.join(table, "CURRENT")) as f:
        assert f.read().strip() == "gen-1"
    assert {tuple(r) for r in read_table(spark, table).collect()} == before


def test_stream_stream_join_equals_batch(spark, tmp_path):
    """The watermarked stream-stream interval join, drained on a
    bounded two-source input, emits exactly the batch interval-join
    pair set (inner join never defers matches past the drain)."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.session import load_tables
    from csv_to_jsonld_processor_spark.streaming.events import (
        ATTRIB_WINDOW_SEC,
        attribution_join_stream,
    )

    src = load_tables(spark, "/root/testdata/sf0.001")["events"].where(F.col("user_id") < 40)
    views = src.where(F.col("event_type") == "view")
    purchases = src.where(F.col("event_type") == "purchase")
    d_v, d_p = str(tmp_path / "v"), str(tmp_path / "p")
    # range-partitioned on ts: micro-batches arrive in event-time order,
    # the file-source contract watermarks assume (see events_stream_join)
    views.repartitionByRange(3, "ts").write.parquet(d_v)
    purchases.repartitionByRange(3, "ts").write.parquet(d_p)
    from csv_to_jsonld_processor_spark.streaming.events import order_stream_files

    order_stream_files(d_v)
    order_stream_files(d_p)
    schema = src.schema.simpleString().replace("struct<", "").rstrip(">").replace(":", " ")

    sv = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d_v)
    sp = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d_p)
    q = (
        attribution_join_stream(sv, sp)
        .writeStream.format("memory")
        .queryName("attrib_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.view_id, r.purchase_id)
        for r in spark.table("attrib_join_test").collect()
    }

    v = views.select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"),
        F.col("ts").cast("timestamp").alias("v_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("p_ts"),
    )
    expected = {
        (r.view_id, r.purchase_id)
        for r in v.join(
            p,
            F.expr(
                f"v_user = p_user AND v_ts <= p_ts "
                f"AND v_ts >= p_ts - INTERVAL {ATTRIB_WINDOW_SEC} SECONDS"
            ),
        ).collect()
    }
    assert streamed == expected and len(expected) > 0


def test_stream_stream_outer_join_seals_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream join: every batch match must be
    streamed, every sealed unmatched view must emit exactly one NULL
    row via state eviction, and no sealed view may be missing —
    the eviction-driven null path is the semantics under test."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.session import load_tables
    from csv_to_jsonld_processor_spark.streaming.events import (
        ATTRIB_WINDOW_SEC,
        OUTER_SEAL_SLACK_SEC,
        attribution_outer_join_stream,
        order_stream_files,
    )

    src = load_tables(spark, "/root/testdata/sf0.001")["events"].where(
        F.col("user_id") < 40
    )
    views = src.where(F.col("event_type") == "view")
    purchases = src.where(F.col("event_type") == "purchase")
    d_v, d_p = str(tmp_path / "v"), str(tmp_path / "p")
    views.repartitionByRange(3, "ts").write.parquet(d_v)
    purchases.repartitionByRange(3, "ts").write.parquet(d_p)
    order_stream_files(d_v)
    order_stream_files(d_p)
    schema = src.schema.simpleString().replace("struct<", "").rstrip(">").replace(":", " ")

    sv = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d_v)
    sp = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d_p)
    q = (
        attribution_outer_join_stream(sv, sp)
        .writeStream.format("memory")
        .queryName("attrib_outer_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("attrib_outer_join_test").collect()
    streamed_pairs = {(r.view_id, r.purchase_id) for r in out
                      if r.purchase_id is not None}
    streamed_nulls = {r.view_id for r in out if r.purchase_id is None}

    v = views.select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"),
        F.col("ts").cast("timestamp").alias("v_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("p_ts"),
    )
    batch = v.join(
        p,
        F.expr(
            f"v_user = p_user AND v_ts <= p_ts "
            f"AND v_ts >= p_ts - INTERVAL {ATTRIB_WINDOW_SEC} SECONDS"
        ),
        "left_outer",
    ).collect()
    expected_pairs = {(r.view_id, r.purchase_id) for r in batch
                      if r.purchase_id is not None}
    assert streamed_pairs == expected_pairs

    seal_sec = 2 * 3600 + ATTRIB_WINDOW_SEC + OUTER_SEAL_SLACK_SEC
    mx = min(
        views.agg(F.max(F.col("ts").cast("timestamp"))).collect()[0][0],
        purchases.agg(F.max(F.col("ts").cast("timestamp"))).collect()[0][0],
    )
    import datetime

    cutoff = mx - datetime.timedelta(seconds=seal_sec)
    expected_sealed_nulls = {
        r.view_id for r in batch
        if r.purchase_id is None and r.v_ts < cutoff
    }
    # every sealed unmatched view was emitted (eviction fired), and no
    # matched view ever produced a null row
    assert expected_sealed_nulls <= streamed_nulls
    assert expected_sealed_nulls, "seal region empty — test is vacuous"
    assert not (streamed_nulls & {vid for vid, _ in expected_pairs})
