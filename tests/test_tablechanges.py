"""Streaming CDC source over the snapshot table
(sources/tablechanges.py): one committed snapshot per micro-batch,
stream == batch changelog equivalence, and empty compaction batches."""

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("tablechanges")
    from csv_to_jsonld_processor_spark.sources.tablechanges import register

    register(s)
    return s


def test_stream_equals_batch_changelog(spark, tmp_path):
    """Streaming the table's changelog must produce exactly the union
    of read_changes over consecutive snapshot pairs — including a
    merge batch — and a compaction snapshot contributes zero rows."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        compact_mor,
        delete_rows_mor,
        merge_rows_mor,
        read_changes,
        update_rows_mor,
    )

    table = str(tmp_path / "t")
    base = spark.range(80).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).cast("double").alias("v"),
        (F.col("id") % 3).cast("string").alias("g"),
    )
    commit_snapshot(spark, base, table)                        # snap 0
    u = update_rows_mor(spark, table, "k % 4 = 0", {"v": "v + 10.0"})
    d = delete_rows_mor(spark, table, "v < 1")
    batch = spark.createDataFrame(
        [(7, 99.0, "x"), (500, 1.0, "y")], "k long, v double, g string"
    )
    m = merge_rows_mor(spark, table, batch, "k")
    c = compact_mor(spark, table)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("tablechanges")
        .option("table_dir", table)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    from csv_to_jsonld_processor_spark.streaming.ingest import read_file_sink

    def snaps_seen() -> set:
        try:
            return {
                r["_snap"]
                for r in read_file_sink(spark, out).select("_snap").distinct().collect()
            }
        except Exception:
            return set()

    deadline = time.time() + 120
    while time.time() < deadline:
        done = snaps_seen()
        if {u, d, m} <= done:
            # compaction emits no rows, so wait on the checkpointed
            # offset advancing past it instead
            off_dir = os.path.join(ckpt, "offsets")
            if os.path.isdir(off_dir):
                latest = max(
                    (int(f) for f in os.listdir(off_dir) if f.isdigit()),
                    default=-1,
                )
                if latest >= 0:
                    with open(os.path.join(off_dir, str(latest))) as f:
                        if f'"snap": {c}' in f.read().replace(": ", ": "):
                            break
        time.sleep(0.5)
    q.stop()

    got = read_file_sink(spark, out)
    want = None
    for lo, hi in [(0, u), (u, d), (d, m)]:
        seg = read_changes(spark, table, lo, hi).withColumn(
            "_snap", F.lit(hi).cast("long")
        )
        want = seg if want is None else want.unionByName(seg)
    g = {tuple(r) for r in got.select("k", "v", "g", "_change_type", "_snap").collect()}
    w = {tuple(r) for r in want.select("k", "v", "g", "_change_type", "_snap").collect()}
    assert g == w
    # compaction snapshot contributed nothing
    assert c not in {r[-1] for r in g}
    # the merge batch surfaced: replaced row = delete+insert, new key = insert
    merge_rows = {r for r in g if r[-1] == m}
    assert (7, 99.0, "x", "insert", m) in merge_rows
    assert (500, 1.0, "y", "insert", m) in merge_rows
    assert any(r[0] == 7 and r[3] == "delete" for r in merge_rows)


def test_pyarrow_changelog_matches_spark_reader(spark, tmp_path):
    """The worker-side pyarrow changes_between must agree with the
    Spark-side read_changes on every consecutive interval."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        delete_rows_mor,
        read_changes,
        update_rows_mor,
    )
    from csv_to_jsonld_processor_spark.sources.tablechanges import (
        changes_between,
    )

    table = str(tmp_path / "t")
    base = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") * 0.5).alias("v")
    ).repartition(6)
    commit_snapshot(spark, base, table)
    u = update_rows_mor(spark, table, "k % 3 = 1", {"v": "v * 2"})
    d = delete_rows_mor(spark, table, "v > 40")

    for lo, hi in [(0, u), (u, d)]:
        via_arrow = sorted(changes_between(table, lo, hi, ["k", "v"]))
        via_spark = sorted(
            (r["k"], r["v"], r["_change_type"])
            for r in read_changes(spark, table, lo, hi).collect()
        )
        assert via_arrow == via_spark, (lo, hi)


def test_stream_restart_exactly_once(spark, tmp_path):
    """Kill the changelog stream mid-consumption and restart on the
    same checkpoint: every change batch lands exactly once — the
    snapshot-id offsets + immutable snapshots ARE the replay log."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        delete_rows_mor,
        update_rows_mor,
    )
    from csv_to_jsonld_processor_spark.streaming.ingest import read_file_sink

    table = str(tmp_path / "t")
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    commit_snapshot(spark, base, table)
    snaps = []
    for i in range(4):
        snaps.append(
            update_rows_mor(spark, table, f"k % 9 = {i}", {"v": f"v + {10 * (i + 1)}.0"})
        )
    snaps.append(delete_rows_mor(spark, table, "v < 2"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def start():
        return (
            spark.readStream.format("tablechanges")
            .option("table_dir", table)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def committed():
        try:
            return read_file_sink(spark, out)
        except Exception:
            return None

    q = start()
    deadline = time.time() + 90
    while time.time() < deadline:
        df = committed()
        if df is not None and df.count() > 0:
            break
        time.sleep(0.3)
    q.stop()  # crash mid-stream

    q2 = start()
    deadline = time.time() + 120
    want_snaps = set(snaps)
    while time.time() < deadline:
        df = committed()
        if df is not None and {
            r["_snap"] for r in df.select("_snap").distinct().collect()
        } >= want_snaps:
            break
        time.sleep(0.5)
    q2.stop()

    got = committed()
    # exactly once: each (row, snap) change appears a single time
    n_rows = got.count()
    n_distinct = got.dropDuplicates(["k", "v", "_change_type", "_snap"]).count()
    assert n_rows == n_distinct and n_rows > 0
    # and the per-snap content equals the batch changelog
    from csv_to_jsonld_processor_spark.operators.snapshots import read_changes

    prev = 0
    for sid in snaps:
        want = {
            (r["k"], r["v"], r["_change_type"])
            for r in read_changes(spark, table, prev, sid).collect()
        }
        have = {
            (r["k"], r["v"], r["_change_type"])
            for r in got.where(F.col("_snap") == sid).collect()
        }
        assert have == want, sid
        prev = sid


def test_stream_skips_a_conflicted_cas_generation(spark, tmp_path):
    """A CAS writer that loses a conflict leaves a RESERVED generation
    below CURRENT once its retry lands. The changelog stream lists the
    committed ids the snapshot layer lists, so its next offset after the
    winner's snapshot is the retry's id, never the conflicted one."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        CommitConflict,
        commit_snapshot,
        read_changes,
        snapshot_ids,
    )
    from csv_to_jsonld_processor_spark.sources.tablechanges import TableChangesStreamReader

    table = str(tmp_path / "t")
    commit_snapshot(spark, spark.range(10).select(F.col("id").alias("k")), table)
    a_df = spark.range(20).select(F.col("id").alias("k"))
    b_id = commit_snapshot(spark, spark.range(30).select(F.col("id").alias("k")), table,
                           expected_parent=0)
    with pytest.raises(CommitConflict):
        commit_snapshot(spark, a_df, table, expected_parent=0)
    a_id = commit_snapshot(spark, a_df, table, expected_parent=b_id)
    assert b_id == 1 and a_id > 2
    assert snapshot_ids(table) == [0, 1, a_id]

    reader = TableChangesStreamReader({"table_dir": table})
    offsets, off = [], reader.initialOffset()
    while True:
        rows, nxt = reader.read(off)
        if nxt == off:
            break
        offsets.append((nxt["snap"], sorted(rows)))
        off = nxt
    assert [sid for sid, _rows in offsets] == [1, a_id]
    # the batch for a_id is the change 1 → a_id, not a diff against the
    # conflicted generation
    want = sorted((r["k"], r["_change_type"], a_id) for r in read_changes(spark, table, 1, a_id).collect())
    assert offsets[1][1] == want
