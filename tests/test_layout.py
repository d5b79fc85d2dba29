"""Table-layout hygiene: partitioned writes prune at the directory
level, and small-file compaction restores scan efficiency after
fragmented ingestion (operators/layout.py)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark, load_tables

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark("layout")


@pytest.fixture(scope="module")
def parted(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.layout import write_partitioned

    d = str(tmp_path_factory.mktemp("layout") / "events_by_day")
    ev = load_tables(spark, SF)["events"].withColumn("day", F.to_date("ts"))
    # fragment deliberately: 16 writers per partition = tiny files
    write_partitioned(ev.repartition(16), d, ["day"])
    return d


def test_partition_pruning_reaches_the_scan(spark, parted):
    from pyspark.sql import functions as F

    df = spark.read.parquet(parted)
    one_day = df.select("day").orderBy("day").first()[0]
    plan = (
        df.where(F.col("day") == F.lit(one_day))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the day predicate must land in PartitionFilters (directory-level
    # pruning), NOT as a data filter the scan evaluates per row
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "day" in pf


def test_compaction_preserves_rows_and_cuts_files(spark, parted):
    from csv_to_jsonld_processor_spark.operators.layout import (
        compact_partitions,
        partition_file_stats,
    )

    before_stats = partition_file_stats(spark, parted)
    assert all(n >= 8 for _p, n, _b in before_stats)  # fragmentation is real
    rows_before = sorted(map(tuple, spark.read.parquet(parted).collect()))

    res = compact_partitions(spark, parted, "day", target_bytes=64 * 1024 * 1024)
    assert res["after"] < res["before"]
    after_stats = partition_file_stats(spark, parted)
    # every partition is far below 64 MB -> exactly one file each
    assert all(n == 1 for _p, n, _b in after_stats)
    rows_after = sorted(map(tuple, spark.read.parquet(parted).collect()))
    assert rows_after == rows_before


def test_compaction_respects_target_size(spark, tmp_path):
    """A partition whose bytes exceed the target must split into
    ceil(bytes/target) files, not collapse to one."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.layout import (
        compact_partitions,
        partition_file_stats,
        write_partitioned,
    )

    d = str(tmp_path / "one_big")
    ev = load_tables(spark, SF)["events"].withColumn("day", F.lit("all"))
    write_partitioned(ev.repartition(16), d, ["day"])
    _p, _n, total_bytes = partition_file_stats(spark, d)[0]
    target = max(1, total_bytes // 3)  # force ~3-4 output files
    compact_partitions(spark, d, "day", target_bytes=target)
    stats = partition_file_stats(spark, d)
    assert len(stats) == 1 and 2 <= stats[0][1] <= 6


def test_compaction_staged_swap_and_escaped_values(spark, tmp_path):
    """Round-4 ADVICE: compaction must never write into the tree it
    reads (staged swap), must clear its own orphan staging dir, and
    must still find the file budget for partition values that hive
    URL-escapes on disk (here ':' and ' ')."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.layout import (
        compact_partitions,
        partition_file_stats,
        write_partitioned,
    )

    d = str(tmp_path / "t")
    rows = [(f"grp {i % 3}:x", i, float(i)) for i in range(300)]
    df = spark.createDataFrame(rows, "cat string, n int, v double")
    write_partitioned(df.repartition(8), d, ["cat"])
    # escaped dirs on disk + an orphan staging dir from a "crashed" run
    assert any("%" in p for p, _n, _b in partition_file_stats(spark, d))
    os.makedirs(d + ".compacting/junk", exist_ok=True)

    res = compact_partitions(spark, d, "cat", target_bytes=10**9)
    assert res["partitions"] == 3 and res["after"] == 3  # 1 file per partition
    assert res["before"] > res["after"]
    assert not os.path.exists(d + ".compacting")  # staging cleaned up
    # data intact after the swap, bucket lookup found every escaped value
    got = spark.read.parquet(d)
    assert got.count() == 300
    assert got.groupBy("cat").count().count() == 3


def test_zorder_bounds_every_query_shape(spark):
    """The Z-order trade-off, pinned: each linear layout must open ALL
    files for its orthogonal query (day-major cannot prune a pure user
    filter and vice versa), while the normalized Z-curve prunes every
    box — strictly fewer than all files on all three shapes, and
    strictly better than the collapsed linear layout. rows_matched is
    layout-invariant and rows_scanned can never undercount it."""
    from csv_to_jsonld_processor_spark.operators.layout import events_zorder_layout

    rows = {(r.layout, r.query): r for r in events_zorder_layout(spark, SF).collect()}
    layouts = {"day_user", "user_day", "zorder"}
    queries = {"day_range", "user_range", "both_range"}
    assert set(rows) == {(l, q) for l in layouts for q in queries}
    n_files = rows[("zorder", "day_range")].n_files
    for q in queries:
        matched = {rows[(l, q)].rows_matched for l in layouts}
        assert len(matched) == 1, "rows_matched must be layout-invariant"
        assert matched.pop() > 0, "query boxes must be non-degenerate"
        for l in layouts:
            r = rows[(l, q)]
            assert r.rows_scanned >= r.rows_matched
            assert r.files_opened >= 1
    # linear layouts collapse on their orthogonal filter
    assert rows[("day_user", "user_range")].files_opened == n_files
    assert rows[("user_day", "day_range")].files_opened == n_files
    # the Z-curve prunes every shape, never collapsing to a full scan
    for q in queries:
        z = rows[("zorder", q)].files_opened
        assert z < n_files
    assert rows[("zorder", "user_range")].files_opened < n_files
    assert (
        rows[("zorder", "day_range")].files_opened
        < rows[("user_day", "day_range")].files_opened
    )
    assert (
        rows[("zorder", "user_range")].files_opened
        < rows[("day_user", "user_range")].files_opened
    )
