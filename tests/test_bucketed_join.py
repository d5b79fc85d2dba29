"""Bucketed-table co-located join: the 100 TB technique for repeated
big-big joins (orders ⋈ lineitem on orderkey) — pay the shuffle ONCE at
write time (bucketBy the join key), then every subsequent join reads
both sides pre-partitioned and pre-sorted and needs NO exchange at all.
This is native Spark bucketing (catalog `bucketBy` + `sortBy`), distinct
from the KG sink's directory-hash partitioning (kg/graph.py) which
targets pruned reads rather than join co-location."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from csv_to_jsonld_processor_spark.session import get_spark

    return get_spark("bucketed-join")


def test_bucketed_join_needs_no_exchange(spark, tmp_path):
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )

    # one writer task -> one file per bucket, so sortBy order survives
    # and the scan is exchange-free AND sort-free
    (
        orders.coalesce(1)
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(tmp_path / "b_orders"))
        .mode("overwrite")
        .saveAsTable("b_orders")
    )
    (
        lineitem.coalesce(1)
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(tmp_path / "b_lineitem"))
        .mode("overwrite")
        .saveAsTable("b_lineitem")
    )
    # simulate the big-big case this technique exists for: at test scale
    # the planner would rather broadcast (and rightly disables bucketed
    # scans for it) — at 100 TB neither side fits, so turn broadcast off
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            spark.table("b_orders").o_orderkey == spark.table("b_lineitem").l_orderkey,
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "bucketed join still shuffles:\n" + plan
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan

        # same rows as the shuffled plan on the raw parquet
        expected = orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        ).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
