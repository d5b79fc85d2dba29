"""Source/sink format breadth beyond parquet+CSV+Excel: ORC and JSON
lines round-trip losslessly through the engine, and parquet schema
evolution (mergeSchema) widens without data loss — the ingestion
realities of a long-lived 100 TB lake where writers upgrade schemas
over time."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from csv_to_jsonld_processor_spark.session import get_spark

    return get_spark("formats")


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_orc_round_trip(spark, tmp_path):
    src = spark.read.parquet(f"{SF}/supplier.parquet")
    p = str(tmp_path / "supplier_orc")
    src.write.orc(p)
    back = spark.read.orc(p)
    assert back.schema == src.schema
    assert _rows(back) == _rows(src)


def test_json_lines_round_trip(spark, tmp_path):
    # timestamps survive via explicit schema on read (JSON has no
    # native timestamp type)
    src = spark.read.parquet(f"{SF}/orders.parquet")
    p = str(tmp_path / "orders_json")
    src.write.json(p)
    back = spark.read.schema(src.schema).json(p)
    assert _rows(back) == _rows(src)


def test_parquet_schema_evolution_merge(spark, tmp_path):
    from pyspark.sql import functions as F

    old = spark.read.parquet(f"{SF}/region.parquet")
    new = old.withColumn("r_population", F.col("r_regionkey") * 1000)
    p = str(tmp_path / "region_evolved")
    old.write.parquet(p)
    new.write.mode("append").parquet(p)

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == set(old.columns) | {"r_population"}
    assert merged.count() == 2 * old.count()
    # old-writer rows surface the new column as NULL, new-writer rows keep values
    assert merged.where("r_population IS NULL").count() == old.count()
    assert merged.where("r_population = r_regionkey * 1000").count() == old.count()


def test_corrupt_file_tolerance(spark, tmp_path):
    """Operational reality of a 100 TB lake: one rotted/truncated file
    must not kill a full-corpus job when ignoreCorruptFiles is on, and
    MUST fail loudly when it's off (silent data loss is worse than a
    crash — the flag is an explicit operator decision)."""
    src = spark.read.parquet(f"{SF}/region.parquet")
    p = str(tmp_path / "with_corrupt")
    src.write.parquet(p)
    with open(os.path.join(p, "part-corrupt.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a real parquet footer")

    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        assert spark.read.parquet(p).count() == src.count()
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")

    with pytest.raises(Exception):
        spark.read.parquet(p).count()


def test_split_proportions_and_stability(spark):
    """doc_train_val_test_split: the md5 gate must land near 90/5/5 and
    be bitwise-stable across repartitionings (the whole point of a
    hash gate vs rand())."""
    from csv_to_jsonld_processor_spark.operators.textops import doc_train_val_test_split

    out = {(r.split, r.lang): r.n_docs for r in doc_train_val_test_split(spark, "/root/testdata/sf0.1").collect()}
    by_split = {}
    for (split, _lang), n in out.items():
        by_split[split] = by_split.get(split, 0) + n
    total = sum(by_split.values())
    assert 0.86 <= by_split["train"] / total <= 0.94
    assert 0.02 <= by_split["val"] / total <= 0.08
    assert 0.02 <= by_split["test"] / total <= 0.08

    again = {(r.split, r.lang): r.n_docs for r in doc_train_val_test_split(spark, "/root/testdata/sf0.1").collect()}
    assert again == out
