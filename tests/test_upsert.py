"""merge_upsert row-level semantics: insert / update / unchanged
provenance, idempotent replays, and NULL-safe change detection (a
NULL→NULL column must not read as a change; NULL→value must)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from csv_to_jsonld_processor_spark.session import get_spark

    return get_spark("upsert")


def test_merge_upsert_provenance_and_null_safety(spark):
    from csv_to_jsonld_processor_spark.operators.upsert import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", None), (2, "b", 10.0), (3, "c", 30.0), (4, "d", None)],
        "k int, name string, val double",
    )
    delta = spark.createDataFrame(
        [
            (2, "b", 10.0),   # identical replay -> unchanged
            (3, "c", 99.0),   # value change -> updated
            (4, "d", 5.0),    # NULL -> value  -> updated
            (5, "e", 1.0),    # new key        -> inserted
        ],
        "k int, name string, val double",
    )
    rows = {
        r.k: (r.name, r.val, r._merge_status)
        for r in merge_upsert(base, delta, "k").collect()
    }
    assert rows[1] == ("a", None, "unchanged")  # not in delta
    assert rows[2] == ("b", 10.0, "unchanged")  # idempotent replay
    assert rows[3] == ("c", 99.0, "updated")
    assert rows[4] == ("d", 5.0, "updated")     # NULL -> value is a change
    assert rows[5] == ("e", 1.0, "inserted")
    assert len(rows) == 5


def test_merge_upsert_properties_randomized(spark):
    """Seeded randomized property check over small key spaces: merged
    keys = base ∪ delta; delta rows always win; provenance is exactly
    determined by key membership + row equality."""
    import random

    from csv_to_jsonld_processor_spark.operators.upsert import merge_upsert

    for seed in range(5):
        rng = random.Random(seed)
        keys = range(12)
        base = {k: (f"n{rng.randint(0, 3)}", float(rng.randint(0, 3))) for k in keys if rng.random() < 0.7}
        delta = {k: (f"n{rng.randint(0, 3)}", float(rng.randint(0, 3))) for k in keys if rng.random() < 0.7}
        bdf = spark.createDataFrame(
            [(k, *v) for k, v in base.items()], "k int, name string, val double"
        )
        ddf = spark.createDataFrame(
            [(k, *v) for k, v in delta.items()], "k int, name string, val double"
        )
        got = {r.k: (r.name, r.val, r._merge_status) for r in merge_upsert(bdf, ddf, "k").collect()}

        assert set(got) == set(base) | set(delta), f"seed {seed}: key set wrong"
        for k, (name, val, status) in got.items():
            expect_row = delta.get(k, base.get(k))
            assert (name, val) == expect_row, f"seed {seed} k={k}: delta must win"
            if k in delta and k not in base:
                assert status == "inserted"
            elif k not in delta:
                assert status == "unchanged"
            else:
                assert status == ("updated" if delta[k] != base[k] else "unchanged"), (
                    f"seed {seed} k={k}"
                )


def test_incremental_rollup_merge_is_order_invariant(spark):
    """IVM's correctness rests on the merge being a commutative monoid
    fold: merging the per-batch partial aggregates in reversed order
    must produce the identical MV (including the DECIMAL money sums —
    the column where a double accumulator would ULP-drift), and every
    batch must be non-empty so associativity is actually exercised."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.upsert import (
        IVM_BATCHES,
        _rollup_agg,
        merge_rollup,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.001")["events"]
    bucket = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % IVM_BATCHES
    deltas = [_rollup_agg(ev.where(bucket == b)) for b in range(IVM_BATCHES)]
    for d in deltas:
        assert d.count() > 0

    def fold(parts):
        mv = parts[0]
        for d in parts[1:]:
            mv = merge_rollup(mv, d)
        return {
            (r.day, r.event_type): (r.n_events, r.sum_value, r.min_value, r.max_value)
            for r in mv.collect()
        }

    assert fold(deltas) == fold(deltas[::-1])
