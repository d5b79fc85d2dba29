"""Snapshot/time-travel table layer (operators/snapshots.py): commit
protocol, pinned-id isolation, the crash-between-write-and-flip window,
and upsert semantics."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark("snapshots")


def test_commit_read_time_travel_upsert(spark, tmp_path):
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        current_snapshot_id,
        read_snapshot,
        snapshot_ids,
        upsert_snapshot,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    cust = load_tables(spark, SF)["customer"].select("c_custkey", "c_acctbal")
    d = str(tmp_path / "t")
    assert read_snapshot(spark, d) is None and snapshot_ids(d) == []

    base = cust.where(F.col("c_custkey") % 2 == 0)
    assert commit_snapshot(spark, base, d) == 0
    n0 = read_snapshot(spark, d).count()
    assert n0 == base.count() > 0

    delta = cust.where(F.col("c_custkey") % 4 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(5.0)
    )
    assert upsert_snapshot(spark, d, delta, "c_custkey") == 1
    assert snapshot_ids(d) == [0, 1] and current_snapshot_id(d) == 1

    # snapshot 0 is still byte-stable after the upsert (time travel)
    assert read_snapshot(spark, d, 0).count() == n0
    # upsert applied delta-wins, carried the rest forward
    after = read_snapshot(spark, d, 1)
    assert after.count() == n0  # %4==0 keys are all already in %2==0
    bumped = after.join(delta.select("c_custkey"), "c_custkey").count()
    assert bumped == delta.count()
    # uncommitted/uncommittable ids are refused
    with pytest.raises(ValueError):
        read_snapshot(spark, d, 2)


def test_crash_between_write_and_flip(spark, tmp_path):
    """The commit's crash window: generation dir fully written, pointer
    NOT flipped. Readers must keep seeing the old snapshot, the orphan
    must be invisible through every API, and the retried commit must
    reuse the orphan id and succeed."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        _snap_dir,
        commit_snapshot,
        current_snapshot_id,
        read_snapshot,
        snapshot_ids,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    cust = load_tables(spark, SF)["customer"].select("c_custkey", "c_acctbal")
    d = str(tmp_path / "t")
    commit_snapshot(spark, cust.limit(50), d)

    # simulate the crash: write gen-1 WITHOUT flipping CURRENT
    next_df = cust.limit(80)
    next_df.write.mode("overwrite").parquet(_snap_dir(d, 1))
    assert os.path.isdir(_snap_dir(d, 1))  # orphan on disk...
    assert current_snapshot_id(d) == 0  # ...but not committed
    assert snapshot_ids(d) == [0]  # not listed
    assert read_snapshot(spark, d).count() == 50  # readers unaffected
    with pytest.raises(ValueError):
        read_snapshot(spark, d, 1)  # pinning the orphan is refused

    # retry: same id is reused, commit completes, table advances
    assert commit_snapshot(spark, next_df, d) == 1
    assert current_snapshot_id(d) == 1
    assert read_snapshot(spark, d).count() == 80
    assert read_snapshot(spark, d, 0).count() == 50


def test_expire_keeps_current_readable(spark, tmp_path):
    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        expire_snapshots,
        read_snapshot,
        snapshot_ids,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    cust = load_tables(spark, SF)["customer"].select("c_custkey")
    d = str(tmp_path / "t")
    for k in (10, 20, 30, 40):
        commit_snapshot(spark, cust.limit(k), d)
    assert expire_snapshots(d, keep_last=2) == [0, 1]
    assert snapshot_ids(d) == [2, 3]
    assert read_snapshot(spark, d).count() == 40
    assert read_snapshot(spark, d, 2).count() == 30
    with pytest.raises(ValueError):
        read_snapshot(spark, d, 0)


def test_manifest_pruning_skips_files(spark, tmp_path):
    """Iceberg-style file skipping: a snapshot written range-partitioned
    on the key carries per-file min/max in its manifest; a bounded read
    opens only the overlapping files and still returns exactly the
    full-scan answer."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        read_snapshot,
        read_snapshot_pruned,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    cust = load_tables(spark, SF)["customer"].select("c_custkey", "c_acctbal")
    d = str(tmp_path / "t")
    commit_snapshot(spark, cust.repartitionByRange(8, "c_custkey"), d)

    lo, hi = 10, 40
    pruned, n_read, n_total = read_snapshot_pruned(spark, d, "c_custkey", lo, hi)
    assert n_total == 8 and n_read < n_total  # files actually skipped
    full = read_snapshot(spark, d).where(F.col("c_custkey").between(lo, hi))
    assert {tuple(r) for r in pruned.collect()} == {tuple(r) for r in full.collect()}
    assert pruned.count() > 0

    # a column with no stats usable for the range → nothing pruned, never lossy
    _all, n_read2, n_total2 = read_snapshot_pruned(spark, d, "c_acctbal", -1e9, 1e9)
    assert n_read2 == n_total2


def test_mor_deletes_never_rewrite_base(spark, tmp_path):
    """Deletion vectors must leave the base data files byte-identical
    (mtime+size fingerprint), stack across deletes against the same
    base, keep time travel intact, and compaction must equal the MoR
    read exactly."""
    import os

    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        compact_mor,
        delete_rows_mor,
        read_snapshot_mor,
    )

    table = str(tmp_path / "t")
    df = spark.range(0, 1000).withColumn("v", (F.col("id") % 10).cast("int"))
    commit_snapshot(spark, df, table)

    def fingerprint():
        d = os.path.join(table, "snap-000000")
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)),
             os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d) if f.endswith(".parquet")
        )

    before = fingerprint()
    d1 = delete_rows_mor(spark, table, "v = 3")
    d2 = delete_rows_mor(spark, table, "id < 100")
    assert fingerprint() == before, "a MoR delete rewrote base data files"
    # overlay snapshots hold only a DV + BASE pointer, no data files
    for sid in (d1, d2):
        d = os.path.join(table, f"snap-{sid:06d}")
        assert os.path.exists(os.path.join(d, "BASE"))
        assert os.path.isdir(os.path.join(d, "dv"))
        assert not any(f.endswith(".parquet") for f in os.listdir(d))

    live1 = {r.id for r in read_snapshot_mor(spark, table, d1).collect()}
    live2 = {r.id for r in read_snapshot_mor(spark, table, d2).collect()}
    assert live1 == {i for i in range(1000) if i % 10 != 3}
    assert live2 == {i for i in range(1000) if i % 10 != 3 and i >= 100}
    # time travel to the pre-delete base still sees everything
    assert read_snapshot_mor(spark, table, 0).count() == 1000

    cid = compact_mor(spark, table)
    assert {r.id for r in read_snapshot_mor(spark, table, cid).collect()} == live2


def test_mor_update_then_delete_stacks_correctly(spark, tmp_path):
    """UPDATE moves rows to the insert-delta; a later DELETE must both
    tombstone base rows and filter the delta — and a deleted delta row
    must never resurface in any later read or the compaction."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        compact_mor,
        delete_rows_mor,
        read_snapshot_mor,
        update_rows_mor,
    )

    table = str(tmp_path / "t")
    df = spark.range(0, 200).withColumn("v", (F.col("id") % 10).cast("long"))
    commit_snapshot(spark, df, table)
    # update: v -> v + 100 where id % 4 == 0 (50 rows to the delta)
    u = update_rows_mor(spark, table, "id % 4 = 0", {"v": "v + 100"})
    got = {(r.id, r.v) for r in read_snapshot_mor(spark, table, u).collect()}
    expected = {(i, (i % 10) + (100 if i % 4 == 0 else 0)) for i in range(200)}
    assert got == expected
    # delete: v >= 100 — exactly the delta rows, plus nothing from base
    d = delete_rows_mor(spark, table, "v >= 100")
    got = {(r.id, r.v) for r in read_snapshot_mor(spark, table, d).collect()}
    expected = {(i, i % 10) for i in range(200) if i % 4 != 0}
    assert got == expected
    # a second update touching former-delta ids must not resurrect them
    u2 = update_rows_mor(spark, table, "id % 2 = 0", {"v": "v + 1000"})
    got = {(r.id, r.v) for r in read_snapshot_mor(spark, table, u2).collect()}
    expected = {(i, (i % 10) + (1000 if i % 2 == 0 else 0))
                for i in range(200) if i % 4 != 0}
    assert got == expected
    cid = compact_mor(spark, table)
    assert {(r.id, r.v) for r in
            read_snapshot_mor(spark, table, cid).collect()} == expected


def test_branch_refs_isolate_and_publish(spark, tmp_path):
    """Branch commits never move CURRENT; the global id allocator never
    collides a main commit with a branch generation; fast-forward is
    the only publish; the crash-orphan id REUSE rule still holds with
    refs present."""
    import os

    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        _snap_dir,
        commit_snapshot,
        commit_to_ref,
        current_snapshot_id,
        fast_forward,
        read_ref,
        read_snapshot,
        ref_snapshot_id,
    )

    table = str(tmp_path / "t")
    commit_snapshot(spark, spark.range(10), table)              # snap 0, main
    bid = commit_to_ref(spark, spark.range(20), table, "audit")  # snap 1, branch
    assert bid == 1 and current_snapshot_id(table) == 0
    assert read_snapshot(spark, table).count() == 10
    assert read_ref(spark, table, "audit").count() == 20

    # a main commit while the branch exists must NOT collide with snap 1
    mid = commit_snapshot(spark, spark.range(30), table)
    assert mid == 2 and read_ref(spark, table, "audit").count() == 20

    fast_forward(table, "audit")
    assert current_snapshot_id(table) == 1
    assert read_snapshot(spark, table).count() == 20

    # crash-orphan reuse still works: fake an unreferenced top dir
    spark.range(5).write.parquet(_snap_dir(table, 3))
    nid = commit_snapshot(spark, spark.range(7), table)
    assert nid == 3 and read_snapshot(spark, table).count() == 7
    assert ref_snapshot_id(table, "audit") == 1


def test_changelog_fast_path_equals_full_diff(spark, tmp_path):
    """read_changes over a MoR overlay chain (the O(delta) path) must
    produce the same multiset of (change_type, row) as the O(table)
    exceptAll fallback computed from the two materialized snapshots —
    and an update interval must pair its deletes/inserts exactly."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        delete_rows_mor,
        read_changes,
        read_snapshot_mor,
        update_rows_mor,
    )

    table = str(tmp_path / "t")
    base = spark.range(100).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    commit_snapshot(spark, base, table)
    u = update_rows_mor(spark, table, "k % 3 = 0", {"v": "v + 100.0"})
    d = delete_rows_mor(spark, table, "v < 2")

    for lo, hi in [(0, u), (u, d), (0, d)]:
        ch = read_changes(spark, table, lo, hi)
        f_lo = read_snapshot_mor(spark, table, lo)
        f_hi = read_snapshot_mor(spark, table, hi)
        want_del = [tuple(r) for r in sorted(f_lo.exceptAll(f_hi).collect())]
        want_ins = [tuple(r) for r in sorted(f_hi.exceptAll(f_lo).collect())]
        got_del = [
            tuple(r)[:-1]
            for r in sorted(ch.where("_change_type = 'delete'").collect())
        ]
        got_ins = [
            tuple(r)[:-1]
            for r in sorted(ch.where("_change_type = 'insert'").collect())
        ]
        assert got_del == want_del, (lo, hi)
        assert got_ins == want_ins, (lo, hi)

    # update interval: deletes and inserts pair on key, values 100 apart
    ch_u = read_changes(spark, table, 0, u)
    dels = {r["k"]: r["v"] for r in ch_u.where("_change_type='delete'").collect()}
    inss = {r["k"]: r["v"] for r in ch_u.where("_change_type='insert'").collect()}
    assert set(dels) == set(inss) == {k for k in range(100) if k % 3 == 0}
    assert all(inss[k] == dels[k] + 100.0 for k in dels)


def test_changelog_delete_interval_reads_only_named_base_files(spark, tmp_path):
    """The O(delta) claim: the delete-interval changelog touches only
    the base files the new tombstones name.  With the base written as
    many files and a delete hitting one key, the fast path must return
    exactly that row without materializing either snapshot."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        delete_rows_mor,
        read_changes,
    )

    table = str(tmp_path / "t")
    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).repartition(16)
    commit_snapshot(spark, base, table)
    d = delete_rows_mor(spark, table, "k = 777")
    ch = read_changes(spark, table, 0, d).collect()
    assert len(ch) == 1
    assert ch[0]["k"] == 777 and ch[0]["_change_type"] == "delete"


def test_schema_evolution_rename_add_drop_by_field_id(spark, tmp_path):
    """Rename is a metadata-only commit (no data files in the evolution
    snapshot dir); old segments surface the renamed column over the
    same bytes; added columns back-fill as typed NULLs; dropped columns
    vanish from the projection; time travel to snapshot 0 restores the
    ORIGINAL names."""
    import os

    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        _snap_dir,
        append_evolved,
        commit_snapshot_evolved,
        evolve_schema,
        read_snapshot_evolved,
    )

    table = str(tmp_path / "t")
    v1 = spark.range(50).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("amount"),
        (F.col("id") % 3).cast("string").alias("grp"),
    )
    commit_snapshot_evolved(spark, v1, table)
    ev = evolve_schema(
        table, rename={"amount": "total"}, add=[("note", "string")]
    )
    assert sorted(os.listdir(_snap_dir(table, ev))) == ["_parent", "_schema.json"]

    v2 = spark.range(50, 60).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.0).alias("total"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.lit("new").alias("note"),
    )
    append_evolved(spark, v2, table)

    cur = read_snapshot_evolved(spark, table)
    assert cur.columns == ["k", "total", "grp", "note"]
    assert cur.count() == 60
    # rename re-binds the same physical column: v1 rows keep their values
    row = {r["k"]: r for r in cur.collect()}
    assert row[10]["total"] == 15.0 and row[10]["note"] is None
    assert row[55]["total"] == 110.0 and row[55]["note"] == "new"

    # time travel: snapshot 0 keeps the ORIGINAL schema over the data
    old = read_snapshot_evolved(spark, table, 0)
    assert old.columns == ["k", "amount", "grp"]
    assert old.count() == 50

    # drop: the column disappears from the projection for ALL segments
    evolve_schema(table, drop=["grp"])
    dropped = read_snapshot_evolved(spark, table)
    assert dropped.columns == ["k", "total", "note"]
    assert dropped.count() == 60


def test_schema_evolution_rejects_bad_ops(spark, tmp_path):
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        append_evolved,
        commit_snapshot_evolved,
        evolve_schema,
    )

    table = str(tmp_path / "t")
    commit_snapshot_evolved(
        spark, spark.range(5).select(F.col("id").alias("k")), table
    )
    with pytest.raises(ValueError):
        evolve_schema(table, rename={"nope": "x"})
    with pytest.raises(ValueError):
        evolve_schema(table, add=[("k", "string")])
    with pytest.raises(ValueError):
        append_evolved(
            spark,
            spark.range(3).select(F.col("id").alias("unknown_col")),
            table,
        )


def test_maintain_agg_from_changes_exact_across_batches(spark, tmp_path):
    """Folding N changelog batches into a materialized aggregate must
    equal re-aggregating the final snapshot EXACTLY (decimal
    discipline), including groups that retire to n=0 and groups born
    after the base aggregate."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        delete_rows_mor,
        maintain_agg_from_changes,
        read_changes,
        read_snapshot_mor,
        update_rows_mor,
    )

    table = str(tmp_path / "t")
    base = spark.range(90).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 0.25).alias("v"),
    )
    commit_snapshot(spark, base, table)
    agg = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("v").cast("decimal(18,4)")).cast("decimal(18,4)")
        .alias("sum_v"),
    )
    # batch 1: group migration — rows move from g='2' into a NEW group
    u = update_rows_mor(spark, table, "g = '2' AND k < 50",
                        {"g": "'9'", "v": "v + 5.0"})
    agg = maintain_agg_from_changes(
        agg, read_changes(spark, table, 0, u), ["g"], ["v"])
    # batch 2: retire group '0' entirely
    d = delete_rows_mor(spark, table, "g = '0'")
    agg = maintain_agg_from_changes(
        agg, read_changes(spark, table, u, d), ["g"], ["v"])

    direct = read_snapshot_mor(spark, table, d).groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("v").cast("decimal(18,4)")).cast("decimal(18,4)")
        .alias("sum_v"),
    )
    got = {r["g"]: (r["n"], r["sum_v"]) for r in agg.collect()}
    want = {r["g"]: (r["n"], r["sum_v"]) for r in direct.collect()}
    assert got == want
    assert "0" not in got and "9" in got


def test_merge_rows_mor_upsert_replay_and_stack(spark, tmp_path):
    """MERGE-on-read: matched rows replaced wholesale, unmatched
    inserted, base files untouched; replaying the identical batch is a
    no-op; a second merge stacks on the overlay; time travel to the
    pre-merge snapshot still works."""
    import os

    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        _snap_dir,
        commit_snapshot,
        merge_rows_mor,
        read_snapshot_mor,
    )

    table = str(tmp_path / "t")
    base = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 10.0).alias("v")
    )
    commit_snapshot(spark, base, table)
    files_before = sorted(os.listdir(_snap_dir(table, 0)))

    batch = spark.createDataFrame(
        [(5, 999.0), (7, 888.0), (100, 1.0)], "k long, v double"
    )
    m1 = merge_rows_mor(spark, table, batch, "k")
    got = {r["k"]: r["v"] for r in read_snapshot_mor(spark, table, m1).collect()}
    assert got[5] == 999.0 and got[7] == 888.0 and got[100] == 1.0
    assert got[3] == 30.0 and len(got) == 21
    assert sorted(os.listdir(_snap_dir(table, 0))) == files_before

    m2 = merge_rows_mor(spark, table, batch, "k")  # replay
    s1 = read_snapshot_mor(spark, table, m1)
    s2 = read_snapshot_mor(spark, table, m2)
    assert s2.count() == 21 and s1.exceptAll(s2).count() == 0

    batch2 = spark.createDataFrame([(100, 2.0), (200, 3.0)], "k long, v double")
    m3 = merge_rows_mor(spark, table, batch2, "k")
    got3 = {r["k"]: r["v"] for r in read_snapshot_mor(spark, table, m3).collect()}
    assert got3[100] == 2.0 and got3[200] == 3.0 and len(got3) == 22
    # pre-merge time travel intact
    assert read_snapshot_mor(spark, table, 0).count() == 20


def test_expire_protects_live_overlay_base_and_vacuum_gc(spark, tmp_path):
    """expire_snapshots must never delete the BASE a surviving MoR
    overlay reads through; vacuum_orphans removes only uncommitted
    unreferenced generations above CURRENT; a changelog across a
    compaction (full rewrite of identical rows) is empty."""
    import os

    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        _snap_dir,
        commit_snapshot,
        compact_mor,
        delete_rows_mor,
        expire_snapshots,
        read_changes,
        read_snapshot_mor,
        vacuum_orphans,
    )

    table = str(tmp_path / "t")
    base = spark.range(50).select(F.col("id").alias("k"))
    commit_snapshot(spark, base, table)          # snap 0 (data)
    d1 = delete_rows_mor(spark, table, "k % 5 = 0")   # snap 1 (overlay on 0)
    d2 = delete_rows_mor(spark, table, "k % 7 = 0")   # snap 2 (overlay on 0)

    victims = expire_snapshots(table, keep_last=1)
    assert victims == [1]                         # 0 is snap 2's BASE — kept
    assert os.path.isdir(_snap_dir(table, 0))
    assert read_snapshot_mor(spark, table, d2).count() == 50 - 10 - 7 + 1

    # compaction produces NO changes (same rows, new files)
    cid = compact_mor(spark, table)
    assert read_changes(spark, table, d2, cid).count() == 0

    # an abandoned uncommitted generation above CURRENT gets vacuumed
    spark.range(5).write.parquet(_snap_dir(table, 90))
    spark.range(6).write.parquet(_snap_dir(table, 91))
    assert vacuum_orphans(table) == [90, 91]
    assert not os.path.isdir(_snap_dir(table, 90))
    assert read_snapshot_mor(spark, table, cid).count() == 34


def test_bloom_index_no_false_negatives_and_prunes(spark, tmp_path):
    """Every present key must be found through the bloom (no false
    negatives — the lossless contract); an absent key should read
    far fewer files than the total; a column without a sidecar reads
    everything but still answers correctly."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        build_bloom_index,
        commit_snapshot,
        read_point_lookup,
    )

    table = str(tmp_path / "t")
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    ).repartition(20)
    commit_snapshot(spark, df, table)
    n_files = build_bloom_index(spark, table, "k")
    assert n_files == 20

    for probe in [0, 777, 1999]:
        got, files_read, files_total = read_point_lookup(spark, table, "k", probe)
        rows = got.collect()
        assert len(rows) == 1 and rows[0]["k"] == probe
        assert files_read < files_total  # pruning actually happened

    # absent key: usually zero files survive the bloom
    got, files_read, files_total = read_point_lookup(spark, table, "k", 10**9)
    assert got.count() == 0 and files_read <= 2

    # no sidecar for this column → full read, correct result
    got, files_read, files_total = read_point_lookup(spark, table, "v", 5)
    assert files_read == files_total and got.count() > 0


def test_table_layer_model_fuzz(spark, tmp_path):
    """Model-based fuzz of the MoR lifecycle: a seeded random sequence
    of update/delete/merge/compact against both the real table and an
    in-memory dict model — after EVERY op the merge-on-read view must
    equal the model exactly, and the changelog of the op must equal
    the model diff (old images as deletes, new as inserts). Values are
    exact binary fractions so float equality is sound."""
    import random

    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        compact_mor,
        delete_rows_mor,
        merge_rows_mor,
        read_changes,
        read_snapshot_mor,
        update_rows_mor,
    )

    for seed in (11, 23):
        rng = random.Random(seed)
        table = str(tmp_path / f"t{seed}")
        model = {k: float(k % 8) * 0.5 for k in range(120)}
        base = spark.createDataFrame(
            [(k, v) for k, v in model.items()], "k long, v double"
        ).repartition(6)
        prev = commit_snapshot(spark, base, table)

        for _step in range(8):
            op = rng.choice(["upd", "del", "merge", "compact"])
            before = dict(model)
            if op == "upd":
                a, b = rng.randint(2, 7), rng.randint(0, 3)
                c = float(rng.randint(1, 20))
                cur = update_rows_mor(
                    spark, table, f"k % {a} = {b}", {"v": f"v + {c}"}
                )
                for k in model:
                    if k % a == b:
                        model[k] = model[k] + c
            elif op == "del":
                if rng.random() < 0.5:
                    thr = float(rng.randint(1, 10)) * 0.5
                    cur = delete_rows_mor(spark, table, f"v < {thr}")
                    model = {k: v for k, v in model.items() if not v < thr}
                else:
                    a, b = rng.randint(3, 9), rng.randint(0, 2)
                    cur = delete_rows_mor(spark, table, f"k % {a} = {b}")
                    model = {k: v for k, v in model.items() if k % a != b}
            elif op == "merge":
                keys = rng.sample(range(200), rng.randint(1, 10))
                batch = [(k, float(rng.randint(0, 40)) * 0.25) for k in keys]
                cur = merge_rows_mor(
                    spark,
                    table,
                    spark.createDataFrame(batch, "k long, v double"),
                    "k",
                )
                model.update(dict(batch))
            else:
                cur = compact_mor(spark, table)

            got = {
                (r["k"], r["v"])
                for r in read_snapshot_mor(spark, table, cur).collect()
            }
            assert got == set(model.items()), (seed, _step, op)

            ch = read_changes(spark, table, prev, cur).collect()
            want_del = {
                (k, before[k]) for k in before
                if k not in model or model[k] != before[k]
            }
            want_ins = {
                (k, model[k]) for k in model
                if k not in before or model[k] != before[k]
            }
            got_del = {(r["k"], r["v"]) for r in ch if r["_change_type"] == "delete"}
            got_ins = {(r["k"], r["v"]) for r in ch if r["_change_type"] == "insert"}
            # a MERGE that rewrites a row with the identical value is a
            # PHYSICAL delete+insert pair but a logical no-op — compare
            # after cancelling such pairs (Delta CDF makes the same
            # physical-vs-logical distinction via update_pre/postimage)
            assert got_del - got_ins == want_del, (seed, _step, op)
            assert got_ins - got_del == want_ins, (seed, _step, op)
            prev = cur


def test_partition_evolution_per_segment_specs(spark, tmp_path):
    """Each segment prunes under ITS OWN spec: the unpartitioned v1
    segment full-scans, the partitioned v2 segment contributes one
    hive dir; a rename AFTER the partitioned append still resolves the
    physical directory name via field ids; results equal the unpruned
    filter; old files are never rewritten by the spec change."""
    import os

    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        _snap_dir,
        append_evolved,
        commit_snapshot_evolved,
        evolve_schema,
        read_evolved_pruned_eq,
        read_snapshot_evolved,
    )

    table = str(tmp_path / "t")
    v1 = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("string").alias("g")
    )
    commit_snapshot_evolved(spark, v1, table)
    files_v1 = sorted(os.listdir(_snap_dir(table, 0)))
    v2 = spark.range(40, 80).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("string").alias("g")
    )
    append_evolved(spark, v2, table, partition_by=["g"])
    assert sorted(os.listdir(_snap_dir(table, 0))) == files_v1

    evolve_schema(table, rename={"g": "grp"})
    pruned, dirs_read, dirs_total = read_evolved_pruned_eq(
        spark, table, "grp", "2"
    )
    # v1 counts 1 dir (full scan); v2 has 4 hive dirs, 1 read
    assert (dirs_read, dirs_total) == (2, 5)
    want = {
        r["k"]
        for r in read_snapshot_evolved(spark, table)
        .where(F.col("grp") == "2").collect()
    }
    assert {r["k"] for r in pruned.collect()} == want and len(want) == 20

    # pruning on a non-partition column: everything scanned, still right
    got, dr, dt = read_evolved_pruned_eq(spark, table, "k", 42)
    assert dr == dt and [r["k"] for r in got.collect()] == [42]


def test_register_snapshot_view_sql_over_lake(spark, tmp_path):
    """spark.sql over mounted snapshots: a pinned-id view is frozen
    (later commits don't move it), the CURRENT view resolves MoR
    overlays, and a ref view reads the branch head."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        commit_to_ref,
        delete_rows_mor,
        register_snapshot_view,
    )

    table = str(tmp_path / "t")
    commit_snapshot(
        spark,
        spark.range(30).select(F.col("id").alias("k")),
        table,
    )
    register_snapshot_view(spark, table, "lake_v0", snapshot_id=0)
    delete_rows_mor(spark, table, "k % 3 = 0")
    register_snapshot_view(spark, table, "lake_cur")
    commit_to_ref(
        spark, spark.range(5).select(F.col("id").alias("k")), table, "audit"
    )
    register_snapshot_view(spark, table, "lake_audit", ref="audit")

    assert spark.sql("SELECT COUNT(*) c FROM lake_v0").first()["c"] == 30
    assert spark.sql("SELECT COUNT(*) c FROM lake_cur").first()["c"] == 20
    assert spark.sql("SELECT COUNT(*) c FROM lake_audit").first()["c"] == 5
    got = spark.sql(
        "SELECT SUM(v0.k) s FROM lake_v0 v0 LEFT ANTI JOIN lake_cur c USING (k)"
    ).first()["s"]
    assert got == sum(k for k in range(30) if k % 3 == 0)


def test_mor_edge_cases_noop_and_empty(spark, tmp_path):
    """Degenerate inputs stay well-formed: a no-match delete/update
    commits an empty-delta overlay that reads and changelogs as a
    no-op; an EMPTY merge batch neither tombstones nor inserts."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        delete_rows_mor,
        merge_rows_mor,
        read_changes,
        read_snapshot_mor,
        update_rows_mor,
    )

    table = str(tmp_path / "t")
    commit_snapshot(
        spark, spark.range(10).select(F.col("id").alias("k")), table
    )
    d = delete_rows_mor(spark, table, "k > 100")
    assert read_snapshot_mor(spark, table, d).count() == 10
    assert read_changes(spark, table, 0, d).count() == 0
    m = merge_rows_mor(
        spark, table, spark.range(0).select(F.col("id").alias("k")), "k"
    )
    assert read_snapshot_mor(spark, table, m).count() == 10
    assert read_changes(spark, table, d, m).count() == 0
    u = update_rows_mor(spark, table, "k < 0", {"k": "k"})
    assert read_snapshot_mor(spark, table, u).count() == 10


def test_partition_prune_only_on_first_spec_level(spark, tmp_path):
    """A column at a DEEPER spec level must NOT dir-prune (the hive
    path d/col=value only exists for level 0) — it falls back to a
    full segment scan and stays lossless."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        append_evolved,
        commit_snapshot_evolved,
        read_evolved_pruned_eq,
    )

    table = str(tmp_path / "t")
    v1 = spark.range(10).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("a"),
        (F.col("id") % 3).cast("string").alias("b"),
    )
    commit_snapshot_evolved(spark, v1, table)
    v2 = spark.range(10, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("a"),
        (F.col("id") % 3).cast("string").alias("b"),
    )
    append_evolved(spark, v2, table, partition_by=["a", "b"])

    # level-0 column prunes
    got, dr, dt = read_evolved_pruned_eq(spark, table, "a", "1")
    assert dr < dt and got.count() == sum(1 for k in range(40) if k % 2 == 1)
    # level-1 column must NOT prune, must stay lossless
    got, dr, dt = read_evolved_pruned_eq(spark, table, "b", "2")
    assert dr == dt
    assert got.count() == sum(1 for k in range(40) if k % 3 == 2)


def test_rollback_tags_head_and_allocator_respects_it(spark, tmp_path):
    """Rollback is one pointer flip; the abandoned head is tagged so
    the next commit allocates a FRESH id (never overwrites it), and
    roll-forward targets the tagged id; history reports the chain."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        delete_rows_mor,
        read_snapshot,
        read_snapshot_mor,
        rollback_to,
        snapshot_history,
    )

    table = str(tmp_path / "t")
    commit_snapshot(spark, spark.range(10).select(F.col("id").alias("k")), table)
    commit_snapshot(spark, spark.range(20).select(F.col("id").alias("k")), table)
    d = delete_rows_mor(spark, table, "k >= 15")          # snap 2, overlay on 1
    assert read_snapshot_mor(spark, table).count() == 15

    rollback_to(table, 0)
    assert read_snapshot(spark, table).count() == 10
    # new commit after rollback must NOT overwrite the abandoned head
    nid = commit_snapshot(
        spark, spark.range(7).select(F.col("id").alias("k")), table
    )
    assert nid == 3
    assert read_snapshot_mor(spark, table, d).count() == 15  # head intact

    rollback_to(table, d)                                  # roll forward
    assert read_snapshot_mor(spark, table).count() == 15

    kinds = {h["id"]: h["kind"] for h in snapshot_history(table)}
    assert kinds[0] == "data" and kinds[2] == "mor_overlay"


def test_optimistic_commit_detects_lost_update(spark, tmp_path):
    """CAS commits: a writer whose base snapshot was overtaken must get
    CommitConflict instead of silently clobbering the other writer's
    commit; the standard retry (re-read, re-apply) then succeeds; the
    loser's reserved generation is vacuumable garbage; distinct CAS
    writers never share an id."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        CommitConflict,
        commit_snapshot,
        read_snapshot,
        snapshot_history,
        snapshot_ids,
        vacuum_orphans,
    )

    table = str(tmp_path / "t")
    commit_snapshot(spark, spark.range(10).select(F.col("id").alias("k")), table)

    # writer A and writer B both base on snapshot 0; B lands first
    a_df = spark.range(20).select(F.col("id").alias("k"))
    b_df = spark.range(30).select(F.col("id").alias("k"))
    b_id = commit_snapshot(spark, b_df, table, expected_parent=0)
    assert b_id == 1 and read_snapshot(spark, table).count() == 30

    with _pytest.raises(CommitConflict):
        commit_snapshot(spark, a_df, table, expected_parent=0)
    # B's commit intact — no lost update
    assert read_snapshot(spark, table).count() == 30

    # A retries against the new head and wins a FRESH id
    a_id = commit_snapshot(spark, a_df, table, expected_parent=b_id)
    assert a_id > 2  # id 2 was burned by A's conflicted reservation
    assert read_snapshot(spark, table).count() == 20

    # A's conflicted reservation (id 2) now sits BELOW CURRENT, but its
    # RESERVED marker keeps the never-committed data out of every read
    # path: not listed, not historied, not readable by pinned id
    assert snapshot_ids(table) == [0, 1, a_id]
    assert [h["id"] for h in snapshot_history(table)] == [0, 1, a_id]
    with _pytest.raises(ValueError):
        read_snapshot(spark, table, 2)

    # ... and vacuum reclaims it even though 2 < CURRENT
    assert vacuum_orphans(table) == [2]
    assert not os.path.isdir(os.path.join(table, "snap-000002"))
    assert not os.path.exists(os.path.join(table, "RESERVED-000002"))
    assert snapshot_ids(table) == [0, 1, a_id]
    assert read_snapshot(spark, table).count() == 20


@pytest.mark.parametrize("writer", ["delete", "update", "merge"])
def test_overlay_writer_and_cas_commit_never_share_an_id(
    spark, tmp_path, monkeypatch, writer
):
    """A CAS commit that lands while a merge-on-read writer is writing
    its generation gets its OWN id: the overlay writer claimed its id
    under the commit lock before writing, so the CAS generation holds
    only the CAS rows (no BASE, dv or ins mixed in) and the overlay
    generation still reads back as its overlay of snapshot 0."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators import snapshots as S

    table = str(tmp_path / "t")
    S.commit_snapshot(spark, spark.range(10).select(F.col("id").alias("k")), table)
    parent = S.current_snapshot_id(table)
    cas_df = spark.range(100, 130).select(F.col("id").alias("k"))
    real_writes = S._parallel_parquet_writes
    cas = {}

    def racing_writes(*jobs):
        # the CAS writer commits before the overlay's own files land
        cas["id"] = S.commit_snapshot(spark, cas_df, table, expected_parent=parent)
        real_writes(*jobs)

    monkeypatch.setattr(S, "_parallel_parquet_writes", racing_writes)
    if writer == "delete":
        wid = S.delete_rows_mor(spark, table, "k >= 5")
        want = set(range(5))
    elif writer == "update":
        wid = S.update_rows_mor(spark, table, "k >= 5", {"k": "k + 100"})
        want = set(range(5)) | set(range(105, 110))
    else:
        src = spark.range(5, 15).select(F.col("id").alias("k"))
        wid = S.merge_rows_mor(spark, table, src, "k")
        want = set(range(15))

    assert cas["id"] != wid
    cas_dir = S._snap_dir(table, cas["id"])
    assert not {"BASE", "dv", "ins"} & set(os.listdir(cas_dir))
    assert {r["k"] for r in spark.read.parquet(cas_dir).collect()} == set(
        range(100, 130)
    )
    assert S._overlay_info(table, wid)[0] == parent
    assert {r["k"] for r in S.read_snapshot_mor(spark, table, wid).collect()} == want


def test_flip_lock_breaks_stale_never_live(tmp_path):
    """The commit lock breaks only a lock FILE older than timeout_s
    (a crashed holder), never a live holder's or a freshly acquired
    third party's — an expired waiter deadline alone proves nothing
    about the current holder."""
    import threading
    import time

    from csv_to_jsonld_processor_spark.operators.snapshots import _FlipLock

    table = str(tmp_path / "t")
    os.makedirs(table)
    lock_path = os.path.join(table, "COMMIT.lock")

    # stale lock (mtime backdated past timeout): broken and acquired
    open(lock_path, "w").close()
    os.utime(lock_path, (time.time() - 60, time.time() - 60))
    t0 = time.time()
    with _FlipLock(table, timeout_s=0.5):
        assert os.path.exists(lock_path)
    assert time.time() - t0 < 5  # did not wait for a full extra timeout cycle
    assert not os.path.exists(lock_path)

    # fresh lock: the waiter's deadline expiring must NOT delete a lock
    # file YOUNGER than timeout_s (the third-party-just-acquired case
    # the old unconditional unlink clobbered); the waiter acquires only
    # after the holder's own release
    open(lock_path, "w").close()
    acquired = threading.Event()

    def waiter():
        with _FlipLock(table, timeout_s=1.0):
            acquired.set()

    th = threading.Thread(target=waiter, daemon=True)
    th.start()
    time.sleep(0.5)
    now = time.time()
    os.utime(lock_path, (now, now))  # a new holder took over mid-wait
    time.sleep(0.8)  # waiter's original deadline (1.0 s) has expired
    assert not acquired.is_set()  # young lock survived the expired deadline
    assert os.path.exists(lock_path)
    os.unlink(lock_path)  # holder releases
    th.join(timeout=5)
    assert acquired.is_set()


def test_schema_evolution_model_fuzz(spark, tmp_path):
    """Seeded random walks over the evolution chain — append / rename /
    add-column — checked against an in-memory model after every op,
    plus time travel back to every fifth snapshot under THAT
    snapshot's schema (names AND rows)."""
    import random

    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        append_evolved,
        commit_snapshot_evolved,
        evolve_schema,
        read_snapshot_evolved,
    )

    for seed in (5, 17):
        rng = random.Random(seed)
        table = str(tmp_path / f"t{seed}")
        # model: list of column names + per-row dicts keyed by FIELD ID
        names = ["k", "v"]
        fids = {"k": 1, "v": 2}
        next_fid = 3
        rows = [{1: k, 2: float(k) * 0.5} for k in range(20)]
        v1 = spark.createDataFrame(
            [(r[1], r[2]) for r in rows], "k long, v double"
        )
        commit_snapshot_evolved(spark, v1, table)
        history = [(0, list(names))]
        next_k = 20

        for step in range(10):
            op = rng.choice(["append", "rename", "add"])
            if op == "rename":
                old = rng.choice(names)
                new = f"{old}_r{step}"
                evolve_schema(table, rename={old: new})
                fids[new] = fids.pop(old)
                names[names.index(old)] = new
            elif op == "add":
                new = f"c{step}"
                evolve_schema(table, add=[(new, "long")])
                fids[new] = next_fid
                next_fid += 1
                names.append(new)
            else:
                n_new = rng.randint(1, 5)
                batch_rows = []
                for _ in range(n_new):
                    r = {}
                    for c in names:
                        fid = fids[c]
                        if fid == 1:
                            r[fid] = next_k
                            next_k += 1
                        elif fid == 2:
                            r[fid] = float(rng.randint(0, 40))
                        else:
                            r[fid] = rng.randint(0, 9)
                    batch_rows.append(r)
                sdf = spark.createDataFrame(
                    [tuple(r[fids[c]] for c in names) for r in batch_rows],
                    ", ".join(
                        f"{c} {'long' if fids[c] != 2 else 'double'}"
                        for c in names
                    ),
                )
                append_evolved(spark, sdf, table)
                rows.extend(batch_rows)
            from csv_to_jsonld_processor_spark.operators.snapshots import (
                current_snapshot_id,
            )

            cur = current_snapshot_id(table)
            history.append((cur, list(names)))

            got = read_snapshot_evolved(spark, table)
            assert got.columns == names, (seed, step, op)
            want = {
                tuple(r.get(fids[c]) for c in names) for r in rows
            }
            assert {tuple(x) for x in got.collect()} == want, (seed, step, op)

        # time travel: every snapshot's OWN schema names resolve
        for sid, snap_names in history[::5]:
            old = read_snapshot_evolved(spark, table, sid)
            assert old.columns == snap_names, (seed, sid)


def test_maintain_table_compacts_expires_vacuums(spark, tmp_path):
    """One call bounds read amplification and reclaims space: a deep
    overlay chain triggers compaction, expiry honors dependencies,
    vacuum removes orphans, and the merge-on-read view is unchanged
    throughout."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.snapshots import (
        _snap_dir,
        commit_snapshot,
        delete_rows_mor,
        maintain_table,
        read_snapshot_mor,
        update_rows_mor,
    )

    table = str(tmp_path / "t")
    commit_snapshot(
        spark, spark.range(60).select(F.col("id").alias("k")), table
    )
    for i in range(4):  # overlay chain of 4 (> max 3)
        update_rows_mor(spark, table, f"k % 11 = {i}", {"k": "k"})
    delete_rows_mor(spark, table, "k >= 55")
    before = {r["k"] for r in read_snapshot_mor(spark, table).collect()}

    report = maintain_table(spark, table, max_overlay_chain=3, keep_last=2)
    assert report["compacted"] is True
    after = {r["k"] for r in read_snapshot_mor(spark, table).collect()}
    assert after == before

    # an orphan planted when no commit follows is vacuum's job (a
    # pre-commit orphan would instead be absorbed by the id-reuse rule)
    spark.range(3).write.parquet(_snap_dir(table, 90))
    report2 = maintain_table(spark, table, max_overlay_chain=3, keep_last=2)
    assert report2["compacted"] is False
    assert 90 in report2["vacuumed"]
    assert {r["k"] for r in read_snapshot_mor(spark, table).collect()} == before
