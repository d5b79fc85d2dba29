"""Sketch aggregates: HLL distinct + approx quantiles verified in-plan
against exact twins (see operators/sketches.py module docstring for the
cross-engine oracle design)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    return get_spark("sketches")


def test_hll_within_tolerance_every_group(spark):
    from csv_to_jsonld_processor_spark.operators.sketches import events_daily_users_sketch

    rows = events_daily_users_sketch(spark, SF).collect()
    assert len(rows) == 30
    assert all(r.within_tol for r in rows)
    assert all(r.exact_users > 0 for r in rows)


def test_quantile_sketch_within_band_and_exact_is_rank_exact(spark):
    """within_tol holds for every event type, and the 'exact' column is
    truly the rank statistic: recompute p50/p90 by sorting the values in
    plain Python and compare bit-exactly."""
    import math

    from csv_to_jsonld_processor_spark.operators.sketches import (
        events_value_quantile_sketch,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    got = {r.event_type: r for r in events_value_quantile_sketch(spark, SF).collect()}
    assert got and all(r.within_tol for r in got.values())

    vals = {}
    for r in load_tables(spark, SF)["events"].select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    for et, xs in vals.items():
        xs.sort()
        p50 = round(xs[math.ceil(len(xs) * 0.5) - 1], 6)
        p90 = round(xs[math.ceil(len(xs) * 0.9) - 1], 6)
        assert (got[et].p50, got[et].p90) == (p50, p90), et


def test_cms_never_underestimates_and_is_tight_here(spark):
    """The Count-Min guarantee (estimate >= exact, always) must hold for
    every probed item, and at 500 users x 4x64 counters the top-10
    estimates should be within the classic eps*N bound."""
    from csv_to_jsonld_processor_spark.operators.sketches import (
        CMS_WIDTH,
        events_heavy_hitters_cms,
    )

    rows = events_heavy_hitters_cms(spark, SF).collect()
    assert len(rows) == 10
    assert all(r.never_under for r in rows)
    n_total = 10_000  # sf0.01 events table size
    for r in rows:
        assert r.cms_estimate == r.exact_n + r.overcount
        assert r.overcount <= (2.0 * n_total) / CMS_WIDTH  # e/W * N style bound


def test_bloom_semijoin_matches_python_and_theory(spark):
    """Independent Python Bloom recompute (hashlib only) must agree
    with the engine exactly; the filter must have ZERO false negatives
    (the Bloom guarantee — every true key passes), and the realized
    false-positive rate must sit within 2x the (1-e^{-kn/m})^k theory
    bound, i.e. the filter is actually working, not saturated."""
    import duckdb
    import hashlib
    import math

    from csv_to_jsonld_processor_spark.operators.sketches import (
        BLOOM_B,
        BLOOM_K,
        BLOOM_M,
        orders_bloom_semijoin,
    )

    got = orders_bloom_semijoin(spark, SF).collect()[0]

    con = duckdb.connect()
    sel = {
        str(k)
        for (k,) in con.execute(
            f"SELECT DISTINCT o_orderkey FROM read_parquet('{SF}/orders.parquet') "
            "WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01' "
            "AND o_orderpriority = '1-URGENT'"
        ).fetchall()
    }
    probe = {
        str(k): n
        for k, n in con.execute(
            f"SELECT l_orderkey, COUNT(*) FROM read_parquet('{SF}/lineitem.parquet') GROUP BY 1"
        ).fetchall()
    }

    def positions(key):
        return [
            int(hashlib.md5(f"b{i}:{key}".encode()).hexdigest()[:8], 16) % BLOOM_M
            for i in range(BLOOM_K)
        ]

    words = [0] * (BLOOM_M // BLOOM_B + 1)
    for k in sel:
        for p in positions(k):
            words[p // BLOOM_B] |= 1 << (p % BLOOM_B)
    passed = {
        k for k in probe if all(words[p // BLOOM_B] >> (p % BLOOM_B) & 1 for p in positions(k))
    }
    true_in_probe = sel & set(probe)  # orders without lineitems never probe
    assert true_in_probe <= passed, "Bloom filters never have false negatives"
    assert (got.n_probe_keys, got.n_true_keys, got.n_pass_keys) == (
        len(probe), len(true_in_probe), len(passed))
    assert got.n_pass_rows == sum(probe[k] for k in passed)
    theory = (1 - math.exp(-BLOOM_K * len(sel) / BLOOM_M)) ** BLOOM_K
    realized = got.n_false_pos_keys / (got.n_probe_keys - got.n_true_keys)
    assert realized <= 2 * theory + 0.01, (realized, theory)
    assert got.n_pass_rows * 5 < got.n_probe_rows, "reduction must be real"


def test_exact_median_matches_sorted_selection(spark):
    """Brute-force: sort each type's quantized values and index the
    rank directly — the domain-compressed window selection must agree."""
    import math

    from csv_to_jsonld_processor_spark.operators.sketches import (
        events_exact_median,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    sf = "/root/testdata/sf0.001"
    rows = load_tables(spark, sf)["events"].select("event_type", "value").collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(round(r.value * 100))
    expected = {}
    for t, vs in by_type.items():
        vs.sort()
        n = len(vs)
        expected[t] = (n, vs[math.ceil(n / 2) - 1],
                       vs[math.ceil(n * 9 / 10) - 1])
    got = {r.event_type: (r.n, r.median_cents, r.p90_cents)
           for r in events_exact_median(spark, sf).collect()}
    assert got == expected


def test_kanonymity_matches_python_replay(spark):
    from collections import Counter, defaultdict

    from csv_to_jsonld_processor_spark.operators.sketches import (
        KANON_BUCKET,
        customer_kanonymity,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    sf = "/root/testdata/sf0.001"
    import math

    rows = load_tables(spark, sf)["customer"].select(
        "c_nationkey", "c_acctbal", "c_mktsegment"
    ).collect()
    seg = defaultdict(set)
    size = Counter()
    for r in rows:
        k = (r.c_nationkey, math.floor(r.c_acctbal / KANON_BUCKET))
        size[k] += 1
        seg[k].add(r.c_mktsegment)
    by_sz = defaultdict(lambda: [0, 99])
    for k, n in size.items():
        by_sz[n][0] += 1
        by_sz[n][1] = min(by_sz[n][1], len(seg[k]))
    expected = {n: (c, n * c, l) for n, (c, l) in by_sz.items()}
    got = {r.class_size: (r.n_classes, r.n_rows, r.min_l_diversity)
           for r in customer_kanonymity(spark, sf).collect()}
    assert got == expected
    # the audit must expose a re-identification surface at this scale
    assert min(got) <= 2, "no small equivalence classes — audit vacuous"
    assert any(v[2] == 1 for v in got.values()) or min(got) == 1
