"""Skyline operator (plans/relational4.py parts_skyline): brute-force
dominance check + the tie semantics the sort-filter lowering must keep."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark, load_tables


@pytest.fixture(scope="module")
def spark():
    return get_spark("skyline")


def test_skyline_matches_brute_force_dominance(spark):
    from csv_to_jsonld_processor_spark.plans.relational4 import parts_skyline

    sf = "/root/testdata/sf0.001"
    rows = [
        (r.p_partkey, r.p_retailprice, r.p_size)
        for r in load_tables(spark, sf)["part"]
        .select("p_partkey", "p_retailprice", "p_size").collect()
    ]

    def dominated(a, b):  # b dominates a: cheaper-or-equal AND bigger-or-equal,
        return (          # strictly better somewhere
            b[1] <= a[1] and b[2] >= a[2] and (b[1] < a[1] or b[2] > a[2])
        )

    expected = {a for a in rows if not any(dominated(a, b) for b in rows)}
    got = {tuple(r) for r in parts_skyline(spark, sf).collect()}
    assert got == {(k, p, s) for k, p, s in expected}
    assert got, "empty skyline — vacuous"
    # frontier is strictly monotone: sorted by price, sizes strictly grow
    # except among exact (price, size) ties
    srt = sorted(got, key=lambda r: (r[1], -r[2]))
    dedup = []
    for _k, p, s in srt:
        if not dedup or (p, s) != dedup[-1]:
            dedup.append((p, s))
    assert all(b[1] > a[1] for a, b in zip(dedup, dedup[1:]))


def test_association_rules_match_bruteforce(spark):
    """Top-rule supports/confidences must equal a brute-force Python
    recount of the baskets (independent of both engines)."""
    from collections import Counter
    from itertools import combinations

    from csv_to_jsonld_processor_spark.plans.relational4 import (
        BASKET_MINSUP,
        orders_association_rules,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    sf = "/root/testdata/sf0.001"
    t = load_tables(spark, sf)
    rows = t["lineitem"].select("l_orderkey", "l_partkey").distinct().collect()
    baskets = {}
    for r in rows:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    supp = Counter(p for b in baskets.values() for p in b)
    pair = Counter()
    for b in baskets.values():
        for x, y in combinations(sorted(b), 2):
            pair[(x, y)] += 1
    got = orders_association_rules(spark, sf).collect()
    assert len(got) > 0
    for r in got:
        a, c = r["antecedent"], r["consequent"]
        key = (min(a, c), max(a, c))
        assert pair[key] == r["supp_ab"] >= BASKET_MINSUP
        assert supp[a] == r["supp_a"] and supp[c] == r["supp_b"]
        assert abs(r["confidence"] - round(pair[key] / supp[a], 6)) < 1e-9
