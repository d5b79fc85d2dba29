"""WL canonicalization properties the oracle hash can't see: the
canonical graph hash must be INVARIANT under blank-node renaming and
SENSITIVE to structural change; refinement must separate structurally
distinct blanks while keeping automorphic ones identical."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark

B1, B2, B3, B4 = ("a" * 64, "b" * 64, "c" * 64, "d" * 64)

# two automorphic blank stars (B1, B2) + one structurally different (B3):
# a chain B3 -> B4 that needs TWO rounds to separate B4's parent from the
# star roots (all four have one outgoing edge to something blank-or-leaf
# only distinguishable after the neighbor is colored).
GRAPH = [
    (B1, "has", "leaf"),
    (B2, "has", "leaf"),
    (B3, "has", B4),
    (B4, "has", "leaf"),
]


@pytest.fixture(scope="module")
def spark():
    return get_spark("canonical")


def _df(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def _hash(spark, rows):
    from csv_to_jsonld_processor_spark.kg.canonical import (
        canonical_graph_hash,
        wl_refine,
    )

    trips = _df(spark, rows)
    colors, _ = wl_refine(trips, rounds=3)
    return canonical_graph_hash(trips, colors).collect()[0].graph_hash


def test_automorphic_blanks_share_color_distinct_structure_separates(spark):
    from csv_to_jsonld_processor_spark.kg.canonical import wl_refine

    colors, counts = wl_refine(_df(spark, GRAPH), rounds=3)
    col = {r.n: r.col for r in colors.collect()}
    assert col[B1] == col[B2], "automorphic stars must stay same color"
    assert col[B3] != col[B1], "chain head is structurally distinct"
    assert col[B4] != col[B3] and col[B4] != col[B1]
    # round 0 all blanks identical; refinement strictly grows until stable
    cs = [c.collect()[0].c for c in counts]
    assert cs[0] == 1 and cs[-1] == 3 and sorted(cs) == cs


def test_canonical_hash_invariant_under_blank_renaming(spark):
    renamed = [
        (
            {"": ""}.get(s) or {B1: B3, B3: B2, B2: B1, B4: "e" * 64}.get(s, s),
            p,
            {B1: B3, B3: B2, B2: B1, B4: "e" * 64}.get(o, o),
        )
        for s, p, o in GRAPH
    ]
    assert _hash(spark, GRAPH) == _hash(spark, renamed)


def test_canonical_hash_sensitive_to_structure_and_ground_terms(spark):
    extra_edge = GRAPH + [(B1, "has", B4)]
    assert _hash(spark, GRAPH) != _hash(spark, extra_edge)
    ground_change = [(s, p, "leaf2" if o == "leaf" else o) for s, p, o in GRAPH]
    assert _hash(spark, GRAPH) != _hash(spark, ground_change)
