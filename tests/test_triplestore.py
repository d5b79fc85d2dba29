"""Triple-store layer: independent (non-oracle) invariants — hash-id
determinism vs a Python md5 recompute, sameAs resolution restoring the
canonical aggregation, and N-Quads checksum vs a driver-side recompute
on the golden edge file."""

import csv
import hashlib
import os
import sys
from collections import Counter, defaultdict

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark
from csv_to_jsonld_processor_spark.kg.queries import _GOLDEN_EDGES
from csv_to_jsonld_processor_spark.kg.triplestore import (
    kg_dictionary_encode,
    kg_nquads_export,
    kg_sameas_resolve,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark("triplestore")


def _golden_rows():
    with open(_GOLDEN_EDGES) as f:
        return list(csv.DictReader(f))


def _id60(term: str) -> int:
    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16)


def test_dictionary_ids_match_python_md5(spark):
    got = {r.pred: r for r in kg_dictionary_encode(spark, SF).collect()}
    rows = _golden_rows()
    assert set(got) == {r["pred"] for r in rows}
    per_pred = defaultdict(list)
    for r in rows:
        per_pred[r["pred"]].append(r)
    for pred, rs in per_pred.items():
        g = got[pred]
        assert g.p_id == _id60(pred)
        assert g.n_edges == len(rs)
        assert g.n_subj_ids == len({r["subj"] for r in rs})
        assert g.id_checksum == sum(
            _id60(r["subj"]) % 1_000_000 + _id60(r["obj"]) % 1_000_000 for r in rs
        )
        assert g.str_bytes == sum(len(r["subj"]) + len(r["pred"]) + len(r["obj"]) for r in rs)


def test_nquads_checksum_matches_recompute(spark):
    row = kg_nquads_export(spark, SF).collect()[0]
    lines = [
        f"<{r['subj']}> <{r['pred']}> <{r['obj']}> <{r['url']}> ."
        for r in _golden_rows()
    ]
    assert row.n_quads == len(lines)
    assert row.total_bytes == sum(len(l) + 1 for l in lines)
    assert row.checksum == sum(
        int(hashlib.md5(l.encode()).hexdigest()[:8], 16) for l in lines
    )
    assert row.first_line == min(lines) and row.last_line == max(lines)


def test_sameas_resolution_restores_canonical_counts(spark):
    """After alias perturbation + 2-hop resolution, the per-canonical-
    subject edge counts must equal the untouched golden aggregation,
    and at least one subject must have seen >1 surface form."""
    got = {r.subj: r for r in kg_sameas_resolve(spark, SF).collect()}
    want = Counter(r["subj"] for r in _golden_rows())
    assert {s: r.n_edges for s, r in got.items()} == dict(want)
    assert any(r.n_subj_forms > 1 for r in got.values()), "aliasing must trigger"
    assert all(not s.endswith(("#aka1", "#v2")) for s in got), "unresolved alias leaked"


def test_summary_graph_marginals_lossless(spark):
    """Quotient-graph edge counts must sum back to the full triple count
    (the summary is a lossless MARGINAL of the graph), and every
    subject class must appear — collapsing never drops a class."""
    from csv_to_jsonld_processor_spark.kg.triplestore import (
        kg_cardinality_est,
        kg_summary_graph,
    )
    from csv_to_jsonld_processor_spark.plans.fixture_queries import fixture_triples

    summ = kg_summary_graph(spark, SF).collect()
    n_triples = fixture_triples(spark, SF).count()
    assert sum(r.n_edges for r in summ) == n_triples
    n_classes = len({r.subj_class for r in summ})
    assert n_classes == 133  # schema-sized, pinned

    row = kg_cardinality_est(spark, SF).collect()[0]
    # CS estimator is EXACT for star queries; independence is not
    assert row.cs_est == row.actual_both == 235
    indep = row.indep_est_ppm / 1e6
    assert indep < row.actual_both / 2, "independence should undershoot >2x here"
