"""The query registry is loud: every family in ``_QUERY_FAMILIES`` is
imported, and a broken entry raises instead of dropping its queries."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry

# queries registered without the reference fixture corpus; update when
# a family gains or loses a query
N_QUERIES = 238


def test_registry_holds_every_family():
    from csv_to_jsonld_processor_spark.plans.fixture_queries import FIXTURE_QUERIES, FIXTURES

    names = set(entry._registry())
    assert len(names - set(FIXTURE_QUERIES)) == N_QUERIES
    assert {"kg_stream_edges", "kg_anchor_labels", "kg_webtext_edges"} <= names
    assert (set(FIXTURE_QUERIES) <= names) == os.path.isdir(FIXTURES)


def test_registry_missing_module_raises(monkeypatch):
    broken = entry._QUERY_FAMILIES + (("kg.no_such_module", "NO_QUERIES"),)
    monkeypatch.setattr(entry, "_QUERY_FAMILIES", broken)
    with pytest.raises(ImportError, match="no_such_module"):
        entry._registry()
