"""End-to-end web-text KG construction pipeline (north_star flow):

pages (Iceberg/parquet) → ONE mapInPandas stage (byte-pinned text
extraction → mention + triple extraction → entity linking against the
broadcast KB dict: ``link_pages``)
→ predicate canonicalization (@context literal map)
→ SHACL-style validation → entities/predicates/edges (+violations).
With ``out_dir`` the linked relation is a lazy local checkpoint, computed
once for every sink, so each page crosses into Python once.

``link_pages`` is the one place the extraction front end (predicate
surfaces, gazetteer, KB index) is derived from the KB and predicate
lists; the streaming jobs and the anchor-label query call it too.
``build_kg_resumable`` runs the same stages unfused, with join-based
linking, as per-partition ledgered stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.pages import ENTITIES, PREDICATES
from .mentions import extract_link_from_html, extract_mentions_from_html
from .graph import (
    canonicalize_edges,
    domain_range_rule,
    materialize_graph,
    node_iri_rule,
    predicate_context,
    validate_cardinality,
    validate_rows,
)
from .link import kb_alias_table, kb_index, link_mentions

DOMAIN_RANGE = {
    f"http://example.org/kg/terms/{canon}": (s_cls, o_cls)
    for _surface, canon, s_cls, o_cls in PREDICATES
}

# sh:maxCount: functional predicates — a person has one birth place, an
# org one headquarters. The synthetic generator draws each fact's object
# independently, so conflicting birthPlaces/headquarters occur and these
# fire as genuine data-quality findings (pytest pins that they do)
MAX_COUNTS = {
    "http://example.org/kg/terms/birthPlace": 1,
    "http://example.org/kg/terms/headquarters": 1,
}


def _all_violations(canon_viol: DataFrame, edges: DataFrame) -> DataFrame:
    """canonicalize's link/context rows + the SHACL-style checks on edges:
    the row rules (domain/range, node IRIs) as one projection, and
    cardinality, the one check that shuffles."""
    rows = validate_rows(edges, [domain_range_rule(DOMAIN_RANGE), node_iri_rule()])
    return canon_viol.unionByName(rows).unionByName(validate_cardinality(edges, MAX_COUNTS))


def _surfaces_and_gazetteer(
    entities: list[tuple], predicates: list[tuple]
) -> tuple[list[str], list[str]]:
    """The extraction front end: predicate surface phrases and entity aliases."""
    return [p[0] for p in predicates], [a for _c, aliases, _cls in entities for a in aliases]


def link_pages(
    pages: DataFrame,
    entities: list[tuple] = ENTITIES,
    predicates: list[tuple] = PREDICATES,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """pages → the linked relation (LINKED_SCHEMA, then ``passthrough``):
    extract+link in ONE shuffle-free scan with the dimension-sized KB
    broadcast as a dict (the reference's hash-map lookups)."""
    surfaces, gazetteer = _surfaces_and_gazetteer(entities, predicates)
    return extract_link_from_html(pages, surfaces, gazetteer, kb_index(entities), passthrough)


def build_kg(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str | None = None,
    entities: list[tuple] = ENTITIES,
    predicates: list[tuple] = PREDICATES,
) -> dict:
    """Returns dict with edges/violations DataFrames and (if out_dir)
    materialized table counts."""
    if "html" not in pages.columns:
        raise ValueError(f"build_kg: pages needs an 'html' column, got {pages.columns}")
    linked = link_pages(pages, entities, predicates)
    if out_dir:
        linked = linked.localCheckpoint(eager=False)

    edges, viol = canonicalize_edges(linked, predicate_context(predicates))
    viol = _all_violations(viol, edges)
    result = {"edges": edges, "violations": viol}
    if out_dir:
        result["counts"] = materialize_graph(edges, viol, out_dir, predicates)
    return result


def build_kg_resumable(
    spark: SparkSession,
    pages: DataFrame,
    work_dir: str,
    n_parts: int = 16,
    entities: list[tuple] = ENTITIES,
    predicates: list[tuple] = PREDICATES,
    fail_at: tuple[str, int] | None = None,
) -> dict:
    """The full pipeline as CHAINED resumable stages (north_rule: "every
    stage checkpoints per-partition lineage and counters ... a killed
    run resumes at partition granularity").

    Each stage materializes under ``work_dir/<stage>/part_id=k/`` and
    commits per-partition ledger rows (kg/lineage.py run_stage); a
    killed run re-invoked with the same work_dir skips every
    (stage, partition) already ledgered — including fully-complete
    earlier stages — and reprocesses only what's pending. Stage
    boundaries are the three shuffle-free row-local transforms
    (mentions → linked → edges); the global steps (SHACL cardinality,
    node-kind checks) run post-hoc over the final materialized edges,
    where they are plain aggregations and need no per-partition resume.

    ``fail_at=(stage, k)`` injects a crash after k partitions of the
    named stage — the kill-and-resume test hook.

    Output contract: identical edge set to ``build_kg`` (pinned by
    tests/test_kg_pipeline.py::test_resumable_pipeline_equals_batch).
    """
    from .lineage import run_stage

    surfaces, gazetteer = _surfaces_and_gazetteer(entities, predicates)
    kb = kb_alias_table(spark, entities)
    ledger = f"{work_dir}/ledger"

    def _fail(stage: str) -> int | None:
        return fail_at[1] if fail_at and fail_at[0] == stage else None

    mentions = run_stage(
        spark, "mentions", pages,
        lambda df: extract_mentions_from_html(df, surfaces, gazetteer),
        f"{work_dir}/mentions", ledger, key="url", n_parts=n_parts,
        fail_after_parts=_fail("mentions"),
    )

    def _link(df: DataFrame) -> DataFrame:
        out = link_mentions(df, kb, "subj_mention")
        return link_mentions(out, kb, "obj_mention")

    linked = run_stage(
        spark, "linked", mentions.drop("part_id"), _link,
        f"{work_dir}/linked", ledger, key="url", n_parts=n_parts,
        fail_after_parts=_fail("linked"),
    )

    ctx = predicate_context(predicates)
    edges = run_stage(
        spark, "edges", linked.drop("part_id"),
        lambda df: canonicalize_edges(df, ctx)[0],
        f"{work_dir}/edges", ledger, key="url", n_parts=n_parts,
        fail_after_parts=_fail("edges"),
    ).drop("part_id")

    linked_all = spark.read.parquet(f"{work_dir}/linked").drop("part_id")
    viol = _all_violations(canonicalize_edges(linked_all, ctx)[1], edges)
    return {"edges": edges, "violations": viol, "ledger": ledger}
