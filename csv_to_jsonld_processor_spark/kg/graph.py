"""Predicate canonicalization + graph materialization + validation.

Canonicalization is the web-text analog of header→vocabulary-term
mapping (reference P1/P5): surface phrases resolve through the @context
map, a ``literal_map`` column, to canonical predicate IRIs.
Unresolvable surfaces and link failures route to a ``violations`` table
instead of killing the job — the reference's warn-vs-error
ProcessingState (A7) re-expressed as data.

Materialization writes ``entities`` / ``predicates`` / ``edges`` tables
partitioned by a deterministic bucket of the subject (hash-bucketed so
downstream joins/merges on subj are co-partitioned). The four tables
are written by ``write_table`` as partitioned parquet paths under the
output directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .mentions import LINKED_SCHEMA

KG_TERMS = "http://example.org/kg/terms/"
KG_IDS = "http://example.org/kg/ids/"

N_BUCKETS = 64

_LINKED_COLS = {field.split(" ")[0] for field in LINKED_SCHEMA.split(", ")}


def predicate_context(predicates: list[tuple]) -> dict[str, str]:
    """surface phrase → canonical predicate IRI (the @context map)."""
    return {surface: KG_TERMS + canon for surface, canon, _s, _o in predicates}


def literal_map(d: dict) -> F.Column:
    """A driver rule table as a map of literals: ``literal_map(d)[col]`` is a
    row-local lookup (no join, no job), null for a key missing from ``d``.
    It scans the keys; vocabulary-sized tables stay broadcast joins."""
    pairs = [F.lit(x) for kv in d.items() for x in kv]
    return F.create_map(*pairs) if pairs else F.create_map().cast("map<string,string>")


def entity_iri_col(cls_col: F.Column, name_col: F.Column) -> F.Column:
    """IRI = base / kebab(class) / kebab(name) — reference F10 namespacing."""
    def kebab(c: F.Column) -> F.Column:
        c = F.lower(F.regexp_replace(c, r"[^0-9A-Za-z]+", "-"))
        return F.regexp_replace(F.regexp_replace(c, "-+", "-"), "(^-|-$)", "")

    return F.concat(F.lit(KG_IDS), kebab(cls_col), F.lit("/"), kebab(name_col))


def canonicalize_edges(linked: DataFrame, context: dict[str, str]) -> tuple[DataFrame, DataFrame]:
    """linked mentions → (edges, violations).

    edges: (subj, pred, obj, url, sent_idx) with IRIs everywhere, then
    every ``linked`` column outside LINKED_SCHEMA as is (the extraction
    ``passthrough`` columns, e.g. ``warc_ts``; ``part_id`` in a ledgered
    stage).
    violations: unlinked subject/object or unknown predicate surface.
    """
    extra = [c for c in linked.columns if c not in _LINKED_COLS]
    j = linked.withColumn("pred_iri", literal_map(context)[F.col("pred_surface")])

    ok = (
        j.where(
            F.col("subj_mention_entity").isNotNull()
            & F.col("obj_mention_entity").isNotNull()
            & F.col("pred_iri").isNotNull()
        )
        .select(
            entity_iri_col(F.col("subj_mention_class"), F.col("subj_mention_entity")).alias("subj"),
            F.col("pred_iri").alias("pred"),
            entity_iri_col(F.col("obj_mention_class"), F.col("obj_mention_entity")).alias("obj"),
            F.col("subj_mention_entity").alias("subj_name"),
            F.col("subj_mention_class").alias("subj_class"),
            F.col("obj_mention_entity").alias("obj_name"),
            F.col("obj_mention_class").alias("obj_class"),
            "url",
            "sent_idx",
            *extra,
        )
    )

    viol = (
        j.where(
            F.col("subj_mention_entity").isNull()
            | F.col("obj_mention_entity").isNull()
            | F.col("pred_iri").isNull()
        )
        .select(
            F.lit("link_and_canonicalize").alias("stage"),
            F.when(F.col("pred_iri").isNull(), F.lit("unknown_predicate"))
            .when(F.col("subj_mention_entity").isNull(), F.lit("unlinked_subject"))
            .otherwise(F.lit("unlinked_object"))
            .alias("rule"),
            F.col("url").alias("subj"),
            F.col("pred_surface").alias("pred"),
            F.concat_ws(" | ", "subj_mention", "obj_mention").alias("value"),
            F.lit("warning").alias("severity"),
        )
    )
    return ok, viol


def validate_edges(edges: DataFrame, domain_range: dict[str, tuple[str, str]]) -> DataFrame:
    """SHACL-style domain/range checks as DataFrame constraints (the
    reference's picklist/domain validation J4/P5 re-expressed).

    domain_range: canonical predicate IRI → (subj class, obj class).
    Returns additional violations."""
    want_domain = literal_map({p: d for p, (d, _r) in domain_range.items()})
    want_range = literal_map({p: r for p, (_d, r) in domain_range.items()})
    j = edges.withColumn("_want_domain", want_domain[F.col("pred")]) \
        .withColumn("_want_range", want_range[F.col("pred")])
    return (
        j.where(
            (F.col("subj_class") != F.col("_want_domain"))
            | (F.col("obj_class") != F.col("_want_range"))
        )
        .select(
            F.lit("shacl_domain_range").alias("stage"),
            F.when(F.col("subj_class") != F.col("_want_domain"), F.lit("domain_mismatch"))
            .otherwise(F.lit("range_mismatch"))
            .alias("rule"),
            F.col("subj"),
            F.col("pred"),
            F.concat_ws(" | ", "subj_class", "obj_class").alias("value"),
            F.lit("warning").alias("severity"),
        )
    )


def validate_cardinality(edges: DataFrame, max_counts: dict[str, int]) -> DataFrame:
    """sh:maxCount as a groupBy constraint: a subject whose DISTINCT
    object count for a functional predicate exceeds the cap is a
    violation (e.g. two different birthPlaces). One partial-aggregated
    groupBy on (subj, pred) — at 100 TB the shuffle carries only the
    (subj, pred) key space of the capped predicates, filtered before it."""
    caps = {p: int(c) for p, c in max_counts.items()}
    counts = (
        edges.where(F.col("pred").isin(list(caps)))
        .groupBy("subj", "pred").agg(F.countDistinct("obj").alias("n_obj"))
        .withColumn("_max_count", literal_map(caps)[F.col("pred")])
    )
    return (
        counts.where(F.col("n_obj") > F.col("_max_count"))
        .select(
            F.lit("shacl_cardinality").alias("stage"),
            F.lit("max_count_exceeded").alias("rule"),
            F.col("subj"),
            F.col("pred"),
            F.concat_ws(" > ", F.col("n_obj").cast("string"), F.col("_max_count").cast("string")).alias("value"),
            F.lit("warning").alias("severity"),
        )
    )


def validate_node_iris(edges: DataFrame) -> DataFrame:
    """sh:nodeKind sh:IRI + sh:pattern: every subject/object must be an
    absolute IRI under the ids namespace and every predicate under the
    terms namespace. A structural invariant of canonicalize_edges —
    expected to emit ZERO rows on pipeline output (pytest-pinned); it
    exists to catch foreign data merged into the edges table."""
    import re as _re

    id_pat = "^" + _re.escape(KG_IDS) + "[a-z0-9-]+/[a-z0-9-]+$"
    term_pat = "^" + _re.escape(KG_TERMS) + "[A-Za-z0-9]+$"
    bad = edges.where(
        ~F.col("subj").rlike(id_pat)
        | ~F.col("obj").rlike(id_pat)
        | ~F.col("pred").rlike(term_pat)
    )
    return bad.select(
        F.lit("shacl_node_kind").alias("stage"),
        F.when(~F.col("pred").rlike(term_pat), F.lit("pred_not_term_iri"))
        .when(~F.col("subj").rlike(id_pat), F.lit("subj_not_id_iri"))
        .otherwise(F.lit("obj_not_id_iri"))
        .alias("rule"),
        F.col("subj"),
        F.col("pred"),
        F.col("obj").alias("value"),
        F.lit("warning").alias("severity"),
    )


def with_bucket(df: DataFrame, key: str = "subj", n: int = N_BUCKETS) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n)).cast("int"))


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None) -> int:
    """Overwrites ``path`` with ``df`` as parquet, partitioned by
    ``partition_by``, and returns the row count observed while writing."""
    obs = Observation()
    w = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return obs.get["n"]


def materialize_graph(edges: DataFrame, violations: DataFrame, out_dir: str) -> dict:
    """entities/predicates/edges/violations — entities deduped from both
    edge endpoints (the reference's merge-by-@id A1 over the graph).
    Each table's row count is observed while it is written, not read back."""
    subj_side = edges.select(
        F.col("subj").alias("iri"), F.col("subj_name").alias("label"),
        F.col("subj_class").alias("entity_class"),
    )
    obj_side = edges.select(
        F.col("obj").alias("iri"), F.col("obj_name").alias("label"),
        F.col("obj_class").alias("entity_class"),
    )
    entities = subj_side.unionByName(obj_side).dropDuplicates(["iri"])
    predicates = (
        edges.groupBy("pred").agg(F.count(F.lit(1)).alias("n_edges"))
        .withColumnRenamed("pred", "iri")
    )
    return {
        "edges": write_table(with_bucket(edges), f"{out_dir}/edges", ["bucket"]),
        "entities": write_table(with_bucket(entities, "iri"), f"{out_dir}/entities", ["bucket"]),
        "predicates": write_table(predicates, f"{out_dir}/predicates"),
        "violations": write_table(violations, f"{out_dir}/violations"),
    }
