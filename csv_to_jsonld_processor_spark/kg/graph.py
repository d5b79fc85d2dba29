"""Predicate canonicalization + graph materialization + validation.

Canonicalization is the web-text analog of header→vocabulary-term
mapping (reference P1/P5): surface phrases resolve through the @context
map, a ``literal_map`` column, to canonical predicate IRIs.
Unresolvable surfaces and link failures route to a ``violations`` table
instead of killing the job — the reference's warn-vs-error
ProcessingState (A7) re-expressed as data.

Validation: the row-local rules (domain/range, node IRIs) are struct
columns over an edge, checked together in one projection
(``validate_rows``); cardinality is the one check that shuffles.

Materialization writes ``edges`` and ``entities`` partitioned by a
deterministic bucket of the subject (hash-bucketed so downstream
joins/merges on subj are co-partitioned), ``predicates`` and
``violations``, all as parquet paths under the output directory
(``write_table``). The predicates table is counted while the edges are
written, so it costs no pass of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..session import local_df
from ..sources.pages import PREDICATES
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


def _rule(hit: F.Column, stage: str, rule: F.Column, value: F.Column) -> F.Column:
    """One row rule over an edge: a struct of the violation columns and
    ``hit``, whether the edge breaks the rule (null reads as no)."""
    return F.struct(
        hit.alias("hit"),
        F.lit(stage).alias("stage"),
        rule.alias("rule"),
        F.col("subj"),
        F.col("pred"),
        value.alias("value"),
        F.lit("warning").alias("severity"),
    )


def domain_range_rule(domain_range: dict[str, tuple[str, str]]) -> F.Column:
    """SHACL-style domain/range check (the reference's picklist/domain
    validation J4/P5 re-expressed). domain_range: canonical predicate
    IRI → (subj class, obj class); a predicate outside it is not checked."""
    want_domain = literal_map({p: d for p, (d, _r) in domain_range.items()})[F.col("pred")]
    want_range = literal_map({p: r for p, (_d, r) in domain_range.items()})[F.col("pred")]
    bad_domain = F.col("subj_class") != want_domain
    return _rule(
        bad_domain | (F.col("obj_class") != want_range),
        "shacl_domain_range",
        F.when(bad_domain, F.lit("domain_mismatch")).otherwise(F.lit("range_mismatch")),
        F.concat_ws(" | ", "subj_class", "obj_class"),
    )


def node_iri_rule() -> F.Column:
    """sh:nodeKind sh:IRI + sh:pattern: every subject/object must be an
    absolute IRI under the ids namespace and every predicate under the
    terms namespace. A structural invariant of canonicalize_edges —
    expected to hit ZERO rows on pipeline output (pytest-pinned); it
    exists to catch foreign data merged into the edges table."""
    import re as _re

    id_pat = "^" + _re.escape(KG_IDS) + "[a-z0-9-]+/[a-z0-9-]+$"
    term_pat = "^" + _re.escape(KG_TERMS) + "[A-Za-z0-9]+$"
    bad_subj, bad_obj = ~F.col("subj").rlike(id_pat), ~F.col("obj").rlike(id_pat)
    bad_pred = ~F.col("pred").rlike(term_pat)
    return _rule(
        bad_subj | bad_obj | bad_pred,
        "shacl_node_kind",
        F.when(bad_pred, F.lit("pred_not_term_iri"))
        .when(bad_subj, F.lit("subj_not_id_iri"))
        .otherwise(F.lit("obj_not_id_iri")),
        F.col("obj"),
    )


def validate_rows(edges: DataFrame, rules: list[F.Column]) -> DataFrame:
    """The violations of row-local ``rules`` (``domain_range_rule``,
    ``node_iri_rule``) in ONE projection over ``edges``: each edge carries
    the array of rules it breaks, which is then exploded. An edge that
    breaks two rules gives two rows."""
    hits = F.filter(F.array(*rules), lambda r: r["hit"])
    return edges.select(F.explode(hits).alias("v")).select(
        *(f"v.{c}" for c in ("stage", "rule", "subj", "pred", "value", "severity"))
    )


def validate_edges(edges: DataFrame, domain_range: dict[str, tuple[str, str]]) -> DataFrame:
    """The domain/range violations of ``edges`` (see ``domain_range_rule``)."""
    return validate_rows(edges, [domain_range_rule(domain_range)])


def validate_cardinality(edges: DataFrame, max_counts: dict[str, int]) -> DataFrame:
    """sh:maxCount as a groupBy constraint: a subject whose DISTINCT
    object count for a functional predicate exceeds the cap is a
    violation (e.g. two different birthPlaces). One exchange: the
    per-(subj, pred) object sets are partially aggregated before the
    shuffle (``size(collect_set)``; ``countDistinct`` plans two), and
    the capped predicates are filtered before it."""
    caps = {p: int(c) for p, c in max_counts.items()}
    counts = (
        edges.where(F.col("pred").isin(list(caps)))
        .groupBy("subj", "pred").agg(F.size(F.collect_set("obj")).alias("n_obj"))
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
    """The node-kind violations of ``edges`` (see ``node_iri_rule``)."""
    return validate_rows(edges, [node_iri_rule()])


def with_bucket(df: DataFrame, key: str = "subj", n: int = N_BUCKETS) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n)).cast("int"))


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None,
                **observed: F.Column) -> dict:
    """Overwrites ``path`` with ``df`` as parquet, partitioned by
    ``partition_by``, and returns the row count ``n`` and the ``observed``
    aggregates, all computed while writing."""
    obs = Observation()
    aggs = [c.alias(name) for name, c in observed.items()]
    w = df.observe(obs, F.count(F.lit(1)).alias("n"), *aggs).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return obs.get


def materialize_graph(
    edges: DataFrame, violations: DataFrame, out_dir: str, predicates: list[tuple] = PREDICATES
) -> dict:
    """entities/predicates/edges/violations — entities deduped from both
    edge endpoints (the reference's merge-by-@id A1 over the graph).
    Each table's row count is observed while it is written, not read back.

    The ``predicates`` table (iri, n_edges) is counted while the edges are
    written, one ``count_if`` per vocabulary predicate, and written from
    the driver: no job re-reads the edges for it. An edge whose predicate
    is outside the vocabulary raises ValueError instead of being dropped."""
    subj_side = edges.select(
        F.col("subj").alias("iri"), F.col("subj_name").alias("label"),
        F.col("subj_class").alias("entity_class"),
    )
    obj_side = edges.select(
        F.col("obj").alias("iri"), F.col("obj_name").alias("label"),
        F.col("obj_class").alias("entity_class"),
    )
    entities = subj_side.unionByName(obj_side).dropDuplicates(["iri"])
    vocab = sorted(set(predicate_context(predicates).values()))
    written = write_table(
        with_bucket(edges), f"{out_dir}/edges", ["bucket"],
        **{f"p{i}": F.count_if(F.col("pred") == iri) for i, iri in enumerate(vocab)},
    )
    n_edges = [(iri, written[f"p{i}"]) for i, iri in enumerate(vocab)]
    in_vocab = sum(n for _iri, n in n_edges)
    if in_vocab != written["n"]:
        raise ValueError(
            f"materialize_graph: {written['n']} edges written to {out_dir}/edges, but only "
            f"{in_vocab} have a predicate in the vocabulary {vocab}"
        )
    # one file: a local relation is split over the default parallelism
    pred_table = local_df(
        edges.sparkSession, [r for r in n_edges if r[1]], "iri string, n_edges bigint not null"
    ).coalesce(1)
    return {
        "edges": written["n"],
        "entities": write_table(with_bucket(entities, "iri"), f"{out_dir}/entities", ["bucket"])["n"],
        "predicates": write_table(pred_table, f"{out_dir}/predicates")["n"],
        "violations": write_table(violations, f"{out_dir}/violations")["n"],
    }
