"""SPARQL basic-graph-pattern (BGP) queries compiled to DataFrame plans.

The missing query surface for a triple store: the engine materializes
(subj, pred, obj) edge tables (``kg/pipeline.py``), and this module
answers SPARQL-style conjunctive queries over them —

    SELECT DISTINCT ?person ?org ?city WHERE {
      ?person  kg:worksFor     ?org .
      ?org     kg:headquarters ?city .
      ?person  kg:residence    ?city .
    }

— as a compiled chain of equi-joins, never an interpreter.

Compilation rules (the classic selectivity heuristics from SPARQL
engines — compare Sesame/RDF-3X pattern ordering — kept static so the
plan is a pure function of the query):

- Constant positions become pushed filters on the edge scan; variable
  positions become column renames.  A repeated variable inside one
  pattern (?x p ?x) becomes a subj=obj filter.
- Patterns execute most-selective-first: more constants first
  (const subj/obj beat const pred, matching triple-store selectivity
  folklore), deterministic textual tie-break.
- Greedy connected ordering: each next pattern must share >=1 variable
  with the already-bound set, so every join is an equi-join —
  a disconnected BGP raises rather than silently planning a cartesian
  product.
- ``use_stats=True`` upgrades the ordering to measured per-pattern
  match counts (one cheap count per pattern, cached plans at scale) —
  the runtime-stats path a production engine would use; the default
  stays static for plan determinism.

At 100 TB the edge table is the bucketed/dictionary-encoded store from
``kg/triplestore.py``; each pattern scan prunes on pred (partition
column in the hive layout), and AQE picks broadcast vs shuffle per join
from runtime sizes.  This module deliberately contains no Python row
logic — the compiler emits pure Catalyst plans.

Reference parity: the reference stops at *emitting* JSON-LD triples
(csv-to-jsonld-lib/src/manifest/mod.rs sinks); querying them back is
engine-brief surface, not a port.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_df

TERMS = "http://example.org/kg/terms/"


@dataclass(frozen=True)
class Var:
    name: str


Pattern = tuple  # (s, p, o): each a str constant or Var


def _pattern_vars(pat: Pattern) -> list[str]:
    seen: list[str] = []
    for term in pat:
        if isinstance(term, Var) and term.name not in seen:
            seen.append(term.name)
    return seen


def _n_consts(pat: Pattern) -> int:
    return sum(1 for term in pat if not isinstance(term, Var))


def _pattern_df(edges: DataFrame, pat: Pattern, graph=None) -> DataFrame:
    """One triple pattern → filtered+renamed edge scan.  ``graph``
    (a Var or str constant, or None) is the SPARQL GRAPH term — the
    provenance graph of each quad, carried by the edge table's ``url``
    column (each crawled page is a named graph, exactly the N-Quads
    export's graph position, kg/triplestore.py:148)."""
    s, p, o = pat
    positions = [("subj", s), ("pred", p), ("obj", o)]
    if graph is not None:
        positions.append(("url", graph))
    df = edges.select(*[c for c, _ in positions])
    for col, term in positions:
        if not isinstance(term, Var):
            df = df.where(F.col(col) == F.lit(term))
    # repeated-variable filters (?x p ?x) — including the graph position
    # (GRAPH ?g { ?g p ?o } constrains subj == url)
    var_positions = [(c, t) for c, t in positions if isinstance(t, Var)]
    for i, (col_a, term_a) in enumerate(var_positions):
        for col_b, term_b in var_positions[i + 1:]:
            if term_a.name == term_b.name:
                df = df.where(F.col(col_a) == F.col(col_b))
    cols = []
    taken: set[str] = set()
    for col, term in positions:
        if isinstance(term, Var) and term.name not in taken:
            cols.append(F.col(col).alias(term.name))
            taken.add(term.name)
    return df.select(*cols)


def _compile_group(
    edges: DataFrame, group: list[Pattern], use_stats: bool, graph=None
) -> tuple[DataFrame, set[str]]:
    """Compile one connected pattern group to (solutions, bound vars)."""
    ordered = _order_patterns(edges, group, use_stats, graph)
    gdf = _pattern_df(edges, ordered[0], graph)
    bound = set(_pattern_vars(ordered[0]))
    if isinstance(graph, Var):
        bound.add(graph.name)
    for pat in ordered[1:]:
        pvars = set(_pattern_vars(pat))
        if isinstance(graph, Var):
            pvars.add(graph.name)
        shared = sorted(bound & pvars)
        gdf = gdf.join(_pattern_df(edges, pat, graph), on=shared, how="inner")
        bound |= pvars
    return gdf, bound


def collect_pred_stats(edges: DataFrame) -> dict[str, tuple[int, int, int]]:
    """Per-predicate (n_edges, n_distinct_subj, n_distinct_obj) — the
    RDF-3X/Jena-style planning statistic.  One tiny aggregate, output
    bounded by |predicates| (7 here, dozens in practice), computed once
    per store and reusable across every query — unlike ``use_stats=
    True``'s one count JOB per pattern per query."""
    rows = (
        edges.groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("subj").alias("ns"),
            F.countDistinct("obj").alias("no"),
        )
        .collect()
    )
    return {r["pred"]: (r["n"], r["ns"], r["no"]) for r in rows}


def estimate_pattern(pat: Pattern, stats: dict[str, tuple[int, int, int]]) -> float:
    """Estimated match count of one triple pattern under independence:
    start from the predicate's edge count, divide by distinct-subject /
    distinct-object cardinality for each constant in that position
    (uniformity assumption — the textbook RDF selectivity model).  A
    variable predicate sums over all predicates."""
    s, p, o = pat
    if isinstance(p, Var):
        n = sum(v[0] for v in stats.values())
        ns = max(sum(v[1] for v in stats.values()), 1)
        no = max(sum(v[2] for v in stats.values()), 1)
    else:
        n, ns, no = stats.get(p, (0, 1, 1))
        ns, no = max(ns, 1), max(no, 1)
    est = float(n)
    if not isinstance(s, Var):
        est = est / ns
    if not isinstance(o, Var):
        est = est / no
    return est


def _order_patterns(
    edges: DataFrame, patterns: list[Pattern], use_stats, graph=None
) -> list[Pattern]:
    # a GRAPH variable joins every pattern in the scope, so it makes
    # any group connected for ordering purposes
    gvar = {graph.name} if isinstance(graph, Var) else set()
    if isinstance(use_stats, dict):
        # precomputed per-predicate statistics → estimated cardinality
        key = lambda p: (estimate_pattern(p, use_stats), repr(p))  # noqa: E731
    elif use_stats:
        cost = {id(p): _pattern_df(edges, p).count() for p in patterns}
        key = lambda p: (cost[id(p)], repr(p))  # noqa: E731
    else:
        key = lambda p: (-_n_consts(p), repr(p))  # noqa: E731
    remaining = sorted(patterns, key=key)
    ordered = [remaining.pop(0)]
    bound = set(_pattern_vars(ordered[0])) | gvar
    while remaining:
        nxt = None
        for cand in remaining:  # already selectivity-sorted
            if bound & (set(_pattern_vars(cand)) | gvar):
                nxt = cand
                break
        if nxt is None:
            raise ValueError(
                "disconnected BGP: no remaining pattern shares a variable "
                f"with {sorted(bound)} — refusing to plan a cartesian product"
            )
        remaining.remove(nxt)
        ordered.append(nxt)
        bound |= set(_pattern_vars(nxt))
    return ordered


def bgp_query(
    edges: DataFrame,
    patterns: list[Pattern],
    project: list[str],
    distinct: bool = True,
    use_stats: bool = False,
    optionals: list[list[Pattern]] | None = None,
    filters: list[str] | None = None,
    minus_groups: list[list[Pattern]] | None = None,
    binds: dict[str, str] | None = None,
    graph=None,
    values: tuple[list[str], list[tuple]] | None = None,
    bind_exprs: dict[str, str] | None = None,
    exists_groups: list[list[Pattern]] | None = None,
    not_exists_groups: list[list[Pattern]] | None = None,
) -> DataFrame:
    """Compile and run a conjunctive BGP over an edge DataFrame.

    ``optionals``: SPARQL OPTIONAL groups — each group is itself a
    (connected) BGP, compiled independently and LEFT-joined to the
    required part on its shared variables, so unmatched bindings
    surface as NULLs instead of dropping rows.

    ``filters``: SPARQL FILTER expressions as SQL boolean strings over
    the variable names (e.g. ``"person != org"``, ``"city LIKE '%/berlin'"``).
    Applied to the required bindings before OPTIONAL joins; Catalyst
    pushes each predicate down to the earliest pattern scan where its
    variables are bound, so writing them post-join costs nothing.

    ``minus_groups``: SPARQL MINUS — remove every required solution
    compatible (equal on the shared, fully-bound variables) with some
    solution of the group. With both sides fully bound, SPARQL's
    compatibility collapses to equality on the shared variables, i.e.
    a LEFT ANTI join — no Python negation loop. The spec makes a
    domain-disjoint MINUS a no-op; in a static compiled query that is
    always a query bug, so this compiler raises instead.

    ``binds``: SPARQL BIND of constants — extra literal columns
    (e.g. a branch discriminator under ``union_query``).

    ``graph``: SPARQL GRAPH term (Var or str constant) scoping every
    pattern group in this query to the provenance graph — the page URL
    each quad was extracted from.  A Var binds the graph IRI as a
    solution variable and joins all patterns on it (same-page
    co-assertion); a constant prunes every scan to one named graph.

    ``values``: SPARQL VALUES — inline solution sequence as
    ``([var, ...], [row_tuple, ...])``, joined (broadcast: inline data
    is always tiny) to the required bindings on the overlapping
    variables; non-overlapping VALUES variables extend the bindings.
    Every VALUES term is a string column, like every bound term.

    ``bind_exprs``: SPARQL BIND with expressions — SQL expression
    strings over bound variables (vs ``binds``' constants), evaluated
    after FILTER/VALUES so later groups can reference them.

    ``exists_groups`` / ``not_exists_groups``: SPARQL FILTER (NOT)
    EXISTS — each group compiled like the required BGP, then applied
    as a LEFT SEMI / LEFT ANTI join on the shared bound variables
    (exactly SPARQL's substitute-and-test semantics when the shared
    variables are fully bound).  Unlike MINUS, a group sharing NO
    variables is legal: it degenerates to a global emptiness test,
    applied as an always-true-condition semi/anti join against the
    group limited to one row."""
    if not patterns:
        raise ValueError("empty BGP")
    acc, bound = _compile_group(edges, patterns, use_stats, graph)
    for expr in filters or []:
        acc = acc.where(F.expr(expr))
    if values is not None:
        v_vars, v_rows = values
        if not v_rows:
            raise ValueError("empty VALUES block")
        vdf = local_df(edges.sparkSession, v_rows, ", ".join(f"`{v}` string" for v in v_vars))
        shared = sorted(bound & set(v_vars))
        if not shared:
            raise ValueError("VALUES block shares no variable with the BGP")
        acc = acc.join(F.broadcast(vdf), on=shared, how="inner")
        bound |= set(v_vars)
    for name, expr in (bind_exprs or {}).items():
        acc = acc.withColumn(name, F.expr(expr))
        bound.add(name)
    for group in optionals or []:
        gdf, g_bound = _compile_group(edges, group, use_stats, graph)
        # OPTIONAL-group duplicates must not multiply required rows
        gdf = gdf.dropDuplicates()
        shared = sorted(bound & g_bound)
        if not shared:
            raise ValueError(
                "OPTIONAL group shares no variable with the required BGP"
            )
        acc = acc.join(gdf, on=shared, how="left")
        bound |= g_bound
    for group in minus_groups or []:
        mdf, m_bound = _compile_group(edges, group, use_stats, graph)
        shared = sorted(bound & m_bound)
        if not shared:
            raise ValueError("MINUS group shares no variable with the required BGP")
        acc = acc.join(mdf.select(*shared).dropDuplicates(), on=shared, how="left_anti")
    for groups, how in ((exists_groups, "left_semi"), (not_exists_groups, "left_anti")):
        for group in groups or []:
            gdf, g_bound = _compile_group(edges, group, use_stats, graph)
            shared = sorted(bound & g_bound)
            if shared:
                acc = acc.join(
                    gdf.select(*shared).dropDuplicates(), on=shared, how=how
                )
            else:  # variable-free (NOT) EXISTS: a global emptiness gate
                acc = acc.join(gdf.limit(1), F.lit(True), how)
    for name, value in (binds or {}).items():
        acc = acc.withColumn(name, F.lit(value))
    out = acc.select(*project)
    return out.dropDuplicates() if distinct else out


def union_query(
    edges: DataFrame,
    branches: list[dict],
    project: list[str],
    distinct: bool = True,
) -> DataFrame:
    """SPARQL UNION: compile each branch group independently via
    :func:`bgp_query` (each a dict of bgp_query kwargs — ``patterns``
    plus optional ``filters``/``optionals``/``minus_groups``/``binds``)
    and take the bag union of their solution sequences; ``distinct``
    applies SPARQL set semantics over the union, not per branch.
    Branches with disjoint variables are legal (unbound → NULL per
    spec) as long as every projected variable is bound somewhere;
    missing projection columns are padded with NULL before the union
    so the schema is name-stable."""
    outs = []
    for br in branches:
        br_vars: set[str] = set(br.get("binds") or {})
        for group in [br["patterns"], *(br.get("optionals") or [])]:
            for pat in group:
                br_vars |= set(_pattern_vars(pat))
        br_project = [v for v in project if v in br_vars]
        df = bgp_query(
            edges,
            br["patterns"],
            br_project,
            distinct=False,
            optionals=br.get("optionals"),
            filters=br.get("filters"),
            minus_groups=br.get("minus_groups"),
            binds=br.get("binds"),
        )
        for missing in (v for v in project if v not in br_vars):
            df = df.withColumn(missing, F.lit(None).cast("string"))
        outs.append(df.select(*project))
    acc = outs[0]
    for df in outs[1:]:
        acc = acc.unionByName(df)
    return acc.dropDuplicates() if distinct else acc


def construct_query(
    edges: DataFrame,
    patterns: list[Pattern],
    template: list[Pattern],
    filters: list[str] | None = None,
) -> DataFrame:
    """SPARQL CONSTRUCT — the knowledge-graph construction verb: match
    the WHERE BGP, instantiate each template triple per solution, and
    emit the resulting GRAPH (a set: CONSTRUCT output dedups by RDF
    semantics) as (subj, pred, obj) rows union-compatible with the
    edge table, so constructed triples can be fed straight back into
    every query in this module (materialized inference).

    Scale: the template instantiation is a projection per template
    triple over the already-joined solution relation — no new shuffle
    beyond the BGP's joins + one distinct on the emitted graph. A
    self-join template like colleague-of inherits the BGP's per-key
    fan-out (C(f,2) on a hub key); the mega-bucket star cap from
    operators/dedup.py is the documented upgrade path for hub orgs."""
    proj_vars = sorted({v for pat in patterns for v in _pattern_vars(pat)})
    sols = bgp_query(edges, patterns, proj_vars, distinct=False, filters=filters)
    parts = []
    for s, p, o in template:
        parts.append(
            sols.select(
                (F.col(s.name) if isinstance(s, Var) else F.lit(s)).alias("subj"),
                (F.col(p.name) if isinstance(p, Var) else F.lit(p)).alias("pred"),
                (F.col(o.name) if isinstance(o, Var) else F.lit(o)).alias("obj"),
            )
        )
    acc = parts[0]
    for df in parts[1:]:
        acc = acc.unionByName(df)
    return acc.dropDuplicates()


def path_query(
    edges: DataFrame,
    pred: str,
    min_len: int,
    max_len: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """SPARQL property path ``pred{min_len,max_len}``: distinct (src,
    dst) pairs connected by a directed pred-chain of length in
    [min_len, max_len].  Bounded iterative expansion — one equi-join
    per extra hop on the pred-filtered edge set (dictionary-encoded +
    pred-pruned at scale), unioned per admissible length; semi-naive /
    pointer-jumping is the unbounded ``pred*`` upgrade path (see
    ``kg_type_inference`` / ``kg_sameas_resolve``)."""
    if not (1 <= min_len <= max_len):
        raise ValueError("need 1 <= min_len <= max_len")
    step = (
        edges.where(F.col("pred") == F.lit(pred))
        .select(F.col("subj").alias(src), F.col("obj").alias(dst))
        .dropDuplicates()
    )
    hop = step
    out = step if min_len == 1 else None
    for length in range(2, max_len + 1):
        hop = (
            hop.withColumnRenamed(dst, "_mid")
            .join(step.withColumnRenamed(src, "_mid"), on="_mid", how="inner")
            .select(src, dst)
            .dropDuplicates()
        )
        if length >= min_len:
            out = hop if out is None else out.unionByName(hop)
    return out.dropDuplicates()


# ---------------------------------------------------------------------------
# Registered query: employees living in their employer's HQ city
# ---------------------------------------------------------------------------

BGP_LIVES_AT_HQ: list[Pattern] = [
    (Var("person"), TERMS + "worksFor", Var("org")),
    (Var("org"), TERMS + "headquarters", Var("city")),
    (Var("person"), TERMS + "residence", Var("city")),
]


def kg_sparql_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-pattern cyclic BGP above on the flagship webtext KG
    (seed-42 1,000-page corpus).  Oracle: the same conjunctive query as
    explicit SQL self-joins over the generator-anchored golden edge
    table — truth-anchored, nothing pinned to this engine's output."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    return bgp_query(edges, BGP_LIVES_AT_HQ, ["person", "org", "city"]).orderBy(
        "person", "org", "city"
    )


BGP_WORKS_OPTIONAL_BIRTH: list[Pattern] = [
    (Var("person"), TERMS + "worksFor", Var("org")),
]
BGP_OPTIONAL_GROUP: list[Pattern] = [
    (Var("person"), TERMS + "birthPlace", Var("city")),
]


def kg_sparql_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL: every (person, org) employment binding, plus
    the person's birth city when known — NULL otherwise (left join,
    never dropping unmatched persons)."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    return bgp_query(
        edges,
        BGP_WORKS_OPTIONAL_BIRTH,
        ["person", "org", "city"],
        optionals=[BGP_OPTIONAL_GROUP],
    ).orderBy("person", "org", "city")


AGG_MIN_SOLUTIONS = 500


def kg_sparql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 aggregates over a BGP with OPTIONAL, on the solution
    MULTISET (SPARQL's default bag semantics — no DISTINCT in the
    solution sequence):

        SELECT ?org (COUNT(*)                AS n_solutions)
                    (COUNT(DISTINCT ?person) AS n_employees)
                    (COUNT(DISTINCT ?city)   AS n_known_cities)
        WHERE {{ ?person kg:worksFor ?org .
                 OPTIONAL {{ ?person kg:birthPlace ?city }} }}
        GROUP BY ?org HAVING (COUNT(*) >= {AGG_MIN_SOLUTIONS})

    — the solution-sequence → groupBy lowering. COUNT(*) counts bag
    solutions (every worksFor assertion × its OPTIONAL matches), so
    the 35%-hub org dominates it (~1,330 vs ~430–515 — evidence-
    weighted aggregation); COUNT(DISTINCT) over the OPTIONAL variable
    counts only bound cities (SPARQL's unbound-skipping COUNT = SQL's
    NULL-skipping COUNT); HAVING is a post-aggregation filter that
    genuinely prunes (only 2 of 6 orgs pass — a saturated distinct
    count could not discriminate on this dense KB, which is why the
    bag count is the right HAVING key here). Scale: aggregation adds
    ONE two-phase distinct expansion on the ?org key on top of the
    join plan — no new corpus shuffle."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    bindings = bgp_query(
        edges,
        BGP_WORKS_OPTIONAL_BIRTH,
        ["person", "org", "city"],
        optionals=[BGP_OPTIONAL_GROUP],
        distinct=False,
    )
    return (
        bindings.groupBy("org")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_solutions"),
            F.countDistinct("person").cast("long").alias("n_employees"),
            F.countDistinct("city").cast("long").alias("n_known_cities"),
        )
        .where(F.col("n_solutions") >= AGG_MIN_SOLUTIONS)
        .orderBy("org")
    )


def _agg_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)),
w AS (SELECT subj AS person, obj AS org FROM e WHERE pred = '{TERMS}worksFor'),
b AS (SELECT DISTINCT subj AS person, obj AS city FROM e WHERE pred = '{TERMS}birthPlace'),
sol AS (SELECT w.person, w.org, b.city FROM w LEFT JOIN b USING (person))
SELECT org,
       CAST(COUNT(*) AS BIGINT) AS n_solutions,
       CAST(COUNT(DISTINCT person) AS BIGINT) AS n_employees,
       CAST(COUNT(DISTINCT city) AS BIGINT) AS n_known_cities
FROM sol GROUP BY org
HAVING COUNT(*) >= {AGG_MIN_SOLUTIONS}
ORDER BY org
"""


PATH_PRED = TERMS + "acquired"
PATH_MIN, PATH_MAX = 1, 3


def kg_sparql_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property path ``kg:acquired{1,3}``: acquisition chains up
    to 3 deep — distinct (src, dst) org pairs."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    return path_query(edges, PATH_PRED, PATH_MIN, PATH_MAX).orderBy("src", "dst")


def _bgp_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true))
SELECT DISTINCT w.subj AS person, w.obj AS org, h.obj AS city
FROM e w
JOIN e h ON h.subj = w.obj
JOIN e r ON r.subj = w.subj AND r.obj = h.obj
WHERE w.pred = '{TERMS}worksFor'
  AND h.pred = '{TERMS}headquarters'
  AND r.pred = '{TERMS}residence'
ORDER BY person, org, city
"""


def _optional_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)),
w AS (SELECT DISTINCT subj AS person, obj AS org FROM e WHERE pred = '{TERMS}worksFor'),
b AS (SELECT DISTINCT subj AS person, obj AS city FROM e WHERE pred = '{TERMS}birthPlace')
SELECT DISTINCT w.person, w.org, b.city
FROM w LEFT JOIN b USING (person)
ORDER BY person, org, city
"""


def _path_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)),
s AS (SELECT DISTINCT subj AS src, obj AS dst FROM e WHERE pred = '{PATH_PRED}'),
h2 AS (SELECT DISTINCT a.src, b.dst FROM s a JOIN s b ON a.dst = b.src),
h3 AS (SELECT DISTINCT a.src, b.dst FROM h2 a JOIN s b ON a.dst = b.src)
SELECT DISTINCT src, dst
FROM (SELECT * FROM s UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3)
ORDER BY src, dst
"""


def closure_query(edges: DataFrame, pred: str) -> DataFrame:
    """SPARQL property path ``pred+``: the UNBOUNDED transitive closure
    the bounded ``path_query`` names as its upgrade — distinct (src,
    dst) pairs connected by a pred-chain of ANY length >= 1, by
    semi-naive iteration. Each round extends only the DELTA (pairs
    first discovered last round) by one base hop, anti-joins against
    the accumulated closure so rediscovered pairs never re-enter the
    frontier, and stops at the empty-delta fixpoint — so total join
    work is O(|closure| · avg-degree), not O(rounds · |closure|), and
    cycles terminate naturally. Per-round localCheckpoint keeps the
    lineage flat (the same discipline as kg_type_inference's subclass
    closure); driver state is one count per round. At 10^12 edges the
    base step is pred-pruned + dictionary-encoded first, and both
    sides of the frontier join share the dst/src hash partitioning
    across rounds."""
    step = (
        edges.where(F.col("pred") == F.lit(pred))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .dropDuplicates()
        .localCheckpoint()
    )
    return _closure_of_step(step)


def _closure_of_step(step: DataFrame) -> DataFrame:
    """Semi-naive ``+`` closure of an arbitrary (src, dst) step
    relation — shared by ``closure_query`` and the path algebra."""
    total = step
    delta = step
    while True:
        extended = (
            delta.withColumnRenamed("dst", "_mid")
            .join(step.withColumnRenamed("src", "_mid"), on="_mid", how="inner")
            .select("src", "dst")
            .dropDuplicates()
        )
        delta = extended.join(total, ["src", "dst"], "left_anti").localCheckpoint()
        if delta.isEmpty():
            return total
        total = total.unionByName(delta).localCheckpoint()


def path_rel(edges: DataFrame, expr) -> DataFrame:
    """SPARQL 1.1 property-path ALGEBRA compiler: expression AST →
    distinct (src, dst) relation.  Forms:

    - ``("pred", iri)``   — one predicate hop (pred-pruned scan)
    - ``("inv", e)``      — ``^e``: swap endpoints (pure projection)
    - ``("alt", a, b)``   — ``a|b``: union + distinct
    - ``("seq", a, b)``   — ``a/b``: equi-join on the midpoint
    - ``("plus", e)``     — ``e+``: semi-naive unbounded closure

    Compositional like the BGP compiler — no interpreter at run time,
    each form lowers to the obvious Catalyst plan, and closure reuses
    the shared delta-iteration (``_closure_of_step``)."""
    kind = expr[0]
    if kind == "pred":
        return (
            edges.where(F.col("pred") == F.lit(expr[1]))
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
            .dropDuplicates()
        )
    if kind == "inv":
        r = path_rel(edges, expr[1])
        return r.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    if kind == "alt":
        return (
            path_rel(edges, expr[1])
            .unionByName(path_rel(edges, expr[2]))
            .dropDuplicates()
        )
    if kind == "seq":
        a = path_rel(edges, expr[1]).withColumnRenamed("dst", "_mid")
        b = path_rel(edges, expr[2]).withColumnRenamed("src", "_mid")
        return a.join(b, on="_mid", how="inner").select("src", "dst").dropDuplicates()
    if kind == "plus":
        return _closure_of_step(path_rel(edges, expr[1]).localCheckpoint())
    if kind == "nps":
        # !(p1|...|pn): one hop over any predicate NOT in the set —
        # still a single pred-pruned scan, the filter just negates
        return (
            edges.where(~F.col("pred").isin(list(expr[1])))
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
            .dropDuplicates()
        )
    if kind == "star":
        # e* = identity over the graph's node set ∪ e+ (SPARQL 1.1
        # ZeroOrMorePath: zero-length paths relate every RDF term in
        # the graph to itself)
        return (
            _nodes_identity(edges)
            .unionByName(path_rel(edges, ("plus", expr[1])))
            .dropDuplicates()
        )
    if kind == "opt":
        # e? = identity ∪ e (ZeroOrOnePath)
        return (
            _nodes_identity(edges)
            .unionByName(path_rel(edges, expr[1]))
            .dropDuplicates()
        )
    raise ValueError(f"unknown path form {kind!r}")


def _nodes_identity(edges: DataFrame) -> DataFrame:
    """(x, x) for every node of the graph — the zero-length path
    relation shared by ``e*`` and ``e?``."""
    return (
        edges.select(F.col("subj").alias("src"))
        .unionByName(edges.select(F.col("obj").alias("src")))
        .dropDuplicates()
        .select("src", F.col("src").alias("dst"))
    )


# two expressions exercising every algebra form:
#   p1 = (acquired|partner)+ / headquarters   — HQ cities of every org
#        reachable through the M&A/partnership network
#   p2 = ^worksFor / residence                — where each org's
#        employees live (inverse + sequence)
PATH_ALGEBRA: list[tuple[str, tuple]] = [
    ("(acquired|partner)+/headquarters",
     ("seq",
      ("plus", ("alt", ("pred", TERMS + "acquired"), ("pred", TERMS + "partner"))),
      ("pred", TERMS + "headquarters"))),
    ("^worksFor/residence",
     ("seq", ("inv", ("pred", TERMS + "worksFor")), ("pred", TERMS + "residence"))),
]


def kg_sparql_path_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both PATH_ALGEBRA expressions as one labeled pair table."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    parts = [
        path_rel(edges, expr).select(F.lit(label).alias("path"), "src", "dst")
        for label, expr in PATH_ALGEBRA
    ]
    return parts[0].unionByName(parts[1]).orderBy("path", "src", "dst")


def _path_algebra_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)),
ap AS (SELECT DISTINCT subj AS src, obj AS dst FROM e
       WHERE pred IN ('{TERMS}acquired', '{TERMS}partner')),
tc AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM ap
    UNION
    SELECT r.src, a.dst FROM r JOIN ap a ON r.dst = a.src
  ) SELECT * FROM r
),
hq AS (SELECT DISTINCT subj AS src, obj AS dst FROM e
       WHERE pred = '{TERMS}headquarters'),
p1 AS (SELECT DISTINCT tc.src, hq.dst FROM tc JOIN hq ON tc.dst = hq.src),
w AS (SELECT DISTINCT obj AS src, subj AS dst FROM e WHERE pred = '{TERMS}worksFor'),
res AS (SELECT DISTINCT subj AS src, obj AS dst FROM e
        WHERE pred = '{TERMS}residence'),
p2 AS (SELECT DISTINCT w.src, res.dst FROM w JOIN res ON w.dst = res.src)
SELECT '(acquired|partner)+/headquarters' AS path, src, dst FROM p1
UNION ALL
SELECT '^worksFor/residence', src, dst FROM p2
ORDER BY path, src, dst
"""


# the remaining SPARQL 1.1 path forms: negated property set, */?
#   p3 = !(worksFor|residence|birthPlace)   — every non-person-fact hop
#   p4 = acquired*/headquarters             — own HQ or any transitive
#        acquisition's HQ (star's zero-length identity matters: nodes
#        with their own hq edge appear even with no acquisitions)
#   p5 = partner?                            — identity ∪ partner
PATH_ALGEBRA2: list[tuple[str, tuple]] = [
    ("!(worksFor|residence|birthPlace)",
     ("nps", [TERMS + "worksFor", TERMS + "residence", TERMS + "birthPlace"])),
    ("acquired*/headquarters",
     ("seq", ("star", ("pred", TERMS + "acquired")),
      ("pred", TERMS + "headquarters"))),
    ("partner?", ("opt", ("pred", TERMS + "partner"))),
]


def kg_sparql_path_nps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three remaining SPARQL 1.1 path forms — negated property
    set, ZeroOrMorePath, ZeroOrOnePath — as one labeled pair table,
    completing the grammar with PATH_ALGEBRA (pred ^ | / +)."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    parts = [
        path_rel(edges, expr).select(F.lit(label).alias("path"), "src", "dst")
        for label, expr in PATH_ALGEBRA2
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("path", "src", "dst")


def _path_nps_sql() -> str:
    from .queries import _GOLDEN_EDGES

    # NOTE: the transitive closure is scoped as a NESTED WITH RECURSIVE
    # (the _path_algebra_sql pattern) — under a top-level WITH RECURSIVE,
    # DuckDB 1.0 stops deduplicating UNION in the non-recursive sibling
    # CTEs (observed: `nodes` and `p5` returned bag semantics), which
    # silently breaks the set algebra the oracle must mirror.
    return f"""
WITH
e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)),
nodes AS (SELECT DISTINCT subj AS x FROM e UNION SELECT DISTINCT obj FROM e),
nps AS (SELECT DISTINCT subj AS src, obj AS dst FROM e
        WHERE pred NOT IN ('{TERMS}worksFor', '{TERMS}residence',
                           '{TERMS}birthPlace')),
acq AS (SELECT DISTINCT subj AS src, obj AS dst FROM e
        WHERE pred = '{TERMS}acquired'),
tc AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM acq
    UNION
    SELECT r.src, a.dst FROM r JOIN acq a ON r.dst = a.src
  ) SELECT * FROM r
),
star AS (SELECT x AS src, x AS dst FROM nodes UNION SELECT src, dst FROM tc),
hq AS (SELECT DISTINCT subj AS src, obj AS dst FROM e
       WHERE pred = '{TERMS}headquarters'),
p4 AS (SELECT DISTINCT s.src, hq.dst FROM star s JOIN hq ON s.dst = hq.src),
par AS (SELECT DISTINCT subj AS src, obj AS dst FROM e
        WHERE pred = '{TERMS}partner'),
p5 AS (SELECT x AS src, x AS dst FROM nodes UNION SELECT src, dst FROM par)
SELECT '!(worksFor|residence|birthPlace)' AS path, src, dst FROM nps
UNION ALL
SELECT 'acquired*/headquarters', src, dst FROM p4
UNION ALL
SELECT 'partner?', src, dst FROM p5
ORDER BY path, src, dst
"""


def kg_sparql_path_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``kg:acquired+`` over the flagship webtext KG: every org pair
    connected by an acquisition chain of any depth. Oracle: DuckDB
    WITH RECURSIVE over the generator-anchored golden — an independent
    closure algorithm (naive recursive union with dedup) agreeing with
    the semi-naive engine run."""
    from .queries import kg_webtext_edges

    return closure_query(kg_webtext_edges(spark, sf_dir), PATH_PRED).orderBy("src", "dst")


def _path_closure_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH RECURSIVE
e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)),
s AS (SELECT DISTINCT subj AS src, obj AS dst FROM e WHERE pred = '{PATH_PRED}'),
reach(src, dst) AS (
  SELECT src, dst FROM s
  UNION
  SELECT r.src, s.dst FROM reach r JOIN s ON r.dst = s.src
)
SELECT src, dst FROM reach ORDER BY src, dst
"""


# ---------------------------------------------------------------------------
# UNION / MINUS / solution modifiers / CONSTRUCT
# ---------------------------------------------------------------------------

BGP_WORKS: list[Pattern] = [(Var("person"), TERMS + "worksFor", Var("org"))]
BGP_FOUNDED: list[Pattern] = [(Var("person"), TERMS + "founderOf", Var("org"))]
UNION_AFFILIATION: list[dict] = [
    {"patterns": BGP_WORKS, "binds": {"role": "employee"}},
    {"patterns": BGP_FOUNDED, "binds": {"role": "founder"}},
]


def kg_sparql_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION with per-branch BIND:

        SELECT DISTINCT ?person ?org ?role WHERE {
          { ?person kg:worksFor  ?org . BIND('employee' AS ?role) }
          UNION
          { ?person kg:founderOf ?org . BIND('founder'  AS ?role) }
        }

    Set semantics over the union (a person both founding and working
    for the same org keeps both rows — distinct roles). Scale: each
    branch is one pred-pruned edge scan; the union is a no-shuffle
    concatenation and the DISTINCT one two-phase aggregate."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    return union_query(edges, UNION_AFFILIATION, ["person", "org", "role"]).orderBy(
        "person", "org", "role"
    )


def _union_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true))
SELECT DISTINCT person, org, role FROM (
  SELECT subj AS person, obj AS org, 'employee' AS role FROM e
  WHERE pred = '{TERMS}worksFor'
  UNION ALL
  SELECT subj AS person, obj AS org, 'founder' AS role FROM e
  WHERE pred = '{TERMS}founderOf'
) ORDER BY person, org, role
"""


MINUS_REQUIRED: list[Pattern] = [(Var("m"), "Material Name", Var("name"))]
MINUS_GROUP: list[Pattern] = [(Var("m"), "has Manufacturer", Var("mfr"))]
_GOLDEN_FIXTURE = "/root/repo/tests/golden/fixture_triples.csv"


def kg_sparql_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL MINUS over the fixture triple graph (the webtext KB is
    deliberately saturated — complete bipartite per predicate — so
    every same-domain MINUS there is degenerate; the reference-fixture
    graph is real and sparse):

        SELECT DISTINCT ?m ?name WHERE {
          ?m "Material Name"     ?name .
          MINUS { ?m "has Manufacturer" ?mfr . }
        }

    — named materials with no manufacturer link (21 of 256). Fully-
    bound MINUS = LEFT ANTI join on the shared variable ?m; Catalyst
    keeps the anti-join's build side the (smaller) matched set. Truth-
    anchored: the engine side runs the LIVE CSV→triple pipeline, the
    oracle the independently-generated golden triple CSV."""
    from ..plans.fixture_queries import fixture_triples

    edges = fixture_triples(spark, sf_dir).select("subj", "pred", "obj")
    return bgp_query(
        edges,
        MINUS_REQUIRED,
        ["m", "name"],
        minus_groups=[MINUS_GROUP],
    ).orderBy("m", "name")


def _minus_sql() -> str:
    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_FIXTURE}', header=true, all_varchar=true)),
req AS (SELECT DISTINCT subj AS m, obj AS name FROM e WHERE pred = 'Material Name'),
mg AS (SELECT DISTINCT subj AS m FROM e WHERE pred = 'has Manufacturer')
SELECT m, name FROM req
ANTI JOIN mg USING (m)
ORDER BY m, name
"""


TOPK_LIMIT = 10


def kg_sparql_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL solution modifiers — ORDER BY + LIMIT over an aggregated
    UNION:

        SELECT ?person (COUNT(DISTINCT ?org) AS n_orgs)
        WHERE {{ {{ ?person kg:worksFor ?org }} UNION
                 {{ ?person kg:founderOf ?org }} }}
        GROUP BY ?person
        ORDER BY DESC(?n_orgs) ?person LIMIT {TOPK_LIMIT}

    Deterministic tie-break on ?person makes LIMIT reproducible (a
    bare ORDER BY DESC(count) is nondeterministic under ties — the
    classic top-k flake). Scale: Spark lowers orderBy+limit to
    TakeOrderedAndProject — per-partition top-k then a k-row merge on
    the driver, never a global sort of the aggregate."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    sols = union_query(
        edges, UNION_AFFILIATION, ["person", "org"], distinct=True
    )
    return (
        sols.groupBy("person")
        .agg(F.countDistinct("org").cast("long").alias("n_orgs"))
        .orderBy(F.col("n_orgs").desc(), "person")
        .limit(TOPK_LIMIT)
    )


def _topk_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)),
u AS (
  SELECT DISTINCT subj AS person, obj AS org FROM e
  WHERE pred IN ('{TERMS}worksFor', '{TERMS}founderOf')
)
SELECT person, CAST(COUNT(DISTINCT org) AS BIGINT) AS n_orgs
FROM u GROUP BY person
ORDER BY n_orgs DESC, person LIMIT {TOPK_LIMIT}
"""


CONSTRUCT_WHERE: list[Pattern] = [
    (Var("a"), TERMS + "worksFor", Var("org")),
    (Var("b"), TERMS + "worksFor", Var("org")),
]
CONSTRUCT_TEMPLATE: list[Pattern] = [(Var("a"), TERMS + "colleague", Var("b"))]


def ask_query(edges: DataFrame, label: str, patterns: list[Pattern], **kw) -> DataFrame:
    """SPARQL ASK — does the pattern group have ANY solution?  One-row
    DataFrame (ask_id, answer 0/1).  Compiled as the BGP limited to a
    single solution before the existence count, so the scan can stop at
    first match (Spark's CollectLimit early-exit) instead of
    enumerating the full solution multiset."""
    sols = bgp_query(edges, patterns, _ask_project(patterns), distinct=False, **kw)
    return sols.limit(1).agg(
        F.lit(label).alias("ask_id"),
        (F.count(F.lit(1)) > 0).cast("int").alias("answer"),
    )


def _ask_project(patterns: list[Pattern]) -> list[str]:
    seen: list[str] = []
    for pat in patterns:
        for v in _pattern_vars(pat):
            if v not in seen:
                seen.append(v)
    return seen


# ASK battery: two provably-true and two provably-false questions about
# the KB's relational structure (symmetry / irreflexivity / type
# disjointness) — each a distinct compiled shape
ASKS: list[tuple[str, list[Pattern]]] = [
    # employment and residence co-occur for some person
    ("works_and_lives", [
        (Var("p"), TERMS + "worksFor", Var("o")),
        (Var("p"), TERMS + "residence", Var("c")),
    ]),
    # partner is symmetric somewhere
    ("partner_symmetric", [
        (Var("x"), TERMS + "partner", Var("y")),
        (Var("y"), TERMS + "partner", Var("x")),
    ]),
    # nothing acquires itself (repeated-var position filter)
    ("self_acquisition", [(Var("x"), TERMS + "acquired", Var("x"))]),
    # headquarters is never mutual (org -> city is type-disjoint)
    ("hq_mutual", [
        (Var("x"), TERMS + "headquarters", Var("y")),
        (Var("y"), TERMS + "headquarters", Var("x")),
    ]),
]


def kg_sparql_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four-question ASK battery as one (ask_id, answer) table."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    acc = None
    for label, pats in ASKS:
        row = ask_query(edges, label, pats)
        acc = row if acc is None else acc.unionAll(row)
    return acc.orderBy("ask_id")


def _ask_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true))
SELECT 'works_and_lives' AS ask_id, CAST(EXISTS (
  SELECT 1 FROM e w JOIN e r ON w.subj = r.subj
  WHERE w.pred = '{TERMS}worksFor' AND r.pred = '{TERMS}residence') AS INT) AS answer
UNION ALL
SELECT 'partner_symmetric', CAST(EXISTS (
  SELECT 1 FROM e a JOIN e b ON a.subj = b.obj AND a.obj = b.subj
  WHERE a.pred = '{TERMS}partner' AND b.pred = '{TERMS}partner') AS INT)
UNION ALL
SELECT 'self_acquisition', CAST(EXISTS (
  SELECT 1 FROM e WHERE pred = '{TERMS}acquired' AND subj = obj) AS INT)
UNION ALL
SELECT 'hq_mutual', CAST(EXISTS (
  SELECT 1 FROM e a JOIN e b ON a.subj = b.obj AND a.obj = b.subj
  WHERE a.pred = '{TERMS}headquarters' AND b.pred = '{TERMS}headquarters') AS INT)
ORDER BY ask_id
"""


def kg_sparql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 subquery — an aggregating SELECT nested in WHERE:

        SELECT ?org ?person ?n_pair ?org_avg WHERE {{
          ?person kg:worksFor ?org .
          {{ SELECT ?org (COUNT(*) / COUNT(DISTINCT ?person) AS ?org_avg)
             WHERE {{ ?person kg:worksFor ?org }} GROUP BY ?org }}
        }}
        GROUP BY ?org ?person ?org_avg
        HAVING (COUNT(*) > ?org_avg)

    — "persons with more employment evidence than their org's average":
    the inner solution sequence aggregates per org, the outer bag joins
    it back on ?org.  Compilation is pure composition: the subquery is
    its own bgp_query → groupBy plan, joined (broadcast — aggregate
    output is |orgs|-sized) into the outer solution relation; no new
    operator, which is the point — nested SELECTs fall out of the
    algebra.  org_avg is an explicit integer-ratio DOUBLE division on
    both engines (no engine AVG kernels)."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    sols = bgp_query(
        edges,
        [(Var("person"), TERMS + "worksFor", Var("org"))],
        ["person", "org"],
        distinct=False,
    )
    inner = sols.groupBy("org").agg(
        (
            F.count(F.lit(1)).cast("double")
            / F.countDistinct("person").cast("double")
        ).alias("org_avg")
    )
    pair = sols.groupBy("org", "person").agg(
        F.count(F.lit(1)).cast("long").alias("n_pair")
    )
    return (
        pair.join(F.broadcast(inner), "org")
        .where(F.col("n_pair") > F.col("org_avg"))
        .select("org", "person", "n_pair", "org_avg")
        .orderBy("org", "person")
    )


def _subquery_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)),
w AS (SELECT subj AS person, obj AS org FROM e WHERE pred = '{TERMS}worksFor'),
inner_ AS (
  SELECT org, CAST(COUNT(*) AS DOUBLE) / CAST(COUNT(DISTINCT person) AS DOUBLE)
         AS org_avg
  FROM w GROUP BY org
),
pair AS (
  SELECT org, person, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM w GROUP BY org, person
)
SELECT pair.org, person, n_pair, org_avg
FROM pair JOIN inner_ ON pair.org = inner_.org
WHERE n_pair > org_avg
ORDER BY pair.org, person
"""


# all three patterns share ?p, so the greedy-connected ordering reduces
# to a pure estimate sort — the oracle's ROW_NUMBER over est_rows is
# then exact for ANY statistics, not just today's (a star around a
# different variable would make the greedy step diverge from the sort)
AUDIT_PATTERNS: list[tuple[str, Pattern]] = [
    ("?p worksFor <acme>",
     (Var("p"), TERMS + "worksFor",
      "http://example.org/kg/ids/organization/acme-analytics")),
    ("?p residence ?c", (Var("p"), TERMS + "residence", Var("c"))),
    ("?p birthPlace ?b", (Var("p"), TERMS + "birthPlace", Var("b"))),
]


def kg_bgp_planner_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics-based join ordering, audited: per pattern of a
    3-pattern BGP, the planner's ESTIMATED cardinality (per-predicate
    (n, distinct subj, distinct obj) stats + uniformity division per
    constant — ``estimate_pattern``), the MEASURED match count, and the
    position the estimate-driven ordering assigns.  The same audit
    discipline as kg_cardinality_est: the oracle recomputes estimates
    AND actuals from the golden edges, so a drifting statistic or a
    broken selectivity rule flips the hash.  The stats table is one
    bounded aggregate reusable across every query — per-query measured
    counts (``use_stats=True``) cost one job per pattern instead."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)  # already memo-checkpointed
    stats = collect_pred_stats(edges)
    ordered = _order_patterns(edges, [p for _l, p in AUDIT_PATTERNS], stats)
    pos = {repr(p): i for i, p in enumerate(ordered)}
    rows = []
    for label, pat in AUDIT_PATTERNS:
        rows.append(
            (
                label,
                estimate_pattern(pat, stats),
                _pattern_df(edges, pat).count(),
                pos[repr(pat)],
            )
        )
    return local_df(
        spark, rows, "pattern string, est_rows double, actual_rows long, order_pos int"
    ).orderBy("order_pos")


def _planner_audit_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)),
s AS (
  SELECT pred, COUNT(*) AS n, COUNT(DISTINCT subj) AS ns, COUNT(DISTINCT obj) AS no
  FROM e GROUP BY pred
),
rows_ AS (
  SELECT '?p worksFor <acme>' AS pattern,
         (SELECT CAST(n AS DOUBLE) / GREATEST(no, 1) FROM s
           WHERE pred = '{TERMS}worksFor') AS est_rows,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM e
           WHERE pred = '{TERMS}worksFor'
             AND obj = 'http://example.org/kg/ids/organization/acme-analytics')
           AS actual_rows
  UNION ALL
  SELECT '?p residence ?c',
         (SELECT CAST(n AS DOUBLE) FROM s WHERE pred = '{TERMS}residence'),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM e WHERE pred = '{TERMS}residence')
  UNION ALL
  SELECT '?p birthPlace ?b',
         (SELECT CAST(n AS DOUBLE) FROM s WHERE pred = '{TERMS}birthPlace'),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM e WHERE pred = '{TERMS}birthPlace')
)
SELECT pattern, est_rows, actual_rows,
       CAST(ROW_NUMBER() OVER (ORDER BY est_rows) - 1 AS INT) AS order_pos
FROM rows_ ORDER BY order_pos
"""


DESCRIBE_IRI = "http://example.org/kg/ids/organization/acme-analytics"


def describe_query(edges: DataFrame, iri: str) -> DataFrame:
    """SPARQL DESCRIBE — symmetric concise bounded description: the
    resource's distinct outgoing and incoming triples, each tagged with
    its direction.  (The KG has no blank nodes — kg/canonical.py owns
    bnode closure — so CBD needs no iterative bnode chase here; the
    semi-naive delta loop of kg_sparql_path_closure is the upgrade
    path.)  Two pred-pruned pushed-filter scans, one union, one
    distinct — no join at all."""
    out = edges.where(F.col("subj") == iri).select(
        F.lit("out").alias("direction"), "subj", "pred", "obj"
    )
    inc = edges.where(F.col("obj") == iri).select(
        F.lit("in").alias("direction"), "subj", "pred", "obj"
    )
    return out.unionAll(inc).dropDuplicates()


def kg_sparql_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE the hub org: its full symmetric CBD, ordered."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    return describe_query(edges, DESCRIBE_IRI).orderBy(
        "direction", "subj", "pred", "obj"
    )


def _describe_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true))
SELECT DISTINCT 'out' AS direction, subj, pred, obj FROM e WHERE subj = '{DESCRIBE_IRI}'
UNION
SELECT DISTINCT 'in', subj, pred, obj FROM e WHERE obj = '{DESCRIBE_IRI}'
ORDER BY direction, subj, pred, obj
"""


def kg_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT materializing an inferred relation:

        CONSTRUCT {{ ?a kg:colleague ?b }}
        WHERE {{ ?a kg:worksFor ?org . ?b kg:worksFor ?org .
                 FILTER (?a < ?b) }}

    The emitted graph is (subj, pred, obj)-shaped and feeds straight
    back into the edge table (materialized inference — the KG-
    construction loop closed). Returns summary counts, not the 30k-row
    pair graph: n_triples, n_distinct_subj, n_distinct_obj."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    g = construct_query(edges, CONSTRUCT_WHERE, CONSTRUCT_TEMPLATE, filters=["a < b"])
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.countDistinct("subj").cast("long").alias("n_distinct_subj"),
        F.countDistinct("obj").cast("long").alias("n_distinct_obj"),
    )


def _construct_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)),
w AS (SELECT DISTINCT subj AS person, obj AS org FROM e WHERE pred = '{TERMS}worksFor'),
g AS (
  SELECT DISTINCT a.person AS subj, '{TERMS}colleague' AS pred, b.person AS obj
  FROM w a JOIN w b ON a.org = b.org AND a.person < b.person
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triples,
       CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_distinct_subj,
       CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_distinct_obj
FROM g
"""


_IDS = "http://example.org/kg/ids/organization/"

VALUES_ORG_TIER: tuple[list[str], list[tuple]] = (
    ["org", "tier"],
    [
        (_IDS + "acme-analytics", "gold"),
        (_IDS + "umbrella-compute", "silver"),
        (_IDS + "initech-systems", "silver"),
    ],
)


def kg_sparql_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GRAPH — provenance-scoped co-assertion:

        SELECT ?g (COUNT(*) AS n_solutions)
                  (COUNT(DISTINCT ?person) AS n_persons)
        WHERE {{ GRAPH ?g {{ ?person kg:worksFor  ?org .
                             ?person kg:residence ?city }} }}
        GROUP BY ?g ORDER BY ?g

    Each crawled page is a named graph (its URL); scoping both
    patterns to the same ?g asks which PAGES assert both employment
    and residence for the same person — the evidence-collocation
    question entity-linking QA runs, and one plain pair-level join
    cannot answer (this dense KB satisfies the pair-level version
    everywhere; only 40 of 1,000 pages satisfy the graph-scoped one).
    Compilation: the graph var joins the two pred-pruned scans on
    (g, person) — one equi-join, no new shuffle shape vs a plain BGP."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    sols = bgp_query(
        edges,
        [
            (Var("person"), TERMS + "worksFor", Var("org")),
            (Var("person"), TERMS + "residence", Var("city")),
        ],
        ["g", "person", "org", "city"],
        graph=Var("g"),
        distinct=False,
    )
    return (
        sols.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_solutions"),
            F.countDistinct("person").cast("long").alias("n_persons"),
        )
        .orderBy("g")
    )


def _graph_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)),
w AS (SELECT url AS g, subj AS person, obj AS org FROM e WHERE pred = '{TERMS}worksFor'),
r AS (SELECT url AS g, subj AS person, obj AS city FROM e WHERE pred = '{TERMS}residence')
SELECT g, CAST(COUNT(*) AS BIGINT) AS n_solutions,
       CAST(COUNT(DISTINCT person) AS BIGINT) AS n_persons
FROM w JOIN r USING (g, person)
GROUP BY g ORDER BY g
"""


def kg_sparql_values_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL VALUES + expression BIND + FILTER NOT EXISTS:

        SELECT DISTINCT ?person ?org ?tier ?site
        WHERE {{
          GRAPH ?g {{ ?person kg:worksFor ?org }}
          VALUES (?org ?tier) {{ (acme 'gold') (umbrella 'silver')
                                 (initech 'silver') }}
          BIND(regexp_extract(?g, 'site([0-9]+)', 1) AS ?site)
          FILTER NOT EXISTS {{ GRAPH ?g {{ ?person kg:residence ?c }} }}
        }} ORDER BY ?person ?org ?site

    VALUES is an inline broadcast-joined solution sequence (brings the
    unbound ?tier variable along); BIND derives the crawl shard from
    the graph IRI; NOT EXISTS is graph-scoped — keep employment
    assertions from pages that do NOT co-assert the person's residence
    on the same page (an anti-join on (g, person), which MINUS over
    pair-level bindings could not express on this dense KB)."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    return bgp_query(
        edges,
        [(Var("person"), TERMS + "worksFor", Var("org"))],
        ["person", "org", "tier", "site"],
        graph=Var("g"),
        values=VALUES_ORG_TIER,
        bind_exprs={"site": "regexp_extract(g, 'site([0-9]+)', 1)"},
        not_exists_groups=[[(Var("person"), TERMS + "residence", Var("c"))]],
    ).orderBy("person", "org", "site")


def _values_bind_sql() -> str:
    from .queries import _GOLDEN_EDGES

    values_rows = ", ".join(
        f"('{org}', '{tier}')" for org, tier in VALUES_ORG_TIER[1]
    )
    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)),
w AS (SELECT url AS g, subj AS person, obj AS org FROM e WHERE pred = '{TERMS}worksFor'),
r AS (SELECT url AS g, subj AS person FROM e WHERE pred = '{TERMS}residence'),
v(org, tier) AS (VALUES {values_rows})
SELECT DISTINCT person, org, tier,
       regexp_extract(g, 'site([0-9]+)', 1) AS site
FROM w JOIN v USING (org)
WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.g = w.g AND r.person = w.person)
ORDER BY person, org, site
"""


# --- SPARQL 1.1 UPDATE (DELETE/INSERT WHERE) ---------------------------------

def update_query(
    edges: DataFrame,
    where: list[Pattern],
    delete_tmpl: list[Pattern] | None = None,
    insert_tmpl: list[Pattern] | None = None,
    filters: list[str] | None = None,
) -> DataFrame:
    """SPARQL 1.1 UPDATE as graph algebra, per spec evaluation order:
    both templates instantiate against the PRE-update solutions of
    WHERE, then G' = (G \u2216 inst(DELETE)) \u222a inst(INSERT) — a triple
    deleted and re-inserted by the same request survives, and inserts
    of existing triples dedup (RDF graphs are sets).

    Scale: two construct_query projections over one shared BGP join
    tree plus two anti-joins on (subj, pred, obj); the graph is never
    shuffled beyond the BGP's own joins, and the instantiated delta
    relations are solution-sized, not graph-sized. Composes with the
    snapshot layer: commit_snapshot(update_query(...)) gives versioned
    SPARQL UPDATE with time travel and changelogs for free."""
    g = edges.select("subj", "pred", "obj").dropDuplicates()
    out = g
    if delete_tmpl:
        dels = construct_query(edges, where, delete_tmpl, filters=filters)
        out = out.join(dels, ["subj", "pred", "obj"], "left_anti")
    if insert_tmpl:
        ins = construct_query(edges, where, insert_tmpl, filters=filters)
        out = out.join(ins, ["subj", "pred", "obj"], "left_anti").unionByName(ins)
    return out


# Registered update: reverse the employment edge for employees of
# Berlin-headquartered orgs — DELETE the worksFor triple, INSERT the
# inverse employs triple, both from the same pre-update match.
UPDATE_WHERE: list[Pattern] = [
    (Var("p"), TERMS + "worksFor", Var("org")),
    (Var("org"), TERMS + "headquarters", Var("city")),
]
UPDATE_DELETE: list[Pattern] = [(Var("p"), TERMS + "worksFor", Var("org"))]
UPDATE_INSERT: list[Pattern] = [(Var("org"), TERMS + "employs", Var("p"))]
UPDATE_FILTER = ["city LIKE '%/berlin'"]


def kg_sparql_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE/INSERT WHERE on the flagship webtext KG:

        DELETE {{ ?p kg:worksFor ?org }}
        INSERT {{ ?org kg:employs ?p }}
        WHERE  {{ ?p kg:worksFor ?org . ?org kg:headquarters ?city .
                  FILTER(?city = .../berlin) }}

    Returns the updated graph's per-predicate triple counts. Oracle
    recomputes the same algebra relationally over the truth-anchored
    golden edge table — a delete that misses a solution, an insert
    that duplicates, or a re-inserted-then-deleted triple error all
    shift a count."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    updated = update_query(
        edges, UPDATE_WHERE, UPDATE_DELETE, UPDATE_INSERT,
        filters=UPDATE_FILTER,
    )
    return (
        updated.groupBy("pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triples"))
        .orderBy("pred")
    )


def _update_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH g AS (
  SELECT DISTINCT subj, pred, obj
  FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)
), sols AS (
  SELECT DISTINCT w.subj AS p, w.obj AS org
  FROM g w JOIN g h ON h.subj = w.obj
  WHERE w.pred = '{TERMS}worksFor' AND h.pred = '{TERMS}headquarters'
    AND h.obj LIKE '%/berlin'
), dels AS (
  SELECT p AS subj, '{TERMS}worksFor' AS pred, org AS obj FROM sols
), ins AS (
  SELECT org AS subj, '{TERMS}employs' AS pred, p AS obj FROM sols
), updated AS (
  SELECT * FROM g
  EXCEPT SELECT * FROM dels
  UNION SELECT * FROM ins
)
SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_triples
FROM updated GROUP BY pred ORDER BY pred
"""


# --- SPARQL 1.1 federation: SERVICE with bound-join ---------------------------

def service_query(
    local_edges: DataFrame,
    local_patterns: list[Pattern],
    remote_edges: DataFrame,
    remote_patterns: list[Pattern],
    project: list[str],
    filters: list[str] | None = None,
    max_bindings: int = 100_000,
) -> tuple[DataFrame, int]:
    """SPARQL 1.1 SERVICE with the BOUND-JOIN optimization federation
    engines use (FedX-style VALUES injection): evaluate the local BGP,
    ship the DISTINCT bindings of the shared variables to the endpoint
    as a VALUES block riding the remote request, and join the
    endpoint's solutions back on those variables.

    The endpoint boundary is modeled faithfully: the remote evaluation
    sees ONLY its own patterns plus the shipped VALUES block — never
    the local graph — exactly the information a real SERVICE request
    serializes. The binding set is collected to the driver because it
    IS the request payload (bounded by ``max_bindings``, the same cap
    a federation engine applies before falling back to unbound
    evaluation); everything else stays distributed. Returns
    (solutions, n_shipped_bindings)."""
    local_vars = sorted({v for p in local_patterns for v in _pattern_vars(p)})
    remote_vars = sorted({v for p in remote_patterns for v in _pattern_vars(p)})
    shared = [v for v in local_vars if v in remote_vars]
    if not shared:
        raise ValueError("SERVICE group shares no variables with the local BGP")
    local = bgp_query(local_edges, local_patterns, local_vars, distinct=True)
    shipped = [tuple(r) for r in local.select(*shared).distinct().collect()]
    if len(shipped) > max_bindings:
        raise ValueError(
            f"{len(shipped)} bindings exceed the bound-join cap "
            f"{max_bindings}; evaluate the SERVICE group unbound instead"
        )
    remote = bgp_query(
        remote_edges, remote_patterns, remote_vars,
        values=(shared, shipped), distinct=True,
    )
    out = local.join(remote, shared)
    if filters:
        for f in filters:
            out = out.where(f)
    return out.select(*project).dropDuplicates(), len(shipped)


SERVICE_LOCAL: list[Pattern] = [(Var("p"), TERMS + "worksFor", Var("org"))]
SERVICE_REMOTE: list[Pattern] = [(Var("org"), TERMS + "headquarters", Var("city"))]


def kg_sparql_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated query on the flagship KG, endpoints split by concern:
    the LOCAL graph holds every non-geo triple, the REMOTE "geo
    endpoint" holds only the headquarters triples —

        SELECT ?city (COUNT(DISTINCT ?p) AS n_people)
        WHERE {{ ?p kg:worksFor ?org .
                 SERVICE geo {{ ?org kg:headquarters ?city }} }}

    evaluated with the bound join: only the distinct ?org bindings
    ship to the endpoint. Output adds the shipped-bindings count as a
    column, so the oracle also pins that the request payload is the
    org dimension, not the employment table."""
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    local = edges.where(F.col("pred") != TERMS + "headquarters")
    remote = edges.where(F.col("pred") == TERMS + "headquarters")
    sols, n_shipped = service_query(
        local, SERVICE_LOCAL, remote, SERVICE_REMOTE, ["p", "org", "city"]
    )
    return (
        sols.groupBy("city")
        .agg(F.countDistinct("p").cast("long").alias("n_people"))
        .withColumn("n_shipped_bindings", F.lit(n_shipped).cast("long"))
        .orderBy("city")
    )


def _service_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
WITH g AS (
  SELECT DISTINCT subj, pred, obj
  FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)
), w AS (
  SELECT DISTINCT subj AS p, obj AS org FROM g WHERE pred = '{TERMS}worksFor'
), geo AS (
  SELECT DISTINCT subj AS org, obj AS city FROM g
  WHERE pred = '{TERMS}headquarters'
), shipped AS (
  SELECT COUNT(DISTINCT org) AS n FROM w
)
SELECT city, CAST(COUNT(DISTINCT p) AS BIGINT) AS n_people,
       CAST((SELECT n FROM shipped) AS BIGINT) AS n_shipped_bindings
FROM w JOIN geo USING (org)
GROUP BY city ORDER BY city
"""


KG_BGP_QUERIES: dict[str, tuple] = {
    "kg_sparql_bgp": (kg_sparql_bgp, _bgp_sql()),
    "kg_sparql_graph": (kg_sparql_graph, _graph_sql()),
    "kg_sparql_values_bind": (kg_sparql_values_bind, _values_bind_sql()),
    "kg_sparql_ask": (kg_sparql_ask, _ask_sql()),
    "kg_bgp_planner_audit": (kg_bgp_planner_audit, _planner_audit_sql()),
    "kg_sparql_subquery": (kg_sparql_subquery, _subquery_sql()),
    "kg_sparql_path_algebra": (kg_sparql_path_algebra, _path_algebra_sql()),
    "kg_sparql_describe": (kg_sparql_describe, _describe_sql()),
    "kg_sparql_union": (kg_sparql_union, _union_sql()),
    "kg_sparql_minus": (kg_sparql_minus, _minus_sql()),
    "kg_sparql_topk": (kg_sparql_topk, _topk_sql()),
    "kg_sparql_construct": (kg_sparql_construct, _construct_sql()),
    "kg_sparql_optional": (kg_sparql_optional, _optional_sql()),
    "kg_sparql_agg": (kg_sparql_agg, _agg_sql()),
    "kg_sparql_path": (kg_sparql_path, _path_sql()),
    "kg_sparql_path_closure": (kg_sparql_path_closure, _path_closure_sql()),
    "kg_sparql_path_nps": (kg_sparql_path_nps, _path_nps_sql()),
    "kg_sparql_update": (kg_sparql_update, _update_sql()),
    "kg_sparql_service": (kg_sparql_service, _service_sql()),
}
