"""KG reasoning over the constructed graph: RDFS subclass-closure type
inference, functional-property conflict resolution, and temporal
(recrawl) fact versioning.

These extend the reference's vocabulary semantics past materialization:
the reference resolves subclass references at ingest
(``csv-to-jsonld-lib/src/instance/processor.rs`` subclass steps) and
detects vocabulary-term conflicts at compile time
(``vocabulary/types.rs`` ``update_with`` conflict accumulation); here
the same two ideas run over the INSTANCE graph at corpus scale — infer
every entity's full rdf:type set through an ontology closure, and
resolve contradictory values of functional predicates by evidence
count. The temporal query adds what a Common-Crawl-style source forces:
the same url observed at multiple crawl times with drifting facts, and
a latest-crawl-wins point-in-time view.

Scale notes (100 TB): the ontology (T-Box) is small — thousands of
classes — so its transitive closure is computed with the iterative
DataFrame self-join below (rounds = hierarchy depth, data never leaves
a handful of partitions) and then BROADCAST against the billion-row
instance table; the instance side never shuffles for typing. Conflict
resolution is one groupBy on (subj, pred, obj) followed by a window
over the SAME (subj, pred) partitioning — a single shuffle. The
temporal diff shuffles on url (the natural partition key of a crawl
store) for the latest-crawl election, then joins the two snapshots on
the full fact key; both sides are co-partitioned by the same key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_df

import os as _os

_GOLDEN_RECRAWLS = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "golden", "kg_recrawl_obs.csv",
)

# --- T-Box: the class hierarchy above the generator's three classes ---------
# (sub, sup) direct rdfs:subClassOf edges; depth 3 so the closure is
# non-trivial (Person ⊑ NaturalAgent ⊑ Agent ⊑ Entity).
SUBCLASS_OF: list[tuple[str, str]] = [
    ("Person", "NaturalAgent"),
    ("NaturalAgent", "Agent"),
    ("Organization", "LegalAgent"),
    ("LegalAgent", "Agent"),
    ("Agent", "Entity"),
    ("Place", "Location"),
    ("Location", "Entity"),
]

MAX_CLOSURE_ROUNDS = 10  # bound on hierarchy depth; loop exits at fixpoint


def subclass_closure(spark: SparkSession, pairs: list[tuple[str, str]]) -> DataFrame:
    """Transitive closure of rdfs:subClassOf via iterative self-join.

    Semi-naive style: each round joins only the NEWLY discovered pairs
    against the direct edges, unions non-duplicates, and stops at
    fixpoint (bounded by hierarchy depth, not |pairs|). localCheckpoint
    per round truncates the growing lineage — the same discipline as
    the connected-components and PageRank loops. For a T-Box this data
    is tiny; the function exists so ontologies of any depth close
    correctly before being broadcast at the instance join.
    """
    direct = local_df(spark, pairs, "sub string, sup string")
    closure = direct.localCheckpoint(eager=True)
    frontier = closure
    for _ in range(MAX_CLOSURE_ROUNDS):
        stepped = (
            frontier.alias("f")
            .join(direct.alias("d"), F.col("f.sup") == F.col("d.sub"))
            .select(F.col("f.sub").alias("sub"), F.col("d.sup").alias("sup"))
        )
        new = stepped.exceptAll(closure).distinct().localCheckpoint(eager=True)
        if new.isEmpty():
            break
        closure = closure.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    return closure


def kg_type_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS type inference over the flagship pipeline's entity table:
    every entity carries its direct class plus every superclass in the
    SUBCLASS_OF closure. Output per type: distinct entities holding it,
    split into directly-asserted vs closure-inherited.

    The entity table comes from the real extract→link→canonicalize run
    on the seed-42 corpus (all 19 KB entities appear in its edges —
    the same anchoring kg_entity_table uses), so the oracle can derive
    the identical answer from the public ENTITIES constant plus a
    WITH RECURSIVE closure of the same SUBCLASS_OF list: closure logic
    is exercised independently on both engines.

    Scale: closure rounds touch only T-Box rows; the instance join is
    an explicit broadcast of the closed T-Box against the entity table
    — zero instance-side shuffle before the final per-type count.
    """
    from ..sources.pages import generate_pages
    from .pipeline import build_kg

    pages = generate_pages(spark, 1000, seed=42, partitions=8)
    edges = build_kg(spark, pages)["edges"]
    entities = (
        edges.select(F.col("subj").alias("iri"), F.col("subj_class").alias("cls"))
        .unionByName(
            edges.select(F.col("obj").alias("iri"), F.col("obj_class").alias("cls"))
        )
        .dropDuplicates(["iri"])
    )
    closure = subclass_closure(spark, SUBCLASS_OF)
    direct = entities.select("iri", F.col("cls").alias("type"), F.lit(True).alias("is_direct"))
    inherited = (
        entities.join(F.broadcast(closure), entities["cls"] == closure["sub"])
        .select("iri", F.col("sup").alias("type"), F.lit(False).alias("is_direct"))
    )
    typed = direct.unionByName(inherited)
    return (
        typed.groupBy("type")
        .agg(
            F.countDistinct("iri").alias("n_entities"),
            F.countDistinct(F.when(F.col("is_direct"), F.col("iri"))).alias("n_direct"),
            F.countDistinct(F.when(~F.col("is_direct"), F.col("iri"))).alias("n_inherited"),
        )
        .orderBy("type")
    )


def _type_inference_sql() -> str:
    from ..iri import to_kebab_case
    from ..sources.pages import ENTITIES

    ent_rows = ", ".join(
        f"('http://example.org/kg/ids/{to_kebab_case(cls)}/{to_kebab_case(canonical)}', '{cls}')"
        for canonical, _aliases, cls in ENTITIES
    )
    onto_rows = ", ".join(f"('{sub}', '{sup}')" for sub, sup in SUBCLASS_OF)
    return f"""
WITH RECURSIVE onto(sub, sup) AS (SELECT * FROM (VALUES {onto_rows}) t(sub, sup)),
closure(sub, sup) AS (
  SELECT sub, sup FROM onto
  UNION
  SELECT c.sub, o.sup FROM closure c JOIN onto o ON c.sup = o.sub
),
ent(iri, cls) AS (SELECT * FROM (VALUES {ent_rows}) t(iri, cls)),
typed AS (
  SELECT iri, cls AS type, TRUE AS is_direct FROM ent
  UNION ALL
  SELECT e.iri, c.sup AS type, FALSE AS is_direct
  FROM ent e JOIN closure c ON e.cls = c.sub
)
SELECT type,
       CAST(COUNT(DISTINCT iri) AS BIGINT) AS n_entities,
       CAST(COUNT(DISTINCT CASE WHEN is_direct THEN iri END) AS BIGINT) AS n_direct,
       CAST(COUNT(DISTINCT CASE WHEN NOT is_direct THEN iri END) AS BIGINT) AS n_inherited
FROM typed GROUP BY type ORDER BY type
"""


KG_TYPE_INFERENCE_SQL = _type_inference_sql()


def kg_functional_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-property conflict RESOLUTION over the flagship edges:
    where kg_shacl_cardinality only flags subjects whose functional
    predicate (birthPlace, headquarters) carries >1 distinct object,
    this query elects a winner by evidence — the object asserted by the
    most (url, sentence) observations, ties to the lexicographically
    smallest object — the instance-scale analog of the reference's
    vocabulary conflict accumulation (``update_with``), which keeps the
    first value and records the clash.

    Output per conflicted (subj, pred): number of distinct competing
    objects, total supporting observations, the winning object and its
    support. Oracle derives the identical election from the
    generator-anchored golden edge table, so the resolution logic runs
    independently on both engines.

    Scale: one partial-aggregated groupBy on (subj, pred, obj), then
    the election window over (subj, pred). The window's exchange moves
    only the ALREADY-AGGREGATED support rows (one per distinct object),
    which beats the one-shuffle alternative — repartitioning the raw
    edge stream by (subj, pred) up front would satisfy both operators'
    clustering but forfeits map-side combine on the wide input. The
    row_number is WindowGroupLimit-pruned (top-1 per group, no full
    sort materialization); plan-gated in tests/test_plan_quality.py.
    """
    from .pipeline import MAX_COUNTS
    from .queries import kg_webtext_edges

    edges = kg_webtext_edges(spark, sf_dir)
    support = (
        edges.where(F.col("pred").isin(list(MAX_COUNTS)))
        .groupBy("subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    w = Window.partitionBy("subj", "pred")
    ranked = support.select(
        "subj", "pred", "obj", "support",
        F.count(F.lit(1)).over(w).alias("n_values"),
        F.sum("support").over(w).cast("long").alias("total_support"),
        F.row_number()
        .over(w.orderBy(F.desc("support"), F.asc("obj")))
        .alias("rk"),
    )
    return (
        ranked.where((F.col("n_values") > 1) & (F.col("rk") == 1))
        .select(
            "subj", "pred",
            F.col("n_values").cast("long").alias("n_values"),
            "total_support",
            F.col("obj").alias("winner_obj"),
            F.col("support").cast("long").alias("winner_support"),
        )
        .orderBy("subj", "pred")
    )


def _functional_conflicts_sql() -> str:
    from .queries import _GOLDEN_EDGES
    from .pipeline import MAX_COUNTS

    preds = ", ".join(f"'{p}'" for p in sorted(MAX_COUNTS))
    return f"""
WITH support AS (
  SELECT subj, pred, obj, COUNT(*) AS support
  FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)
  WHERE pred IN ({preds})
  GROUP BY 1, 2, 3
), ranked AS (
  SELECT subj, pred, obj, support,
         COUNT(*) OVER (PARTITION BY subj, pred) AS n_values,
         SUM(support) OVER (PARTITION BY subj, pred) AS total_support,
         ROW_NUMBER() OVER (PARTITION BY subj, pred
                            ORDER BY support DESC, obj ASC) AS rk
  FROM support
)
SELECT subj, pred, CAST(n_values AS BIGINT) AS n_values,
       CAST(total_support AS BIGINT) AS total_support,
       obj AS winner_obj, CAST(support AS BIGINT) AS winner_support
FROM ranked WHERE n_values > 1 AND rk = 1
ORDER BY subj, pred
"""


KG_FUNCTIONAL_CONFLICTS_SQL = _functional_conflicts_sql()


N_RECRAWL_URLS = 400


def kg_fact_versioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal KG over a recrawl stream: the same url observed at 1-3
    crawl times with facts drifting between crawls (updates, deletes,
    additions — sources/pages.py::recrawl_facts). The current graph is
    the latest-crawl-wins snapshot per url; this query diffs it against
    the first-crawl snapshot and reports, per predicate, how the web
    churned: facts still standing (stable), newly asserted (added), and
    retracted (removed), plus the current live count.

    Oracle: the golden CSV holds the RAW observation stream (written by
    tools/regen_recrawls_golden.py straight from the generator — the
    input, not the answer); DuckDB recomputes the latest-crawl election
    and the full-outer snapshot diff independently.

    Scale: the latest-crawl election is max(crawl_id) per url — one
    partial-aggregated groupBy on url, the natural partition key of a
    crawl store — joined back on url (co-partitioned). The snapshot
    diff is a full-outer join on the complete fact key; both inputs
    descend from the same url partitioning. No driver materialization
    anywhere; observations are generated on executors.
    """
    from ..sources.pages import generate_recrawls

    obs = generate_recrawls(spark, N_RECRAWL_URLS, seed=42, partitions=8)
    latest = obs.groupBy("url").agg(F.max("crawl_id").alias("max_crawl"))
    snap_last = (
        obs.join(latest, "url")
        .where(F.col("crawl_id") == F.col("max_crawl"))
        .select("url", "subj", "pred", "obj")
    )
    snap_first = obs.where(F.col("crawl_id") == 0).select("url", "subj", "pred", "obj")
    key = ["url", "subj", "pred", "obj"]
    f, l = snap_first.alias("f"), snap_last.alias("l")
    diff = f.join(l, key, "full_outer").select(
        F.coalesce(F.col("f.pred"), F.col("l.pred")).alias("pred"),
        F.col("f.url").isNotNull().alias("in_first"),
        F.col("l.url").isNotNull().alias("in_last"),
    )
    return (
        diff.groupBy("pred")
        .agg(
            F.sum(F.when(F.col("in_last"), 1).otherwise(0)).cast("long").alias("n_current"),
            F.sum(F.when(F.col("in_first") & F.col("in_last"), 1).otherwise(0))
            .cast("long").alias("n_stable"),
            F.sum(F.when(~F.col("in_first") & F.col("in_last"), 1).otherwise(0))
            .cast("long").alias("n_added"),
            F.sum(F.when(F.col("in_first") & ~F.col("in_last"), 1).otherwise(0))
            .cast("long").alias("n_removed"),
        )
        .orderBy("pred")
    )


KG_FACT_VERSIONING_SQL = f"""
WITH obs AS (
  SELECT url, CAST(crawl_id AS INT) AS crawl_id, subj, pred, obj
  FROM read_csv('{_GOLDEN_RECRAWLS}', header=true, all_varchar=true)
), latest AS (
  SELECT url, MAX(crawl_id) AS max_crawl FROM obs GROUP BY url
), snap_last AS (
  SELECT o.url, o.subj, o.pred, o.obj
  FROM obs o JOIN latest l ON o.url = l.url AND o.crawl_id = l.max_crawl
), snap_first AS (
  SELECT url, subj, pred, obj FROM obs WHERE crawl_id = 0
), diff AS (
  SELECT COALESCE(f.pred, l.pred) AS pred,
         f.url IS NOT NULL AS in_first,
         l.url IS NOT NULL AS in_last
  FROM snap_first f
  FULL OUTER JOIN snap_last l
    ON f.url = l.url AND f.subj = l.subj AND f.pred = l.pred AND f.obj = l.obj
)
SELECT pred,
       CAST(SUM(CASE WHEN in_last THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
       CAST(SUM(CASE WHEN in_first AND in_last THEN 1 ELSE 0 END) AS BIGINT) AS n_stable,
       CAST(SUM(CASE WHEN NOT in_first AND in_last THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(SUM(CASE WHEN in_first AND NOT in_last THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM diff GROUP BY pred ORDER BY pred
"""


def _scd2_intervals(spark: SparkSession):
    """Shared SCD2 interval builder over the recrawl stream: returns
    (versions ⋈ per-url max_crawl, raw observations). One window
    shuffle on the full fact key (the crawl store's cluster key)."""
    from pyspark.sql import Window

    from ..sources.pages import generate_recrawls

    obs = generate_recrawls(spark, N_RECRAWL_URLS, seed=42, partitions=8)
    key = ["url", "subj", "pred", "obj"]
    pres = obs.select(*key, "crawl_id").dropDuplicates()
    w = Window.partitionBy(*key).orderBy("crawl_id")
    vers = (
        pres.withColumn("island", F.col("crawl_id") - F.row_number().over(w))
        .groupBy(*key, "island")
        .agg(
            F.min("crawl_id").alias("valid_from"),
            F.max("crawl_id").alias("valid_to"),
        )
    )
    mx = obs.groupBy("url").agg(F.max("crawl_id").alias("max_crawl"))
    return vers.join(mx, "url"), obs


def kg_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history over the recrawl
    stream: each fact's presence across crawls is segmented into
    validity intervals by the gaps-and-islands rule (island =
    crawl_id − row_number over the fact's presence sequence — a fact
    that disappears and later reappears opens a NEW version, exactly
    SCD2 semantics), then summarized per predicate: version count,
    currently-open versions (valid_to = the url's latest crawl), total
    covered crawl-slots, longest version, and versions that are closed
    or late-opening (churn signal).

    Scale: the island window partitions by the full fact key — the
    same key the crawl store would cluster on — so sessionizing is one
    shuffle; everything after is partial-aggregated.  This is the
    interval-building complement to ``kg_fact_versioning``'s
    first-vs-last diff (same truth-anchored RAW-observation oracle).
    """
    v, _obs = _scd2_intervals(spark)
    length = F.col("valid_to") - F.col("valid_from") + 1
    return (
        v.groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.sum((F.col("valid_to") == F.col("max_crawl")).cast("long")).alias("n_current"),
            F.sum(length).cast("long").alias("total_version_crawls"),
            F.max(length).cast("long").alias("max_version_len"),
            F.sum(
                ((F.col("valid_from") > 0) | (F.col("valid_to") < F.col("max_crawl"))).cast("long")
            ).alias("n_closed_or_late"),
        )
        .orderBy("pred")
    )


KG_SCD2_SQL = f"""
WITH obs AS (
  SELECT url, CAST(crawl_id AS INT) AS crawl_id, subj, pred, obj
  FROM read_csv('{_GOLDEN_RECRAWLS}', header=true, all_varchar=true)
), pres AS (
  SELECT DISTINCT url, subj, pred, obj, crawl_id FROM obs
), isl AS (
  SELECT url, subj, pred, obj, crawl_id,
         crawl_id - ROW_NUMBER() OVER (
           PARTITION BY url, subj, pred, obj ORDER BY crawl_id) AS island
  FROM pres
), vers AS (
  SELECT url, subj, pred, obj,
         MIN(crawl_id) AS valid_from, MAX(crawl_id) AS valid_to
  FROM isl GROUP BY url, subj, pred, obj, island
), mx AS (
  SELECT url, MAX(crawl_id) AS max_crawl FROM obs GROUP BY url
)
SELECT pred,
       CAST(COUNT(*) AS BIGINT) AS n_versions,
       CAST(SUM(CASE WHEN v.valid_to = m.max_crawl THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
       CAST(SUM(v.valid_to - v.valid_from + 1) AS BIGINT) AS total_version_crawls,
       CAST(MAX(v.valid_to - v.valid_from + 1) AS BIGINT) AS max_version_len,
       CAST(SUM(CASE WHEN v.valid_from > 0 OR v.valid_to < m.max_crawl
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_closed_or_late
FROM vers v JOIN mx m USING (url)
GROUP BY pred ORDER BY pred
"""


def kg_facts_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal as-of reads over the SCD2 intervals — "what did the KG
    believe at crawl t?" for every t, in one pass. A version is valid
    at t iff ``valid_from <= t`` and (``t <= valid_to`` OR the version
    is CURRENT — ``valid_to = max_crawl(url)`` — in which case it is
    open-ended, the standard SCD2 carry-forward for urls whose crawl
    horizon ended early). Output per (pred, t): facts valid, versions
    opening at t, versions that closed at t (their valid_to was t−1
    and they are not current).

    Scale shape: the interval table joins a |crawls|-row literal range
    (3 here; bounded by crawl history, never by corpus) — the interval
    containment is a broadcast range join with per-row predicates, and
    the census is one partial-aggregated groupBy. The production twin
    reads the same intervals straight from the SCD2 dimension table,
    so an as-of batch costs one broadcast + one aggregation, never a
    re-sessionization."""
    v, obs = _scd2_intervals(spark)
    gmax = obs.agg(F.max("crawl_id").alias("g")).select(
        F.explode(F.sequence(F.lit(0), F.col("g"))).alias("t")
    )
    cur = F.col("valid_to") == F.col("max_crawl")
    joined = v.crossJoin(F.broadcast(gmax))
    return (
        joined.groupBy("pred", "t")
        .agg(
            F.sum(
                (
                    (F.col("valid_from") <= F.col("t"))
                    & ((F.col("t") <= F.col("valid_to")) | cur)
                ).cast("long")
            ).alias("n_valid"),
            F.sum((F.col("valid_from") == F.col("t")).cast("long")).alias("n_opened"),
            F.sum(((F.col("valid_to") == F.col("t") - 1) & ~cur).cast("long")).alias(
                "n_closed"
            ),
        )
        .select(
            "pred",
            F.col("t").cast("int").alias("t"),
            "n_valid",
            "n_opened",
            "n_closed",
        )
        .orderBy("pred", "t")
    )


KG_ASOF_SQL = f"""
WITH obs AS (
  SELECT url, CAST(crawl_id AS INT) AS crawl_id, subj, pred, obj
  FROM read_csv('{_GOLDEN_RECRAWLS}', header=true, all_varchar=true)
), pres AS (
  SELECT DISTINCT url, subj, pred, obj, crawl_id FROM obs
), isl AS (
  SELECT url, subj, pred, obj, crawl_id,
         crawl_id - ROW_NUMBER() OVER (
           PARTITION BY url, subj, pred, obj ORDER BY crawl_id) AS island
  FROM pres
), vers AS (
  SELECT url, subj, pred, obj,
         MIN(crawl_id) AS valid_from, MAX(crawl_id) AS valid_to
  FROM isl GROUP BY url, subj, pred, obj, island
), mx AS (
  SELECT url, MAX(crawl_id) AS max_crawl FROM obs GROUP BY url
), v AS (SELECT vers.*, mx.max_crawl FROM vers JOIN mx USING (url)),
ts AS (SELECT unnest(generate_series(0, (SELECT MAX(crawl_id) FROM obs))) AS t)
SELECT pred, CAST(t AS INT) AS t,
       CAST(SUM(CASE WHEN valid_from <= t
                      AND (t <= valid_to OR valid_to = max_crawl)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(SUM(CASE WHEN valid_from = t THEN 1 ELSE 0 END) AS BIGINT) AS n_opened,
       CAST(SUM(CASE WHEN valid_to = t - 1 AND valid_to <> max_crawl
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_closed
FROM v CROSS JOIN ts
GROUP BY pred, t ORDER BY pred, t
"""


TEMPORAL_ROUNDS = 4  # earliest-arrival supersteps
TEMPORAL_SEED_MOD = 3  # md5 gate selecting ~1/3 of entities as sources


def kg_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting (temporal) reachability over the recrawl
    observation stream: each observation is a temporal edge
    (subj → obj, t = crawl_ts) usable only at a time ≥ your arrival at
    its source — the earliest-arrival-path kernel of temporal graph
    analysis (information/contagion propagation: a fact observed
    BEFORE you reached its subject cannot carry you forward).

    arr(v) starts 0 on the md5-sampled seed entities and relaxes
    {TEMPORAL_ROUNDS} supersteps of
    ``arr'(v) = min(arr(v), min{{t : (u,v,t) ∈ E, t ≥ arr(u)}})`` —
    integer epoch seconds, order-free min-merge, both engines unroll
    identically.  Output: every entity with its earliest arrival epoch
    (-1 = temporally unreachable even if statically connected — the
    distinction this operator exists to draw).

    Scale shape: per superstep ONE equi-join of the arrival table
    against the temporal edge list (the t ≥ arr(u) bound rides the join
    condition) + ONE min-groupBy; identical cost model to the static
    BFS, state is one row per vertex.

    Oracle: golden CSV = the RAW observation stream; DuckDB re-derives
    edges, seeds, and all rounds independently."""
    from ..sources.pages import generate_recrawls

    obs = generate_recrawls(spark, N_RECRAWL_URLS, seed=42, partitions=8)
    edges = (
        obs.select(
            F.col("subj").alias("u"), F.col("obj").alias("v"),
            F.col("crawl_ts_epoch").cast("long").alias("t"),
        )
        .dropDuplicates()
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .dropDuplicates()
        .localCheckpoint()
    )
    gate = F.conv(F.substring(F.md5("node"), 1, 4), 16, 10).cast("long")
    arr = nodes.where(gate % TEMPORAL_SEED_MOD == 0).select(
        "node", F.lit(0).cast("long").alias("d")
    )
    for _ in range(TEMPORAL_ROUNDS):
        relax = (
            edges.join(arr, (edges.u == arr.node) & (edges.t >= arr.d))
            .select(F.col("v").alias("node"), F.col("t").alias("d"))
        )
        arr = (
            arr.unionByName(relax).groupBy("node").agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
    return (
        nodes.join(arr, "node", "left")
        .select("node", F.coalesce(F.col("d"), F.lit(-1)).alias("arrival_epoch"))
        .orderBy("node")
    )


def _temporal_reach_sql() -> str:
    parts = [f"""
WITH obs AS MATERIALIZED (
  SELECT * FROM read_csv('{_GOLDEN_RECRAWLS}', header=true, all_varchar=true)
),
edges AS MATERIALIZED (
  SELECT DISTINCT subj AS u, obj AS v, CAST(crawl_ts_epoch AS BIGINT) AS t
  FROM obs
),
nodes AS MATERIALIZED (
  SELECT DISTINCT u AS node FROM edges UNION SELECT DISTINCT v FROM edges
),
a0 AS MATERIALIZED (
  SELECT node, CAST(0 AS BIGINT) AS d FROM nodes
  WHERE CAST(('0x' || substr(md5(node), 1, 4)) AS BIGINT)
        % {TEMPORAL_SEED_MOD} = 0
)"""]
    for r in range(1, TEMPORAL_ROUNDS + 1):
        p = r - 1
        parts.append(f""",
a{r} AS MATERIALIZED (
  SELECT node, MIN(d) AS d FROM (
    SELECT node, d FROM a{p}
    UNION ALL
    SELECT e.v AS node, e.t AS d
    FROM edges e JOIN a{p} aa ON e.u = aa.node AND e.t >= aa.d
  ) GROUP BY node
)""")
    parts.append(f"""
SELECT n.node, COALESCE(a.d, -1) AS arrival_epoch
FROM nodes n LEFT JOIN a{TEMPORAL_ROUNDS} a ON n.node = a.node
ORDER BY n.node""")
    return "".join(parts)


KG_TEMPORAL_REACH_SQL = _temporal_reach_sql()


KG_REASONING_QUERIES: dict[str, tuple] = {
    "kg_temporal_reachability": (
        kg_temporal_reachability, KG_TEMPORAL_REACH_SQL,
    ),
    "kg_facts_asof": (kg_facts_asof, KG_ASOF_SQL),
    "kg_type_inference": (kg_type_inference, KG_TYPE_INFERENCE_SQL),
    "kg_functional_conflicts": (kg_functional_conflicts, KG_FUNCTIONAL_CONFLICTS_SQL),
    "kg_fact_versioning": (kg_fact_versioning, KG_FACT_VERSIONING_SQL),
    "kg_scd2_versions": (kg_scd2_versions, KG_SCD2_SQL),
}
