"""KG-construction operators expressed over the driver's ``documents``
table so the DuckDB gate can check them (the full web-text pipeline with
HTML + linking runs on the synthetic pages corpus in kg/pipeline.py and
is pytest-gated).

- ``kg_mention_counts``: gazetteer mention detection as triples
  (doc, "mentions", term, n) — the mention-detection stage with an
  exact SQL oracle.
- ``kg_cooccurrence_edges``: adjacent-token co-occurrence edges between
  lexicon terms — the degenerate-but-exact form of (subj, pred, obj)
  extraction: subject term, "next-to" predicate, object term.
- ``kg_entity_degree``: graph-side aggregation over the extracted edges
  (entity materialization A1 analog).
- ``kg_pagerank``: weighted PageRank, 10 fixed iterations, vs a DuckDB
  oracle that unrolls the same iterations as chained CTEs.
- ``kg_two_hop_paths``: path-counting self-join over the edge table.
- ``kg_triangle_counts``: per-vertex triangle participation via the
  ordered-triple join (clustering signal; degree orientation is the
  power-law upgrade).
- ``kg_webtext_edges`` / ``kg_webtext_edge_stats`` / ``kg_webtext_pr``:
  the flagship HTML→triples pipeline on the deterministic synthetic
  corpus — full-table hash check vs a generator-derived golden, a
  per-predicate regression pin, and a truth-anchored precision/recall
  row (the primary gate).
- ``kg_domain_stats`` / ``kg_shacl_cardinality`` / ``kg_entity_table``
  / ``kg_predicate_table``: mega-domain skew stats, SHACL maxCount
  findings, and the materialized entity/predicate tables — every
  oracle computed from the generator-anchored golden or the public KB
  constants, nothing pinned to a run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_tables

import os as _os

# Golden-CSV path built from __file__ so the oracles survive any
# checkout location (round-3 advice: absolute /root/repo paths baked
# into SQL break elsewhere).
_GOLDEN_EDGES = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "golden", "kg_webtext_edges.csv",
)

LEXICON = ["spark", "table", "join", "window", "query", "filter", "sort", "merge", "stream", "vector"]


def kg_mention_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    tokens = F.split(F.col("text"), " ")
    lex = F.array(*[F.lit(w) for w in LEXICON])
    d = t["documents"].select(
        "doc_id", F.explode(F.filter(tokens, lambda x: F.array_contains(lex, x))).alias("term")
    )
    return (
        d.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .orderBy("doc_id", "term")
    )


KG_MENTIONS_SQL = f"""
SELECT doc_id, term, COUNT(*) AS n_mentions FROM (
  SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> list_contains({LEXICON!r}, x))) AS term
  FROM documents
) GROUP BY doc_id, term ORDER BY doc_id, term
"""


def kg_cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-lexicon-term pairs → weighted edges. Plan: higher-order
    transform builds the bigram array per doc (no shuffle), explode, one
    partial-aggregated groupBy — |lexicon|² max groups regardless of
    corpus size."""
    t = load_tables(spark, sf_dir)
    lex = F.array(*[F.lit(w) for w in LEXICON])
    d = t["documents"].withColumn("_tokens", F.split(F.col("text"), " "))
    bigrams = F.expr(
        "transform(sequence(1, greatest(size(_tokens) - 1, 0)),"
        " i -> struct(_tokens[i-1] as subj, _tokens[i] as obj))"
    )
    pairs = d.select(F.explode(bigrams).alias("bg")).select("bg.subj", "bg.obj")
    return (
        pairs.where(F.array_contains(lex, F.col("subj")) & F.array_contains(lex, F.col("obj")))
        .groupBy("subj", "obj")
        .agg(F.count(F.lit(1)).alias("weight"))
        .orderBy("subj", "obj")
    )


KG_COOC_SQL = f"""
WITH toks AS (SELECT string_split(text,' ') AS tokens FROM documents),
bg AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(tokens)-1, 0)),
                i -> struct_pack(subj := tokens[i], obj := tokens[i+1]))) AS p
  FROM toks
)
SELECT p.subj AS subj, p.obj AS obj, COUNT(*) AS weight
FROM bg
WHERE list_contains({LEXICON!r}, p.subj) AND list_contains({LEXICON!r}, p.obj)
GROUP BY 1, 2 ORDER BY subj, obj
"""


def kg_entity_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree (in+out, weighted) per lexicon term over the co-occurrence
    graph — entity-table aggregation on top of edge extraction."""
    edges = kg_cooccurrence_edges(spark, sf_dir)
    out_deg = edges.groupBy(F.col("subj").alias("term")).agg(F.sum("weight").alias("w"))
    in_deg = edges.groupBy(F.col("obj").alias("term")).agg(F.sum("weight").alias("w"))
    return (
        out_deg.unionByName(in_deg)
        .groupBy("term")
        .agg(F.sum("w").alias("degree"))
        .orderBy(F.desc("degree"), F.asc("term"))
    )


KG_DEGREE_SQL = f"""
WITH toks AS (SELECT string_split(text,' ') AS tokens FROM documents),
bg AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(tokens)-1, 0)),
                i -> struct_pack(subj := tokens[i], obj := tokens[i+1]))) AS p
  FROM toks
), edges AS (
  SELECT p.subj AS subj, p.obj AS obj, COUNT(*) AS weight
  FROM bg
  WHERE list_contains({LEXICON!r}, p.subj) AND list_contains({LEXICON!r}, p.obj)
  GROUP BY 1, 2
), deg AS (
  SELECT subj AS term, weight FROM edges
  UNION ALL
  SELECT obj AS term, weight FROM edges
)
SELECT term, CAST(SUM(weight) AS BIGINT) AS degree FROM deg GROUP BY term ORDER BY degree DESC, term ASC
"""


def kg_two_hop_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop path aggregation over the co-occurrence graph: for every
    (src, dst) pair connected through an intermediate node, the number
    of distinct 2-paths and their total weight (product of hop weights)
    — the basic graph-traversal join behind neighborhood features and
    link prediction.

    Plan: edges ⋈ edges on mid node — ONE shuffle keyed by the join
    column, then a partial-aggregated groupBy. At web scale the mid-node
    key is hub-skewed (celebrity entities), the same hazard profile as
    entity linking; the mitigations benched in BENCH/BASELINE.md
    (salting, AQE skew-join) apply to this join identically. Round-trip
    paths (src == dst through a mid) are kept — the usual convention
    for path-count features."""
    edges = kg_cooccurrence_edges(spark, sf_dir)
    a = edges.select(
        F.col("subj").alias("src"), F.col("obj").alias("mid"), F.col("weight").alias("w1")
    )
    b = edges.select(
        F.col("subj").alias("mid"), F.col("obj").alias("dst"), F.col("weight").alias("w2")
    )
    return (
        a.join(b, "mid")
        .groupBy("src", "dst")
        .agg(
            F.count(F.lit(1)).alias("n_paths"),
            F.sum(F.col("w1") * F.col("w2")).alias("path_weight"),
        )
        .orderBy("src", "dst")
    )


KG_TWO_HOP_SQL = f"""
WITH toks AS (SELECT string_split(text,' ') AS tokens FROM documents),
bg AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(tokens)-1, 0)),
                i -> struct_pack(subj := tokens[i], obj := tokens[i+1]))) AS p
  FROM toks
), edges AS (
  SELECT p.subj AS subj, p.obj AS obj, COUNT(*) AS weight
  FROM bg
  WHERE list_contains({LEXICON!r}, p.subj) AND list_contains({LEXICON!r}, p.obj)
  GROUP BY 1, 2
)
SELECT a.subj AS src, b.obj AS dst,
       CAST(COUNT(*) AS BIGINT) AS n_paths,
       CAST(SUM(a.weight * b.weight) AS BIGINT) AS path_weight
FROM edges a JOIN edges b ON a.obj = b.subj
GROUP BY 1, 2 ORDER BY src, dst
"""


PR_ITERS = 10
PR_DAMP = 0.85


def kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the co-occurrence graph, {PR_ITERS} fixed
    iterations, d={PR_DAMP} — the standard KG entity-importance score.

    Iterative DataFrame loop: rank_{{k+1}}(v) = (1-d)/N + d ·
    Σ_in rank_k(u)·w(u,v)/out_w(u). Each iteration is one shuffle on the
    destination key; ``localCheckpoint`` per iteration keeps the plan
    flat (the 100 TB variant checkpoints to the lineage ledger instead,
    kg/lineage.py). Dangling mass is dropped (documented — both engines
    identically). Hash-checked against a DuckDB oracle that unrolls the
    same {PR_ITERS} iterations as chained CTEs; ranks rounded to 6dp on
    both sides at the very end only."""
    edges = kg_cooccurrence_edges(spark, sf_dir).localCheckpoint()
    nodes = (
        edges.select(F.col("subj").alias("node"))
        .unionByName(edges.select(F.col("obj").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    out_w = edges.groupBy("subj").agg(F.sum("weight").alias("ow"))
    norm = edges.join(out_w, "subj").select(
        F.col("subj").alias("src"),
        F.col("obj").alias("dst"),
        (F.col("weight").cast("double") / F.col("ow")).alias("wn"),
    ).localCheckpoint()

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(PR_ITERS):
        contrib = (
            norm.join(ranks, norm.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("wn")).alias("acc"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (F.lit((1.0 - PR_DAMP) / n) + F.lit(PR_DAMP) * F.coalesce(F.col("acc"), F.lit(0.0))).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select("node", F.round(F.col("rank"), 6).alias("rank")).orderBy("node")


def _pagerank_sql() -> str:
    head = f"""
WITH toks AS (SELECT string_split(text,' ') AS tokens FROM documents),
bg AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(tokens)-1, 0)),
                i -> struct_pack(subj := tokens[i], obj := tokens[i+1]))) AS p
  FROM toks
), edges AS (
  SELECT p.subj AS subj, p.obj AS obj, COUNT(*) AS weight
  FROM bg
  WHERE list_contains({LEXICON!r}, p.subj) AND list_contains({LEXICON!r}, p.obj)
  GROUP BY 1, 2
), nodes AS (
  SELECT subj AS node FROM edges UNION SELECT obj FROM edges
), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
norm AS (
  SELECT subj AS src, obj AS dst, CAST(weight AS DOUBLE) / SUM(weight) OVER (PARTITION BY subj) AS wn
  FROM edges
), pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    steps = []
    for k in range(1, PR_ITERS + 1):
        steps.append(f""",
pr{k} AS (
  SELECT nodes.node,
         (1 - {PR_DAMP}) / (SELECT n FROM nn) + {PR_DAMP} * COALESCE(s.acc, 0) AS rank
  FROM nodes
  LEFT JOIN (
    SELECT e.dst AS node, SUM(p.rank * e.wn) AS acc
    FROM pr{k - 1} p JOIN norm e ON e.src = p.node
    GROUP BY e.dst
  ) s ON s.node = nodes.node
)""")
    return head + "".join(steps) + f"""
SELECT node, ROUND(rank, 6) AS rank FROM pr{PR_ITERS} ORDER BY node
"""


KG_PAGERANK_SQL = _pagerank_sql()


# one materialized edge table per Spark application: ~40 registered
# queries consume the same deterministic 1,000-page construction run,
# so the extraction pipeline executes ONCE per process and every
# consumer scans the checkpointed columnar result — the production
# pattern (edges are a materialized table; queries never re-crawl).
# Keyed by applicationId so a fresh SparkContext re-materializes.
_EDGES_MEMO: dict[str, DataFrame] = {}


def kg_webtext_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship web-text pipeline end-to-end on a deterministic
    1,000-page synthetic corpus: HTML → extract → NER → link →
    canonicalize → edges. The extraction itself is not ANSI-SQL-
    expressible (gazetteer NER + linking), but the EXPECTED output is
    derivable from the generator's own fact list — the oracle reads
    tests/golden/kg_webtext_edges.csv, written by
    tools/regen_kg_edges_golden.py purely from sources/pages.py ground
    truth (sent_idx = fact position in the page's sentence sequence;
    IRIs from the shared F10 namespacing rule). Truth-anchored full-
    table hash check; P/R ≥ 0.95 additionally pytest-gated."""
    key = spark.sparkContext.applicationId
    memo = _EDGES_MEMO.get(key)
    if memo is not None:
        return memo

    from ..sources.pages import generate_pages
    from .pipeline import build_kg

    pages = generate_pages(spark, 1000, seed=42, partitions=8)
    edges = build_kg(spark, pages)["edges"]
    out = (
        edges.select("url", "sent_idx", "subj", "pred", "obj")
        .orderBy("url", "sent_idx", "subj", "pred", "obj")
        .localCheckpoint()
    )
    _EDGES_MEMO.clear()  # at most one live application per process
    _EDGES_MEMO[key] = out
    return out




# Truth-anchored full-table oracle (see kg_webtext_edges docstring).
KG_EDGES_SQL = f"""
SELECT url, CAST(sent_idx AS INT) AS sent_idx, subj, pred, obj
FROM read_csv('{_GOLDEN_EDGES}',
              header=true, all_varchar=true)
ORDER BY url, sent_idx, subj, pred, obj
"""


def kg_webtext_edge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate edge statistics of the flagship pipeline run —
    hash-checked REGRESSION PIN: the golden VALUES oracle is the
    pipeline's own verified output on the deterministic seed-42 corpus
    (independence from the generator ground truth is separately
    pytest-gated at P/R >= 0.95 in tests/test_kg_pipeline.py; this gate
    exists so any behavior drift in extract/NER/link/canonicalize turns
    a driver row red instead of hiding in a rows-only count).

    Since round 3 this pin is the SECONDARY gate: ``kg_webtext_pr``
    below is truth-anchored (joins pipeline output against the
    generator's own fact list), so the driver no longer has to trust
    the engine about itself."""
    edges = kg_webtext_edges(spark, sf_dir)
    return (
        edges.groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.countDistinct("subj").alias("n_subjects"),
            F.countDistinct("obj").alias("n_objects"),
        )
        .orderBy("pred")
    )


KG_EDGE_STATS_SQL = """
SELECT pred, CAST(n_edges AS BIGINT) AS n_edges,
       CAST(n_subjects AS BIGINT) AS n_subjects,
       CAST(n_objects AS BIGINT) AS n_objects
FROM (VALUES
  ('http://example.org/kg/terms/acquired', 276, 6, 6),
  ('http://example.org/kg/terms/birthPlace', 259, 8, 5),
  ('http://example.org/kg/terms/founderOf', 493, 8, 6),
  ('http://example.org/kg/terms/headquarters', 466, 6, 5),
  ('http://example.org/kg/terms/partner', 270, 6, 6),
  ('http://example.org/kg/terms/residence', 287, 8, 5),
  ('http://example.org/kg/terms/worksFor', 739, 8, 6)
) AS golden(pred, n_edges, n_subjects, n_objects)
ORDER BY pred
"""


def kg_webtext_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth-anchored precision/recall gate for the flagship pipeline.

    The synthetic generator knows its own facts (sources/pages.py:
    ``ground_truth_triples`` emits the (url, subj, pred, obj) list each
    page was BUILT from — fully independent of extract/NER/link/
    canonicalize). This query runs the pipeline on the seed-42 corpus,
    set-joins predicted vs truth triples on the full 4-tuple (one
    sort-merge join on the composite key — scales), and returns one row
    of counts + P/R + a ``meets_bar`` boolean wired to the north_rule's
    P/R >= 0.95. The oracle golden pins the exact counts, so the driver
    row goes red if extraction quality drifts AT ALL, and ``meets_bar``
    goes false (independently of the pin) if it ever drops below the
    bar. Supersedes the self-referential kg_webtext_edge_stats pin as
    the primary flagship gate (VERDICT r2 item 1).

    Reference parity: the reference validates its emitted triples
    against fixture expectations (tests in the reference repo run the
    CSV fixtures end-to-end); this is the same contract generalized to
    web text, with the generator playing the fixture author.
    """
    from ..sources.pages import generate_pages, ground_truth_triples
    from .pipeline import build_kg

    base = "http://example.org/kg/terms/"
    pages = generate_pages(spark, 1000, seed=42, partitions=8)
    edges = build_kg(spark, pages)["edges"]
    keys = ["url", "subj", "pred", "obj"]
    predicted = (
        edges.select(
            "url",
            F.col("subj_name").alias("subj"),
            F.replace(F.col("pred"), F.lit(base), F.lit("")).alias("pred"),
            F.col("obj_name").alias("obj"),
        )
        .distinct()
        .withColumn("in_pred", F.lit(1))
    )
    truth = (
        ground_truth_triples(spark, 1000, seed=42)
        .distinct()
        .withColumn("in_truth", F.lit(1))
    )
    j = predicted.join(truth, keys, "full_outer")
    return (
        j.agg(
            F.sum("in_truth").alias("n_truth"),
            F.sum("in_pred").alias("n_pred"),
            F.sum(
                F.when(F.col("in_truth").isNotNull() & F.col("in_pred").isNotNull(), 1)
            ).alias("n_common"),
        )
        .select(
            "n_truth",
            "n_pred",
            "n_common",
            F.round(F.col("n_common") / F.col("n_pred"), 6).alias("precision"),
            F.round(F.col("n_common") / F.col("n_truth"), 6).alias("recall"),
            (
                (F.col("n_common") / F.col("n_pred") >= 0.95)
                & (F.col("n_common") / F.col("n_truth") >= 0.95)
            ).alias("meets_bar"),
        )
    )


# Golden pinned from the seed-42 run; n_truth comes purely from the
# generator, so a pipeline that silently extracts nothing cannot forge
# this row. Regenerate via: python tools/compare.py <sf> kg_webtext_pr
KG_PR_SQL = """
SELECT CAST(n_truth AS BIGINT) AS n_truth, CAST(n_pred AS BIGINT) AS n_pred,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(precision AS DOUBLE) AS precision, CAST(recall AS DOUBLE) AS recall,
       CAST(meets_bar AS BOOLEAN) AS meets_bar
FROM (VALUES (2763, 2763, 2763, 1.0, 1.0, TRUE)) AS golden(n_truth, n_pred, n_common, precision, recall, meets_bar)
"""


def kg_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain graph statistics over the flagship pipeline's edges —
    the MEGA-DOMAIN axis of the north_rule's skew clause (hosts are
    Zipf-distributed: site1 alone holds ~7% of pages). The aggregation
    shape is the skew-safe one: COUNT(DISTINCT) per host plans as
    Spark's two-phase distinct expansion (partial aggregate per input
    partition, then a final merge keyed by host), so the head domain's
    rows are combined map-side and no single reducer sees its raw edge
    list. Oracle: DuckDB computes the same stats from the
    generator-derived golden edge table (tests/golden/
    kg_webtext_edges.csv) — no pinned values, truth-anchored."""
    edges = kg_webtext_edges(spark, sf_dir)
    host = F.regexp_extract(F.col("url"), r"https://([^/]+)/", 1)
    return (
        edges.withColumn("host", host)
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.countDistinct("url").alias("n_pages"),
            F.countDistinct("subj").alias("n_subjects"),
            F.countDistinct("pred").alias("n_predicates"),
        )
        .orderBy(F.desc("n_edges"), F.asc("host"))
    )


EDGECUT_K = 8  # partitions evaluated by the placement audit


def kg_edge_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-placement audit: the PowerGraph-style partitioning-quality
    metrics that choose the edge layout BEFORE a 10^12-edge iterative
    job (PageRank/LPA/k-core all shuffle per iteration, so placement
    is the dominant cost). Three candidate placements of the pipeline's
    edges into {EDGECUT_K} parts, each scored by:

    - ``max_part_edges`` — straggler bound (worst partition's load);
    - ``repl_sum`` / ``n_vertices`` — PowerGraph vertex replication
      factor: Σ_v |parts touching v|, the per-iteration communication
      volume (each replica must sync its vertex state).

    Placements: ``edge_hash`` (uniform random — perfect balance,
    worst replication), ``src_hash`` (subj-keyed — co-locates each
    vertex's out-edges, halves replication, inherits hub skew:
    entity 0 holds ~35% of mentions), ``domain`` (host-keyed — the
    crawl store's free clustering, but Zipf hosts make the head
    partition the straggler). The numbers let the audit pick
    per-workload instead of guessing; all metrics are exact integers.

    Scale shape: the three placements ride one scan (md5 column
    algebra + a 3-way struct explode = 3×|E| rows, no join); each
    metric is a map-side-combinable groupBy — (strategy, part) for
    load, then a distinct on (strategy, part, vertex) for replication.
    Oracle: identical algebra over the generator-anchored golden."""
    edges = kg_webtext_edges(spark, sf_dir)

    def u32(c):
        return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")

    host = F.regexp_extract(F.col("url"), r"https://([^/]+)/", 1)
    eid = F.concat_ws("|", "url", "sent_idx", "subj", "pred", "obj")
    strat = (
        edges.withColumn("p_edge", u32(eid) % EDGECUT_K)
        .withColumn("p_src", u32(F.col("subj")) % EDGECUT_K)
        .withColumn("p_dom", u32(host) % EDGECUT_K)
        .select(
            F.explode(
                F.expr(
                    "array(struct('edge_hash' AS strategy, p_edge AS part),"
                    " struct('src_hash' AS strategy, p_src AS part),"
                    " struct('domain' AS strategy, p_dom AS part))"
                )
            ).alias("s"),
            "subj",
            "obj",
        )
        .select("s.strategy", "s.part", "subj", "obj")
    )
    load = strat.groupBy("strategy", "part").agg(F.count(F.lit(1)).alias("n")).groupBy(
        "strategy"
    ).agg(
        F.sum("n").cast("long").alias("n_edges"),
        F.count(F.lit(1)).cast("long").alias("n_parts_used"),
        F.max("n").cast("long").alias("max_part_edges"),
    )
    repl = (
        strat.select("strategy", "part", F.explode(F.array("subj", "obj")).alias("v"))
        .distinct()
        .groupBy("strategy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("repl_sum"),
            F.countDistinct("v").cast("long").alias("n_vertices"),
        )
    )
    return load.join(repl, "strategy").orderBy("strategy")


KG_EDGECUT_SQL = f"""
WITH e AS (
  SELECT url, sent_idx, subj, pred, obj,
         regexp_extract(url, 'https://([^/]+)/', 1) AS host
  FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)),
placed AS (
  SELECT subj, obj, s.strategy, s.part
  FROM e, UNNEST([
    {{'strategy': 'edge_hash',
      'part': CAST(('0x' || substr(md5(url || '|' || sent_idx || '|' || subj || '|' || pred || '|' || obj), 1, 8)) AS BIGINT) % {EDGECUT_K}}},
    {{'strategy': 'src_hash',
      'part': CAST(('0x' || substr(md5(subj), 1, 8)) AS BIGINT) % {EDGECUT_K}}},
    {{'strategy': 'domain',
      'part': CAST(('0x' || substr(md5(host), 1, 8)) AS BIGINT) % {EDGECUT_K}}}
  ]) AS u(s)),
load AS (
  SELECT strategy, CAST(SUM(n) AS BIGINT) AS n_edges,
         CAST(COUNT(*) AS BIGINT) AS n_parts_used,
         CAST(MAX(n) AS BIGINT) AS max_part_edges
  FROM (SELECT strategy, part, COUNT(*) AS n FROM placed GROUP BY 1, 2)
  GROUP BY strategy),
repl AS (
  SELECT strategy, CAST(COUNT(*) AS BIGINT) AS repl_sum,
         CAST(COUNT(DISTINCT v) AS BIGINT) AS n_vertices
  FROM (SELECT DISTINCT strategy, part, v
        FROM placed, UNNEST([subj, obj]) AS w(v))
  GROUP BY strategy)
SELECT strategy, n_edges, n_parts_used, max_part_edges, repl_sum, n_vertices
FROM load JOIN repl USING (strategy)
ORDER BY strategy
"""


def kg_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate edge reciprocity — the statistic that DISCOVERS
    symmetric relations instead of assuming them (the same mirror
    structure kg_edge_split's inverse-leakage audit guards against in
    train/test splitting, here measured as a graph property):

        reciprocity(p) = |{(s,o): p(s,o) AND p(o,s)}| / |{(s,o): p(s,o)}|

    in exact basis points over the distinct directed pair set. A
    near-10000 predicate (partner) is symmetric and must be modeled
    undirected (and its held-out mirrors excluded from eval); a
    near-0 one (worksFor — person→org, type-disjoint) is truly
    directed. Scale: one distinct per pred (map-side combined) and one
    self-equi-join on the reversed key within the same pred partition
    — no cross-pred work, no driver state."""
    edges = kg_webtext_edges(spark, sf_dir)
    pairs = edges.select("pred", "subj", "obj").distinct()
    rev = pairs.select(
        "pred", F.col("obj").alias("subj"), F.col("subj").alias("obj")
    ).withColumn("has_rev", F.lit(1))
    return (
        pairs.join(rev, ["pred", "subj", "obj"], "left")
        .groupBy("pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.coalesce(F.col("has_rev"), F.lit(0))).cast("long").alias("n_mutual"),
        )
        .withColumn(
            "reciprocity_bp",
            F.expr("CAST(10000 * n_mutual DIV n_pairs AS BIGINT)"),
        )
        .orderBy("pred")
    )


KG_RECIPROCITY_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT pred, subj, obj
  FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)
)
SELECT p.pred,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN r.subj IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_mutual,
       CAST(10000 * SUM(CASE WHEN r.subj IS NOT NULL THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT)
         AS reciprocity_bp
FROM pairs p
LEFT JOIN pairs r ON r.pred = p.pred AND r.subj = p.obj AND r.obj = p.subj
GROUP BY p.pred ORDER BY p.pred
"""


KG_DOMAIN_SQL = f"""
SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_pages,
       CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_subjects,
       CAST(COUNT(DISTINCT pred) AS BIGINT) AS n_predicates
FROM read_csv('{_GOLDEN_EDGES}',
              header=true, all_varchar=true)
GROUP BY 1
ORDER BY n_edges DESC, host ASC
"""


def kg_shacl_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible SHACL gate: the sh:maxCount violations the
    flagship pipeline raises on the seed-42 corpus (functional
    predicates birthPlace/headquarters with >1 distinct object — the
    generator draws objects independently, so these are genuine
    data-quality findings, pytest-pinned to be non-empty). The DuckDB
    oracle DERIVES the same violations from the generator-anchored
    golden edge table — validation logic exercised end-to-end on both
    engines, nothing pinned."""
    from .graph import validate_cardinality
    from .pipeline import MAX_COUNTS

    edges = kg_webtext_edges(spark, sf_dir)
    return (
        validate_cardinality(edges, MAX_COUNTS)
        .select("stage", "rule", "subj", "pred", "value", "severity")
        .orderBy("subj", "pred")
    )


KG_SHACL_SQL = f"""
WITH counts AS (
  SELECT subj, pred, COUNT(DISTINCT obj) AS n_obj
  FROM read_csv('{_GOLDEN_EDGES}',
                header=true, all_varchar=true)
  GROUP BY 1, 2
), mc AS (
  SELECT * FROM (VALUES
    ('http://example.org/kg/terms/birthPlace', 1),
    ('http://example.org/kg/terms/headquarters', 1)
  ) AS t(_pred, _max_count)
)
SELECT 'shacl_cardinality' AS stage, 'max_count_exceeded' AS rule,
       subj, pred,
       CAST(n_obj AS VARCHAR) || ' > ' || CAST(_max_count AS VARCHAR) AS value,
       'warning' AS severity
FROM counts JOIN mc ON pred = _pred
WHERE n_obj > _max_count
ORDER BY subj, pred
"""


def kg_entity_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized ENTITY table of the flagship run: endpoints of
    every edge deduped by IRI with their canonical label + class (the
    reference's merge-by-@id A1 applied to the graph — same union +
    dropDuplicates shape as kg/graph.py materialize_graph). Oracle: the
    table is fully determined by the public KB (sources/pages.py
    ENTITIES) and the F10 namespacing rule, so the SQL is generated
    from those constants at import time — truth-anchored, no run pin.
    All 19 KB entities appear in edges on the seed-42 corpus."""
    from ..sources.pages import generate_pages
    from .pipeline import build_kg

    pages = generate_pages(spark, 1000, seed=42, partitions=8)
    edges = build_kg(spark, pages)["edges"]
    subj_side = edges.select(
        F.col("subj").alias("iri"), F.col("subj_name").alias("label"),
        F.col("subj_class").alias("entity_class"),
    )
    obj_side = edges.select(
        F.col("obj").alias("iri"), F.col("obj_name").alias("label"),
        F.col("obj_class").alias("entity_class"),
    )
    return subj_side.unionByName(obj_side).dropDuplicates(["iri"]).orderBy("iri")


def _entity_table_sql() -> str:
    from ..iri import to_kebab_case
    from ..sources.pages import ENTITIES

    rows = []
    for canonical, _aliases, cls in ENTITIES:
        iri = f"http://example.org/kg/ids/{to_kebab_case(cls)}/{to_kebab_case(canonical)}"
        rows.append(f"('{iri}', '{canonical}', '{cls}')")
    return (
        "SELECT iri, label, entity_class FROM (VALUES "
        + ", ".join(rows)
        + ") AS kb(iri, label, entity_class) ORDER BY iri"
    )


KG_ENTITY_TABLE_SQL = _entity_table_sql()


def kg_predicate_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized PREDICATE table (iri, n_edges) of the flagship
    run: the per-predicate edge counts materialize_graph observes while
    it writes the edges, here as a groupBy. Oracle derives the counts
    from the generator-anchored golden edge table."""
    edges = kg_webtext_edges(spark, sf_dir)
    return (
        edges.groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n_edges"))
        .withColumnRenamed("pred", "iri")
        .orderBy("iri")
    )


KG_PREDICATE_TABLE_SQL = f"""
SELECT pred AS iri, CAST(COUNT(*) AS BIGINT) AS n_edges
FROM read_csv('{_GOLDEN_EDGES}',
              header=true, all_varchar=true)
GROUP BY 1 ORDER BY iri
"""


def kg_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation per vertex over the undirected
    co-occurrence graph — the classic clustering/community signal and
    the canonical heavy graph join. Each triangle is enumerated exactly
    once by a directed wedge join under DEGREE orientation (see
    _oriented_triangle_corners), then exploded to its three corners for
    per-vertex counts. The output — and therefore the DuckDB oracle —
    is orientation-independent; degree orientation is purely the
    power-law execution strategy (hub wedge fan-out bounded O(√m))."""
    edges = kg_cooccurrence_edges(spark, sf_dir)
    und = (
        edges.where(F.col("subj") != F.col("obj"))
        .select(
            F.least("subj", "obj").alias("a"), F.greatest("subj", "obj").alias("b")
        )
        .distinct()
        .localCheckpoint()  # referenced 4x below (degree + three join legs)
    )
    corners = _oriented_triangle_corners(und)
    return (
        corners.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("term")
    )


def _oriented_triangle_corners(und: DataFrame, orientation: str = "degree") -> DataFrame:
    """One ``term`` row per triangle corner of the undirected edge set
    ``und(a, b)`` (a < b, distinct).

    ``orientation="degree"`` orients every edge toward the higher
    (degree, id) endpoint — the standard power-law hub-killer: a vertex
    ranks above all its lower-degree neighbors, so the hub of a star
    has OUT-degree ~0 and the wedge join u→v→w fans out by at most
    O(√m) per middle vertex (Chiba–Nishizeki / compact-forward bound)
    instead of deg(hub)² under id ordering. Each triangle {x ≺ y ≺ z}
    is enumerated exactly once as the directed wedge x→y→z closed by
    x→z, so the per-corner counts — and the DuckDB oracle — are
    identical to the id-oriented formulation (the two orientations are
    set-equality pytest-pinned, and the planted-hub wedge bound is
    measured in tests/test_kg_pipeline.py).

    ``orientation="id"`` keeps the round-3 ordered-triple-id join (the
    pytest baseline)."""
    if orientation == "degree":
        deg = (
            und.select(F.col("a").alias("v"))
            .unionAll(und.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
        db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
        a_first = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
        )
        oriented = (
            und.join(da, "a")
            .join(db, "b")
            .select(
                F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
                F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            )
        )
    else:
        oriented = und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    e1 = oriented.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    e2 = oriented.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    e3 = oriented.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    tris = e1.join(e2, "y").join(e3, ["x", "z"])
    return tris.select(F.explode(F.array("x", "y", "z")).alias("term"))


KG_TRIANGLES_SQL = f"""
WITH toks AS (SELECT string_split(text,' ') AS tokens FROM documents),
bg AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(tokens)-1, 0)),
                i -> struct_pack(subj := tokens[i], obj := tokens[i+1]))) AS p
  FROM toks
), edges AS (
  SELECT p.subj AS subj, p.obj AS obj
  FROM bg
  WHERE list_contains({{LEX}}, p.subj) AND list_contains({{LEX}}, p.obj)
  GROUP BY 1, 2
), und AS (
  SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM edges WHERE subj <> obj
), tris AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT term, COUNT(*) AS n_triangles
FROM (SELECT unnest([x, y, z]) AS term FROM tris)
GROUP BY term ORDER BY term
""".replace("{LEX}", repr(LEXICON))


def kg_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex: triangles(v) /
    C(deg(v), 2) over the undirected co-occurrence graph — the
    community-density signal on top of kg_triangle_counts. All inputs
    are exact integers (triangle and degree counts); the single
    terminal division is the same IEEE double in both engines, rounded
    to 6 for presentation. Vertices of degree < 2 report 0.

    Scale: degree is one partial agg over the undirected edge list;
    the triangle side reuses the ordered-triple join (its cost notes
    live on kg_triangle_counts)."""
    edges = kg_cooccurrence_edges(spark, sf_dir)
    und = (
        edges.where(F.col("subj") != F.col("obj"))
        .select(
            F.least("subj", "obj").alias("a"), F.greatest("subj", "obj").alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("term"))
        .unionAll(und.select(F.col("b").alias("term")))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = kg_triangle_counts(spark, sf_dir)
    possible = (F.col("degree") * (F.col("degree") - 1) / 2).cast("double")
    return (
        deg.join(tri, "term", "left")
        .select(
            "term",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double") / possible,
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering_coeff"),
        )
        .orderBy("term")
    )


KG_CLUSTERING_SQL = f"""
WITH toks AS (SELECT string_split(text,' ') AS tokens FROM documents),
bg AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(tokens)-1, 0)),
                i -> struct_pack(subj := tokens[i], obj := tokens[i+1]))) AS p
  FROM toks
), edges AS (
  SELECT p.subj AS subj, p.obj AS obj
  FROM bg
  WHERE list_contains({{LEX}}, p.subj) AND list_contains({{LEX}}, p.obj)
  GROUP BY 1, 2
), und AS (
  SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM edges WHERE subj <> obj
), deg AS (
  SELECT term, COUNT(*) AS degree
  FROM (SELECT a AS term FROM und UNION ALL SELECT b AS term FROM und)
  GROUP BY term
), tris AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), tri AS (
  SELECT term, COUNT(*) AS n_triangles
  FROM (SELECT unnest([x, y, z]) AS term FROM tris)
  GROUP BY term
)
SELECT d.term, CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       ROUND(CASE WHEN d.degree >= 2
             THEN CAST(COALESCE(t.n_triangles, 0) AS DOUBLE)
                  / (CAST(d.degree * (d.degree - 1) AS DOUBLE) / 2)
             ELSE 0.0 END, 6) AS clustering_coeff
FROM deg d LEFT JOIN tri t USING (term)
ORDER BY term
""".replace("{LEX}", repr(LEXICON))


# --- fuzzy string matching (approximate entity resolution) ------------------

FUZZY_MIN_LEN = 5
FUZZY_MAX_DIST = 2
FUZZY_QGRAM = 3


def kg_fuzzy_token_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate string matching with q-gram blocking — the ER
    operator that links misspelled surface forms to a canonical
    vocabulary without an all-pairs edit-distance scan.

    Workload (fully deterministic, corpus-derived): every distinct
    document token of length ≥{FUZZY_MIN_LEN} becomes a probe with ONE
    planted deletion typo (position chosen by md5), then is linked back
    against the clean vocabulary: candidates must share ≥1 character
    {FUZZY_QGRAM}-gram (the blocking equi-join — the 100 TB path where
    levenshtein over all V² pairs is impossible), survivors are scored
    with levenshtein ≤{FUZZY_MAX_DIST} (bit-identical builtin in both
    engines), and the best candidate per probe is min-distance with a
    lexicographic tiebreak. Output: per token length, how many probes
    matched and how many recovered their original.

    Scale notes: blocking fan-out concentrates on stop-grams ('ing',
    'ion') exactly like hot shingles in the MinHash path — the same
    count-based cap (bucket bigger than B → pair with the bucket
    minimum only) bounds it; the oracled query keeps the exact default
    at gate scale."""
    t = load_tables(spark, sf_dir)
    vocab = (
        t["documents"]
        .select(F.explode(F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " ")).alias("tok"))
        .where(F.length("tok") >= FUZZY_MIN_LEN)
        .distinct()
    )
    probes, best = fuzzy_link_best(vocab)
    return (
        probes.join(best.select("orig", "cand", "dist"), "orig", "left")
        .groupBy(F.length("orig").cast("int").alias("token_len"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            F.sum(F.col("cand").isNotNull().cast("int")).cast("long").alias("n_matched"),
            F.sum((F.col("cand") == F.col("orig")).cast("int")).cast("long").alias("n_correct"),
            F.sum((F.col("dist") == 0).cast("int")).cast("long").alias("n_exact_collision"),
        )
        .orderBy("token_len")
    )


def fuzzy_link_best(vocab: DataFrame, gram_cap: int | None = None) -> tuple[DataFrame, DataFrame]:
    """The fuzzy-link core over a (tok) vocabulary relation: returns
    (probes(orig, dirty), best(orig, cand, dist)). Factored so the
    stress pytest can drive it over a large synthetic wordlist.

    ``gram_cap`` is the 100 TB escape hatch: a stop-gram ('ing', 'ion')
    whose vocabulary bucket exceeds the cap would fan the blocking join
    out by |bucket| rows *per probe occurrence* — the same hot-key
    hazard as hot shingles in the MinHash path (operators/dedup.py).
    With a cap set, grams whose vocab frequency > cap are dropped from
    BOTH sides before the join (classic stop-gram pruning): the join
    fan-out per surviving gram is bounded by the cap, at the cost of
    missing only tokens composed *entirely* of ultra-common grams.
    Frequencies come from one extra agg over v_grams — no collect; the
    filter rides as a broadcast-able (gram) anti-set via a join."""
    # planted deletion: drop the (h % len)+1-th character
    probes = vocab.select(
        F.col("tok").alias("orig"),
        F.expr(
            "concat(substring(tok, 1, CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % length(tok)),"
            " substring(tok, CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % length(tok) + 2))"
        ).alias("dirty"),
    )
    grams = "transform(sequence(1, length({c}) - {q} + 1), i -> substring({c}, i, {q}))"
    p_grams = probes.select(
        "orig", "dirty", F.explode(F.expr(grams.format(c="dirty", q=FUZZY_QGRAM))).alias("gram")
    ).distinct()
    v_grams = vocab.select(
        F.col("tok").alias("cand"), F.explode(F.expr(grams.format(c="tok", q=FUZZY_QGRAM))).alias("gram")
    ).distinct()
    if gram_cap is not None:
        hot = (
            v_grams.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > gram_cap)
            .select("gram")
        )
        v_grams = v_grams.join(F.broadcast(hot), "gram", "left_anti")
        p_grams = p_grams.join(F.broadcast(hot), "gram", "left_anti")
    cands = (
        p_grams.join(v_grams, "gram")
        .select("orig", "dirty", "cand")
        .distinct()
        .withColumn("dist", F.levenshtein("dirty", "cand"))
        .where(F.col("dist") <= FUZZY_MAX_DIST)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("orig", "dirty").orderBy(F.asc("dist"), F.asc("cand"))
    best = cands.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    return probes, best


BLOCKING_PREFIX_LEN = 4


def kg_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER blocking-quality audit — the two numbers (Christen 2012) that
    justify ANY blocking scheme before it ships: REDUCTION RATIO (how
    much of the |probes|x|vocab| comparison space blocking avoids) and
    PAIRS COMPLETENESS (how many ground-truth matches survive blocking
    — here each planted-deletion probe's own original word). Measured
    for two structurally different schemes over the same workload:

    - ``qgram``: share >=1 character {FUZZY_QGRAM}-gram (the linker's
      production blocking) — deletion typos almost always keep some
      gram, so completeness stays near 100%;
    - ``prefix{BLOCKING_PREFIX_LEN}``: equal first
      {BLOCKING_PREFIX_LEN} characters (the cheap classic) — far
      higher reduction, but any deletion inside the prefix moves the
      block and loses the truth pair, so completeness drops by roughly
      the fraction of typo positions < {BLOCKING_PREFIX_LEN}.

    The workload is a synthesized per-document vocabulary (md5-derived
    9-letter words over a 16-letter alphabet, one per doc_id — the
    corpus's own token list is too small to stress blocking), with one
    planted deletion per word at an md5-chosen position. Both metrics
    are exact integer basis points.

    Scale shape: the audit costs one distinct + count over the same
    blocking joins the linker runs — candidate-pair COUNTS only, no
    pair list ever reaches the driver; the truth-pair check is the
    orig=cand predicate inside the same aggregation."""
    t = load_tables(spark, sf_dir)
    # 9-letter word over alphabet a..p from md5 hex (translate digits)
    word = (
        "translate(substring(md5(concat('bw:', doc_id)), 1, 9),"
        " '0123456789abcdef', 'abcdefghijklmnop')"
    )
    vocab = t["documents"].select(F.expr(word).alias("tok")).distinct()
    probes = vocab.select(
        F.col("tok").alias("orig"),
        F.expr(
            "concat(substring(tok, 1, CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % length(tok)),"
            " substring(tok, CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % length(tok) + 2))"
        ).alias("dirty"),
    )
    grams = "transform(sequence(1, length({c}) - {q} + 1), i -> substring({c}, i, {q}))"
    p_grams = probes.select(
        "orig", F.explode(F.expr(grams.format(c="dirty", q=FUZZY_QGRAM))).alias("gram")
    ).distinct()
    v_grams = vocab.select(
        F.col("tok").alias("cand"),
        F.explode(F.expr(grams.format(c="tok", q=FUZZY_QGRAM))).alias("gram"),
    ).distinct()
    qgram_pairs = p_grams.join(v_grams, "gram").select("orig", "cand").distinct()
    pfx = BLOCKING_PREFIX_LEN
    prefix_pairs = (
        probes.select("orig", F.substring("dirty", 1, pfx).alias("blk"))
        .join(vocab.select(F.col("tok").alias("cand"), F.substring("tok", 1, pfx).alias("blk")), "blk")
        .select("orig", "cand")
        .distinct()
    )
    out = []
    for scheme, pairs in (("qgram", qgram_pairs), (f"prefix{pfx}", prefix_pairs)):
        out.append(
            pairs.agg(
                F.count(F.lit(1)).cast("long").alias("n_cand_pairs"),
                F.sum((F.col("orig") == F.col("cand")).cast("long"))
                .cast("long")
                .alias("n_truth_kept"),
            ).withColumn("scheme", F.lit(scheme))
        )
    totals = vocab.agg(F.count(F.lit(1)).cast("long").alias("n_vocab"))
    return (
        out[0]
        .unionByName(out[1])
        .crossJoin(F.broadcast(totals))
        .select(
            "scheme",
            F.col("n_vocab").alias("n_probes"),
            "n_vocab",
            "n_cand_pairs",
            F.expr(
                "CAST(10000 * (n_vocab * n_vocab - n_cand_pairs) DIV (n_vocab * n_vocab) AS BIGINT)"
            ).alias("reduction_bp"),
            F.expr("CAST(10000 * n_truth_kept DIV n_vocab AS BIGINT)").alias(
                "completeness_bp"
            ),
        )
        .orderBy("scheme")
    )


KG_BLOCKING_SQL = f"""
WITH vocab AS (
  SELECT DISTINCT translate(substring(md5('bw:' || doc_id), 1, 9),
                            '0123456789abcdef', 'abcdefghijklmnop') AS tok
  FROM documents
), probes AS (
  SELECT tok AS orig,
         substring(tok, 1, CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % length(tok))
         || substring(tok, CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % length(tok) + 2) AS dirty
  FROM vocab
), p_grams AS (
  SELECT DISTINCT orig,
         unnest(list_transform(generate_series(1, length(dirty) - {FUZZY_QGRAM} + 1),
                i -> substring(dirty, i, {FUZZY_QGRAM}))) AS gram
  FROM probes
), v_grams AS (
  SELECT DISTINCT tok AS cand,
         unnest(list_transform(generate_series(1, length(tok) - {FUZZY_QGRAM} + 1),
                i -> substring(tok, i, {FUZZY_QGRAM}))) AS gram
  FROM vocab
), schemes AS (
  SELECT 'qgram' AS scheme, orig, cand
  FROM (SELECT DISTINCT orig, cand FROM p_grams JOIN v_grams USING (gram))
  UNION ALL
  SELECT 'prefix{BLOCKING_PREFIX_LEN}', orig, cand
  FROM (SELECT DISTINCT p.orig, v.tok AS cand
        FROM probes p JOIN vocab v
          ON substring(p.dirty, 1, {BLOCKING_PREFIX_LEN})
           = substring(v.tok, 1, {BLOCKING_PREFIX_LEN}))
), tot AS (SELECT COUNT(*) AS n_vocab FROM vocab)
SELECT scheme,
       CAST(n_vocab AS BIGINT) AS n_probes,
       CAST(n_vocab AS BIGINT) AS n_vocab,
       CAST(COUNT(*) AS BIGINT) AS n_cand_pairs,
       CAST(10000 * (n_vocab * n_vocab - COUNT(*)) // (n_vocab * n_vocab) AS BIGINT)
         AS reduction_bp,
       CAST(10000 * SUM(CASE WHEN orig = cand THEN 1 ELSE 0 END) // n_vocab AS BIGINT)
         AS completeness_bp
FROM schemes CROSS JOIN tot
GROUP BY scheme, n_vocab
ORDER BY scheme
"""


KG_FUZZY_SQL = f"""
WITH vocab AS (
  SELECT DISTINCT tok FROM (
    SELECT unnest(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))), ' ')) AS tok
    FROM documents)
  WHERE length(tok) >= {FUZZY_MIN_LEN}
), probes AS (
  SELECT tok AS orig,
         substring(tok, 1, CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % length(tok))
         || substring(tok, CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % length(tok) + 2) AS dirty
  FROM vocab
), p_grams AS (
  SELECT DISTINCT orig, dirty,
         unnest(list_transform(generate_series(1, length(dirty) - {FUZZY_QGRAM} + 1),
                i -> substring(dirty, i, {FUZZY_QGRAM}))) AS gram
  FROM probes
), v_grams AS (
  SELECT DISTINCT tok AS cand,
         unnest(list_transform(generate_series(1, length(tok) - {FUZZY_QGRAM} + 1),
                i -> substring(tok, i, {FUZZY_QGRAM}))) AS gram
  FROM vocab
), cands AS (
  SELECT DISTINCT orig, dirty, cand, levenshtein(dirty, cand) AS dist
  FROM p_grams JOIN v_grams USING (gram)
  WHERE levenshtein(dirty, cand) <= {FUZZY_MAX_DIST}
), best AS (
  SELECT orig, cand, dist FROM (
    SELECT orig, cand, dist,
           ROW_NUMBER() OVER (PARTITION BY orig, dirty ORDER BY dist ASC, cand ASC) AS rn
    FROM cands) WHERE rn = 1
)
SELECT CAST(length(p.orig) AS INT) AS token_len,
       COUNT(*) AS n_probes,
       CAST(SUM(CASE WHEN b.cand IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN b.cand = p.orig THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN b.dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_collision
FROM probes p LEFT JOIN best b ON b.orig = p.orig
GROUP BY 1 ORDER BY token_len
"""


# --- k-core decomposition (iterative peeling) -------------------------------

KCORE_K = 3
KCORE_QTY = 45
KCORE_ROUNDS = 12


def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bipartite customer–part purchase graph: one undirected edge
    per (customer, part) with any high-quantity lineitem between them.
    The l_quantity >= {KCORE_QTY} filter is pushed to the lineitem scan;
    orders joins in only o_custkey (column-pruned)."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .where(F.col("l_quantity") >= KCORE_QTY)
        .select("l_orderkey", "l_partkey")
        .join(t["orders"].select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("a"),
            F.concat(F.lit("p"), F.col("l_partkey")).alias("b"),
        )
        .distinct()
    )


def kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition by iterative peeling: drop every vertex of
    degree < {KCORE_K}, restrict the edge set to survivors, repeat — a
    fixed {KCORE_ROUNDS} rounds so the operator is deterministic and
    scale-independent (peeling a converged core is a no-op, and all
    shipped SFs reach the true fixpoint by round 11; pytest asserts the
    extra peel removes nothing). Output: degree histogram of the final
    core by vertex side (customer/part).

    Scale shape (per round): ONE partially-aggregated degree groupBy
    plus two semi-joins against the shrinking keep-set; localCheckpoint
    truncates the 12-deep lineage exactly like the PageRank loop. At
    cluster scale the edge table would stay hash-partitioned on `a`
    across rounds so the a-side semi-join is shuffle-free; the keep-set
    shrinks monotonically so AQE flips the late-round joins to
    broadcast. No collect anywhere — convergence is not driver-checked,
    the round count is fixed."""
    e = _purchase_edges(spark, sf_dir).localCheckpoint()
    for _ in range(KCORE_ROUNDS):
        deg = (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.where(F.col("d") >= KCORE_K).select("v")
        e = (
            e.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .localCheckpoint()
        )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        deg.groupBy(
            F.substring("v", 1, 1).alias("side"), F.col("d").cast("int").alias("degree")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
        .orderBy("side", "degree")
    )


def _kcore_cte_chain() -> str:
    """Unrolled {KCORE_ROUNDS}-round peel as MATERIALIZED CTEs (default
    inlining explodes the DuckDB planner on deep chains — same lesson as
    the kmeans oracle)."""
    parts = [f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT 'c' || o.o_custkey AS a, 'p' || l.l_partkey AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_quantity >= {KCORE_QTY})"""]
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(f""",
keep{r} AS MATERIALIZED (
  SELECT v FROM (SELECT a AS v FROM e{r-1} UNION ALL SELECT b FROM e{r-1})
  GROUP BY v HAVING COUNT(*) >= {KCORE_K}),
e{r} AS MATERIALIZED (
  SELECT * FROM e{r-1}
  WHERE a IN (SELECT v FROM keep{r}) AND b IN (SELECT v FROM keep{r}))""")
    parts.append(f"""
SELECT substring(v, 1, 1) AS side, CAST(d AS INT) AS degree, COUNT(*) AS n_vertices
FROM (
  SELECT v, COUNT(*) AS d
  FROM (SELECT a AS v FROM e{KCORE_ROUNDS} UNION ALL SELECT b FROM e{KCORE_ROUNDS})
  GROUP BY v)
GROUP BY 1, 2 ORDER BY side, degree""")
    return "".join(parts)


KG_KCORE_SQL = _kcore_cte_chain()


# --- deterministic random walks (DeepWalk/node2vec sampling shape) ----------

WALK_STEPS = 4


def kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-to-sequence sampling: one deterministic {WALK_STEPS}-step
    walk per customer vertex of the purchase graph — the corpus-
    generation stage of DeepWalk/node2vec, with md5-derived next-hop
    choices instead of RNG so the walk set is identical on every
    engine, partitioning, and cluster size. Next hop from vertex v at
    step s of the walk started at u: the neighbor whose dst-sorted rank
    is hash(u + '#' + s) mod degree(v). Output: walks histogrammed by
    how many distinct vertices they visited, with terminal-vertex
    diversity and return-to-start counts.

    Scale shape: adjacency is ranked once (one window over src, the
    same exchange the join reuses); each step is ONE equi-join probing
    adj on src with the rank predicate evaluated inside the join — the
    walk frontier never materializes a neighbor fan-out. Path state is
    a bounded {WALK_STEPS}+1 array riding the rows. At cluster scale
    both sides stay hash-partitioned on the join key so steps after the
    first shuffle only the frontier."""
    e = _purchase_edges(spark, sf_dir)
    adj = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    from pyspark.sql import Window

    adj = (
        adj.withColumn("rnk", F.row_number().over(Window.partitionBy("src").orderBy("dst")))
        .withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .localCheckpoint()  # ranked once, probed by all steps
    )
    walk = (
        adj.select("src")
        .distinct()
        .where(F.col("src").startswith("c"))
        .select(F.col("src").alias("start"), F.col("src").alias("cur"), F.array("src").alias("path"))
    )
    for step in range(1, WALK_STEPS + 1):
        h = F.expr(
            f"CAST(conv(substring(md5(concat(start, '#{step}')), 1, 8), 16, 10) AS BIGINT)"
        )
        walk = (
            walk.withColumn("_h", h)
            .join(adj, (F.col("cur") == F.col("src"))
                  & (F.col("rnk") == F.col("_h") % F.col("deg") + 1))
            .select("start", F.col("dst").alias("cur"), F.concat("path", F.array("dst")).alias("path"))
        )
    return (
        walk.select(
            "start", "cur", F.size(F.array_distinct("path")).cast("int").alias("n_distinct_vertices")
        )
        .groupBy("n_distinct_vertices")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_walks"),
            F.countDistinct("cur").cast("long").alias("n_terminals"),
            F.sum((F.col("cur") == F.col("start")).cast("int")).cast("long").alias("n_returned"),
        )
        .orderBy("n_distinct_vertices")
    )


def _walks_sql() -> str:
    parts = [f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT 'c' || o.o_custkey AS a, 'p' || l.l_partkey AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_quantity >= {KCORE_QTY}),
adj AS MATERIALIZED (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rnk,
         COUNT(*) OVER (PARTITION BY src) AS deg
  FROM (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e)),
w0 AS MATERIALIZED (
  SELECT src AS start, src AS cur, [src] AS path
  FROM (SELECT DISTINCT src FROM adj) WHERE src LIKE 'c%')"""]
    for s in range(1, WALK_STEPS + 1):
        parts.append(f""",
w{s} AS MATERIALIZED (
  SELECT w.start, a.dst AS cur, list_append(w.path, a.dst) AS path
  FROM w{s-1} w JOIN adj a
    ON a.src = w.cur
   AND a.rnk = CAST(('0x' || substring(md5(w.start || '#{s}'), 1, 8)) AS BIGINT) % a.deg + 1)""")
    parts.append(f"""
SELECT CAST(len(list_distinct(path)) AS INT) AS n_distinct_vertices,
       COUNT(*) AS n_walks,
       CAST(COUNT(DISTINCT cur) AS BIGINT) AS n_terminals,
       CAST(SUM(CASE WHEN cur = start THEN 1 ELSE 0 END) AS BIGINT) AS n_returned
FROM w{WALK_STEPS}
GROUP BY 1 ORDER BY n_distinct_vertices""")
    return "".join(parts)


KG_WALKS_SQL = _walks_sql()


# --- canonical-label election (anchor texts → entity display names) --------

_GOLDEN_LABELS = _os.path.join(
    _os.path.dirname(_GOLDEN_EDGES), "kg_anchor_labels.csv"
)


def kg_anchor_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical display-name election — the KG-construction step after
    linking: each linked entity's anchor label is its most frequent
    surface form across all mentions (subject and object sides), ties
    broken by lexicographically smallest surface. The web-scale analog
    of Wikipedia anchor-text label aggregation.

    Truth-anchored oracle: tests/golden/kg_anchor_labels.csv is derived
    by tools/regen_anchor_labels_golden.py purely from the generator's
    own per-fact alias picks (sources/pages.py page_facts), never from
    a pipeline run — agreement proves extraction+linking is surface-
    exact, not just entity-exact (which kg_webtext_edges already pins).

    Scale shape: ONE (entity, surface) groupBy with map-side partial
    aggregation, then election + totals in a single window family over
    the same entity hash-partitioning (one exchange total after the
    count). Surface cardinality per entity is bounded by the alias
    inventory, so the window partitions are tiny regardless of corpus
    size; no collect, no driver loop."""
    from pyspark.sql import Window

    from ..sources.pages import generate_pages
    from .pipeline import link_pages

    linked = link_pages(generate_pages(spark, 1000, seed=42, partitions=8))

    pairs = linked.select(
        F.col("subj_mention_entity").alias("entity"), F.col("subj_mention").alias("surface")
    ).unionAll(
        linked.select(
            F.col("obj_mention_entity").alias("entity"), F.col("obj_mention").alias("surface")
        )
    )
    counts = (
        pairs.where(F.col("entity").isNotNull())
        .groupBy("entity", "surface")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("entity")
    elected = (
        counts.withColumn(
            "_rk",
            F.row_number().over(w.orderBy(F.desc("n"), F.asc("surface"))),
        )
        .withColumn("n_total_mentions", F.sum("n").over(w))
        .withColumn("n_surfaces", F.count(F.lit(1)).over(w))
        .where(F.col("_rk") == 1)
    )
    return elected.select(
        "entity",
        F.col("surface").alias("anchor_label"),
        F.col("n").cast("long").alias("n_label_mentions"),
        F.col("n_total_mentions").cast("long").alias("n_total_mentions"),
        F.col("n_surfaces").cast("long").alias("n_surfaces"),
    ).orderBy("entity")


KG_ANCHOR_LABELS_SQL = f"""
SELECT entity, anchor_label,
       CAST(n_label_mentions AS BIGINT) AS n_label_mentions,
       CAST(n_total_mentions AS BIGINT) AS n_total_mentions,
       CAST(n_surfaces AS BIGINT) AS n_surfaces
FROM read_csv('{_GOLDEN_LABELS}', header=true)
ORDER BY entity
"""


# --- synchronous label propagation (community detection) --------------------

LPA_ROUNDS = 4


def kg_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation on the
    purchase graph: every vertex starts labeled with its own id; each
    round it adopts the most frequent label among its neighbors, ties
    broken by the lexicographically smallest label — the deterministic
    variant of Raghavan et al.'s LPA (async LPA's visit order is not
    reproducible across partitionings, so the synchronous form is the
    only one that can be hash-gated). A fixed {LPA_ROUNDS} rounds keeps
    the operator scale-independent; on the bipartite purchase graph an
    even round count lands labels back on their own side. Output: the
    community-size histogram after the final round.

    Scale shape (per round): ONE equi-join of the static adjacency
    against the label frontier (both hash-partitioned on the join key
    at cluster scale — only the frontier shuffles), ONE partially-
    aggregated (vertex, label) count, then the argmax resolved inside
    the same vertex partitioning (window max + min-label groupBy reuse
    the exchange). localCheckpoint truncates the lineage exactly like
    the PageRank/k-core loops. No collect; convergence is not driver-
    checked."""
    from pyspark.sql import Window

    e = _purchase_edges(spark, sf_dir)
    adj = e.select(F.col("a").alias("v"), F.col("b").alias("nbr")).unionAll(
        e.select(F.col("b").alias("v"), F.col("a").alias("nbr"))
    ).localCheckpoint()
    labels = adj.select("v").distinct().withColumn("label", F.col("v"))
    for _ in range(LPA_ROUNDS):
        msgs = adj.join(
            labels.withColumnRenamed("v", "nbr"), "nbr"
        ).select("v", "label")
        cnt = msgs.groupBy("v", "label").agg(F.count(F.lit(1)).alias("c"))
        mx = F.max("c").over(Window.partitionBy("v"))
        labels = (
            cnt.withColumn("_mx", mx)
            .where(F.col("c") == F.col("_mx"))
            .groupBy("v")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy(F.col("sz").cast("int").alias("community_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_communities"))
        .orderBy("community_size")
    )


def _lpa_cte_chain() -> str:
    """Unrolled {LPA_ROUNDS}-round synchronous LPA as MATERIALIZED CTEs
    (inlining deep chains explodes the DuckDB planner — kmeans/kcore
    lesson)."""
    parts = [f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT 'c' || o.o_custkey AS a, 'p' || l.l_partkey AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_quantity >= {KCORE_QTY}),
adj AS MATERIALIZED (
  SELECT a AS v, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
l0 AS MATERIALIZED (SELECT DISTINCT v, v AS label FROM adj)"""]
    for r in range(1, LPA_ROUNDS + 1):
        parts.append(f""",
cnt{r} AS MATERIALIZED (
  SELECT adj.v, l.label, COUNT(*) AS c
  FROM adj JOIN l{r-1} l ON l.v = adj.nbr
  GROUP BY adj.v, l.label),
l{r} AS MATERIALIZED (
  SELECT v, MIN(label) AS label
  FROM (SELECT v, label, c, MAX(c) OVER (PARTITION BY v) AS mx FROM cnt{r})
  WHERE c = mx GROUP BY v)""")
    parts.append(f"""
SELECT CAST(sz AS INT) AS community_size, COUNT(*) AS n_communities
FROM (SELECT label, COUNT(*) AS sz FROM l{LPA_ROUNDS} GROUP BY label)
GROUP BY 1 ORDER BY community_size""")
    return "".join(parts)


KG_LPA_SQL = _lpa_cte_chain()


# --- link prediction (resource-allocation index over common neighbors) -----

RA_DEG_CAP = 40  # parts shared by more customers than this are hubs: skipped
RA_SCALE = 10**8  # fixed-point weight = RA_SCALE // deg (integer-exact sums)
RA_TOPK = 20


def kg_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the bipartite purchase graph: for each
    customer pair sharing at least one part, the resource-allocation
    index  RA(a,b) = Σ_w 1/deg(w)  over common neighbor parts w — the
    integer-exact member of the Adamic-Adar family (weights are
    RA_SCALE // deg, so sums are order-independent BIGINTs; AA's
    1/ln(deg) would put a libm ULP inside the hash gate). Returns the
    top {RA_TOPK} pairs by score with deterministic tie-break.

    Scale shape: the candidate generator is the classic common-neighbor
    self-join on the shared part — fan-out is C(deg(w), 2), so parts
    with deg > {RA_DEG_CAP} are excluded up front (the standard hub cap:
    a part bought by everyone predicts nothing and would otherwise
    dominate the shuffle). With the cap, work is Σ min(deg,cap)² —
    linear in edges for power-law graphs. Degree computation and the
    pair aggregation are both partially aggregated; the final top-k is
    a TakeOrdered, not a full sort."""
    e = _purchase_edges(spark, sf_dir)  # a = customer, b = part
    deg = e.groupBy("b").agg(F.count(F.lit(1)).alias("d"))
    ew = (
        e.join(deg, "b")
        .where((F.col("d") >= 2) & (F.col("d") <= RA_DEG_CAP))
        .select("b", "a", F.expr(f"CAST({RA_SCALE} AS BIGINT) DIV d").alias("w"))
    )
    x, y = ew.alias("x"), ew.alias("y")
    pairs = (
        x.join(y, (F.col("x.b") == F.col("y.b")) & (F.col("x.a") < F.col("y.a")))
        .groupBy(F.col("x.a").alias("cust_a"), F.col("y.a").alias("cust_b"))
        .agg(
            F.sum("x.w").cast("long").alias("ra_score_fp"),
            F.count(F.lit(1)).cast("long").alias("n_common_parts"),
        )
    )
    return pairs.orderBy(
        F.desc("ra_score_fp"), "cust_a", "cust_b"
    ).limit(RA_TOPK)


KG_LINK_PRED_SQL = f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT 'c' || o.o_custkey AS a, 'p' || l.l_partkey AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_quantity >= {KCORE_QTY}),
deg AS (SELECT b, COUNT(*) AS d FROM e GROUP BY b),
ew AS (SELECT e.b, e.a, CAST({RA_SCALE} AS BIGINT) // d AS w
       FROM e JOIN deg USING (b) WHERE d BETWEEN 2 AND {RA_DEG_CAP})
SELECT x.a AS cust_a, y.a AS cust_b,
       CAST(SUM(x.w) AS BIGINT) AS ra_score_fp,
       CAST(COUNT(*) AS BIGINT) AS n_common_parts
FROM ew x JOIN ew y ON x.b = y.b AND x.a < y.a
GROUP BY x.a, y.a
ORDER BY ra_score_fp DESC, cust_a, cust_b
LIMIT {RA_TOPK}
"""


KG_QUERIES: dict[str, tuple] = {
    "kg_anchor_labels": (kg_anchor_labels, KG_ANCHOR_LABELS_SQL),
    "kg_label_propagation": (kg_label_propagation, KG_LPA_SQL),
    "kg_link_prediction": (kg_link_prediction, KG_LINK_PRED_SQL),
    "kg_random_walks": (kg_random_walks, KG_WALKS_SQL),
    "kg_kcore": (kg_kcore, KG_KCORE_SQL),
    "kg_fuzzy_token_link": (kg_fuzzy_token_link, KG_FUZZY_SQL),
    "kg_blocking_quality": (kg_blocking_quality, KG_BLOCKING_SQL),
    "kg_triangle_counts": (kg_triangle_counts, KG_TRIANGLES_SQL),
    "kg_clustering_coefficient": (kg_clustering_coefficient, KG_CLUSTERING_SQL),
    "kg_mention_counts": (kg_mention_counts, KG_MENTIONS_SQL),
    "kg_cooccurrence_edges": (kg_cooccurrence_edges, KG_COOC_SQL),
    "kg_entity_degree": (kg_entity_degree, KG_DEGREE_SQL),
    "kg_two_hop_paths": (kg_two_hop_paths, KG_TWO_HOP_SQL),
    "kg_pagerank": (kg_pagerank, KG_PAGERANK_SQL),
    "kg_webtext_edges": (kg_webtext_edges, KG_EDGES_SQL),
    "kg_webtext_edge_stats": (kg_webtext_edge_stats, KG_EDGE_STATS_SQL),
    "kg_webtext_pr": (kg_webtext_pr, KG_PR_SQL),
    "kg_edge_cut": (kg_edge_cut, KG_EDGECUT_SQL),
    "kg_reciprocity": (kg_reciprocity, KG_RECIPROCITY_SQL),
    "kg_domain_stats": (kg_domain_stats, KG_DOMAIN_SQL),
    "kg_shacl_cardinality": (kg_shacl_cardinality, KG_SHACL_SQL),
    "kg_entity_table": (kg_entity_table, KG_ENTITY_TABLE_SQL),
    "kg_predicate_table": (kg_predicate_table, KG_PREDICATE_TABLE_SQL),
}
