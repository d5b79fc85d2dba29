"""End-to-end entity resolution funnel: dirty records → blocked fuzzy
matching → connected-component clusters → canonical rewrite, with
ground-truth purity/completeness metrics — the ER composition the
engine's pieces (q-gram blocking: kg_fuzzy_token_link, CC:
dedup_clusters, sameAs rewrite: kg_sameas_resolve) exist to serve, run
as ONE pipeline the way a production ER pass is (compare the corpus
curation funnel, operators/curation.py).

Workload (deterministic, generator-anchored): every distinct entity of
the webtext KG contributes three surface records — the clean name, a
one-character md5-planted deletion typo, and a separator-squashed form
("wayne-engineering" → "wayneengineering") — and a gated quarter of
entities additionally plants a CONFUSABLE SIBLING: a genuinely distinct
entity one substitution away, the over-merge trap.  A correct funnel
merges the sibling (distance 1 is under threshold) and the purity
metrics must report the damage (measured: 9 of 19 clusters impure).
Matching never sees the entity id; metrics are computed against it
afterward:

- blocking: records sharing ≥1 character 3-gram (equi-join, the
  at-scale alternative to all-pairs edit distance; hot stop-grams cap
  exactly as kg_fuzzy_token_link documents)
- scoring: levenshtein ≤ 3 on the blocked candidates (both engines'
  builtin — bit-identical)
- clustering: large-star/small-star connected components over the
  match pairs (operators/dedup.py `_cc_star`, the O(log n)-round
  production algorithm)
- canonical rewrite: cluster representative = lexicographic min record

Output: global funnel census (records, candidate pairs, match pairs,
clusters, pure clusters, complete entities, records rewritten) — every
number reproduced independently by the DuckDB oracle, which replays
the whole funnel in SQL (grams via list comprehension, levenshtein
builtin, CC as a reachability closure) from the golden edge CSV.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_df
from .queries import _GOLDEN_EDGES, kg_webtext_edges

ER_QGRAM = 3
ER_MAX_DIST = 3


def _entity_names(edges: DataFrame) -> DataFrame:
    """Distinct entity IRIs (subjects ∪ objects) → (ent, name)."""
    ents = (
        edges.select(F.col("subj").alias("ent"))
        .unionByName(edges.select(F.col("obj").alias("ent")))
        .distinct()
    )
    return ents.select(
        "ent", F.regexp_extract("ent", r"([^/]+)$", 1).alias("name")
    )


def _dirty_records(names: DataFrame) -> DataFrame:
    """(ent, rec_id, text): clean + planted-deletion + squashed forms."""
    typo = F.concat(
        F.expr("substring(name, 1, CAST(conv(substring(md5(name), 1, 8), 16, 10) AS BIGINT) % length(name))"),
        F.expr("substring(name, CAST(conv(substring(md5(name), 1, 8), 16, 10) AS BIGINT) % length(name) + 2)"),
    )
    clean = names.select("ent", F.concat("name", F.lit("#0")).alias("rec_id"),
                         F.col("name").alias("text"))
    typod = names.select("ent", F.concat("name", F.lit("#1")).alias("rec_id"),
                         typo.alias("text"))
    squashed = names.select("ent", F.concat("name", F.lit("#2")).alias("rec_id"),
                            F.replace("name", F.lit("-"), F.lit("")).alias("text"))
    # confusable SIBLING entity (gated quarter): a genuinely different
    # entity whose name is one substitution away — the over-merge trap;
    # a correct funnel MERGES it (distance 1 is under threshold) and the
    # purity metric must report the damage
    sib_gate = (
        F.conv(F.substring(F.md5("name"), 9, 4), 16, 10).cast("long") % 4
    ) == 0
    sib_text = F.expr(
        "concat(substring(name, 1, CAST(conv(substring(md5(name), 1, 8), 16, 10) AS BIGINT) % length(name)),"
        " 'x',"
        " substring(name, CAST(conv(substring(md5(name), 1, 8), 16, 10) AS BIGINT) % length(name) + 2))"
    )
    siblings = names.where(sib_gate).select(
        F.concat("ent", F.lit("#sib")).alias("ent"),
        F.concat("name", F.lit("#3")).alias("rec_id"),
        sib_text.alias("text"),
    )
    return clean.unionByName(typod).unionByName(squashed).unionByName(siblings)


def kg_er_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _cc_star

    edges = kg_webtext_edges(spark, sf_dir)
    recs = _dirty_records(_entity_names(edges)).localCheckpoint()

    grams = F.expr(
        f"transform(sequence(1, greatest(length(text) - {ER_QGRAM} + 1, 1)),"
        f" i -> substring(text, i, {ER_QGRAM}))"
    )
    rg = recs.select("rec_id", "text", F.explode(grams).alias("gram")).distinct()
    cand = (
        rg.alias("a")
        .join(rg.alias("b"), (F.col("a.gram") == F.col("b.gram"))
              & (F.col("a.rec_id") < F.col("b.rec_id")))
        .select(
            F.col("a.rec_id").alias("ra"), F.col("a.text").alias("ta"),
            F.col("b.rec_id").alias("rb"), F.col("b.text").alias("tb"),
        )
        .distinct()
    )
    matches = cand.where(
        F.levenshtein("ta", "tb") <= ER_MAX_DIST
    ).localCheckpoint()

    sym = matches.select(F.col("ra").alias("src"), F.col("rb").alias("dst")).unionByName(
        matches.select(F.col("rb").alias("src"), F.col("ra").alias("dst"))
    )
    labels, _rounds = _cc_star(sym)
    # singletons (no match pair at all) cluster with themselves
    clustered = (
        recs.join(labels.withColumnRenamed("node", "rec_id"), "rec_id", "left")
        .select("ent", "rec_id", "text",
                F.coalesce("label", "rec_id").alias("cluster"))
        .localCheckpoint()
    )
    per_cluster = clustered.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_recs"),
        F.countDistinct("ent").alias("n_ents"),
        F.min("text").alias("canon"),
    )
    per_entity = clustered.groupBy("ent").agg(
        F.countDistinct("cluster").alias("n_clusters_of_ent")
    )
    rewritten = clustered.join(per_cluster, "cluster").where(
        F.col("text") != F.col("canon")
    )

    def metric(name, df_count):
        return (name, int(df_count))

    rows = [
        metric("n_records", recs.count()),
        metric("n_candidate_pairs", cand.count()),
        metric("n_match_pairs", matches.count()),
        metric("n_clusters", per_cluster.count()),
        metric("n_pure_clusters", per_cluster.where(F.col("n_ents") == 1).count()),
        metric("n_complete_entities",
               per_entity.where(F.col("n_clusters_of_ent") == 1).count()),
        metric("n_records_rewritten", rewritten.count()),
    ]
    return local_df(spark, rows, "metric string, value long").orderBy("metric")


ER_FUNNEL_SQL = f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true)),
ents AS (
  SELECT DISTINCT ent FROM (
    SELECT subj AS ent FROM e UNION SELECT obj AS ent FROM e
  )
),
names AS (SELECT ent, regexp_extract(ent, '([^/]+)$', 1) AS name FROM ents),
recs AS (
  SELECT ent, name || '#0' AS rec_id, name AS text FROM names
  UNION ALL
  SELECT ent, name || '#1',
         substring(name, 1, CAST(('0x' || substr(md5(name), 1, 8)) AS BIGINT) % length(name))
         || substring(name, CAST(('0x' || substr(md5(name), 1, 8)) AS BIGINT) % length(name) + 2)
  FROM names
  UNION ALL
  SELECT ent, name || '#2', replace(name, '-', '') FROM names
  UNION ALL
  SELECT ent || '#sib', name || '#3',
         substring(name, 1, CAST(('0x' || substr(md5(name), 1, 8)) AS BIGINT) % length(name))
         || 'x'
         || substring(name, CAST(('0x' || substr(md5(name), 1, 8)) AS BIGINT) % length(name) + 2)
  FROM names
  WHERE (CAST(('0x' || substr(md5(name), 9, 4)) AS BIGINT) % 4) = 0
),
rg AS (
  SELECT DISTINCT rec_id, text, gram FROM (
    SELECT rec_id, text,
           unnest(list_transform(range(1, greatest(length(text) - {ER_QGRAM} + 1, 1) + 1),
                                 i -> substring(text, i, {ER_QGRAM}))) AS gram
    FROM recs
  )
),
cand AS (
  SELECT DISTINCT a.rec_id AS ra, a.text AS ta, b.rec_id AS rb, b.text AS tb
  FROM rg a JOIN rg b ON a.gram = b.gram AND a.rec_id < b.rec_id
),
matches AS (SELECT * FROM cand WHERE levenshtein(ta, tb) <= {ER_MAX_DIST}),
sym AS (
  SELECT ra AS src, rb AS dst FROM matches
  UNION SELECT rb, ra FROM matches
),
reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM sym
    UNION
    SELECT r.src, s.dst FROM r JOIN sym s ON r.dst = s.src
  ) SELECT * FROM r
),
labels AS (
  SELECT src AS rec_id, LEAST(src, MIN(dst)) AS cluster FROM reach GROUP BY src
),
clustered AS (
  SELECT recs.ent, recs.rec_id, recs.text,
         COALESCE(labels.cluster, recs.rec_id) AS cluster
  FROM recs LEFT JOIN labels ON recs.rec_id = labels.rec_id
),
per_cluster AS (
  SELECT cluster, COUNT(*) AS n_recs, COUNT(DISTINCT ent) AS n_ents,
         MIN(text) AS canon
  FROM clustered GROUP BY cluster
),
per_entity AS (
  SELECT ent, COUNT(DISTINCT cluster) AS n_clusters_of_ent
  FROM clustered GROUP BY ent
),
rewritten AS (
  SELECT c.* FROM clustered c JOIN per_cluster p ON c.cluster = p.cluster
  WHERE c.text <> p.canon
)
SELECT metric, CAST(value AS BIGINT) AS value FROM (
  SELECT 'n_records' AS metric, (SELECT COUNT(*) FROM recs) AS value
  UNION ALL SELECT 'n_candidate_pairs', (SELECT COUNT(*) FROM cand)
  UNION ALL SELECT 'n_match_pairs', (SELECT COUNT(*) FROM matches)
  UNION ALL SELECT 'n_clusters', (SELECT COUNT(*) FROM per_cluster)
  UNION ALL SELECT 'n_pure_clusters',
            (SELECT COUNT(*) FROM per_cluster WHERE n_ents = 1)
  UNION ALL SELECT 'n_complete_entities',
            (SELECT COUNT(*) FROM per_entity WHERE n_clusters_of_ent = 1)
  UNION ALL SELECT 'n_records_rewritten', (SELECT COUNT(*) FROM rewritten)
) ORDER BY metric
"""


KG_ER_QUERIES: dict[str, tuple] = {
    "kg_er_funnel": (kg_er_funnel, ER_FUNNEL_SQL),
}
