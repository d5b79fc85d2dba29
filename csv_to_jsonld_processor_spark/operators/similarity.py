"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

- ``ann_topk_bruteforce``: exact cosine top-k for a query set. The
  baseline: broadcast the (small) query side, score JVM-side with
  ``zip_with``/``aggregate`` folds (deterministic left-to-right order →
  bit-stable across partitionings), rank per query with a window.
  At 100 TB the corpus side stays partitioned; only queries broadcast.
- ``ann_lsh_bucketed``: random-hyperplane LSH — deterministic planes
  derived from xxhash64, sign-bit bucket keys, candidates restricted to
  same-bucket (multi-probe across H tables), then exact re-scoring.
  The scale path: candidate generation is an equi-join on bucket keys.
  Not ANSI-SQL-expressible → recall vs brute force is pytest-gated
  (tests/test_similarity.py); the driver gets a rows-only check.

Cosine formula matches DuckDB's ``list_cosine_similarity`` shape
(dot / sqrt(|a|²·|b|²) — single sqrt) so oracle scores are bit-equal;
ranking uses round(score, 6) with id tiebreaks for cross-engine
stability.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import load_tables, local_df

N_QUERIES = 5
TOP_K = 10
LSH_PLANES = 3
LSH_TABLES = 8  # few planes, more tables: these 64-d vectors are near-random (max cos≈0.5), so collision prob per bit is only ~2/3


def _dot(a: str | Column, b: str | Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm2(a: str | Column) -> Column:
    return F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: str | Column, b: str | Column) -> Column:
    return _dot(a, b) / F.sqrt(_norm2(a) * _norm2(b))


EMB_DIM = 64


def _ordered_dot_sql(a: str, b: str, dim: int = EMB_DIM) -> str:
    """a·b for the DuckDB oracles as an explicit left-associated chain
    (p1 + p2 + ... + p64): the identical IEEE evaluation order as the
    Spark side's aggregate/zip_with left fold. Replaces
    list_cosine_similarity in every oracle that feeds a round(,6)
    decision boundary — that builtin's summation kernel (pairwise/SIMD,
    engine-version-dependent) can land a ULP away from the sequential
    fold, flip one assignment at the boundary, and cascade (the
    ann_kmeans_train driver-red of rounds 1-4). DuckDB lists are
    1-indexed."""
    return "(" + " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, dim + 1)) + ")"


def _ordered_cos_sql(a: str, b: str, dim: int = EMB_DIM) -> str:
    """dot/sqrt(|a|²·|b|²) with every fold an explicit ordered chain —
    bit-identical to the Spark-side cosine() column on the same doubles."""
    return (
        f"({_ordered_dot_sql(a, b, dim)} / "
        f"sqrt({_ordered_dot_sql(a, a, dim)} * {_ordered_dot_sql(b, b, dim)}))"
    )


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine("v", "qv"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


ANN_TOPK_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND({_ordered_cos_sql("e.v", "q.qv")}, 6) AS score
  FROM e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def embedding_neardup_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs near-dup over the same planted-dup corpus the
    registered LSH query uses. O(n²) crossJoin: NOT the registered
    query — it is the pytest recall oracle for the LSH scale path."""
    t = load_tables(spark, sf_dir)
    emb = _neardup_input(
        t["embeddings"].select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine("va", "vb"), 6).alias("score"))
        .where(F.col("score") >= NEARDUP_TAU)
        .orderBy("id_a", "id_b")
    )


def _lsh_planes(dim: int = 64, tables: int = LSH_TABLES, planes: int = LSH_PLANES,
                rademacher: bool = False, salt: str = "plane"):
    """Deterministic pseudo-random hyperplanes: plane[t][p][i] derived
    from a hash counter — reproducible everywhere, no RNG state.
    ``rademacher=True`` gives ±1 entries (equally valid for sign-LSH,
    and compact enough to inline thousands of them into oracle SQL)."""
    import hashlib

    out = []
    for t in range(tables):
        table = []
        for p in range(planes):
            vec = []
            for i in range(dim):
                h = int.from_bytes(
                    hashlib.sha256(f"{salt}:{t}:{p}:{i}".encode()).digest()[:8], "big"
                )
                if rademacher:
                    vec.append(1.0 if h % 2 == 0 else -1.0)
                else:
                    vec.append((h % 2_000_001 - 1_000_000) / 1_000_000.0)
            table.append(vec)
        out.append(table)
    return out


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit LSH bucket assignment per vector per table. Candidate
    pairs come from an equi-join on (table, bucket) — the 100 TB path
    where brute force is impossible."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    return _lsh_buckets_df(emb).orderBy("vec_id", "table_id")


def _dot_sql(vec: list[float], col: str = "v") -> str:
    """The SQL-string form of _dot(col, literal vector) — identical fold
    (zip_with → left-to-right aggregate), built as ONE parsed expression
    instead of thousands of py4j Column calls (constant-literal plans
    like 16-plane LSH or 32-centroid IVF otherwise spend seconds of
    DRIVER time just constructing the expression tree)."""
    arr = "array(" + ",".join(f"{x!r}D" for x in vec) + ")"
    return (
        f"aggregate(zip_with({col}, {arr}, (x, y) -> x * y), "
        "cast(0 as double), (acc, x) -> acc + x)"
    )




def _lsh_buckets_df(emb: DataFrame, planes=None) -> DataFrame:
    """(vec_id, table_id, bucket) sign-bit assignments — shared by the
    bucket-listing query and candidate generation."""
    if planes is None:
        planes = _lsh_planes()
    tables = []
    for ti, table in enumerate(planes):
        bits = " + ".join(
            f"(case when {_dot_sql(plane)} >= 0 then {1 << pi}L else 0L end)"
            for pi, plane in enumerate(table)
        )
        tables.append(f"struct({ti} as table_id, ({bits}) as bucket)")
    banded = F.expr("array(" + ",".join(tables) + ")")
    return emb.select("vec_id", F.explode(banded).alias("b")).select(
        "vec_id", "b.table_id", "b.bucket"
    )


def lsh_candidate_pairs(emb: DataFrame, planes=None) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing >=1 LSH bucket — the equi-join
    candidate generator. Shuffle is on (table_id, bucket); bucket
    population is ~n/2^planes per table, so fan-out stays linear-ish and
    AQE's skew-join split handles any dense bucket."""
    # checkpoint the bucketed relation: the self-join references it on
    # BOTH sides, so without it the (tables × planes × dims) dot-product
    # bucket computation ran twice; lazy — the join's first
    # materialization persists it
    b = _lsh_buckets_df(emb, planes).localCheckpoint(eager=False)
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(
            r,
            (F.col("l.table_id") == F.col("r.table_id"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(F.col("l.vec_id").alias("id_a"), F.col("r.vec_id").alias("id_b"))
        .distinct()
    )


# near-dup regime: LSH only prunes when the similarity threshold is
# high (for cos tau the per-plane agreement prob is 1 - theta/pi; at
# tau=0.4 pruning and recall cannot coexist — that's the LSH rho-curve,
# not an implementation artifact). The operator therefore benchmarks
# the regime real dedup runs in: planted near-duplicates at cos≈0.9987,
# tau=0.9, and a 16-plane × 4-table index (65,536 buckets/table) so
# candidate volume is ~O(n), not a disguised cross join.
NEARDUP_TAU = 0.9
ND_PLANES = 16
ND_TABLES = 4
ND_ID_OFFSET = 10_000_000
ND_EPS = 0.05


def _neardup_input(emb: DataFrame) -> DataFrame:
    """embeddings ∪ planted near-duplicates: v' = v + eps·rot1(v)
    (deterministic, same arithmetic in the SQL oracle), cos(v,v') ≈
    1/sqrt(1+eps²) ≈ 0.99875 — true positives at any SF."""
    n = F.size(F.col("v"))
    rot = F.concat(F.slice(F.col("v"), 2, 10_000), F.slice(F.col("v"), 1, 1))
    planted = emb.select(
        (F.col("vec_id") + ND_ID_OFFSET).alias("vec_id"),
        F.zip_with(F.col("v"), rot, lambda a, b: a + F.lit(ND_EPS) * b).alias("v"),
    )
    return emb.select("vec_id", "v").unionByName(planted)


def embedding_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, scale path: LSH bucket equi-join candidate
    generation over the planted-dup corpus, exact cosine re-score on
    candidates only, cos >= {NEARDUP_TAU}.

    Semantics = "same-bucket AND cos >= tau"; the DuckDB oracle computes
    IDENTICAL buckets (±1 Rademacher plane constants inlined in the
    SQL), so the approximate-by-construction operator is hash-checked
    end-to-end. Recall vs exact brute force is pytest-gated (planted
    pairs sit at theta≈2.9°, per-table hit prob 0.984^16≈0.77, 4 tables
    → expected recall ≈ 99.7%). Replaces the round-1 all-pairs crossJoin
    (kept above as the pytest oracle) per the scale review."""
    t = load_tables(spark, sf_dir)
    emb = _neardup_input(
        t["embeddings"].select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    planes = _lsh_planes(tables=ND_TABLES, planes=ND_PLANES, rademacher=True, salt="ndplane")
    cand = lsh_candidate_pairs(emb, planes)
    va = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    vb = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cosine("va", "vb"), 6).alias("score"))
        .where(F.col("score") >= NEARDUP_TAU)
        .orderBy("id_a", "id_b")
    )


def _neardup_lsh_sql() -> str:
    """DuckDB oracle: identical planted input, identical ±1 hyperplane
    sign-bit buckets (constants inlined), identical re-score."""
    planes = _lsh_planes(tables=ND_TABLES, planes=ND_PLANES, rademacher=True, salt="ndplane")
    bucket_exprs = []
    for ti, table in enumerate(planes):
        terms = []
        for pi, plane in enumerate(table):
            lst = "[" + ", ".join("1" if x > 0 else "-1" for x in plane) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(v, {lst}::DOUBLE[]) >= 0 THEN {1 << pi} ELSE 0 END)"
            )
        bucket_exprs.append("(" + " + ".join(terms) + f") AS bucket{ti}")
    union = " UNION ALL ".join(
        f"SELECT vec_id, {ti} AS table_id, bucket{ti} AS bucket FROM bk"
        for ti in range(ND_TABLES)
    )
    return f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), e AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + {ND_ID_OFFSET},
         list_transform(list_zip(v, v[2:] || v[1:1]),
                        x -> x[1] + {ND_EPS} * x[2]) AS v
  FROM base
), bk AS (
  SELECT vec_id, {", ".join(bucket_exprs)} FROM e
), banded AS ({union}),
cand AS (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
  FROM banded l JOIN banded r
    ON l.table_id = r.table_id AND l.bucket = r.bucket AND l.vec_id < r.vec_id
)
SELECT id_a, id_b,
       ROUND({_ordered_cos_sql("ea.v", "eb.v")}, 6) AS score
FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
WHERE ROUND({_ordered_cos_sql("ea.v", "eb.v")}, 6) >= {NEARDUP_TAU}
ORDER BY id_a, id_b
"""


NEARDUP_LSH_SQL = _neardup_lsh_sql()


N_CENTROIDS = 32
IVF_PROBES = 8


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer = the first {N_CENTROIDS} vectors
    (deterministic "training sample"), every vector assigned to its
    nearest centroid by cosine, queries probe their {IVF_PROBES} nearest
    cells, exact re-score inside probed cells only.

    Scale shape: assignment is SHUFFLE-FREE — the centroid table is a
    literal array in the row expression (at real scale: a broadcast),
    and argmax is an ``array_max`` over per-centroid score structs, so
    the corpus is scanned once with no exchange. Candidate selection is
    an equi-join on cell id (queries × probes is tiny and broadcast).
    Fully ANSI-expressible → hash-checked against DuckDB end-to-end;
    recall vs brute force is pytest-gated."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].select("vec_id", F.col("embedding").cast("array<double>").alias("v"))

    cents = [
        (int(r.vec_id), [float(x) for x in r.v])
        for r in emb.where(F.col("vec_id") < N_CENTROIDS).collect()
    ]

    def norm2(vec: list[float]) -> float:
        # same left-to-right fold DuckDB's list_cosine_similarity and the
        # previous Spark-side constant fold perform — bit-identical
        acc = 0.0
        for x in vec:
            acc += x * x
        return acc

    # struct(score, -cid): array_max/sort desc = score DESC, cid ASC.
    # Built as one parsed SQL expression — see _dot_sql on driver cost.
    parts = [
        f"struct(round({_dot_sql(vec)} / sqrt(_n2v * {norm2(vec)!r}D), 6) as s, "
        f"{-cid} as ncid)"
        for cid, vec in cents
    ]
    scores_arr = F.expr("array(" + ",".join(parts) + ")")

    # the centroid-literal expression appears ONCE in the plan ("scores"
    # column); cell assignment and probe selection both derive from it
    withscores = (
        emb.withColumn(
            "_n2v",
            F.expr("aggregate(transform(v, x -> x * x), cast(0 as double), (acc, x) -> acc + x)"),
        )
        .withColumn("scores", scores_arr)
        .drop("_n2v")
    )
    assigned = withscores.withColumn(
        "cell", (-F.array_max(F.col("scores")).ncid).cast("int")
    ).drop("scores")

    queries = withscores.where(F.col("vec_id") < N_QUERIES)
    probes = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(F.slice(F.sort_array("scores", asc=False), 1, IVF_PROBES)).alias("p"),
        )
        .select("query_id", "qv", (-F.col("p.ncid")).cast("int").alias("cell"))
    )

    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine("v", "qv"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


HN_FALSE_NEG_TAU = 0.35  # top-band candidates are probable unlabeled positives
HN_K = 3


def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training, with false-
    negative DENOISING (the RocketQA-style rule): per anchor, the
    top-{HN_K} most-similar candidates AFTER dropping the top band
    (score >= {HN_FALSE_NEG_TAU}) — candidates that similar are
    probable unlabeled positives, and training on them as negatives
    poisons the objective.  The miner reuses the IVF candidate
    structure verbatim — same shuffle-free cell assignment, same probe
    equi-join — so the hard band comes from the cells where hard
    negatives actually live, not from random sampling.

    Output: (query_id, neighbor_id, score, rank ≤ {HN_K}).  Oracle
    re-derives the IVF candidates and the band in SQL."""
    # identical candidate machinery to ann_ivf_topk, different selection
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = [
        (int(r.vec_id), [float(x) for x in r.v])
        for r in emb.where(F.col("vec_id") < N_CENTROIDS).collect()
    ]

    def norm2(vec: list[float]) -> float:
        acc = 0.0
        for x in vec:
            acc += x * x
        return acc

    parts = [
        f"struct(round({_dot_sql(vec)} / sqrt(_n2v * {norm2(vec)!r}D), 6) as s, "
        f"{-cid} as ncid)"
        for cid, vec in cents
    ]
    scores_arr = F.expr("array(" + ",".join(parts) + ")")
    withscores = (
        emb.withColumn(
            "_n2v",
            F.expr("aggregate(transform(v, x -> x * x), cast(0 as double), (acc, x) -> acc + x)"),
        )
        .withColumn("scores", scores_arr)
        .drop("_n2v")
    )
    assigned = withscores.withColumn(
        "cell", (-F.array_max(F.col("scores")).ncid).cast("int")
    ).drop("scores")
    queries = withscores.where(F.col("vec_id") < N_QUERIES)
    probes = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(F.slice(F.sort_array("scores", asc=False), 1, IVF_PROBES)).alias("p"),
        )
        .select("query_id", "qv", (-F.col("p.ncid")).cast("int").alias("cell"))
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine("v", "qv"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.where(F.col("score") < HN_FALSE_NEG_TAU)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= HN_K)
        .orderBy("query_id", "rank")
    )


ANN_IVF_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cent AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {N_CENTROIDS}
), assign AS (
  SELECT vec_id, v, cid AS cell FROM (
    SELECT e.vec_id, e.v, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND({_ordered_cos_sql("e.v", "cent.cv")}, 6) DESC,
                                       cent.cid ASC) AS rn
    FROM e CROSS JOIN cent
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, cent.cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY ROUND({_ordered_cos_sql("q.v", "cent.cv")}, 6) DESC,
                                       cent.cid ASC) AS rn
    FROM e q CROSS JOIN cent WHERE q.vec_id < {N_QUERIES}
  ) WHERE rn <= {IVF_PROBES}
), scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND({_ordered_cos_sql("a.v", "p.qv")}, 6) AS score
  FROM assign a JOIN probes p ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def _lsh_buckets_sql() -> str:
    """DuckDB oracle for ann_lsh_bucketed: the default 8-table × 3-plane
    assignment with the float plane constants inlined (same pattern as
    the near-dup oracle — sign-bit folds ARE SQL once the constants are
    literals)."""
    planes = _lsh_planes()
    bucket_exprs = []
    for ti, table in enumerate(planes):
        terms = []
        for pi, plane in enumerate(table):
            lst = "[" + ", ".join(repr(x) for x in plane) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(v, {lst}::DOUBLE[]) >= 0 THEN {1 << pi} ELSE 0 END)"
            )
        bucket_exprs.append("(" + " + ".join(terms) + f") AS bucket{ti}")
    union = " UNION ALL ".join(
        f"SELECT vec_id, {ti} AS table_id, CAST(bucket{ti} AS BIGINT) AS bucket FROM bk"
        for ti in range(LSH_TABLES)
    )
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), bk AS (
  SELECT vec_id, {", ".join(bucket_exprs)} FROM e
)
SELECT vec_id, table_id, bucket FROM ({union}) ORDER BY vec_id, table_id
"""


ANN_LSH_BUCKETS_SQL = _lsh_buckets_sql()


def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible RECALL GATE for the LSH near-dup scale path: one
    row (n_truth, n_found, recall, meets_floor) comparing the bucketed
    operator against exact all-pairs truth.

    The truth side is quadratic BY DEFINITION (it measures against
    exhaustive ground truth) — this query runs at gate scale (the
    sampled test corpus), never on the full corpus; the operator it
    audits (embedding_neardup_cosine) is the production path. Precision
    is 1.0 by construction (candidates are exact-rescored against the
    same tau), so recall is the only free quality axis. The DuckDB
    oracle COMPUTES both sides (no pinned VALUES): the identical
    ±1-plane buckets and the identical brute-force, so a recall
    regression from bucket-logic drift on either engine turns the row
    red. meets_floor wires the pytest floor (expected ≈ 99.7% from the
    rho-curve: per-table hit prob 0.984^16, 4 tables)."""
    truth = embedding_neardup_bruteforce(spark, sf_dir).select("id_a", "id_b")
    pred = (
        embedding_neardup_cosine(spark, sf_dir)
        .select("id_a", "id_b")
        .withColumn("in_pred", F.lit(1))
    )
    j = truth.join(pred, ["id_a", "id_b"], "left")
    return (
        j.agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.coalesce(F.sum("in_pred"), F.lit(0)).alias("n_found"),
        )
        .select(
            "n_truth",
            "n_found",
            F.round(F.col("n_found") / F.col("n_truth"), 6).alias("recall"),
            (F.col("n_found") / F.col("n_truth") >= 0.95).alias("meets_floor"),
        )
    )


ANN_LSH_RECALL_SQL = f"""
WITH pred_full AS ({NEARDUP_LSH_SQL.replace("ORDER BY id_a, id_b", "")}),
base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), e AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + {ND_ID_OFFSET},
         list_transform(list_zip(v, v[2:] || v[1:1]),
                        x -> x[1] + {ND_EPS} * x[2]) AS v
  FROM base
), truth AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE ROUND({_ordered_cos_sql("a.v", "b.v")}, 6) >= {NEARDUP_TAU}
), joined AS (
  SELECT t.id_a, t.id_b,
         CASE WHEN p.id_a IS NOT NULL THEN 1 END AS in_pred
  FROM truth t LEFT JOIN pred_full p ON p.id_a = t.id_a AND p.id_b = t.id_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COALESCE(SUM(in_pred), 0) AS BIGINT) AS n_found,
       ROUND(COALESCE(SUM(in_pred), 0) * 1.0 / COUNT(*), 6) AS recall,
       (COALESCE(SUM(in_pred), 0) * 1.0 / COUNT(*)) >= 0.95 AS meets_floor
FROM joined
"""


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall@{TOP_K} gate for the IVF scale path: one
    row (n_truth, n_found, recall, meets_floor) comparing IVF probe
    top-k against exhaustive brute-force top-k over the same
    {N_QUERIES} queries. Like ann_lsh_recall, the truth side is
    quadratic by definition and runs at gate scale only; the DuckDB
    oracle COMPUTES both sides (no pinned VALUES). The {IVF_PROBES}/
    {N_CENTROIDS} probe ratio puts expected recall well above the 0.8
    floor asserted by meets_floor (pytest pins the same floor)."""
    truth = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    pred = (
        ann_ivf_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("in_pred", F.lit(1))
    )
    j = truth.join(pred, ["query_id", "neighbor_id"], "left")
    return (
        j.agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.coalesce(F.sum("in_pred"), F.lit(0)).alias("n_found"),
        )
        .select(
            "n_truth",
            "n_found",
            F.round(F.col("n_found") / F.col("n_truth"), 6).alias("recall"),
            (F.col("n_found") / F.col("n_truth") >= 0.8).alias("meets_floor"),
        )
    )


ANN_IVF_RECALL_SQL = f"""
WITH truth AS ({ANN_TOPK_SQL.replace("ORDER BY query_id, rank", "")}),
pred AS ({ANN_IVF_SQL.replace("ORDER BY query_id, rank", "")}),
joined AS (
  SELECT t.query_id, t.neighbor_id,
         CASE WHEN p.query_id IS NOT NULL THEN 1 END AS in_pred
  FROM truth t LEFT JOIN pred p
    ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COALESCE(SUM(in_pred), 0) AS BIGINT) AS n_found,
       ROUND(COALESCE(SUM(in_pred), 0) * 1.0 / COUNT(*), 6) AS recall,
       (COALESCE(SUM(in_pred), 0) * 1.0 / COUNT(*)) >= 0.8 AS meets_floor
FROM joined
"""


KMEANS_K = 8
KMEANS_ITERS = 3
KMEANS_SCALE = 1_000_000  # fixed-point micro-units for order-independent exact sums


def ann_kmeans_train(
    spark: SparkSession, sf_dir: str, iters: int | None = None
) -> DataFrame:
    """Distributed Lloyd k-means over the embeddings table (cosine
    assignment, mean update, {KMEANS_ITERS} iterations, first-{KMEANS_K}
    init) — the TRAINER that produces a real IVF coarse quantizer
    (ann_ivf_topk's "first-K training sample" is what this replaces at
    scale). Emits the final per-(cell, dimension) fixed-point component
    sums and member counts.

    Scale shape per iteration: assignment is SHUFFLE-FREE — the K×D
    centroid matrix is driver-bounded state (the canonical Lloyd shape
    on a cluster) inlined as one parsed literal expression, and the
    argmax rides the scan; the update is ONE shuffle of (cell, dim)
    partial sums with map-side combine (K·D result rows). Nothing
    corpus-sized ever reaches the driver.

    Cross-engine exactness (why fixed-point): float mean updates are
    partitioning-order-dependent, so member components are quantized
    in-engine to micro-units (round(x·1e6) — never exactly half-integer
    for float32-derived inputs, so Java HALF_UP and C away-from-zero
    agree) and summed as BIGINTs, exact in any order; the next-round
    centroid double qsum/(n·1e6) is then bit-identical in Spark and
    DuckDB, keeping every later assignment identical too. The OUTPUT is
    the integer (qsum, n_members) pair itself — no terminal double
    rounding to go cross-engine-unstable on. Empty cells keep their
    previous centroid and drop out of the final sums."""
    if iters is None:
        iters = KMEANS_ITERS
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    _cents, last_sums = _kmeans_centroids(emb, iters)
    rows = sorted(
        (int(r.cell), int(r.pos), int(r.qs), int(r.n)) for r in last_sums
    )
    return local_df(spark, rows, "cell int, dim_idx int, qsum long, n_members long")


def _py_norm2(vec: list[float]) -> float:
    # same left-to-right fold as the engines' list folds — bit-identical
    acc = 0.0
    for x in vec:
        acc += x * x
    return acc


def _cell_scores_expr(cents: dict[int, list[float]]) -> str:
    """array of struct(round(cos, 6) AS s, -cell AS nc) vs every
    centroid, as ONE parsed SQL string (see _dot_sql on driver cost).
    Requires a `_n2v` column with the vector's own squared norm."""
    parts = [
        f"struct(round({_dot_sql(vec)} / sqrt(_n2v * {_py_norm2(vec)!r}D), 6) as s, "
        f"{-cell} as nc)"
        for cell, vec in sorted(cents.items())
    ]
    return "array(" + ",".join(parts) + ")"


def _with_n2v(emb: DataFrame) -> DataFrame:
    return emb.withColumn(
        "_n2v",
        F.expr("aggregate(transform(v, x -> x * x), cast(0 as double), (acc, x) -> acc + x)"),
    )


def _kmeans_centroids(emb: DataFrame, iters: int) -> tuple[dict, list]:
    """The Lloyd loop (see ann_kmeans_train for the full design notes).
    Returns (final centroid dict, last iteration's collected sums)."""
    cents = {
        int(r.vec_id): [float(x) for x in r.v]
        for r in emb.where(F.col("vec_id") < KMEANS_K).collect()
    }
    last_sums: list = []
    for _ in range(iters):
        assigned = _with_n2v(emb).withColumn(
            "cell", (-F.expr(f"array_max({_cell_scores_expr(cents)}).nc")).cast("int")
        )
        last_sums = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.round(F.col("x") * KMEANS_SCALE, 0).cast("long")).alias("qs"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()  # bounded: K*D rows
        )
        new = {c: list(v) for c, v in cents.items()}
        for r in last_sums:
            new[int(r.cell)][int(r.pos)] = int(r.qs) / (int(r.n) * KMEANS_SCALE)
        cents = new
    return cents, last_sums


def _kmeans_sql() -> str:
    """DuckDB oracle: the identical Lloyd loop unrolled as chained CTEs
    (assignment via cross join + row_number, update via zipped unnest +
    exact BIGINT sums), producing the same final (cell, dim) sums."""
    iters = KMEANS_ITERS
    sql = _kmeans_cte_chain()
    sql += f"""
SELECT cell, pos AS dim_idx, qs AS qsum, CAST(n AS BIGINT) AS n_members
FROM sums{iters - 1} ORDER BY cell, dim_idx
"""
    return sql


def _kmeans_cte_chain() -> str:
    """The WITH-chain shared by the k-means oracle and the IVF-recall
    oracle: emb, cent0..cent{ITERS} (long format) and centl0..centl{ITERS-1}
    (list format), ending ready for more CTEs to be appended.

    Every CTE is MATERIALIZED: assignments use explicit 64-term ordered
    dot chains (_ordered_cos_sql — no engine float kernel at the
    round(,6) boundary), and with default CTE inlining DuckDB would
    duplicate the whole chain per reference, exploding the plan
    (observed planner OOM on the recall oracle at sf0.01)."""
    K, iters, S = KMEANS_K, KMEANS_ITERS, KMEANS_SCALE
    sql = f"""
WITH emb AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cent0 AS MATERIALIZED (
  SELECT CAST(vec_id AS INT) AS cell,
         unnest(CAST(embedding AS DOUBLE[])) AS val,
         CAST(unnest(generate_series(1, len(embedding))) - 1 AS INT) AS pos
  FROM embeddings WHERE vec_id < {K}
)"""
    for i in range(iters):
        sql += f""", centl{i} AS MATERIALIZED (
  SELECT cell, list(val ORDER BY pos) AS cv FROM cent{i} GROUP BY cell
), asg{i} AS MATERIALIZED (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY ROUND({_ordered_cos_sql("e.v", "c.cv")}, 6) DESC, c.cell ASC) AS rn
    FROM emb e CROSS JOIN centl{i} c)
  WHERE rn = 1
), sums{i} AS MATERIALIZED (
  SELECT cell, pos, SUM(CAST(ROUND(x * {S}.0) AS BIGINT)) AS qs, COUNT(*) AS n
  FROM (SELECT cell, unnest(v) AS x,
               CAST(unnest(generate_series(1, len(v))) - 1 AS INT) AS pos
        FROM asg{i})
  GROUP BY cell, pos
), cent{i + 1} AS MATERIALIZED (
  SELECT p.cell, p.pos,
         COALESCE(CAST(s.qs AS DOUBLE) / (s.n * {S}.0), p.val) AS val
  FROM cent{i} p LEFT JOIN sums{i} s ON s.cell = p.cell AND s.pos = p.pos
)"""
    return sql


ANN_KMEANS_SQL = _kmeans_sql()


IVF_KM_PROBES = 2  # 2-of-8 cells, same probe fraction as the 8-of-32 IVF


def _ivf_topk_from(emb: DataFrame, cents: dict[int, list[float]], probes: int) -> DataFrame:
    """IVF search against an arbitrary (driver-bounded) centroid dict:
    shuffle-free cell assignment, probe the top-`probes` cells per
    query, exact re-score inside probed cells, top-{TOP_K} per query.
    Same plan shape as ann_ivf_topk (which keeps its own inline form
    for the 32-centroid literal-constant documentation)."""
    scores = _cell_scores_expr(cents)
    withscores = _with_n2v(emb).withColumn("scores", F.expr(scores)).drop("_n2v")
    assigned = withscores.withColumn(
        "cell", (-F.array_max(F.col("scores")).nc).cast("int")
    ).drop("scores")
    probes_df = (
        withscores.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(F.slice(F.sort_array("scores", asc=False), 1, probes)).alias("p"),
        )
        .select("query_id", "qv", (-F.col("p.nc")).cast("int").alias("cell"))
    )
    scored = (
        assigned.join(F.broadcast(probes_df), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine("v", "qv"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
    )


def ann_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quantizer comparison harness: one row with recall@{TOP_K}
    (vs brute-force truth) for two coarse quantizers at the same
    K={KMEANS_K} and probes={IVF_KM_PROBES} — the untrained first-K
    sample vs the {KMEANS_ITERS}-iteration k-means centroids. The DuckDB
    oracle COMPUTES both sides end-to-end (the unrolled Lloyd chain +
    both IVF searches + brute-force truth) — nothing is pinned, so a
    trainer regression is a driver-visible hash mismatch.

    Honest expectation on THIS corpus: the synthetic embeddings are
    isotropic (measured same-label vs cross-label mean cosine both
    ≈ 0.001), so trained and untrained recalls land within a few hits
    of each other — on clustered real-world embeddings the trained
    quantizer is the one you'd ship. The property Lloyd guarantees
    regardless of structure (quantization objective improves over the
    first-K init) is pytest-gated in tests/test_similarity.py.

    Scale: truth is quadratic BY DEFINITION (recall gates run at gate
    scale, not corpus scale — same stance as ann_lsh_recall); both IVF
    searches are the production shape."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].select("vec_id", F.col("embedding").cast("array<double>").alias("v"))

    first_cents = {
        int(r.vec_id): [float(x) for x in r.v]
        for r in emb.where(F.col("vec_id") < KMEANS_K).collect()
    }
    trained_cents, _sums = _kmeans_centroids(emb, KMEANS_ITERS)

    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    truth = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine("v", "qv"), 6).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
    )

    n_truth = truth.count()
    n_first = _ivf_topk_from(emb, first_cents, IVF_KM_PROBES).join(
        truth, ["query_id", "neighbor_id"]
    ).count()
    n_trained = _ivf_topk_from(emb, trained_cents, IVF_KM_PROBES).join(
        truth, ["query_id", "neighbor_id"]
    ).count()
    return local_df(
        spark,
        [
            (
                n_truth,
                n_first,
                n_trained,
                round(n_first / n_truth, 6),
                round(n_trained / n_truth, 6),
            )
        ],
        "n_truth long, n_hit_first long, n_hit_kmeans long, "
        "recall_first double, recall_kmeans double",
    )


def _ivf_recall_fragment(cent_cte: str, sfx: str) -> str:
    return f""", asg_{sfx} AS MATERIALIZED (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY ROUND({_ordered_cos_sql("e.v", "c.cv")}, 6) DESC, c.cell ASC) AS rn
    FROM emb e CROSS JOIN {cent_cte} c)
  WHERE rn = 1
), probes_{sfx} AS MATERIALIZED (
  SELECT query_id, qv, cell FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND({_ordered_cos_sql("q.v", "c.cv")}, 6) DESC, c.cell ASC) AS rn
    FROM emb q CROSS JOIN {cent_cte} c WHERE q.vec_id < {N_QUERIES})
  WHERE rn <= {IVF_KM_PROBES}
), topk_{sfx} AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY p.query_id
             ORDER BY ROUND({_ordered_cos_sql("a.v", "p.qv")}, 6) DESC, a.vec_id ASC) AS rank
    FROM asg_{sfx} a JOIN probes_{sfx} p ON a.cell = p.cell
    WHERE a.vec_id <> p.query_id)
  WHERE rank <= {TOP_K}
), hits_{sfx} AS MATERIALIZED (
  SELECT COUNT(*) AS n FROM topk_{sfx} t JOIN truth USING (query_id, neighbor_id)
)"""


def _ivf_kmeans_recall_sql() -> str:
    sql = _kmeans_cte_chain()
    sql += f""", centk AS MATERIALIZED (
  SELECT cell, list(val ORDER BY pos) AS cv FROM cent{KMEANS_ITERS} GROUP BY cell
), truth AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND({_ordered_cos_sql("e.v", "q.v")}, 6) DESC, e.vec_id ASC) AS rank
    FROM emb q CROSS JOIN emb e
    WHERE q.vec_id < {N_QUERIES} AND e.vec_id <> q.vec_id)
  WHERE rank <= {TOP_K}
)"""
    sql += _ivf_recall_fragment("centl0", "first")
    sql += _ivf_recall_fragment("centk", "kmeans")
    sql += """
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT n FROM hits_first) AS n_hit_first,
       (SELECT n FROM hits_kmeans) AS n_hit_kmeans,
       ROUND(CAST((SELECT n FROM hits_first) AS DOUBLE)
             / (SELECT COUNT(*) FROM truth), 6) AS recall_first,
       ROUND(CAST((SELECT n FROM hits_kmeans) AS DOUBLE)
             / (SELECT COUNT(*) FROM truth), 6) AS recall_kmeans
"""
    return sql


ANN_IVF_KMEANS_RECALL_SQL = _ivf_kmeans_recall_sql()


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-vector statistics: L2 norm via an explicit
    JVM aggregate fold (every element cast to double BEFORE the square,
    so Spark's fold and DuckDB's list fold run the identical IEEE
    chain — a float*float multiply on one side would diverge in the
    last ulp), plus per-label means decimal-accumulated. The vector-math
    primitive (aggregate/zip_with) exercised as a first-class query."""
    t = load_tables(spark, sf_dir)
    norm = F.sqrt(
        F.expr(
            "aggregate(embedding, CAST(0.0 AS DOUBLE),"
            " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
    )
    return (
        t["embeddings"]
        .withColumn("_norm", norm)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("_norm").cast("decimal(18,9)")).cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_norm"),
            F.round(F.min("_norm"), 6).alias("min_norm"),
            F.round(F.max("_norm"), 6).alias("max_norm"),
        )
        .orderBy("label")
    )


EMBEDDING_NORM_SQL = """
WITH n AS (
  SELECT label,
         sqrt(list_aggregate(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
  FROM embeddings
)
SELECT label, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(nrm AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS mean_norm,
       ROUND(MIN(nrm), 6) AS min_norm,
       ROUND(MAX(nrm), 6) AS max_norm
FROM n GROUP BY label ORDER BY label
"""


# --- SemDeDup: k-means-cell-bucketed semantic dedup -------------------------

SEMDEDUP_TAU = 0.95


def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) — semantic near-dup pruning where
    the candidate-blocking structure is the trained k-means clustering
    itself: pairwise cosine is computed ONLY inside each centroid cell,
    turning the O(n²) corpus comparison into Σ|cell|² — the published
    method's exact scaling argument, and the third blocking family in
    this repo next to LSH buckets (embedding_neardup_cosine) and
    MinHash bands. Corpus = embeddings ∪ planted near-duplicates
    (cos ≈ 0.99875, same synthesis as the LSH path, so the two blocking
    strategies are comparable on identical ground truth).

    Keep rule: a vector is PRUNED iff some same-cell neighbor with a
    smaller vec_id sits at cos ≥ {SEMDEDUP_TAU} — the deterministic
    one-pass variant of SemDeDup's keep-one-per-group (no iterative
    clustering in the keep path, same shape as the curation funnel's
    greedy anti-join rule). Output: per-cell census
    (cell, n_members, n_dropped, n_kept).

    Scale shape: training is the shuffle-free Lloyd loop
    (ann_kmeans_train); corpus assignment rides the scan against the
    K×D centroid literal; the only corpus shuffle is the cell
    equi-join for within-cell pairs (AQE handles a hot cell, and K is
    chosen so cells are 1/K of the corpus — at 10^12 docs you raise K
    to ~100k, which SemDeDup's authors do precisely to keep Σ|cell|²
    tractable). Oracle: DuckDB re-runs the identical unrolled Lloyd
    chain, assigns the same corpus with ordered-fold cosines, and
    applies the same rule — engine parity across the whole train →
    assign → prune pipeline."""
    t = load_tables(spark, sf_dir)
    base = t["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents, _sums = _kmeans_centroids(base, KMEANS_ITERS)
    corpus = _neardup_input(base)
    assigned = (
        _with_n2v(corpus)
        .withColumn("cell", (-F.expr(f"array_max({_cell_scores_expr(cents)}).nc")).cast("int"))
        .select("vec_id", "v", "cell")
    )
    a = assigned.select(
        F.col("cell"), F.col("vec_id").alias("id_a"), F.col("v").alias("va")
    )
    b = assigned.select(
        F.col("cell"), F.col("vec_id").alias("id_b"), F.col("v").alias("vb")
    )
    dropped = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(cosine("va", "vb"), 6) >= SEMDEDUP_TAU)
        .select("cell", F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_drop", F.lit(1))
    )
    return (
        assigned.join(dropped, ["cell", "vec_id"], "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.coalesce(F.col("is_drop"), F.lit(0))).cast("long").alias("n_dropped"),
        )
        .withColumn("n_kept", (F.col("n_members") - F.col("n_dropped")).cast("long"))
        .orderBy("cell")
    )


def _semdedup_sql() -> str:
    iters = KMEANS_ITERS
    sql = _kmeans_cte_chain()
    sql += f""", centl_final AS MATERIALIZED (
  SELECT cell, list(val ORDER BY pos) AS cv FROM cent{iters} GROUP BY cell
), corpus AS MATERIALIZED (
  SELECT vec_id, v FROM emb
  UNION ALL
  SELECT vec_id + {ND_ID_OFFSET},
         list_transform(list_zip(v, v[2:] || v[1:1]),
                        x -> x[1] + {ND_EPS} * x[2]) AS v
  FROM emb
), casg AS MATERIALIZED (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY ROUND({_ordered_cos_sql("e.v", "c.cv")}, 6) DESC, c.cell ASC) AS rn
    FROM corpus e CROSS JOIN centl_final c)
  WHERE rn = 1
), dropped AS (
  SELECT DISTINCT a.cell, b.vec_id
  FROM casg a JOIN casg b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND({_ordered_cos_sql("a.v", "b.v")}, 6) >= {SEMDEDUP_TAU}
)
SELECT c.cell,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(COUNT(*) - SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM casg c LEFT JOIN dropped d ON c.cell = d.cell AND c.vec_id = d.vec_id
GROUP BY c.cell ORDER BY c.cell
"""
    return sql


EMBEDDING_SEMDEDUP_SQL = _semdedup_sql()


EMBEDDING_HARD_NEG_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cent AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {N_CENTROIDS}
), assign AS (
  SELECT vec_id, v, cid AS cell FROM (
    SELECT e.vec_id, e.v, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND({_ordered_cos_sql("e.v", "cent.cv")}, 6) DESC,
                                       cent.cid ASC) AS rn
    FROM e CROSS JOIN cent
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, cent.cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY ROUND({_ordered_cos_sql("q.v", "cent.cv")}, 6) DESC,
                                       cent.cid ASC) AS rn
    FROM e q CROSS JOIN cent WHERE q.vec_id < {N_QUERIES}
  ) WHERE rn <= {IVF_PROBES}
), scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND({_ordered_cos_sql("a.v", "p.qv")}, 6) AS score
  FROM assign a JOIN probes p ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored WHERE score < {HN_FALSE_NEG_TAU}
) WHERE rank <= {HN_K}
ORDER BY query_id, rank
"""


# --- scalar quantization (SQ8): int8 codes + exact integer ADC ---------------

def _sq8_stats(emb) -> tuple[list[float], list[float]]:
    """Per-dimension (min, scale) over the corpus — comparisons only,
    so the collected 64-row stats are exact and engine-independent."""
    rows = (
        emb.select(F.posexplode("v").alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("d")
        .collect()
    )
    mns = [r["mn"] for r in rows]
    scs = [
        0.0 if r["mx"] == r["mn"] else (r["mx"] - r["mn"]) / 255.0
        for r in rows
    ]
    return mns, scs


def _sq8_code_col(mns: list[float], scs: list[float]) -> Column:
    """v -> array<int> of 0..255 codes: round((x-min)/scale) per dim.
    Every step is one short IEEE chain on identical doubles in both
    engines (no accumulation), so codes match bit-for-bit; positive
    half-up rounding coincides with DuckDB's half-away."""
    return F.array(*[
        F.lit(0) if scs[d] == 0.0
        else F.round((F.col("v")[d] - F.lit(mns[d])) / F.lit(scs[d])).cast("int")
        for d in range(EMB_DIM)
    ])


def ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} gate for int8 scalar quantization — the memory-
    compression half of a billion-scale IVF+SQ index (4 bytes -> 1 byte
    per dim): per-dim min/max train the quantizer in one pass, ADC
    scoring is an INTEGER dot product of code arrays (exact in any
    engine — the float-kernel hazards of the kmeans oracle can't exist
    here), and the gate compares SQ8 top-k against the float
    brute-force truth per query. One row: n_truth, n_found, recall,
    meets_floor. The DuckDB oracle recomputes BOTH sides — quantizer
    training included — from the raw embeddings."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    mns, scs = _sq8_stats(emb)
    coded = emb.select("vec_id", _sq8_code_col(mns, scs).alias("code"))
    deq = coded.select(
        "vec_id",
        F.array(*[
            F.lit(mns[d]) + F.col("code")[d] * F.lit(scs[d])
            for d in range(EMB_DIM)
        ]).alias("dv"),
    )
    queries = deq.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("dv").alias("qv")
    )
    scored = (
        deq.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine("dv", "qv"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    pred = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= TOP_K
    ).select("query_id", "neighbor_id").withColumn("in_pred", F.lit(1))
    truth = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    j = truth.join(pred, ["query_id", "neighbor_id"], "left")
    return (
        j.agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.coalesce(F.sum("in_pred"), F.lit(0)).alias("n_found"),
        )
        .select(
            "n_truth", "n_found",
            F.round(F.col("n_found") / F.col("n_truth"), 6).alias("recall"),
            (F.col("n_found") / F.col("n_truth") >= 0.7).alias("meets_floor"),
        )
    )


_SQ8_CODES_SQL = f"""
  SELECT vec_id,
         list_transform(
           generate_series(1, {EMB_DIM}),
           i -> CASE WHEN s.scs[i] = 0 THEN 0
                     ELSE CAST(ROUND((e.v[i] - s.mns[i]) / s.scs[i]) AS INT)
                END) AS code
  FROM e, stats s
"""

ANN_SQ8_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), dims AS (
  SELECT i.i AS d, MIN(v[i.i]) AS mn, MAX(v[i.i]) AS mx
  FROM e, (SELECT UNNEST(generate_series(1, {EMB_DIM})) AS i) i
  GROUP BY 1
), stats AS (
  SELECT list(mn ORDER BY d) AS mns,
         list(CASE WHEN mx = mn THEN 0 ELSE (mx - mn) / 255.0 END
              ORDER BY d) AS scs
  FROM dims
), codes AS ({_SQ8_CODES_SQL}
), deq AS (
  SELECT c.vec_id,
         list_transform(generate_series(1, {EMB_DIM}),
                        i -> s.mns[i] + c.code[i] * s.scs[i]) AS dv
  FROM codes c, stats s
), q AS (
  SELECT vec_id AS query_id, dv AS qv FROM deq WHERE vec_id < {N_QUERIES}
), adc AS (
  SELECT q.query_id, d.vec_id AS neighbor_id,
         ROUND({_ordered_cos_sql("d.dv", "q.qv")}, 6) AS score
  FROM deq d CROSS JOIN q WHERE d.vec_id <> q.query_id
), pred AS (
  SELECT query_id, neighbor_id, 1 AS in_pred FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
    FROM adc
  ) WHERE rank <= {TOP_K}
), scored AS (
  SELECT qq.query_id, e.vec_id AS neighbor_id,
         ROUND({_ordered_cos_sql("e.v", "qq.qv")}, 6) AS score
  FROM e CROSS JOIN (
    SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}
  ) qq
  WHERE e.vec_id <> qq.query_id
), truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {TOP_K}
), joined AS (
  SELECT t.query_id, t.neighbor_id, p.in_pred
  FROM truth t LEFT JOIN pred p
    ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COALESCE(SUM(in_pred), 0) AS BIGINT) AS n_found,
       ROUND(COALESCE(SUM(in_pred), 0) * 1.0 / COUNT(*), 6) AS recall,
       (COALESCE(SUM(in_pred), 0) * 1.0 / COUNT(*)) >= 0.7 AS meets_floor
FROM joined
"""


def ann_ivf_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed billion-scale index shape: IVF coarse routing +
    SQ8-compressed cells — vectors live in their cells as int8 codes
    only; queries probe {IVF_PROBES}/{N_CENTROIDS} cells and rescore
    candidates ASYMMETRICALLY (original float query vs dequantized
    candidate — the standard ADC). One recall row against exhaustive
    float brute-force truth, oracle recomputing everything: quantizer
    training, cell assignment, probes, dequantized rescoring.

    Scale: inherits the IVF shuffle-free assignment and broadcast
    probe join verbatim; SQ8 cuts cell storage 4x, which at equal
    memory quadruples the probe budget — the actual reason real
    indexes compose these two."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    mns, scs = _sq8_stats(emb)
    cents = [
        (int(r.vec_id), [float(x) for x in r.v])
        for r in emb.where(F.col("vec_id") < N_CENTROIDS).collect()
    ]

    def norm2(vec: list[float]) -> float:
        acc = 0.0
        for x in vec:
            acc += x * x
        return acc

    parts = [
        f"struct(round({_dot_sql(vec)} / sqrt(_n2v * {norm2(vec)!r}D), 6) as s, "
        f"{-cid} as ncid)"
        for cid, vec in cents
    ]
    scores_arr = F.expr("array(" + ",".join(parts) + ")")
    withscores = (
        emb.withColumn(
            "_n2v",
            F.expr("aggregate(transform(v, x -> x * x), cast(0 as double), (acc, x) -> acc + x)"),
        )
        .withColumn("scores", scores_arr)
        .drop("_n2v")
    )
    # cells store ONLY the codes (+ the cell id): the 4x-compressed index
    assigned = (
        withscores.withColumn(
            "cell", (-F.array_max(F.col("scores")).ncid).cast("int")
        )
        .withColumn("code", _sq8_code_col(mns, scs))
        .withColumn(
            "dv",
            F.array(*[
                F.lit(mns[d]) + F.col("code")[d] * F.lit(scs[d])
                for d in range(EMB_DIM)
            ]),
        )
        .select("vec_id", "cell", "dv")
    )
    queries = withscores.where(F.col("vec_id") < N_QUERIES)
    probes = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(F.slice(F.sort_array("scores", asc=False), 1, IVF_PROBES)).alias("p"),
        )
        .select("query_id", "qv", (-F.col("p.ncid")).cast("int").alias("cell"))
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine("dv", "qv"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    pred = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
        .withColumn("in_pred", F.lit(1))
    )
    truth = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    j = truth.join(pred, ["query_id", "neighbor_id"], "left")
    return (
        j.agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.coalesce(F.sum("in_pred"), F.lit(0)).alias("n_found"),
        )
        .select(
            "n_truth", "n_found",
            F.round(F.col("n_found") / F.col("n_truth"), 6).alias("recall"),
            (F.col("n_found") / F.col("n_truth") >= 0.7).alias("meets_floor"),
        )
    )


ANN_IVF_SQ8_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), dims AS (
  SELECT i.i AS d, MIN(v[i.i]) AS mn, MAX(v[i.i]) AS mx
  FROM e, (SELECT UNNEST(generate_series(1, {EMB_DIM})) AS i) i
  GROUP BY 1
), stats AS (
  SELECT list(mn ORDER BY d) AS mns,
         list(CASE WHEN mx = mn THEN 0 ELSE (mx - mn) / 255.0 END
              ORDER BY d) AS scs
  FROM dims
), codes AS ({_SQ8_CODES_SQL}
), deq AS (
  SELECT c.vec_id,
         list_transform(generate_series(1, {EMB_DIM}),
                        i -> s.mns[i] + c.code[i] * s.scs[i]) AS dv
  FROM codes c, stats s
), cent AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {N_CENTROIDS}
), assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND({_ordered_cos_sql("e.v", "cent.cv")}, 6) DESC,
                                       cent.cid ASC) AS rn
    FROM e CROSS JOIN cent
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, cent.cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY ROUND({_ordered_cos_sql("q.v", "cent.cv")}, 6) DESC,
                                       cent.cid ASC) AS rn
    FROM e q CROSS JOIN cent WHERE q.vec_id < {N_QUERIES}
  ) WHERE rn <= {IVF_PROBES}
), scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND({_ordered_cos_sql("d.dv", "p.qv")}, 6) AS score
  FROM assign a JOIN probes p ON a.cell = p.cell
  JOIN deq d ON d.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
), pred AS (
  SELECT query_id, neighbor_id, 1 AS in_pred FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {TOP_K}
), tscored AS (
  SELECT qq.query_id, e.vec_id AS neighbor_id,
         ROUND({_ordered_cos_sql("e.v", "qq.qv")}, 6) AS score
  FROM e CROSS JOIN (
    SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}
  ) qq
  WHERE e.vec_id <> qq.query_id
), truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id ASC) AS rank
    FROM tscored
  ) WHERE rank <= {TOP_K}
), joined AS (
  SELECT t.query_id, t.neighbor_id, p.in_pred
  FROM truth t LEFT JOIN pred p
    ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COALESCE(SUM(in_pred), 0) AS BIGINT) AS n_found,
       ROUND(COALESCE(SUM(in_pred), 0) * 1.0 / COUNT(*), 6) AS recall,
       (COALESCE(SUM(in_pred), 0) * 1.0 / COUNT(*)) >= 0.7 AS meets_floor
FROM joined
"""


SIMILARITY_QUERIES: dict[str, tuple] = {
    "ann_sq8_recall": (ann_sq8_recall, ANN_SQ8_SQL),
    "ann_ivf_sq8_recall": (ann_ivf_sq8_recall, ANN_IVF_SQ8_SQL),
    "embedding_hard_negatives": (embedding_hard_negatives, EMBEDDING_HARD_NEG_SQL),
    "embedding_semdedup": (embedding_semdedup, EMBEDDING_SEMDEDUP_SQL),
    "ann_kmeans_train": (ann_kmeans_train, ANN_KMEANS_SQL),
    "ann_topk_bruteforce": (ann_topk_bruteforce, ANN_TOPK_SQL),
    "embedding_neardup_cosine": (embedding_neardup_cosine, NEARDUP_LSH_SQL),
    "ann_lsh_buckets": (ann_lsh_bucketed, ANN_LSH_BUCKETS_SQL),
    "ann_ivf_topk": (ann_ivf_topk, ANN_IVF_SQL),
    "ann_lsh_recall": (ann_lsh_recall, ANN_LSH_RECALL_SQL),
    "ann_ivf_recall": (ann_ivf_recall, ANN_IVF_RECALL_SQL),
    "ann_ivf_kmeans_recall": (ann_ivf_kmeans_recall, ANN_IVF_KMEANS_RECALL_SQL),
    "embedding_norm_stats": (embedding_norm_stats, EMBEDDING_NORM_SQL),
}
