"""Corpus retrieval + tokenizer-training operators over ``documents``:
integer-exact BM25 search and BPE merge learning.

Both are first-class training-data-pipeline ops (the retrieval side of
decontamination / data selection, and the *train* side of the tokenizer
whose *apply* side is ``textops.doc_bpe_token_count``).

Cross-engine discipline (house rules from the relational suite): every
ranking quantity is BIGINT arithmetic — integer division (``DIV`` /
DuckDB ``//``) instead of float division, saturation caps instead of
``ln`` — so Spark and DuckDB agree bit-for-bit and the driver's value
hash is meaningful.  The float-free BM25 variant is a documented
deviation: idf is the Robertson ratio ``(N-df+1)/(df+1)`` scaled to a
capped integer weight (the RA-family trick used by
``kg_link_prediction``) rather than its logarithm; ranking order is
preserved for any fixed query because the map is monotone in df.

Scale shape (100 TB):

- ``doc_bm25_search``: per-doc term frequencies are column expressions
  riding the scan (no explode, no shuffle); the corpus statistics
  (N, total tokens, per-term df) reduce in ONE partial-aggregated pass
  to a single row that is broadcast back; the final top-k is
  ``orderBy().limit(k)`` = per-partition TakeOrdered + driver merge of
  k rows, never a full sort.  Two scans of the corpus total — the price
  of exact global df, same as any two-pass ranking job.
- ``doc_bpe_train``: the corpus is touched ONCE (word census, partial
  agg); all merge rounds run on the vocab-sized census (Zipf-bounded),
  each round = one vocab-local pair census + a 1-row TakeOrdered — the
  same corpus-once/vocab-iterate split real BPE trainers
  (sentencepiece, HF tokenizers) use to scale.

Reference parity: the reference has no retrieval/tokenizer surface;
these extend the engine per the training-data-pipeline brief (compare
``csv-to-jsonld-lib`` scope, which stops at vocabulary mapping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_tables, local_df

# ---------------------------------------------------------------------------
# BM25 (integer-exact)
# ---------------------------------------------------------------------------

# Mixed-df query: "dup" is rare in the synthetic vocab (~0.1% of term
# mass), the rest are head terms — exercises the idf spread.
QUERY_TERMS = ["spark", "dup", "window", "merge"]

# k1 = 1.2, b = 0.75 (the standard Okapi constants) as exact rationals:
#   denom = tf + k1*(1-b) + k1*b*dl/avgdl
#         = (10*A*tf + 3*A + 9*dl) / (10*A)          with A = avgdl
# so with integer A = T DIV N (floor-avgdl deviation, documented):
#   tf_part*TF_SCALE = (TF_SCALE*tf*10*A) DIV (10*A*tf + 3*A + 9*dl)
TF_SCALE = 1_000_000
IDF_SCALE = 1_000_000
# Saturation cap on the integer idf weight (the BM25+ delta analog):
# bounds idf*tf products within BIGINT at any corpus size.
IDF_CAP = 1_000_000_000
BM25_TOP_K = 20


def _eq_lit(q: str):
    # single-arg closure: a default-arg lambda would present two params
    # and PySpark's higher-order filter would bind the second to the
    # element INDEX
    return lambda x: x == F.lit(q)


def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k BM25 retrieval for the fixed ``QUERY_TERMS`` query.

    All-BIGINT scoring: per-term contribution is
    ``(idf_int * tf_part_scaled) DIV TF_SCALE`` with
    ``idf_int = min(IDF_CAP, IDF_SCALE*(N-df+1) DIV (df+1))`` — exact
    on both engines, no float ever materialized.
    """
    t = load_tables(spark, sf_dir)
    tokens = F.split(F.col("text"), " ")
    base = t["documents"].select(
        "doc_id",
        F.size(tokens).cast("long").alias("dl"),
        *[
            F.size(F.filter(tokens, _eq_lit(q))).cast("long").alias(f"tf_{i}")
            for i, q in enumerate(QUERY_TERMS)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(QUERY_TERMS))
        ],
    ).withColumn("avgdl_i", F.expr("total_tokens DIV n_docs"))
    scored = base.crossJoin(F.broadcast(stats))
    contribs = [
        F.expr(
            f"(LEAST(CAST({IDF_CAP} AS BIGINT),"
            f"       ({IDF_SCALE} * (n_docs - df_{i} + 1)) DIV (df_{i} + 1))"
            f" * (({TF_SCALE} * tf_{i} * 10 * avgdl_i)"
            f"     DIV (10 * avgdl_i * tf_{i} + 3 * avgdl_i + 9 * dl))"
            f") DIV {TF_SCALE}"
        )
        for i in range(len(QUERY_TERMS))
    ]
    matched = [
        (F.col(f"tf_{i}") > 0).cast("long") for i in range(len(QUERY_TERMS))
    ]
    out = scored.select(
        "doc_id",
        sum(contribs[1:], contribs[0]).alias("score"),
        "dl",
        sum(matched[1:], matched[0]).alias("n_matched"),
    )
    return (
        out.where(F.col("score") > 0)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOP_K)
    )


def _bm25_sql() -> str:
    qt = QUERY_TERMS
    tf_cols = ",\n         ".join(
        "CAST(len(list_filter(string_split(text,' '), x -> x = '%s')) AS BIGINT) AS tf_%d"
        % (q.replace("'", "''"), i)
        for i, q in enumerate(qt)
    )
    df_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(qt))
    )
    contribs = "\n       + ".join(
        f"(LEAST(CAST({IDF_CAP} AS BIGINT),"
        f" ({IDF_SCALE} * (n_docs - df_{i} + 1)) // (df_{i} + 1))"
        f" * (({TF_SCALE} * tf_{i} * 10 * avgdl_i)"
        f" // (10 * avgdl_i * tf_{i} + 3 * avgdl_i + 9 * dl))) // {TF_SCALE}"
        for i in range(len(qt))
    )
    matched = " + ".join(
        f"CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END" for i in range(len(qt))
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split(text,' ')) AS BIGINT) AS dl,
         {tf_cols}
  FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_tokens,
         CAST(SUM(dl) AS BIGINT) // COUNT(*) AS avgdl_i,
         {df_cols}
  FROM base
)
SELECT doc_id,
       CAST({contribs} AS BIGINT) AS score,
       dl,
       CAST({matched} AS BIGINT) AS n_matched
FROM base CROSS JOIN stats
WHERE {contribs} > 0
ORDER BY score DESC, doc_id
LIMIT {BM25_TOP_K}
"""


DOC_BM25_SQL = _bm25_sql()


# ---------------------------------------------------------------------------
# BPE merge training
# ---------------------------------------------------------------------------

BPE_ROUNDS = 6
EOW = "</w>"

# Merge application = leftmost non-overlapping literal replace, run
# REPLACE_PASSES times.  Identical builtin semantics on Spark
# (java.lang.String.replace), DuckDB (replace) and Python
# (str.replace); equal to sequential HF-BPE apply except on runs of
# >=3 identical symbols sharing separator spaces — absent from this
# vocab and pinned by the real-BPE recompute test.  Both engines use
# the same pass count, so the cross-engine hash is exact regardless.
REPLACE_PASSES = 2


def _word_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(seq, cnt): space-joined character symbols + end-of-word marker,
    weighted by corpus frequency.  The ONE corpus-scale job."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "word",
            F.concat(
                F.concat_ws(" ", F.regexp_extract_all("word", F.lit("."), 0)),
                F.lit(" " + EOW),
            ).alias("seq"),
            "cnt",
        )
    )


def _adjacent_pairs(seq_col):
    syms = F.split(seq_col, " ")
    n = F.size(syms)
    return F.zip_with(
        F.slice(syms, 1, n - 1),
        F.slice(syms, F.lit(2), n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def doc_bpe_train(
    spark: SparkSession, sf_dir: str, return_census: bool = False
) -> DataFrame:
    """Learn the first ``BPE_ROUNDS`` BPE merges from the corpus.

    Each round: vocab-local adjacent-pair census (overlapping pairs
    counted, standard BPE), argmax by (count DESC, pair ASC) — the
    lexicographic tie-break makes the learned table a pure function of
    the corpus — then merge application on the census.  Driver state is
    one (pair, count) row per round: bounded, house-allowed.

    Returns (round, pair, merged, pair_count), one row per merge.
    """
    census = _word_census(spark, sf_dir).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, BPE_ROUNDS + 1):
        best = (
            census.select(F.explode(_adjacent_pairs(F.col("seq"))).alias("pair"), "cnt")
            .groupBy("pair")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "pair")
            .limit(1)
            .collect()[0]
        )
        pair, merged = best["pair"], best["pair"].replace(" ", "")
        merges.append((r, pair, merged, int(best["pair_count"])))
        seq = F.concat(F.lit(" "), F.col("seq"), F.lit(" "))
        for _ in range(REPLACE_PASSES):
            seq = F.replace(seq, F.lit(f" {pair} "), F.lit(f" {merged} "))
        # lazy: the next round's argmax collect (or the caller's first
        # action) materializes+persists the rewritten census in the same
        # job — eager checkpointing paid a standalone job per merge round
        census = census.select(
            "word", F.trim(seq).alias("seq"), "cnt"
        ).localCheckpoint(eager=False)
    trained = local_df(spark, merges, "round int, pair string, merged string, pair_count bigint")
    return (trained, census) if return_census else trained


def _bpe_chain_sql() -> str:
    """The shared training CTE chain (census_0..census_R, best_1..R)."""
    parts = [
        """
WITH census_0 AS MATERIALIZED (
  SELECT word,
         array_to_string(regexp_extract_all(word, '.'), ' ') || ' """
        + EOW
        + """' AS seq,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(text,' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
)"""
    ]
    for r in range(1, BPE_ROUNDS + 1):
        prev = f"census_{r - 1}"
        repl = "' ' || seq || ' '"
        for _ in range(REPLACE_PASSES):
            repl = (
                f"replace({repl}, ' ' || (SELECT pair FROM best_{r}) || ' ', "
                f"' ' || (SELECT replace(pair, ' ', '') FROM best_{r}) || ' ')"
            )
        parts.append(
            f""", pairs_{r} AS MATERIALIZED (
  SELECT s[i] || ' ' || s[i+1] AS pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
  FROM (SELECT unnest(range(1, len(s))) AS i, s, cnt
        FROM (SELECT string_split(seq, ' ') AS s, cnt FROM {prev}))
  GROUP BY 1
), best_{r} AS MATERIALIZED (
  SELECT pair, pair_count FROM pairs_{r} ORDER BY pair_count DESC, pair LIMIT 1
), census_{r} AS MATERIALIZED (
  SELECT word, trim({repl}) AS seq, cnt FROM {prev}
)"""
        )
    return "".join(parts)


def _bpe_train_sql() -> str:
    rows = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, pair, replace(pair, ' ', '') AS merged,"
        f" pair_count FROM best_{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return _bpe_chain_sql() + f"\nSELECT * FROM (\n{rows}\n) ORDER BY round"


DOC_BPE_TRAIN_SQL = _bpe_train_sql()


def doc_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the WHOLE corpus with the learned merges (train→apply
    integration): the trained census already holds each word's merged
    symbol sequence, so application is a vocab-sized broadcast join —
    explode corpus words, look up tokens-per-word, partial-aggregate
    per language.  The corpus is never string-rewritten a second time;
    at 100 TB the only corpus-scale cost is the explode+join riding the
    scan into one lang-grouped reduction."""
    t = load_tables(spark, sf_dir)
    _trained, census = doc_bpe_train(spark, sf_dir, return_census=True)
    vocab = census.select(
        "word", F.size(F.split("seq", " ")).cast("long").alias("n_tok")
    )
    words = (
        t["documents"]
        .select("lang", F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
    )
    return (
        words.join(F.broadcast(vocab), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total_words"),
            F.sum("n_tok").alias("total_bpe_tokens"),
            F.sum(F.length("word")).cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )


def _bpe_apply_sql() -> str:
    return (
        _bpe_chain_sql()
        + f"""
, vocab AS MATERIALIZED (
  SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_tok
  FROM census_{BPE_ROUNDS}
), corpus AS (
  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS total_words,
       CAST(SUM(v.n_tok) AS BIGINT) AS total_bpe_tokens,
       CAST(SUM(length(c.word)) AS BIGINT) AS total_chars
FROM corpus c JOIN vocab v USING (word)
WHERE c.word <> ''
GROUP BY lang ORDER BY lang
"""
    )


DOC_BPE_APPLY_SQL = _bpe_apply_sql()


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 + PRF dense + reciprocal-rank fusion
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
RRF_SCALE = 1_000_000  # integer contribution = RRF_SCALE // (RRF_K + rank)
PRF_DOCS = 3  # pseudo-relevance feedback: dense query = mean of top-3 lexical
DENSE_TOP_K = 20
HYBRID_TOP_K = 10
PRF_QSCALE = 1_000_000  # micro-unit quantization for the order-exact PRF mean


def doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the shape modern RAG / data-selection
    pipelines actually ship: the integer-exact BM25 list is fused with
    a DENSE ranking via reciprocal-rank fusion, where the dense query
    is built by pseudo-relevance feedback (the mean embedding of the
    top-{PRF_DOCS} lexical hits — no separate query embedding needed,
    Rocchio's trick in embedding space). Fusion is rank-only, so the
    two score scales never need calibrating:

        rrf(doc) = Σ_lists {RRF_SCALE} // ({RRF_K} + rank_list(doc))

    — all-BIGINT, with ranks from deterministic (score DESC, id ASC)
    orders, so the fused list is bit-stable cross-engine. The PRF mean
    follows the k-means fixed-point discipline: components quantized
    to micro-units and summed as BIGINTs (order-exact), the resulting
    query literal's cosines computed with the same left-to-right folds
    on both engines.

    Output: top {HYBRID_TOP_K} fused docs with both source ranks
    (NULL where a list missed the doc — RRF's graceful-absence case).

    Scale shape: the lexical side inherits doc_bm25_search's plan (two
    scans, broadcast stats, TakeOrdered). The dense side is ONE scan
    of the embedding table against a 64-constant literal (shuffle-free
    scoring, TakeOrdered top-k); the PRF sum is {PRF_DOCS} rows. The
    fusion join is top-k × top-k — driver-trivial at any corpus size,
    which is precisely why RRF is the production fusion choice."""
    from pyspark.sql.window import Window

    from .similarity import _dot_sql, _py_norm2

    t = load_tables(spark, sf_dir)
    lex = doc_bm25_search(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("lex_rank"),
    )
    top_ids = [int(r.doc_id) for r in lex.orderBy("lex_rank").limit(PRF_DOCS).collect()]
    emb = t["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qsums = (
        emb.where(F.col("vec_id").isin(top_ids))
        .select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum(F.round(F.col("x") * PRF_QSCALE, 0).cast("long")).alias("qs"))
        .collect()  # bounded: embedding-dim rows
    )
    qv = [0.0] * len(qsums)
    for r in qsums:
        qv[int(r.pos)] = int(r.qs) / (len(top_ids) * PRF_QSCALE)
    n2q = _py_norm2(qv)
    dense = (
        emb.withColumn(
            "_n2v",
            F.expr(
                "aggregate(transform(v, x -> x * x), cast(0 as double), (acc, x) -> acc + x)"
            ),
        )
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                F.expr(_dot_sql(qv)) / F.sqrt(F.col("_n2v") * F.lit(n2q)), 6
            ).alias("dscore"),
        )
        .orderBy(F.desc("dscore"), F.asc("doc_id"))
        .limit(DENSE_TOP_K)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("dscore"), F.asc("doc_id")))
            .alias("dense_rank"),
        )
    )
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .withColumn(
            "rrf_score",
            F.expr(
                f"coalesce({RRF_SCALE} DIV ({RRF_K} + lex_rank), 0L)"
                f" + coalesce({RRF_SCALE} DIV ({RRF_K} + dense_rank), 0L)"
            ).cast("long"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(HYBRID_TOP_K)
    )
    return fused.select(
        "doc_id",
        F.col("lex_rank").cast("int").alias("lex_rank"),
        F.col("dense_rank").cast("int").alias("dense_rank"),
        "rrf_score",
    )


def _hybrid_sql() -> str:
    from .similarity import EMB_DIM, _ordered_dot_sql

    bm25 = _bm25_sql().strip()
    dot_q = _ordered_dot_sql("e.v", "q.qv", EMB_DIM)
    n2v = _ordered_dot_sql("e.v", "e.v", EMB_DIM)
    n2q = _ordered_dot_sql("q.qv", "q.qv", EMB_DIM)
    return f"""
WITH bm AS ({bm25}),
lex AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rank
  FROM bm),
top_ids AS (SELECT doc_id FROM lex ORDER BY lex_rank LIMIT {PRF_DOCS}),
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qsum AS (
  SELECT pos, SUM(CAST(ROUND(x * {PRF_QSCALE}.0) AS BIGINT)) AS qs
  FROM (SELECT unnest(v) AS x,
               CAST(unnest(generate_series(1, len(v))) - 1 AS INT) AS pos
        FROM emb JOIN top_ids ON emb.vec_id = top_ids.doc_id)
  GROUP BY pos),
q AS (
  SELECT list(CAST(qs AS DOUBLE) / ({PRF_DOCS} * {PRF_QSCALE}.0) ORDER BY pos) AS qv
  FROM qsum),
dense AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY dscore DESC, doc_id ASC) AS dense_rank
  FROM (
    SELECT e.vec_id AS doc_id,
           ROUND({dot_q} / sqrt(({n2v}) * ({n2q})), 6) AS dscore
    FROM emb e CROSS JOIN q
    ORDER BY dscore DESC, doc_id ASC
    LIMIT {DENSE_TOP_K})),
fused AS (
  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.lex_rank, d.dense_rank,
         COALESCE({RRF_SCALE} // ({RRF_K} + l.lex_rank), 0)
         + COALESCE({RRF_SCALE} // ({RRF_K} + d.dense_rank), 0) AS rrf_score
  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(lex_rank AS INT) AS lex_rank,
       CAST(dense_rank AS INT) AS dense_rank,
       CAST(rrf_score AS BIGINT) AS rrf_score
FROM fused
ORDER BY rrf_score DESC, doc_id ASC
LIMIT {HYBRID_TOP_K}
"""


DOC_HYBRID_SQL = _hybrid_sql()


SEARCH_QUERIES: dict[str, tuple] = {
    "doc_hybrid_rrf": (doc_hybrid_rrf, DOC_HYBRID_SQL),
    "doc_bm25_search": (doc_bm25_search, DOC_BM25_SQL),
    "doc_bpe_train": (doc_bpe_train, DOC_BPE_TRAIN_SQL),
    "doc_bpe_apply": (doc_bpe_apply, DOC_BPE_APPLY_SQL),
}
