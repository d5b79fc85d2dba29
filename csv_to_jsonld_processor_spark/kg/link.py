"""Entity linking: blocked candidate generation + vectorized scoring.

The one *large* join the reference never needed (SURVEY §2.3): mentions
× candidate entities. Candidates are generated by equi-joining on a
blocking key (first mention token, lowercased), then scored JVM-side
with token-set Jaccard (array_intersect/array_union — no Python in the
hot path) plus an exact-alias bonus; the best candidate per mention is
taken with ``max_by`` (a single aggregation, no window shuffle).

``build_kg`` and the streaming jobs link inside the fused extraction
stage against ``kb_index`` (a broadcast dict). ``link_mentions`` is the
join-based linker, used by ``build_kg_resumable``'s ``linked`` stage and
benchmarked by ``tools/link_skew_bench.py``; it has two strategies:

- ``broadcast``: the KB alias table is dimension-sized (KBs–MBs even for
  millions of aliases after blocking-key bucketing) → ``F.broadcast``;
  zero shuffle of the mention table. The default at any scale where the
  alias table fits the broadcast threshold.
- ``salted_shuffle``: for KB tables too large to broadcast. Hub blocking
  keys (celebrity entities — our synthetic corpus gives the head alias
  ~35% of mentions) would skew a plain shuffle join, so the mention side
  gets a random-ish deterministic salt ∈ [0,S) and the KB side is
  replicated S times; the join key becomes (block_key, salt). AQE
  skew-join handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_df

LINK_SALT = 8
MIN_SCORE = 0.5


def kb_index(entities: list[tuple]) -> dict[str, list[tuple]]:
    """block_key → [(alias_lower_tokens, alias, canonical, class)] — the
    dimension-sized KB as a plain dict for broadcast into the fused
    extract+link UDF (the reference's J1–J6 are exactly such hash-map
    lookups). Used when the KB fits executor memory; the join-based
    strategies below are the path for KBs that don't."""
    idx: dict[str, list[tuple]] = {}
    for canonical, aliases, cls in entities:
        for alias in aliases:
            toks = tuple(alias.lower().split())
            idx.setdefault(toks[0], []).append((toks, alias, canonical, cls))
    return idx


def resolve_mention(mention: str, idx: dict) -> tuple | None:
    """Python twin of the join+max_by scoring: token-set Jaccard + exact
    bonus, argmax by (score, canonical) — identical tiebreak to the
    DataFrame path (verified by test_fused_equals_join)."""
    mtoks = mention.lower().split()
    if not mtoks:
        return None
    cands = idx.get(mtoks[0])
    if not cands:
        return None
    mset = set(mtoks)
    best = None
    for atoks, alias, canonical, cls in cands:
        aset = set(atoks)
        jac = len(mset & aset) / len(mset | aset)
        score = jac + (1.0 if mention.lower() == alias.lower() else 0.0)
        key = (score, canonical)
        if best is None or key > best[0]:
            best = (key, canonical, cls, score)
    if best is None or best[3] < MIN_SCORE:
        return None
    return best[1], best[2], best[3]


def kb_alias_table(spark, entities: list[tuple]) -> DataFrame:
    """(canonical, [aliases], class) → alias rows with blocking keys."""
    rows = []
    for canonical, aliases, cls in entities:
        for alias in aliases:
            rows.append((alias, canonical, cls, alias.split()[0].lower()))
    return local_df(
        spark, rows, "alias string, canonical string, entity_class string, block_key string"
    )


def _prepare_mentions(mentions: DataFrame, mention_col: str) -> DataFrame:
    m = mentions.withColumn("_mention_tokens", F.split(F.lower(F.col(mention_col)), " "))
    return m.withColumn("_block_key", F.element_at("_mention_tokens", 1))


def _score(mention_col: str) -> F.Column:
    inter = F.size(F.array_intersect("_mention_tokens", "_alias_tokens"))
    union = F.size(F.array_union("_mention_tokens", "_alias_tokens"))
    jaccard = inter.cast("double") / union.cast("double")
    exact = F.when(F.lower(F.col(mention_col)) == F.lower(F.col("alias")), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    return jaccard + exact


def link_mentions(
    mentions: DataFrame,
    kb: DataFrame,
    mention_col: str,
    strategy: str = "broadcast",
    salt: int = LINK_SALT,
) -> DataFrame:
    """Adds ``<mention_col>_entity`` / ``<mention_col>_class`` /
    ``<mention_col>_score`` (entity and class are null when no candidate
    clears ``MIN_SCORE``, the threshold ``resolve_mention`` uses)."""
    m = _prepare_mentions(mentions, mention_col)
    kbp = kb.withColumn("_alias_tokens", F.split(F.lower(F.col("alias")), " "))

    if strategy == "broadcast":
        joined = m.join(F.broadcast(kbp), m["_block_key"] == kbp["block_key"], "left")
    elif strategy == "salted_shuffle":
        m = m.withColumn("_salt", F.pmod(F.xxhash64(F.col("url"), F.col(mention_col)), F.lit(salt)))
        kbp = kbp.crossJoin(
            F.broadcast(
                kbp.sparkSession.range(salt).select(F.col("id").cast("int").alias("_salt"))
            )
        )
        joined = m.join(
            kbp, (m["_block_key"] == kbp["block_key"]) & (m["_salt"] == kbp["_salt"]), "left"
        )
    else:
        raise ValueError(strategy)

    score = _score(mention_col)
    scored = joined.withColumn("_score", F.when(F.col("alias").isNotNull(), score))
    group_cols = [c for c in mentions.columns]

    best = (
        scored.groupBy(*group_cols)
        .agg(
            F.max_by(
                F.struct(
                    F.col("canonical").alias("entity"),
                    F.col("entity_class").alias("cls"),
                    F.col("_score").alias("score"),
                ),
                # deterministic argmax: score, then lexicographically last
                # canonical breaks ties the same way on every run
                F.struct(F.coalesce(F.col("_score"), F.lit(-1.0)), F.col("canonical")),
            ).alias("_best")
        )
        .select(
            *group_cols,
            F.when(F.col("_best.score") >= MIN_SCORE, F.col("_best.entity")).alias(
                f"{mention_col}_entity"
            ),
            F.when(F.col("_best.score") >= MIN_SCORE, F.col("_best.cls")).alias(
                f"{mention_col}_class"
            ),
            F.col("_best.score").alias(f"{mention_col}_score"),
        )
    )
    return best
