"""Behavioral analytics over the ``events`` table: ordered conversion
funnels and retention cohorts — the two aggregate shapes every event
pipeline ships alongside sessionization (streaming/events.py).

Both are pure join/agg plans with exact oracles. Scale notes inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_tables, local_df

FUNNEL_STAGES = ["view", "click", "purchase"]
FUNNEL_WINDOW = "INTERVAL 24 HOURS"  # step k must follow step k-1 within this window


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user counts
    at stage k only if the stage-k event happened STRICTLY AFTER their
    first stage-(k-1) completion AND within {FUNNEL_WINDOW} of it (the
    window is what makes the funnel discriminate on this dense synthetic
    stream — unwindowed, every user eventually completes every stage;
    set-membership funnels additionally overcount users who purchased
    before ever viewing). Emits per-stage user counts and the step
    conversion rate.

    Scale shape: one filtered partial-agg per stage, each chained to
    the previous through an equi-join on user_id — shuffle keys stay
    user_id throughout, so all three aggregations and joins co-locate
    in one exchange lineage; no window over the full event stream."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("user_id", "event_type", "ts")

    stage_firsts = []
    prev = None
    for stage in FUNNEL_STAGES:
        cur = ev.where(F.col("event_type") == stage)
        if prev is not None:
            cur = cur.join(prev, "user_id").where(
                (F.col("ts") > F.col("_t_prev"))
                & (F.col("ts") <= F.col("_t_prev") + F.expr(FUNNEL_WINDOW))
            )
        cur = cur.groupBy("user_id").agg(F.min("ts").alias("_t_prev"))
        # lazy checkpoint: stage k's count below materializes (and
        # persists) this stage once; without it stage k's count re-ran
        # stages 1..k-1's joins and the events scan from scratch
        cur = cur.localCheckpoint(eager=False)
        stage_firsts.append(cur)
        prev = cur

    counts = [df.count() for df in stage_firsts]  # bounded: 3 scalars
    rows = []
    for i, (stage, n) in enumerate(zip(FUNNEL_STAGES, counts)):
        conv = round(n / counts[i - 1], 6) if i > 0 and counts[i - 1] else 1.0
        rows.append((i + 1, stage, n, conv))
    return local_df(
        spark, rows, "stage int, event_type string, n_users long, conv_from_prev double"
    )


# Built from FUNNEL_STAGES/FUNNEL_WINDOW so editing the constants can
# never desynchronize the Spark plan from its oracle (round-3 advice).
EVENTS_FUNNEL_SQL = (
    "WITH "
    + ", ".join(
        (
            f"s1 AS (SELECT user_id, MIN(ts) AS t FROM events "
            f"WHERE event_type = '{stage}' GROUP BY user_id)"
            if i == 0
            else f"s{i + 1} AS (SELECT e.user_id, MIN(e.ts) AS t "
            f"FROM events e JOIN s{i} ON e.user_id = s{i}.user_id "
            f"WHERE e.event_type = '{stage}' AND e.ts > s{i}.t "
            f"AND e.ts <= s{i}.t + {FUNNEL_WINDOW} GROUP BY e.user_id)"
        )
        for i, stage in enumerate(FUNNEL_STAGES)
    )
    + ", n AS (SELECT "
    + ", ".join(
        f"(SELECT COUNT(*) FROM s{i + 1}) AS n{i + 1}" for i in range(len(FUNNEL_STAGES))
    )
    + ") SELECT * FROM ("
    + " UNION ALL ".join(
        (
            f"SELECT 1 AS stage, '{stage}' AS event_type, n1 AS n_users, "
            "1.0 AS conv_from_prev FROM n"
            if i == 0
            else f"SELECT {i + 1}, '{stage}', n{i + 1}, "
            f"ROUND(CAST(n{i + 1} AS DOUBLE) / n{i}, 6) FROM n"
        )
        for i, stage in enumerate(FUNNEL_STAGES)
    )
    + ") ORDER BY stage"
)


RETAIN_MIN_PURCHASES = 3  # "engaged" week; >=1-of-any-event is saturated on this dense stream


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly ENGAGED-retention cohorts: a user's week counts as active
    only with ≥{RETAIN_MIN_PURCHASES} purchases that week (raw ≥1-event
    activity is saturated on this synthetic stream — every user appears
    every week — so the engagement threshold is what makes the cohort
    triangle decay); cohort = the user's first engaged week. Emitted
    long-form (cohort_week, week_offset, n_users).

    Scale shape: the engaged-week relation is one (user, week) partial
    agg with a HAVING; first-seen is a user-keyed agg on top — all
    shuffles stay on user_id; the final aggregation is
    |cohorts × offsets|-sized. date_trunc('week') is Monday-anchored in
    both engines."""
    t = load_tables(spark, sf_dir)
    active = (
        t["events"]
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.date_trunc("week", "ts").alias("week"))
        .groupBy("user_id", "week")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= RETAIN_MIN_PURCHASES)
        .select("user_id", "week")
    )
    first = active.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        active.join(first, "user_id")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


EVENTS_RETENTION_SQL = f"""
WITH active AS (
  SELECT user_id, date_trunc('week', ts) AS week
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, date_trunc('week', ts)
  HAVING COUNT(*) >= {RETAIN_MIN_PURCHASES}
), first AS (
  SELECT user_id, MIN(week) AS cohort_week FROM active GROUP BY user_id
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', cohort_week, week) / 7 AS INT) AS week_offset,
       COUNT(*) AS n_users
FROM active JOIN first USING (user_id)
GROUP BY 1, 2 ORDER BY cohort_week, week_offset
"""


ANOMALY_Z = 2.0


def events_purchase_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase-count anomaly detection per user: days where the
    count's z-score against that user's own daily distribution exceeds
    |{ANOMALY_Z}|. Variance is computed from EXACT integer sums
    (Σx, Σx², n are bigints; the one mean/variance division and sqrt
    are single IEEE ops, identical cross-engine) — a built-in
    stddev/avg over doubles would be partitioning-order-dependent and
    hash-unstable. Population variance (the monitoring convention).

    Scale: one (user, day) partial agg, one user-level agg, one
    broadcast-sized join back — all keyed on user_id."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("days"),
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("days")
    var = F.col("s2").cast("double") / F.col("days") - mean * mean
    z = (F.col("n").cast("double") - mean) / F.sqrt(var)
    return (
        daily.join(stats, "user_id")
        .where((F.col("days") >= 7) & (var > 0))
        .withColumn("_z_raw", z)
        .where(F.abs(F.col("_z_raw")) > ANOMALY_Z)  # filter on the UNROUNDED z, as the oracle does
        .withColumn("z", F.round(F.col("_z_raw"), 6))
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("long").alias("n_purchases"),
            "z",
        )
        .orderBy("user_id", "day")
    )


EVENTS_ANOMALY_SQL = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, CAST(ts AS DATE)
), stats AS (
  SELECT user_id, COUNT(*) AS days,
         CAST(SUM(n) AS BIGINT) AS s1, CAST(SUM(n * n) AS BIGINT) AS s2
  FROM daily GROUP BY user_id
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       CAST(n AS BIGINT) AS n_purchases,
       ROUND((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / days)
             / sqrt(CAST(s2 AS DOUBLE) / days
                    - (CAST(s1 AS DOUBLE) / days) * (CAST(s1 AS DOUBLE) / days)), 6) AS z
FROM daily JOIN stats USING (user_id)
WHERE days >= 7
  AND CAST(s2 AS DOUBLE) / days - (CAST(s1 AS DOUBLE) / days) * (CAST(s1 AS DOUBLE) / days) > 0
  AND ABS((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / days)
          / sqrt(CAST(s2 AS DOUBLE) / days
                 - (CAST(s1 AS DOUBLE) / days) * (CAST(s1 AS DOUBLE) / days))) > {ANOMALY_Z}
ORDER BY user_id, day
"""


def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column processing: the ``props`` JSON string is
    parsed IN-PLAN (``from_json`` with an explicit schema — schema-on-
    read, JVM-side, no Python) and its field aggregated per event type.
    Malformed/missing documents surface as a null count instead of
    failing the scan — the PERMISSIVE-mode contract a 100 TB pipeline
    needs when a fraction of upstream JSON is junk. All aggregates are
    exact integers."""
    t = load_tables(spark, sf_dir)
    return props_json_agg(t["events"])


def props_json_agg(events: DataFrame) -> DataFrame:
    """The Spark plan behind events_props_json, factored so the
    malformed-props pytest can drive it over a pinned corpus."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    parsed = events.withColumn(
        "_p", F.from_json("props", StructType([StructField("k", IntegerType())]))
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("_p.k").isNull().cast("int")).cast("long").alias("n_null_k"),
            F.min("_p.k").alias("min_k"),
            F.max("_p.k").alias("max_k"),
            F.sum("_p.k").cast("long").alias("sum_k"),
        )
        .orderBy("event_type")
    )


# The oracle mirrors from_json(IntegerType)'s PERMISSIVE null contract on
# EVERY malformed shape, not just the ones the generator emits: a k must be
# a JSON *integer* that fits INT32 to count (json_type gate excludes
# DOUBLE/VARCHAR/BOOLEAN/NULL — Spark nulls all of those; TRY_CAST nulls
# the >2^31 overflow), and invalid/missing JSON documents null out via
# json_valid instead of erroring the scan. Pinned cross-engine by
# tests/test_eventops.py::test_props_json_malformed_k_contract.
EVENTS_PROPS_JSON_SQL = """
WITH p AS (
  SELECT event_type,
         CASE WHEN props IS NOT NULL AND json_valid(props)
                AND json_type(json_extract(props, '$.k')) IN ('BIGINT', 'UBIGINT')
              THEN TRY_CAST(json_extract_string(props, '$.k') AS INT) END AS k
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k,
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM p GROUP BY 1 ORDER BY event_type
"""


def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing through Spark 4's VARIANT type:
    ``try_parse_json`` → binary variant column → typed
    ``try_variant_get`` extraction. VARIANT's cast semantics are
    CAST-like, NOT from_json's strict nulls: JSON doubles truncate
    toward zero (3.7→3, −3.5→−3), integer-pattern strings coerce
    (" 7 "→7 but "3.5"→null — no float parse), booleans become 1/0.
    The oracle mirrors each rule via a json_type dispatch (measured
    semantics pinned cross-engine on hostile shapes by
    tests/test_eventops.py::test_props_variant_coercion_contract)."""
    t = load_tables(spark, sf_dir)
    return props_variant_agg(t["events"])


def props_variant_agg(events: DataFrame) -> DataFrame:
    v = F.try_parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return (
        events.select("event_type", v.alias("_v"), k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("_v").isNull().cast("int")).cast("long").alias("n_bad_json"),
            F.sum(F.col("_k").isNull().cast("int")).cast("long").alias("n_null_k"),
            F.min("_k").alias("min_k"),
            F.max("_k").alias("max_k"),
            F.sum("_k").cast("long").alias("sum_k"),
        )
        .orderBy("event_type")
    )


# json_type dispatch reproducing try_variant_get(..., 'int') exactly:
# BIGINT/UBIGINT parse (overflow→null), DOUBLE truncates toward zero,
# BOOLEAN maps to 1/0, VARCHAR coerces only strict integer patterns
# (DuckDB's bare TRY_CAST would ROUND '3.5' to 4 — hence the regex).
EVENTS_PROPS_VARIANT_SQL = """
WITH p AS (
  SELECT event_type,
         (props IS NULL OR NOT json_valid(props)) AS bad,
         CASE WHEN props IS NOT NULL AND json_valid(props) THEN
           CASE json_type(json_extract(props, '$.k'))
             WHEN 'BIGINT' THEN TRY_CAST(json_extract_string(props, '$.k') AS INT)
             WHEN 'UBIGINT' THEN TRY_CAST(json_extract_string(props, '$.k') AS INT)
             WHEN 'DOUBLE' THEN TRY_CAST(TRUNC(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS INT)
             WHEN 'BOOLEAN' THEN CASE WHEN json_extract_string(props, '$.k') = 'true' THEN 1 ELSE 0 END
             WHEN 'VARCHAR' THEN CASE WHEN regexp_matches(TRIM(json_extract_string(props, '$.k')), '^[+-]?[0-9]+$')
                                      THEN TRY_CAST(TRIM(json_extract_string(props, '$.k')) AS INT) END
           END
         END AS k
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_json,
       CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k,
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM p GROUP BY 1 ORDER BY event_type
"""


def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each (from_type, to_type) pair of CONSECUTIVE events
    of the same user (ordered by ts, event_id as the deterministic
    tiebreak), the transition count and the row-normalized probability.
    The behavioral generalization of the ordered funnel: the funnel
    checks one path, this measures the whole transition structure.

    Plan: one window lag over (user_id) — a single hash partition by
    user that AQE sizes; then a partial-aggregated groupBy on the
    (from,to) pair whose cardinality is |types|², independent of corpus
    size. Probability = count / row_total via a broadcast of the
    |types|-row totals. No Python, no second scan of events."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        t["events"]
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("from_type", F.lag("event_type").over(w))
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n_transitions").alias("_row_total"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.round(F.col("n_transitions") / F.col("_row_total"), 6).alias("p_transition"),
        )
        .orderBy("from_type", "to_type")
    )


EVENTS_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT event_type AS to_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
), totals AS (
  SELECT from_type, SUM(n_transitions) AS row_total FROM pairs GROUP BY 1
)
SELECT p.from_type, p.to_type, p.n_transitions,
       ROUND(CAST(p.n_transitions AS DOUBLE) / t.row_total, 6) AS p_transition
FROM pairs p JOIN totals t USING (from_type)
ORDER BY from_type, to_type
"""


# --- distribution-drift monitor ---------------------------------------------

DRIFT_BUCKETS = 8
DRIFT_BUCKET_WIDTH = 64.0  # value-domain buckets [0,64),[64,128)...,[448,inf)
DRIFT_FLAG_BP = 500  # flag drift when TV distance exceeds 5%


def drift_tv(events: DataFrame) -> DataFrame:
    """Two-sample drift statistic per event_type between the first
    (day <= 15) and second half of the month: total-variation distance
    between the two value-histograms, in basis points —

        tv_bp = 10000 * (1/2) * SUM_i | c1[i]/n1 - c2[i]/n2 |

    computed as the EXACT integer 10000 * SUM_i |c1[i]*n2 - c2[i]*n1|
    // (2*n1*n2), so the monitor is order- and engine-independent (no
    float accumulation anywhere — the property a paging alert must
    have; the chi-square variant would be per-bucket rationals and is
    not cross-engine floor-stable). Also reports the bucket with the
    largest absolute frequency shift (min-bucket tie-break) — the
    "where did it move" a triage needs.

    Scale shape: ONE groupBy on (event_type, bucket) with conditional
    partial sums, then a per-type roll-up — histogram state is
    DRIFT_BUCKETS rows per key regardless of corpus size, the same
    fixed-state argument as the sketch family."""
    day = F.dayofmonth("ts")
    bucket = F.least(
        F.lit(DRIFT_BUCKETS - 1), F.floor(F.col("value") / DRIFT_BUCKET_WIDTH)
    ).cast("int")
    per_bucket = (
        events.select(
            "event_type",
            bucket.alias("bucket"),
            F.when(day <= 15, 1).otherwise(0).alias("h1"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.sum("h1").cast("long").alias("c1"),
            F.sum(1 - F.col("h1")).cast("long").alias("c2"),
        )
    )
    totals = per_bucket.groupBy("event_type").agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    return (
        per_bucket.join(totals, "event_type")
        .withColumn("num", F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")))
        .groupBy("event_type")
        .agg(
            F.max("n1").cast("long").alias("n_first"),
            F.max("n2").cast("long").alias("n_second"),
            F.expr("CAST(10000 * SUM(num) DIV (2 * MAX(n1) * MAX(n2)) AS BIGINT)").alias(
                "tv_bp"
            ),
            (-F.max(F.expr("struct(num, -bucket AS nb)")).getField("nb"))
            .cast("int")
            .alias("top_drift_bucket"),
        )
        .withColumn("drift_flag", F.col("tv_bp") > DRIFT_FLAG_BP)
        .orderBy("event_type")
    )


def events_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered drift monitor over the events table (stationary by
    construction, so tv_bp sits at sampling-noise level and no flag
    fires — the planted-drift pytest proves the statistic moves when
    the distribution actually shifts)."""
    return drift_tv(load_tables(spark, sf_dir)["events"])


EVENTS_DRIFT_SQL = f"""
WITH per_bucket AS (
  SELECT event_type,
         CAST(LEAST({DRIFT_BUCKETS - 1}, FLOOR(value / {DRIFT_BUCKET_WIDTH})) AS INT) AS bucket,
         SUM(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END) AS c2
  FROM events GROUP BY 1, 2),
tot AS (
  SELECT event_type, SUM(c1) AS n1, SUM(c2) AS n2 FROM per_bucket GROUP BY 1),
j AS (
  SELECT p.event_type, p.bucket, abs(p.c1 * t.n2 - p.c2 * t.n1) AS num, t.n1, t.n2
  FROM per_bucket p JOIN tot t USING (event_type))
SELECT event_type,
       CAST(MAX(n1) AS BIGINT) AS n_first,
       CAST(MAX(n2) AS BIGINT) AS n_second,
       CAST(10000 * SUM(num) // (2 * MAX(n1) * MAX(n2)) AS BIGINT) AS tv_bp,
       CAST(-MAX({{'num': num, 'nb': -bucket}}).nb AS INT) AS top_drift_bucket,
       CAST(10000 * SUM(num) // (2 * MAX(n1) * MAX(n2)) AS BIGINT) > {DRIFT_FLAG_BP}
         AS drift_flag
FROM j GROUP BY event_type
ORDER BY event_type
"""


# --- event-sequence motif matching (MATCH_RECOGNIZE-lite CEP) ---------------

# single-char alphabet for the per-user event string
_SEQ_CHARS = {"click": "c", "error": "e", "purchase": "p",
              "signup": "s", "view": "v"}
# motifs restricted to leftmost-greedy-safe regex (literals, classes,
# +/* quantifiers): Java (Spark) and RE2 (DuckDB) agree on the
# non-overlapping match set for this fragment — no backrefs, no
# lookaround, no lazy quantifiers, where the engines could diverge
SEQ_MOTIFS = {
    "browse_convert": "v[cv]*p",  # view, browsing noise, purchase
    "error_burst": "ee+",         # 2+ consecutive errors
    "signup_view": "sv",          # activation: signup then view
    "view_convert": "v+p",        # straight view(s)-to-purchase
}


def events_sequence_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite complex-event detection: each user's event
    history becomes an ordered single-char string (ts, event_id
    tie-break), and each motif counts its non-overlapping leftmost
    matches per user.  Output per motif: users matched, total
    occurrences, and the per-user max — the conversion/error-burst
    shape a behavioral pipeline alerts on.

    Scale shape: ONE groupBy(user) building the sequence (sorted struct
    fold, partial-aggregated), then stateless per-row regex counting —
    no second shuffle; the 4-motif fan-out is a union of per-row
    expressions over the same sequence table (localCheckpoint'd so the
    sort-fold runs once).  Per-user state is the sequence string, which
    a production topology bounds by sessionizing first
    (streaming/events.py sessionize_*); the operator composes with
    that gate unchanged — group on (user, session) instead."""
    t = load_tables(spark, sf_dir)
    ch = F.element_at(
        F.create_map(*[F.lit(x) for kv in _SEQ_CHARS.items() for x in kv]),
        F.col("event_type"),
    )
    seqs = (
        t["events"]
        .select("user_id", "ts", "event_id", ch.alias("ch"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "ch"))),
                    lambda s: s["ch"],
                ),
                "",
            ).alias("seq")
        )
        .localCheckpoint()
    )
    outs = []
    for motif, pat in sorted(SEQ_MOTIFS.items()):
        n = F.size(F.regexp_extract_all("seq", F.lit(pat), F.lit(0)))
        outs.append(
            seqs.select(n.alias("n"))
            .agg(
                F.sum((F.col("n") > 0).cast("int")).cast("long").alias("n_users"),
                F.sum("n").cast("long").alias("n_occurrences"),
                F.max("n").cast("long").alias("max_per_user"),
            )
            .select(F.lit(motif).alias("motif"), "*")
        )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df)
    return out.orderBy("motif")


def _seq_motifs_sql() -> str:
    ch_case = "CASE event_type " + " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in _SEQ_CHARS.items()
    ) + " END"
    vals = ", ".join(f"('{m}', '{p}')" for m, p in sorted(SEQ_MOTIFS.items()))
    return f"""
WITH seqs AS (
  SELECT user_id, string_agg({ch_case}, '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
), m(motif, pat) AS (VALUES {vals}),
cnt AS (
  SELECT m.motif, len(regexp_extract_all(s.seq, m.pat)) AS n
  FROM seqs s CROSS JOIN m
)
SELECT motif,
       CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users,
       CAST(SUM(n) AS BIGINT) AS n_occurrences,
       CAST(MAX(n) AS BIGINT) AS max_per_user
FROM cnt GROUP BY motif ORDER BY motif
"""


# --- CUSUM change-point detection --------------------------------------------

def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact CUSUM change-point estimate per event type over the
    daily count series — the other half of the monitoring pair with
    events_drift_tv (TV answers "did the mix shift between two halves";
    CUSUM answers "WHEN did the level shift").  Classic scaled trick:
    with daily counts x_t, total T over N days, S_t = Σ_{{i≤t}}
    (N·x_i − T) is N× the usual mean-centered cumulative sum — pure
    BIGINT, no division — and the change-point estimate is the day
    maximizing |S_t| (ties → earliest day).

    Output per type: n_days, total, the argmax day, max |S_t| (scaled
    by N), and the signed S at the argmax (direction of the shift).

    Scale shape: ONE partial-aggregated groupBy to the (type, day)
    domain, one cumulative window per type over that bounded domain,
    one final per-type argmax aggregation — the domain-compression
    pattern again; the event stream itself is never shuffled twice."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    tot = Window.partitionBy("event_type")
    cum = Window.partitionBy("event_type").orderBy("day") \
        .rowsBetween(Window.unboundedPreceding, 0)
    s = daily.select(
        "event_type", "day", "x",
        F.count(F.lit(1)).over(tot).alias("n_days"),
        F.sum("x").over(tot).alias("total"),
    ).select(
        "event_type", "day", "n_days", "total",
        F.sum(F.col("n_days") * F.col("x") - F.col("total")).over(cum).alias("s"),
    )
    best = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs("s")), F.asc("day")
    )
    return (
        s.withColumn("rn", F.row_number().over(best))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("total").cast("long").alias("total"),
            F.col("day").alias("change_day"),
            F.abs("s").cast("long").alias("max_abs_s"),
            F.col("s").cast("long").alias("s_at_change"),
        )
        .orderBy("event_type")
    )


EVENTS_CUSUM_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, day, x,
         COUNT(*) OVER (PARTITION BY event_type) AS n_days,
         SUM(x) OVER (PARTITION BY event_type) AS total
  FROM daily
), s AS (
  SELECT event_type, day, n_days, total,
         SUM(n_days * x - total)
           OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM stats
)
SELECT event_type,
       CAST(n_days AS BIGINT) AS n_days,
       CAST(total AS BIGINT) AS total,
       day AS change_day,
       CAST(ABS(s) AS BIGINT) AS max_abs_s,
       CAST(s AS BIGINT) AS s_at_change
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY ABS(s) DESC, day ASC) AS rn
  FROM s
) WHERE rn = 1
ORDER BY event_type
"""


# --- EWMA forecast in exact integer arithmetic -------------------------------
#
# alpha = 1/4 over the 30-day daily series: the recursion
# s_t = (3/4)s_(t-1) + (1/4)x_t, seeded s_0 = x_0, unrolls to
# s_T * 4^T = 3^T x_0 + sum_(i=1..T) 3^(T-i) 4^(i-1) x_i — every weight
# an exact integer, every x_i an exact BIGINT cent sum (values are
# cent-quantized), so the weighted sum is ORDER-FREE exact decimal
# arithmetic in any engine; only the final rescale divides doubles.
# The classic FP recursion would be partial-agg order-dependent — the
# exact unrolling is the same discipline as the CUSUM and median ops.

_EWMA_T = 29
_EWMA_WEIGHTS = [68630377364883, 22876792454961, 30502389939948, 40669853253264, 54226471004352, 72301961339136, 96402615118848, 128536820158464, 171382426877952, 228509902503936, 304679870005248, 406239826673664, 541653102231552, 722204136308736, 962938848411648, 1283918464548864, 1711891286065152, 2282521714753536, 3043362286338048, 4057816381784064, 5410421842378752, 7213895789838336, 9618527719784448, 12824703626379264, 17099604835172352, 22799473113563136, 30399297484750848, 40532396646334464, 54043195528445952, 72057594037927936]  # w_i = 3^(T-i)*4^(i-1), w_0 = 3^T


def events_ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: the exponentially-weighted moving average of the
    daily value series at the final day (the 1-step-ahead forecast for
    day T+1 under EWMA) computed EXACTLY by integer unrolling, next to
    the final day's actual and the absolute forecast error."""
    t = load_tables(spark, sf_dir)
    e = t["events"].select(
        "event_type",
        (F.dayofmonth("ts") - 1).alias("i"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = e.groupBy("event_type", "i").agg(
        F.sum("cents").cast("decimal(14,0)").alias("x")
    )
    warr = F.array(*[
        F.lit(str(x)).cast("decimal(24,0)") for x in _EWMA_WEIGHTS
    ])
    weighted = daily.withColumn(
        "wx",
        (F.element_at(warr, F.col("i").cast("int") + 1) * F.col("x"))
        .cast("decimal(38,0)"),
    )
    agg = weighted.groupBy("event_type").agg(
        F.sum("wx").cast("decimal(38,0)").alias("s_scaled"),
        F.max(F.when(F.col("i") == _EWMA_T, F.col("x"))).alias("last_cents"),
        F.countDistinct("i").cast("long").alias("n_days"),
    )
    scale = float(4 ** _EWMA_T) * 100.0
    return agg.select(
        "event_type", "n_days",
        F.round(F.col("last_cents").cast("double") / 100.0, 2)
        .alias("last_actual"),
        F.round(F.col("s_scaled").cast("double") / F.lit(scale), 2)
        .alias("ewma_forecast"),
        F.round(
            F.abs(
                F.col("last_cents").cast("double") / 100.0
                - F.col("s_scaled").cast("double") / F.lit(scale)
            ), 2
        ).alias("abs_error"),
    ).orderBy("event_type")


EVENTS_EWMA_SQL = f"""
WITH e AS (
  SELECT event_type, CAST(EXTRACT(DAY FROM ts) - 1 AS INT) AS i,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
), daily AS (
  SELECT event_type, i, CAST(SUM(cents) AS DECIMAL(14,0)) AS x
  FROM e GROUP BY 1, 2
), wt AS (
  SELECT UNNEST(range(0, 30)) AS i,
         UNNEST([68630377364883, 22876792454961, 30502389939948, 40669853253264, 54226471004352, 72301961339136, 96402615118848, 128536820158464, 171382426877952, 228509902503936, 304679870005248, 406239826673664, 541653102231552, 722204136308736, 962938848411648, 1283918464548864, 1711891286065152, 2282521714753536, 3043362286338048, 4057816381784064, 5410421842378752, 7213895789838336, 9618527719784448, 12824703626379264, 17099604835172352, 22799473113563136, 30399297484750848, 40532396646334464, 54043195528445952, 72057594037927936]) AS w
), agg AS (
  SELECT d.event_type,
         CAST(SUM(CAST(wt.w AS DECIMAL(24,0)) * d.x) AS DECIMAL(38,0)) AS s_scaled,
         MAX(CASE WHEN d.i = 29 THEN d.x END) AS last_cents,
         COUNT(DISTINCT d.i) AS n_days
  FROM daily d JOIN wt ON wt.i = d.i
  GROUP BY 1
)
SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       ROUND(CAST(last_cents AS DOUBLE) / 100.0, 2) AS last_actual,
       ROUND(CAST(s_scaled AS DOUBLE) / 2.8823037615171174e+19, 2)
         AS ewma_forecast,
       ROUND(ABS(CAST(last_cents AS DOUBLE) / 100.0
                 - CAST(s_scaled AS DOUBLE) / 2.8823037615171174e+19), 2)
         AS abs_error
FROM agg ORDER BY event_type
"""


# --- deterministic bootstrap confidence interval -----------------------------

BOOT_B = 50  # replicates


def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty quantification with a DETERMINISTIC half-sampling
    bootstrap: replicate b keeps event e iff md5(event_id, b) is even —
    a content-addressed coin flip, so every engine and every cluster
    size draws the identical {BOOT_B} replicates. Per event type:
    the full-sample mean purchase value, the bootstrap p05/p95 of the
    replicate means, and the CI width — replicate means accumulate in
    exact decimal cents, the percentile is a rank pick over the
    bounded replicate domain (never a data sort).

    Scale: the replicate dimension fans out map-side (one explode of a
    {BOOT_B}-element literal range) straight into a partial-aggregated
    (type, b) groupBy — the corpus shuffles replicate SUMS, not rows."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql import Window

    e = t["events"].where(F.col("event_type") == "purchase").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    reps = e.select(
        "event_type", "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
        "event_id",
    ).where(
        F.conv(F.substring(F.md5(F.concat_ws(":", "event_id", "b")), 1, 7),
               16, 10).cast("long") % 2 == 0
    )
    rep_means = reps.groupBy("event_type", "b").agg(
        (F.sum(F.col("cents").cast("decimal(18,0)"))
         / F.count(F.lit(1)) / 100).cast("double").alias("rep_mean")
    )
    w = Window.partitionBy("event_type").orderBy("rep_mean")
    ranked = rep_means.withColumn("rn", F.row_number().over(w))
    lo_rank = int(BOOT_B * 0.05)
    hi_rank = int(BOOT_B * 0.95)
    ci = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == lo_rank, F.col("rep_mean"))).alias("p05"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("rep_mean"))).alias("p95"),
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
    )
    full = e.groupBy("event_type").agg(
        (F.sum(F.col("cents").cast("decimal(18,0)"))
         / F.count(F.lit(1)) / 100).cast("double").alias("mean_value")
    )
    return (
        full.join(ci, "event_type")
        .select(
            "event_type",
            F.round("mean_value", 4).alias("mean_value"),
            F.round("p05", 4).alias("ci_p05"),
            F.round("p95", 4).alias("ci_p95"),
            F.round(F.col("p95") - F.col("p05"), 4).alias("ci_width"),
            "n_replicates",
        )
        .orderBy("event_type")
    )


EVENTS_BOOTSTRAP_SQL = f"""
WITH e AS (
  SELECT event_id, event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), reps AS (
  SELECT event_type, cents, b.b
  FROM e, (SELECT UNNEST(range(0, {BOOT_B})) AS b) b
  WHERE CAST(('0x' || substr(md5(event_id || ':' || b.b), 1, 7)) AS BIGINT) % 2 = 0
), rep_means AS (
  SELECT event_type, b,
         CAST(SUM(CAST(cents AS DECIMAL(18,0))) / COUNT(*) / 100 AS DOUBLE)
           AS rep_mean
  FROM reps GROUP BY 1, 2
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY rep_mean) AS rn
  FROM rep_means
), ci AS (
  SELECT event_type,
         MAX(CASE WHEN rn = {int(BOOT_B * 0.05)} THEN rep_mean END) AS p05,
         MAX(CASE WHEN rn = {int(BOOT_B * 0.95)} THEN rep_mean END) AS p95,
         COUNT(*) AS n_replicates
  FROM ranked GROUP BY 1
), fullsample AS (
  SELECT event_type,
         CAST(SUM(CAST(cents AS DECIMAL(18,0))) / COUNT(*) / 100 AS DOUBLE)
           AS mean_value
  FROM e GROUP BY 1
)
SELECT f.event_type,
       ROUND(f.mean_value, 4) AS mean_value,
       ROUND(c.p05, 4) AS ci_p05,
       ROUND(c.p95, 4) AS ci_p95,
       ROUND(c.p95 - c.p05, 4) AS ci_width,
       CAST(c.n_replicates AS BIGINT) AS n_replicates
FROM fullsample f JOIN ci c USING (event_type)
ORDER BY event_type
"""


# --- A/B experiment analysis -------------------------------------------------

def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation archetype: users split into arms by a
    content-addressed hash (md5(user_id) parity — the deterministic
    bucketing a real experimentation platform uses), purchase values
    compared with a Welch two-sample t statistic. All moments derive
    from EXACT integer sums (cent sums and squared-cent sums in
    BIGINT/decimal — order-free), so the only floating point is the
    final closed-form arithmetic on those exact totals: bit-identical
    cross-engine. One row: per-arm n/mean/variance, the t statistic,
    and the |t| >= 1.96 decision."""
    t = load_tables(spark, sf_dir)
    e = t["events"].where(F.col("event_type") == "purchase").select(
        (F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 7),
                16, 10).cast("long") % 2).alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    m = e.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("decimal(28,0)").alias("sx"),
        F.sum(F.col("cents") * F.col("cents")).cast("decimal(38,0)").alias("sxx"),
    ).select(
        "arm", "n",
        (F.col("sx").cast("double") / F.col("n") / 100).alias("mean"),
        (
            (F.col("sxx").cast("double")
             - F.col("sx").cast("double") * F.col("sx").cast("double")
             / F.col("n"))
            / (F.col("n") - 1) / 10000
        ).alias("var"),
    )
    a = m.where(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"))
    b = m.where(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"))
    return a.crossJoin(b).select(
        "n_a", F.round("mean_a", 4).alias("mean_a"),
        "n_b", F.round("mean_b", 4).alias("mean_b"),
        F.round(
            (F.col("mean_a") - F.col("mean_b"))
            / F.sqrt(F.col("var_a") / F.col("n_a")
                     + F.col("var_b") / F.col("n_b")), 4
        ).alias("t_stat"),
        (
            F.abs(
                (F.col("mean_a") - F.col("mean_b"))
                / F.sqrt(F.col("var_a") / F.col("n_a")
                         + F.col("var_b") / F.col("n_b"))
            ) >= 1.96
        ).alias("significant"),
    )


EVENTS_AB_SQL = """
WITH e AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 7)) AS BIGINT)
           % 2 AS arm,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), m AS (
  SELECT arm, COUNT(*) AS n,
         CAST(SUM(CAST(cents AS DECIMAL(28,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(cents AS DECIMAL(28,0)) * cents) AS DOUBLE) AS sxx
  FROM e GROUP BY 1
), stats AS (
  SELECT arm, n, sx / n / 100 AS mean,
         (sxx - sx * sx / n) / (n - 1) / 10000 AS var
  FROM m
)
SELECT a.n AS n_a, ROUND(a.mean, 4) AS mean_a,
       b.n AS n_b, ROUND(b.mean, 4) AS mean_b,
       ROUND((a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n), 4) AS t_stat,
       ABS((a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n)) >= 1.96
         AS significant
FROM (SELECT * FROM stats WHERE arm = 0) a,
     (SELECT * FROM stats WHERE arm = 1) b
"""


def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13) on the A/B
    split: per user, pre-period (days 1-15) and post-period (16-30)
    purchase totals; theta = cov(pre, post) / var(pre) from EXACT
    integer moments pooled across arms; adjusted metric
    y' = y - theta (x - x̄). One row per arm plus the variance-
    reduction summary: unadjusted vs adjusted between-arm delta and
    the variance ratio (adjusted/unadjusted — below 1 when the
    pre-period covariate explains post-period variance). Every sum is
    exact cents; the closed-form FP arithmetic on exact totals is
    bit-identical cross-engine."""
    t = load_tables(spark, sf_dir)
    per_user = (
        t["events"].where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            (F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 7),
                    16, 10).cast("long") % 2).alias("arm"),
            F.when(F.dayofmonth("ts") <= 15,
                   F.round(F.col("value") * 100).cast("long"))
             .otherwise(F.lit(0)).alias("pre_c"),
            F.when(F.dayofmonth("ts") > 15,
                   F.round(F.col("value") * 100).cast("long"))
             .otherwise(F.lit(0)).alias("post_c"),
        )
        .groupBy("user_id", "arm")
        .agg(F.sum("pre_c").alias("x"), F.sum("post_c").alias("y"))
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(28,0)").cast("double").alias("sx"),
        F.sum("y").cast("decimal(28,0)").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").cast("double").alias("sxx"),
    ).first()
    n, sx, sy, sxy, sxx = mom["n"], mom["sx"], mom["sy"], mom["sxy"], mom["sxx"]
    theta = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    xbar = sx / n
    adj = per_user.withColumn(
        "y_adj", F.col("y") - F.lit(theta) * (F.col("x") - F.lit(xbar))
    )
    arms = adj.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        (F.avg("y") / 100).alias("mean_post"),
        (F.avg("y_adj") / 100).alias("mean_adj"),
        F.var_samp(F.col("y") / 100).alias("var_post"),
        F.var_samp(F.col("y_adj") / 100).alias("var_adj"),
    )
    return arms.select(
        "arm", "n_users",
        F.round("mean_post", 4).alias("mean_post"),
        F.round("mean_adj", 4).alias("mean_adj"),
        F.round(F.col("var_adj") / F.col("var_post"), 4).alias("var_ratio"),
        (F.col("var_adj") < F.col("var_post")).alias("variance_reduced"),
        F.round(F.lit(theta), 6).alias("theta"),
    ).orderBy("arm")


EVENTS_CUPED_SQL = """
WITH per_user AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 7)) AS BIGINT)
           % 2 AS arm,
         SUM(CASE WHEN EXTRACT(DAY FROM ts) <= 15
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS x,
         SUM(CASE WHEN EXTRACT(DAY FROM ts) > 15
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS y
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
), mom AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(28,0)) * y) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(28,0)) * x) AS DOUBLE) AS sxx
  FROM per_user
), th AS (
  SELECT n, sx / n AS xbar,
         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta
  FROM mom
), adj AS (
  SELECT p.arm, p.y, p.y - t.theta * (p.x - t.xbar) AS y_adj, t.theta
  FROM per_user p, th t
)
SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(AVG(y) / 100, 4) AS mean_post,
       ROUND(AVG(y_adj) / 100, 4) AS mean_adj,
       ROUND(VAR_SAMP(y_adj / 100) / VAR_SAMP(y / 100), 4) AS var_ratio,
       VAR_SAMP(y_adj / 100) < VAR_SAMP(y / 100) AS variance_reduced,
       ROUND(ANY_VALUE(theta), 6) AS theta
FROM adj GROUP BY arm ORDER BY arm
"""


def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival analysis: Kaplan-Meier estimator of time-to-first-
    purchase over the 30-day window, right-censoring users who never
    purchase. Per day t: events d_t (first purchases), the at-risk set
    n_t = cohort minus earlier converters (censoring only at the
    window edge), and S(t) = prod_(i<=t) (1 - d_i/n_i) computed as an
    ORDERED LEFT FOLD over the bounded day domain — Spark's
    aggregate() and DuckDB's list_reduce() run the identical
    left-associated double product, so the estimator is bit-stable
    cross-engine with no exp/ln detour. Counts are exact; the fold is
    30 multiplications over a collected 30-element array, never a data
    sort."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    cohort = ev.select("user_id").distinct()
    n_total = cohort.count()
    first_p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.dayofmonth("ts")).alias("ev_day"))
    )
    days = (
        first_p.groupBy("ev_day")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .select(F.col("ev_day").alias("day"), "d")
    )
    all_days = spark.range(1, 31).select(F.col("id").cast("int").alias("day"))
    per_day = (
        all_days.join(days, "day", "left")
        .na.fill({"d": 0})
        .withColumn(
            "earlier",
            F.sum("d").over(
                Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .na.fill({"earlier": 0})
        .withColumn("n_risk", (F.lit(n_total) - F.col("earlier")).cast("long"))
        .withColumn(
            "f",
            # empty risk set => the product stops (factor 1, the KM
            # convention past the last at-risk day)
            F.when(F.col("n_risk") > 0,
                   F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"))
            .otherwise(F.lit(1.0)),
        )
    )
    arr = per_day.orderBy("day").agg(
        F.collect_list(F.struct("day", "f")).alias("pairs")
    ).select(
        F.transform(F.sort_array("pairs"), lambda p: p["f"]).alias("fs")
    )
    out = per_day.crossJoin(F.broadcast(arr)).select(
        "day", "d", "n_risk",
        F.round(
            F.aggregate(
                F.slice("fs", 1, F.col("day")),
                F.lit(1.0),
                lambda acc, x: acc * x,
            ), 6
        ).alias("survival"),
    )
    return out.where(F.col("d") > 0).orderBy("day")


EVENTS_KM_SQL = """
WITH cohort AS (SELECT COUNT(DISTINCT user_id) AS n FROM events),
first_p AS (
  SELECT user_id, MIN(EXTRACT(DAY FROM ts)) AS ev_day
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), days AS (
  SELECT CAST(ev_day AS INT) AS day, COUNT(*) AS d FROM first_p GROUP BY 1
), per_day AS (
  SELECT a.day, COALESCE(days.d, 0) AS d,
         (SELECT n FROM cohort)
           - COALESCE(SUM(COALESCE(days.d, 0)) OVER (
               ORDER BY a.day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS n_risk
  FROM (SELECT UNNEST(range(1, 31)) AS day) a
  LEFT JOIN days ON days.day = a.day
), withf AS (
  SELECT day, d, n_risk,
         CASE WHEN n_risk > 0 THEN 1.0 - CAST(d AS DOUBLE) / n_risk
              ELSE 1.0 END AS f
  FROM per_day
), arr AS (
  SELECT list(f ORDER BY day) AS fs FROM withf
)
SELECT w.day, CAST(w.d AS BIGINT) AS d, CAST(w.n_risk AS BIGINT) AS n_risk,
       ROUND(CASE WHEN w.day = 1 THEN fs[1]
                  ELSE list_reduce(fs[1:w.day], (a, b) -> a * b) END, 6)
         AS survival
FROM withf w, arr
WHERE w.d > 0
ORDER BY w.day
"""


def events_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: do the two hash-bucketed experiment arms differ
    in time-to-first-purchase? Per event day t and arm g: observed
    events d_gt and at-risk n_gt; expected under H0
    e_gt = d_t * n_gt / n_t; variance
    v_t = d_t (n_1t/n_t)(n_2t/n_t)(n_t - d_t)/(n_t - 1); the statistic
    Z^2 = (sum(d_1t - e_1t))^2 / sum(v_t) ~ chi2(1). Every count is an
    exact integer; expectations and variances are closed-form doubles
    on exact counts summed over the BOUNDED day domain (30 terms, one
    engine-identical order via the sorted-day fold) — deterministic
    cross-engine. One row: totals, the statistic, and the 3.841
    (p=0.05) decision."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    users = ev.select("user_id").distinct().withColumn(
        "arm",
        (F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 7),
                16, 10).cast("long") % 2),
    )
    n_by_arm = {r["arm"]: r["n"] for r in
                users.groupBy("arm").agg(F.count(F.lit(1)).alias("n")).collect()}
    first_p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(F.min(F.dayofmonth("ts")).alias("day"))
        .join(users, "user_id")
    )
    d_gt = first_p.groupBy("day", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("d"))
    days = spark.range(1, 31).select(F.col("id").cast("int").alias("day"))
    arms = local_df(spark, [(0,), (1,)], "arm long")
    grid = (
        days.crossJoin(arms)
        .join(d_gt, ["day", "arm"], "left").na.fill({"d": 0})
        .withColumn(
            "earlier",
            F.sum("d").over(
                Window.partitionBy("arm").orderBy("day")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .na.fill({"earlier": 0})
        .withColumn(
            "n_g",
            F.when(F.col("arm") == 0, F.lit(n_by_arm.get(0, 0)))
            .otherwise(F.lit(n_by_arm.get(1, 0))) - F.col("earlier"),
        )
    )
    per_day = grid.groupBy("day").agg(
        F.sum("d").alias("d_t"),
        F.sum("n_g").alias("n_t"),
        F.sum(F.when(F.col("arm") == 0, F.col("d"))).alias("d_1"),
        F.sum(F.when(F.col("arm") == 0, F.col("n_g"))).alias("n_1"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_g"))).alias("n_2"),
    ).where((F.col("d_t") > 0) & (F.col("n_t") > 1))
    terms = per_day.select(
        "day",
        (F.col("d_1") - F.col("d_t") * F.col("n_1") / F.col("n_t")).alias("oe"),
        (
            F.col("d_t") * (F.col("n_1") / F.col("n_t"))
            * (F.col("n_2") / F.col("n_t"))
            * (F.col("n_t") - F.col("d_t")) / (F.col("n_t") - 1)
        ).alias("v"),
    )
    # bounded-domain fold in one fixed order (day asc) on both engines
    folded = terms.orderBy("day").agg(
        F.collect_list(F.struct("day", "oe", "v")).alias("xs")
    ).select(
        F.aggregate(
            F.transform(F.sort_array("xs"), lambda x: x["oe"]),
            F.lit(0.0), lambda a, x: a + x,
        ).alias("sum_oe"),
        F.aggregate(
            F.transform(F.sort_array("xs"), lambda x: x["v"]),
            F.lit(0.0), lambda a, x: a + x,
        ).alias("sum_v"),
        F.size("xs").cast("long").alias("n_event_days"),
    )
    return folded.select(
        "n_event_days",
        F.round("sum_oe", 6).alias("observed_minus_expected"),
        F.round("sum_v", 6).alias("variance"),
        F.round(F.col("sum_oe") * F.col("sum_oe") / F.col("sum_v"), 6)
        .alias("chi2"),
        (F.col("sum_oe") * F.col("sum_oe") / F.col("sum_v") >= 3.841)
        .alias("significant"),
    )


EVENTS_LOGRANK_SQL = """
WITH users AS (
  SELECT DISTINCT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 7)) AS BIGINT)
           % 2 AS arm
  FROM events
), n_arm AS (
  SELECT arm, COUNT(*) AS n FROM users GROUP BY 1
), first_p AS (
  SELECT e.user_id, u.arm, MIN(EXTRACT(DAY FROM e.ts)) AS day
  FROM events e JOIN users u USING (user_id)
  WHERE e.event_type = 'purchase' GROUP BY 1, 2
), d_gt AS (
  SELECT CAST(day AS INT) AS day, arm, COUNT(*) AS d FROM first_p GROUP BY 1, 2
), grid AS (
  SELECT g.day, g.arm, COALESCE(d_gt.d, 0) AS d,
         (SELECT n FROM n_arm WHERE n_arm.arm = g.arm)
           - COALESCE(SUM(COALESCE(d_gt.d, 0)) OVER (
               PARTITION BY g.arm ORDER BY g.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_g
  FROM (SELECT d.day, a.arm
        FROM (SELECT UNNEST(range(1, 31)) AS day) d,
             (SELECT UNNEST([0, 1]) AS arm) a) g
  LEFT JOIN d_gt ON d_gt.day = g.day AND d_gt.arm = g.arm
), per_day AS (
  SELECT day, SUM(d) AS d_t, SUM(n_g) AS n_t,
         SUM(CASE WHEN arm = 0 THEN d END) AS d_1,
         SUM(CASE WHEN arm = 0 THEN n_g END) AS n_1,
         SUM(CASE WHEN arm = 1 THEN n_g END) AS n_2
  FROM grid GROUP BY 1
  HAVING SUM(d) > 0 AND SUM(n_g) > 1
), terms AS (
  SELECT day,
         d_1 - CAST(d_t AS DOUBLE) * n_1 / n_t AS oe,
         CAST(d_t AS DOUBLE) * (CAST(n_1 AS DOUBLE) / n_t)
           * (CAST(n_2 AS DOUBLE) / n_t)
           * (n_t - d_t) / (n_t - 1) AS v
  FROM per_day
), arrs AS (
  SELECT list(oe ORDER BY day) AS oes, list(v ORDER BY day) AS vs,
         COUNT(*) AS n_event_days
  FROM terms
)
SELECT CAST(n_event_days AS BIGINT) AS n_event_days,
       ROUND(list_reduce(oes, (a, b) -> a + b), 6) AS observed_minus_expected,
       ROUND(list_reduce(vs, (a, b) -> a + b), 6) AS variance,
       ROUND(list_reduce(oes, (a, b) -> a + b)
             * list_reduce(oes, (a, b) -> a + b)
             / list_reduce(vs, (a, b) -> a + b), 6) AS chi2,
       list_reduce(oes, (a, b) -> a + b)
         * list_reduce(oes, (a, b) -> a + b)
         / list_reduce(vs, (a, b) -> a + b) >= 3.841 AS significant
FROM arrs
"""


# --- rolling-origin forecast backtest ----------------------------------------
#
# EWMA backtesting: for each origin T in 19..28, forecast day T+1 from
# the prefix [0..T] with the same exact integer unrolling as
# events_ewma_forecast (weights now depend on the origin — a (T, i, w)
# table of exact integer literals generated at import time). MAE per
# type over the 10 one-step forecasts, every sum exact decimal.

_BACKTEST_ORIGINS = [19, 20, 21, 22, 23, 24, 25, 26, 27, 28]
_BACKTEST_WEIGHTS = [(19, 0, '1162261467'), (19, 1, '387420489'), (19, 2, '516560652'), (19, 3, '688747536'), (19, 4, '918330048'), (19, 5, '1224440064'), (19, 6, '1632586752'), (19, 7, '2176782336'), (19, 8, '2902376448'), (19, 9, '3869835264'), (19, 10, '5159780352'), (19, 11, '6879707136'), (19, 12, '9172942848'), (19, 13, '12230590464'), (19, 14, '16307453952'), (19, 15, '21743271936'), (19, 16, '28991029248'), (19, 17, '38654705664'), (19, 18, '51539607552'), (19, 19, '68719476736'), (20, 0, '3486784401'), (20, 1, '1162261467'), (20, 2, '1549681956'), (20, 3, '2066242608'), (20, 4, '2754990144'), (20, 5, '3673320192'), (20, 6, '4897760256'), (20, 7, '6530347008'), (20, 8, '8707129344'), (20, 9, '11609505792'), (20, 10, '15479341056'), (20, 11, '20639121408'), (20, 12, '27518828544'), (20, 13, '36691771392'), (20, 14, '48922361856'), (20, 15, '65229815808'), (20, 16, '86973087744'), (20, 17, '115964116992'), (20, 18, '154618822656'), (20, 19, '206158430208'), (20, 20, '274877906944'), (21, 0, '10460353203'), (21, 1, '3486784401'), (21, 2, '4649045868'), (21, 3, '6198727824'), (21, 4, '8264970432'), (21, 5, '11019960576'), (21, 6, '14693280768'), (21, 7, '19591041024'), (21, 8, '26121388032'), (21, 9, '34828517376'), (21, 10, '46438023168'), (21, 11, '61917364224'), (21, 12, '82556485632'), (21, 13, '110075314176'), (21, 14, '146767085568'), (21, 15, '195689447424'), (21, 16, '260919263232'), (21, 17, '347892350976'), (21, 18, '463856467968'), (21, 19, '618475290624'), (21, 20, '824633720832'), (21, 21, '1099511627776'), (22, 0, '31381059609'), (22, 1, '10460353203'), (22, 2, '13947137604'), (22, 3, '18596183472'), (22, 4, '24794911296'), (22, 5, '33059881728'), (22, 6, '44079842304'), (22, 7, '58773123072'), (22, 8, '78364164096'), (22, 9, '104485552128'), (22, 10, '139314069504'), (22, 11, '185752092672'), (22, 12, '247669456896'), (22, 13, '330225942528'), (22, 14, '440301256704'), (22, 15, '587068342272'), (22, 16, '782757789696'), (22, 17, '1043677052928'), (22, 18, '1391569403904'), (22, 19, '1855425871872'), (22, 20, '2473901162496'), (22, 21, '3298534883328'), (22, 22, '4398046511104'), (23, 0, '94143178827'), (23, 1, '31381059609'), (23, 2, '41841412812'), (23, 3, '55788550416'), (23, 4, '74384733888'), (23, 5, '99179645184'), (23, 6, '132239526912'), (23, 7, '176319369216'), (23, 8, '235092492288'), (23, 9, '313456656384'), (23, 10, '417942208512'), (23, 11, '557256278016'), (23, 12, '743008370688'), (23, 13, '990677827584'), (23, 14, '1320903770112'), (23, 15, '1761205026816'), (23, 16, '2348273369088'), (23, 17, '3131031158784'), (23, 18, '4174708211712'), (23, 19, '5566277615616'), (23, 20, '7421703487488'), (23, 21, '9895604649984'), (23, 22, '13194139533312'), (23, 23, '17592186044416'), (24, 0, '282429536481'), (24, 1, '94143178827'), (24, 2, '125524238436'), (24, 3, '167365651248'), (24, 4, '223154201664'), (24, 5, '297538935552'), (24, 6, '396718580736'), (24, 7, '528958107648'), (24, 8, '705277476864'), (24, 9, '940369969152'), (24, 10, '1253826625536'), (24, 11, '1671768834048'), (24, 12, '2229025112064'), (24, 13, '2972033482752'), (24, 14, '3962711310336'), (24, 15, '5283615080448'), (24, 16, '7044820107264'), (24, 17, '9393093476352'), (24, 18, '12524124635136'), (24, 19, '16698832846848'), (24, 20, '22265110462464'), (24, 21, '29686813949952'), (24, 22, '39582418599936'), (24, 23, '52776558133248'), (24, 24, '70368744177664'), (25, 0, '847288609443'), (25, 1, '282429536481'), (25, 2, '376572715308'), (25, 3, '502096953744'), (25, 4, '669462604992'), (25, 5, '892616806656'), (25, 6, '1190155742208'), (25, 7, '1586874322944'), (25, 8, '2115832430592'), (25, 9, '2821109907456'), (25, 10, '3761479876608'), (25, 11, '5015306502144'), (25, 12, '6687075336192'), (25, 13, '8916100448256'), (25, 14, '11888133931008'), (25, 15, '15850845241344'), (25, 16, '21134460321792'), (25, 17, '28179280429056'), (25, 18, '37572373905408'), (25, 19, '50096498540544'), (25, 20, '66795331387392'), (25, 21, '89060441849856'), (25, 22, '118747255799808'), (25, 23, '158329674399744'), (25, 24, '211106232532992'), (25, 25, '281474976710656'), (26, 0, '2541865828329'), (26, 1, '847288609443'), (26, 2, '1129718145924'), (26, 3, '1506290861232'), (26, 4, '2008387814976'), (26, 5, '2677850419968'), (26, 6, '3570467226624'), (26, 7, '4760622968832'), (26, 8, '6347497291776'), (26, 9, '8463329722368'), (26, 10, '11284439629824'), (26, 11, '15045919506432'), (26, 12, '20061226008576'), (26, 13, '26748301344768'), (26, 14, '35664401793024'), (26, 15, '47552535724032'), (26, 16, '63403380965376'), (26, 17, '84537841287168'), (26, 18, '112717121716224'), (26, 19, '150289495621632'), (26, 20, '200385994162176'), (26, 21, '267181325549568'), (26, 22, '356241767399424'), (26, 23, '474989023199232'), (26, 24, '633318697598976'), (26, 25, '844424930131968'), (26, 26, '1125899906842624'), (27, 0, '7625597484987'), (27, 1, '2541865828329'), (27, 2, '3389154437772'), (27, 3, '4518872583696'), (27, 4, '6025163444928'), (27, 5, '8033551259904'), (27, 6, '10711401679872'), (27, 7, '14281868906496'), (27, 8, '19042491875328'), (27, 9, '25389989167104'), (27, 10, '33853318889472'), (27, 11, '45137758519296'), (27, 12, '60183678025728'), (27, 13, '80244904034304'), (27, 14, '106993205379072'), (27, 15, '142657607172096'), (27, 16, '190210142896128'), (27, 17, '253613523861504'), (27, 18, '338151365148672'), (27, 19, '450868486864896'), (27, 20, '601157982486528'), (27, 21, '801543976648704'), (27, 22, '1068725302198272'), (27, 23, '1424967069597696'), (27, 24, '1899956092796928'), (27, 25, '2533274790395904'), (27, 26, '3377699720527872'), (27, 27, '4503599627370496'), (28, 0, '22876792454961'), (28, 1, '7625597484987'), (28, 2, '10167463313316'), (28, 3, '13556617751088'), (28, 4, '18075490334784'), (28, 5, '24100653779712'), (28, 6, '32134205039616'), (28, 7, '42845606719488'), (28, 8, '57127475625984'), (28, 9, '76169967501312'), (28, 10, '101559956668416'), (28, 11, '135413275557888'), (28, 12, '180551034077184'), (28, 13, '240734712102912'), (28, 14, '320979616137216'), (28, 15, '427972821516288'), (28, 16, '570630428688384'), (28, 17, '760840571584512'), (28, 18, '1014454095446016'), (28, 19, '1352605460594688'), (28, 20, '1803473947459584'), (28, 21, '2404631929946112'), (28, 22, '3206175906594816'), (28, 23, '4274901208793088'), (28, 24, '5699868278390784'), (28, 25, '7599824371187712'), (28, 26, '10133099161583616'), (28, 27, '13510798882111488'), (28, 28, '18014398509481984')]
_BACKTEST_WEIGHTS_SQL = """(19, 0, CAST('1162261467' AS DECIMAL(24,0))),
  (19, 1, CAST('387420489' AS DECIMAL(24,0))),
  (19, 2, CAST('516560652' AS DECIMAL(24,0))),
  (19, 3, CAST('688747536' AS DECIMAL(24,0))),
  (19, 4, CAST('918330048' AS DECIMAL(24,0))),
  (19, 5, CAST('1224440064' AS DECIMAL(24,0))),
  (19, 6, CAST('1632586752' AS DECIMAL(24,0))),
  (19, 7, CAST('2176782336' AS DECIMAL(24,0))),
  (19, 8, CAST('2902376448' AS DECIMAL(24,0))),
  (19, 9, CAST('3869835264' AS DECIMAL(24,0))),
  (19, 10, CAST('5159780352' AS DECIMAL(24,0))),
  (19, 11, CAST('6879707136' AS DECIMAL(24,0))),
  (19, 12, CAST('9172942848' AS DECIMAL(24,0))),
  (19, 13, CAST('12230590464' AS DECIMAL(24,0))),
  (19, 14, CAST('16307453952' AS DECIMAL(24,0))),
  (19, 15, CAST('21743271936' AS DECIMAL(24,0))),
  (19, 16, CAST('28991029248' AS DECIMAL(24,0))),
  (19, 17, CAST('38654705664' AS DECIMAL(24,0))),
  (19, 18, CAST('51539607552' AS DECIMAL(24,0))),
  (19, 19, CAST('68719476736' AS DECIMAL(24,0))),
  (20, 0, CAST('3486784401' AS DECIMAL(24,0))),
  (20, 1, CAST('1162261467' AS DECIMAL(24,0))),
  (20, 2, CAST('1549681956' AS DECIMAL(24,0))),
  (20, 3, CAST('2066242608' AS DECIMAL(24,0))),
  (20, 4, CAST('2754990144' AS DECIMAL(24,0))),
  (20, 5, CAST('3673320192' AS DECIMAL(24,0))),
  (20, 6, CAST('4897760256' AS DECIMAL(24,0))),
  (20, 7, CAST('6530347008' AS DECIMAL(24,0))),
  (20, 8, CAST('8707129344' AS DECIMAL(24,0))),
  (20, 9, CAST('11609505792' AS DECIMAL(24,0))),
  (20, 10, CAST('15479341056' AS DECIMAL(24,0))),
  (20, 11, CAST('20639121408' AS DECIMAL(24,0))),
  (20, 12, CAST('27518828544' AS DECIMAL(24,0))),
  (20, 13, CAST('36691771392' AS DECIMAL(24,0))),
  (20, 14, CAST('48922361856' AS DECIMAL(24,0))),
  (20, 15, CAST('65229815808' AS DECIMAL(24,0))),
  (20, 16, CAST('86973087744' AS DECIMAL(24,0))),
  (20, 17, CAST('115964116992' AS DECIMAL(24,0))),
  (20, 18, CAST('154618822656' AS DECIMAL(24,0))),
  (20, 19, CAST('206158430208' AS DECIMAL(24,0))),
  (20, 20, CAST('274877906944' AS DECIMAL(24,0))),
  (21, 0, CAST('10460353203' AS DECIMAL(24,0))),
  (21, 1, CAST('3486784401' AS DECIMAL(24,0))),
  (21, 2, CAST('4649045868' AS DECIMAL(24,0))),
  (21, 3, CAST('6198727824' AS DECIMAL(24,0))),
  (21, 4, CAST('8264970432' AS DECIMAL(24,0))),
  (21, 5, CAST('11019960576' AS DECIMAL(24,0))),
  (21, 6, CAST('14693280768' AS DECIMAL(24,0))),
  (21, 7, CAST('19591041024' AS DECIMAL(24,0))),
  (21, 8, CAST('26121388032' AS DECIMAL(24,0))),
  (21, 9, CAST('34828517376' AS DECIMAL(24,0))),
  (21, 10, CAST('46438023168' AS DECIMAL(24,0))),
  (21, 11, CAST('61917364224' AS DECIMAL(24,0))),
  (21, 12, CAST('82556485632' AS DECIMAL(24,0))),
  (21, 13, CAST('110075314176' AS DECIMAL(24,0))),
  (21, 14, CAST('146767085568' AS DECIMAL(24,0))),
  (21, 15, CAST('195689447424' AS DECIMAL(24,0))),
  (21, 16, CAST('260919263232' AS DECIMAL(24,0))),
  (21, 17, CAST('347892350976' AS DECIMAL(24,0))),
  (21, 18, CAST('463856467968' AS DECIMAL(24,0))),
  (21, 19, CAST('618475290624' AS DECIMAL(24,0))),
  (21, 20, CAST('824633720832' AS DECIMAL(24,0))),
  (21, 21, CAST('1099511627776' AS DECIMAL(24,0))),
  (22, 0, CAST('31381059609' AS DECIMAL(24,0))),
  (22, 1, CAST('10460353203' AS DECIMAL(24,0))),
  (22, 2, CAST('13947137604' AS DECIMAL(24,0))),
  (22, 3, CAST('18596183472' AS DECIMAL(24,0))),
  (22, 4, CAST('24794911296' AS DECIMAL(24,0))),
  (22, 5, CAST('33059881728' AS DECIMAL(24,0))),
  (22, 6, CAST('44079842304' AS DECIMAL(24,0))),
  (22, 7, CAST('58773123072' AS DECIMAL(24,0))),
  (22, 8, CAST('78364164096' AS DECIMAL(24,0))),
  (22, 9, CAST('104485552128' AS DECIMAL(24,0))),
  (22, 10, CAST('139314069504' AS DECIMAL(24,0))),
  (22, 11, CAST('185752092672' AS DECIMAL(24,0))),
  (22, 12, CAST('247669456896' AS DECIMAL(24,0))),
  (22, 13, CAST('330225942528' AS DECIMAL(24,0))),
  (22, 14, CAST('440301256704' AS DECIMAL(24,0))),
  (22, 15, CAST('587068342272' AS DECIMAL(24,0))),
  (22, 16, CAST('782757789696' AS DECIMAL(24,0))),
  (22, 17, CAST('1043677052928' AS DECIMAL(24,0))),
  (22, 18, CAST('1391569403904' AS DECIMAL(24,0))),
  (22, 19, CAST('1855425871872' AS DECIMAL(24,0))),
  (22, 20, CAST('2473901162496' AS DECIMAL(24,0))),
  (22, 21, CAST('3298534883328' AS DECIMAL(24,0))),
  (22, 22, CAST('4398046511104' AS DECIMAL(24,0))),
  (23, 0, CAST('94143178827' AS DECIMAL(24,0))),
  (23, 1, CAST('31381059609' AS DECIMAL(24,0))),
  (23, 2, CAST('41841412812' AS DECIMAL(24,0))),
  (23, 3, CAST('55788550416' AS DECIMAL(24,0))),
  (23, 4, CAST('74384733888' AS DECIMAL(24,0))),
  (23, 5, CAST('99179645184' AS DECIMAL(24,0))),
  (23, 6, CAST('132239526912' AS DECIMAL(24,0))),
  (23, 7, CAST('176319369216' AS DECIMAL(24,0))),
  (23, 8, CAST('235092492288' AS DECIMAL(24,0))),
  (23, 9, CAST('313456656384' AS DECIMAL(24,0))),
  (23, 10, CAST('417942208512' AS DECIMAL(24,0))),
  (23, 11, CAST('557256278016' AS DECIMAL(24,0))),
  (23, 12, CAST('743008370688' AS DECIMAL(24,0))),
  (23, 13, CAST('990677827584' AS DECIMAL(24,0))),
  (23, 14, CAST('1320903770112' AS DECIMAL(24,0))),
  (23, 15, CAST('1761205026816' AS DECIMAL(24,0))),
  (23, 16, CAST('2348273369088' AS DECIMAL(24,0))),
  (23, 17, CAST('3131031158784' AS DECIMAL(24,0))),
  (23, 18, CAST('4174708211712' AS DECIMAL(24,0))),
  (23, 19, CAST('5566277615616' AS DECIMAL(24,0))),
  (23, 20, CAST('7421703487488' AS DECIMAL(24,0))),
  (23, 21, CAST('9895604649984' AS DECIMAL(24,0))),
  (23, 22, CAST('13194139533312' AS DECIMAL(24,0))),
  (23, 23, CAST('17592186044416' AS DECIMAL(24,0))),
  (24, 0, CAST('282429536481' AS DECIMAL(24,0))),
  (24, 1, CAST('94143178827' AS DECIMAL(24,0))),
  (24, 2, CAST('125524238436' AS DECIMAL(24,0))),
  (24, 3, CAST('167365651248' AS DECIMAL(24,0))),
  (24, 4, CAST('223154201664' AS DECIMAL(24,0))),
  (24, 5, CAST('297538935552' AS DECIMAL(24,0))),
  (24, 6, CAST('396718580736' AS DECIMAL(24,0))),
  (24, 7, CAST('528958107648' AS DECIMAL(24,0))),
  (24, 8, CAST('705277476864' AS DECIMAL(24,0))),
  (24, 9, CAST('940369969152' AS DECIMAL(24,0))),
  (24, 10, CAST('1253826625536' AS DECIMAL(24,0))),
  (24, 11, CAST('1671768834048' AS DECIMAL(24,0))),
  (24, 12, CAST('2229025112064' AS DECIMAL(24,0))),
  (24, 13, CAST('2972033482752' AS DECIMAL(24,0))),
  (24, 14, CAST('3962711310336' AS DECIMAL(24,0))),
  (24, 15, CAST('5283615080448' AS DECIMAL(24,0))),
  (24, 16, CAST('7044820107264' AS DECIMAL(24,0))),
  (24, 17, CAST('9393093476352' AS DECIMAL(24,0))),
  (24, 18, CAST('12524124635136' AS DECIMAL(24,0))),
  (24, 19, CAST('16698832846848' AS DECIMAL(24,0))),
  (24, 20, CAST('22265110462464' AS DECIMAL(24,0))),
  (24, 21, CAST('29686813949952' AS DECIMAL(24,0))),
  (24, 22, CAST('39582418599936' AS DECIMAL(24,0))),
  (24, 23, CAST('52776558133248' AS DECIMAL(24,0))),
  (24, 24, CAST('70368744177664' AS DECIMAL(24,0))),
  (25, 0, CAST('847288609443' AS DECIMAL(24,0))),
  (25, 1, CAST('282429536481' AS DECIMAL(24,0))),
  (25, 2, CAST('376572715308' AS DECIMAL(24,0))),
  (25, 3, CAST('502096953744' AS DECIMAL(24,0))),
  (25, 4, CAST('669462604992' AS DECIMAL(24,0))),
  (25, 5, CAST('892616806656' AS DECIMAL(24,0))),
  (25, 6, CAST('1190155742208' AS DECIMAL(24,0))),
  (25, 7, CAST('1586874322944' AS DECIMAL(24,0))),
  (25, 8, CAST('2115832430592' AS DECIMAL(24,0))),
  (25, 9, CAST('2821109907456' AS DECIMAL(24,0))),
  (25, 10, CAST('3761479876608' AS DECIMAL(24,0))),
  (25, 11, CAST('5015306502144' AS DECIMAL(24,0))),
  (25, 12, CAST('6687075336192' AS DECIMAL(24,0))),
  (25, 13, CAST('8916100448256' AS DECIMAL(24,0))),
  (25, 14, CAST('11888133931008' AS DECIMAL(24,0))),
  (25, 15, CAST('15850845241344' AS DECIMAL(24,0))),
  (25, 16, CAST('21134460321792' AS DECIMAL(24,0))),
  (25, 17, CAST('28179280429056' AS DECIMAL(24,0))),
  (25, 18, CAST('37572373905408' AS DECIMAL(24,0))),
  (25, 19, CAST('50096498540544' AS DECIMAL(24,0))),
  (25, 20, CAST('66795331387392' AS DECIMAL(24,0))),
  (25, 21, CAST('89060441849856' AS DECIMAL(24,0))),
  (25, 22, CAST('118747255799808' AS DECIMAL(24,0))),
  (25, 23, CAST('158329674399744' AS DECIMAL(24,0))),
  (25, 24, CAST('211106232532992' AS DECIMAL(24,0))),
  (25, 25, CAST('281474976710656' AS DECIMAL(24,0))),
  (26, 0, CAST('2541865828329' AS DECIMAL(24,0))),
  (26, 1, CAST('847288609443' AS DECIMAL(24,0))),
  (26, 2, CAST('1129718145924' AS DECIMAL(24,0))),
  (26, 3, CAST('1506290861232' AS DECIMAL(24,0))),
  (26, 4, CAST('2008387814976' AS DECIMAL(24,0))),
  (26, 5, CAST('2677850419968' AS DECIMAL(24,0))),
  (26, 6, CAST('3570467226624' AS DECIMAL(24,0))),
  (26, 7, CAST('4760622968832' AS DECIMAL(24,0))),
  (26, 8, CAST('6347497291776' AS DECIMAL(24,0))),
  (26, 9, CAST('8463329722368' AS DECIMAL(24,0))),
  (26, 10, CAST('11284439629824' AS DECIMAL(24,0))),
  (26, 11, CAST('15045919506432' AS DECIMAL(24,0))),
  (26, 12, CAST('20061226008576' AS DECIMAL(24,0))),
  (26, 13, CAST('26748301344768' AS DECIMAL(24,0))),
  (26, 14, CAST('35664401793024' AS DECIMAL(24,0))),
  (26, 15, CAST('47552535724032' AS DECIMAL(24,0))),
  (26, 16, CAST('63403380965376' AS DECIMAL(24,0))),
  (26, 17, CAST('84537841287168' AS DECIMAL(24,0))),
  (26, 18, CAST('112717121716224' AS DECIMAL(24,0))),
  (26, 19, CAST('150289495621632' AS DECIMAL(24,0))),
  (26, 20, CAST('200385994162176' AS DECIMAL(24,0))),
  (26, 21, CAST('267181325549568' AS DECIMAL(24,0))),
  (26, 22, CAST('356241767399424' AS DECIMAL(24,0))),
  (26, 23, CAST('474989023199232' AS DECIMAL(24,0))),
  (26, 24, CAST('633318697598976' AS DECIMAL(24,0))),
  (26, 25, CAST('844424930131968' AS DECIMAL(24,0))),
  (26, 26, CAST('1125899906842624' AS DECIMAL(24,0))),
  (27, 0, CAST('7625597484987' AS DECIMAL(24,0))),
  (27, 1, CAST('2541865828329' AS DECIMAL(24,0))),
  (27, 2, CAST('3389154437772' AS DECIMAL(24,0))),
  (27, 3, CAST('4518872583696' AS DECIMAL(24,0))),
  (27, 4, CAST('6025163444928' AS DECIMAL(24,0))),
  (27, 5, CAST('8033551259904' AS DECIMAL(24,0))),
  (27, 6, CAST('10711401679872' AS DECIMAL(24,0))),
  (27, 7, CAST('14281868906496' AS DECIMAL(24,0))),
  (27, 8, CAST('19042491875328' AS DECIMAL(24,0))),
  (27, 9, CAST('25389989167104' AS DECIMAL(24,0))),
  (27, 10, CAST('33853318889472' AS DECIMAL(24,0))),
  (27, 11, CAST('45137758519296' AS DECIMAL(24,0))),
  (27, 12, CAST('60183678025728' AS DECIMAL(24,0))),
  (27, 13, CAST('80244904034304' AS DECIMAL(24,0))),
  (27, 14, CAST('106993205379072' AS DECIMAL(24,0))),
  (27, 15, CAST('142657607172096' AS DECIMAL(24,0))),
  (27, 16, CAST('190210142896128' AS DECIMAL(24,0))),
  (27, 17, CAST('253613523861504' AS DECIMAL(24,0))),
  (27, 18, CAST('338151365148672' AS DECIMAL(24,0))),
  (27, 19, CAST('450868486864896' AS DECIMAL(24,0))),
  (27, 20, CAST('601157982486528' AS DECIMAL(24,0))),
  (27, 21, CAST('801543976648704' AS DECIMAL(24,0))),
  (27, 22, CAST('1068725302198272' AS DECIMAL(24,0))),
  (27, 23, CAST('1424967069597696' AS DECIMAL(24,0))),
  (27, 24, CAST('1899956092796928' AS DECIMAL(24,0))),
  (27, 25, CAST('2533274790395904' AS DECIMAL(24,0))),
  (27, 26, CAST('3377699720527872' AS DECIMAL(24,0))),
  (27, 27, CAST('4503599627370496' AS DECIMAL(24,0))),
  (28, 0, CAST('22876792454961' AS DECIMAL(24,0))),
  (28, 1, CAST('7625597484987' AS DECIMAL(24,0))),
  (28, 2, CAST('10167463313316' AS DECIMAL(24,0))),
  (28, 3, CAST('13556617751088' AS DECIMAL(24,0))),
  (28, 4, CAST('18075490334784' AS DECIMAL(24,0))),
  (28, 5, CAST('24100653779712' AS DECIMAL(24,0))),
  (28, 6, CAST('32134205039616' AS DECIMAL(24,0))),
  (28, 7, CAST('42845606719488' AS DECIMAL(24,0))),
  (28, 8, CAST('57127475625984' AS DECIMAL(24,0))),
  (28, 9, CAST('76169967501312' AS DECIMAL(24,0))),
  (28, 10, CAST('101559956668416' AS DECIMAL(24,0))),
  (28, 11, CAST('135413275557888' AS DECIMAL(24,0))),
  (28, 12, CAST('180551034077184' AS DECIMAL(24,0))),
  (28, 13, CAST('240734712102912' AS DECIMAL(24,0))),
  (28, 14, CAST('320979616137216' AS DECIMAL(24,0))),
  (28, 15, CAST('427972821516288' AS DECIMAL(24,0))),
  (28, 16, CAST('570630428688384' AS DECIMAL(24,0))),
  (28, 17, CAST('760840571584512' AS DECIMAL(24,0))),
  (28, 18, CAST('1014454095446016' AS DECIMAL(24,0))),
  (28, 19, CAST('1352605460594688' AS DECIMAL(24,0))),
  (28, 20, CAST('1803473947459584' AS DECIMAL(24,0))),
  (28, 21, CAST('2404631929946112' AS DECIMAL(24,0))),
  (28, 22, CAST('3206175906594816' AS DECIMAL(24,0))),
  (28, 23, CAST('4274901208793088' AS DECIMAL(24,0))),
  (28, 24, CAST('5699868278390784' AS DECIMAL(24,0))),
  (28, 25, CAST('7599824371187712' AS DECIMAL(24,0))),
  (28, 26, CAST('10133099161583616' AS DECIMAL(24,0))),
  (28, 27, CAST('13510798882111488' AS DECIMAL(24,0))),
  (28, 28, CAST('18014398509481984' AS DECIMAL(24,0)))"""


def events_ewma_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin evaluation of the EWMA forecaster: 10 one-step
    forecasts per event type (origins day 20..29 forecasting the next
    day), each computed by the exact integer unrolling; output per
    type: n_forecasts, MAE, bias (mean signed error), both as closed-
    form doubles over exact decimal cent totals."""
    t = load_tables(spark, sf_dir)
    e = t["events"].select(
        "event_type",
        (F.dayofmonth("ts") - 1).alias("i"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = e.groupBy("event_type", "i").agg(
        F.sum("cents").cast("decimal(14,0)").alias("x")
    )
    wdf = local_df(spark, _BACKTEST_WEIGHTS, "T int, i int, w string").withColumn(
        "w", F.col("w").cast("decimal(24,0)")
    )
    weighted = daily.join(F.broadcast(wdf), "i").withColumn(
        "wx", (F.col("w") * F.col("x")).cast("decimal(38,0)")
    )
    fc = weighted.groupBy("event_type", "T").agg(
        F.sum("wx").cast("decimal(38,0)").alias("s_scaled")
    ).withColumn(
        "forecast_cents",
        F.col("s_scaled").cast("double")
        / F.pow(F.lit(4.0), F.col("T").cast("double")),
    )
    actual = daily.select(
        "event_type", (F.col("i") - 1).cast("int").alias("T"),
        F.col("x").cast("double").alias("actual_cents"),
    )
    joined = fc.join(actual, ["event_type", "T"]).where(
        F.col("T").isin(_BACKTEST_ORIGINS)
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_forecasts"),
            F.round(
                F.avg(F.abs(F.col("actual_cents") - F.col("forecast_cents")))
                / 100, 2
            ).alias("mae"),
            F.round(
                F.avg(F.col("actual_cents") - F.col("forecast_cents")) / 100, 2
            ).alias("bias"),
        )
        .orderBy("event_type")
    )


EVENTS_EWMA_BACKTEST_SQL = f"""
WITH e AS (
  SELECT event_type, CAST(EXTRACT(DAY FROM ts) - 1 AS INT) AS i,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
), daily AS (
  SELECT event_type, i, CAST(SUM(cents) AS DECIMAL(14,0)) AS x
  FROM e GROUP BY 1, 2
), wt(T, i, w) AS (
  SELECT * FROM (VALUES
  {_BACKTEST_WEIGHTS_SQL}
  ) v(T, i, w)
), fc AS (
  SELECT d.event_type, wt.T,
         CAST(SUM(wt.w * d.x) AS DECIMAL(38,0)) AS s_scaled
  FROM daily d JOIN wt ON wt.i = d.i
  GROUP BY 1, 2
), fval AS (
  SELECT event_type, T,
         CAST(s_scaled AS DOUBLE) / POWER(4.0, T) AS forecast_cents
  FROM fc
), joined AS (
  SELECT f.event_type, f.T, f.forecast_cents,
         CAST(d.x AS DOUBLE) AS actual_cents
  FROM fval f JOIN daily d
    ON d.event_type = f.event_type AND d.i = f.T + 1
  WHERE f.T BETWEEN 19 AND 28
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_forecasts,
       ROUND(AVG(ABS(actual_cents - forecast_cents)) / 100, 2) AS mae,
       ROUND(AVG(actual_cents - forecast_cents) / 100, 2) AS bias
FROM joined GROUP BY 1 ORDER BY event_type
"""


def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (the classic CRM cut): per purchasing user,
    Recency = last purchase day, Frequency = purchase count, Monetary
    = cent total — each scored into quartiles with NTILE over a TOTAL
    order (metric, then user_id — the tie-break makes bucketing
    deterministic and engine-identical). Output per (r, f, m) segment:
    users and decimal-exact monetary sum, the highest-value segments
    first.

    Scale note: the global NTILE single-partitions the per-user
    DIMENSION table (already reduced from the event stream by the
    groupBy) — at 100 TB the quartile boundaries come from the exact
    rank-selection histogram (events_exact_median's shape) and the
    scores from a broadcast range lookup instead."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    per_user = (
        t["events"].where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.dayofmonth("ts")).alias("recency_day"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("monetary_c"),
        )
    )
    scored = (
        per_user
        .withColumn("r", F.ntile(4).over(
            Window.orderBy(F.desc("recency_day"), F.asc("user_id"))))
        .withColumn("f", F.ntile(4).over(
            Window.orderBy(F.desc("frequency"), F.asc("user_id"))))
        .withColumn("m", F.ntile(4).over(
            Window.orderBy(F.desc("monetary_c"), F.asc("user_id"))))
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            (F.sum(F.col("monetary_c").cast("decimal(28,0)"))
             .cast("double") / 100).alias("monetary_total"),
        )
        .select(
            "r", "f", "m", "n_users",
            F.round("monetary_total", 2).alias("monetary_total"),
        )
        .orderBy("r", "f", "m")
    )


EVENTS_RFM_SQL = """
WITH per_user AS (
  SELECT user_id,
         MAX(EXTRACT(DAY FROM ts)) AS recency_day,
         COUNT(*) AS frequency,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS monetary_c
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), scored AS (
  SELECT *,
         NTILE(4) OVER (ORDER BY recency_day DESC, user_id ASC) AS r,
         NTILE(4) OVER (ORDER BY frequency DESC, user_id ASC) AS f,
         NTILE(4) OVER (ORDER BY monetary_c DESC, user_id ASC) AS m
  FROM per_user
)
SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(CAST(monetary_c AS DECIMAL(28,0))) AS DOUBLE) / 100, 2)
         AS monetary_total
FROM scored GROUP BY 1, 2, 3 ORDER BY r, f, m
"""


def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, days from first view to
    first purchase (converters only); EXACT p50/p90 via the domain-
    histogram rank selection (events_exact_median's shape — one
    bounded groupBy on the 0..29 delta domain, a cumulative window
    over ≤30 rows, never a data sort), plus converter counts and the
    same-day-conversion share, all exact integers."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    firsts = ev.where(F.col("event_type").isin("view", "purchase")).groupBy(
        "user_id"
    ).agg(
        F.min(F.when(F.col("event_type") == "view",
                     F.dayofmonth("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.dayofmonth("ts"))).alias("first_purchase"),
    ).where(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).withColumn("delta", F.col("first_purchase") - F.col("first_view"))
    hist = firsts.groupBy("delta").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.orderBy("delta").rowsBetween(Window.unboundedPreceding, 0)
    tot = firsts.count()
    ranked = hist.withColumn("cum", F.sum("c").over(w))
    p50 = ranked.where(F.col("cum") >= (tot + 1) // 2).agg(
        F.min("delta")).first()[0]
    p90 = ranked.where(F.col("cum") * 10 >= tot * 9).agg(
        F.min("delta")).first()[0]
    same_day = firsts.where(F.col("delta") == 0).count()
    return local_df(
        spark,
        [(int(tot), int(p50), int(p90), int(same_day))],
        "n_converters long, p50_days long, p90_days long, n_same_day long",
    ).withColumn(
        "same_day_share",
        F.round(F.col("n_same_day") / F.col("n_converters"), 6),
    )


EVENTS_CONV_LATENCY_SQL = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view'
                  THEN EXTRACT(DAY FROM ts) END) AS fv,
         MIN(CASE WHEN event_type = 'purchase'
                  THEN EXTRACT(DAY FROM ts) END) AS fp
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1
), conv AS (
  SELECT fp - fv AS delta FROM firsts
  WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv
), hist AS (
  SELECT delta, COUNT(*) AS c FROM conv GROUP BY 1
), ranked AS (
  SELECT delta, c,
         SUM(c) OVER (ORDER BY delta
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
), tot AS (SELECT COUNT(*) AS n FROM conv)
SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_converters,
       CAST((SELECT MIN(delta) FROM ranked
             WHERE cum >= ((SELECT n FROM tot) + 1) // 2) AS BIGINT)
         AS p50_days,
       CAST((SELECT MIN(delta) FROM ranked
             WHERE cum * 10 >= (SELECT n FROM tot) * 9) AS BIGINT) AS p90_days,
       CAST((SELECT COALESCE(SUM(c), 0) FROM hist WHERE delta = 0) AS BIGINT)
         AS n_same_day,
       ROUND(CAST((SELECT COALESCE(SUM(c), 0) FROM hist WHERE delta = 0)
                  AS DOUBLE) / (SELECT n FROM tot), 6) AS same_day_share
"""


# --- Holt linear-trend forecast (exact dyadic unrolling) ---------------------

def _holt_weights(T: int = 29):
    """Exact per-day weights of the Holt (alpha=beta=1/2) one-step
    forecast l_T + b_T, derived by unrolling the coupled recursions in
    rational arithmetic at import time; with dyadic smoothing constants
    every weight is an integer over a power-of-two denominator (2^56
    at T=29), so the weighted sum is exact decimal arithmetic and the
    weights provably sum to 1 (asserted)."""
    from fractions import Fraction
    from math import lcm

    level = {0: Fraction(1)}
    trend = {0: Fraction(-1), 1: Fraction(1)}  # b_0 = x_1 - x_0
    for t in range(1, T + 1):
        nl: dict = {}
        for i, c in level.items():
            nl[i] = nl.get(i, Fraction(0)) + c / 2
        for i, c in trend.items():
            nl[i] = nl.get(i, Fraction(0)) + c / 2
        nl[t] = nl.get(t, Fraction(0)) + Fraction(1, 2)
        nb: dict = {}
        for i, c in nl.items():
            nb[i] = nb.get(i, Fraction(0)) + c / 2
        for i, c in level.items():
            nb[i] = nb.get(i, Fraction(0)) - c / 2
        for i, c in trend.items():
            nb[i] = nb.get(i, Fraction(0)) + c / 2
        level, trend = nl, nb
    fc: dict = {}
    for i, c in level.items():
        fc[i] = fc.get(i, Fraction(0)) + c
    for i, c in trend.items():
        fc[i] = fc.get(i, Fraction(0)) + c
    den = lcm(*[c.denominator for c in fc.values()])
    ws = {i: int(c * den) for i, c in sorted(fc.items())}
    assert sum(ws.values()) == den  # forecast weights sum to exactly 1
    return den, ws


_HOLT_DEN, _HOLT_W = _holt_weights()


def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend-aware forecasting: Holt's linear method (level + trend,
    alpha=beta=1/2) one-step-ahead forecast of the daily value series
    per event type, computed EXACTLY: the coupled recursions unroll at
    import time to integer weights over 2^56 (weights sum to exactly
    1), the weighted sum runs in DECIMAL over exact cent totals, and
    only the final rescale divides doubles. Output per type: last
    actual, the EWMA forecast's sibling with trend, and the error —
    comparable side-by-side with events_ewma_forecast."""
    t = load_tables(spark, sf_dir)
    e = t["events"].select(
        "event_type",
        (F.dayofmonth("ts") - 1).alias("i"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = e.groupBy("event_type", "i").agg(
        F.sum("cents").cast("decimal(14,0)").alias("x")
    )
    wdf = local_df(spark, [(i, str(w)) for i, w in _HOLT_W.items()], "i int, w string").withColumn(
        "w", F.col("w").cast("decimal(24,0)")
    )
    agg = (
        daily.join(F.broadcast(wdf), "i")
        .withColumn("wx", (F.col("w") * F.col("x")).cast("decimal(38,0)"))
        .groupBy("event_type")
        .agg(
            F.sum("wx").cast("decimal(38,0)").alias("s_scaled"),
            F.max(F.when(F.col("i") == 29, F.col("x"))).alias("last_cents"),
        )
    )
    scale = float(_HOLT_DEN) * 100.0
    return agg.select(
        "event_type",
        F.round(F.col("last_cents").cast("double") / 100.0, 2)
        .alias("last_actual"),
        F.round(F.col("s_scaled").cast("double") / F.lit(scale), 2)
        .alias("holt_forecast"),
        F.round(
            F.abs(F.col("last_cents").cast("double") / 100.0
                  - F.col("s_scaled").cast("double") / F.lit(scale)), 2
        ).alias("abs_error"),
    ).orderBy("event_type")


def _holt_sql() -> str:
    rows = ",\n  ".join(
        f"({i}, CAST('{w}' AS DECIMAL(24,0)))" for i, w in _HOLT_W.items()
    )
    return f"""
WITH e AS (
  SELECT event_type, CAST(EXTRACT(DAY FROM ts) - 1 AS INT) AS i,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
), daily AS (
  SELECT event_type, i, CAST(SUM(cents) AS DECIMAL(14,0)) AS x
  FROM e GROUP BY 1, 2
), wt(i, w) AS (
  SELECT * FROM (VALUES
  {{rows}}
  ) v(i, w)
), agg AS (
  SELECT d.event_type,
         CAST(SUM(wt.w * d.x) AS DECIMAL(38,0)) AS s_scaled,
         MAX(CASE WHEN d.i = 29 THEN d.x END) AS last_cents
  FROM daily d JOIN wt ON wt.i = d.i
  GROUP BY 1
)
SELECT event_type,
       ROUND(CAST(last_cents AS DOUBLE) / 100.0, 2) AS last_actual,
       ROUND(CAST(s_scaled AS DOUBLE) / {{scale!r}}, 2) AS holt_forecast,
       ROUND(ABS(CAST(last_cents AS DOUBLE) / 100.0
                 - CAST(s_scaled AS DOUBLE) / {{scale!r}}), 2) AS abs_error
FROM agg ORDER BY event_type
""".replace("{rows}", rows).replace(
        "{scale!r}", repr(float(_HOLT_DEN) * 100.0)
    )


EVENTS_HOLT_SQL = _holt_sql()


# --- forecast model tournament -----------------------------------------------

def _ewma_weights_at(T: int) -> list[int]:
    return [3 ** T] + [3 ** (T - i) * 4 ** (i - 1) for i in range(1, T + 1)]


def events_forecast_tournament(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection the honest way: four forecasters — naive
    (carry last), expanding mean, EWMA(1/4), Holt(1/2,1/2) — compete
    on the same rolling-origin backtest (origins day 20..29, one-step
    ahead). Every forecast is exact arithmetic over cent totals
    (integer weight tables for the smoothers, exact rational mean),
    MAE per (type, model), and the per-type winner by (MAE, model
    name). The composition closes the forecasting story: baselines
    first, smoothers must beat them to win."""
    t = load_tables(spark, sf_dir)
    e = t["events"].select(
        "event_type",
        (F.dayofmonth("ts") - 1).alias("i"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = e.groupBy("event_type", "i").agg(
        F.sum("cents").cast("decimal(14,0)").alias("x")
    )
    origins = list(range(19, 29))

    # weight tables: (model, T, i, w_num, den) — exact integers
    rows = []
    for T in origins:
        ew = _ewma_weights_at(T)
        for i, w in enumerate(ew):
            rows.append(("ewma", T, i, str(w), str(4 ** T)))
        hden, hws = _holt_weights(T)
        for i, w in hws.items():
            rows.append(("holt", T, i, str(w), str(hden)))
        for i in range(T + 1):
            rows.append(("mean", T, i, "1", str(T + 1)))
        rows.append(("naive", T, T, "1", "1"))
    wdf = local_df(spark, rows, "model string, T int, i int, w string, den string").select(
        "model", "T", "i",
        F.col("w").cast("decimal(24,0)").alias("w"),
        F.col("den").cast("double").alias("den"),
    )
    fc = (
        daily.join(F.broadcast(wdf), "i")
        .withColumn("wx", (F.col("w") * F.col("x")).cast("decimal(38,0)"))
        .groupBy("event_type", "model", "T")
        .agg(
            (F.sum("wx").cast("double") / F.max("den")).alias("forecast_cents")
        )
    )
    actual = daily.select(
        "event_type", (F.col("i") - 1).cast("int").alias("T"),
        F.col("x").cast("double").alias("actual_cents"),
    )
    scored = fc.join(actual, ["event_type", "T"])
    mae = scored.groupBy("event_type", "model").agg(
        F.round(
            F.avg(F.abs(F.col("actual_cents") - F.col("forecast_cents"))) / 100,
            2,
        ).alias("mae")
    )
    from pyspark.sql import Window

    w_rank = Window.partitionBy("event_type").orderBy("mae", "model")
    return (
        mae.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .orderBy("event_type", "rank")
    )


def _tournament_sql() -> str:
    rows = []
    for T in range(19, 29):
        ew = _ewma_weights_at(T)
        for i, w in enumerate(ew):
            rows.append(f"('ewma', {T}, {i}, CAST('{w}' AS DECIMAL(24,0)), {float(4 ** T)!r})")
        hden, hws = _holt_weights(T)
        for i, w in hws.items():
            rows.append(f"('holt', {T}, {i}, CAST('{w}' AS DECIMAL(24,0)), {float(hden)!r})")
        for i in range(T + 1):
            rows.append(f"('mean', {T}, {i}, CAST('1' AS DECIMAL(24,0)), {float(T + 1)!r})")
        rows.append(f"('naive', {T}, {T}, CAST('1' AS DECIMAL(24,0)), 1.0)")
    values = ",\n  ".join(rows)
    return f"""
WITH e AS (
  SELECT event_type, CAST(EXTRACT(DAY FROM ts) - 1 AS INT) AS i,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
), daily AS (
  SELECT event_type, i, CAST(SUM(cents) AS DECIMAL(14,0)) AS x
  FROM e GROUP BY 1, 2
), wt(model, T, i, w, den) AS (
  SELECT * FROM (VALUES
  {values}
  ) v(model, T, i, w, den)
), fc AS (
  SELECT d.event_type, wt.model, wt.T,
         CAST(SUM(wt.w * d.x) AS DOUBLE) / MAX(wt.den) AS forecast_cents
  FROM daily d JOIN wt ON wt.i = d.i
  GROUP BY 1, 2, 3
), scored AS (
  SELECT f.event_type, f.model, f.T, f.forecast_cents,
         CAST(d.x AS DOUBLE) AS actual_cents
  FROM fc f JOIN daily d ON d.event_type = f.event_type AND d.i = f.T + 1
), mae AS (
  SELECT event_type, model,
         ROUND(AVG(ABS(actual_cents - forecast_cents)) / 100, 2) AS mae
  FROM scored GROUP BY 1, 2
)
SELECT event_type, model, mae,
       CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY mae, model) AS INT) AS rank
FROM mae ORDER BY event_type, rank
"""


EVENTS_TOURNAMENT_SQL = _tournament_sql()


def events_seasonality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is there day-of-week seasonality worth modeling? One-way ANOVA
    on daily purchase totals grouped by day-of-week: between/within
    sums of squares from EXACT integer moments (daily cent totals,
    squared in decimal), F = (SSB/(k-1)) / (SSW/(n-k)) as closed-form
    doubles over exact totals. F < the 5%% critical region => the
    stationarity the forecast tournament exposed (the expanding mean
    winning) is CONFIRMED rather than assumed. One row: group count,
    F statistic, and the decision against F_crit(6, 23) = 2.53."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"].where(F.col("event_type") == "purchase")
        .groupBy(F.dayofmonth("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
        .withColumn("dow", (F.col("day") % 7).cast("int"))
    )
    g = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("c").cast("decimal(28,0)").alias("s_g"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("decimal(28,0)").alias("s"),
        F.sum((F.col("c").cast("decimal(28,0)") * F.col("c")))
        .cast("decimal(38,0)").alias("ss"),
    ).first()
    n, stot, ss = tot["n"], float(tot["s"]), float(tot["ss"])
    groups = g.collect()
    k = len(groups)
    ssb = sum(float(r["s_g"]) ** 2 / r["n_g"] for r in sorted(
        groups, key=lambda r: r["dow"])) - stot ** 2 / n
    sst = ss - stot ** 2 / n
    ssw = sst - ssb
    f_stat = (ssb / (k - 1)) / (ssw / (n - k))
    return local_df(
        spark,
        [(int(n), int(k), round(f_stat, 6), bool(f_stat >= 2.53))],
        "n_days long, n_groups long, f_stat double, seasonal boolean",
    )


EVENTS_SEASONALITY_SQL = """
WITH daily AS (
  SELECT CAST(EXTRACT(DAY FROM ts) AS INT) AS day,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS c
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), dowd AS (
  SELECT day % 7 AS dow, c FROM daily
), g AS (
  SELECT dow, COUNT(*) AS n_g,
         CAST(SUM(CAST(c AS DECIMAL(28,0))) AS DOUBLE) AS s_g
  FROM dowd GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(c AS DECIMAL(28,0))) AS DOUBLE) AS s,
         CAST(SUM(CAST(c AS DECIMAL(28,0)) * c) AS DOUBLE) AS ss
  FROM dowd
), parts AS (
  SELECT (SELECT SUM(s_g * s_g / n_g) FROM g) - s * s / n AS ssb,
         ss - s * s / n AS sst, n,
         (SELECT COUNT(*) FROM g) AS k
  FROM tot
)
SELECT CAST(n AS BIGINT) AS n_days, CAST(k AS BIGINT) AS n_groups,
       ROUND((ssb / (k - 1)) / ((sst - ssb) / (n - k)), 6) AS f_stat,
       (ssb / (k - 1)) / ((sst - ssb) / (n - k)) >= 2.53 AS seasonal
FROM parts
"""


def events_metric_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-metric diagnostics: Pearson correlation of DAILY TOTALS
    between every ordered pair of event types, from exact integer
    moments — sums, squares, and cross-products of cent totals
    accumulate in decimal (order-free), r is closed-form doubles on
    those exact totals. The join is a self-join on the bounded
    (type, day) domain table (≤ 30·k rows), never the event stream."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", F.dayofmonth("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    )
    a = daily.select(
        F.col("event_type").alias("ta"), "day", F.col("c").alias("xa"))
    b = daily.select(
        F.col("event_type").alias("tb"), "day", F.col("c").alias("xb"))
    pairs = a.join(b, "day").where(F.col("ta") < F.col("tb"))
    mom = pairs.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("xa").cast("decimal(28,0)")).cast("double").alias("sa"),
        F.sum(F.col("xb").cast("decimal(28,0)")).cast("double").alias("sb"),
        F.sum((F.col("xa").cast("decimal(28,0)") * F.col("xa")))
        .cast("decimal(38,0)").cast("double").alias("saa"),
        F.sum((F.col("xb").cast("decimal(28,0)") * F.col("xb")))
        .cast("decimal(38,0)").cast("double").alias("sbb"),
        F.sum((F.col("xa").cast("decimal(28,0)") * F.col("xb")))
        .cast("decimal(38,0)").cast("double").alias("sab"),
    )
    r = (
        (F.col("sab") - F.col("sa") * F.col("sb") / F.col("n"))
        / F.sqrt(
            (F.col("saa") - F.col("sa") * F.col("sa") / F.col("n"))
            * (F.col("sbb") - F.col("sb") * F.col("sb") / F.col("n"))
        )
    )
    return mom.select(
        F.col("ta").alias("type_a"), F.col("tb").alias("type_b"),
        "n", F.round(r, 6).alias("pearson_r"),
    ).orderBy("type_a", "type_b")


EVENTS_CORRELATION_SQL = """
WITH daily AS (
  SELECT event_type, CAST(EXTRACT(DAY FROM ts) AS INT) AS day,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS c
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb, a.c AS xa, b.c AS xb
  FROM daily a JOIN daily b ON a.day = b.day AND a.event_type < b.event_type
), mom AS (
  SELECT ta, tb, COUNT(*) AS n,
         CAST(SUM(CAST(xa AS DECIMAL(28,0))) AS DOUBLE) AS sa,
         CAST(SUM(CAST(xb AS DECIMAL(28,0))) AS DOUBLE) AS sb,
         CAST(SUM(CAST(xa AS DECIMAL(28,0)) * xa) AS DOUBLE) AS saa,
         CAST(SUM(CAST(xb AS DECIMAL(28,0)) * xb) AS DOUBLE) AS sbb,
         CAST(SUM(CAST(xa AS DECIMAL(28,0)) * xb) AS DOUBLE) AS sab
  FROM pairs GROUP BY 1, 2
)
SELECT ta AS type_a, tb AS type_b, CAST(n AS BIGINT) AS n,
       ROUND((sab - sa * sb / n)
             / sqrt((saa - sa * sa / n) * (sbb - sb * sb / n)), 6)
         AS pearson_r
FROM mom ORDER BY type_a, type_b
"""


def events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend: the Theil-Sen slope of each type's daily value
    series — the exact median of all C(30,2)=435 pairwise slopes
    (dy/dx over exact cent totals; identical doubles cross-engine),
    picked by rank over the bounded pair domain with a total
    deterministic order (slope, day pair). Robust to the outlier days
    OLS would chase; slope ≈ 0 on the stationary series corroborates
    the seasonality audit and the tournament. Output per type: n
    pairs, the median slope in value units/day, and a trending
    boolean (|slope| above 1%% of the mean daily value)."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", (F.dayofmonth("ts") - 1).alias("i"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    )
    a = daily.select("event_type", F.col("i").alias("ia"), F.col("c").alias("ca"))
    b = daily.select("event_type", F.col("i").alias("ib"), F.col("c").alias("cb"))
    slopes = (
        a.join(b, "event_type")
        .where(F.col("ia") < F.col("ib"))
        .select(
            "event_type", "ia", "ib",
            ((F.col("cb") - F.col("ca")).cast("double")
             / (F.col("ib") - F.col("ia"))).alias("slope"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope", "ia", "ib")
    counted = slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"))
    ranked = slopes.withColumn("rn", F.row_number().over(w)).join(
        counted, "event_type"
    )
    med = ranked.where(F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2)).select(
        "event_type", "n_pairs", F.col("slope").alias("med_slope")
    )
    means = daily.groupBy("event_type").agg(
        (F.sum(F.col("c").cast("decimal(28,0)")).cast("double")
         / F.count(F.lit(1))).alias("mean_daily")
    )
    return (
        med.join(means, "event_type")
        .select(
            "event_type", "n_pairs",
            F.round(F.col("med_slope") / 100, 4).alias("slope_per_day"),
            (F.abs(F.col("med_slope")) >= 0.01 * F.abs(F.col("mean_daily")))
            .alias("trending"),
        )
        .orderBy("event_type")
    )


EVENTS_THEILSEN_SQL = """
WITH daily AS (
  SELECT event_type, CAST(EXTRACT(DAY FROM ts) - 1 AS INT) AS i,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS c
  FROM events GROUP BY 1, 2
), slopes AS (
  SELECT a.event_type, a.i AS ia, b.i AS ib,
         CAST(b.c - a.c AS DOUBLE) / (b.i - a.i) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.i < b.i
), counted AS (
  SELECT event_type, COUNT(*) AS n_pairs FROM slopes GROUP BY 1
), ranked AS (
  SELECT s.*, c.n_pairs,
         ROW_NUMBER() OVER (PARTITION BY s.event_type
                            ORDER BY s.slope, s.ia, s.ib) AS rn
  FROM slopes s JOIN counted c USING (event_type)
), med AS (
  SELECT event_type, n_pairs, slope AS med_slope
  FROM ranked WHERE rn = (n_pairs + 1) // 2
), means AS (
  SELECT event_type,
         CAST(SUM(CAST(c AS DECIMAL(28,0))) AS DOUBLE) / COUNT(*)
           AS mean_daily
  FROM daily GROUP BY 1
)
SELECT m.event_type, CAST(m.n_pairs AS BIGINT) AS n_pairs,
       ROUND(m.med_slope / 100, 4) AS slope_per_day,
       ABS(m.med_slope) >= 0.01 * ABS(mn.mean_daily) AS trending
FROM med m JOIN means mn USING (event_type)
ORDER BY m.event_type
"""


EVENTOPS_QUERIES: dict[str, tuple] = {
    "events_theilsen_trend": (events_theilsen_trend, EVENTS_THEILSEN_SQL),
    "events_metric_correlation": (events_metric_correlation, EVENTS_CORRELATION_SQL),
    "events_seasonality_audit": (events_seasonality_audit, EVENTS_SEASONALITY_SQL),
    "events_forecast_tournament": (events_forecast_tournament, EVENTS_TOURNAMENT_SQL),
    "events_holt_forecast": (events_holt_forecast, EVENTS_HOLT_SQL),
    "events_conversion_latency": (events_conversion_latency, EVENTS_CONV_LATENCY_SQL),
    "events_rfm_segments": (events_rfm_segments, EVENTS_RFM_SQL),
    "events_ewma_backtest": (events_ewma_backtest, EVENTS_EWMA_BACKTEST_SQL),
    "events_logrank_test": (events_logrank_test, EVENTS_LOGRANK_SQL),
    "events_kaplan_meier": (events_kaplan_meier, EVENTS_KM_SQL),
    "events_cuped_adjustment": (events_cuped_adjustment, EVENTS_CUPED_SQL),
    "events_ab_test": (events_ab_test, EVENTS_AB_SQL),
    "events_bootstrap_ci": (events_bootstrap_ci, EVENTS_BOOTSTRAP_SQL),
    "events_ewma_forecast": (events_ewma_forecast, EVENTS_EWMA_SQL),
    "events_cusum_changepoint": (events_cusum_changepoint, EVENTS_CUSUM_SQL),
    "events_sequence_motifs": (events_sequence_motifs, _seq_motifs_sql()),
    "events_drift_tv": (events_drift_tv, EVENTS_DRIFT_SQL),
    "events_type_transitions": (events_type_transitions, EVENTS_TRANSITIONS_SQL),
    "events_props_variant": (events_props_variant, EVENTS_PROPS_VARIANT_SQL),
    "events_purchase_anomalies": (events_purchase_anomalies, EVENTS_ANOMALY_SQL),
    "events_funnel": (events_funnel, EVENTS_FUNNEL_SQL),
    "events_retention_cohorts": (events_retention_cohorts, EVENTS_RETENTION_SQL),
    "events_props_json": (events_props_json, EVENTS_PROPS_JSON_SQL),
}
