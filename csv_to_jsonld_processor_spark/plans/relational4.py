"""Fourth relational wave — the final three TPC-H shapes, completing
all 22 query archetypes (reference parity: beyond the reference's fixed
CSV pipeline, §2.7 added-operator-classes axis).

The synthetic schema has no ``partsupp`` table and no
shipmode/commitdate columns, so — as in the earlier waves — each query
keeps the stock query's OPTIMIZER shape and adapts the relations:

- q2: correlated-minimum join (min-cost supplier per part in a region);
  the part-supplier cost relation is derived from lineitem as
  MIN(unit price) per (part, supplier) — MIN of IEEE divisions is
  order-insensitive and exact, so the hash-compare discipline holds
  without decimal accumulation.
- q11: group-then-filter against a scalar aggregate subquery
  (nation-held part values above a fraction of the national total).
- q12: two-relation join with CASE-sum severity split (late shipments
  by ship year × priority class).

Decimal-in/double-out discipline for every SUM as in plans/relational.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_tables, local_df

DEC = "decimal(18,4)"

Q2_REGION = "EUROPE"
Q2_SIZE_MOD = 3  # p_size % 3 = 0 plays the stock query's size/type filter
Q11_NATION = "NATION_7"  # synthetic nation domain is NATION_0..24
Q11_FRACTION = 0.001
Q12_LATE_DAYS = 90


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style: for each qualifying part, the region's suppliers
    whose derived supply cost equals the part's REGIONAL MINIMUM — the
    correlated-scalar-min shape (subquery per part in stock SQL;
    expressed as a min-aggregate self-join here, which is the
    shuffle-friendly plan Catalyst would rewrite the subquery into
    anyway). Supply cost := MIN(l_extendedprice / l_quantity) over the
    (part, supplier) lineitem history.

    Scale: lineitem aggregates partial-agg on (part, supp); the
    region-supplier dimension broadcasts; the per-part min re-join keys
    on p_partkey. Top-100 by acctbal fuses to TakeOrderedAndProject."""
    t = load_tables(spark, sf_dir)
    region_sup = (
        t["supplier"]
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            t["region"].where(F.col("r_name") == Q2_REGION),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        t["lineitem"]
        .join(F.broadcast(region_sup.select("s_suppkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey"))
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supply_cost"))
    )
    min_cost = cost.groupBy("partkey").agg(F.min("supply_cost").alias("min_cost"))
    parts = t["part"].where(F.col("p_size") % Q2_SIZE_MOD == 0).select(
        "p_partkey", "p_name"
    )
    return (
        cost.join(min_cost, "partkey")
        .where(F.col("supply_cost") == F.col("min_cost"))
        .join(parts, F.col("partkey") == F.col("p_partkey"))
        .join(region_sup, F.col("suppkey") == F.col("s_suppkey"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("supply_cost", 6).alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey"))
        .limit(100)
    )


Q2_SQL = f"""
WITH region_sup AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{Q2_REGION}'
), cost AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         MIN(l_extendedprice / l_quantity) AS supply_cost
  FROM lineitem JOIN region_sup ON l_suppkey = s_suppkey
  GROUP BY 1, 2
), min_cost AS (
  SELECT partkey, MIN(supply_cost) AS mc FROM cost GROUP BY 1
)
SELECT ROUND(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey, p_name,
       ROUND(supply_cost, 6) AS supply_cost
FROM cost
JOIN min_cost USING (partkey)
JOIN part ON partkey = p_partkey
JOIN region_sup ON suppkey = s_suppkey
WHERE supply_cost = mc AND p_size % {Q2_SIZE_MOD} = 0
ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
LIMIT 100
"""


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style: parts whose value held by one nation's suppliers
    exceeds a fixed fraction of that nation's total — group-by filtered
    against a SCALAR AGGREGATE SUBQUERY. Part value := SUM of
    extendedprice over the nation's lineitems for that part (decimal
    accumulation, double out).

    Scale: one (partkey) shuffle for the per-part sums; the national
    total is the same relation re-aggregated (Spark computes it as a
    broadcast-able single row); nation+supplier dims broadcast."""
    t = load_tables(spark, sf_dir)
    nat_sup = (
        t["supplier"]
        .join(
            t["nation"].where(F.col("n_name") == Q11_NATION),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    held = (
        t["lineitem"]
        .join(F.broadcast(nat_sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(F.col("l_extendedprice").cast(DEC)).alias("_value"))
    )
    total = held.agg(F.sum("_value").alias("_total"))
    return (
        held.crossJoin(F.broadcast(total))  # scalar subquery: single-row build side
        .where(F.col("_value") > F.col("_total") * F.lit(Q11_FRACTION))
        .select("p_partkey", F.col("_value").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), F.asc("p_partkey"))
    )


Q11_SQL = f"""
WITH held AS (
  SELECT l_partkey AS p_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS value_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = '{Q11_NATION}'
  GROUP BY 1
)
SELECT p_partkey, CAST(value_dec AS DOUBLE) AS part_value
FROM held
WHERE value_dec > (SELECT SUM(value_dec) FROM held) * {Q11_FRACTION}
ORDER BY part_value DESC, p_partkey ASC
"""


def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style: late shipments (shipped > {Q12_LATE_DAYS} days
    after the order date — the commitdate/receiptdate lag adapted to
    the columns that exist) bucketed by ship year, split into
    high/low-priority CASE-sums — the two-way severity pivot of the
    stock query with ship year standing in for shipmode.

    Scale: orders ⋈ lineitem shuffles on orderkey (bucket-join
    co-location applies when both sides are bucketed); the aggregation
    is |years|-sized."""
    t = load_tables(spark, sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    late = t["lineitem"].join(
        t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
    ).where(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > Q12_LATE_DAYS)
    return (
        late.groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("ship_year")
    )


Q12_SQL = f"""
SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE date_diff('day', o_orderdate, l_shipdate) > {Q12_LATE_DAYS}
GROUP BY 1 ORDER BY ship_year
"""


PIVOT_TYPES = ["view", "click", "purchase", "signup", "error"]


def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational PIVOT: daily event counts spread into one column per
    event type (``groupBy().pivot(values=...)`` — the explicit value
    list keeps the plan single-pass; omitting it costs Spark an extra
    distinct scan to discover the columns). Counts are exact ints; the
    DuckDB oracle uses the equivalent conditional aggregation."""
    t = load_tables(spark, sf_dir)
    out = (
        t["events"]
        .groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    cols = [F.coalesce(F.col(c), F.lit(0)).cast("long").alias(f"n_{c}") for c in PIVOT_TYPES]
    return out.select("day", *cols).orderBy("day")


EVENTS_PIVOT_SQL = (
    "SELECT CAST(ts AS DATE) AS day, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{c}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{c}"
        for c in PIVOT_TYPES
    )
    + " FROM events GROUP BY 1 ORDER BY day"
)


SET_OPS_SPLIT_YEAR = 1998  # first half < split, second half >= split


def customer_segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT as first-class operators: customers who bought
    in BOTH halves of the order history (intersect) vs only the first
    half (except), reported as one labeled union. Spark compiles these
    to aggregate/anti-join plans — the point is the declarative set
    semantics, incl. their implicit DISTINCT."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].withColumn(
        "_half", (F.year("o_orderdate") >= SET_OPS_SPLIT_YEAR).cast("int")
    )
    first = orders.where(F.col("_half") == 0).select("o_custkey")
    second = orders.where(F.col("_half") == 1).select("o_custkey")
    both = first.intersect(second).withColumn("segment", F.lit("both_halves"))
    # subtract == EXCEPT (distinct semantics); exceptAll would keep
    # per-order multiplicity and leak both-halves customers whose
    # first-half order count exceeds their second-half occurrences
    only_first = first.subtract(second).withColumn("segment", F.lit("first_half_only"))
    return (
        both.unionByName(only_first)
        .select("segment", F.col("o_custkey").alias("custkey"))
        .orderBy("segment", "custkey")
    )


SET_OPS_SQL = f"""
WITH first AS (
  SELECT o_custkey FROM orders WHERE year(o_orderdate) < {SET_OPS_SPLIT_YEAR}
), second AS (
  SELECT o_custkey FROM orders WHERE year(o_orderdate) >= {SET_OPS_SPLIT_YEAR}
)
SELECT 'both_halves' AS segment, o_custkey AS custkey
FROM (SELECT o_custkey FROM first INTERSECT SELECT o_custkey FROM second)
UNION ALL
SELECT 'first_half_only', o_custkey
FROM (SELECT DISTINCT o_custkey FROM first EXCEPT SELECT DISTINCT o_custkey FROM second)
ORDER BY segment, custkey
"""


def events_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (``stack``): the wide daily pivot folded back to long
    form — wide→long is its own named operator (melt/unpivot) and the
    round-trip pins that pivot+unpivot compose to the plain group-by.
    Zero-count cells are dropped on unpivot (the sparse long form)."""
    wide = events_type_pivot(spark, sf_dir)
    stack_args = ", ".join(f"'{c}', n_{c}" for c in PIVOT_TYPES)
    return (
        wide.selectExpr(
            "day", f"stack({len(PIVOT_TYPES)}, {stack_args}) AS (event_type, n)"
        )
        .where(F.col("n") > 0)
        .select("day", "event_type", F.col("n").cast("long").alias("n"))
        .orderBy("day", "event_type")
    )


EVENTS_UNPIVOT_SQL = """
SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
FROM events GROUP BY 1, 2 ORDER BY day, event_type
"""


ROLL_WINDOW_SEC = 7 * 24 * 3600


def events_rolling_7d_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling aggregate: per purchase event, the user's
    trailing-7-day purchase value — the moving-window operator class
    (RANGE BETWEEN, not ROWS: gaps in event times matter). Spark's
    rangeBetween needs a numeric ordering key, so both engines order by
    epoch seconds with the same literal bound; the sum is decimal-
    accumulated per the FP discipline. Bounded to user_id < 50 to keep
    the driver compare event-sized, not corpus-sized."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    ev = (
        t["events"]
        .where((F.col("event_type") == "purchase") & (F.col("user_id") < 50))
        .select("event_id", "user_id", "ts", "value")
        .withColumn("_sec", F.unix_timestamp("ts"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("_sec")
        .rangeBetween(-ROLL_WINDOW_SEC, 0)
    )
    return (
        ev.withColumn(
            "rolling_7d",
            F.sum(F.col("value").cast(DEC)).over(w).cast("double"),
        )
        .select("event_id", "user_id", "rolling_7d")
        .orderBy("event_id")
    )


ROLLING_7D_SQL = f"""
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
         PARTITION BY user_id ORDER BY epoch(ts)
         RANGE BETWEEN {ROLL_WINDOW_SEC} PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS rolling_7d
FROM events
WHERE event_type = 'purchase' AND user_id < 50
ORDER BY event_id
"""


def parts_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on (minimize
    p_retailprice, maximize p_size) — dominated means another part is
    better-or-equal in both dimensions and strictly better in one.
    Ties on BOTH dimensions are mutually non-dominating, so all tied
    rows stay.

    Lowering (Börzsönyi et al.'s sort-filter skyline as pure relational
    algebra): ONE partial-aggregated groupBy collapses the data to the
    (price → max size, and the max-size tie count) domain table, a
    strict-predecessor running max over that domain marks the frontier
    prices, and one equi-join pulls the surviving rows back out.  The
    global window sorts the aggregated DOMAIN (|distinct prices|, not
    |rows|) — at 100 TB the window input is already bounded by the
    attribute domain, which is the entire scalability trick."""
    from pyspark.sql import Window

    parts = load_tables(spark, sf_dir)["part"].select(
        "p_partkey", "p_retailprice", "p_size"
    )
    dom = parts.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    w = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = (
        dom.withColumn("pmax", F.max("gmax").over(w))
        .where(F.col("pmax").isNull() | (F.col("gmax") > F.col("pmax")))
        .select("p_retailprice", "gmax")
    )
    return (
        parts.join(frontier, "p_retailprice")
        .where(F.col("p_size") == F.col("gmax"))
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


SKYLINE_SQL = """
WITH dom AS (
  SELECT p_retailprice, MAX(p_size) AS gmax
  FROM part GROUP BY p_retailprice
), frontier AS (
  SELECT p_retailprice, gmax,
         MAX(gmax) OVER (ORDER BY p_retailprice
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pmax
  FROM dom
)
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p JOIN frontier f ON p.p_retailprice = f.p_retailprice
WHERE p.p_size = f.gmax AND (f.pmax IS NULL OR f.gmax > f.pmax)
ORDER BY p.p_retailprice, p.p_partkey
"""


# --- market-basket association rules -----------------------------------------

BASKET_MINSUP = 2  # absolute pair support floor (co-occurrence dilutes as parts grow with SF: max pair support is 5 at sf0.001 and 3 at sf0.1)
BASKET_TOP = 25


def orders_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: for every part pair
    co-purchased in ≥ {BASKET_MINSUP} orders, both directed rules'
    support, confidence = supp(a,b)/supp(a), and lift =
    conf / (supp(b)/N) — the top {BASKET_TOP} by (lift, pair) with all
    ratios as divisions of exact longs (cross-engine exact).

    Scale shape: the pair generation is an orderkey self-join with
    a < b — fan-out bounded by C(basket,2) and TPC-H baskets are ≤ 7
    lines, so the join output is a small constant multiple of
    lineitem; one partial-aggregated groupBy counts pairs, item
    supports broadcast back. A retail corpus with mega-baskets would
    cap basket size first (the same contributor-degree cap discipline
    as the co-purchase projection in kg/graphalgs.py)."""
    t = load_tables(spark, sf_dir)
    items = t["lineitem"].select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).dropDuplicates().localCheckpoint(eager=False)
    # order count computed IN-PLAN (single-row broadcast) — the driver
    # count() action re-ran the lineitem scan + dedup before the main
    # plan ran it again; the lazy checkpoint above also makes the
    # basket relation compute once for supp + both pair sides
    n_orders_row = F.broadcast(
        items.agg(F.countDistinct("o").cast("double").alias("_n_orders"))
    )
    supp = items.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("supp"))
    a = items.select("o", F.col("p").alias("pa"))
    b = items.select("o", F.col("p").alias("pb"))
    pairs = (
        a.join(b, "o")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("supp_ab"))
        .where(F.col("supp_ab") >= BASKET_MINSUP)
    )
    directed = pairs.unionByName(
        pairs.select(
            F.col("pb").alias("pa"), F.col("pa").alias("pb"), "supp_ab"
        )
    )
    rules = (
        directed.join(
            F.broadcast(supp.select(F.col("p").alias("pa"),
                                    F.col("supp").alias("supp_a"))), "pa")
        .join(
            F.broadcast(supp.select(F.col("p").alias("pb"),
                                    F.col("supp").alias("supp_b"))), "pb")
        .crossJoin(n_orders_row)
        .select(
            F.col("pa").alias("antecedent"),
            F.col("pb").alias("consequent"),
            "supp_ab", "supp_a", "supp_b",
            F.round(F.col("supp_ab") / F.col("supp_a"), 6).alias("confidence"),
            F.round(
                (F.col("supp_ab") / F.col("supp_a"))
                / (F.col("supp_b") / F.col("_n_orders")), 6
            ).alias("lift"),
        )
    )
    from pyspark.sql.window import Window

    w_rank = F.row_number().over(
        Window.orderBy(F.desc("lift"), F.asc("antecedent"), F.asc("consequent"))
    )
    return (
        rules.withColumn("rank", w_rank.cast("int"))
        .where(F.col("rank") <= BASKET_TOP)
        .orderBy("rank")
    )


ORDERS_ASSOC_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM items),
supp AS (SELECT p, COUNT(*) AS supp FROM items GROUP BY p),
pairs AS (
  SELECT a.p AS pa, b.p AS pb, COUNT(*) AS supp_ab
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= {BASKET_MINSUP}
), directed AS (
  SELECT pa, pb, supp_ab FROM pairs
  UNION ALL SELECT pb, pa, supp_ab FROM pairs
), rules AS (
  SELECT d.pa AS antecedent, d.pb AS consequent,
         CAST(d.supp_ab AS BIGINT) AS supp_ab,
         CAST(sa.supp AS BIGINT) AS supp_a,
         CAST(sb.supp AS BIGINT) AS supp_b,
         ROUND(CAST(d.supp_ab AS DOUBLE) / sa.supp, 6) AS confidence,
         ROUND((CAST(d.supp_ab AS DOUBLE) / sa.supp)
               / (CAST(sb.supp AS DOUBLE) / (SELECT CAST(n_orders AS DOUBLE) FROM n)), 6) AS lift
  FROM directed d
  JOIN supp sa ON sa.p = d.pa
  JOIN supp sb ON sb.p = d.pb
)
SELECT antecedent, consequent, supp_ab, supp_a, supp_b, confidence, lift, rank
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    ORDER BY lift DESC, antecedent ASC, consequent ASC) AS INT) AS rank
  FROM rules
) WHERE rank <= {BASKET_TOP}
ORDER BY rank
"""


# --- declarative data-quality expectations -----------------------------------

def orders_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-framework archetype (the Great-Expectations /
    dbt-test pattern re-expressed as ONE pass per table): a fixed
    suite of declarative checks over orders/lineitem — uniqueness,
    referential integrity, null rates, range conformance, cross-field
    consistency — each emitting (expectation, n_checked, n_failed,
    pass). Scale shape: per-table checks fold into a single
    partial-aggregated scan of that table; the FK check is one
    broadcast anti-join; nothing quadratic, nothing collected."""
    t = load_tables(spark, sf_dir)
    o, l, c = t["orders"], t["lineitem"], t["customer"]

    o_agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_keys"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_cust"),
        F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("long"))
        .alias("bad_status"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("bad_price"),
    ).first()
    l_agg = l.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_quantity") <= 0).cast("long")).alias("bad_qty"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1))
            .cast("long")
        ).alias("bad_disc"),
        F.sum(
            (~F.col("l_shipdate").between("1995-01-01", "2001-12-31"))
            .cast("long")
        ).alias("bad_dates"),
    ).first()
    orphan_orders = (
        o.join(F.broadcast(c.select("c_custkey")),
               o["o_custkey"] == c["c_custkey"], "left_anti").count()
    )
    orphan_lines = (
        l.join(o.select("o_orderkey"),
               l["l_orderkey"] == o["o_orderkey"], "left_anti").count()
    )

    rows = [
        ("orders.o_orderkey unique", int(o_agg["n"]), int(o_agg["dup_keys"])),
        ("orders.o_custkey not null", int(o_agg["n"]), int(o_agg["null_cust"])),
        ("orders.o_orderstatus in (O,F,P)", int(o_agg["n"]), int(o_agg["bad_status"])),
        ("orders.o_totalprice > 0", int(o_agg["n"]), int(o_agg["bad_price"])),
        ("orders.o_custkey fk customer", int(o_agg["n"]), int(orphan_orders)),
        ("lineitem.l_quantity > 0", int(l_agg["n"]), int(l_agg["bad_qty"])),
        ("lineitem.l_discount in [0,0.1]", int(l_agg["n"]), int(l_agg["bad_disc"])),
        ("lineitem.l_shipdate in 1995..2001", int(l_agg["n"]), int(l_agg["bad_dates"])),
        ("lineitem.l_orderkey fk orders", int(l_agg["n"]), int(orphan_lines)),
    ]
    return local_df(
        spark,
        [(e, n, f, f == 0) for e, n, f in rows],
        "expectation string, n_checked long, n_failed long, passed boolean",
    ).orderBy("expectation")


ORDERS_DQ_SQL = """
WITH o_agg AS (
  SELECT COUNT(*) AS n,
         COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_keys,
         SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
         SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
           AS bad_status,
         SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS bad_price
  FROM orders
), l_agg AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS bad_qty,
         SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)
           AS bad_disc,
         SUM(CASE WHEN l_shipdate NOT BETWEEN DATE '1995-01-01'
                                         AND DATE '2001-12-31'
                  THEN 1 ELSE 0 END) AS bad_dates
  FROM lineitem
), orphans_o AS (
  SELECT COUNT(*) AS k FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
), orphans_l AS (
  SELECT COUNT(*) AS k FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
), rows_out AS (
  SELECT 'orders.o_orderkey unique' AS expectation, n AS n_checked,
         dup_keys AS n_failed FROM o_agg
  UNION ALL SELECT 'orders.o_custkey not null', n, null_cust FROM o_agg
  UNION ALL SELECT 'orders.o_orderstatus in (O,F,P)', n, bad_status FROM o_agg
  UNION ALL SELECT 'orders.o_totalprice > 0', n, bad_price FROM o_agg
  UNION ALL SELECT 'orders.o_custkey fk customer', (SELECT n FROM o_agg),
                   k FROM orphans_o
  UNION ALL SELECT 'lineitem.l_quantity > 0', n, bad_qty FROM l_agg
  UNION ALL SELECT 'lineitem.l_discount in [0,0.1]', n, bad_disc FROM l_agg
  UNION ALL SELECT 'lineitem.l_shipdate in 1995..2001', n, bad_dates FROM l_agg
  UNION ALL SELECT 'lineitem.l_orderkey fk orders', (SELECT n FROM l_agg),
                   k FROM orphans_l
)
SELECT expectation, CAST(n_checked AS BIGINT) AS n_checked,
       CAST(n_failed AS BIGINT) AS n_failed, n_failed = 0 AS passed
FROM rows_out ORDER BY expectation
"""


def parts_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory analysis: parts ranked by exact decimal
    revenue (extendedprice cents), classed by cumulative revenue share
    — A to 80%, B to 95%, C the tail — with a deterministic total
    order (revenue desc, partkey). Output per class: parts, revenue,
    revenue share, part share — the 80/20 shape quantified. The
    cumulative window runs over the part DIMENSION (post-aggregation),
    not the lineitem stream."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("decimal(28,0)").alias("rev_c")
        )
    )
    tot = rev.agg(F.sum("rev_c").cast("decimal(28,0)").alias("t")).first()["t"]
    w = Window.orderBy(F.desc("rev_c"), F.asc("l_partkey"))
    classed = (
        rev.withColumn("cum", F.sum("rev_c").over(w).cast("decimal(28,0)"))
        .withColumn(
            "abc",
            F.when(F.col("cum").cast("double") <= 0.80 * float(tot), "A")
            .when(F.col("cum").cast("double") <= 0.95 * float(tot), "B")
            .otherwise("C"),
        )
    )
    n_parts = rev.count()
    return (
        classed.groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            (F.sum("rev_c").cast("double") / 100).alias("revenue"),
        )
        .select(
            "abc", "n_parts",
            F.round("revenue", 2).alias("revenue"),
            F.round(F.col("revenue") / (float(tot) / 100), 6)
            .alias("revenue_share"),
            F.round(F.col("n_parts") / F.lit(float(n_parts)), 6)
            .alias("part_share"),
        )
        .orderBy("abc")
    )


PARTS_ABC_SQL = """
WITH rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
              AS DECIMAL(28,0)) AS rev_c
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT CAST(SUM(rev_c) AS DECIMAL(28,0)) AS t, COUNT(*) AS n FROM rev
), classed AS (
  SELECT r.l_partkey, r.rev_c,
         CASE WHEN CAST(SUM(r.rev_c) OVER (
                     ORDER BY r.rev_c DESC, r.l_partkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) <= 0.80 * CAST((SELECT t FROM tot) AS DOUBLE)
              THEN 'A'
              WHEN CAST(SUM(r.rev_c) OVER (
                     ORDER BY r.rev_c DESC, r.l_partkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) <= 0.95 * CAST((SELECT t FROM tot) AS DOUBLE)
              THEN 'B' ELSE 'C' END AS abc
  FROM rev r
)
SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
       ROUND(CAST(SUM(rev_c) AS DOUBLE) / 100, 2) AS revenue,
       ROUND(CAST(SUM(rev_c) AS DOUBLE)
             / CAST((SELECT t FROM tot) AS DOUBLE), 6) AS revenue_share,
       ROUND(COUNT(*) / CAST((SELECT n FROM tot) AS DOUBLE), 6) AS part_share
FROM classed GROUP BY 1 ORDER BY abc
"""


def parts_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration as a single number: the Gini coefficient
    of per-part revenue via the rank formula
    G = 2 Σ i·x_(i) / (n Σ x) − (n+1)/n over the ascending-sorted
    revenues (total order: revenue, partkey). Σ i·x_i accumulates as
    exact decimal (rank × cents), so G is closed-form doubles on exact
    integers. Companions: the top-1%% and top-10%% revenue shares from
    the same ranking — the Lorenz points the ABC classes coarsen."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("decimal(28,0)").alias("rev_c")
        )
    )
    w = Window.orderBy(F.asc("rev_c"), F.asc("l_partkey"))
    ranked = rev.withColumn("i", F.row_number().over(w).cast("long"))
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rev_c").cast("decimal(28,0)").alias("s"),
        F.sum((F.col("i") * F.col("rev_c")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("si"),
    ).first()
    n, stot, si = agg["n"], float(agg["s"]), float(agg["si"])
    gini = 2.0 * si / (n * stot) - (n + 1.0) / n
    thr10 = n - n // 10
    thr1 = n - n // 100
    shares = ranked.agg(
        (F.sum(F.when(F.col("i") > thr10, F.col("rev_c"))
               .otherwise(F.lit(0)).cast("decimal(28,0)")).cast("double")
         / float(stot)).alias("top10"),
        (F.sum(F.when(F.col("i") > thr1, F.col("rev_c"))
               .otherwise(F.lit(0)).cast("decimal(28,0)")).cast("double")
         / float(stot)).alias("top1"),
    ).first()
    return local_df(
        spark,
        [(int(n), round(gini, 6),
          round(float(shares["top10"]), 6), round(float(shares["top1"]), 6))],
        "n_parts long, gini double, top10_share double, top1_share double",
    )


PARTS_GINI_SQL = """
WITH rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
              AS DECIMAL(28,0)) AS rev_c
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT rev_c,
         ROW_NUMBER() OVER (ORDER BY rev_c ASC, l_partkey ASC) AS i
  FROM rev
), tot AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(rev_c) AS DOUBLE) AS s,
         CAST(SUM(CAST(i AS DECIMAL(10,0)) * rev_c) AS DOUBLE) AS si
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_parts,
       ROUND(2.0 * si / (n * s) - (n + 1.0) / n, 6) AS gini,
       ROUND((SELECT CAST(SUM(rev_c) AS DOUBLE) FROM ranked
              WHERE i > (SELECT n - n // 10 FROM tot)) / s, 6) AS top10_share,
       ROUND((SELECT CAST(SUM(rev_c) AS DOUBLE) FROM ranked
              WHERE i > (SELECT n - n // 100 FROM tot)) / s, 6) AS top1_share
FROM tot
"""


RELATIONAL4_QUERIES: dict[str, tuple] = {
    "parts_gini_concentration": (parts_gini_concentration, PARTS_GINI_SQL),
    "parts_abc_analysis": (parts_abc_analysis, PARTS_ABC_SQL),
    "orders_dq_report": (orders_dq_report, ORDERS_DQ_SQL),
    "orders_association_rules": (orders_association_rules, ORDERS_ASSOC_SQL),
    "parts_skyline": (parts_skyline, SKYLINE_SQL),
    "q2_min_cost_supplier": (q2_min_cost_supplier, Q2_SQL),
    "q11_important_stock": (q11_important_stock, Q11_SQL),
    "q12_late_shipments": (q12_late_shipments, Q12_SQL),
    "events_type_pivot": (events_type_pivot, EVENTS_PIVOT_SQL),
    "customer_segment_set_ops": (customer_segment_set_ops, SET_OPS_SQL),
    "events_unpivot_roundtrip": (events_unpivot_roundtrip, EVENTS_UNPIVOT_SQL),
    "events_rolling_7d_value": (events_rolling_7d_value, ROLLING_7D_SQL),
}
