"""Relational query surface (SURVEY.md §7.1 M0, §7.3).

Everything here is pure Catalyst: scans with pushed filters/pruned
columns, broadcast joins for the small dimensions, hash aggregates,
window functions, rollup, set ops. Zero custom execution code — at
100 TB this is the layer we explicitly do NOT hand-schedule (AQE picks
join strategies and coalesces shuffle partitions at runtime).

Cross-engine hash-match conventions (driver compares vs DuckDB):
  * every computed column is aliased identically in Spark and SQL;
  * double aggregates are rounded (sum→2dp, ratios/avgs→4dp) so
    summation-order ulp drift can't flip the hash;
  * timestamp outputs are formatted to strings;
  * counts are cast to BIGINT on the DuckDB side (its count/sum(int)
    widens to HUGEINT otherwise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sketchmlflink_spark.functions import zround
from sketchmlflink_spark.registry import register
from sketchmlflink_spark.scratch import scratch_dir
from sketchmlflink_spark.sources.tables import load_table


t = load_table  # the short name every builder reads tables through


def ts(date_str: str) -> F.Column:
    """Timestamp-NTZ literal for date-range predicates. Year filters are
    written as half-open ranges (``col < ts("2001-01-01")``) instead of
    ``year(col) <= 2000``: the range form pushes to the parquet scan as
    a comparable filter (row-group/page pruning at 100 TB), while the
    ``year()`` form only pushes IsNotNull."""
    return F.lit(date_str).cast("timestamp_ntz")


# --------------------------------------------------------------------------
# q01 — TPC-H Q1-style pricing summary: the flagship scan+agg.
# Reference analog: the loss/metric aggregations (SURVEY.md A4-A6) are
# map+reduce over all rows; this is the same physical shape on lineitem.
# --------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)      AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                           * CAST(1 - l_discount AS DECIMAL(4,2)) AS DECIMAL(17,4))
                      * CAST(1 + l_tax AS DECIMAL(4,2))), 2) AS DOUBLE)      AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) + 0.0      AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) + 0.0 AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) + 0.0      AS avg_disc,
       CAST(count(*) AS BIGINT)                                         AS count_order
FROM lineitem
WHERE year(l_shipdate) <= 2000
GROUP BY l_returnflag, l_linestatus
""",
    tags=("relational", "agg"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan → pushed filter → hash aggregate; whole-stage codegen end to end.

    Money/quantity columns carry exactly 2 decimals, so every sum is an
    exact DECIMAL sum (order-free — the q19/q39 recipe; the strict sf1
    sweep caught q05's double-sum flipping a final cent between runs,
    round 7); one double conversion at the end, averages divide the
    exact sum by the count and round once."""
    li = t(spark, sf_dir, "lineitem")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    price_dec18 = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_dec = F.col("l_discount").cast("decimal(18,2)")
    # products: exact fixed-point at bounded precision so neither engine
    # truncates — (12,2)*(4,2) → 4 dp; ×(4,2) again → 6 dp
    disc_price_dec = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
    )
    charge_dec = disc_price_dec.cast("decimal(17,4)") * (
        F.lit(1) + F.col("l_tax")
    ).cast("decimal(4,2)")
    cnt = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") < ts("2001-01-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty_dec), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(price_dec18), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price_dec), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge_dec), 2).cast("double").alias("sum_charge"),
            zround(F.sum(qty_dec).cast("double") / cnt, 4).alias("avg_qty"),
            zround(F.sum(price_dec18).cast("double") / cnt, 4).alias("avg_price"),
            zround(F.sum(disc_dec).cast("double") / cnt, 4).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q02 — TPC-H Q6-style revenue forecast: selective filter + global agg.
# --------------------------------------------------------------------------
@register(
    "q02_revenue_forecast",
    oracle="""
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT)                    AS n_items
FROM lineitem
WHERE year(l_shipdate) BETWEEN 1996 AND 1998
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 25
""",
    tags=("relational", "filter", "agg"),
)
def q02_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three predicates push to the parquet scan (P7 analog)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= ts("1996-01-01"))
            & (F.col("l_shipdate") < ts("1999-01-01"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 25)
        ).agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_discount").cast("decimal(18,2)")), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q03 — TPC-H Q3-style shipping priority: 3-way join, topk.
# --------------------------------------------------------------------------
@register(
    "q03_shipping_priority",
    oracle="""
SELECT o_orderkey,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND year(o_orderdate) <= 1998
  AND year(l_shipdate) >= 1999
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
    tags=("relational", "join", "topk"),
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer (filtered) broadcasts into orders⋈lineitem; TopK via
    sort+limit which Spark executes as TakeOrderedAndProject (no full sort)."""
    cust = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").where(F.col("o_orderdate") < ts("1999-01-01"))
    li = t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") >= ts("1999-01-01"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")), 2).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q04 — order-priority check: EXISTS semi-join.
# --------------------------------------------------------------------------
@register(
    "q04_order_priority",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
)
GROUP BY o_orderpriority
""",
    tags=("relational", "semijoin"),
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    matched = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# --------------------------------------------------------------------------
# q05 — TPC-H Q5-style local-supplier revenue: 6-way star join.
# --------------------------------------------------------------------------
@register(
    "q05_revenue_by_nation",
    oracle="""
SELECT n_name, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('EUROPE', 'ASIA')
GROUP BY n_name
""",
    tags=("relational", "join", "star"),
)
def q05_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: every dimension (region, nation, supplier, customer)
    broadcasts; only orders⋈lineitem shuffles — the plan that survives
    a 1000× fact-table scale-up."""
    region = t(spark, sf_dir, "region").where(F.col("r_name").isin("EUROPE", "ASIA"))
    nation = t(spark, sf_dir, "nation")
    supplier = t(spark, sf_dir, "supplier")
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    dims = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(dims),
            (li.l_suppkey == dims.s_suppkey) & (customer.c_nationkey == dims.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")), 2).cast("double").alias("revenue"))
    )


# --------------------------------------------------------------------------
# q06 — TPC-H Q13-style customer order-count distribution: outer join +
# two-level aggregation.
# --------------------------------------------------------------------------
@register(
    "q06_customer_distribution",
    oracle="""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
)
GROUP BY c_count
""",
    tags=("relational", "outerjoin", "agg"),
)
def q06_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --------------------------------------------------------------------------
# q07 — window function: top order per customer.
# --------------------------------------------------------------------------
@register(
    "q07_top_order_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
)
WHERE rn = 1
""",
    tags=("relational", "window"),
)
def q07_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number with a deterministic tiebreak (o_orderkey)."""
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


# --------------------------------------------------------------------------
# q08 — ROLLUP: hierarchical totals.
# --------------------------------------------------------------------------
@register(
    "q08_rollup_sales",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
       CAST(count(*) AS BIGINT)   AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("relational", "rollup"),
)
def q08_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantities are exact 2-dp fixed point, so the rollup sums in
    DECIMAL (order-free — the q19/q39 recipe; round(sum(double),2) can
    flip a final cent between runs, proven by q05 in round 7) and
    converts to double once after the single final round."""
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# q09 — DISTINCT projection.
# --------------------------------------------------------------------------
@register(
    "q09_distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
    tags=("relational", "distinct"),
)
def q09_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# --------------------------------------------------------------------------
# q10 — set operation: nations present on both sides of the market.
# --------------------------------------------------------------------------
@register(
    "q10_nation_intersect",
    oracle="""
SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
INTERSECT
SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
""",
    tags=("relational", "setop"),
)
def q10_nation_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = t(spark, sf_dir, "nation")
    cust_nations = t(spark, sf_dir, "customer").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("n_name")
    supp_nations = t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("n_name")
    return cust_nations.intersect(supp_nations)


# --------------------------------------------------------------------------
# q11 — anti join: customers with no orders.
# --------------------------------------------------------------------------
@register(
    "q11_customers_without_orders",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
    tags=("relational", "antijoin"),
)
def q11_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# q12 — events: tumbling-window (hourly) aggregation. Batch equivalent of
# the streaming windowed agg in streaming/sketch_agg.py.
# --------------------------------------------------------------------------
@register(
    "q12_events_hourly",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
       event_type,
       CAST(count(*) AS BIGINT)                               AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)      AS sum_value,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         / count(*)                                           AS avg_value
FROM events
GROUP BY 1, 2
""",
    tags=("relational", "events", "window-agg"),
)
def q12_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal sum: value carries exactly 2 decimals, so the sum
            # is exact and the IEEE quotient bit-matches the oracle's —
            # a rounded float avg drifts at half-boundaries once groups
            # get big enough for summation order to matter (seen at
            # sf0.1; same fix as the streaming st01/st02 aggregates)
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
        )
    )


# --------------------------------------------------------------------------
# q13 — events: JSON extraction from the props column.
# --------------------------------------------------------------------------
@register(
    "q13_events_json_bucket",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
       CAST(count(*) AS BIGINT)                            AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1
""",
    tags=("relational", "events", "json"),
)
def q13_events_json_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value is exact 2-dp fixed point → exact order-free DECIMAL sum
    (q19/q39 recipe), one round, one double conversion."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# q14 — events: per-user inter-event gap via LAG window.
# --------------------------------------------------------------------------
@register(
    "q14_user_event_gaps",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT)     AS n_gaps,
       round(CAST(sum(gap_sec) AS DOUBLE) / count(*), 4) AS avg_gap_sec
FROM (
    SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT)
             - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap_sec
    FROM events
)
WHERE gap_sec IS NOT NULL
GROUP BY user_id
""",
    tags=("relational", "events", "window"),
)
def q14_user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps are exact integer seconds, so the average is an exact
    BIGINT sum divided once and rounded once (order-free — engine
    `avg` internals over integral types differ between Spark and
    DuckDB; the explicit sum/count form is provably identical)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.withColumn("gap_sec", gap)
        .where(F.col("gap_sec").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.sum("gap_sec").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_gap_sec"),
        )
    )


# --------------------------------------------------------------------------
# q15 — TPC-H Q14-style promo revenue share: join + conditional agg.
# --------------------------------------------------------------------------
@register(
    "q15_promo_revenue_share",
    oracle="""
SELECT round(
         100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                          THEN CAST(l_extendedprice AS DECIMAL(12,2))
                               * CAST(1 - l_discount AS DECIMAL(4,2))
                          ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE), 4) AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
""",
    tags=("relational", "join", "case"),
)
def q15_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both revenue sums are exact DECIMAL (order-free, the q19/q39
    recipe — a double-sum ratio is order-dependent in both its
    numerator and denominator), converted to double once each, ONE
    division, one round."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    rev_dec = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(4,2)")
    promo = F.when(F.col("p_type") == "PROMO", rev_dec).otherwise(
        F.lit(0).cast("decimal(17,4)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0 * F.sum(promo).cast("double") / F.sum(rev_dec).cast("double"), 4
            ).alias("promo_share")
        )
    )


# --------------------------------------------------------------------------
# q16 — supplier account-balance stats per nation.
# --------------------------------------------------------------------------
@register(
    "q16_supplier_stats_by_nation",
    oracle="""
SELECT n_name,
       CAST(count(*) AS BIGINT)      AS n_suppliers,
       round(min(s_acctbal), 2)      AS min_bal,
       round(max(s_acctbal), 2)      AS max_bal,
       round(CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) + 0.0 AS avg_bal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
""",
    tags=("relational", "join", "agg"),
)
def q16_supplier_stats_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.min("s_acctbal"), 2).alias("min_bal"),
            F.round(F.max("s_acctbal"), 2).alias("max_bal"),
            # exact DECIMAL sum / count, rounded once (q01's avg recipe);
            # balances straddle zero so the mean can be a tiny negative
            # → signed-zero normalization on both sides
            zround(
                F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_bal"),
        )
    )


# --------------------------------------------------------------------------
# q17 — top-N with join: biggest orders and who placed them.
# --------------------------------------------------------------------------
@register(
    "q17_big_orders",
    oracle="""
SELECT o_orderkey, c_name, round(o_totalprice, 2) AS totalprice,
       strftime(o_orderdate, '%Y-%m-%d')          AS orderdate
FROM orders JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
    tags=("relational", "topk", "join"),
)
def q17_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "o_orderkey",
            "c_name",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .drop("o_totalprice")
    )


# --------------------------------------------------------------------------
# q18 — exact percentiles per group (scale note: at 100 TB swap the exact
# percentile for approx_percentile — same API shape, sketch-backed (KLL),
# one pass, mergeable across partitions; that sketch-backed form is a
# first-class query at sketch_aggs.py:sk03_approx_percentiles).
# --------------------------------------------------------------------------
@register(
    "q18_price_percentiles",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50_price,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("relational", "percentile"),
)
def q18_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95_price"),
    )


# --------------------------------------------------------------------------
# q19 — CUBE aggregation over part attributes.
# --------------------------------------------------------------------------
@register(
    "q19_cube_parts",
    oracle="""
SELECT p_brand, p_type,
       round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
             / count(*), 4) AS avg_price,
       CAST(count(*) AS BIGINT)     AS n_parts
FROM part
WHERE p_size <= 25
GROUP BY CUBE (p_brand, p_type)
""",
    tags=("relational", "cube"),
)
def q19_cube_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE = all 4 grouping sets in one pass (Expand + single hash
    aggregate — no re-scan per grouping set). The average rides an
    exact DECIMAL sum (prices are 2-decimal grained) instead of
    avg(double): float-sum order differs between engines and partial-agg
    trees, which flipped the 4th decimal at sf1 — decimal accumulation
    makes the result bit-deterministic at every scale."""
    part = t(spark, sf_dir, "part").where(F.col("p_size") <= 25)
    return part.cube("p_brand", "p_type").agg(
        F.round(
            F.sum(F.col("p_retailprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_price"),
        F.count(F.lit(1)).alias("n_parts"),
    )


# --------------------------------------------------------------------------
# q20 — correlated scalar subquery: orders above their customer's average.
# --------------------------------------------------------------------------
@register(
    "q20_above_customer_avg",
    oracle="""
SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_above
FROM orders o
WHERE CAST(o_totalprice AS DECIMAL(18,2))
      * (SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
      > (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
         FROM orders i WHERE i.o_custkey = o.o_custkey)
GROUP BY o_custkey
""",
    tags=("relational", "subquery", "window"),
)
def q20_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated scalar subquery decorrelates to a per-key window
    aggregate — one shuffle on o_custkey instead of the self-join a
    naive rewrite would produce. 'Above the customer average' is
    evaluated as price·n > Σprice in EXACT DECIMAL (identical
    semantics, zero float): a float window-avg compared against a
    member of its own population can flip on the 1-ulp boundary when a
    price ties the mean — the q05 latent class in comparison form."""
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        orders.withColumn("cust_sum", F.sum(price_dec).over(w))
        .withColumn("cust_n", F.count(F.lit(1)).over(w))
        .where(price_dec * F.col("cust_n") > F.col("cust_sum"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_above"))
    )


# --------------------------------------------------------------------------
# q21 — salted two-phase aggregation (skew pattern, oracle-identical to a
# plain GROUP BY).
# --------------------------------------------------------------------------
SALT_BUCKETS = 16


@register(
    "q21_event_type_stats_salted",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT)  AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
""",
    tags=("relational", "skew", "salting"),
)
def q21_event_type_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregate for skewed keys: phase 1 groups on
    (key, salt) so a hot key's rows spread over SALT_BUCKETS reducers;
    phase 2 merges the per-salt partials. Result is identical to the
    direct groupBy (the oracle proves it); the plan trades one extra
    tiny shuffle for bounded per-reducer input when one key dominates —
    the hand-rolled counterpart of AQE's skew-join splitting, usable
    where AQE doesn't reach (first-shuffle aggregations).

    The partial sums are exact DECIMAL (value is 2-dp fixed point), so
    neither salting nor merge order can change the result hash — the
    q19/q39 recipe; a double partial sum here would be order-dependent
    twice over (within salt AND across salts)."""
    ev = t(spark, sf_dir, "events")
    phase1 = (
        ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT_BUCKETS)))
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("pv"),
        )
    )
    return phase1.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("pv"), 2).cast("double").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# q22 — as-of join: each click matched to the user's most recent prior view.
# --------------------------------------------------------------------------
@register(
    "q22_asof_click_to_view",
    oracle="""
SELECT c.event_id, c.user_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON c.user_id = v.user_id AND c.ts >= v.ts
""",
    tags=("relational", "temporal", "asof-join"),
)
def q22_asof_click_to_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (inclusive: view.ts <= click.ts) without a range
    join: tag click/view roles in place on one scan, then one running
    ``last(..., ignorenulls)`` window per user carries the latest view
    timestamp forward onto every later click.

    Scale shape: exactly ONE scan (pushed isin filter) and ONE hash
    shuffle on user_id (+ in-partition sort) — linear in input, no
    per-user quadratic inequality join, no broadcast requirement on
    either side. Ties at equal ts resolve
    view-before-click via the marker in the sort key, matching DuckDB
    ASOF's inclusive bound; clicks with no prior view drop (inner
    semantics). Output is the integer microsecond gap, so any tie
    between two views at the same instant cannot change the hash.
    """
    # both roles tagged IN PLACE from one pushed isin scan — a union of
    # two filtered branches reads the fact table once per side (Catalyst
    # doesn't fuse union legs over the same scan)
    is_click = (F.col("event_type") == "click").cast("int")
    tagged = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "view"))
        .select(
            F.when(is_click == 1, F.col("event_id")).alias("event_id"),
            "user_id",
            "ts",
            is_click.alias("is_click"),
            F.when(is_click == 0, F.unix_micros("ts")).alias("view_us"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("asof_view_us", F.last("view_us", ignorenulls=True).over(w))
        .where((F.col("is_click") == 1) & F.col("asof_view_us").isNotNull())
        .select(
            "event_id",
            "user_id",
            (F.unix_micros("ts") - F.col("asof_view_us")).alias("gap_us"),
        )
    )


# --------------------------------------------------------------------------
# q23 — pivot: daily event counts, one column per event type.
# --------------------------------------------------------------------------
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "q23_pivot_daily_events",
    oracle=f"""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       {", ".join(f"CAST(count(*) FILTER (event_type = '{et}') AS BIGINT) AS n_{et}" for et in EVENT_TYPES)}
FROM events
GROUP BY 1
""",
    tags=("relational", "pivot"),
)
def q23_pivot_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an EXPLICIT value list: passing the values up front
    skips the extra distinct-collect job Spark otherwise runs to
    discover pivot columns (a full scan + driver round-trip at 100 TB)
    and keeps the plan a single hash aggregate with one shuffle on the
    day key — same shape as a plain groupBy. Fixed values also make the
    output schema static, which the driver's hash comparator (and any
    downstream consumer) requires."""
    ev = t(spark, sf_dir, "events")
    piv = (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", list(EVENT_TYPES))
        .count()
    )
    # pivot leaves null where a (day, type) cell had no rows; counts are 0
    return piv.select(
        "day",
        *[F.coalesce(F.col(et), F.lit(0)).cast("long").alias(f"n_{et}") for et in EVENT_TYPES],
    )


# --------------------------------------------------------------------------
# q24 — moving-average window frame (RANGE, not ROWS).
# --------------------------------------------------------------------------
@register(
    "q24_revenue_moving_avg",
    oracle="""
WITH daily AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_nr,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
    FROM orders
    GROUP BY 1, 2
)
SELECT day,
       round(cents / 100.0, 2) AS revenue,
       floor((2 * sum(cents) OVER w + count(*) OVER w)
             / (2.0 * count(*) OVER w)) / 100.0 AS ma7
FROM daily
WINDOW w AS (ORDER BY day_nr RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
    tags=("relational", "window", "frame"),
)
def q24_revenue_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily revenue using a RANGE frame keyed
    on epoch-day, so calendar gaps shorten the window (ROWS BETWEEN 6
    PRECEDING would silently average the last 7 *present* days — a
    different, usually wrong, answer). Two-step shape: the daily
    pre-aggregate shuffles on day (map-side combined), then ONE global
    ordered window over ~2.4k day rows — a deliberately tiny single
    partition, which is the right trade at any scale because the window
    input is bounded by the calendar, not the fact table.

    The daily totals are carried as integer cents through the window
    (sum of longs is order-independent; a double window-sum rounds
    differently per merge order, flipping 2-dp cells at .005
    boundaries), and the mean rounds to whole cents with explicit
    half-up integer arithmetic — floor((2s+n)/2n) — because the
    engines' round() builtins disagree on exact .5 (HALF_UP vs
    nearest-even). Identical integer inputs + identical IEEE ops =
    identical hash."""
    orders = t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            # exact DECIMAL sum → integral cents; the old
            # round(sum(double)*100) could flip a cent with summation
            # order (the q05 class) before the integer window even ran
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("cents")
        )
        .withColumn("day_nr", F.datediff("d", F.lit("1970-01-01").cast("date")))
        .withColumn("day", F.date_format("d", "yyyy-MM-dd"))
    )
    w = Window.orderBy("day_nr").rangeBetween(-6, 0)
    s = F.sum("cents").over(w)
    n = F.count(F.lit(1)).over(w)
    return daily.select(
        "day",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        (F.floor((2 * s + n) / (2.0 * n)) / 100.0).alias("ma7"),
    )


# --------------------------------------------------------------------------
# q25 — batch sessionization: gaps-and-islands (lag + running sum).
# --------------------------------------------------------------------------
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes

# Shared by q25 (single-pass gaps-and-islands) and q40 (two-phase
# bucketed rewrite) — identical output contract, so one oracle.
SESSIONIZE_ORACLE = f"""
WITH o AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                THEN 1 ELSE 0 END AS is_start
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT user_id, ts,
           sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_nr
    FROM o
)
SELECT user_id,
       CAST(session_nr AS BIGINT)                     AS session_nr,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S')         AS session_start,
       CAST(count(*) AS BIGINT)                       AS n_events
FROM s
GROUP BY user_id, session_nr
"""


@register(
    "q25_batch_sessionize",
    oracle=SESSIONIZE_ORACLE,
    tags=("relational", "sessionize", "gaps-and-islands"),
)
def q25_batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) as gaps-and-islands: lag marks
    session starts, a running sum numbers them, one groupBy rolls up —
    the batch twin of st04's streaming session_window. Scale shape: ONE
    hash shuffle on user_id feeds both windows AND the final aggregate
    (same partitioning, no re-shuffle); per-user in-partition sort is
    the only extra cost, exactly how sessionization is done on
    petabyte clickstreams. Ties on ts break by event_id on both engines
    so the island numbering is deterministic."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    is_start = F.when(
        prev_us.isNull() | ((F.unix_micros("ts") - prev_us) > SESSION_GAP_US), 1
    ).otherwise(0)
    s = ev.withColumn("is_start", is_start).withColumn(
        "session_nr",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return s.groupBy("user_id", "session_nr").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
    ).select("user_id", F.col("session_nr").cast("long").alias("session_nr"), "session_start", "n_events")


# --------------------------------------------------------------------------
# q26 — GROUPING SETS: independent aggregation lattices in one scan.
# --------------------------------------------------------------------------
@register(
    "q26_grouping_sets_orders",
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
       CAST(count(*) AS BIGINT)    AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
""",
    tags=("relational", "grouping-sets"),
)
def q26_grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (priority totals, status totals, grand
    total) — the general lattice form of q08's ROLLUP / q19's CUBE.
    Catalyst expands the sets with a single Expand over ONE scan, so the
    table is read once no matter how many lattices are requested — the
    reason grouping sets beat unioned per-lattice scans at 100 TB."""
    return (
        t(spark, sf_dir, "orders")
        .groupingSets(
            [["o_orderpriority"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# --------------------------------------------------------------------------
# q27 — correlated NOT EXISTS: sole-supplier orders per supplier.
# --------------------------------------------------------------------------
@register(
    "q27_sole_supplier_orders",
    oracle="""
SELECT l1.l_suppkey AS suppkey,
       CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS n_solo_orders
FROM lineitem l1
WHERE NOT EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey != l1.l_suppkey
)
GROUP BY l1.l_suppkey
""",
    tags=("relational", "not-exists", "anti-join"),
)
def q27_sole_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier, how many orders they supplied alone (no other
    supplier on the order) — the correlated-NOT-EXISTS shape of TPC-H
    Q21, adapted to this schema's columns.

    Expressed declaratively so Catalyst de-correlates the subquery into
    a null-safe left-anti join on l_orderkey; at scale both sides
    shuffle once on the order key (fact-fact), and the distinct+count
    reuses the same hash partitioning. No driver loop, no double scan
    beyond the self-join the semantics require."""
    li = t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("q27_lineitem")
    return spark.sql(
        """
SELECT l1.l_suppkey AS suppkey,
       count(DISTINCT l1.l_orderkey) AS n_solo_orders
FROM q27_lineitem l1
WHERE NOT EXISTS (
    SELECT 1 FROM q27_lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey != l1.l_suppkey
)
GROUP BY l1.l_suppkey
"""
    )


# --------------------------------------------------------------------------
# q28 — decile stats via boundary broadcast (scale-safe global ranking).
# --------------------------------------------------------------------------
@register(
    "q28_order_value_deciles",
    oracle="""
WITH b AS (
  SELECT quantile_cont(o_totalprice,
                       [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
  FROM orders
),
d AS (
  SELECT 1 + len(list_filter(b.qs, q -> q < o.o_totalprice)) AS decile,
         o.o_totalprice
  FROM orders o, b
)
SELECT CAST(decile AS INT)                 AS decile,
       CAST(count(*) AS BIGINT)            AS n_orders,
       round(min(o_totalprice), 2)         AS lo_price,
       round(max(o_totalprice), 2)         AS hi_price,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
FROM d GROUP BY decile
""",
    tags=("relational", "decile", "percentile-bucketing"),
)
def q28_order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile order-value stats WITHOUT a global-sort ntile: exact
    decile boundaries come from ONE percentile aggregate, broadcast back,
    and each row buckets itself by counting boundaries below it — a scan
    plus two tiny exchanges instead of the single-partition window a
    naive ntile(10) forces (Spark executes an un-partitioned ranking
    window on ONE task; this shape keeps all 32/1000 executors busy and
    is how decile dashboards are computed on petabyte fact tables; at
    even larger scale swap the exact percentile for sk03's
    approx_percentile with identical plumbing). Boundary semantics:
    decile = 1 + |{q : q < value}| (strictly-less), deterministic under
    ties on both engines."""
    orders = t(spark, sf_dir, "orders")
    qs = orders.select(
        F.percentile(
            "o_totalprice",
            F.array(*[F.lit(i / 10.0) for i in range(1, 10)]),
        ).alias("qs")
    )
    d = orders.join(F.broadcast(qs)).select(
        (
            F.lit(1)
            + F.size(F.filter("qs", lambda q: q < F.col("o_totalprice")))
        ).cast("int").alias("decile"),
        "o_totalprice",
    )
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("lo_price"),
        F.round(F.max("o_totalprice"), 2).alias("hi_price"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_price"),
    )


# --------------------------------------------------------------------------
# q29 — HAVING against a scalar-subquery threshold (TPC-H Q11 shape).
# --------------------------------------------------------------------------
@register(
    "q29_top_value_nations",
    oracle="""
SELECT n.n_name AS nation,
       CAST(round(sum(CAST(s.s_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_balance
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
HAVING sum(CAST(s.s_acctbal AS DECIMAL(18,2))) > (
    SELECT sum(CAST(s_acctbal AS DECIMAL(18,2))) * 0.05 FROM supplier
)
""",
    tags=("relational", "having", "scalar-subquery"),
)
def q29_top_value_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations holding more than 5% of global supplier account balance —
    the TPC-H Q11 group-filter-by-global-fraction shape: a grouped
    aggregate HAVING-filtered against an uncorrelated scalar subquery.
    Catalyst evaluates the scalar subquery once (its own tiny job),
    folds the result into the post-aggregation filter, and the nation
    dimension broadcasts — one shuffle on the group key total."""
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    sup.createOrReplaceTempView("q29_supplier")
    nat.createOrReplaceTempView("q29_nation")
    return spark.sql(
        """
SELECT n.n_name AS nation,
       CAST(round(sum(CAST(s.s_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_balance
FROM q29_supplier s JOIN q29_nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
HAVING sum(CAST(s.s_acctbal AS DECIMAL(18,2))) > (
    SELECT sum(CAST(s_acctbal AS DECIMAL(18,2))) * 0.05 FROM q29_supplier
)
"""
    )


# --------------------------------------------------------------------------
# q30 — relational division: customers covering ALL order priorities.
# --------------------------------------------------------------------------
@register(
    "q30_full_priority_customers",
    oracle="""
WITH p AS (SELECT count(DISTINCT o_orderpriority) AS n_all FROM orders)
SELECT o.o_custkey                               AS custkey,
       CAST(count(*) AS BIGINT)                  AS n_orders,
       CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS n_priorities
FROM orders o, p
GROUP BY o.o_custkey, p.n_all
HAVING count(DISTINCT o.o_orderpriority) = p.n_all
""",
    tags=("relational", "division", "having"),
)
def q30_full_priority_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division ("for all"): customers whose orders span
    EVERY priority present in the table — the classic division query
    expressed as count-distinct-equals-universe, the only form that
    scales (a literal double-NOT-EXISTS division forces two correlated
    anti-joins; this is one grouped aggregate plus a one-row broadcast
    of the universe size). One shuffle on the customer key; the
    distinct-count is partial-aggregated map-side."""
    orders = t(spark, sf_dir, "orders")
    n_all = orders.agg(
        F.countDistinct("o_orderpriority").alias("n_all")
    )
    return (
        orders.crossJoin(F.broadcast(n_all))
        .groupBy("o_custkey", "n_all")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
        .where(F.col("n_priorities") == F.col("n_all"))
        .select(
            F.col("o_custkey").alias("custkey"), "n_orders", "n_priorities"
        )
    )


# --------------------------------------------------------------------------
# q31 — bucketed co-located join (bucketing kills the join shuffle).
# --------------------------------------------------------------------------
Q31_BUCKETS = 16


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize orders and customer as bucketed+sorted tables (once
    per sf_dir — guarded by catalog existence). At 100 TB this is the
    one-time layout investment that removes the shuffle from every
    subsequent custkey join: both sides land in Q31_BUCKETS hash-buckets
    of the SAME key, so the join reads co-located buckets directly.

    Each table's files live in a scratch dir whose kind is the table
    name, so building q31 at a second sf_dir never removes a table the
    catalog still names, and the dir goes with the process: no run
    leaves a table in the warehouse dir."""
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    t_orders, t_customer = f"b_orders_{tag}", f"b_customer_{tag}"

    def _write(table: str, src: str, key: str) -> None:
        if spark.catalog.tableExists(table):
            return
        (
            load_table(spark, sf_dir, src)
            .write.bucketBy(Q31_BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .option("path", scratch_dir(f"{table}_"))
            .saveAsTable(table)
        )

    _write(t_orders, "orders", "o_custkey")
    _write(t_customer, "customer", "c_custkey")
    return t_orders, t_customer


@register(
    "q31_bucketed_segment_revenue",
    oracle="""
SELECT c.c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
""",
    tags=("relational", "bucketed-join", "layout"),
)
def q31_bucketed_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment through a BUCKETED co-located join:
    both sides pre-bucketed on the join key, so the sort-merge join has
    NO Exchange on either input (plan-locked in test_plans) — the
    layout-level answer to "big joins shuffle on their keys". The merge
    hint keeps Spark from broadcasting the small side at test scale,
    which would hide the property being demonstrated; at 100 TB neither
    side broadcasts and the bucket layout is exactly what you want.
    Decimal-cast sum keeps the aggregate exact vs the oracle."""
    t_orders, t_customer = _bucketed_tables(spark, sf_dir)
    o = spark.table(t_orders)
    c = spark.table(t_customer)
    return (
        o.hint("merge")
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# q32 — cross-table as-of join: each event ↔ the customer's latest order
# at event time (q22's self-join pattern generalized to two fact tables).
# --------------------------------------------------------------------------
@register(
    "q32_asof_event_order",
    oracle="""
WITH u AS (
    SELECT o_custkey AS user_id, o_orderdate AS ts2, 0 AS kind,
           o_orderkey, CAST(NULL AS BIGINT) AS event_id
    FROM orders
    UNION ALL
    SELECT user_id, ts AS ts2, 1 AS kind,
           CAST(NULL AS BIGINT) AS o_orderkey, event_id
    FROM events
),
w AS (
    SELECT user_id, ts2, kind, event_id,
           last_value(o_orderkey IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts2, kind, coalesce(o_orderkey, event_id)
               ROWS UNBOUNDED PRECEDING
           ) AS last_order_key
    FROM u
)
SELECT event_id, user_id,
       strftime(ts2, '%Y-%m-%d %H:%M:%S') AS ts,
       last_order_key
FROM w WHERE kind = 1
""",
    tags=("relational", "asof-join", "temporal"),
)
def q32_asof_event_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join ACROSS tables: every event annotated with the
    customer's most recent order key at event time (order date <= event
    ts; same-instant orders count; ties broken by max orderkey via the
    sort order). The union-tag + last_value(ignore nulls) rewrite turns
    what a naive engine does as a per-event correlated scan into ONE
    shuffle on user_id and a single ordered pass — the standard Spark
    shape for temporal enrichment at scale (both inputs arrive pre-
    pruned to two columns; nothing wider crosses the exchange). q22
    pins the same pattern as a self-join; this entry pins the
    two-table form a feature-store backfill uses."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts2"),
        F.lit(0).alias("kind"),
        "o_orderkey",
        F.lit(None).cast("long").alias("event_id"),
    )
    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("ts2"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("o_orderkey"),
        "event_id",
    )
    u = orders.unionByName(events)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts2", "kind", F.coalesce("o_orderkey", "event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        u.withColumn("last_order_key", F.last("o_orderkey", ignorenulls=True).over(w))
        .where(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts2", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "last_order_key",
        )
    )


# --------------------------------------------------------------------------
# q33 — OHLC time-series downsampling: the metrics/market-data rollup
# (open/high/low/close per bucket) via min_by/max_by — order-aware
# aggregates in ONE hash-agg pass, no window sort over the fact table.
# --------------------------------------------------------------------------
@register(
    "q33_ohlc_bars",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
       event_type,
       first(value ORDER BY ts, event_id) AS open,
       max(value) AS high,
       min(value) AS low,
       last(value ORDER BY ts, event_id) AS close,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1, 2
""",
    tags=("relational", "timeseries", "ohlc", "downsample"),
)
def q33_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event_type. The scale point: open/close are
    min_by/max_by over the (ts, event_id) ordering — ONE map-side
    partial hash-agg per bucket (each partial carries a single
    candidate row), vs the naive first()/last() over a per-bucket
    window, which sorts every event inside the shuffle. Ties at equal
    ts resolve by event_id, so the answer is engine-independent."""
    ev = t(spark, sf_dir, "events")
    ord_key = F.struct("ts", "event_id")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_bucket"
        ),
        "event_type",
    ).agg(
        F.min_by("value", ord_key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ord_key).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --------------------------------------------------------------------------
# q34 — ordered conversion funnel (view → click → purchase) via chained
# running-min windows: the product-analytics "sequence match" pattern
# (MATCH_RECOGNIZE-lite) expressed with one shuffle.
# --------------------------------------------------------------------------
Q34_ORACLE = """
WITH s1 AS (
    SELECT user_id, event_type, ts, event_id,
           min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS t_view_run
    FROM events
),
s2 AS (
    SELECT *,
           min(CASE WHEN event_type = 'click' AND t_view_run IS NOT NULL
                    THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS t_click_run
    FROM s1
),
per_user AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           min(CASE WHEN event_type = 'click'
                    AND t_view_run IS NOT NULL THEN ts END) AS t_click,
           min(CASE WHEN event_type = 'purchase'
                    AND t_click_run IS NOT NULL THEN ts END) AS t_purchase
    FROM s2
    GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT)           AS n_users,
       CAST(count(t_view) AS BIGINT)      AS n_viewed,
       CAST(count(t_click) AS BIGINT)     AS n_clicked_after_view,
       CAST(count(t_purchase) AS BIGINT)  AS n_purchased_after_click,
       round(CAST(sum(epoch_us(t_click) - epoch_us(t_view)) AS DOUBLE)
             / count(t_click), 4)         AS avg_view_to_click_us,
       round(CAST(sum(epoch_us(t_purchase) - epoch_us(t_click)) AS DOUBLE)
             / count(t_purchase), 4)      AS avg_click_to_purchase_us
FROM per_user
"""


@register(
    "q34_funnel_conversion",
    oracle=Q34_ORACLE,
    tags=("relational", "funnel", "window", "sequence"),
)
def q34_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel per user: first view, first
    click AT OR AFTER that view, first purchase at or after that click
    — then corpus-level stage counts and mean stage-to-stage latency.

    The sequence constraint ("click only counts if a view precedes it")
    is expressed as a RUNNING MIN of the previous stage's timestamp
    over (user, ts)-ordered rows, chained once per stage. Plan shape
    for 100 TB: BOTH window passes and the per-user aggregate share
    the user_id hash partitioning, so the whole funnel is ONE shuffle
    of the events table followed by a 1-row global reduce; no
    self-joins, no second scan (vs the textbook 3-scan funnel join).
    Ties resolve by event_id, so the answer is engine-independent."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_view = F.col("event_type") == "view"
    s1 = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.min(F.when(is_view, F.col("ts"))).over(w).alias("t_view_run"),
    )
    qual_click = (F.col("event_type") == "click") & F.col("t_view_run").isNotNull()
    s2 = s1.withColumn(
        "t_click_run", F.min(F.when(qual_click, F.col("ts"))).over(w)
    )
    qual_purchase = (
        (F.col("event_type") == "purchase") & F.col("t_click_run").isNotNull()
    )
    per_user = s2.groupBy("user_id").agg(
        F.min(F.when(is_view, F.col("ts"))).alias("t_view"),
        F.min(F.when(qual_click, F.col("ts"))).alias("t_click"),
        F.min(F.when(qual_purchase, F.col("ts"))).alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_after_view"),
        F.count("t_purchase").alias("n_purchased_after_click"),
        # exact BIGINT sum, ONE double division per metric — bitwise
        # reproducible across engines (a double avg of 64-bit micros
        # accumulates ulp drift that flips the last digit of the cast)
        F.round(
            F.sum(F.unix_micros("t_click") - F.unix_micros("t_view"))
            .cast("double")
            / F.count("t_click"),
            4,
        ).alias("avg_view_to_click_us"),
        F.round(
            F.sum(F.unix_micros("t_purchase") - F.unix_micros("t_click"))
            .cast("double")
            / F.count("t_purchase"),
            4,
        ).alias("avg_click_to_purchase_us"),
    )


# --------------------------------------------------------------------------
# q35 — market-basket co-purchase pairs: distinct (order, part) pairs
# self-joined on the order key, support-counted, exact top-100.
# --------------------------------------------------------------------------
Q35_ORACLE = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS part1, b.l_partkey AS part2
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part1, part2, CAST(count(*) AS BIGINT) AS support
FROM pairs
GROUP BY part1, part2
ORDER BY support DESC, part1, part2
LIMIT 100
"""


@register(
    "q35_copurchase_pairs",
    oracle=Q35_ORACLE,
    tags=("relational", "market-basket", "self-join", "topk"),
)
def q35_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-purchased part pairs (A-priori support counting, the
    pair stage): distinct (order, part), self-join on the order key with
    part1 < part2, count support, exact top-100.

    100-TB plan shape: NOT the textbook self-join (which scans lineitem
    twice and shuffles both copies). One scan → one shuffle on
    l_orderkey collecting each order's distinct part-set (collect_set is
    map-side partial, and the set is bounded by items-per-order, ~7 in
    TPC-H-shaped data, never by table size) → pairs generated ARRAY-SIDE
    from the sorted set (i < j positions, so part1 < part2 by
    construction) → hash-agg on the pair. The top-100 is
    TakeOrderedAndProject — no global sort materializes the pair space.
    Ordering is total (support DESC, part1, part2) so the LIMIT is
    engine-independent under ties."""
    part_sets = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )

    # pair expansion as a numpy partition kernel (guide §4.2): the
    # nested ``transform(slice(...))`` higher-order expression ran
    # INTERPRETED, re-slicing the set per element and boxing a struct
    # per pair — ~12M interpreted struct builds at sf1 (profiled r12).
    # The kernel emits the IDENTICAL pair multiset (pure int64 position
    # pairs i<j from the same sorted sets — no floating point at all),
    # vectorized per set-size group with cached triangle indices;
    # pinned by tests/test_kernel_parity.py::test_q35_pair_kernel_matches_hof.
    def expand_pairs(batches):
        import numpy as np
        import pandas as pd

        tri_cache: dict = {}
        for pdf in batches:
            outs_a, outs_b = [], []
            sets = pdf["ps"].to_numpy()
            sizes = np.asarray([len(s) for s in sets])
            for k in np.unique(sizes):
                if k < 2:
                    continue
                grp = np.stack(sets[sizes == k].tolist())
                if k not in tri_cache:
                    tri_cache[k] = np.triu_indices(k, 1)
                ii, jj = tri_cache[k]
                outs_a.append(grp[:, ii].ravel())
                outs_b.append(grp[:, jj].ravel())
            if not outs_a:
                continue
            yield pd.DataFrame(
                {"part1": np.concatenate(outs_a), "part2": np.concatenate(outs_b)}
            )

    pairs = part_sets.select("ps").mapInPandas(expand_pairs, "part1 long, part2 long")
    return (
        pairs.groupBy("part1", "part2")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.col("support").desc(), "part1", "part2")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q36 — weekly cohort retention over events: cohort = ISO week of the
# user's first event; retention = distinct actives per (cohort, offset).
# --------------------------------------------------------------------------
Q36_ORACLE = """
WITH firsts AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT
    strftime(date_trunc('week', f.first_ts), '%Y-%m-%d') AS cohort_week,
    CAST(floor(date_diff('day',
                         date_trunc('week', f.first_ts),
                         date_trunc('week', e.ts)) / 7) AS BIGINT)
                                                        AS week_offset,
    e.user_id
  FROM events e JOIN firsts f ON e.user_id = f.user_id
),
grid AS (
  SELECT cohort_week, week_offset,
         CAST(count(*) AS BIGINT) AS active_users
  FROM active GROUP BY cohort_week, week_offset
)
SELECT cohort_week, week_offset, active_users,
       round(active_users * 1.0 /
             max(CASE WHEN week_offset = 0 THEN active_users END)
               OVER (PARTITION BY cohort_week), 4) AS retention
FROM grid
ORDER BY cohort_week, week_offset
"""


@register(
    "q36_cohort_retention",
    oracle=Q36_ORACLE,
    tags=("relational", "cohort", "window", "retention"),
)
def q36_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users cohorted by the Monday-truncated
    week of their FIRST event; a user is retained at offset k if they
    have any event in cohort_week + k weeks.

    100-TB plan shape: the per-user first-event timestamp is a RUNNING
    window min over user_id (one shuffle of events, no self-join back);
    the distinct + count pipeline then re-shuffles only the narrow
    (cohort, offset, user) projection. Retention normalizes by the
    offset-0 row via a window over cohort_week — the grid is tiny
    (weeks × offsets), so that final window is a no-op at any scale."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id")
    active = (
        ev.withColumn("first_ts", F.min("ts").over(w))
        .select(
            F.date_format(F.date_trunc("week", "first_ts"), "yyyy-MM-dd")
            .alias("cohort_week"),
            F.floor(
                F.datediff(
                    F.date_trunc("week", "ts"), F.date_trunc("week", "first_ts")
                )
                / 7
            ).alias("week_offset"),
            "user_id",
        )
        .distinct()
    )
    grid = active.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("active_users")
    )
    wc = Window.partitionBy("cohort_week")
    return (
        grid.withColumn(
            "retention",
            F.round(
                F.col("active_users")
                / F.max(
                    F.when(F.col("week_offset") == 0, F.col("active_users"))
                ).over(wc),
                4,
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# q37 — UNPIVOT/melt (the inverse of q23's pivot): wide part attributes
# melted to (attribute, value) rows, then profiled per brand. The
# missing relational reshape: pivot (q23) turns rows into columns,
# unpivot turns columns into rows.
# --------------------------------------------------------------------------
Q37_ORACLE = """
WITH melted AS (
  SELECT p_brand, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
  UNION ALL
  SELECT p_brand, 'p_retailprice' AS attr, CAST(p_retailprice AS DOUBLE) AS val FROM part
)
SELECT p_brand, attr,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(val AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) + 0.0 AS avg_val,
       CAST(round(sum(CAST(val AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_val,
       round(min(val), 2)       AS min_val,
       round(max(val), 2)       AS max_val
FROM melted
GROUP BY p_brand, attr
ORDER BY p_brand, attr
"""


@register(
    "q37_unpivot_part_profile",
    oracle=Q37_ORACLE,
    tags=("relational", "unpivot", "reshape"),
)
def q37_unpivot_part_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(brand, attribute) profile of part's numeric columns via
    UNPIVOT — the columnar-to-long reshape every stats/feature pipeline
    needs (q23's pivot run in reverse).

    100-TB plan shape: DataFrame.unpivot compiles to Expand — each scan
    row fans out to one row per melted column INSIDE the scan stage (no
    join, no second scan), and the per-(brand, attr) hash-agg rides
    map-side partials, so shuffle rows are O(brands × attrs). ReadSchema
    prunes to exactly the id + melted columns."""
    part = t(spark, sf_dir, "part").select(
        "p_brand",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )
    melted = part.unpivot(
        ids=["p_brand"],
        values=["p_size", "p_retailprice"],
        variableColumnName="attr",
        valueColumnName="val",
    )
    return (
        melted.groupBy("p_brand", "attr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # both melted columns are exact 2-dp fixed point → exact
            # DECIMAL sum (order-free, q19/q39 recipe); avg divides the
            # exact sum by the count and rounds once
            zround(
                F.sum(F.col("val").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_val"),
            F.round(F.sum(F.col("val").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_val"),
            F.round(F.min("val"), 2).alias("min_val"),
            F.round(F.max("val"), 2).alias("max_val"),
        )
        .orderBy("p_brand", "attr")
    )


# --------------------------------------------------------------------------
# q38 — churned-purchaser cohort: set-difference semantics (purchased in
# window A, silent in window B) expressed as ONE-pass conditional
# aggregation instead of the textbook two-scan EXCEPT.
# --------------------------------------------------------------------------
Q38_SPLIT = "2024-01-24"

Q38_ORACLE = f"""
WITH h1p AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase' AND ts < TIMESTAMP '{Q38_SPLIT}'
),
h2 AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase' AND ts >= TIMESTAMP '{Q38_SPLIT}'
),
churned AS (
  SELECT user_id FROM h1p EXCEPT SELECT user_id FROM h2
)
SELECT c.user_id,
       CAST(count(*) AS BIGINT)                    AS h1_purchases,
       strftime(max(e.ts), '%Y-%m-%d %H:%M:%S')    AS last_purchase
FROM churned c
JOIN events e
  ON e.user_id = c.user_id
 AND e.event_type = 'purchase' AND e.ts < TIMESTAMP '{Q38_SPLIT}'
GROUP BY c.user_id
ORDER BY c.user_id
"""


@register(
    "q38_churned_purchasers",
    oracle=Q38_ORACLE,
    tags=("relational", "set-op", "churn", "conditional-agg"),
)
def q38_churned_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lapsed purchasers: users who purchased before the split date and
    never purchased after it, with their pre-split purchase count and
    last purchase time — the churn cohort every retention team pulls.
    (Churn is defined on PURCHASE events: with this table's uniform
    per-user activity, all-event silence never happens, so the
    all-activity variant would be the empty query.)

    100-TB plan shape: the textbook formulation (the oracle) is an
    EXCEPT of two DISTINCT subqueries plus a join back for the stats —
    three scans of events, three shuffles. Here the whole cohort is ONE
    conditional aggregation: a single scan (with the event_type filter
    PUSHED to the scan) computes per-user (h1_purchases, last_purchase,
    h2_events) with map-side partials on the user_id shuffle, and churn
    is a post-agg filter (h1_purchases > 0 AND h2_events = 0). Same
    answer, one third the I/O, one shuffle — the rewrite IS the point
    of the entry."""
    split = ts(Q38_SPLIT)
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    is_h1p = F.col("ts") < split
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(is_h1p, F.lit(1))).alias("h1_purchases"),
        F.max(F.when(is_h1p, F.col("ts"))).alias("last_p"),
        F.count(F.when(F.col("ts") >= split, F.lit(1))).alias("h2_events"),
    )
    return (
        per_user.where((F.col("h1_purchases") > 0) & (F.col("h2_events") == 0))
        .select(
            "user_id",
            "h1_purchases",
            F.date_format("last_p", "yyyy-MM-dd HH:mm:ss").alias("last_purchase"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q39 — price-band range join: the non-equi "value BETWEEN lo AND hi"
# join every BI tool emits, rewritten for scale. Reference analog: none
# (relational surface is driver-mandated); capability analog is the
# range-join family the engine must cover alongside the as-of joins
# (q22/q32).
# --------------------------------------------------------------------------
Q39_BANDS = (
    # (band_id, band_name, lo, hi) — irregular, half-open [lo, hi)
    (0, "budget", 0.0, 5000.0),
    (1, "value", 5000.0, 20000.0),
    (2, "mid", 20000.0, 45000.0),
    (3, "premium", 45000.0, 80000.0),
    (4, "luxury", 80000.0, 1e18),
)

Q39_ORACLE = f"""
WITH bands AS (
  SELECT * FROM (VALUES {", ".join(f"({b[0]}, '{b[1]}', {b[2]}, {b[3]})" for b in Q39_BANDS)})
       AS v(band_id, band_name, lo, hi)
)
SELECT b.band_id,
       b.band_name,
       CAST(count(*) AS BIGINT)                           AS n_items,
       -- prices/discounts are fixed-point money (2-dp grained —
       -- verified against the parquet): cast to DECIMAL and sum
       -- EXACTLY (order-free), one double conversion + round at the
       -- end — q19's recipe (ADVICE r5: round(sum(double)) over
       -- millions of rows per band is the order-dependent class that
       -- flipped q19/t12 in the driver environment)
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
                                                          AS revenue,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / count(*), 4)                               AS avg_price
FROM lineitem l
JOIN bands b
  ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
GROUP BY b.band_id, b.band_name
ORDER BY b.band_id
"""


@register(
    "q39_price_band_join",
    oracle=Q39_ORACLE,
    tags=("relational", "range-join", "non-equi", "broadcast"),
)
def q39_price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per irregular price band — a range (band) join.

    The textbook plan (the oracle's literal shape) is a non-equi join,
    which Spark executes as BroadcastNestedLoopJoin: every fact row is
    compared against every band row, and the join can't participate in
    whole-stage codegen's hash-join fast path. At 100 TB we rewrite it:
    the band lookup becomes a SCAN-SIDE expression (count of sorted
    boundaries <= price — the codegen'd equivalent of a binary search,
    zero join, zero shuffle), the fact table aggregates straight to one
    row per band_id, and only the 5-row aggregate equi-joins (broadcast)
    the band-metadata dim. Same answer as the BETWEEN join because the
    bands partition the domain; the plan is one lineitem scan + one
    5-group hash aggregate — no NestedLoop anywhere (plan-locked in
    tests/test_plans.py)."""
    bounds = [b[2] for b in Q39_BANDS[1:]]  # interior boundaries, sorted
    bands_df = spark.createDataFrame(
        list(Q39_BANDS), "band_id INT, band_name STRING, lo DOUBLE, hi DOUBLE"
    )
    price = F.col("l_extendedprice")
    band_id = sum(
        (F.when(price >= F.lit(b), 1).otherwise(0) for b in bounds), F.lit(0)
    ).alias("band_id")
    li = (
        t(spark, sf_dir, "lineitem")
        # parity guard with the oracle's BETWEEN join (ADVICE r5): a
        # NULL price would land in band 0 via otherwise(0) and a price
        # outside [0, 1e18) in band 0/4, where the oracle's join drops
        # the row — filter explicitly so the scan-side band expression
        # is a true partition of the SAME domain the oracle joins over.
        .where(
            price.isNotNull()
            & (price >= F.lit(Q39_BANDS[0][2]))
            & (price < F.lit(Q39_BANDS[-1][3]))
        )
        .select(band_id, "l_extendedprice", "l_discount")
    )
    # money is 2-dp fixed-point: exact DECIMAL sums (order-free), one
    # double conversion + round at the end — q19's recipe (ADVICE r5)
    price_dec = price.cast("decimal(18,2)")
    rev_dec = price_dec * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    per_band = li.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(rev_dec).cast("double"), 2).alias("revenue"),
        F.round(
            F.sum(price_dec).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_price"),
    )
    return (
        per_band.join(F.broadcast(bands_df.select("band_id", "band_name")), "band_id")
        .select("band_id", "band_name", "n_items", "revenue", "avg_price")
        .orderBy("band_id")
    )


# --------------------------------------------------------------------------
# q40 — sessionization with a BOUNDED hot-key partition (two-phase).
# --------------------------------------------------------------------------
@register(
    "q40_sessionize_twophase",
    oracle=SESSIONIZE_ORACLE,  # same output contract as q25, on purpose:
    # hash-equality against the single-pass oracle IS the proof that the
    # scale rewrite doesn't change answers.
    tags=("relational", "sessionize", "skew", "two-phase"),
)
def q40_sessionize_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q25's sessionization with the per-user window decomposed so no
    task ever sorts one user's full history. q25 partitions its window
    by user_id alone — correct, and fine on real clickstreams, but a
    Zipf-head user carrying 30% of a 100 TB feed lands 30 TB in ONE
    task, and AQE skew-split cannot split a window partition (it only
    splits sort-merge-join sides). The skew fixture
    (bin/make_sf.py --skew, 30% of events on user 0) is the measured
    motivation; this rewrite is the fix.

    Two phases, the textbook decomposition:
      1. Heavy ops partition by (user_id, day(ts)) — bounded by the
         hot user's DAILY volume, not lifetime volume: within-bucket
         lag + within-bucket running island count + per-bucket partial
         session rollup all share that one shuffle.
      2. The per-user sequential logic (gap across bucket edges,
         island-number prefix, merge of sessions spanning midnight)
         runs on the per-(user, day) SUMMARY table — thousands of times
         smaller than the events table, so the per-user window over it
         is trivially cheap even for the Zipf head.
    Phase-2 merge rule: bucket k's first island merges into bucket
    k-1's last session iff the edge gap <= SESSION_GAP (same half-open
    rule as the within-bucket lag); merged islands subtract from the
    numbering prefix and take their session_start from the earliest
    merged fragment (session_start = min(ts) survives a min-merge).
    """
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    day_us = F.unix_micros(F.date_trunc("day", "ts"))
    ev = ev.withColumn("bkt", day_us)

    wb = Window.partitionBy("user_id", "bkt").orderBy("ts", "event_id")
    prev_in_bkt = F.lag(F.unix_micros("ts")).over(wb)
    # within-bucket island flag; the FIRST row of each bucket is
    # provisionally a start (phase 2 may merge it across the edge)
    is_start = F.when(
        prev_in_bkt.isNull()
        | ((F.unix_micros("ts") - prev_in_bkt) > SESSION_GAP_US),
        1,
    ).otherwise(0)
    marked = ev.withColumn("is_start", is_start).withColumn(
        "isl",
        F.sum("is_start").over(
            wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # per-(user, bucket, island) partial sessions — same (user_id, bkt)
    # shuffle key, so this aggregation reuses the window's partitioning.
    # localCheckpoint: phase 2 reads this summary THREE times (bs,
    # first_of_bkt, numbered) and Catalyst duplicates unshared join
    # subtrees — without it the events-table window runs three times
    # (same discipline as minhash_near_duplicates / simhash).
    part_sessions = marked.groupBy("user_id", "bkt", "isl").agg(
        F.min("ts").alias("s_start"),
        F.max(F.unix_micros("ts")).alias("s_last_us"),
        F.min(F.unix_micros("ts")).alias("s_first_us"),
        F.count(F.lit(1)).alias("n_events"),
    ).localCheckpoint()

    # ---- phase 2: per-user logic on the tiny summary table ----
    # (the bucket's first event = island 1's first event = min first_us,
    # so one aggregate carries everything the edge logic needs)
    bs = part_sessions.groupBy("user_id", "bkt").agg(
        F.max("s_last_us").alias("bkt_last_us"),
        F.max("isl").alias("n_islands"),
        F.min("s_first_us").alias("first_us"),
    )
    wu = Window.partitionBy("user_id").orderBy("bkt")
    bs = bs.withColumn("prev_bkt_last_us", F.lag("bkt_last_us").over(wu))
    # does this bucket's FIRST island continue the previous bucket's
    # last session? (gap across the edge within the session gap)
    bs = bs.withColumn(
        "merges_back",
        (
            F.col("prev_bkt_last_us").isNotNull()
            & (F.col("first_us") - F.col("prev_bkt_last_us") <= SESSION_GAP_US)
        ).cast("int"),
    )
    # island-number prefix per bucket: starts before this bucket minus
    # edge-merges up to AND INCLUDING this bucket's own merge
    bs = bs.withColumn(
        "prefix",
        F.coalesce(
            F.sum("n_islands").over(
                wu.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        - F.sum("merges_back").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # global session number for every partial session: bucket prefix +
    # within-bucket island index (a merged first island gets the SAME
    # number as the previous bucket's last session, by construction)
    numbered = part_sessions.join(
        bs.select("user_id", "bkt", "prefix"), ["user_id", "bkt"]
    ).select(
        "user_id",
        (F.col("prefix") + F.col("isl")).alias("session_nr"),
        "s_start",
        "n_events",
    )
    # merge fragments that share a session number (sessions spanning
    # midnight contribute one fragment per bucket); the rollup input is
    # per-(user, day, island) — events-table-sized no more
    return (
        numbered.groupBy("user_id", "session_nr")
        .agg(
            F.date_format(F.min("s_start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("session_nr").cast("long").alias("session_nr"),
            "session_start",
            F.col("n_events").cast("long").alias("n_events"),
        )
    )
