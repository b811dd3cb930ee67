"""Second analytics wave: window functions, grouping sets, pivot,
percentiles, semi/anti subquery shapes, conditional aggregation, and the
as-of join — each oracle-checked.

Determinism rules as elsewhere: DECIMAL for reassociated sums, single
IEEE divisions for ratios, total tiebreak orders for any ranked output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wikidatabots_spark.operators.asof import asof_join
from wikidatabots_spark.plans.registry import register
from wikidatabots_spark.sources.tables import load_table


def _dec(c: str, scale: str = "12,2"):
    return F.col(c).cast(f"decimal({scale})")


# --- window: rank / dense_rank per group -----------------------------------
@register(
    "win_rank_in_nation",
    oracle="""
SELECT s_suppkey, s_nationkey, s_acctbal,
       CAST(rank() OVER (PARTITION BY s_nationkey
                         ORDER BY s_acctbal DESC, s_suppkey) AS INT) AS bal_rank,
       CAST(dense_rank() OVER (PARTITION BY s_nationkey
                               ORDER BY s_acctbal DESC, s_suppkey) AS INT)
           AS bal_dense_rank
FROM supplier
""",
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    su = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    return su.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.rank().over(w).cast("int").alias("bal_rank"),
        F.dense_rank().over(w).cast("int").alias("bal_dense_rank"),
    )


# --- window: lag/lead ------------------------------------------------------
@register(
    "win_lag_lead",
    oracle="""
SELECT user_id, event_id,
       lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_event,
       lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_event
FROM events
""",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
    )


# --- window: moving sum over rows frame ------------------------------------
@register(
    "win_moving_sum",
    oracle="""
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(14,4))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS value_3
FROM events
""",
)
def win_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(14,4)"))
        .over(w)
        .cast("double")
        .alias("value_3"),
    )


# --- window: top-k per group ----------------------------------------------
@register(
    "win_topk_per_group",
    oracle="""
SELECT c_mktsegment, c_custkey, c_acctbal FROM (
    SELECT c_mktsegment, c_custkey, c_acctbal,
           row_number() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal DESC, c_custkey) AS rn
    FROM customer
) WHERE rn <= 3
""",
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cu.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
    )


# --- rollup (grouping sets) ------------------------------------------------
@register(
    "agg_rollup",
    oracle="""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice", "14,2")).cast("double").alias("total"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "total",
        )
    )


# --- cube ------------------------------------------------------------------
@register(
    "agg_cube",
    oracle="""
SELECT COALESCE(l_returnflag, 'ALL') AS rf,
       COALESCE(l_linestatus, 'ALL') AS ls,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rf"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("ls"),
            "n",
        )
    )


# --- pivot (conditional aggregation) ---------------------------------------
@register(
    "agg_pivot_returnflag",
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN l_returnflag = 'A'
                     THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_A,
       CAST(SUM(CASE WHEN l_returnflag = 'N'
                     THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_N,
       CAST(SUM(CASE WHEN l_returnflag = 'R'
                     THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_R
FROM lineitem
GROUP BY l_linestatus
""",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark .pivot() with an explicit value list (no value-discovery scan
    — at 100 TB the two-pass inference is a full extra read)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(_dec("l_quantity")).cast("double"))
    )
    return out.select(
        "l_linestatus",
        F.col("A").alias("qty_A"),
        F.col("N").alias("qty_N"),
        F.col("R").alias("qty_R"),
    )


# --- exact percentiles -----------------------------------------------------
@register(
    "agg_percentiles",
    oracle="""
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS median_price,
       quantile_cont(o_totalprice, 0.9) AS p90_price,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderstatus
""",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("median_price"),
        F.percentile("o_totalprice", F.lit(0.9)).alias("p90_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


# --- exact distinct count --------------------------------------------------
@register(
    "agg_count_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_suppkey").alias("n_suppliers"),
        F.count_distinct("l_partkey").alias("n_parts"),
    )


# --- variance/stddev via exact decimal moments -----------------------------
@register(
    "agg_variance_decimal",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n,
       (CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))
                 * CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
        - CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
          * CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*))
       / (COUNT(*) - 1) AS var_acctbal
FROM customer
GROUP BY c_mktsegment
""",
)
def agg_variance_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance from exact decimal moments — reproducible across
    engines unlike the streaming stddev aggregate (whose intermediate
    float state is order-dependent)."""
    cu = load_table(spark, sf_dir, "customer")
    s1 = F.sum(_dec("c_acctbal", "14,2")).cast("double")
    s2 = F.sum(_dec("c_acctbal", "14,2") * _dec("c_acctbal", "14,2")).cast("double")
    n = F.count(F.lit(1))
    return cu.groupBy("c_mktsegment").agg(
        n.alias("n"),
        ((s2 - s1 * s1 / n) / (n - F.lit(1))).alias("var_acctbal"),
    )


# --- q4: semi-join (EXISTS) ------------------------------------------------
@register(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
""",
)
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    matched = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


# --- q12: conditional aggregation over a join ------------------------------
@register(
    "q12_shipmode_priority",
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
""",
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --- q14: ratio of conditional decimal sums --------------------------------
@register(
    "q14_promo_revenue",
    oracle="""
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                 END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
              AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
""",
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(4,2)")
    disc = _dec("l_extendedprice") * (one - _dec("l_discount", "4,2"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc)).cast("double")
                / F.sum(disc).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


# --- q18: large orders (HAVING via window) ---------------------------------
@register(
    "q18_large_orders",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderkey, o_custkey
HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150
""",
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    agg = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.sum(_dec("l_quantity")).alias("__qty"))
    )
    return agg.where(F.col("__qty") > 150).select(
        "o_orderkey",
        "o_custkey",
        F.col("__qty").cast("double").alias("total_qty"),
    )


# --- q19: disjunctive predicate pushdown -----------------------------------
@register(
    "q19_disjunctive",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
   OR (p_brand = 'Brand#5' AND p_size BETWEEN 10 AND 30 AND l_quantity < 10)
""",
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(4,2)")
    disc = _dec("l_extendedprice") * (one - _dec("l_discount", "4,2"))
    cond = (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 15)
        & (F.col("l_quantity") >= 10)
    ) | (
        (F.col("p_brand") == "Brand#5")
        & F.col("p_size").between(10, 30)
        & (F.col("l_quantity") < 10)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(F.sum(disc).cast("double").alias("revenue"))
    )


# --- q22: anti-join + scalar subquery --------------------------------------
@register(
    "q22_global_sales_opportunity",
    oracle="""
WITH avg_bal AS (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) AS a
    FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS total_bal
FROM customer, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
  )
GROUP BY c_nationkey
""",
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    # scalar subquery as broadcast crossJoin: the 1-row aggregate joins
    # into the plan instead of a driver-side collect(), so the whole query
    # is one job and the scan of customer is not planned twice
    avg_bal = cu.where(F.col("c_acctbal") > 0.0).agg(
        (F.sum(_dec("c_acctbal", "14,2")).cast("double") / F.count(F.lit(1))).alias(
            "__avg_bal"
        )
    )
    recent = o.where(
        F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
    )
    return (
        cu.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("__avg_bal"))
        .drop("__avg_bal")
        .join(
            recent.select(F.col("o_custkey").alias("c_custkey")),
            "c_custkey",
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec("c_acctbal", "14,2")).cast("double").alias("total_bal"),
        )
    )


# --- as-of join ------------------------------------------------------------
_ASOF_ORACLE = """
WITH purchases AS (
    SELECT user_id, ts, event_id AS purchase_id
    FROM events WHERE event_type = 'purchase'
),
signups AS (
    SELECT user_id, ts, MIN(event_id) AS signup_id
    FROM events WHERE event_type = 'signup'
    GROUP BY user_id, ts
)
SELECT p.user_id, p.purchase_id, s.signup_id, s.ts AS asof_ts
FROM purchases p ASOF LEFT JOIN signups s
  ON p.user_id = s.user_id AND p.ts >= s.ts
"""


@register("asof_purchase_signup", oracle=_ASOF_ORACLE)
def asof_purchase_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase enriched with the user's latest signup at/before it.

    Spark-side: union + carry-forward window (operators/asof.py), checked
    against DuckDB's native ASOF JOIN.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    signups = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("signup_id"))
    )
    out = asof_join(purchases, signups, on=["user_id"])
    return out.select("user_id", "purchase_id", "signup_id", "asof_ts")


# --- q7: two-nation volume (multi-table join + year extract) ---------------
@register(
    "q7_nation_volume",
    oracle="""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n1.n_name, n2.n_name, CAST(EXTRACT(year FROM l_shipdate) AS INT)
""",
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    su = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    one = F.lit(1).cast("decimal(4,2)")
    disc = _dec("l_extendedprice") * (one - _dec("l_discount", "4,2"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(n1), su.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cu.c_nationkey == F.col("c_nk"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(disc).cast("double").alias("revenue"))
    )


# --- q16: supplier-part diversity (distinct agg + not-in filter) -----------
@register(
    "q16_part_supplier_diversity",
    oracle="""
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand != 'Brand#13'
  AND p_size IN (5, 10, 15, 20, 25, 30)
GROUP BY p_brand, p_type, p_size
""",
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#13")
        & F.col("p_size").isin(5, 10, 15, 20, 25, 30)
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# --- sliding windows (size 2h, slide 1h → each event in 2 windows) ---------
@register(
    "ev_sliding_window",
    oracle="""
SELECT window_start, event_type, COUNT(*) AS n_events
FROM (
    SELECT unnest([date_trunc('hour', ts),
                   date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS window_start,
           event_type
    FROM events
)
GROUP BY window_start, event_type
""",
)
def ev_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.window with slide < size assigns each event to size/slide
    windows; the oracle enumerates the same window starts explicitly."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )


# --- groupwise max via join-back (q2 shape) --------------------------------
@register(
    "q2_groupwise_max",
    oracle="""
SELECT s.s_suppkey, s.s_nationkey, s.s_acctbal
FROM supplier s
JOIN (
    SELECT s_nationkey, MAX(s_acctbal) AS max_bal
    FROM supplier GROUP BY s_nationkey
) m ON s.s_nationkey = m.s_nationkey AND s.s_acctbal = m.max_bal
""",
)
def q2_groupwise_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated-subquery shape (TPC-H q2's min-cost supplier):
    aggregate per group, join back on (group, extreme)."""
    su = load_table(spark, sf_dir, "supplier")
    m = su.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.max("s_acctbal").alias("max_bal")
    )
    return (
        su.join(
            F.broadcast(m),
            (su.s_nationkey == m.nk) & (su.s_acctbal == m.max_bal),
        )
        .select("s_suppkey", "s_nationkey", "s_acctbal")
    )


# --- string function sweep -------------------------------------------------
@register(
    "op_string_funcs",
    oracle="""
SELECT p_partkey,
       upper(p_name) AS up,
       trim(p_brand) AS tr,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
       substr(p_type, 1, 3) AS ty3,
       length(p_name) AS ln,
       reverse(p_brand) AS rev,
       left(p_name, 4) AS l4,
       right(p_name, 3) AS r3,
       contains(p_name, 'widget') AS has_widget,
       starts_with(p_type, 'ECO') AS eco,
       split_part(p_brand, '#', 2) AS brand_num
FROM part
""",
)
def op_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.trim("p_brand").alias("tr"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded"),
        F.substring("p_type", 1, 3).alias("ty3"),
        F.length("p_name").cast("bigint").alias("ln"),
        F.reverse("p_brand").alias("rev"),
        F.left(F.col("p_name"), F.lit(4)).alias("l4"),
        F.right(F.col("p_name"), F.lit(3)).alias("r3"),
        F.contains(F.col("p_name"), F.lit("widget")).alias("has_widget"),
        F.startswith(F.col("p_type"), F.lit("ECO")).alias("eco"),
        F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2)).alias("brand_num"),
    )


# --- full outer + cross joins ----------------------------------------------
@register(
    "op_full_outer_join",
    oracle="""
WITH c AS (SELECT DISTINCT c_nationkey AS nk FROM customer WHERE c_custkey < 50),
     s AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
SELECT c.nk AS cust_nk, s.nk AS supp_nk
FROM c FULL OUTER JOIN s ON c.nk = s.nk
""",
)
def op_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 50)
        .select(F.col("c_nationkey").alias("nk"))
        .distinct()
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nk"))
        .distinct()
    )
    return c.join(s, c.nk == s.nk, "full_outer").select(
        c.nk.alias("cust_nk"), s.nk.alias("supp_nk")
    )


@register(
    "op_cross_join",
    oracle="""
SELECT r_name, x AS quarter
FROM region CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS x)
""",
)
def op_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").select("r_name")
    q = load_table(spark, sf_dir, "region").sparkSession.range(1, 5).select(
        F.col("id").cast("int").alias("quarter")
    )
    return r.crossJoin(q)


# forward as-of with tolerance: DuckDB has no forward ASOF operator, so
# the oracle states the semantics directly (min next ts per key, join
# back, tolerance nulls the match). epoch() and Spark's cast-to-double
# both yield exact seconds at the data's µs resolution.
_ASOF_FWD_ORACLE = """
WITH signups AS (
    SELECT user_id, ts, MIN(event_id) AS signup_id
    FROM events WHERE event_type = 'signup'
    GROUP BY user_id, ts
),
purchases AS (
    SELECT user_id, ts, MIN(event_id) AS purchase_id
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, ts
),
nxt AS (
    SELECT s.user_id, s.ts, s.signup_id, MIN(p.ts) AS nts
    FROM signups s
    LEFT JOIN purchases p ON p.user_id = s.user_id AND p.ts >= s.ts
    GROUP BY s.user_id, s.ts, s.signup_id
),
tol AS (
    SELECT user_id, ts, signup_id,
           CASE WHEN nts IS NOT NULL AND epoch(nts) - epoch(ts) <= 3600
                THEN nts END AS nts
    FROM nxt
)
SELECT t.user_id, t.signup_id, p.purchase_id, t.nts AS asof_ts
FROM tol t
LEFT JOIN purchases p ON p.user_id = t.user_id AND p.ts = t.nts
"""


@register("asof_next_purchase", oracle=_ASOF_FWD_ORACLE)
def asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each signup enriched with the user's NEXT purchase within an hour
    — the forward as-of direction plus tolerance (pandas merge_asof
    surface), same one-shuffle carry-forward shape as backward."""
    ev = load_table(spark, sf_dir, "events")
    signups = ev.where(F.col("event_type") == "signup").groupBy(
        "user_id", "ts"
    ).agg(F.min("event_id").alias("signup_id"))
    purchases = ev.where(F.col("event_type") == "purchase").groupBy(
        "user_id", "ts"
    ).agg(F.min("event_id").alias("purchase_id"))
    out = asof_join(
        signups, purchases, on=["user_id"],
        direction="forward", tolerance_seconds=3600,
    )
    return out.select("user_id", "signup_id", "purchase_id", "asof_ts")


# --- F1-F5 nulls + P6 prefix merged into one driver slot -------------------
@register(
    "op_null_prefix",
    oracle="""
SELECT 'null_funcs' AS kind, CAST(o_orderkey AS BIGINT) AS k1,
       COALESCE(NULLIF(o_orderstatus, 'F'), 'final') AS s1,
       CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice END AS d1,
       COALESCE(CASE WHEN o_orderstatus = 'O' THEN NULL
                     ELSE o_totalprice END, -1.0) AS d2,
       (CASE WHEN o_orderstatus = 'O' THEN NULL
             ELSE o_totalprice END) IS NULL AS b1,
       CAST(NULL AS BIGINT) AS k2
FROM orders
UNION ALL
SELECT 'prefix' AS kind, CAST(n_nationkey AS BIGINT) AS k1,
       n_name AS s1, CAST(NULL AS DOUBLE) AS d1, CAST(NULL AS DOUBLE) AS d2,
       CAST(NULL AS BOOLEAN) AS b1, CAST(n_regionkey AS BIGINT) AS k2
FROM nation
""",
)
def op_null_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The null-handling sweep (``null_funcs``, F1-F5: null tests /
    nullif / coalesce) and the all-columns rename (``prefix``, P6:
    ``prefix_columns``) as one tagged frame."""
    from wikidatabots_spark.functions.core import prefix_columns

    o = load_table(spark, sf_dir, "orders")
    maybe = F.when(F.col("o_orderstatus") != "O", F.col("o_totalprice"))
    nulls = o.select(
        F.lit("null_funcs").alias("kind"),
        F.col("o_orderkey").cast("bigint").alias("k1"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("F")), F.lit("final")
        ).alias("s1"),
        maybe.alias("d1"),
        F.coalesce(maybe, F.lit(-1.0)).alias("d2"),
        maybe.isNull().alias("b1"),
        F.lit(None).cast("bigint").alias("k2"),
    )
    pre = prefix_columns(load_table(spark, sf_dir, "nation"), "wd_").select(
        F.lit("prefix").alias("kind"),
        F.col("wd_n_nationkey").cast("bigint").alias("k1"),
        F.col("wd_n_name").alias("s1"),
        F.lit(None).cast("double").alias("d1"),
        F.lit(None).cast("double").alias("d2"),
        F.lit(None).cast("boolean").alias("b1"),
        F.col("wd_n_regionkey").cast("bigint").alias("k2"),
    )
    return nulls.unionByName(pre)


# --- sequence-pattern mining (MATCH_RECOGNIZE-lite) ------------------------
_SEQ_PATTERN = "view,click,purchase"

_SEQ_PATTERN_ORACLE = f"""
WITH seqs AS (
    SELECT user_id, COUNT(*) AS n_events,
           array_to_string(list(event_type ORDER BY ts, event_id), ',') AS seq
    FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(seq, '{_SEQ_PATTERN}')) AS BIGINT) AS n_vcp
FROM seqs
"""


@register("ev_sequence_pattern", oracle=_SEQ_PATTERN_ORACLE)
def ev_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sequence-pattern counting (the MATCH_RECOGNIZE /
    funnel-regex idiom): each user's event types concatenate in strict
    (ts, event_id) order into one string, and the strictly-CONSECUTIVE
    view→click→purchase triple is counted by leftmost non-overlapping
    regexp — the adjacency-sensitive complement of ``ev_funnel_3step``
    (which allows gaps). A literal pattern keeps the two engines'
    regex dialects trivially aligned.

    Scale: one user_id exchange; the sequence string is bounded by the
    user's own event count and exists only inside the aggregate — at
    web scale per-entity sequences are short even when the corpus is
    not, which is why the collect-then-regex form beats a 3-way
    self-join on adjacency.
    """
    ev = load_table(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s.getField("event_type"),
        ),
        ",",
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.size(F.regexp_extract_all(seq, F.lit(_SEQ_PATTERN), F.lit(0)))
        .cast("bigint")
        .alias("n_vcp"),
    )


# --- cohort lifetime value curve -------------------------------------------
_COHORT_LTV_ORACLE = """
WITH first_seen AS (
    SELECT user_id, date_trunc('week', MIN(ts)) AS cw FROM events
    GROUP BY user_id
),
wk AS (
    SELECT f.cw, CAST(date_diff('day', f.cw, date_trunc('week', e.ts)) // 7
                      AS INT) AS week_offset,
           SUM(CAST(e.value AS DECIMAL(14,4))) AS wv
    FROM events e JOIN first_seen f USING (user_id)
    WHERE e.event_type = 'purchase'
    GROUP BY 1, 2
)
SELECT CAST(cw AS DATE) AS cohort_week, week_offset,
       CAST(wv AS DOUBLE) AS week_value,
       CAST(SUM(wv) OVER (PARTITION BY cw ORDER BY week_offset
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_value
FROM wk
"""


@register("ev_cohort_ltv", oracle=_COHORT_LTV_ORACLE)
def ev_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: purchase value per (signup-cohort
    week, week offset) plus the running cumulative — the revenue twin
    of ``ev_retention``'s activity matrix. Sums stay DECIMAL through
    both the weekly aggregate AND the cumulative window, so neither
    engine's summation order can change bits; the double cast happens
    once per output cell.

    Scale: per-user first-seen collapse (map-side combined), one join
    per purchase row, then the matrix is tiny (weeks × offsets) — the
    cumulative window runs on the matrix, not the fact table.
    """
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    wk = (
        ev.where(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cw",
            (
                F.datediff(F.to_date(F.date_trunc("week", "ts")), F.to_date("cw"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.sum(_dec("value", "14,4")).alias("wv"))
    )
    cum = Window.partitionBy("cw").orderBy("week_offset").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return wk.select(
        F.to_date("cw").alias("cohort_week"),
        "week_offset",
        F.col("wv").cast("double").alias("week_value"),
        F.sum("wv").over(cum).cast("double").alias("cum_value"),
    )


# --- top event paths (sequence n-grams) ------------------------------------
_TOPK_PATHS_ORACLE = """
WITH seqs AS (
    SELECT user_id, list(event_type ORDER BY ts, event_id) AS el
    FROM events GROUP BY user_id
),
tris AS (
    SELECT unnest(list_transform(
               generate_series(1, greatest(len(el) - 2, 0)),
               i -> el[i] || '>' || el[i+1] || '>' || el[i+2])) AS path
    FROM seqs
),
counts AS (SELECT path, COUNT(*) AS n FROM tris GROUP BY path)
SELECT path, CAST(n AS BIGINT) AS n_occurrences,
       CAST(row_number() OVER (ORDER BY n DESC, path) AS INT) AS rank
FROM counts
ORDER BY n DESC, path
LIMIT 10
"""


@register("ev_topk_paths", oracle=_TOPK_PATHS_ORACLE)
def ev_topk_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most common 3-event behavioral paths (sequence n-grams):
    each user's ordered event types decompose into consecutive
    trigram paths counted corpus-wide — the exploratory complement of
    the hypothesis-driven funnels (you pick the funnel AFTER reading
    this table). Indexed-transform trigram build mirrors the text
    shingler; ties rank lexicographically.

    Scale: one user_id exchange to order sequences, one path groupBy
    (map-side combined — path cardinality <= |event_types|^3, tiny),
    top-k on the count table.
    """
    ev = load_table(spark, sf_dir, "events")
    el = F.transform(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
        lambda s: s.getField("event_type"),
    )
    seqs = ev.groupBy("user_id").agg(el.alias("el"))
    tri = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size("el") - 2, F.lit(0))
        ),
        lambda i: F.concat_ws(
            ">",
            F.element_at("el", i),
            F.element_at("el", i + 1),
            F.element_at("el", i + 2),
        ),
    )
    counts = (
        seqs.select(F.explode(tri).alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
    )
    # top-10 via orderBy+limit FIRST (TakeOrderedAndProject — no
    # path-vocabulary-scale global window; VERDICT r5 next #1 class),
    # then the rank window runs over 10 rows only
    top = counts.orderBy(F.col("n_occurrences").desc(), F.col("path")).limit(10)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("path"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# --- equi-width histogram ---------------------------------------------------
_HISTOGRAM_ORACLE = """
WITH bounds AS (
    SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
),
binned AS (
    SELECT least(CAST(floor((o_totalprice - lo) / ((hi - lo) / 20.0)) AS INT),
                 19) AS bin,
           lo, hi
    FROM orders, bounds
)
SELECT CAST(bin AS INT) AS bin,
       CAST(lo + bin * ((hi - lo) / 20.0) AS DOUBLE) AS bin_lo,
       CAST(lo + (bin + 1) * ((hi - lo) / 20.0) AS DOUBLE) AS bin_hi,
       CAST(COUNT(*) AS BIGINT) AS n
FROM binned GROUP BY bin, lo, hi
"""


@register("agg_histogram", oracle=_HISTOGRAM_ORACLE)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin equi-width histogram of order totalprice with the max
    value folded into the last bin (the least() guard — without it the
    max lands in a phantom 21st bin). Bin edges derive from one
    broadcast (lo, hi) aggregate; the float bin width is a fixed
    expression tree, so both engines compute identical bin ids.

    Scale: one tiny bounds aggregate broadcast into a narrow binning
    map, then a 20-group map-side-combined groupBy — histogram cost is
    scan cost, the profile-everything default.
    """
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    binned = o.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / 20.0)
            ).cast("int"),
            F.lit(19),
        ).alias("bin"),
        "lo",
        "hi",
    )
    return binned.groupBy("bin", "lo", "hi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).select(
        "bin",
        (F.col("lo") + F.col("bin") * ((F.col("hi") - F.col("lo")) / 20.0))
        .cast("double")
        .alias("bin_lo"),
        (
            F.col("lo")
            + (F.col("bin") + 1) * ((F.col("hi") - F.col("lo")) / 20.0)
        )
        .cast("double")
        .alias("bin_hi"),
        "n",
    )
