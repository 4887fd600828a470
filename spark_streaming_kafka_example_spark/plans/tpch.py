"""General analytics capability matrix over the TPC-H-ish tables.

The reference exercises only a left-outer join and sum/count aggregation
(SURVEY §2.5-§2.8); these queries cover the join family, sorts/limits, set
ops, distinct/rollup/cube/pivot, window functions, sessionization, and the
as-of join that any user of a Spark engine reaches for next. All pure
DataFrame API -> Catalyst; float aggregates rounded on both sides
(plans/__init__ conventions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.asof import asof_join
from ..operators.sessionize import sessionize
from ..sources import load_table
from . import register

# ---------------------------------------------------------------------------
# TPC-H Q1: the canonical scan -> filter -> groupBy -> multi-agg. Filter and
# column pruning both push into the parquet scan (verified via explain in
# tests/test_plans_scale.py).
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q3-style shipping priority: 3-way join + agg + deterministic top-k
# (sort/limit capability, SURVEY §2.8). Scale: customer filter first, joins
# ordered small->large, AQE picks broadcast for the filtered build sides.
# ---------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5-style local-supplier volume: 6-table join tree. Dimensions
# (region/nation) broadcast; fact-fact joins shuffle on their keys.
# ---------------------------------------------------------------------------


@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n) for n in
         ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    joined = (
        t["customer"]
        .join(t["orders"], t["customer"].c_custkey == t["orders"].o_custkey)
        .join(t["lineitem"], F.col("o_orderkey") == t["lineitem"].l_orderkey)
        .join(t["supplier"], (F.col("l_suppkey") == t["supplier"].s_suppkey)
              & (F.col("c_nationkey") == t["supplier"].s_nationkey))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == t["nation"].n_nationkey)
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == t["region"].r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


# ---------------------------------------------------------------------------
# Join family beyond the reference's single left-outer (SURVEY §2.5 note).
# ---------------------------------------------------------------------------


@register(
    "join_inner_agg",
    """
    SELECT c_mktsegment, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_inner_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "join_left_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_left_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_full_outer",
    """
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust
               FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, count(*) AS n_supp
               FROM supplier GROUP BY 1)
    SELECT coalesce(c.nk, s.nk) AS nationkey, c.n_cust, s.n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cust.join(supp, cust.nk_c == supp.nk_s, "full_outer").select(
        F.coalesce("nk_c", "nk_s").alias("nationkey"), "n_cust", "n_supp"
    )


@register(
    "join_cross",
    "SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return region.crossJoin(nation).select("r_name", "n_name")


# ---------------------------------------------------------------------------
# Sort / limit (deterministic top-k) — SURVEY §2.8. Spark TakeOrderedAndProject
# computes per-partition top-k then merges: no global sort at scale.
# ---------------------------------------------------------------------------


@register(
    "sort_limit_topk",
    """
    SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )


# ---------------------------------------------------------------------------
# Set operations — SURVEY §2.8 (absent from reference; engine capability).
# ---------------------------------------------------------------------------


@register(
    "set_union_distinct",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION SELECT s_nationkey FROM supplier
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@register(
    "set_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
    INTERSECT SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.intersect(s)


@register(
    "set_except",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT SELECT s_nationkey FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    # subtract == EXCEPT (set) semantics; exceptAll would keep leftover
    # multiplicities from the bag difference.
    return c.subtract(s)


# ---------------------------------------------------------------------------
# Distinct / grouping-set aggregates (SURVEY §2.6 note: absent from
# reference, free in PySpark).
# ---------------------------------------------------------------------------


@register(
    "agg_count_distinct",
    """
    SELECT c_mktsegment,
           count(DISTINCT c_nationkey) AS n_nations,
           count(*) AS n_cust,
           round(avg(c_acctbal), 4) AS avg_bal,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


@register("agg_approx_distinct")  # HLL sketch != DuckDB's -> rows-only check
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct capability (SURVEY §2.6): HLL++ sketch, one pass,
    no exact-distinct shuffle — the 100 TB way to count uniques."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.approx_count_distinct("o_custkey").alias("approx_custs"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_rollup",
    """
    SELECT c_mktsegment, c_nationkey, count(*) AS n,
           round(sum(c_acctbal), 2) AS bal
    FROM customer GROUP BY ROLLUP (c_mktsegment, c_nationkey)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .rollup("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("c_acctbal"), 2).alias("bal"))
    )


@register(
    "agg_cube",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 2) AS F,
           round(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 2) AS O,
           round(sum(o_totalprice) FILTER (o_orderstatus = 'P'), 2) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )


# ---------------------------------------------------------------------------
# Window functions (rank / running / lag) — pyspark_guide "Top-K per group".
# ---------------------------------------------------------------------------


@register(
    "window_topk_per_group",
    """
    SELECT c_mktsegment, c_custkey, c_acctbal, rnk FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey) AS rnk
        FROM customer)
    WHERE rnk <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        load_table(spark, sf_dir, "customer")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rnk")
    )


@register(
    "window_running_sum",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 2) AS running,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running"),
        F.row_number().over(w).alias("rn"),
    )


@register(
    "window_lag_delta",
    """
    SELECT event_id, user_id,
           round(value - lag(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id), 2) AS delta
    FROM events
    """,
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta"),
    )


# ---------------------------------------------------------------------------
# Sessionization (batch twin of streaming session_window).
# ---------------------------------------------------------------------------


@register(
    "sessionize_gap_30m",
    """
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN date_diff('second',
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts)
                        > 1800
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), sessions AS (
        SELECT user_id, ts, value,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           round(sum(value), 2) AS session_value,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
)
def sessionize_gap_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = sessionize(
        load_table(spark, sf_dir, "events"), key="user_id", ts_col="ts", gap_seconds=1800
    )
    return df.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("session_value"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# As-of join — DuckDB has native ASOF; Spark side is the windowed-union
# composition in operators/asof.py.
# ---------------------------------------------------------------------------


@register(
    "asof_purchase_last_click",
    """
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.ts AS ts_click, c.value AS value_click
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = asof_join(
        purchases, clicks, key="user_id", right_cols=("value",), suffix="_click"
    )
    return joined.select("event_id", "user_id", "ts", "value", "ts_click", "value_click")


# ---------------------------------------------------------------------------
# Exact median / interpolated percentile (SURVEY §2.6 extension; both
# engines define the interpolated quantile identically).
# ---------------------------------------------------------------------------


@register(
    "agg_median_percentile",
    """
    SELECT c_mktsegment,
           round(quantile_cont(c_acctbal, 0.5), 4) AS median_bal,
           round(quantile_cont(c_acctbal, 0.9), 4) AS p90_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_median_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("median_bal"),
            F.round(F.expr("percentile(c_acctbal, 0.9)"), 4).alias("p90_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Unpivot / melt (SURVEY §2.8 family): wide measures -> (measure, value).
# ---------------------------------------------------------------------------


@register(
    "unpivot_measures",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'quantity', l_quantity, 'price', l_extendedprice, "
        "'discount', l_discount) AS (measure, val)",
    )


# ---------------------------------------------------------------------------
# DISTINCT projection (dropDuplicates capability, deterministically).
# ---------------------------------------------------------------------------


@register(
    "distinct_pairs",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct()


# ---------------------------------------------------------------------------
# Batch session_window (W5 extension: the built-in gap-session operator;
# streaming twin is the same call on a stream). Oracle: lag/cumsum session
# derivation with the same >= gap boundary on exact event time.
# ---------------------------------------------------------------------------


SESSION_WINDOW_ORACLE = """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
        SELECT user_id, ts,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """


@register("session_window_batch", SESSION_WINDOW_ORACLE)
def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Range join (interval containment) — bucketize-then-refine composition
# (operators/rangejoin.py); the oracle states the plain inequality join.
# ---------------------------------------------------------------------------


RANGE_JOIN_ORACLE = """
    SELECT p.event_id AS purchase_id, e.event_id AS error_id, e.ts AS error_ts
    FROM events p JOIN events e ON p.user_id = e.user_id
    WHERE p.event_type = 'purchase' AND e.event_type = 'error'
      AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL '1 hour'
    """


@register("range_join_purchase_errors", RANGE_JOIN_ORACLE)
def range_join_purchase_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import interval_point_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("p_end"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", "ts"
    )
    joined = interval_point_join(
        purchases, errors, key="user_id", start_col="p_start", end_col="p_end",
        ts_col="ts", bucket_seconds=3600,
    )
    return joined.select("purchase_id", "error_id", F.col("ts").alias("error_ts"))


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS through the SQL entry point (U2 + §2.6 extension).
# ---------------------------------------------------------------------------


@register(
    "agg_grouping_sets",
    """
    SELECT c_mktsegment, c_nationkey, count(*) AS n
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey), (c_nationkey), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_gs")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, count(*) AS n
        FROM customer_gs
        GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey), (c_nationkey), ())
        """
    )


# ---------------------------------------------------------------------------
# Scalar-function tours: the everyday string/datetime/conditional/null
# surface, pinned cross-engine. One query per family keeps the matrix
# readable while touring many functions.
# ---------------------------------------------------------------------------


@register(
    "functions_string_tour",
    """
    SELECT n_nationkey,
           upper(n_name) AS up, lower(n_name) AS lo,
           substring(n_name, 2, 3) AS sub,
           length(n_name) AS len,
           trim(concat('  ', n_name, ' ')) AS trimmed,
           lpad(n_name, 12, '.') AS padded,
           replace(n_name, 'A', '@') AS replaced,
           regexp_replace(n_name, '[AEIOU]', '*', 'g') AS devoweled,
           reverse(n_name) AS rev,
           strpos(n_name, 'AN') AS posn,
           split_part(n_name, 'A', 1) AS first_part
    FROM nation
    """,
)
def functions_string_tour(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.upper("n_name").alias("up"),
        F.lower("n_name").alias("lo"),
        F.substring("n_name", 2, 3).alias("sub"),
        F.length("n_name").alias("len"),
        F.trim(F.concat(F.lit("  "), F.col("n_name"), F.lit(" "))).alias("trimmed"),
        F.lpad("n_name", 12, ".").alias("padded"),
        F.replace(F.col("n_name"), F.lit("A"), F.lit("@")).alias("replaced"),
        F.regexp_replace("n_name", "[AEIOU]", "*").alias("devoweled"),
        F.reverse("n_name").alias("rev"),
        F.instr("n_name", "AN").alias("posn").cast("long"),
        F.split_part(F.col("n_name"), F.lit("A"), F.lit(1)).alias("first_part"),
    )


@register(
    "functions_datetime_tour",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(day(o_orderdate) AS INT) AS dom,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           o_orderdate + INTERVAL '30 days' AS plus30,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
                AS BIGINT) AS days_since_95
    FROM orders WHERE o_orderkey < 200
    """,
)
def functions_datetime_tour(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DuckDB dayofweek: 0=Sunday; Spark dayofweek: 1=Sunday -> +1 on oracle.
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.dayofweek("o_orderdate").alias("dow"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("plus30"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01 00:00:00").cast("timestamp")
        ).cast("long").alias("days_since_95"),
    )


@register(
    "functions_conditional_tour",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS band,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_masked,
           greatest(c_acctbal, 0.0) AS bal_floor,
           least(CAST(c_nationkey AS BIGINT), 10) AS nk_cap,
           CASE WHEN c_acctbal > 9999 THEN NULL ELSE round(c_acctbal, 2) END
               AS bal_or_null
    FROM customer
    """,
)
def functions_conditional_tour(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("band"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER"))
        .alias("seg_masked"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor"),
        F.least(F.col("c_nationkey").cast("long"), F.lit(10)).alias("nk_cap"),
        F.when(F.col("c_acctbal") > 9999, F.lit(None)).otherwise(
            F.round("c_acctbal", 2)
        ).alias("bal_or_null"),
    )


@register(
    "nulls_fill_and_drop",
    """
    WITH enriched AS (
        SELECT e.event_id, c.c_mktsegment
        FROM events e LEFT JOIN customer c
          ON e.user_id = c.c_custkey AND c.c_custkey < 100
    )
    SELECT event_id, coalesce(c_mktsegment, 'UNKNOWN') AS seg
    FROM enriched
    """,
)
def nulls_fill_and_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """na.fill over a join that manufactures nulls (only custkey<100
    matches)."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = e.join(c, "user_id", "left_outer").select(
        "event_id", F.col("c_mktsegment").alias("seg")
    )
    return joined.na.fill({"seg": "UNKNOWN"})


# ---------------------------------------------------------------------------
# Salted two-phase aggregation (skew tool, operators/salting.py): result ==
# the plain GROUP BY, so the oracle is the plain SQL.
# ---------------------------------------------------------------------------


@register(
    "agg_salted_skew",
    """
    SELECT event_type,
           round(sum(value), 2) AS total,
           count(*) AS n,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM events GROUP BY event_type
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.salting import salted_agg

    out = salted_agg(
        load_table(spark, sf_dir, "events"),
        keys=["event_type"],
        measures={
            "total": ("sum", "value"),
            "n": ("count", "event_id"),
            "lo": ("min", "value"),
            "hi": ("max", "value"),
        },
    )
    return out.select(
        "event_type",
        F.round("total", 2).alias("total"),
        "n",
        F.round("lo", 2).alias("lo"),
        F.round("hi", 2).alias("hi"),
    )


# ---------------------------------------------------------------------------
# Subquery surface through the SQL entry point: scalar subquery + IN
# (decorrelated by Catalyst into joins — no per-row re-execution).
# ---------------------------------------------------------------------------


@register(
    "subquery_scalar_above_avg",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
    """,
)
def subquery_scalar_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS price
        FROM orders_sq
        WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders_sq)
        """
    )


@register(
    "subquery_in_nations",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
    """,
)
def subquery_in_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_sq")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer_sq
        WHERE c_nationkey IN (SELECT n_nationkey FROM nation_sq
                              WHERE n_regionkey = 2)
        """
    )


@register(
    "set_union_by_name",
    """
    SELECT * FROM (
        SELECT c_custkey AS id, c_acctbal AS bal, c_mktsegment AS seg
        FROM customer WHERE c_custkey < 50
        UNION ALL BY NAME
        SELECT s_acctbal AS bal, s_suppkey AS id, NULL AS seg
        FROM supplier WHERE s_suppkey < 20
    )
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 50)
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_acctbal").alias("bal"),
            F.col("c_mktsegment").alias("seg"),
        )
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < 20)
        .select(F.col("s_acctbal").alias("bal"), F.col("s_suppkey").alias("id"))
    )
    return c.unionByName(s, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# Array-function tour: construction, membership, slicing, flatten, zip,
# higher-order transform/filter/aggregate — the array surface LLM pipelines
# lean on (token lists, embeddings, shingles).
# ---------------------------------------------------------------------------


@register(
    "functions_array_tour",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
           len(w) AS n,
           w[1] AS first_word,
           array_to_string(w[2:4], ' ') AS mid,
           list_contains(w, 'spark') AS has_spark,
           list_position(w, 'the') AS the_pos,
           array_to_string(list_transform(w[1:3], x -> upper(x)), '|') AS up3,
           len(list_filter(w, x -> length(x) > 4)) AS n_long,
           CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
               AS total_chars
    FROM t
    """,
)
def functions_array_tour(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(w).alias("n"),
        F.element_at(w, 1).alias("first_word"),
        F.concat_ws(" ", F.slice(w, 2, 3)).alias("mid"),
        F.array_contains(w, "spark").alias("has_spark"),
        F.array_position(w, "the").alias("the_pos"),
        F.concat_ws("|", F.transform(F.slice(w, 1, 3), lambda x: F.upper(x))).alias(
            "up3"
        ),
        F.size(F.filter(w, lambda x: F.length(x) > 4)).alias("n_long"),
        F.aggregate(
            w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
        ).alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Incremental top-k as an AGGREGATE (cf. EDBT'20 incremental top-k search):
# top-3 per (6h window, event_type) maintained via sort_array(collect_list)
# inside the agg — streaming-compatible (state-store incremental), unlike a
# post-agg rank. Values are scaled to exact integers before serialization so
# both engines format identically.
# ---------------------------------------------------------------------------

TOPK_WINDOW_ORACLE = """
    WITH ranked AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
               event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               event_id,
               row_number() OVER (
                   PARTITION BY time_bucket(INTERVAL '6 hours', ts), event_type
                   ORDER BY CAST(round(value * 100) AS BIGINT) DESC, event_id DESC
               ) AS rn
        FROM events
    )
    SELECT window_start, event_type,
           string_agg(cents || ':' || event_id, ',' ORDER BY rn) AS top3
    FROM ranked WHERE rn <= 3
    GROUP BY 1, 2
"""


def _topk_window_agg(df: DataFrame) -> DataFrame:
    item = F.struct(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.col("event_id").alias("event_id"),
    )
    top3 = F.slice(F.sort_array(F.collect_list(item), asc=False), 1, 3)
    as_str = F.concat_ws(
        ",",
        F.transform(
            top3, lambda s: F.concat_ws(":", s["cents"], s["event_id"])
        ),
    )
    return (
        df.groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(as_str.alias("top3"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "top3"
        )
    )


@register("topk_incremental_per_window", TOPK_WINDOW_ORACLE)
def topk_incremental_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topk_window_agg(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Time-series similarity (cf. EDBT'19 streaming series similarity):
# resample two event streams to aligned hourly buckets, then correlate —
# corr() is the classic normalized-similarity kernel and both engines share
# its sample-correlation definition.
# ---------------------------------------------------------------------------


@register(
    "timeseries_corr_view_click",
    """
    WITH buckets AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS h,
               round(sum(CASE WHEN event_type = 'view' THEN value ELSE 0 END), 4)
                   AS views,
               round(sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END), 4)
                   AS clicks
        FROM events WHERE event_type IN ('view', 'click')
        GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           round(corr(views, clicks), 4) AS view_click_corr
    FROM buckets
    """,
)
def timeseries_corr_view_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    buckets = (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.round(
                F.sum(F.when(F.col("event_type") == "view", F.col("value")).otherwise(0.0)),
                4,
            ).alias("views"),
            F.round(
                F.sum(F.when(F.col("event_type") == "click", F.col("value")).otherwise(0.0)),
                4,
            ).alias("clicks"),
        )
    )
    return buckets.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.corr("views", "clicks"), 4).alias("view_click_corr"),
    )


@register(
    "join_salted_skew",
    """
    SELECT e.event_id, e.user_id, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (operators/salting.py salted_join): result == the
    plain join, so the oracle states the plain SQL. The skew tool for when
    AQE can't split (window-pinned partitioning downstream)."""
    from ..operators.salting import salted_join

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = salted_join(ev, cust, key="user_id", salt_buckets=8)
    return out.select("event_id", "user_id", "c_mktsegment")


@register(
    "set_except_all",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey FROM supplier
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag difference (multiplicities subtract) vs set_except's set
    semantics — both are engine capabilities."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.exceptAll(s)


@register(
    "set_intersect_all",
    """
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 8000
    INTERSECT ALL
    SELECT c_nationkey FROM customer WHERE c_custkey % 2 = 0
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c1 = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 8000)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    c2 = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    return c1.intersectAll(c2)


@register(
    "asof_tolerance_30m",
    """
    SELECT p.event_id, p.user_id, p.ts, p.value,
           CASE WHEN c.ts >= p.ts - INTERVAL 30 MINUTE THEN c.ts END
               AS ts_click,
           CASE WHEN c.ts >= p.ts - INTERVAL 30 MINUTE THEN c.value END
               AS value_click
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_tolerance_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_purchase_last_click with pd.merge_asof-style tolerance: a last
    click older than 30 minutes nulls out instead of matching — attribution
    windows, staleness cutoffs. Same single-exchange plan; the window is a
    post-projection (operators/asof.py tolerance_seconds)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = asof_join(
        purchases, clicks, key="user_id", right_cols=("value",),
        suffix="_click", tolerance_seconds=1800,
    )
    return joined.select(
        "event_id", "user_id", "ts", "value", "ts_click", "value_click"
    )
