"""Extended TPC-H-adapted decision-support matrix.

The reference exercises one join + sum aggregation (SURVEY §2.5-§2.6); this
module completes the classic decision-support query shapes a Spark analytics
engine must plan well: EXISTS/NOT-EXISTS semi/anti joins (q4, q22),
scan-heavy selective aggregation (q6), multi-fact join trees with dimension
broadcasts (q7, q8, q9, q10), outer-join histograms (q13), conditional
aggregation (q12, q14), correlated scalar subqueries decorrelated into joins
(q15, q17), group-filtered semi joins (q18), and disjunctive pushdown
predicates (q19).

Testdata deltas vs canonical TPC-H (TESTDATA.md): no partsupp table, no
l_commitdate/l_receiptdate/l_shipmode, no c_phone. Queries whose canonical
form needs those columns are adapted to equivalent plan shapes over the
available columns and named accordingly; the plan shape (not the constant)
is what the engine is exercised on.

Scale notes: dimensions (nation/region/part/supplier at any realistic SF
ratio) broadcast explicitly; fact-fact joins shuffle on join keys with AQE
skew handling; aggregations are partial->final hash pairs; top-k goes
through TakeOrderedAndProject (never a global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources import load_table
from . import register


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]


# ---------------------------------------------------------------------------
# Q4 (adapted): order-priority count over EXISTS -> left-semi join with a
# non-equi conjunct (l_shipdate > o_orderdate stands in for the canonical
# l_commitdate < l_receiptdate).
# ---------------------------------------------------------------------------


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    orders = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Q6: the scan-dominant forecast-revenue query. Every predicate pushes into
# the parquet scan; the agg is a single partial->final pair over the
# surviving rows. At 100 TB this query is pure I/O + pushdown.
# ---------------------------------------------------------------------------


@register(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# Q7: volume shipping between distinct nations — two broadcast copies of the
# nation dimension hang off a 4-fact join tree; grouped by (nation pair,
# ship year).
# ---------------------------------------------------------------------------


@register(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 1) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier, lineitem, orders, customer, nation n1, nation n2
        WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
          AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
          AND c_nationkey = n2.n_nationkey
          AND n1.n_name <> n2.n_name
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp, li, orders, cust, nation = _t(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation"
    )
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        # 1 dp: with ~450 six-figure sums, cross-engine accumulation-order
        # noise lands some groups on a 2-dp half-cent rounding boundary.
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 1
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q8: a nation's market share within a region's order volume for one part
# type — conditional-sum ratio over a 6-table tree (region restricts the
# customer side; the supplier side tags each sale with its nation).
# ---------------------------------------------------------------------------


@register(
    "q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS nation
        FROM part, supplier, lineitem, orders, customer, nation n1, nation n2,
             region
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          AND l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
          AND r_name = 'EUROPE' AND s_nationkey = n2.n_nationkey
          AND p_type = 'STANDARD'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, supp, li, orders, cust, nation, region = _t(
        spark, sf_dir, "part", "supplier", "lineitem", "orders", "customer",
        "nation", "region",
    )
    part = part.filter(F.col("p_type") == "STANDARD")
    region = region.filter(F.col("r_name") == "EUROPE")
    n1 = nation.select("n_nationkey", "n_regionkey")
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == n1.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "nation",
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                4,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# Q9 (adapted): profit by supplier nation and year for a part-name family
# (p_name LIKE stands in for the canonical partsupp-costed profit; no
# partsupp table exists in the testdata).
# ---------------------------------------------------------------------------


@register(
    "q9_product_profit",
    """
    SELECT nation, o_year, round(sum(amount), 1) AS sum_profit
    FROM (
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INT) AS o_year,
               l_extendedprice * (1 - l_discount) AS amount
        FROM part, supplier, lineitem, orders, nation
        WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
          AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
          AND p_name LIKE '%gear%'
    )
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, supp, li, orders, nation = _t(
        spark, sf_dir, "part", "supplier", "lineitem", "orders", "nation"
    )
    part = part.filter(F.col("p_name").like("%gear%"))
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
    )
    return (
        joined.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("amount"),
        )
        .groupBy("nation", "o_year")
        # 1 dp, not 2: one sf0.001 group sums to x.05499999… (a 2-dp rounding
        # boundary), where cross-engine accumulation-order noise flips the cent.
        .agg(F.round(F.sum("amount"), 1).alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# Q10: returned-item revenue per customer, deterministic top-20. The limit
# runs over the ROUNDED revenue with a custkey tiebreak so both engines pick
# identical rows at the boundary.
# ---------------------------------------------------------------------------


@register(
    "q10_returned_items",
    """
    SELECT * FROM (
        SELECT c_custkey, c_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               round(c_acctbal, 2) AS acctbal, n_name
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
          AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, c_acctbal, n_name
    )
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders, li, nation = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    orders = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = li.filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q12 (adapted): conditional line counts by linestatus — o_orderpriority
# stands in for the missing l_shipmode; same CASE-sum plan shape.
# ---------------------------------------------------------------------------


@register(
    "q12_priority_shipping",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q13: customer order-count histogram — left outer join with an ON-clause
# filter (orders dropped by predicate still yield the customer with count 0),
# then a second aggregation over the counts.
# ---------------------------------------------------------------------------


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Q14: promo revenue share — conditional-sum ratio over a broadcast part
# join restricted to one ship month.
# ---------------------------------------------------------------------------


@register(
    "q14_promo_revenue",
    """
    SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, part = _t(spark, sf_dir, "lineitem", "part")
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey).agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", disc_price).otherwise(0.0))
            / F.sum(disc_price),
            4,
        ).alias("promo_revenue")
    )


# ---------------------------------------------------------------------------
# Q15: top supplier by quarterly revenue — the canonical revenue view plus a
# scalar-max subquery; the Spark side expresses "= (SELECT max(...))" as a
# rank-1 window over the aggregated view (one extra exchange of |suppliers|
# rows, never |lineitem|).
# ---------------------------------------------------------------------------


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND round(total_revenue, 2) = (SELECT max(round(total_revenue, 2)) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li, supp = _t(spark, sf_dir, "lineitem", "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    # Rank on the ROUNDED revenue: Spark and DuckDB sum partitions in
    # different orders, so last-ulp differences on the raw double could
    # change who ties for rank 1 (oracle convention, plans/__init__.py).
    top = revenue.withColumn(
        "rnk", F.rank().over(Window.orderBy(F.desc(F.round("total_revenue", 2))))
    ).filter(F.col("rnk") == 1)
    return (
        F.broadcast(top)
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.round("total_revenue", 2).alias("total_revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q16 (adapted): distinct-supplier count per part descriptor — lineitem
# stands in for the missing partsupp as the part<->supplier relationship.
# ---------------------------------------------------------------------------


@register(
    "q16_parts_supplier",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#13'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, part = _t(spark, sf_dir, "lineitem", "part")
    part = part.filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q17: small-quantity-order revenue — correlated scalar subquery
# (per-part average quantity) decorrelated into an aggregate + equi-join;
# the fact side never re-scans per row.
# ---------------------------------------------------------------------------


@register(
    "q17_small_quantity",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#13'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, part = _t(spark, sf_dir, "lineitem", "part")
    part = part.filter(F.col("p_brand") == "Brand#13")
    avg_qty = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# Q18: large-volume customers — group-filtered semi join (HAVING over the
# lineitem self-aggregation feeds an IN), deterministic top-100.
# ---------------------------------------------------------------------------


@register(
    "q18_large_volume_customer",
    """
    SELECT * FROM (
        SELECT c_name, c_custkey, o_orderkey, o_orderdate,
               round(o_totalprice, 2) AS o_totalprice,
               round(sum(l_quantity), 2) AS total_qty
        FROM customer, orders, lineitem
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
          AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    )
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        orders.join(big_orders, orders.o_orderkey == F.col("big_orderkey"), "left_semi")
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q19: discounted revenue under disjunctive brand/quantity predicates — the
# classic OR-of-ANDs pushdown shape; the join stays a single broadcast hash
# join with the residual disjunction evaluated post-probe.
# ---------------------------------------------------------------------------


@register(
    "q19_discounted_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#13' AND l_quantity BETWEEN 1 AND 11
            AND p_size BETWEEN 1 AND 5)
        OR (p_brand = 'Brand#25' AND l_quantity BETWEEN 10 AND 20
            AND p_size BETWEEN 1 AND 10)
        OR (p_brand = 'Brand#9' AND l_quantity BETWEEN 20 AND 30
            AND p_size BETWEEN 1 AND 15))
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, part = _t(spark, sf_dir, "lineitem", "part")
    qty = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#13")
            & qty.between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#25")
            & qty.between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#9")
            & qty.between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q22 (adapted): global sales opportunity — scalar-average subquery +
# NOT EXISTS anti join. c_nationkey stands in for the missing c_phone
# country code, and "no order since 2000" for "no order at all" (every
# synthetic customer has orders); the plan shape (broadcast scalar, anti
# join on the fact) is canonical.
# ---------------------------------------------------------------------------


@register(
    "q22_global_sales_opportunity",
    """
    SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
    FROM (
        SELECT c_nationkey AS cntrycode, c_acctbal
        FROM customer c
        WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
          AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                           WHERE c_acctbal > 0.0
                             AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    )
    GROUP BY cntrycode
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    codes = [1, 3, 5, 7, 9, 11, 13]
    candidates = cust.filter(F.col("c_nationkey").isin(codes))
    avg_bal = candidates.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        candidates.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")),
            candidates.c_custkey == orders.o_custkey,
            "left_anti",
        )
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Q2 (adapted): minimum-cost supplier per part within a region. The distinct
# (l_partkey, l_suppkey) projection of lineitem stands in for the missing
# partsupp bridge, and s_acctbal for ps_supplycost; the plan shape —
# dimension-filtered bridge, per-part minimum, join-back, deterministic
# top-k — is canonical Q2.
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    """
    WITH bridge AS (
        SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey
        FROM lineitem
    ), costed AS (
        SELECT p_partkey, p_type, s_suppkey, s_name,
               round(s_acctbal, 2) AS cost, n_name
        FROM part, bridge, supplier, nation, region
        WHERE p_partkey = partkey AND s_suppkey = suppkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'EUROPE' AND p_size = 15
    )
    SELECT * FROM (
        SELECT * FROM costed c
        WHERE cost = (SELECT min(cost) FROM costed c2
                      WHERE c2.p_partkey = c.p_partkey)
    )
    ORDER BY cost, p_partkey, s_suppkey
    LIMIT 20
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part, li, supp, nation, region = _t(
        spark, sf_dir, "part", "lineitem", "supplier", "nation", "region"
    )
    part = part.filter(F.col("p_size") == 15)
    region = region.filter(F.col("r_name") == "EUROPE")
    bridge = li.select(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).distinct()
    costed = (
        bridge.join(F.broadcast(part), F.col("partkey") == part.p_partkey)
        .join(F.broadcast(supp), F.col("suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select(
            "p_partkey", "p_type", "s_suppkey", "s_name",
            F.round("s_acctbal", 2).alias("cost"), "n_name",
        )
    )
    # "= (SELECT min ...)" decorrelates to a rank-1 window per part: the
    # bridge shuffles once on p_partkey, never re-scanning per row.
    w = Window.partitionBy("p_partkey").orderBy("cost")
    return (
        costed.withColumn("mn", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("mn"))
        .drop("mn")
        .orderBy("cost", "p_partkey", "s_suppkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q11 (adapted): important-stock identification — per-part shipped value
# with a HAVING over a global-scalar fraction subquery. lineitem value
# stands in for partsupp stock value; the two-pass shape (grouped agg +
# broadcast scalar of its own total) is canonical Q11.
# ---------------------------------------------------------------------------


@register(
    "q11_important_stock",
    """
    WITH pv AS (
        SELECT l_partkey, sum(l_extendedprice * l_quantity) AS val
        FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, round(val, 2) AS part_value
    FROM pv
    WHERE val > (SELECT sum(val) * 1.5 / count(*) FROM pv)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11's HAVING-vs-global-scalar shape. The canonical fraction
    (0.0001/SF) is data-scale-dependent; here the cut is 1.5x the MEAN
    per-part value, which is scale-free — non-empty and selective at every
    SF (49 of 2000 parts at sf0.01), so the driver row actually exercises
    the scalar-subquery arithmetic instead of matching empty relations."""
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("val")
    )
    threshold = pv.agg(
        (F.sum("val") * 1.5 / F.count(F.lit(1))).alias("threshold")
    )
    return (
        pv.crossJoin(F.broadcast(threshold))
        .filter(F.col("val") > F.col("threshold"))
        .select("l_partkey", F.round("val", 2).alias("part_value"))
    )


# ---------------------------------------------------------------------------
# Q20 (adapted): suppliers with significant shipments of a part family in a
# year — the nested-IN chain (parts LIKE -> aggregated lineitem HAVING ->
# supplier semi join) mirrors canonical Q20 with lineitem for partsupp.
# ---------------------------------------------------------------------------


@register(
    "q20_excess_shippers",
    """
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE '%gear%')
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey
        HAVING sum(l_quantity) > 100
    )
    """,
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp, li, part = _t(spark, sf_dir, "supplier", "lineitem", "part")
    gear = part.filter(F.col("p_name").like("%gear%")).select("p_partkey")
    shippers = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(gear), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
    )
    return supp.join(
        shippers, supp.s_suppkey == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


# ---------------------------------------------------------------------------
# Q21 (adapted): suppliers who alone were late on multi-supplier orders —
# the canonical double-correlated EXISTS / NOT EXISTS self-join pair
# ("another supplier participated" / "no other supplier was late"), with
# ship-lag beyond 60 days standing in for the missing receipt/commit dates.
# ---------------------------------------------------------------------------


@register(
    "q21_waiting_supplier",
    """
    WITH late AS (
        SELECT l_orderkey, l_suppkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL '60 days'
    )
    SELECT s_name, count(*) AS numwait
    FROM supplier s JOIN late l1 ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp, li, orders = _t(spark, sf_dir, "supplier", "lineitem", "orders")
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select(F.col("l_orderkey").alias("lt_orderkey"),
                F.col("l_suppkey").alias("lt_suppkey"))
    )
    # EXISTS: some other supplier on the order -> semi join against lineitem
    # keyed on order, requiring a different suppkey (residual condition).
    other_any = li.select(F.col("l_orderkey").alias("o2_orderkey"),
                          F.col("l_suppkey").alias("o2_suppkey"))
    with_other = late.join(
        other_any,
        (F.col("lt_orderkey") == F.col("o2_orderkey"))
        & (F.col("lt_suppkey") != F.col("o2_suppkey")),
        "left_semi",
    )
    # NOT EXISTS: no other LATE supplier on the order -> anti self-join.
    other_late = late.select(F.col("lt_orderkey").alias("o3_orderkey"),
                             F.col("lt_suppkey").alias("o3_suppkey"))
    sole_late = with_other.join(
        other_late,
        (F.col("lt_orderkey") == F.col("o3_orderkey"))
        & (F.col("lt_suppkey") != F.col("o3_suppkey")),
        "left_anti",
    )
    return (
        sole_late.join(F.broadcast(supp), F.col("lt_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
