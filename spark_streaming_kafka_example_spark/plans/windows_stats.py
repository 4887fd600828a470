"""Window-function ranking/navigation tours and statistical aggregates.

Completes SURVEY §2.8's "free with PySpark" families beyond the basics
already in tpch.py (row_number top-k, running sum, lag delta): rank
variants (rank/dense_rank/ntile/percent_rank/cume_dist), frame navigation
(first/last value over bounded frames), event-time rolling aggregates via
RANGE BETWEEN INTERVAL frames, and the second-moment aggregate surface
(stddev/variance/corr/covar).

Scale notes: every window here partitions by a key (user_id /
c_mktsegment) — one hash exchange, then per-partition sort; no global
windows over the fact table. The rolling range frame is the streaming-
friendly shape: state per partition is bounded by the frame width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources import load_table
from . import hex_bigint_sql, register


@register(
    "window_rank_tour",
    """
    SELECT c_custkey, c_mktsegment,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 4) AS pct_rank,
           round(cume_dist() OVER w, 4) AS cdist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def window_rank_tour(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cdist"),
    )


@register(
    "window_frame_navigation",
    """
    SELECT event_id, user_id,
           round(first_value(value) OVER w, 2) AS first_val,
           round(last_value(value) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
               AS final_val,
           round(lead(value, 1) OVER w, 2) AS next_val,
           round(avg(value) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_frame_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ma3 = w.rowsBetween(-2, 0)
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.first("value").over(w), 2).alias("first_val"),
        F.round(F.last("value").over(whole), 2).alias("final_val"),
        F.round(F.lead("value", 1).over(w), 2).alias("next_val"),
        F.round(F.avg("value").over(ma3), 4).alias("ma3"),
    )


@register(
    "window_rolling_1h_range",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER w, 4) AS rolling_sum_1h,
           CAST(count(*) OVER w AS BIGINT) AS rolling_n_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
    """,
)
def window_rolling_1h_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time rolling window via RANGE frame — peers share the frame, so
    the result is deterministic under duplicate timestamps (unlike ROWS).
    Expressed through the SQL entry point: the DataFrame ``rangeBetween``
    API takes only numeric offsets, while SQL accepts interval bounds."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_roll")
    return spark.sql(
        """
        SELECT event_id, user_id,
               round(sum(value) OVER w, 4) AS rolling_sum_1h,
               count(*) OVER w AS rolling_n_1h
        FROM events_roll
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        """
    )


@register(
    "agg_stats_tour",
    """
    SELECT event_type,
           round(stddev_samp(value), 4) AS sd,
           round(var_samp(value), 4) AS var,
           round(stddev_pop(value), 4) AS sd_pop,
           round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_uid,
           round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS covar_uid,
           round(avg(value), 4) AS mean
    FROM events
    GROUP BY event_type
    """,
)
def agg_stats_tour(spark: SparkSession, sf_dir: str) -> DataFrame:
    uid = F.col("user_id").cast("double")
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.stddev_samp("value"), 4).alias("sd"),
            F.round(F.var_samp("value"), 4).alias("var"),
            F.round(F.stddev_pop("value"), 4).alias("sd_pop"),
            F.round(F.corr(F.col("value"), uid), 4).alias("corr_uid"),
            F.round(F.covar_samp(F.col("value"), uid), 4).alias("covar_uid"),
            F.round(F.avg("value"), 4).alias("mean"),
        )
    )


@register(
    "sample_stratified_hash",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total
    FROM (
        SELECT * FROM (
            SELECT event_type, value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY md5(CAST(event_id AS VARCHAR)),
                                               event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS grp_n
            FROM events
        ) WHERE rn <= greatest(CAST(floor(grp_n * 0.1) AS BIGINT), 1)
    )
    GROUP BY event_type
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified 10% sample: md5-ordered row_number per
    stratum (not ``sampleBy`` — RNG seeds don't reproduce across engines).
    The per-group quota keeps every stratum represented — the training-data
    sampling shape (class-balanced subsets) at any scale: one exchange on
    the stratum key."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    wn = Window.partitionBy("event_type")
    sampled = (
        ev.select(
            "event_type",
            "value",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("grp_n"),
        )
        .filter(
            F.col("rn")
            <= F.greatest(F.floor(F.col("grp_n") * 0.1), F.lit(1))
        )
    )
    return sampled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total")
    )


@register(
    "rollup_time_multires",
    """
    SELECT event_type,
           date_trunc('day', ts) AS d,
           CASE WHEN grouping(date_trunc('hour', ts)) = 0
                THEN date_trunc('hour', ts) END AS h,
           CASE WHEN grouping(date_trunc('minute', ts)) = 0
                THEN date_trunc('minute', ts) END AS m,
           round(sum(value), 2) AS total,
           count(*) AS n
    FROM events
    GROUP BY GROUPING SETS (
        (event_type, date_trunc('day', ts), date_trunc('hour', ts),
         date_trunc('minute', ts)),
        (event_type, date_trunc('day', ts), date_trunc('hour', ts)),
        (event_type, date_trunc('day', ts)))
    """,
)
def rollup_time_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: minute, hour, and day
    aggregates per event_type in ONE pass (grouping sets -> a single Expand
    + one shuffle), the way a continuous-aggregate hierarchy materializes.
    At 100 TB this beats three separate scans 3:1 on I/O; the Expand feeds
    partial aggregation, so the exchange carries |groups|, not 3x|rows|."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("minute", "ts").alias("m"),
        "value",
    )
    return ev.groupingSets(
        [["event_type", "d", "h", "m"], ["event_type", "d", "h"], ["event_type", "d"]],
        "event_type", "d", "h", "m",
    ).agg(F.round(F.sum("value"), 2).alias("total"), F.count(F.lit(1)).alias("n"))


@register("agg_percentile_approx")  # GK sketch != DuckDB's t-digest -> rows-only
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile capability: Greenwald-Khanna sketch, single pass,
    mergeable partials — the 100 TB replacement for exact percentiles
    (agg_median_percentile), same query shape.

    ROWS-ONLY IDIOM (shared with agg_freq_items): sketch outputs have no
    cross-engine DuckDB twin, so the driver runs its weaker rows-only
    check; that canonicalizer cannot sort array cells, so rows-only
    queries must emit only SCALAR-typed columns. percentile_approx with a
    scalar percentage returns plain doubles (the array form would return
    array<double> — don't), pinned by
    tests/test_approx_aggs.py::test_rows_only_sketch_outputs_are_scalar_typed;
    the real accuracy contract is the rank-error bound asserted in
    test_percentile_approx_within_accuracy_bound."""
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.percentile_approx("c_acctbal", 0.5, 10000).alias("median_approx"),
            F.percentile_approx("c_acctbal", 0.9, 10000).alias("p90_approx"),
        )
    )


@register("agg_freq_items")  # CMS-style sketch, no DuckDB twin -> rows-only
def agg_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters (DataFrameStatFunctions.freqItems,
    Karp/Shenker/Papadimitriou): single pass, mergeable partials — the 100 TB
    way to surface hot tokens/domains/users in a corpus without a full
    groupBy-count-sort. Guarantee: the result is a SUPERSET of every item
    with frequency > support*n (false positives possible, negatives not) —
    asserted against exact counts in
    tests/test_approx_aggs.py::test_freq_items_superset_of_true_heavy_hitters.
    Sorted for stable output; support 0.05 on ~25 active users keeps both
    true hitters and sketch noise observable. The sorted arrays are
    serialized to comma-joined strings: the result is a 1-row summary, and
    plain string cells keep every downstream consumer (including the
    driver's rows-only canonicalizer, which cannot sort array cells)
    order-insensitive without losing information. NULL user_ids are
    tracked as the -1 sentinel BEFORE sketching, defensively: the current
    fixtures contain none (dq_profile_events reports the count), but
    array_join silently drops nulls, so a null heavy-hitter would
    otherwise vanish from the serialized output; -1 sits outside the
    generator's id domain (ids start at 0), so the sentinel cannot alias
    a real user."""
    freq = (
        load_table(spark, sf_dir, "events")
        .select(F.coalesce("user_id", F.lit(-1)).alias("user_id"), "event_type")
        .stat.freqItems(["user_id", "event_type"], support=0.05)
    )
    return freq.select(
        F.array_join(F.array_sort("user_id_freqItems").cast("array<string>"), ",").alias("hot_users"),
        F.array_join(F.array_sort("event_type_freqItems"), ",").alias("hot_types"),
    )


@register(
    "agg_linear_regression",
    """
    SELECT event_type,
           round(regr_slope(value, CAST(user_id AS DOUBLE)), 6) AS slope,
           round(regr_intercept(value, CAST(user_id AS DOUBLE)), 6) AS intercept,
           round(regr_r2(value, CAST(user_id AS DOUBLE)), 6) AS r2,
           CAST(regr_count(value, CAST(user_id AS DOUBLE)) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    """,
)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS in one aggregation pass (regr_* family): slope,
    intercept, fit quality — the streaming-friendly sufficient-statistics
    form (sums/products), so it distributes like any sum."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("regr_slope(value, CAST(user_id AS DOUBLE))"), 6).alias("slope"),
            F.round(F.expr("regr_intercept(value, CAST(user_id AS DOUBLE))"), 6).alias("intercept"),
            F.round(F.expr("regr_r2(value, CAST(user_id AS DOUBLE))"), 6).alias("r2"),
            F.expr("regr_count(value, CAST(user_id AS DOUBLE))").cast("long").alias("n"),
        )
    )


@register(
    "functions_math_tour",
    """
    SELECT event_id,
           round(abs(value - 50.0), 4) AS abs_dev,
           CAST(ceil(value) AS BIGINT) AS up,
           CAST(floor(value) AS BIGINT) AS down,
           round(sqrt(value), 4) AS root,
           round(pow(value, 2), 4) AS squared,
           round(exp(value / 100.0), 6) AS ex,
           round(ln(value + 1.0), 6) AS log_nat,
           round(log10(value + 1.0), 6) AS log_ten,
           CAST(sign(value - 50.0) AS DOUBLE) AS sgn,
           CAST(user_id % 7 AS BIGINT) AS modulo,
           -- DuckDB 1.0 has no width_bucket; same semantics by hand
           CAST(CASE WHEN value < 0 THEN 0 WHEN value >= 100 THEN 11
                     ELSE floor(value / 10) + 1 END AS BIGINT) AS bucket
    FROM events WHERE event_id < 500
    """,
)
def functions_math_tour(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = F.col("value")
    return load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500).select(
        "event_id",
        F.round(F.abs(v - 50.0), 4).alias("abs_dev"),
        F.ceil(v).cast("long").alias("up"),
        F.floor(v).cast("long").alias("down"),
        F.round(F.sqrt(v), 4).alias("root"),
        F.round(F.pow(v, 2), 4).alias("squared"),
        F.round(F.exp(v / 100.0), 6).alias("ex"),
        F.round(F.log(v + 1.0), 6).alias("log_nat"),
        F.round(F.log10(v + 1.0), 6).alias("log_ten"),
        F.signum(v - 50.0).alias("sgn"),
        (F.col("user_id") % 7).cast("long").alias("modulo"),
        F.width_bucket(v, F.lit(0.0), F.lit(100.0), F.lit(10)).cast("long").alias("bucket"),
    )


@register(
    "agg_bitwise_tour",
    """
    SELECT event_type,
           CAST(bit_and(user_id) AS BIGINT) AS band,
           CAST(bit_or(user_id) AS BIGINT) AS bor,
           CAST(bit_xor(user_id) AS BIGINT) AS bxor
    FROM events GROUP BY event_type
    """,
)
def agg_bitwise_tour(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr("bit_and(user_id)").cast("long").alias("band"),
            F.expr("bit_or(user_id)").cast("long").alias("bor"),
            F.expr("bit_xor(user_id)").cast("long").alias("bxor"),
        )
    )


# ---------------------------------------------------------------------------
# Funnel analysis: strictly-ordered view -> click -> purchase
# conversion. Each stage's entry time is the user's first qualifying event
# AT OR AFTER the previous stage's entry — the standard product-analytics
# funnel, expressed as per-user min-aggregations chained by equi-joins on
# user_id (every join/agg shares the user_id shuffle key; nothing scans
# events more than the three stage filters, each pushed to the scan).
# ---------------------------------------------------------------------------


# Shared with the streaming twin (plans/stream.py stream_funnel): the
# drained stream result equals this one-row summary, so one oracle covers
# both.
FUNNEL_ORACLE = """
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.t_view
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.t_click
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase,
           round(CAST((SELECT count(*) FROM c) AS DOUBLE)
                 / (SELECT count(*) FROM v), 4) AS view_to_click,
           round(CAST((SELECT count(*) FROM p) AS DOUBLE)
                 / (SELECT count(*) FROM c), 4) AS click_to_purchase
    """


def funnel_stage_tables(
    ev: DataFrame, within_hours: int | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(v, c, p): per-user first-entry times for the ordered
    view -> click -> purchase stages over any (user_id, ts, event_type)
    relation. ``within_hours`` bounds each transition (click within N
    hours of first view, etc. — the attribution-window variant); None
    keeps the unbounded ordered funnel. Three pushed-filter scans,
    per-user min aggs, user_id-keyed joins — no window over the event stream.
    Each stage relation is lazily checkpointed (the kmeans_centroids idiom): it
    feeds both the NEXT stage's join and its own consumer, and without the cut
    every consumer re-derives the chain from the raw scan (a 12-scan plan; the
    plan test pins <= 3 scans). ONE stage-builder shared by the summary,
    attribution, and time-to-convert queries so the staged-join semantics
    cannot drift between them."""

    def first_at_or_after(etype: str, prev: DataFrame | None, prev_t: str, out: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == etype).select("user_id", "ts")
        if prev is None:
            staged = e.groupBy("user_id").agg(F.min("ts").alias(out))
        else:
            cond = F.col("ts") >= F.col(prev_t)
            if within_hours is not None:
                cond = cond & (
                    F.col("ts")
                    <= F.col(prev_t) + F.expr(f"INTERVAL {within_hours} HOURS")
                )
            staged = (
                e.join(prev, "user_id")
                .filter(cond)
                .groupBy("user_id")
                .agg(F.min("ts").alias(out))
            )
        return staged.localCheckpoint(eager=False)

    v = first_at_or_after("view", None, "", "t_view")
    c = first_at_or_after("click", v, "t_view", "t_click")
    p = first_at_or_after("purchase", c, "t_click", "t_purchase")
    return v, c, p


def funnel_summary(ev: DataFrame, within_hours: int | None = None) -> DataFrame:
    """One-row view->click->purchase funnel (stage counts + conversion
    ratios) over the shared funnel_stage_tables relations."""
    v, c, p = funnel_stage_tables(ev, within_hours=within_hours)
    counts = [df.agg(F.count(F.lit(1)).alias(n)) for df, n in
              [(v, "n_view"), (c, "n_click"), (p, "n_purchase")]]
    row = counts[0].crossJoin(counts[1]).crossJoin(counts[2])
    return row.select(
        "n_view", "n_click", "n_purchase",
        F.round(F.col("n_click").cast("double") / F.col("n_view"), 4)
            .alias("view_to_click"),
        F.round(F.col("n_purchase").cast("double") / F.col("n_click"), 4)
            .alias("click_to_purchase"),
    )


@register("funnel_view_click_purchase", FUNNEL_ORACLE)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row funnel summary: users entering each ordered stage plus
    stage-to-stage conversion (see funnel_summary for the plan shape)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return funnel_summary(ev)


# The attribution-window twin: each stage only counts if it happens within
# 24 hours of the previous stage's entry — the marketing-attribution
# semantics ("conversions credited to the session"). Same plan shape as
# the unbounded funnel; only the join predicate gains the upper bound.
FUNNEL_24H_ORACLE = """
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
            AND e.ts >= v.t_view AND e.ts <= v.t_view + INTERVAL 24 HOURS
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
            AND e.ts >= c.t_click AND e.ts <= c.t_click + INTERVAL 24 HOURS
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase,
           round(CAST((SELECT count(*) FROM c) AS DOUBLE)
                 / (SELECT count(*) FROM v), 4) AS view_to_click,
           round(CAST((SELECT count(*) FROM p) AS DOUBLE)
                 / (SELECT count(*) FROM c), 4) AS click_to_purchase
    """


@register("funnel_within_24h", FUNNEL_24H_ORACLE)
def funnel_within_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-window funnel: click within 24h of first view,
    purchase within 24h of first click."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return funnel_summary(ev, within_hours=24)


# ---------------------------------------------------------------------------
# Time-to-convert distribution: for users who complete the funnel,
# how long did view -> purchase take — bucketed by whole days. A bucketed
# histogram instead of a percentile agg on purpose: an exact percentile
# buffer would hold every converting user's latency in one aggregation
# state, while the day-bucket groupBy is a plain partial-aggregated hash
# shuffle with output bounded by the time horizon. Latency math is
# integer epoch seconds (exact cross-engine); only the reported mean is
# floating point.
# ---------------------------------------------------------------------------


@register(
    "funnel_time_to_convert",
    """
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.t_view
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.t_click
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    lat AS (
        -- integer micros + floor-div: epoch() is fractional and DuckDB's
        -- double->BIGINT CAST rounds while Spark's unix_timestamp floors
        SELECT p.user_id,
               epoch_us(p.t_purchase) // 1000000
             - epoch_us(v.t_view) // 1000000 AS secs
        FROM p JOIN v ON p.user_id = v.user_id
    )
    SELECT CAST(secs // 86400 AS INT) AS days_to_convert,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(sum(secs) AS DOUBLE) / count(*) / 3600.0, 4) AS avg_hours
    FROM lat GROUP BY 1
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    v, _c, p = funnel_stage_tables(ev)
    secs = (
        F.unix_timestamp("t_purchase") - F.unix_timestamp("t_view")
    ).cast("long")
    lat = p.join(v, "user_id").select(secs.alias("secs"))
    return lat.groupBy(
        F.expr("secs div 86400").cast("int").alias("days_to_convert")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        # exact integer sum, ONE division each — avg(secs/3600.0) would
        # sum partition-ordered doubles and drift in the last ulp
        F.round(
            F.sum("secs").cast("double") / F.count(F.lit(1)) / 3600.0, 4
        ).alias("avg_hours"),
    )


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-seen day; per (cohort,
# day-offset), how many came back. Two user_id-keyed aggregations + one
# join, then a tiny (cohort, offset) agg — the canonical retention matrix
# without any window function, so every stage is a partial-aggregated
# hash shuffle.
# ---------------------------------------------------------------------------


# Shared with the streaming twin (plans/stream.py stream_cohort_retention):
# the drained stream result equals this batch matrix, so one oracle covers
# both.
COHORT_RETENTION_ORACLE = """
    WITH act AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d
        FROM events WHERE user_id IS NOT NULL
    ),
    first AS (SELECT user_id, min(d) AS cohort_day FROM act GROUP BY user_id)
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, a.d) AS BIGINT) AS day_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM act a JOIN first f ON a.user_id = f.user_id
    GROUP BY f.cohort_day, day_offset
    """


@register("cohort_daily_retention", COHORT_RETENTION_ORACLE)
def cohort_daily_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    # act feeds BOTH the cohort-min agg and the retention join; the lazy
    # checkpoint materializes the (much smaller) distinct user-day relation
    # once instead of scanning events twice.
    act = (
        ev.select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    first = act.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        act.join(first, "user_id")
        .select(
            "cohort_day",
            F.datediff("d", "cohort_day").cast("long").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Gap-filled minute rollup with LOCF: the hypertable
# time_bucket_gapfill shape — a dense per-entity minute spine over a
# bounded horizon from each entity's first event, per-minute sums where
# data exists, last-observation-carried-forward through the gaps, and a
# filled-flag so consumers can tell measured from imputed. Scale: the
# spine is explode(sequence(...)) — rows = entities x horizon, bounded by
# construction, never |events| x anything; the fill is one per-entity
# window (a single exchange shared with the rollup's groupBy key).
# ---------------------------------------------------------------------------

_GAPFILL_MINUTES = 120  # horizon: first 2h per user


@register(
    "rollup_gapfill_locf",
    f"""
    WITH ev AS (
        SELECT user_id, date_trunc('minute', ts) AS m, value
        FROM events WHERE user_id IS NOT NULL AND user_id < 20
    ),
    bounds AS (SELECT user_id, min(m) AS m0 FROM ev GROUP BY user_id),
    spine AS (
        SELECT user_id,
               unnest(generate_series(m0,
                      m0 + INTERVAL {_GAPFILL_MINUTES - 1} MINUTE,
                      INTERVAL 1 MINUTE)) AS m
        FROM bounds
    ),
    permin AS (
        SELECT user_id, m, round(sum(value), 4) AS v
        FROM ev GROUP BY user_id, m
    )
    SELECT s.user_id, s.m,
           round(coalesce(p.v,
               last_value(p.v IGNORE NULLS) OVER (
                   PARTITION BY s.user_id ORDER BY s.m
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4) + 0
               AS v_filled,
           (p.v IS NULL) AS imputed
    FROM spine s LEFT JOIN permin p ON s.user_id = p.user_id AND s.m = p.m
    """,
)
def rollup_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, minute, v_filled, imputed) over each user's first
    {_GAPFILL_MINUTES} minutes: per-minute sums, gaps carried forward.
    The first spine row is never a gap (the spine starts AT the user's
    first event minute), so LOCF is total."""
    # ev feeds both the bounds agg and the per-minute agg — lazy
    # checkpoint reads events once for the (small, user<20) slice.
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & (F.col("user_id") < 20))
        .select("user_id", F.date_trunc("minute", "ts").alias("m"), "value")
        .localCheckpoint(eager=False)
    )
    bounds = ev.groupBy("user_id").agg(F.min("m").alias("m0"))
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("m0"),
                F.col("m0") + F.expr(f"INTERVAL {_GAPFILL_MINUTES - 1} MINUTE"),
                F.expr("INTERVAL 1 MINUTE"),
            )
        ).alias("m"),
    )
    permin = ev.groupBy("user_id", "m").agg(F.round(F.sum("value"), 4).alias("v"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    locf = F.last("v", ignorenulls=True).over(w)
    return (
        spine.join(permin, ["user_id", "m"], "left_outer")
        .select(
            "user_id", "m",
            F.round(F.coalesce("v", locf), 4).alias("v_filled"),
            F.col("v").isNull().alias("imputed"),
        )
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: collapse each user's consecutive same-state days
# into intervals — the classic rn-difference trick (row_number over all
# days minus row_number within the state partition is constant exactly
# across a consecutive run). State here is scale-free: a day is 'above' or
# 'below' the user's own mean daily total, so the query works unchanged
# at any sf. All three windows and the final agg share the user_id
# exchange; nothing global.
# ---------------------------------------------------------------------------


@register(
    "islands_user_daily_tier",
    """
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS d,
               round(sum(value), 2) AS total
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id, date_trunc('day', ts)
    ),
    tiered AS (
        SELECT user_id, d, total,
               CASE WHEN total >= round(avg(total) OVER (PARTITION BY user_id), 4)
                    THEN 'above' ELSE 'below' END AS tier
        FROM daily
    ),
    numbered AS (
        SELECT user_id, d, tier,
               row_number() OVER (PARTITION BY user_id ORDER BY d)
             - row_number() OVER (PARTITION BY user_id, tier ORDER BY d)
                   AS island
        FROM tiered
    )
    SELECT user_id, tier, min(d) AS start_day, max(d) AS end_day,
           CAST(count(*) AS BIGINT) AS n_days
    FROM numbered GROUP BY user_id, tier, island
    """,
)
def islands_user_daily_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    daily = (
        ev.select("user_id", F.date_trunc("day", "ts").alias("d"), "value")
        .groupBy("user_id", "d")
        .agg(F.round(F.sum("value"), 2).alias("total"))
    )
    wu = Window.partitionBy("user_id")
    tiered = daily.select(
        "user_id", "d", "total",
        F.when(
            F.col("total") >= F.round(F.avg("total").over(wu), 4), "above"
        ).otherwise("below").alias("tier"),
    )
    rn_all = F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    rn_tier = F.row_number().over(
        Window.partitionBy("user_id", "tier").orderBy("d")
    )
    numbered = tiered.select(
        "user_id", "d", "tier", (rn_all - rn_tier).alias("island")
    )
    return (
        numbered.groupBy("user_id", "tier", "island")
        .agg(
            F.min("d").alias("start_day"),
            F.max("d").alias("end_day"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .drop("island")
    )


# ---------------------------------------------------------------------------
# Event-sequence path mining: per-user ordered event-type journeys ->
# sliding trigram paths -> global top-20. The clickstream "top paths"
# report. Scale: one exchange on user_id for the ordered collect (state per
# user = that user's events, the same bound as sessionization), trigram
# expansion is a map-side higher-order function, the count is a partial-
# aggregated hash shuffle, and the top-20 is TakeOrderedAndProject — no
# global sort, nothing quadratic.
#
# The per-user collect is CAPPED at the most
# recent _PATH_MAX_EVENTS events. At 100 TB one bot/power user would
# otherwise materialize an unbounded array in a single aggregation buffer
# (straggler/OOM); the rank prefilter bounds it while the row_number
# window itself runs through Spark's spillable external sort. 10k never
# binds at any test SF (max 99 events/user at sf0.1), so prior driver
# rows keep their values; the oracles mirror the same rank filter so the
# contract is explicit at any scale.
# ---------------------------------------------------------------------------

_PATH_MAX_EVENTS = 10_000

_PATH_SEQS_SQL = f"""ranked AS (
        SELECT user_id, ts, event_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE user_id IS NOT NULL
    ),
    seqs AS (
        SELECT user_id, list(event_type ORDER BY ts, event_id) AS t
        FROM ranked WHERE rn <= {_PATH_MAX_EVENTS} GROUP BY user_id
    )"""


def ordered_type_sequences(
    ev: DataFrame, max_events: int = _PATH_MAX_EVENTS
) -> DataFrame:
    """(user_id, t): each user's most recent ``max_events`` event types
    ordered by (ts, event_id) — the one exchange shared by the trigram
    miner and the Markov matrix. Keeping the MOST RECENT slice (not the
    oldest) is the behavior a monitoring pipeline wants when the cap
    binds.

    The row_number prefilter bounds the collected array per user and its
    sort runs INSIDE the user_id exchange the collect needs anyway — the
    groupBy reuses the window's partitioning, so the only added cost is a
    spillable per-partition sort (measured +0.1s / 22% on this family at
    sf0.1; an A/B against a hot/cold split — count -> broadcast the
    over-cap users -> rank only them — measured the split SLOWER at every
    tested scale because the broadcast build is an extra eager job and
    two extra scans, so the simple rank stays)."""
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    capped = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_events)
        .drop("_rn")
    )
    return (
        capped.select(
            "user_id", F.struct("ts", "event_id", "event_type").alias("s")
        )
        .groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("s")), lambda s: s["event_type"]
            ).alias("t")
        )
    )


def trigram_path_counts(
    ev: DataFrame, max_events: int = _PATH_MAX_EVENTS
) -> DataFrame:
    """(path, n) trigram-path counts over any (user_id, ts, event_id,
    event_type) relation — the registered query's pipeline, exported so
    property tests exercise THIS code on random inputs, not a copy."""
    seqs = ordered_type_sequences(ev, max_events=max_events)
    tris = seqs.filter(F.size("t") >= 3).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 2),"
                " i -> concat_ws('>', t[i-1], t[i], t[i+1]))"
            )
        ).alias("path")
    )
    return tris.groupBy("path").agg(F.count(F.lit(1)).alias("n"))


@register(
    "paths_event_trigrams",
    f"""
    WITH {_PATH_SEQS_SQL},
    tris AS (
        SELECT unnest(list_transform(range(2, len(t)),
                      i -> t[i-1] || '>' || t[i] || '>' || t[i+1])) AS path
        FROM seqs WHERE len(t) >= 3
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n
    FROM tris GROUP BY path ORDER BY n DESC, path LIMIT 20
    """,
)
def paths_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return (
        trigram_path_counts(ev)
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Per-minute volume anomaly detection: minute rollup z-scored against
# the distribution of ALL minute counts — the ops-dashboard "traffic spike"
# monitor. Scale: one minute-rollup shuffle; the two global moments are a
# broadcast one-row relation (never a driver fetch), so the flagging pass
# is map-side.
# ---------------------------------------------------------------------------


# Shared with the streaming twin (plans/stream.py stream_anomaly_zscore):
# the drained stream result equals this batch flagging, so one oracle
# covers both.
ANOMALY_ZSCORE_ORACLE = """
    WITH m AS (
        SELECT date_trunc('minute', ts) AS minute,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1
    ),
    mom AS (
        SELECT round(avg(CAST(n_events AS DOUBLE)), 6) AS mean_n,
               round(stddev_samp(CAST(n_events AS DOUBLE)), 6) AS sd_n
        FROM m
    )
    SELECT minute, n_events, sum_value,
           round((n_events - mean_n) / sd_n, 4) + 0 AS z,
           (abs(round((n_events - mean_n) / sd_n, 4)) >= 3.0) AS is_anomaly
    FROM m CROSS JOIN mom
    """


@register("anomaly_minute_zscore", ANOMALY_ZSCORE_ORACLE)
def anomaly_minute_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # The minute rollup feeds BOTH the moments agg and the flagging pass;
    # materialize it once (the cohort idiom) instead of scanning events
    # twice.
    m = (
        ev.groupBy(F.date_trunc("minute", "ts").alias("minute"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .localCheckpoint(eager=False)
    )
    mom = m.agg(
        F.round(F.avg(F.col("n_events").cast("double")), 6).alias("mean_n"),
        F.round(F.stddev_samp(F.col("n_events").cast("double")), 6).alias("sd_n"),
    )
    z = F.round((F.col("n_events") - F.col("mean_n")) / F.col("sd_n"), 4)
    return m.crossJoin(F.broadcast(mom)).select(
        "minute", "n_events", "sum_value",
        z.alias("z"), (F.abs(z) >= 3.0).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# DAU / trailing-7-day stickiness: per day, distinct daily actives
# and distinct actives over the trailing week. count(DISTINCT) over a
# sliding RANGE window doesn't exist in either engine; the scalable
# composition materializes the (user, day) relation once, then each
# user-day contributes to the 7 report days it is visible from —
# explode(sequence(...)) — and a distinct+count per report day finishes
# it. Rows = user-days x 7 (bounded by construction), two hash shuffles,
# no window function at all.
# ---------------------------------------------------------------------------


DAU_STICKINESS_ORACLE = """
    WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d
        FROM events WHERE user_id IS NOT NULL
    ),
    dau AS (SELECT d, CAST(count(*) AS BIGINT) AS n_dau FROM ud GROUP BY d),
    contrib AS (
        SELECT DISTINCT user_id, rday FROM (
            SELECT user_id,
                   unnest(generate_series(d, d + INTERVAL 6 DAY,
                                          INTERVAL 1 DAY)) AS rday
            FROM ud)
    ),
    wau AS (SELECT rday, CAST(count(*) AS BIGINT) AS n_wau7
            FROM contrib GROUP BY rday)
    SELECT dau.d, n_dau, n_wau7,
           round(CAST(n_dau AS DOUBLE) / n_wau7, 4) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.rday
    """


def stickiness_7d(ev: DataFrame) -> DataFrame:
    """The DAU / trailing-7-day matrix over any (user_id, ts) relation —
    exported so property tests exercise THIS composition on random
    inputs, not a copy."""
    # ud feeds both the DAU agg and the 7-day expansion; materialize the
    # (much smaller) distinct user-day relation once (the cohort idiom).
    ud = (
        ev.select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("n_dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.expr("sequence(d, d + interval 6 days, interval 1 day)")
        ).alias("rday"),
    ).distinct()
    wau = contrib.groupBy("rday").agg(F.count(F.lit(1)).alias("n_wau7"))
    return dau.join(wau, dau.d == wau.rday).select(
        "d", "n_dau", "n_wau7",
        F.round(F.col("n_dau").cast("double") / F.col("n_wau7"), 4)
            .alias("stickiness"),
    )


@register("dau_stickiness_7d", DAU_STICKINESS_ORACLE)
def dau_stickiness_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return stickiness_7d(ev)


# ---------------------------------------------------------------------------
# PageRank over the customer->supplier purchase graph: the second
# iterative graph operator (operators/pagerank.py) next to connected
# components — who are the structurally central suppliers. Fixed 2
# iterations with per-step round(8) make Lloyd-style exact oracle replay
# possible; dangling supplier nodes leak mass by the documented simplified
# formulation. Node ids are 'c:<custkey>' / 's:<suppkey>' strings so the
# two key spaces can't alias.
# ---------------------------------------------------------------------------


@register(
    "graph_pagerank_2iter",
    """
    WITH edges AS (
        SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
               FROM edges GROUP BY src),
    pr0 AS (SELECT node, round(1.0 / n, 8) AS pr FROM nodes CROSS JOIN nn),
    c1 AS (SELECT e.dst, round(sum(p.pr / o.deg), 8) AS s
           FROM edges e JOIN outdeg o ON e.src = o.src
                        JOIN pr0 p ON e.src = p.node
           GROUP BY e.dst),
    pr1 AS (SELECT node, round(0.15 / n + 0.85 * coalesce(c1.s, 0), 8) AS pr
            FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.node = c1.dst),
    c2 AS (SELECT e.dst, round(sum(p.pr / o.deg), 8) AS s
           FROM edges e JOIN outdeg o ON e.src = o.src
                        JOIN pr1 p ON e.src = p.node
           GROUP BY e.dst),
    pr2 AS (SELECT node, round(0.15 / n + 0.85 * coalesce(c2.s, 0), 8) AS pr
            FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.node = c2.dst)
    SELECT node, pr FROM pr2
    """,
)
def graph_pagerank_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pagerank import pagerank

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(l, o.o_orderkey == l.l_orderkey).select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return pagerank(edges, iterations=2, damping=0.85)


# ---------------------------------------------------------------------------
# Latency-style percentile bands: the P50/P95/P99-by-dimension
# dashboard query — exact interpolated percentiles per (event_type,
# hour-of-day) cell. Scale: one hash exchange on the (small) group key;
# the per-group sort is bounded by the cell size. The sketch-based
# replacement at extreme scale is agg_percentile_approx (same shape,
# mergeable GK partials).
# ---------------------------------------------------------------------------


@register(
    "latency_percentile_bands",
    """
    SELECT event_type, CAST(hour(ts) AS INT) AS hod,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type, hod
    """,
)
def latency_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # ONE percentile buffer per cell (array-argument form), not three:
    # each separate percentile(value, p) aggregate would accumulate and
    # sort the cell's values independently.
    agg = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(value, array(0.5, 0.95, 0.99))").alias("ps"),
    )
    return agg.select(
        "event_type", "hod", "n",
        F.round(F.element_at("ps", 1), 4).alias("p50"),
        F.round(F.element_at("ps", 2), 4).alias("p95"),
        F.round(F.element_at("ps", 3), 4).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Intraday rolling correlation: per day, the correlation between
# hourly view and click value sums over the trailing 7 OBSERVED hourly
# buckets (hours with no view/click rows are absent from the series, so
# the ROWS frame skips them — gap-fill the grid upstream if a strict
# wall-clock horizon is needed) — the
# "are these series coupling right now" monitor. The window partitions by
# DAY (never a global single-partition sort); frames are ROWS-bounded so
# state per partition is constant. Zero-variance frames (a series flat so
# far) are masked to NULL explicitly: Spark's corr yields NaN there while
# DuckDB yields NULL, so the mask is the cross-engine (and
# cross-consumer) contract, with an epsilon guard because a flat frame's
# var_samp may compute as ~1e-18 rather than exact 0.
# ---------------------------------------------------------------------------

_RCORR_EPS = 1e-9


@register(
    "timeseries_rolling_corr_intraday",
    f"""
    WITH buckets AS (
        SELECT date_trunc('day', ts) AS d, date_trunc('hour', ts) AS h,
               round(sum(CASE WHEN event_type = 'view' THEN value ELSE 0 END), 4)
                   AS views,
               round(sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END), 4)
                   AS clicks
        FROM events WHERE event_type IN ('view', 'click')
        GROUP BY 1, 2
    )
    SELECT d, h,
           CASE WHEN vv > {_RCORR_EPS} AND vc > {_RCORR_EPS}
                THEN round(cv / sqrt(vv * vc), 4) + 0 END AS roll_corr
    FROM (
        SELECT d, h,
               var_samp(views) OVER w AS vv,
               var_samp(clicks) OVER w AS vc,
               covar_samp(views, clicks) OVER w AS cv
        FROM buckets
        WINDOW w AS (PARTITION BY d ORDER BY h
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    """,
)
def timeseries_rolling_corr_intraday(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    buckets = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("hour", "ts").alias("h"),
    ).agg(
        F.round(
            F.sum(F.when(F.col("event_type") == "view", F.col("value"))
                  .otherwise(0.0)), 4
        ).alias("views"),
        F.round(
            F.sum(F.when(F.col("event_type") == "click", F.col("value"))
                  .otherwise(0.0)), 4
        ).alias("clicks"),
    )
    w = (
        Window.partitionBy("d").orderBy("h").rowsBetween(-6, Window.currentRow)
    )
    # The window COMPONENTS (variances, covariance) are null-safe on tiny
    # frames; the division lives in the lazily-evaluated CASE projection.
    # Builtin corr can't be used here: Spark computes window exprs BEFORE
    # the mask, and corr on a 1-row frame raises DIVIDE_BY_ZERO under
    # ANSI mode (the first hour of every day is such a frame).
    comp = buckets.select(
        "d", "h",
        F.var_samp("views").over(w).alias("vv"),
        F.var_samp("clicks").over(w).alias("vc"),
        F.covar_samp("views", "clicks").over(w).alias("cv"),
    )
    masked = F.when(
        (F.col("vv") > _RCORR_EPS) & (F.col("vc") > _RCORR_EPS),
        F.round(F.col("cv") / F.sqrt(F.col("vv") * F.col("vc")), 4),
    )
    return comp.select("d", "h", masked.alias("roll_corr"))


# ---------------------------------------------------------------------------
# First-order Markov transition matrix over event journeys: per
# (src, dst) event-type pair, the transition count and conditional
# probability P(dst | src) — the sequence model behind next-event
# prediction and journey simulation. Shares the per-user ordered-collect
# with the trigram miner (one user_id exchange, state bounded per user);
# the matrix itself is |types|^2 rows, so the normalizing window is tiny.
# ---------------------------------------------------------------------------


MARKOV_ORACLE = f"""
    WITH {_PATH_SEQS_SQL},
    pairs AS (
        SELECT unnest(list_transform(range(2, len(t) + 1),
                      i -> {{'src': t[i-1], 'dst': t[i]}})) AS pr
        FROM seqs WHERE len(t) >= 2
    ),
    c AS (SELECT pr.src AS src, pr.dst AS dst, count(*) AS n
          FROM pairs GROUP BY 1, 2)
    SELECT src, dst, CAST(n AS BIGINT) AS n,
           round(n / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE), 4) AS p
    FROM c
    """


def markov_transition_counts(
    ev: DataFrame, max_events: int = _PATH_MAX_EVENTS
) -> DataFrame:
    """(src, dst, n, p) transition matrix over any (user_id, ts, event_id,
    event_type) relation — exported (like trigram_path_counts) so property
    tests exercise THIS index arithmetic on random inputs."""
    seqs = ordered_type_sequences(ev, max_events=max_events)
    pairs = seqs.filter(F.size("t") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i-1] AS src, t[i] AS dst))"
            )
        ).alias("pr")
    ).select("pr.src", "pr.dst")
    c = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    wsrc = Window.partitionBy("src")
    return c.select(
        "src", "dst", "n",
        F.round(F.col("n") / F.sum("n").over(wsrc).cast("double"), 4).alias("p"),
    )


@register("paths_markov_transitions", MARKOV_ORACLE)
def paths_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return markov_transition_counts(ev)


# ---------------------------------------------------------------------------
# Z-order layout key: driver-checked oracle row for the Morton-code
# machinery behind operators/zorder.py (zorder_layout itself stays
# pytest-verified — repartitionByRange samples boundaries, so file
# assignment is not oracle-deterministic, but the z-VALUE is pure bit
# arithmetic). Normalization here is exact integer math — (x - lo) * top
# div (hi - lo) over a broadcast one-row bounds relation — so both
# engines derive identical 24-bit Morton codes; value joins the curve on
# a fixed milli-unit grid.
# ---------------------------------------------------------------------------

_Z_BITS = 12
_Z_TOP = (1 << _Z_BITS) - 1


@register(
    "layout_zorder_key",
    f"""
    WITH src AS (
        SELECT event_id, user_id,
               CAST(floor(value * 1000) AS BIGINT) AS iv
        FROM events WHERE user_id IS NOT NULL
    ),
    bounds AS (
        SELECT min(user_id) AS lo_u, max(user_id) AS hi_u,
               min(iv) AS lo_v, max(iv) AS hi_v
        FROM src
    ),
    scaled AS (
        SELECT event_id,
               (user_id - lo_u) * {_Z_TOP} // greatest(hi_u - lo_u, 1) AS su,
               (iv - lo_v) * {_Z_TOP} // greatest(hi_v - lo_v, 1) AS sv
        FROM src CROSS JOIN bounds
    )
    SELECT event_id,
           CAST(list_sum(list_transform(range(0, {_Z_BITS}), b ->
               (((su >> b) & 1) << (2*b)) + (((sv >> b) & 1) << (2*b + 1))
           )) AS BIGINT) AS zval
    FROM scaled
    """,
)
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.zorder import z_value

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    src = ev.select(
        "event_id", "user_id",
        F.floor(F.col("value") * 1000).cast("long").alias("iv"),
    )
    bounds = src.agg(
        F.min("user_id").alias("lo_u"), F.max("user_id").alias("hi_u"),
        F.min("iv").alias("lo_v"), F.max("iv").alias("hi_v"),
    )
    scaled = src.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        F.expr(f"(user_id - lo_u) * {_Z_TOP} div greatest(hi_u - lo_u, 1)")
            .alias("su"),
        F.expr(f"(iv - lo_v) * {_Z_TOP} div greatest(hi_v - lo_v, 1)")
            .alias("sv"),
    )
    return scaled.select(
        "event_id", z_value(["su", "sv"], bits=_Z_BITS).alias("zval")
    )


# ---------------------------------------------------------------------------
# Z-ordered WRITE read-back: the layout machinery
# itself moves inside a driver hash — events are zorder_layout-ed on
# (user_id, iv), written to parquet, read BACK, and filtered with a
# selective two-dimension corner predicate (the query shape z-ordering
# exists for: both dimensions constrained, most files skipped by min/max
# envelopes — file-count skipping on BOTH dimensions is pinned by
# tests/test_plans_scale.py). The ORACLE checks row CONTENT only: file
# assignment depends on repartitionByRange boundary SAMPLING, which is not
# oracle-deterministic, so the layout may vary while the surviving rows may
# not. Thresholds are integer arithmetic off the same bounds both engines
# compute, no floats anywhere.
# ---------------------------------------------------------------------------


@register(
    "layout_zorder_readback",
    """
    WITH src AS (
        SELECT event_id, user_id,
               CAST(floor(value * 1000) AS BIGINT) AS iv
        FROM events WHERE user_id IS NOT NULL
    ),
    bounds AS (
        SELECT min(user_id) AS lo_u, max(user_id) AS hi_u,
               min(iv) AS lo_v, max(iv) AS hi_v
        FROM src
    )
    SELECT event_id, user_id, iv
    FROM src CROSS JOIN bounds
    WHERE user_id <= lo_u + (hi_u - lo_u) // 8
      AND iv <= lo_v + (hi_v - lo_v) // 8
    """,
)
def layout_zorder_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.zorder import zorder_layout
    from . import tmp_run_dir

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    src = ev.select(
        "event_id", "user_id",
        F.floor(F.col("value") * 1000).cast("long").alias("iv"),
    )
    path = os.path.join(tmp_run_dir("zorder_rb_"), "data")
    zorder_layout(src, ["user_id", "iv"], n_files=8, bits=_Z_BITS).write.parquet(
        path
    )
    back = spark.read.parquet(path)
    b = src.agg(
        F.min("user_id").alias("lo_u"), F.max("user_id").alias("hi_u"),
        F.min("iv").alias("lo_v"), F.max("iv").alias("hi_v"),
    ).first()  # one fixed-size bounds row (the zorder_layout idiom)
    thr_u = b["lo_u"] + (b["hi_u"] - b["lo_u"]) // 8
    thr_v = b["lo_v"] + (b["hi_v"] - b["lo_v"]) // 8
    return back.filter(
        (F.col("user_id") <= F.lit(thr_u)) & (F.col("iv") <= F.lit(thr_v))
    ).select("event_id", "user_id", "iv")


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters: the mergeable-sketch story. The
# sketch is d=4 rows x w=256 buckets of COUNTS — built by one map-side
# hash projection + a partial-aggregated groupBy over (row, bucket), so at
# 100 TB every executor folds its partition into 1024 cells and the merge
# is a cell-wise sum (the same mergeability argument as HLL/datasketches).
# Estimates (min over the key's d cells) are checked against exact counts
# for the top-20 users: CMS NEVER underestimates, so `overcount` (est -
# exact, always >= 0) is the driver-checked error surface. Hash functions
# are md5-derived ('cms<j>:<key>' -> first byte), so DuckDB replays every
# cell and estimate EXACTLY — the sketch is deterministic, only its error
# is approximate.
# ---------------------------------------------------------------------------

_CMS_D, _CMS_W = 4, 256


def _cms_bucket_sql(key_expr: str, j_expr: str) -> str:
    """First md5 byte of 'cms<j>:<key>' as 0..255 (strpos-nibble idiom —
    DuckDB has no conv())."""
    h = f"md5('cms' || {j_expr} || ':' || CAST({key_expr} AS VARCHAR))"
    return (
        f"(strpos('0123456789abcdef', substring({h}, 1, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substring({h}, 2, 1)) - 1)"
    )


def _cms_bucket_col(key_col, j_col):
    """Spark twin of _cms_bucket_sql (identical strings -> identical md5);
    first-byte extraction via the shared hex-nibble idiom."""
    from ..operators.dedup import _nibble

    h = F.md5(
        F.concat(
            F.lit("cms"), j_col.cast("string"), F.lit(":"),
            key_col.cast("string"),
        )
    )
    return (_nibble(h, 0) * 16 + _nibble(h, 1)).cast("long")


@register(
    "sketch_countmin_users",
    f"""
    WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
    js AS (SELECT unnest(range(0, {_CMS_D})) AS j),
    cells AS (
        SELECT j, {_cms_bucket_sql('user_id', 'j')} AS bucket,
               count(*) AS c
        FROM ev CROSS JOIN js
        GROUP BY j, bucket
    ),
    exact AS (SELECT user_id, count(*) AS n FROM ev GROUP BY user_id),
    top AS (SELECT user_id, n FROM exact ORDER BY n DESC, user_id LIMIT 20),
    cand AS (
        SELECT user_id, n, j, {_cms_bucket_sql('user_id', 'j')} AS bucket
        FROM top CROSS JOIN js
    ),
    scored AS (
        SELECT cand.user_id, cand.n, min(cells.c) AS est_n
        FROM cand JOIN cells
          ON cells.j = cand.j AND cells.bucket = cand.bucket
        GROUP BY cand.user_id, cand.n
    )
    SELECT user_id, CAST(n AS BIGINT) AS exact_n,
           CAST(est_n AS BIGINT) AS est_n,
           CAST(est_n - n AS BIGINT) AS overcount
    FROM scored
    """,
)
def sketch_countmin_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users' exact event counts vs their count-min estimates.

    Plan shape: one exploded hash projection + partial-aggregated groupBy
    builds the fixed-size (d*w = 1024-cell) sketch; exact top-20 via
    TakeOrderedAndProject; the estimate lookup joins the 80-row candidate
    relation to the broadcastable cell table."""
    cells = cms_cells(cms_hashed(_cms_events(spark, sf_dir)))
    return cms_score(spark, sf_dir, cells)


def _cms_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )


def _cms_js():
    return F.explode(F.array(*[F.lit(j) for j in range(_CMS_D)])).alias("j")


def cms_hashed(ev: DataFrame) -> DataFrame:
    """(user_id, j, bucket): one row per event per sketch row — the
    map-side projection both twins feed their cell aggregation with."""
    return ev.select("user_id", _cms_js()).select(
        "user_id", "j",
        _cms_bucket_col(F.col("user_id"), F.col("j")).alias("bucket"),
    )


def cms_cells(hashed: DataFrame) -> DataFrame:
    """The d x w cell table (partial-aggregated; <= _CMS_D*_CMS_W rows)."""
    return hashed.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c"))


def cms_score(spark: SparkSession, sf_dir: str, cells: DataFrame) -> DataFrame:
    """Exact top-20 + min-cell estimates against a GIVEN cells relation —
    the single definition of the tie-break / d / overcount surface shared
    by the batch and streaming twins (a copy in each twin could drift
    under one oracle)."""
    exact = _cms_events(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    top = exact.orderBy(F.desc("n"), F.asc("user_id")).limit(20)
    cand = top.select("user_id", "n", _cms_js()).select(
        "user_id", "n", "j",
        _cms_bucket_col(F.col("user_id"), F.col("j")).alias("bucket"),
    )
    scored = (
        cand.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("user_id", "n")
        .agg(F.min("c").alias("est_n"))
    )
    return scored.select(
        "user_id",
        F.col("n").cast("long").alias("exact_n"),
        F.col("est_n").cast("long").alias("est_n"),
        (F.col("est_n") - F.col("n")).cast("long").alias("overcount"),
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join read-back: bucketing is SCALE.md's answer
# to repeated big-big joins (write both sides bucketed on the key once;
# every later join runs shuffle-free). Promoted from pytest-only
# (tests/test_bucketing.py) to a driver row the same way as the sink
# round-trips: both sides are WRITTEN bucketed into a scratch
# database, read back through the bucketed tables, joined with broadcast
# disabled, and aggregated — the write -> bucketed-read -> join path is
# inside the hash, and the co-location property itself is asserted
# LOUDLY in-function (an Exchange on the join would raise, not silently
# shuffle). Scratch tables get a UUID database under a tmp_run_dir, so
# replays never collide; files outlive the lazy read-back via the atexit
# cleanup.
# ---------------------------------------------------------------------------


@register(
    "layout_bucketed_join",
    """
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from . import tmp_run_dir

    db = f"bk_{uuid.uuid4().hex[:10]}"
    loc = tmp_run_dir("bucketed_join_")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable(f"{db}.orders_b")
    )
    (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable(f"{db}.customer_b")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(f"{db}.orders_b").join(
            spark.table(f"{db}.customer_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "Exchange hashpartitioning" in plan:
            raise AssertionError(
                "layout_bucketed_join: bucketed sides still planned an "
                "Exchange — co-location broken (bucket spec lost on write "
                "or read)"
            )
        agg = joined.groupBy("c_nationkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        # EAGER checkpoint: the lazy return would otherwise replan at the
        # driver's collection time, AFTER the finally restores the
        # broadcast threshold — taking the co-located join OUT of the
        # hashed execution. Materializing here pins the
        # hashed rows to the broadcast-disabled bucketed-join run.
        return agg.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # The checkpointed result no longer needs the scratch tables; drop
        # the UUID database so catalog entries don't accumulate per replay
        # (bench's min-of-3 would otherwise leave three per run, dangling
        # once the atexit tmp cleanup removes the backing files).
        # Best-effort: a failed drop must not mask the result.
        try:
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        except Exception:
            pass


# ---------------------------------------------------------------------------
# A/B experiment lift: the experimentation readout every product
# analytics stack runs. Assignment is the repo's deterministic md5 gate
# (first byte of md5(user_id) < 128 -> treatment) — reproducible across
# runs and engines, no rand(); the metric is purchases PER exposed
# user (every fixture user converts at least once, so a binary rate is
# vacuously 1.0). One row: both arms' sizes/means plus relative lift.
# Plan: one map-side variant projection + two hash aggregations; the
# two-arm summary is a 2-row relation, so the final pivot is free.
# Lift can be negative -> the oracle adds `+ 0` (NEGATIVE ZERO invariant).
# ---------------------------------------------------------------------------


@register(
    "experiment_ab_lift",
    """
    WITH exposed AS (
        SELECT user_id,
               CASE WHEN (strpos('0123456789abcdef',
                              substring(md5(CAST(user_id AS VARCHAR)), 1, 1))
                          - 1) < 8
                    THEN 'treatment' ELSE 'control' END AS variant,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS n_purch
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id
    ),
    arms AS (
        SELECT variant,
               count(*) AS n_users,
               CAST(sum(n_purch) AS BIGINT) AS n_purchases,
               round(sum(n_purch) / CAST(count(*) AS DOUBLE), 4) AS avg_p
        FROM exposed GROUP BY variant
    )
    SELECT c.n_users AS control_users, c.n_purchases AS control_purchases,
           c.avg_p AS control_avg,
           t.n_users AS treatment_users, t.n_purchases AS treatment_purchases,
           t.avg_p AS treatment_avg,
           round(t.avg_p / c.avg_p - 1, 4) + 0 AS lift
    FROM (SELECT * FROM arms WHERE variant = 'control') c
    CROSS JOIN (SELECT * FROM arms WHERE variant = 'treatment') t
    """,
)
def experiment_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _nibble

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    variant = F.when(
        _nibble(F.md5(F.col("user_id").cast("string")), 0) < 8, "treatment"
    ).otherwise("control")
    exposed = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_purch"),
    ).select("user_id", "n_purch", variant.alias("variant"))
    arms = exposed.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_purch").cast("long").alias("n_purchases"),
        F.round(
            F.sum("n_purch") / F.count(F.lit(1)).cast("double"), 4
        ).alias("avg_p"),
    ).localCheckpoint()  # 2 rows; filtering lazily twice would otherwise
    # re-run the full events scan + both aggregations per arm
    c = arms.filter(F.col("variant") == "control").select(
        F.col("n_users").alias("control_users"),
        F.col("n_purchases").alias("control_purchases"),
        F.col("avg_p").alias("control_avg"),
    )
    t = arms.filter(F.col("variant") == "treatment").select(
        F.col("n_users").alias("treatment_users"),
        F.col("n_purchases").alias("treatment_purchases"),
        F.col("avg_p").alias("treatment_avg"),
    )
    lift = F.round(F.col("treatment_avg") / F.col("control_avg") - 1, 4)
    return c.crossJoin(F.broadcast(t)).select(
        "control_users", "control_purchases", "control_avg",
        "treatment_users", "treatment_purchases", "treatment_avg",
        # Spark's BigDecimal round never emits IEEE -0.0; the oracle's
        # `+ 0` normalizes DuckDB's.
        lift.alias("lift"),
    )


# ---------------------------------------------------------------------------
# Window distribution-function tour: ntile / percent_rank /
# cume_dist — the last uncovered built-in window family (rank/row_number/
# lag/lead/frames live in window_rank_tour / window_frame_navigation).
# Per event_type, users ranked by their rounded spend; the user_id
# tie-break makes every ORDER BY key unique, so ntile assignment and the
# peer-group-dependent percent_rank/cume_dist are deterministic in both
# engines. One exchange on the (low-cardinality) event_type key — fine
# for a per-category leaderboard; partition by a finer key (or pre-bucket)
# when categories are few and huge.
# ---------------------------------------------------------------------------


@register(
    "window_distribution_tour",
    """
    WITH u AS (
        SELECT event_type, user_id, round(sum(value), 2) AS total
        FROM events WHERE user_id IS NOT NULL
        GROUP BY event_type, user_id
    )
    SELECT event_type, user_id, total,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           round(percent_rank() OVER w, 4) AS pr,
           round(cume_dist() OVER w, 4) AS cd
    FROM u WINDOW w AS (PARTITION BY event_type ORDER BY total, user_id)
    """,
)
def window_distribution_tour(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(F.round(F.sum("value"), 2).alias("total"))
    )
    w = Window.partitionBy("event_type").orderBy("total", "user_id")
    return u.select(
        "event_type", "user_id", "total",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pr"),
        F.round(F.cume_dist().over(w), 4).alias("cd"),
    )


# ---------------------------------------------------------------------------
# Deterministic mergeable quantile sketch: the
# sibling of sketch_countmin_users, completing the sketch story
# (agg_percentile_approx is rows-only by necessity — approx_percentile's
# internal sketch isn't SQL-replayable; this one is BY CONSTRUCTION). A
# fixed-width histogram sketch: _QSK_W cells over the (min, max) value
# range; cell counts are plain partial-aggregated sums, so the sketch is
# executor-mergeable exactly like count-min (counts add; bounds merge via
# min/max — pinned by test_quantile_sketch_merges). Quantile q is read off
# as the lower edge of the first cell whose cumulative count reaches
# ceil(q*N); the driver-checked error surface is rank_err = exact rank of
# that estimate minus the target rank, whose magnitude is bounded by the
# crossing cell's own count (the histogram guarantee — pinned by
# test_quantile_sketch_rank_bound).
# All arithmetic is float64 with identical operation order on both
# engines (bucket = floor((v - mn) * W / (mx - mn)), est = mn +
# bucket*(mx-mn)/W), so cell assignment and the v <= est rank count are
# bit-identical; q literals are cast to DOUBLE on the DuckDB side (its
# bare 0.95 is DECIMAL, whose exact ceil(q*n) could differ from float64).
# ---------------------------------------------------------------------------

_QSK_W = 512
_QSK_QS = (0.5, 0.9, 0.95, 0.99)

QUANTILE_SKETCH_ORACLE = f"""
    WITH v AS (SELECT CAST(value AS DOUBLE) AS value FROM events
               WHERE value IS NOT NULL),
    b AS (SELECT min(value) AS mn, max(value) AS mx, count(*) AS n FROM v),
    cells AS (
        SELECT least(CAST(floor((value - mn) * {_QSK_W} / (mx - mn)) AS BIGINT),
                     {_QSK_W - 1}) AS bucket,
               count(*) AS c
        FROM v CROSS JOIN b GROUP BY 1
    ),
    cum AS (SELECT bucket, sum(c) OVER (ORDER BY bucket) AS cumc FROM cells),
    qs AS (SELECT unnest([{', '.join(str(q) for q in _QSK_QS)}]::DOUBLE[]) AS q),
    targets AS (SELECT q, CAST(ceil(q * n) AS BIGINT) AS target_rank, mn, mx
                FROM qs CROSS JOIN b),
    est AS (
        SELECT q, target_rank, mn + min(bucket) * (mx - mn) / {_QSK_W} AS est_val
        FROM targets JOIN cum ON cum.cumc >= targets.target_rank
        GROUP BY q, target_rank, mn, mx
    ),
    ranks AS (
        SELECT e.q, e.target_rank, e.est_val, count(*) AS est_rank
        FROM est e JOIN v ON v.value <= e.est_val
        GROUP BY 1, 2, 3
    )
    SELECT q, target_rank, round(est_val, 4) + 0 AS est,
           CAST(est_rank AS BIGINT) AS est_rank,
           CAST(est_rank - target_rank AS BIGINT) AS rank_err
    FROM ranks
    """


def quantile_vals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(F.col("value").cast("double").alias("value"))
    )


def quantile_bounds(vals: DataFrame) -> DataFrame:
    """1-row (mn, mx, n) — the sketch's grid configuration. Mergeable
    (min/max/count all combine associatively); broadcast-safe forever."""
    return vals.agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )


def quantile_bucket_col(value, mn, mx):
    """Cell index 0.._QSK_W-1 — MUST keep the exact float op order of the
    oracle ((v - mn) * W / (mx - mn), floor, clamp) for bit parity."""
    return F.least(
        F.floor((value - mn) * _QSK_W / (mx - mn)).cast("long"),
        F.lit(_QSK_W - 1).cast("long"),
    )


def quantile_cells(vals: DataFrame, bounds: DataFrame) -> DataFrame:
    """The <= _QSK_W-cell histogram: one broadcast of the 1-row bounds +
    one partial-aggregated groupBy — no shuffle of value rows beyond the
    fixed cell key space."""
    return (
        vals.join(F.broadcast(bounds))
        .select(quantile_bucket_col(F.col("value"), F.col("mn"), F.col("mx"))
                .alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def quantile_score(
    spark: SparkSession,
    sf_dir: str,
    cells: DataFrame,
    bounds: DataFrame,
    group_cols: tuple = (),
    vals: DataFrame | None = None,
) -> DataFrame:
    """Quantile read-off + exact-rank error surface against a GIVEN
    (cells, bounds) sketch — the single definition shared by the batch and
    streaming twins (the cms_score idiom). Taking ``bounds`` as input
    keeps the score to ONE exact-rank audit scan of the values (bounds are
    part of the sketch; recomputing them here would re-scan). The
    cumulative window runs over the <= _QSK_W-row cell table (fixed-size;
    the one-partition window is the bounded exception to the
    no-global-window rule), and the exact-rank count joins the value scan
    against the broadcast 4-row estimate relation.

    ``group_cols`` (the hll_grid_fill/hll_score convention): scores a
    sketch keyed by extra columns (the windowed twin) — ``cells`` carries
    them, ``vals`` must too (for the window-scoped rank audit), target
    ranks come from per-group n = sum(c) (derivable from the sketch
    itself — the global grid makes per-group bounds unnecessary), and the
    target/estimate relations GROW with retained groups so their joins
    are UNHINTED (the FIXED-K rule), unlike the default path's
    constant-4-row broadcasts. Defaults keep the global twins'
    plans byte-identical."""
    from pyspark.sql.window import Window as W

    g = list(group_cols)
    if vals is None:
        vals = quantile_vals(spark, sf_dir)
    cum = cells.select(
        *g, "bucket",
        F.sum("c").over(W.partitionBy(*g).orderBy("bucket")).alias("cumc"),
    )
    qs = F.explode(F.array(*[F.lit(float(q)) for q in _QSK_QS])).alias("q")
    if g:
        per_group_n = cells.groupBy(*g).agg(F.sum("c").alias("n"))
        targets = (
            per_group_n.join(F.broadcast(bounds.select("mn", "mx")))
            .select(*g, qs, "mn", "mx", "n")
            .select(
                *g, "q",
                F.ceil(F.col("q") * F.col("n")).cast("long")
                .alias("target_rank"),
                "mn", "mx",
            )
        )
        # targets and cum BOTH derive from cells — rename cum's group cols
        # so the equi-conditions don't collapse to trivially-true
        # self-comparisons (Spark resolves both sides to the same lineage).
        cum_r = cum.select(
            *[F.col(c).alias(f"_cum_{c}") for c in g], "bucket", "cumc"
        )
        joined = targets.join(
            cum_r,
            [F.col(f"_cum_{c}") == F.col(c) for c in g]
            + [F.col("cumc") >= F.col("target_rank")],
        ).drop(*[f"_cum_{c}" for c in g])
    else:
        targets = bounds.select(qs, "mn", "mx", "n").select(
            "q",
            F.ceil(F.col("q") * F.col("n")).cast("long").alias("target_rank"),
            "mn", "mx",
        )
        joined = F.broadcast(targets).join(
            cum, cum["cumc"] >= targets["target_rank"]
        )
    est = (
        joined.groupBy(*g, "q", "target_rank", "mn", "mx")
        .agg(F.min("bucket").alias("bucket"))
        .select(
            *g, "q", "target_rank",
            (F.col("mn") + F.col("bucket") * (F.col("mx") - F.col("mn"))
             / _QSK_W).alias("est_val"),
        )
    )
    if g:
        # LEFT join: a sparse group whose estimate undercuts every value
        # (single-occupant cells put est at the cell's LOWER edge) must
        # still report its row with est_rank = 0, not vanish — with the
        # global inner-join text that group would silently drop, which is
        # fine when cells are dense (the proven global twins) but loses
        # whole windows at per-hour occupancy.
        ranks = (
            est.join(
                vals,
                [vals[c] == est[c] for c in g]
                + [vals["value"] <= est["est_val"]],
                "left_outer",
            )
            .drop(*[vals[c] for c in g])
            .groupBy(*g, "q", "target_rank", "est_val")
            .agg(F.count("value").alias("est_rank"))
        )
    else:
        ranks = (
            vals.join(F.broadcast(est), vals["value"] <= est["est_val"])
            .groupBy("q", "target_rank", "est_val")
            .agg(F.count(F.lit(1)).alias("est_rank"))
        )
    # est_val is bit-deterministic cross-engine (min/max selections +
    # the pinned mn + bucket*(mx-mn)/W op order, where /W is an exact
    # power-of-two scaling) — so the grouped path emits it RAW: rounding
    # to 4 dp is the only non-identical step (Spark BigDecimal HALF_UP vs
    # DuckDB's float-scaled round diverge on ties, observed 4/2124 rows
    # at sf0.01). The global path keeps round(4) — its oracle text is
    # driver-frozen and its dense estimates never landed on a tie.
    est_col = F.col("est_val") if g else F.round(F.col("est_val"), 4)
    return ranks.select(
        *g, "q", "target_rank",
        est_col.alias("est"),
        F.col("est_rank").cast("long").alias("est_rank"),
        (F.col("est_rank") - F.col("target_rank")).cast("long")
            .alias("rank_err"),
    )


@register("sketch_quantile_values", QUANTILE_SKETCH_ORACLE)
def sketch_quantile_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p95/p99 of events.value read from the fixed-grid histogram
    sketch, with the exact-rank error surface."""
    vals = quantile_vals(spark, sf_dir)
    bounds = quantile_bounds(vals)
    return quantile_score(spark, sf_dir, quantile_cells(vals, bounds), bounds)


# ---------------------------------------------------------------------------
# Deterministic HyperLogLog distinct sketch: third of the sketch trio
# (count-min = frequency, fixed-grid histogram = quantiles, HLL = distinct
# count), making approximate COUNT DISTINCT hash-checkable the same way —
# agg_approx_distinct stays rows-only because approx_count_distinct's
# internal HLL++ isn't SQL-replayable, but THIS sketch is deterministic by
# construction. Per group, each key hashes once (md5): the first byte picks
# one of _HLL_M=256 registers, the next 60 bits w give the rank
# rho = 61 - length(bin(w) with leading zeros stripped) — pure string ops,
# identical on both engines (bin() emits no leading zeros on either; w=0
# strips to '' -> rho 61). Registers merge by MAX (pinned by
# test_hll_sketch_merges), so the sketch is executor-mergeable like the
# other two: a partial-aggregated groupBy folds any partitioning into
# <= 256 registers per group. The indicator sum over registers is kept in
# FIXED-POINT: term = 2^(_HLL_SHIFT - rho) as BIGINT (rho > _HLL_SHIFT
# truncates to 0 on BOTH sides — deterministic, and the dropped tail is
# < 2^-30 relative), so the only float op is the final
# alpha * m^2 * 2^SHIFT / sum — multiplications by powers of two are exact
# scalings of the alpha literal and the division is one correctly-rounded
# IEEE op, so the estimate is bit-identical cross-engine. err_pct against
# the exact distinct count is the driver-checked error surface
# (|err| <= 15% at sf0.01 pinned by test_hll_sketch_accuracy); zero_regs
# exposes the small-range (linear-counting) regime honestly instead of
# hiding it behind a cross-engine-unsafe ln().
# ---------------------------------------------------------------------------

_HLL_M = 256
_HLL_SHIFT = 30
_HLL_ALPHA = 0.718273  # alpha_256 = 0.7213 / (1 + 1.079/256), 6 dp
_HLL_NIBS = "0123456789abcdef"
_HLL_H_SQL = "md5('hll:' || CAST(o_orderkey AS VARCHAR))"


def _hll_w_sql(h: str) -> str:
    """Hex chars 3..17 of ``h`` (60 bits) as BIGINT — the shared
    strpos-nibble generator (plans.hex_bigint_sql); max value
    16^15 - 1 < 2^60 fits BIGINT with every partial product exact."""
    return hex_bigint_sql(h, 3, 15)


HLL_SKETCH_ORACLE = f"""
    WITH ord AS (SELECT o_orderpriority, o_orderkey FROM orders),
    hashed AS (
        SELECT o_orderpriority,
               (strpos('{_HLL_NIBS}', substring({_HLL_H_SQL}, 1, 1)) - 1) * 16
                 + (strpos('{_HLL_NIBS}', substring({_HLL_H_SQL}, 2, 1)) - 1)
                 AS bucket,
               CAST(61 - length(trim(LEADING '0'
                                     FROM bin({_hll_w_sql(_HLL_H_SQL)})))
                    AS BIGINT) AS r
        FROM ord
    ),
    regs AS (SELECT o_orderpriority, bucket, max(r) AS r
             FROM hashed GROUP BY o_orderpriority, bucket),
    grid AS (SELECT o_orderpriority, b.range AS bucket
             FROM (SELECT DISTINCT o_orderpriority FROM ord)
             CROSS JOIN range({_HLL_M}) b),
    full_regs AS (
        SELECT grid.o_orderpriority, grid.bucket,
               coalesce(regs.r, 0) AS register
        FROM grid LEFT JOIN regs
          ON regs.o_orderpriority = grid.o_orderpriority
         AND regs.bucket = grid.bucket
    ),
    sk AS (
        SELECT o_orderpriority,
               sum(CASE WHEN register > {_HLL_SHIFT} THEN 0
                        ELSE (1::BIGINT << ({_HLL_SHIFT} - register)) END) AS s,
               sum(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS zero_regs
        FROM full_regs GROUP BY o_orderpriority
    ),
    exact AS (SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n
              FROM ord GROUP BY o_orderpriority),
    est AS (
        SELECT sk.o_orderpriority,
               CAST(exact.n AS BIGINT) AS exact_n,
               {_HLL_ALPHA}::DOUBLE * {float(_HLL_M * _HLL_M)}::DOUBLE
                 * {float(2 ** _HLL_SHIFT)}::DOUBLE / CAST(sk.s AS DOUBLE)
                 AS est_raw,
               CAST(sk.zero_regs AS BIGINT) AS zero_regs
        FROM sk JOIN exact ON exact.o_orderpriority = sk.o_orderpriority
    )
    SELECT o_orderpriority, exact_n, round(est_raw, 4) AS est, zero_regs,
           round((est_raw - exact_n) * 100.0 / exact_n, 4) + 0 AS err_pct
    FROM est
    """


def _hll_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey"
    )


def hll_hashed(
    ord_df: DataFrame,
    key: str = "o_orderkey",
    group_cols: tuple[str, ...] = ("o_orderpriority",),
) -> DataFrame:
    """(group, bucket, r): one md5 per key occurrence — bucket from the
    first hash byte (shared nibble idiom), rank from the next 60 bits via
    conv() on the Spark side (exact for < 2^63; the oracle replays it with
    the 15-term nibble sum). ``key``/``group_cols`` parametrize the keyed
    variants (the windowed twins count user_id per time window) with
    defaults preserving the original orders-table signature."""
    from ..operators.dedup import _nibble

    h = F.md5(F.concat(F.lit("hll:"), F.col(key).cast("string")))
    return ord_df.select(
        *group_cols,
        (_nibble(h, 0) * 16 + _nibble(h, 1)).cast("long").alias("bucket"),
        F.conv(F.substring(h, 3, 15), 16, 10).cast("long").alias("w"),
    ).select(
        *group_cols,
        "bucket",
        # bin() drops leading zeros on both engines; trimming '0' makes
        # w=0 -> '' -> rho 61 without a special case
        (F.lit(61) - F.length(F.expr("trim(LEADING '0' FROM bin(w))")))
        .cast("long")
        .alias("r"),
    )


def hll_fold(
    hashed: DataFrame, group_cols: tuple[str, ...] = ("o_orderpriority",)
) -> DataFrame:
    """The register fold — MAX is the sketch's combine, so this is
    partial-aggregated batch-side, how two independently-built register
    tables union (test_hll_sketch_merges), and exactly what the streaming
    twin maintains as complete-mode state (<= groups x _HLL_M rows
    regardless of stream length)."""
    return hashed.groupBy(*group_cols, "bucket").agg(
        F.max("r").alias("r")
    )


def hll_grid_fill(
    regs: DataFrame,
    groups: DataFrame,
    group_cols: tuple[str, ...] = ("o_orderpriority",),
) -> DataFrame:
    """Materialize empty registers as 0 against the all-buckets broadcast
    grid so the indicator sum sees all _HLL_M cells per group."""
    spark = regs.sparkSession
    grid = groups.crossJoin(
        F.broadcast(spark.range(_HLL_M).select(F.col("id").alias("bucket")))
    )
    return grid.join(regs, [*group_cols, "bucket"], "left").select(
        *group_cols,
        "bucket",
        F.coalesce("r", F.lit(0)).cast("long").alias("register"),
    )


def hll_registers(hashed: DataFrame, groups: DataFrame) -> DataFrame:
    """The complete <= groups x _HLL_M register table: fold + grid fill
    (split so the streaming twin can drain the fold's complete-mode state
    and grid-fill batch-side)."""
    return hll_grid_fill(hll_fold(hashed), groups)


def hll_score(
    spark: SparkSession,
    sf_dir: str,
    regs: DataFrame,
    group_cols: tuple[str, ...] = ("o_orderpriority",),
    exact: DataFrame | None = None,
) -> DataFrame:
    """Estimate + exact-distinct error surface against a GIVEN register
    relation (the cms_score / quantile_score idiom: one definition both a
    future streaming twin and the batch query share). Fixed-point
    indicator sum (BIGINT, exact); ONE float division at the end with the
    multiplication order pinned to the oracle's. ``exact`` overrides the
    default orders-table exact arm with any (group_cols..., n) relation
    (the windowed twins' per-window countDistinct)."""
    sk = regs.groupBy(*group_cols).agg(
        F.sum(
            F.expr(
                f"CASE WHEN register > {_HLL_SHIFT} THEN CAST(0 AS BIGINT) "
                f"ELSE shiftleft(CAST(1 AS BIGINT), "
                f"{_HLL_SHIFT} - CAST(register AS INT)) END"
            )
        ).alias("s"),
        F.sum(F.when(F.col("register") == 0, 1).otherwise(0))
        .cast("long")
        .alias("zero_regs"),
    )
    if exact is None:
        exact = _hll_orders(spark, sf_dir).groupBy("o_orderpriority").agg(
            F.countDistinct("o_orderkey").alias("n")
        )
    est_raw = (
        F.lit(_HLL_ALPHA)
        * F.lit(float(_HLL_M * _HLL_M))
        * F.lit(float(2 ** _HLL_SHIFT))
        / F.col("s").cast("double")
    )
    return sk.join(exact, list(group_cols)).select(
        *group_cols,
        F.col("n").cast("long").alias("exact_n"),
        F.round(est_raw, 4).alias("est"),
        F.col("zero_regs").cast("long").alias("zero_regs"),
        F.round((est_raw - F.col("n")) * 100.0 / F.col("n"), 4)
        .alias("err_pct"),
    )


@register("sketch_hll_distinct", HLL_SKETCH_ORACLE)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct o_orderkey per o_orderpriority estimated from a 256-register
    deterministic HLL, with the exact count and err_pct error surface.

    Plan shape: one map-side md5 projection + two partial-aggregated
    groupBys fold the fact scan into <= 5 x 256 registers; the
    all-buckets grid is a broadcast crossJoin of two fixed-size relations;
    the exact arm is one countDistinct exchange (correctness surface only
    — at 100 TB you'd ship just the register table)."""
    ord_df = _hll_orders(spark, sf_dir)
    regs = hll_registers(hll_hashed(ord_df), ord_df.select("o_orderpriority").distinct())
    return hll_score(spark, sf_dir, regs)


# ---------------------------------------------------------------------------
# Bloom-pruned join: the layout family's third technique after
# z-order and bucketing — RUNTIME-FILTER join pruning, hand-rolled with
# the deterministic Bloom machinery. The selective dimension side's join
# keys build a self-sizing Bloom filter (textprep.bloom_m/bloom_bits:
# constant-capped at 2^22 bits); the FACT scan probes it with _BLOOM_K
# chained broadcast equi-joins (bloom_pos_col's column form) BEFORE the
# join — so at 100 TB only the ~|dim-selectivity| fraction of fact rows
# (plus a few % false positives) ever reaches the join exchange, the
# pattern Spark's native AQE runtime bloom filter
# (spark.sql.optimizer.runtimeFilter.bloomFilter.enabled) automates.
# Correctness is FREE: the filter is one-sided (never drops a true key)
# and the exact join afterwards kills the false positives, so the result
# equals the plain join — which is exactly what the oracle runs, with no
# bloom at all: the sketch layer is a pure plan technique, invisible to
# values. The final join stays UNHINTED: the prune pays off precisely
# when the dim is too big to broadcast and the planner must shuffle.
# ---------------------------------------------------------------------------

_BLOOM_JOIN_MIN_PRICE = 470000.0  # ~6% of orders at every testdata sf


@register(
    "layout_bloom_prefilter",
    f"""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > {_BLOOM_JOIN_MIN_PRICE}
    GROUP BY o_orderpriority
    """,
)
def layout_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of lineitems belonging to high-value orders, computed
    through a Bloom-pruned join: bits built from the selected orders'
    keys, fact rows pre-screened by k chained broadcast probes, exact
    join + aggregation after. Plan pinned by
    test_bloom_prefilter_probe_broadcast (k probe BroadcastHashJoins, no
    cartesian, partial aggregation)."""
    from .textprep import _BLOOM_K, bloom_bits, bloom_m, bloom_pos_col

    orders_sel = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > _BLOOM_JOIN_MIN_PRICE)
        .select("o_orderkey", "o_orderpriority")
    )
    # The bloom machinery is keyed on a 'gram' string column (its textprep
    # origin); integer keys enter as their canonical decimal rendering —
    # build and probe use the SAME cast, which is all one-sidedness needs.
    keys = (
        orders_sel.select(F.col("o_orderkey").cast("string").alias("gram"))
        .distinct()
        .localCheckpoint()
    )
    mrel = bloom_m(keys).localCheckpoint()
    bits = bloom_bits(keys, mrel).localCheckpoint()
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    pruned = li.join(F.broadcast(mrel)).select(
        "l_orderkey", "l_extendedprice", "l_discount",
        *[
            bloom_pos_col(F.col("l_orderkey").cast("string"), F.col("m"), j)
            for j in range(_BLOOM_K)
        ],
    )
    for j in range(_BLOOM_K):
        bj = bits.withColumnRenamed("pos", f"bpos{j}")
        pruned = pruned.join(
            F.broadcast(bj), F.col(f"pos{j}") == F.col(f"bpos{j}")
        ).drop(f"bpos{j}", f"pos{j}")
    # Exact join (unhinted) eliminates the Bloom's false positives; the
    # aggregation partial-combines map-side as usual.
    return (
        pruned.join(
            orders_sel, pruned["l_orderkey"] == orders_sel["o_orderkey"]
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )
