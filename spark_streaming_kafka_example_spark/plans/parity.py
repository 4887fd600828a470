"""Reference-parity queries (SURVEY §2) over the testdata tables.

Domain mapping (FIXTURES.md §5): ``events`` stands in for the sensor Kafka
stream (``ts`` = event time, ``props`` = JSON payload, ``user_id`` x
``event_type`` = group keys, ``value`` = the summed measure); ``customer``
stands in for the sensor_field.csv master dimension; ``documents.text``
stands in for the word-count socket lines.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve by name
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..analytics import alert_filter, enrich_join, group_count, windowed_agg
from ..schemas import DATE_FMT, EVENT_PROPS_SCHEMA
from ..sources import load_table
from ..transforms import (
    parse_json,
    split_explode_words,
    with_date_roundtrip,
    with_event_time,
    with_month,
)
from . import MINUTE, SLIDING_5M, pane_sql, register

# ---------------------------------------------------------------------------
# Flagship: the reference's core pipeline re-expressed in batch
# (SURVEY §7 Phase 0). Kafka JSON parse (P2) -> flatten/derive (P3/P6) ->
# stream-static left-outer enrich join (J1) -> 5-min/1-min sliding window
# sum (A3, W3, W4) -> threshold alert filter (F1; the `avg_whc < 25.0`
# analogue at reference SlidingWindow.scala:63).
# ---------------------------------------------------------------------------

FLAGSHIP_ORACLE = f"""
WITH enriched AS (
    SELECT e.ts, e.value, c.c_mktsegment AS segment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
), panes AS ({pane_sql(SLIDING_5M, "segment, value", "enriched")})
SELECT window_start, window_end, segment,
       round(sum(value), 4) AS sum_value,
       count(*) AS n_events
FROM panes
GROUP BY 1, 2, 3
HAVING round(sum(value), 4) < 200.0
"""


def flagship_alert(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Sliding-window alerting over the enriched events — ONE body for the
    batch flagship and its streaming twin (plans/stream.py).

    Reference pipeline shape: StreamingWithKafkaJoinedData.scala:46 (join) ->
    SlidingWindow.scala:52-63 (window + filter). Batch event-time windows have
    identical pane semantics to streaming, so this is DuckDB-checkable
    (SURVEY §5); the watermark applies only to the streaming input.

    Scale: dimension side broadcast (no stream shuffle); single shuffle on
    (window, segment) with partial aggregation; AQE handles skewed segments.
    """
    segments = customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    enriched = enrich_join(events, segments, key="user_id", how="left_outer")
    agg = windowed_agg(
        enriched, "ts", ("segment",), SLIDING_5M.size, SLIDING_5M.slide,
        [
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.count(F.lit(1)).alias("n_events"),
        ],
        watermark=SLIDING_5M.watermark,
    )
    return alert_filter(agg, "sum_value", 200.0)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flagship_alert(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


register("flagship_sliding_alert", FLAGSHIP_ORACLE)(flagship)


# ---------------------------------------------------------------------------
# P1: selectExpr CAST projection (reference StreamingWithKafka.scala:21).
# ---------------------------------------------------------------------------


@register(
    "p1_cast_projection",
    """
    SELECT CAST(event_id AS VARCHAR) AS event_id_str,
           -- Spark CAST(double AS BIGINT) truncates toward zero; DuckDB's
           -- rounds to nearest, so trunc() first to match Spark semantics.
           CAST(trunc(value) AS BIGINT) AS value_int,
           CAST(user_id AS DOUBLE) AS user_id_dbl
    FROM events
    """,
)
def p1_cast_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    return df.selectExpr(
        "CAST(event_id AS STRING) AS event_id_str",
        "CAST(value AS BIGINT) AS value_int",
        "CAST(user_id AS DOUBLE) AS user_id_dbl",
    )


# ---------------------------------------------------------------------------
# P2 + P3: from_json schema-on-read -> nested-field extraction
# (reference StreamingWithKafka.scala:22-34). events.props is the JSON
# payload; malformed rows become nulls (PERMISSIVE, SURVEY §1.4).
# ---------------------------------------------------------------------------


@register(
    "p2_from_json_flatten",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def p2_from_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    parsed = parse_json(df, col="props", schema=EVENT_PROPS_SCHEMA)
    return parsed.select("event_id", F.col("parsed.k").alias("k"))


# ---------------------------------------------------------------------------
# P5: to_json(struct(...)) row serialization
# (reference StreamingWithKafkaJoinedData.scala:49).
# ---------------------------------------------------------------------------


@register(
    "p5_to_json_struct",
    """
    SELECT event_id,
           to_json(struct_pack(event_id := event_id, event_type := event_type))
               AS value
    FROM events
    """,
)
def p5_to_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    return df.select(
        "event_id",
        F.to_json(F.struct("event_id", "event_type")).alias("value"),
    )


# ---------------------------------------------------------------------------
# P7: withColumnRenamed for join-key alignment
# (reference StreamingWithKafkaJoinedData.scala:38).
# ---------------------------------------------------------------------------


@register(
    "p7_rename_key",
    "SELECT event_id, user_id AS sensor_id, event_type FROM events",
)
def p7_rename_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    return df.withColumnRenamed("user_id", "sensor_id").select(
        "event_id", "sensor_id", "event_type"
    )


# ---------------------------------------------------------------------------
# P8 + P9: the string->epoch->string round trip and string->timestamp parse
# (reference ParquetOutput.scala:40, SlidingWindow.scala:39). The testdata ts
# is already a timestamp, so derive the reference's wire format first —
# date_format(ts, 'yyyy/MM/dd HH:mm:ss') — then parse it back.
# ---------------------------------------------------------------------------


@register(
    "p8_p9_timestamp_roundtrip",
    """
    SELECT event_id,
           strftime(ts, '%Y/%m/%d %H:%M:%S') AS date_str,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS roundtrip_str,
           strptime(strftime(ts, '%Y/%m/%d %H:%M:%S'), '%Y/%m/%d %H:%M:%S')
               AS event_time
    FROM events
    """,
)
def p8_p9_timestamp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events").select(
        "event_id", F.date_format("ts", DATE_FMT).alias("date_str")
    )
    df = with_date_roundtrip(df, col="date_str", out="roundtrip_str")
    return with_event_time(df, col="date_str", out="event_time")


# ---------------------------------------------------------------------------
# P10 + P11: derive the yyyyMM partition key and keep-all splat
# (reference ParquetOutput.scala:40-41). Aggregated so the result is small.
# ---------------------------------------------------------------------------


@register(
    "p10_month_partition_key",
    """
    SELECT strftime(ts, '%Y%m') AS month,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1
    """,
)
def p10_month_partition_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        with_month(load_table(spark, sf_dir, "events"), "ts")
        .groupBy("month")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# P12 + A1: split/explode word count (reference Basic.scala:22-23; DStream
# twin BasicStreaming.scala:17 — capability reproduced, API not ported).
# documents.text stands in for the socket lines (FIXTURES.md §4).
# ---------------------------------------------------------------------------


@register(
    "p12_a1_word_count",
    """
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    """,
)
def p12_a1_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = split_explode_words(load_table(spark, sf_dir, "documents"), col="text")
    return group_count(words, "word").withColumnRenamed("count", "cnt")


# ---------------------------------------------------------------------------
# U1 + U2 + U3 + P13: UDF registration, temp view, SQL entry point
# (reference UdfRegister.scala:13-27: doubleString(str) = str + str over the
# sensor_master view). nation stands in for the master table.
# ---------------------------------------------------------------------------


@register(
    "u1_u3_udf_sql",
    """
    SELECT n_nationkey AS sensor_id,
           n_name AS field_id,
           n_name || n_name AS double_field_id
    FROM nation
    """,
)
def u1_u3_udf_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udfs import register_udfs

    # doubleString is the plain Python UDF on purpose: it reproduces U3's
    # scalar-UDF-in-SQL surface. Hot-path string work should use built-ins
    # or the vectorized doubleStringVec.
    register_udfs(spark)
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("sensor_master")
    return spark.sql(
        """
        SELECT n_nationkey AS sensor_id,
               n_name AS field_id,
               doubleString(n_name) AS double_field_id
        FROM sensor_master
        """
    )


# ---------------------------------------------------------------------------
# J1: stream-static left-outer equi-join (reference
# StreamingWithKafkaJoinedData.scala:46), key-deduped per SURVEY J1.
# ---------------------------------------------------------------------------


@register(
    "j1_enrich_left_outer",
    """
    SELECT e.event_id, e.user_id, e.event_type,
           c.c_name, c.c_mktsegment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def j1_enrich_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    return enrich_join(events, customer, key="user_id", how="left_outer").select(
        "event_id", "user_id", "event_type", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# A2 / W2: tumbling-window multi-agg (reference TumblingWindow.scala:52-58).
# Honest sum_* names, not the reference's lying avg_* (SURVEY §2.6 trap);
# true averages added alongside as capability.
# ---------------------------------------------------------------------------


@register(
    "a2_tumbling_window_agg",
    f"""
    WITH panes AS ({pane_sql(MINUTE, "event_type, value")})
    SELECT window_start, window_end, event_type,
           round(sum(value), 4) AS sum_value,
           round(avg(value), 4) AS avg_value,
           count(*) AS n_events
    FROM panes GROUP BY 1, 2, 3
    """,
)
def a2_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_agg(
        load_table(spark, sf_dir, "events"), "ts", ("event_type",),
        MINUTE.size, MINUTE.slide,
        [
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.count(F.lit(1)).alias("n_events"),
        ],
    )


# ---------------------------------------------------------------------------
# A3 / W3: sliding-window agg (reference SlidingWindow.scala:52-59) — every
# row lands in 5 one-minute-spaced panes of a 5-minute window.
# ---------------------------------------------------------------------------


@register(
    "a3_sliding_window_agg",
    f"""
    WITH panes AS ({pane_sql(SLIDING_5M, "event_type, value")})
    SELECT window_start, window_end, event_type,
           round(sum(value), 4) AS sum_value,
           count(*) AS n_events
    FROM panes GROUP BY 1, 2, 3
    """,
)
def a3_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_agg(
        load_table(spark, sf_dir, "events"), "ts", ("event_type",),
        SLIDING_5M.size, SLIDING_5M.slide,
        [
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.count(F.lit(1)).alias("n_events"),
        ],
    )


# ---------------------------------------------------------------------------
# F1: standalone threshold filter (reference SlidingWindow.scala:63).
# ---------------------------------------------------------------------------


@register(
    "f1_threshold_filter",
    "SELECT event_id, event_type, value FROM events WHERE value < 25.0",
)
def f1_threshold_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    return df.filter(F.col("value") < 25.0).select("event_id", "event_type", "value")


# ---------------------------------------------------------------------------
# U3 vectorized twin: the same doubleString surface through an Arrow-batched
# pandas UDF (the hot-path variant; SURVEY §2.10 extension note).
# ---------------------------------------------------------------------------


@register(
    "u3_udf_pandas_vectorized",
    """
    SELECT n_nationkey AS sensor_id, n_name || n_name AS double_field_id
    FROM nation
    """,
)
def u3_udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udfs import register_udfs

    register_udfs(spark)
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("sensor_master_vec")
    return spark.sql(
        """
        SELECT n_nationkey AS sensor_id, doubleStringVec(n_name) AS double_field_id
        FROM sensor_master_vec
        """
    )


# ---------------------------------------------------------------------------
# U5 GROUPED_AGG pandas UDF (SURVEY §2.10 extension note: "PySpark offers
# pandas_udf GROUPED_AGG"): a custom aggregate the built-ins don't provide,
# computed per whole group in one Arrow batch. Grouped-agg UDFs have no
# partial/merge path — Spark shuffles full groups to them — so at 100 TB
# they are for moderate group counts / custom math, never a substitute for
# built-in partial-aggregating sums.
# Cross-engine determinism: the weighted mean is computed in integer cents
# (exact int64 arithmetic, summation-order-independent) with one final
# float division, so Spark and DuckDB agree to the last bit. Exact .5
# rounding ties cannot occur: cents values (2k+1)/2 would need acctbal
# doubles exactly equal to (2k+1)/200, which is not binary-representable.
# ---------------------------------------------------------------------------


@register(
    "u5_pandas_grouped_agg",
    """
    SELECT c_mktsegment,
           round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)
                          * (c_nationkey + 1)) AS DOUBLE)
                 / (100.0 * sum(c_nationkey + 1)), 4) AS wavg_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def u5_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf("double")
    def wavg_cents(bal: pd.Series, w: pd.Series) -> float:
        cents = (bal * 100).round().astype("int64")
        wi = w.astype("int64")
        return int((cents * wi).sum()) / (100.0 * int(wi.sum()))

    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.round(
                wavg_cents(F.col("c_acctbal"), F.col("c_nationkey") + F.lit(1)), 4
            ).alias("wavg_bal")
        )
    )


# ---------------------------------------------------------------------------
# Map/array surface: from_json into MapType + explode (capability beyond the
# reference's fixed structs), and order-insensitive collect via sorted sets.
# ---------------------------------------------------------------------------


@register(
    "map_explode_props",
    """
    SELECT event_id, 'k' AS key,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS val
    FROM events
    """,
)
def map_explode_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    m = F.from_json("props", T.MapType(T.StringType(), T.LongType()))
    return df.select("event_id", F.explode(m).alias("key", "val"))


@register(
    "agg_collect_sorted_set",
    """
    SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type))), ',')
               AS types_csv
    FROM events GROUP BY user_id
    """,
)
def agg_collect_sorted_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    # collect_set order is nondeterministic -> sort before serializing, the
    # only way collected aggregates can be compared (or consumed) stably.
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias(
                "types_csv"
            )
        )
    )


# ---------------------------------------------------------------------------
# P2 variants: JSON-path extraction without a declared schema —
# get_json_object (JSONPath) and json_tuple (multi-field generator), the
# schema-less siblings of from_json for exploratory/evolving payloads.
# ---------------------------------------------------------------------------


@register(
    "p2b_json_path_extract",
    """
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_path,
           json_extract_string(props, '$.k') AS k_tuple
    FROM events
    """,
)
def p2b_json_path_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    return df.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_path"),
        F.json_tuple(F.col("props"), "k").alias("k_tuple"),
    )


# P2 modern variant: the Spark 4 VARIANT type — parse once, shred typed
# paths lazily (the replacement for schema-on-read from_json when the
# payload schema is open-ended). try_variant_get on a missing path yields
# NULL instead of raising.


@register(
    "p2c_variant_shred",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INT) AS k_int,
           json_extract_string(props, '$.k') AS k_str,
           CAST(NULL AS VARCHAR) AS missing
    FROM events
    """,
)
def p2c_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return df.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.missing", "string").alias("missing"),
    )


# ---------------------------------------------------------------------------
# P12 variant: posexplode — positional flatten (token position matters for
# n-grams/attention windows). Oracle: DuckDB zips same-length unnests.
# ---------------------------------------------------------------------------


@register(
    "p12b_posexplode_words",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents WHERE doc_id < 50)
    SELECT doc_id,
           CAST(unnest(range(len(w))) AS INT) AS pos,
           unnest(w) AS word
    FROM t
    """,
)
def p12b_posexplode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )


# ---------------------------------------------------------------------------
# U-extension: Python UDTF through the SQL entry point (LATERAL join) —
# the table-valued sibling of U3's scalar UDF. Oracle zips same-length
# unnests for (pos, bigram).
# ---------------------------------------------------------------------------


@register(
    "u4_udtf_lateral_bigrams",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents WHERE doc_id < 30)
    SELECT doc_id,
           CAST(unnest(range(len(w) - 1)) AS INT) AS pos,
           unnest(list_transform(range(len(w) - 1),
                                 i -> w[i+1] || ' ' || w[i+2])) AS bigram
    FROM t WHERE len(w) > 1
    """,
)
def u4_udtf_lateral_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udfs import register_udtfs

    register_udtfs(spark)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 30
    ).createOrReplaceTempView("docs_udtf")
    return spark.sql(
        "SELECT d.doc_id, b.pos, b.bigram "
        "FROM docs_udtf d, LATERAL bigrams(d.text) b"
    )


# ---------------------------------------------------------------------------
# Cogroup (grouped two-sided pandas merge): per-key alignment of two
# streams of the same table — the API for custom two-input per-key logic
# that joins can't express row-wise. Oracle: per-user first-click /
# first-purchase aggregation join.
# ---------------------------------------------------------------------------


@register(
    "cogroup_conversion_lag",
    """
    WITH clicks AS (
        SELECT user_id, min(ts) AS first_click FROM events
        WHERE event_type = 'click' GROUP BY user_id
    ), purchases AS (
        SELECT user_id, min(ts) AS first_purchase FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT c.user_id,
           CAST(date_diff('microsecond', c.first_click, p.first_purchase)
                AS BIGINT) AS lag_us
    FROM clicks c JOIN purchases p ON c.user_id = p.user_id
    """,
)
def cogroup_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-click -> first-purchase lag per user via
    ``groupBy().cogroup().applyInPandas`` — both sides arrive pre-grouped
    per key in one Arrow batch each, no join materialization in between."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")

    def lag(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame({"user_id": [], "lag_us": []})
        # exact micros (timestamps are µs-resolution): no sub-second
        # truncation semantics to disagree on cross-engine
        delta = right.ts.min() - left.ts.min()
        return pd.DataFrame(
            {
                "user_id": [left.user_id.iloc[0]],
                "lag_us": [delta // pd.Timedelta(microseconds=1)],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(lag, "user_id long, lag_us long")
    )


# ---------------------------------------------------------------------------
# S4 driver-proven: the CSV-with-declared-schema source over the
# repo's static sensor_field.csv fixture — promotes S4 from
# pytest-local to a hash-checked driver row. Both engines read the SAME
# shipped file (Spark: read_csv_master with SENSOR_MASTER_SCHEMA, header
# consumed; DuckDB: read_csv with explicit columns), so the oracle
# verifies the declared-schema parse itself, not a re-modeled relation.
# ---------------------------------------------------------------------------

import os as _os  # noqa: E402

_CSV_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
    "data",
    "sensor_field.csv",
)


@register(
    "s4_csv_declared_schema",
    f"""
    SELECT sensor_id, field_id, upper(field_id) AS field_uc
    FROM read_csv('{_CSV_FIXTURE}', header=true,
                  columns={{'sensor_id': 'BIGINT', 'field_id': 'VARCHAR'}})
    """,
)
def s4_csv_declared_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S4 (reference UdfRegister.scala:17-20 / StreamingWithKafka
    JoinedData.scala:41-44): CSV batch read with a DECLARED schema and a
    consumed header, never inference. sf_dir is unused — the source under
    test is the shipped fixture file itself."""
    from ..sources import read_csv_master

    df = read_csv_master(spark, _CSV_FIXTURE)
    return df.select(
        "sensor_id", "field_id", F.upper("field_id").alias("field_uc")
    )


_JSONL_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
    "data",
    "sample.jsonl",
)


@register(
    "jsonl_source_parity",
    f"""
    SELECT id, name, score, active
    FROM read_json('{_JSONL_FIXTURE}', format='newline_delimited',
                   columns={{'id': 'BIGINT', 'name': 'VARCHAR',
                             'score': 'DOUBLE', 'active': 'BOOLEAN'}})
    """,
)
def jsonl_source_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource (sources/jsonl.py) graduates to a
    driver-checked row: read the shipped sample.jsonl through the
    registered "jsonl" format with a DECLARED schema and a tiny
    partition_bytes so the fixture fans out over several newline-aligned
    byte-range slices — the slicing, per-slice reads, and missing-key ->
    NULL handling are all inside the hash. Oracle reads the SAME file via
    DuckDB's read_json with matching columns."""
    from ..sources.jsonl import read_jsonl

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("active", T.BooleanType()),
        ]
    )
    return read_jsonl(spark, _JSONL_FIXTURE, schema=schema, partition_bytes=257)
