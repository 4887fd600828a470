"""Row-level transforms: parse, flatten, timestamp derivation (SURVEY §2.3).

These are the reference's copy-pasted projection blocks factored into
composable functions. Every transform is a pure DataFrame->DataFrame function
built from JVM-side ``pyspark.sql.functions`` (whole-stage-codegen'd; no
Python in the hot path), so Catalyst can prune/push/fold across them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .schemas import DATE_FMT, SENSOR_RAW_SCHEMA

__all__ = [
    "cast_value_string",
    "parse_json",
    "flatten_sensor",
    "with_event_time",
    "with_month",
    "with_date_roundtrip",
    "split_explode_words",
]


def cast_value_string(df: DataFrame, col: str = "value") -> DataFrame:
    """binary->string cast of a Kafka payload (SURVEY P1; reference
    StreamingWithKafka.scala:21 ``selectExpr("CAST(value AS STRING)")``)."""
    return df.selectExpr(f"CAST({col} AS STRING) AS {col}")


def parse_json(df: DataFrame, col: str = "value", schema=None, out: str = "parsed") -> DataFrame:
    """JSON string -> nested struct, PERMISSIVE nulls on malformed input
    (SURVEY P2; reference StreamingWithKafka.scala:26)."""
    return df.withColumn(out, F.from_json(F.col(col), schema or SENSOR_RAW_SCHEMA))


def flatten_sensor(df: DataFrame, parsed: str = "parsed") -> DataFrame:
    """Dotted-path nested-field flatten (SURVEY P3; reference
    ParquetOutput.scala:30-38 — the flat variant; the one-field ``struct()``
    wrapping at StreamingWithKafka.scala:27-34 is reproduced *without* the
    accidental struct per SURVEY P4's decision)."""
    p = parsed
    return df.select(
        F.col(f"{p}.id").alias("id"),
        F.col(f"{p}.date").alias("date"),
        F.col(f"{p}.coord.lat").alias("lat"),
        F.col(f"{p}.coord.lon").alias("lon"),
        F.col(f"{p}.main.temperature").alias("temperature"),
        F.col(f"{p}.main.humidity").alias("humidity"),
        F.col(f"{p}.main.ph").alias("ph"),
        F.col(f"{p}.main.whc").alias("whc"),
    )


def with_event_time(df: DataFrame, col: str = "date", out: str = "timestamp", fmt: str = DATE_FMT) -> DataFrame:
    """string -> TimestampType event-time column (SURVEY P9; reference
    SlidingWindow.scala:39 ``to_timestamp($"date", "yyyy/MM/dd HH:mm:ss")``)."""
    return df.withColumn(out, F.to_timestamp(F.col(col), fmt))


def with_month(df: DataFrame, ts_col: str, out: str = "month") -> DataFrame:
    """Derive the yyyyMM partition key (SURVEY P10; reference
    ParquetOutput.scala:41). Deviation, documented per SURVEY P10: the
    reference applied date_format to the raw *string* date column (a Spark-2
    leniency that returns null under Spark>=3); we derive from the parsed
    timestamp instead."""
    return df.withColumn(out, F.date_format(F.col(ts_col), "yyyyMM"))


def with_date_roundtrip(df: DataFrame, col: str = "date", out: str = "ts_string", fmt: str = DATE_FMT) -> DataFrame:
    """string -> epoch -> formatted-string round trip (SURVEY P8; reference
    ParquetOutput.scala:40 ``from_unixtime(unix_timestamp($"date", fmt))``).
    NB from_unixtime emits the session-default pattern, matching the
    reference's behavior."""
    return df.withColumn(out, F.from_unixtime(F.unix_timestamp(F.col(col), fmt)))


def split_explode_words(df: DataFrame, col: str = "value", out: str = "word") -> DataFrame:
    """Space-split + flatten (SURVEY P12; reference Basic.scala:22
    ``flatMap(_.split(" "))``). PySpark has no typed Dataset; the idiomatic
    equivalent is split()+explode(), which stays inside codegen."""
    return df.select(F.explode(F.split(F.col(col), " ")).alias(out))
