"""Batch and streaming sources (SURVEY §2.1 S1-S5).

The reference reads Kafka (S1), socket (S2/S3), CSV-with-declared-schema
(S4) and writes (never re-reads) a parquet archive (S5). Connectivity is
config, not logic (SURVEY §7 Phase 2): everything goes through this module so
tests and the oracle harness can swap a bounded file source for Kafka.
Beyond the reference's fixed formats, ``sources/jsonl.py`` shows the
runtime-extension path: a custom byte-range-partitioned JSONL format via
the Spark 4 Python DataSource API (``read_jsonl``).

Scale notes: parquet reads are vectorized + predicate-pushdown + column-
pruned by Catalyst for free as long as callers express filters/projections
declaratively. ``load_table`` never caches or collects.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

__all__ = [
    "TABLES",
    "read_jsonl",
    "load_table",
    "read_csv_master",
    "kafka_stream",
    "kafka_batch",
    "socket_stream",
    "rate_stream",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata parquet table.

    ``events.ts``'s physical type varies by testdata round:

    - INT64 TIMESTAMP(NANOS): with ``spark.sql.legacy.parquet.nanosAsLong=
      true`` (set in engine.py) Spark surfaces raw nanos LongType; convert
      by integer-truncating to microseconds — exactly what DuckDB does when
      it reads the same file — so oracle comparisons agree.
    - TIMESTAMP(MICROS, naive): Spark infers TimestampNTZType; cast to
      TimestampType. Event-time watermarks REQUIRE TimestampType
      (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), so both this reader and the
      streaming twin (plans.stream.events_stream) unify on it; under the
      pinned UTC session the NTZ->TZ cast is wall-clock identity, keeping
      DuckDB value parity.
    """
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # Integer div, NOT `/1000`: epoch nanos (~1.7e18) exceed double's
            # 2^53 mantissa, so float division drifts by up to a microsecond.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            # keep original column order
            df = df.select(
                "event_id", "ts", "user_id", "event_type", "value", "props"
            )
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
            df = df.select(
                "event_id", "ts", "user_id", "event_type", "value", "props"
            )
    return df


def read_csv_master(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV batch source with declared schema + header (SURVEY S4).

    The reference used the external com.databricks.spark.csv package — a
    Spark 1.x holdover (reference StreamingWithKafkaJoinedData.scala:41-44,
    UdfRegister.scala:17-20); the built-in csv reader is the modern
    equivalent. Header row is consumed, never used for inference.
    """
    from ..schemas import SENSOR_MASTER_SCHEMA

    return spark.read.csv(path, schema=schema or SENSOR_MASTER_SCHEMA, header=True)


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka streaming source (SURVEY S1; reference StreamingWithKafka.scala:17-19).

    Returns the standard Kafka columns (key/value binary, topic, partition,
    offset, timestamp, timestampType). Requires the spark-sql-kafka-0-10
    package on the classpath and a live broker — neither exists in the test
    container, so this is exercised only when configured (tests stream
    bounded parquet or JSON directories through ``spark.readStream``
    instead; SURVEY §5).

    Scale: one Spark input partition per Kafka partition; set
    ``minPartitions`` to fan out hotter topics.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def kafka_batch(spark: SparkSession, bootstrap_servers: str, topic: str) -> DataFrame:
    """Bounded Kafka read (batch over an offset range) for backfills."""
    return (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .load()
    )


def socket_stream(spark: SparkSession, host: str = "localhost", port: int = 9999) -> DataFrame:
    """Socket streaming source (SURVEY S2; reference Basic.scala:17-20).

    Test-only source; yields a single ``value: string`` column. The DStream
    twin (reference BasicStreaming.scala:16) is deliberately not ported
    (SURVEY §1.1 item 3).
    """
    return (
        spark.readStream.format("socket").option("host", host).option("port", port).load()
    )


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Built-in rate source (timestamp, value) for load tests."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def read_jsonl(spark, path, schema=None, **options):
    """Custom JSONL format via the Python DataSource API (sources/jsonl.py):
    newline-aligned byte-range partitions, PERMISSIVE parsing."""
    from .jsonl import read_jsonl as _impl

    return _impl(spark, path, schema=schema, **options)
