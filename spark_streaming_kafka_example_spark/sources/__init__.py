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
declaratively. ``load_table`` never caches or collects rows; it
remembers only each table file's inferred schema.
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


# Confs that change what parquet schema inference returns for one file.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
# Process-wide: the key holds everything an inferred schema depends on,
# and two first readers that race only infer the same schema twice.
_SCHEMAS: dict[tuple, T.StructType] = {}


def _stat_key(path: str) -> tuple:
    st = os.stat(path)
    return (path, st.st_ino, st.st_mtime_ns, st.st_size)


def _schema_key(spark: SparkSession, path: str) -> tuple:
    """The file facts and conf values ``load_table``'s memo is keyed on."""
    real = os.path.realpath(path)
    files = [_stat_key(real)]
    if os.path.isdir(real):
        for root, dirs, names in os.walk(real):
            dirs.sort()
            files += [_stat_key(os.path.join(root, n)) for n in sorted(names)]
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    return tuple(files), confs


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata parquet table.

    Caches no data. The first read of a file infers its schema through
    Spark, which runs one job; later reads of the same unchanged file pass
    that schema and launch no job. The remembered schema is keyed on the
    file's realpath, inode, ``st_mtime_ns`` and ``st_size`` (for a
    directory, the same facts for each file in it) and on the confs that
    change inference (``nanosAsLong``, ``inferTimestampNTZ``,
    ``binaryAsString``, ``int96AsTimestamp``, ``mergeSchema``), so a
    rewritten file or a changed conf is inferred again.

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
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _schema_key(spark, path)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
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
