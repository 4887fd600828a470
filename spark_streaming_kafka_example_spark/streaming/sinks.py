"""Streaming sinks (SURVEY §2.2 K1-K9).

Each helper returns a started ``StreamingQuery``. Checkpointing (SURVEY T2)
is per-query and mandatory for fault tolerance everywhere but console/memory.

Scale: the parquet sink writes one file per partition per micro-batch —
pair with a sensible trigger interval and partitionBy so compaction stays
manageable; foreachBatch is the batched (not row-at-a-time) external-writer
path, replacing the reference's per-row ForeachWriter CQL inserts
(reference StreamingWithCasssandra.scala:67-77) with idempotent bulk writes.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

__all__ = [
    "console_sink",
    "memory_sink",
    "parquet_sink",
    "kafka_sink",
    "foreach_batch_sink",
    "foreach_row_sink",
    "overwrite_partitions",
    "idempotent_parquet_handler",
    "rollup_upsert_handler",
]


def console_sink(df: DataFrame, mode: str = "append", **options: Any) -> StreamingQuery:
    """Console sink, append/complete/update (K1-K3; reference
    StreamingWithKafka.scala:36, Basic.scala:24, TumblingWindow.scala:65)."""
    return df.writeStream.outputMode(mode).format("console").options(**options).start()


def memory_sink(
    df: DataFrame, name: str, mode: str = "append"
) -> StreamingQuery:
    """Memory sink — the deterministic test harness sink: bounded source +
    availableNow + memory table == batch-equivalent result."""
    return (
        df.writeStream.outputMode(mode).format("memory").queryName(name)
        .trigger(availableNow=True).start()
    )


def parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: str | list[str] | None = None,
) -> StreamingQuery:
    """Partitioned parquet archive sink + checkpoint (K4; reference
    ParquetOutput.scala:43-47 — append is the only file-sink mode)."""
    writer = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_by:
        writer = writer.partitionBy(
            *(partition_by if isinstance(partition_by, list) else [partition_by])
        )
    return writer.trigger(availableNow=True).start()


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    mode: str = "update",
) -> StreamingQuery:
    """Kafka sink with the to_json(struct(*)) serialization idiom (K5;
    reference StreamingWithKafkaJoinedData.scala:49-54,
    SlidingWindow.scala:69-73). Needs a live broker — code-pathed, exercised
    only when configured (SURVEY §7 Phase 2)."""
    payload = df.select(F.to_json(F.struct("*")).alias("value"))
    return (
        payload.writeStream.format("kafka")
        .outputMode(mode)
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def foreach_batch_sink(
    df: DataFrame,
    handler: Callable[[DataFrame, int], None],
    checkpoint: str | None = None,
    mode: str = "update",
) -> StreamingQuery:
    """foreachBatch — the preferred external-writer path (K6 rebuilt; SURVEY
    §2.2: batched, replaces the reference's row-at-a-time Cassandra
    ForeachWriter). The handler gets a *batch* DataFrame: bulk-write it
    (JDBC/parquet/HTTP) with batch_id for idempotence."""
    writer = df.writeStream.outputMode(mode).foreachBatch(handler)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def foreach_row_sink(df: DataFrame, writer_obj: Any, mode: str = "append") -> StreamingQuery:
    """Row-at-a-time foreach writer — exact API parity with the reference's
    ForeachWriter open/process/close contract (K6; reference
    StreamingWithCasssandra.scala:31-39). Prefer foreach_batch_sink."""
    return df.writeStream.outputMode(mode).foreach(writer_obj).start()


def overwrite_partitions(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Write df under path, replacing exactly the ``partition_cols``
    partitions it contains (dynamic partition overwrite) and leaving every
    other partition alone — the one exactly-once write every foreachBatch
    handler here shares: a replayed batch rewrites its own partitions with
    the same rows instead of appending them twice."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def idempotent_parquet_handler(base_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch handler with exactly-once semantics: each micro-batch
    lands in its own ``batch_id=N`` partition via dynamic partition
    overwrite, so a replayed batch (restart between sink write and
    checkpoint commit) overwrites itself instead of duplicating — the
    pattern every at-least-once external writer needs at scale (the
    reference's per-row CQL inserts silently double-write on replay)."""

    def handler(batch_df: DataFrame, batch_id: int) -> None:
        overwrite_partitions(
            batch_df.withColumn("batch_id", F.lit(batch_id)), base_dir, "batch_id"
        )

    return handler


def rollup_upsert_handler(
    base_dir: str, partition_cols: str | list[str]
) -> Callable[[DataFrame, int], None]:
    """foreachBatch handler that MAINTAINS a keyed aggregate table — the
    materialized-view upkeep pattern: run the streaming agg in UPDATE mode
    (each micro-batch emits only the groups whose state changed), partition
    the target by the group key, and dynamic-partition-overwrite exactly
    those partitions with the new cumulative values. Untouched partitions
    are never rewritten; a replayed batch rewrites the same partitions with
    the same state (idempotent). This is the parquet-only equivalent of a
    Delta/Iceberg MERGE at a fraction of the write amplification — the
    partition key must therefore be the (coarse) group key, e.g. the day.
    """
    cols = partition_cols if isinstance(partition_cols, list) else [partition_cols]

    def handler(batch_df: DataFrame, batch_id: int) -> None:
        overwrite_partitions(batch_df, base_dir, *cols)

    return handler
