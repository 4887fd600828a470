"""One entrypoint per reference program — the switch-over map for a user of
``lightbitbird/spark-streaming-kafka-example``.

Each function wires the same pipeline the corresponding Scala main() wired
(same sources, transforms, sinks, output modes), parameterized instead of
hard-coded. Kafka/socket endpoints come from arguments; every app accepts an
optional pre-built input DataFrame so tests (and brokers-less environments)
can inject a bounded file source.

| reference program                       | here                       |
|-----------------------------------------|----------------------------|
| BasicStreaming.scala (DStream)          | basic_word_count (A4 via Structured Streaming; DStream API not ported, SURVEY §1.1) |
| structured/Basic.scala                  | basic_word_count           |
| structured/StreamingWithKafka.scala     | kafka_to_console           |
| structured/ParquetOutput.scala          | kafka_to_parquet_archive   |
| structured/StreamingWithKafkaJoinedData | kafka_enrich_to_kafka      |
| structured/UdfRegister.scala            | udf_sql_demo               |
| analysis/TumblingWindow.scala           | tumbling_window_analysis   |
| analysis/SlidingWindow.scala            | sliding_window_analysis    |
| cassandra/StreamingWithCasssandra.scala | kafka_foreach_external     |
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from .sources import kafka_stream, read_csv_master, socket_stream
from .streaming import pipelines, sinks
from .streaming.stateful import stateful_running_count
from .transforms import split_explode_words

__all__ = [
    "basic_word_count",
    "kafka_to_console",
    "kafka_to_parquet_archive",
    "kafka_enrich_to_kafka",
    "udf_sql_demo",
    "tumbling_window_analysis",
    "sliding_window_analysis",
    "kafka_foreach_external",
]


def basic_word_count(
    spark: SparkSession,
    host: str = "localhost",
    port: int = 9999,
    lines: DataFrame | None = None,
    stateful: bool = False,
) -> StreamingQuery:
    """Socket word count, complete mode (reference Basic.scala; the DStream
    updateStateByKey twin maps to ``stateful=True``)."""
    lines = lines if lines is not None else socket_stream(spark, host, port)
    words = split_explode_words(lines)
    if stateful:
        return sinks.console_sink(stateful_running_count(words), mode="update")
    return sinks.console_sink(pipelines.word_count(lines), mode="complete")


def kafka_to_console(
    spark: SparkSession,
    bootstrap: str = "localhost:9092",
    topic: str = "sensor-data1",
    raw: DataFrame | None = None,
) -> StreamingQuery:
    """Kafka -> parse -> flatten -> console, append mode
    (reference StreamingWithKafka.scala)."""
    raw = raw if raw is not None else kafka_stream(spark, bootstrap, topic)
    return sinks.console_sink(pipelines.sensor_ingest(raw), mode="append")


def kafka_to_parquet_archive(
    spark: SparkSession,
    path: str,
    checkpoint: str,
    bootstrap: str = "localhost:9092",
    topic: str = "sensor-data1",
    raw: DataFrame | None = None,
) -> StreamingQuery:
    """Kafka -> parse -> month column -> partitioned parquet + checkpoint
    (reference ParquetOutput.scala)."""
    raw = raw if raw is not None else kafka_stream(spark, bootstrap, topic)
    return sinks.parquet_sink(
        pipelines.sensor_archive(raw), path, checkpoint, partition_by="month"
    )


def kafka_enrich_to_kafka(
    spark: SparkSession,
    master_csv: str,
    checkpoint: str,
    bootstrap: str = "localhost:9092",
    in_topic: str = "sensor-data1",
    out_topic: str = "joined-sensor-data",
    raw: DataFrame | None = None,
) -> StreamingQuery:
    """Kafka -> CSV-master left-outer enrich -> to_json -> Kafka
    (reference StreamingWithKafkaJoinedData.scala)."""
    raw = raw if raw is not None else kafka_stream(spark, bootstrap, in_topic)
    master = read_csv_master(spark, master_csv)
    joined = pipelines.sensor_enrich(raw, master)
    return sinks.kafka_sink(joined, bootstrap, out_topic, checkpoint)


def udf_sql_demo(spark: SparkSession, master_csv: str) -> DataFrame:
    """CSV -> temp view -> registered UDF in SQL -> show
    (reference UdfRegister.scala:13-27)."""
    from .functions.udfs import register_udfs

    register_udfs(spark)
    master = read_csv_master(spark, master_csv)
    master.createOrReplaceTempView("sensor_master")
    out = spark.sql(
        """
        SELECT sensor_id, field_id, doubleString(field_id) AS double_field_id
        FROM sensor_master
        """
    )
    out.printSchema()  # K9
    out.show()
    return out


def _window_analysis(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    joined: DataFrame | None,
    window_duration: str,
    slide_duration: str | None,
    alert_threshold: float | None,
    to_kafka_topic: str | None,
    checkpoint: str | None,
) -> list[StreamingQuery]:
    if joined is None:
        # The analyses consume the joined-sensor-data topic, whose payload is
        # the FLAT enriched record (reference SlidingWindow.scala:24) — not
        # the nested raw-sensor schema.
        raw = kafka_stream(spark, bootstrap, topic)
        joined = pipelines.sensor_joined_ingest(raw)
    agg = pipelines.windowed_analysis(
        joined,
        window_duration=window_duration,
        slide_duration=slide_duration,
        alert_threshold=alert_threshold,
    )
    queries = [sinks.console_sink(agg, mode="update")]
    if to_kafka_topic:
        queries.append(sinks.kafka_sink(agg, bootstrap, to_kafka_topic, checkpoint))
    return queries


def tumbling_window_analysis(
    spark: SparkSession,
    bootstrap: str = "localhost:9092",
    topic: str = "joined-sensor-data",
    joined: DataFrame | None = None,
) -> list[StreamingQuery]:
    """1-min tumbling multi-sum, update mode (reference TumblingWindow.scala)."""
    return _window_analysis(
        spark, bootstrap, topic, joined, "1 minute", None, None, None, None
    )


def sliding_window_analysis(
    spark: SparkSession,
    bootstrap: str = "localhost:9092",
    topic: str = "joined-sensor-data",
    alert_topic: str | None = "whc-less-sensor-data",
    checkpoint: str | None = None,
    joined: DataFrame | None = None,
) -> list[StreamingQuery]:
    """5-min/1-min sliding sum + whc<25 alert, console + Kafka fan-out
    (reference SlidingWindow.scala:52-73, K8). The Kafka alert sink needs a
    checkpoint; pass ``alert_topic=None`` for the console query alone."""
    if alert_topic and not checkpoint:
        raise ValueError(
            f"alert_topic={alert_topic!r} needs a checkpoint: pass "
            "checkpoint= for the Kafka alert sink, or alert_topic=None to "
            "run without it"
        )
    return _window_analysis(
        spark, bootstrap, topic, joined, "5 minutes", "1 minute", 25.0,
        alert_topic, checkpoint,
    )


def kafka_foreach_external(
    spark: SparkSession,
    handler: Callable[[DataFrame, int], None],
    checkpoint: str,
    bootstrap: str = "localhost:9092",
    topic: str = "sensor-data1",
    raw: DataFrame | None = None,
) -> StreamingQuery:
    """Kafka -> typed rows -> batched external writes via foreachBatch —
    the Cassandra program's capability (reference
    StreamingWithCasssandra.scala) with the row-at-a-time CQL ForeachWriter
    replaced by idempotent bulk writes (SURVEY K6 decision)."""
    raw = raw if raw is not None else kafka_stream(spark, bootstrap, topic)
    flat = pipelines.sensor_archive(raw)
    return sinks.foreach_batch_sink(flat, handler, checkpoint=checkpoint)
