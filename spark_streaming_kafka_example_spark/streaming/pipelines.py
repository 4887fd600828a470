"""The reference's nine programs, rebuilt as source-agnostic pipeline
functions: each takes an (unbounded or bounded) input DataFrame and returns
the transformed streaming DataFrame; sink wiring is the caller's choice
(streaming/sinks.py). This factors out the 6x-copy-pasted
Kafka-read/parse/flatten block (SURVEY §7 architecture stance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..analytics import alert_filter, enrich_join, group_count, windowed_agg
from ..schemas import SENSOR_JOINED_SCHEMA
from ..transforms import (
    cast_value_string,
    flatten_sensor,
    parse_json,
    split_explode_words,
    with_event_time,
    with_month,
)

__all__ = [
    "sensor_ingest",
    "sensor_joined_ingest",
    "sensor_archive",
    "sensor_enrich",
    "windowed_analysis",
    "word_count",
]

# The window-agg input measures (reference TumblingWindow.scala:53-58).
SENSOR_MEASURES = ("temperature", "humidity", "ph", "whc")


def sensor_ingest(raw: DataFrame) -> DataFrame:
    """Kafka value bytes -> parsed, flattened sensor rows
    (reference StreamingWithKafka.scala:17-34: CAST -> from_json -> flatten)."""
    return flatten_sensor(parse_json(cast_value_string(raw)))


def sensor_joined_ingest(raw: DataFrame) -> DataFrame:
    """Kafka value bytes of the *joined-sensor-data* topic -> flat enriched
    rows (reference SlidingWindow.scala:24 / TumblingWindow.scala:24: the
    window analyses re-ingest the enrich pipeline's output, whose payload is
    the FLAT ``SENSOR_JOINED_SCHEMA`` — sensor_id/field_id at top level, no
    coord/main nesting)."""
    parsed = parse_json(cast_value_string(raw), schema=SENSOR_JOINED_SCHEMA)
    return parsed.select("parsed.*")


def sensor_archive(raw: DataFrame) -> DataFrame:
    """Ingest + derive the yyyyMM partition key for the parquet archive
    (reference ParquetOutput.scala:19-41). Event time is parsed first
    (SURVEY P10 deviation: date_format over the parsed ts, not the raw
    string)."""
    flat = sensor_ingest(raw)
    return with_month(with_event_time(flat), "timestamp")


def sensor_enrich(raw: DataFrame, master: DataFrame) -> DataFrame:
    """Ingest -> rename join key -> stream-static left-outer enrich
    (reference StreamingWithKafkaJoinedData.scala:17-46). The master side is
    broadcast: a stream must never shuffle for a dimension join."""
    flat = sensor_ingest(raw).withColumnRenamed("id", "sensor_id")
    return enrich_join(flat, master, key="sensor_id", how="left_outer")


def windowed_analysis(
    joined: DataFrame,
    window_duration: str = "5 minutes",
    slide_duration: str | None = "1 minute",
    watermark: str = "10 minutes",
    alert_threshold: float | None = 25.0,
) -> DataFrame:
    """The flagship analysis (reference SlidingWindow.scala:39-63 /
    TumblingWindow.scala:39-58): to_timestamp event time -> watermark ->
    window multi-sum -> optional threshold alert on sum_whc. The reference
    computes ``sum`` but aliases the results ``avg_*`` (SURVEY §2.6 semantic
    trap); the sums keep honest ``sum_*`` names here."""
    agg = windowed_agg(
        with_event_time(joined),
        "timestamp",
        ("field_id",),
        window_duration,
        slide_duration,
        [F.sum(m).alias(f"sum_{m}") for m in SENSOR_MEASURES],
        watermark=watermark,
    )
    if alert_threshold is None:
        return agg
    return alert_filter(agg, "sum_whc", alert_threshold)


def word_count(lines: DataFrame) -> DataFrame:
    """Running word count (reference Basic.scala:22-23; DStream twin
    BasicStreaming.scala:17 — capability reproduced via Structured
    Streaming, SURVEY §1.1/E3)."""
    return group_count(split_explode_words(lines), "word")
