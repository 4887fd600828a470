"""Declared StructTypes — schema-on-read, no inference anywhere.

The reference declares every schema by hand and passes it to ``from_json`` /
``.schema(...)`` (reference StreamingWithKafka.scala:22-26,
StreamingWithKafkaJoinedData.scala:39, SlidingWindow.scala:24,
UdfRegister.scala:15); malformed JSON becomes null structs (PERMISSIVE mode,
SURVEY §1.4). We keep exactly that posture.
"""

from __future__ import annotations

from pyspark.sql import types as T

__all__ = [
    "SENSOR_RAW_SCHEMA",
    "SENSOR_MASTER_SCHEMA",
    "SENSOR_JOINED_SCHEMA",
    "EVENT_PROPS_SCHEMA",
    "DATE_FMT",
]

# The reference's wire date format (reference SlidingWindow.scala:39,
# ParquetOutput.scala:40).
DATE_FMT = "yyyy/MM/dd HH:mm:ss"

# Raw telemetry JSON payload (reference StreamingWithKafka.scala:22-24; same
# struct at ParquetOutput.scala:25-27, StreamingWithKafkaJoinedData.scala:22-24,
# StreamingWithCasssandra.scala:46-48). Two levels of nesting.
SENSOR_RAW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("date", T.StringType()),
        T.StructField(
            "coord",
            T.StructType(
                [
                    T.StructField("lat", T.DoubleType()),
                    T.StructField("lon", T.DoubleType()),
                ]
            ),
        ),
        T.StructField(
            "main",
            T.StructType(
                [
                    T.StructField("temperature", T.DoubleType()),
                    T.StructField("humidity", T.DoubleType()),
                    T.StructField("ph", T.DoubleType()),
                    T.StructField("whc", T.DoubleType()),
                ]
            ),
        ),
    ]
)

# Static master dimension (reference StreamingWithKafkaJoinedData.scala:39,
# UdfRegister.scala:15; fixture src/main/resources/sensor_field.csv).
SENSOR_MASTER_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.LongType()),
        T.StructField("field_id", T.StringType()),
    ]
)

# Flattened enriched record — the joined-sensor-data topic re-ingested by the
# window analyses (reference SlidingWindow.scala:24, TumblingWindow.scala:24).
SENSOR_JOINED_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.LongType()),
        T.StructField("field_id", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("temperature", T.DoubleType()),
        T.StructField("humidity", T.DoubleType()),
        T.StructField("ph", T.DoubleType()),
        T.StructField("whc", T.DoubleType()),
    ]
)

# The testdata `events.props` JSON column (TESTDATA.md).
EVENT_PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType())])
