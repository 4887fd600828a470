"""Joins, aggregations, event-time windows (SURVEY §2.5-§2.7).

Everything here is declarative DataFrame API: Catalyst chooses broadcast vs
shuffle joins, inserts partial/final hash aggregates, and (in streaming)
wires StateStoreRestore/Save around the windowed aggregation. No custom
physical operators are needed for parity (SURVEY §4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "enrich_join",
    "windowed_agg",
    "window_panes",
    "alert_filter",
    "group_count",
]


def enrich_join(
    stream_df: DataFrame,
    master_df: DataFrame,
    key: str = "sensor_id",
    how: str = "left_outer",
    broadcast_master: bool = True,
) -> DataFrame:
    """Stream-static left-outer equi-join (SURVEY J1; reference
    StreamingWithKafkaJoinedData.scala:46).

    Deviations, per SURVEY J1: join on the column *name* so the duplicate
    key column the reference emitted is deduped.

    Scale: the master side of a stream-static enrich is a dimension table —
    broadcast it (the reference's 5-row CSV planned as BroadcastHashJoin
    automatically; at 100 TB the stream side must never shuffle for an
    enrich, so we hint explicitly and leave AQE as the fallback when the
    dimension outgrows the threshold).
    """
    if broadcast_master:
        master_df = F.broadcast(master_df)
    return stream_df.join(master_df, on=key, how=how)


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    group_cols: Sequence[str],
    window_duration: str,
    slide_duration: str | None,
    aggs: Sequence[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling/sliding event-time window aggregation (SURVEY A2/A3, W1-W4;
    reference TumblingWindow.scala:52-58, SlidingWindow.scala:52-59) — the
    one window aggregation the sensor pipeline, the reference-parity
    queries, their streaming twins and the windowed sketch folds all run.

    Pass ``slide_duration=None`` for a tumbling window. ``aggs`` are aliased
    Columns; the result is ``window_start, window_end, *group_cols``
    followed by the aggs in order. ``watermark`` (e.g. "10 minutes", reference
    SlidingWindow.scala:52) applies only to streaming inputs, where it
    bounds state and drops late rows; a batch input keeps its plan.

    Scale: one shuffle on (window, group) with map-side partial aggregation;
    skewed groups are split by AQE. State size in streaming is bounded by
    watermark horizon x groups — exactly how it must behave at 100 TB/day.
    """
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window_duration, slide_duration)
    return _pane_bounds(
        df.groupBy(win, *[F.col(c) for c in group_cols]).agg(*aggs)
    )


def window_panes(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    slide_duration: str | None,
    cols: Sequence[str | Column],
) -> DataFrame:
    """The pane projection ``windowed_agg`` groups by, for batch arms that
    aggregate the panes themselves: each row as ``window_start,
    window_end, *cols``, once per window that holds its ``ts_col`` (one
    for tumbling, window/slide for sliding)."""
    win = F.window(F.col(ts_col), window_duration, slide_duration)
    return _pane_bounds(df.select(win.alias("window"), *cols))


def _pane_bounds(df: DataFrame) -> DataFrame:
    """Window-bounds extraction (SURVEY W4; reference
    TumblingWindow.scala:60): ``df``'s leading ``window`` struct becomes
    ``window_start, window_end``; the other columns follow in order."""
    return df.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *df.columns[1:],
    )


def alert_filter(df: DataFrame, col: str, threshold: float = 25.0) -> DataFrame:
    """Post-aggregation HAVING-style threshold filter (SURVEY F1; reference
    SlidingWindow.scala:63 ``filter($"avg_whc" < 25.0)``)."""
    return df.filter(F.col(col) < F.lit(threshold))


def group_count(df: DataFrame, *keys: str) -> DataFrame:
    """Running group-count (SURVEY A1; reference Basic.scala:23
    ``groupBy("value").count()``). In streaming complete/update mode this is
    also the capability-equivalent of the DStream ``updateStateByKey`` word
    count (SURVEY A4)."""
    return df.groupBy(*keys).count()
