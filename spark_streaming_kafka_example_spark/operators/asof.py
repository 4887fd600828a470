"""Distributed as-of join (point-in-time lookup).

Spark has no native ASOF JOIN (DuckDB/Pandas do). The scalable composition:
union both sides tagged, one hash-shuffle on the key + per-key sort, then a
running ``last(...) ignorenulls`` window — O(n log n) per key, no
range-explosion, no driver involvement. Equivalent to
``pd.merge_asof``/DuckDB ``ASOF LEFT JOIN`` with ``left.ts >= right.ts``.

Scale: a single Exchange on the join key; skewed keys are the only hazard
(AQE skew handling does not split window functions, so salt extremely hot
keys upstream if one key exceeds an executor's memory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["asof_join"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: tuple[str, ...] = (),
    suffix: str = "_right",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """For each left row attach, per key, the most recent right row with
    ``right_ts <= left_ts`` (ties: the right row matches, i.e. DuckDB ASOF
    ``>=`` semantics). Right columns come back as ``<col><suffix>``; the
    matched right timestamp as ``<right_ts><suffix>``.

    ``tolerance_seconds`` (pd.merge_asof's tolerance): a match older than
    the window is nulled out — correct because the as-of match is already
    the LATEST right row at or before ``left_ts``, so if it falls outside
    the window no other row can fall inside. Applied as a post-projection:
    no change to the single-exchange plan. The freshness compare is EXACT
    interval arithmetic on the timestamps (``right_ts >= left_ts -
    INTERVAL n SECONDS``), never truncated to whole seconds — a match
    whose true age falls in ``(n, n+1)`` seconds with a larger left-side
    µs fraction must be nulled, matching both pd.merge_asof and DuckDB's
    ``ts >= ts - INTERVAL``.
    """
    left_payload = [c for c in left.columns if c != key]
    carried = [right_ts, *[c for c in right_cols if c != right_ts]]

    r = right.select(
        key,
        F.col(right_ts).alias("_evt_ts"),
        F.lit(0).alias("_kind"),  # 0 sorts before 1 -> equal-ts right rows match
        *[F.col(c).alias(f"{c}{suffix}") for c in carried],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_payload],
    )
    l = left.select(
        key,
        F.col(left_ts).alias("_evt_ts"),
        F.lit(1).alias("_kind"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}") for c in carried],
        *left_payload,
    )
    w = (
        Window.partitionBy(key)
        .orderBy("_evt_ts", "_kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = r.unionByName(l).select(
        key,
        "_kind",
        *left_payload,
        *[
            F.last(f"{c}{suffix}", ignorenulls=True).over(w).alias(f"{c}{suffix}")
            for c in carried
        ],
    )
    out = filled.filter(F.col("_kind") == 1).drop("_kind")
    if tolerance_seconds is not None:
        rts = f"{right_ts}{suffix}"
        # Microsecond interval: fractional tolerances (0.5 s) are honored
        # exactly instead of silently truncating to whole seconds.
        tol_us = round(float(tolerance_seconds) * 1_000_000)
        fresh = F.col(rts) >= F.col(left_ts) - F.expr(
            f"INTERVAL {tol_us} MICROSECONDS"
        )
        out = out.select(
            key,
            *left_payload,
            *[
                F.when(fresh, F.col(f"{c}{suffix}")).alias(f"{c}{suffix}")
                for c in carried
            ],
        )
    return out
