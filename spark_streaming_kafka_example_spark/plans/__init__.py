"""Named-query registry — the operator parity matrix.

Every implemented operator from SURVEY.md §2 (plus the LLM-pipeline
extensions, §7 Phase 3) registers here as a (PySpark callable, DuckDB oracle
SQL) pair. ``__spark_entry__.py`` re-exports the registry; the driver runs
both sides at sf0.01 and compares row count + schema + order-insensitive
value hash.

Conventions that keep the two sides hash-identical:
- Alias every computed column identically on both sides.
- Round floating-point aggregates (``round(x, 4)``) on both sides: Spark and
  DuckDB sum partitions in different orders, so raw double sums differ in
  the last ulp.
- Cast integer sums to BIGINT in the oracle (DuckDB's sum(int) is HUGEINT).
- Never rely on row order; the driver's hash is order-insensitive.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle=None`` marks a non-SQL-expressible op
    (driver falls back to a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def hex_bigint_sql(h: str, start: int, n_chars: int) -> str:
    """``n_chars`` hex chars of SQL expression ``h`` starting at 1-based
    ``start`` as a BIGINT — the strpos-nibble idiom (DuckDB has no conv())
    as ONE parametrized generator, so the HLL rank bits (start=3, 15
    chars) and the Bloom position bits (start=1, 6 chars) cannot drift.
    n_chars <= 15 keeps every
    partial product and the sum exact in BIGINT."""
    terms = [
        f"(strpos('0123456789abcdef', substring({h}, {start + i}, 1)) - 1)"
        f" * CAST({16 ** (n_chars - 1 - i)} AS BIGINT)"
        for i in range(n_chars)
    ]
    return "(" + " + ".join(terms) + ")"


class WindowShape(NamedTuple):
    """One event-time window, declared once for both engines: Spark runs
    it through ``analytics.windowed_agg`` / ``window_panes``, DuckDB
    through ``pane_sql``. ``slide=None`` is tumbling; ``watermark``
    bounds streaming state and is ignored on batch inputs."""

    size: str
    slide: str | None
    watermark: str | None


HOURLY = WindowShape("1 hour", None, "2 hours")
TRAILING_3H = WindowShape("3 hours", "1 hour", "4 hours")
DAILY = WindowShape("1 day", None, None)
# The reference-parity shapes (TumblingWindow.scala, SlidingWindow.scala).
MINUTE = WindowShape("1 minute", None, "10 minutes")
SLIDING_5M = WindowShape("5 minutes", "1 minute", "10 minutes")


def pane_sql(
    shape: WindowShape, cols: str, source: str = "events", where: str = ""
) -> str:
    """DuckDB twin of Spark's window pane assignment: every ``source`` row
    (``ts`` is its event time) as ``window_start, window_end, cols``, once
    per ``shape`` window that holds it. Panes start at the row's slide
    bucket and ``i`` slides before it; tumbling is the one-pane case."""
    import pandas as pd

    step = shape.slide or shape.size
    n, rem = divmod(pd.Timedelta(shape.size), pd.Timedelta(step))
    if rem:
        raise ValueError(f"window {shape.size} is not a multiple of {step}")
    start = f"time_bucket(INTERVAL '{step}', ts) - i.i * INTERVAL '{step}'"
    return f"""SELECT {start} AS window_start,
               {start} + INTERVAL '{shape.size}' AS window_end,
               {cols}
        FROM {source}, range({n}) i(i){f' WHERE {where}' if where else ''}"""


_RUN_TMPDIRS: list[str] = []


def tmp_run_dir(prefix: str) -> str:
    """Tempdir for queries that must materialize files (sink round-trips,
    z-ordered writes), removed at interpreter exit so event-table copies
    never leak into /tmp. Cleanup is deferred to atexit because the
    read-back is lazy — the driver/pytest materializes the returned
    DataFrame after the query function returns."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    if not _RUN_TMPDIRS:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _RUN_TMPDIRS]
        )
    _RUN_TMPDIRS.append(path)
    return path


def load_all() -> None:
    """Import every plan module so its @register calls run."""
    from . import parity, tpch, tpch_more, windows_stats, llm, textprep, stream  # noqa: F401
