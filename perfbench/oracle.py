"""DuckDB reference results for registered queries.

Each registered query has a DuckDB SQL twin in ``plans.ORACLE``. Both sides
are reduced to sorted tuples of canonical cell strings, with floats rounded,
and a result is correct when the rows agree cell by cell. Two decimal
cells also agree when they differ by one unit in the last decimal place
of their column: the queries round aggregates to a few places, and a sum
that lands on a rounding tie can round either way depending on summation
order.
"""

from __future__ import annotations

import math
import os
import re

_DECIMAL = re.compile(r"-?\d+\.(\d+)")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"
        return repr(0.0) if v == 0 else repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "tolist"):
        return repr(v.tolist())
    return repr(v)


def canonical(pdf) -> list[tuple]:
    """Sorted rows of canonical cell strings; numeric and timestamp columns
    are converted column-wise, others cell by cell."""
    import pandas as pd

    cols = []
    for c in sorted(pdf.columns):
        s = pdf[c]
        if pd.api.types.is_float_dtype(s):
            s = (s.round(9) + 0.0).astype(str).replace("nan", "<null>")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype(str)
        elif pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[ns]").astype("int64").astype(str)
        else:
            s = s.map(_cell)
        cols.append(s.to_numpy())
    return sorted(zip(*cols))


class Oracle:
    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def expected(self, sql: str) -> list[tuple]:
        return canonical(self.con.execute(sql).df())


def same_rows(actual: list[tuple], expected: list[tuple]) -> bool:
    """Row-by-row equality, where two decimal cells may also differ by one
    unit in the last decimal place their column uses."""
    if len(actual) != len(expected) or any(len(r) != len(e) for r, e in zip(actual, expected)):
        return False
    rows = actual + expected
    places = [
        max((len(m.group(1)) for r in rows if (m := _DECIMAL.fullmatch(r[j]))), default=0)
        for j in range(len(rows[0]) if rows else 0)
    ]
    for r, e in zip(actual, expected):
        for j, (x, y) in enumerate(zip(r, e)):
            if x == y:
                continue
            if not (_DECIMAL.fullmatch(x) and _DECIMAL.fullmatch(y)):
                return False
            if abs(float(x) - float(y)) > 10.0 ** -places[j] * 1.001:
                return False
    return True


def matches(df, expected: list[tuple]) -> bool:
    """Whether Spark DataFrame ``df`` holds the ``expected`` rows."""
    return same_rows(canonical(df.toPandas()), expected)
