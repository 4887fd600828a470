"""Run every registered query against its DuckDB oracle at sf0.001 —
the local twin of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from spark_streaming_kafka_example_spark import plans

from .oracle_harness import compare, duckdb_connection

plans.load_all()


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(plans.ORACLE))
def test_query_matches_oracle(spark, sf_dir, oracle_con, name):
    df = plans.QUERIES[name](spark, sf_dir)
    compare(df, oracle_con, plans.ORACLE[name], name=name)


def _any_negative_zero(v) -> bool:
    """True if v (a cell, possibly a list/array/struct-dict) holds IEEE -0.0."""
    import math

    if isinstance(v, float):  # numpy float64 subclasses float
        return v == 0.0 and math.copysign(1.0, v) < 0
    if isinstance(v, dict):
        return any(_any_negative_zero(x) for x in v.values())
    if hasattr(v, "__iter__") and not isinstance(v, (str, bytes)):
        return any(_any_negative_zero(x) for x in v)
    return False


@pytest.mark.parametrize("name", sorted(plans.ORACLE))
def test_oracle_no_negative_zero(oracle_con, name):
    """Lint the -0.0 bug class out of every oracle.

    DuckDB's round() keeps the IEEE sign bit on a tiny-negative expression
    that rounds to zero; Spark's BigDecimal round never emits -0.0, so the
    driver's strict value-hash fails even though both answers are "zero".
    It slipped through twice (vector_normalize,
    train_quality_logreg) because the pytest harness canonicalizes -0.0 ==
    0.0. The house rule (plans/__init__.py docstring) is to append "+ 0"
    to any rounded possibly-negative output; this test enforces it by
    running the oracle side alone and failing on any -0.0 result cell.
    """
    df = oracle_con.execute(plans.ORACLE[name]).df()
    bad = [
        col
        for col in df.columns
        if any(_any_negative_zero(v) for v in df[col])
    ]
    assert not bad, (
        f"{name}: oracle emits IEEE -0.0 in column(s) {bad}; append '+ 0' "
        "to the rounded expression (see plans/__init__.py docstring)"
    )


@pytest.mark.parametrize("name", sorted(set(plans.QUERIES) - set(plans.ORACLE)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = plans.QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


_SHAPES = ("HOURLY", "TRAILING_3H", "DAILY", "MINUTE", "SLIDING_5M")


@pytest.mark.parametrize("shape_name", _SHAPES)
def test_pane_sql_matches_windowed_agg(spark, shape_name):
    """One pane decision for both engines: for every declared window
    shape, the DuckDB panes pane_sql renders over a hand-built ts table
    count the same (window_start, window_end) rows as windowed_agg's Spark
    windows, so a drifted replication count or window_end offset fails
    here. The times sit on and just off minute, hour and day edges."""
    import datetime as dt

    import duckdb
    from pyspark.sql import functions as F

    from spark_streaming_kafka_example_spark.analytics import windowed_agg

    shape = getattr(plans, shape_name)
    d = dt.datetime
    ts = [
        d(2024, 1, 1, 0, 0), d(2024, 1, 1, 0, 0, 59), d(2024, 1, 1, 0, 4, 30),
        d(2024, 1, 1, 0, 59, 59), d(2024, 1, 1, 1, 0), d(2024, 1, 1, 2, 30),
        d(2024, 1, 1, 23, 59, 59), d(2024, 1, 2, 0, 0), d(2024, 1, 2, 5, 17),
    ]
    windows = windowed_agg(
        spark.createDataFrame([(t,) for t in ts], "ts timestamp"), "ts", (),
        shape.size, shape.slide, [F.count(F.lit(1)).alias("n")],
    )
    got = sorted(tuple(r) for r in windows.collect())

    con = duckdb.connect()
    values = ", ".join(f"(TIMESTAMP '{t}')" for t in ts)
    con.execute(f"CREATE TABLE t AS SELECT * FROM (VALUES {values}) v(ts)")
    want = con.execute(
        f"SELECT window_start, window_end, count(*) AS n "
        f"FROM ({plans.pane_sql(shape, 'ts', 't')}) GROUP BY 1, 2"
    ).fetchall()
    con.close()
    assert got == sorted(want)


def test_pane_sql_rejects_partial_panes():
    """A window that is not a whole number of slides has no fixed pane
    count to replicate, so pane_sql refuses it."""
    with pytest.raises(ValueError, match="not a multiple"):
        plans.pane_sql(plans.WindowShape("5 minutes", "2 minutes", None), "ts")


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0


def test_driver_window_covers_all_unchecked():
    """Rotation invariant (CLAUDE.md): the driver runs only the FIRST 50
    of queries(), so every query with no green driver row under its
    current code and oracle (including FORCE_RECHECK re-entries) must sort
    inside that window — an unchecked query past the cut would never earn
    a correctness row. Fails loudly when more names are pending than the
    window has slack."""
    import __spark_entry__ as m

    checked = m._checked_rounds()
    past_cut = [n for n in m._ordered_names()[50:] if n not in checked]
    assert not past_cut, (
        f"{len(past_cut)} unchecked queries past the 50-query driver "
        f"window: {past_cut}"
    )


def test_force_recheck_expired_entry_is_noop(monkeypatch):
    """A FORCE_RECHECK entry whose round is at or below the name's last
    green round changes nothing, which is why expired entries are deleted
    rather than kept; a live entry moves the name into the window."""
    import __spark_entry__ as m

    last_green = m._last_green_round()
    before = m._ordered_names()
    name = next(
        n for n in reversed(before)
        if n in last_green and n not in m.FORCE_RECHECK
    )

    monkeypatch.setitem(m.FORCE_RECHECK, name, last_green[name])
    assert m._ordered_names() == before

    monkeypatch.setitem(m.FORCE_RECHECK, name, last_green[name] + 1)
    assert m._ordered_names().index(name) < before.index(name)


def _comments_and_docstrings(path):
    """(line, text) of every comment and docstring in one source file."""
    import ast
    import io
    import tokenize

    src = path.read_text()
    doc_starts = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(
                first.value, ast.Constant
            ) and isinstance(first.value.value, str):
                doc_starts.add((first.lineno, first.col_offset))
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT or (
            tok.type == tokenize.STRING and tok.start in doc_starts
        ):
            yield tok.start[0], tok.string


def test_comments_state_rules_not_history():
    """Comments and docstrings in the package, the tests, bench.py and
    __spark_entry__.py state the rule or the reason, never the review
    round that produced it; history lives in git and CHANGES.md. String
    constants (oracle SQL, messages) are exempt."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent
    tag = re.compile(r"\br\d{2}\b|round \d+|VERDICT|ADVICE|guide §")
    files = [
        *sorted((root / "spark_streaming_kafka_example_spark").rglob("*.py")),
        *sorted((root / "tests").glob("*.py")),
        root / "bench.py",
        root / "__spark_entry__.py",
    ]
    hits = [
        f"{path.relative_to(root)}:{line + i}: {text_line.strip()}"
        for path in files
        for line, text in _comments_and_docstrings(path)
        for i, text_line in enumerate(text.splitlines())
        if tag.search(text_line)
    ]
    assert not hits, "round history in comments:\n" + "\n".join(hits)


def test_mixture_source_cardinality(spark, sf_dir):
    """sample_domain_mixture's residual weight splits over exactly
    _MIX_RESIDUAL_SHARDS = 20 - 2 unnamed shards; if the fixture's source
    cardinality ever drifts, the target mixture stops summing to 1 — fail
    loudly here instead."""
    from spark_streaming_kafka_example_spark.plans import textprep
    from spark_streaming_kafka_example_spark.sources import load_table

    n = load_table(spark, sf_dir, "documents").select("source").distinct().count()
    assert n == textprep._MIX_N_SOURCES
