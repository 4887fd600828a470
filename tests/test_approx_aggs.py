"""Accuracy checks for the two approximate aggregates — the only registry
entries without a DuckDB oracle (sketches aren't cross-engine reproducible).
"It ran" is not a correctness check: assert each approximation
lands within its documented error bound of the exact answer computed on the
SAME data."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_streaming_kafka_example_spark import plans
from spark_streaming_kafka_example_spark.sources import load_table

plans.load_all()


def test_approx_distinct_within_hll_error(spark, sf_dir):
    """approx_count_distinct's default rsd is 0.05; HLL++ at that setting
    stays well inside 2x the bound in practice. Compare per-group against
    the exact countDistinct on the identical relation."""
    approx = (
        plans.QUERIES["agg_approx_distinct"](spark, sf_dir)
        .toPandas()
        .set_index("o_orderstatus")
    )
    exact = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("exact_custs"))
        .toPandas()
        .set_index("o_orderstatus")
    )
    assert set(approx.index) == set(exact.index)
    for status, row in exact.iterrows():
        got = approx.loc[status, "approx_custs"]
        rel_err = abs(got - row.exact_custs) / max(row.exact_custs, 1)
        assert rel_err <= 0.10, f"{status}: approx {got} vs exact {row.exact_custs}"


def test_freq_items_superset_of_true_heavy_hitters(spark, sf_dir):
    """freqItems' contract is one-sided: every item with frequency >
    support*n MUST appear (false positives allowed, false negatives not).
    Check both tracked columns against exact counts. The query serializes
    each sorted array to a comma-joined string (driver canonicalizer can't
    sort array cells), so split it back here."""
    out = plans.QUERIES["agg_freq_items"](spark, sf_dir).toPandas()
    assert out.hot_users.iloc[0] and out.hot_types.iloc[0], "empty sketch"
    hot_users = {int(u) for u in out.hot_users.iloc[0].split(",")}
    hot_types = set(out.hot_types.iloc[0].split(","))
    ev = load_table(spark, sf_dir, "events").toPandas()
    n = len(ev)
    for col, got in [("user_id", hot_users), ("event_type", hot_types)]:
        counts = ev[col].value_counts()
        true_hitters = set(counts[counts > 0.05 * n].index)
        assert true_hitters <= got, f"{col}: missing {true_hitters - got}"


def test_rows_only_sketch_outputs_are_scalar_typed(spark, sf_dir):
    """The two rows-only registry entries (no DuckDB oracle) must emit
    only scalar-typed columns: the driver's rows-only canonicalizer cannot
    sort array cells, so a complex-typed column would make its check
    order-dependent. agg_freq_items serializes its arrays to strings;
    agg_percentile_approx uses scalar percentages (array form of
    percentile_approx would return array<double>). One documented idiom,
    pinned here for both."""
    from pyspark.sql.types import AtomicType

    for name in ("agg_freq_items", "agg_percentile_approx"):
        assert name not in plans.ORACLE, f"{name} grew an oracle; drop this pin?"
        schema = plans.QUERIES[name](spark, sf_dir).schema
        for field in schema.fields:
            assert isinstance(field.dataType, AtomicType), (
                f"{name}.{field.name} is {field.dataType.simpleString()} — "
                "rows-only queries must serialize complex cells to scalars"
            )


def test_percentile_approx_within_accuracy_bound(spark, sf_dir):
    """percentile_approx(accuracy=10000) is a GK sketch with rank error at
    most eps*n (eps = 1/accuracy). It returns an ELEMENT of the group (no
    interpolation), so the check is rank-based: the returned value must be
    one of the sorted group's elements within ceil(eps*n)+1 ranks of the
    target rank ceil(p*n). Exact values per group come straight off the
    parquet at test scale."""
    eps = 1.0 / 10000
    approx = (
        plans.QUERIES["agg_percentile_approx"](spark, sf_dir)
        .toPandas()
        .set_index("c_mktsegment")
    )
    import math

    groups = (
        load_table(spark, sf_dir, "customer")
        .select("c_mktsegment", "c_acctbal")
        .toPandas()
        .groupby("c_mktsegment")
    )
    checked = 0
    for seg, grp in groups:
        vals = sorted(grp.c_acctbal)
        n = len(vals)
        slack = math.ceil(eps * n) + 1  # rank tolerance + boundary cushion
        for col, p in [("median_approx", 0.5), ("p90_approx", 0.9)]:
            got = approx.loc[seg, col]
            target = max(1, math.ceil(p * n))  # 1-based rank of the quantile
            window = vals[max(0, target - 1 - slack) : min(n, target + slack)]
            assert got in window, (
                f"{seg}.{col}: {got} not within {slack} ranks of rank "
                f"{target} (window {window[:3]}..{window[-3:]})"
            )
            checked += 1
    assert checked >= 2 and set(approx.index) == set(g for g, _ in groups)
