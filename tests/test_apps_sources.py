"""Drive each reference-program entrypoint (apps.py) end-to-end with
bounded inputs, plus source/sink coverage: CSV-with-declared-schema (S4),
console sinks (K1-K3), partition-pruned archive read-back (S5)."""

from __future__ import annotations

import importlib
import os
import pkgutil

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_kafka_example_spark import apps
from spark_streaming_kafka_example_spark.schemas import SENSOR_MASTER_SCHEMA
from spark_streaming_kafka_example_spark.sources import load_table, read_csv_master

from .test_streaming import VALUE_SCHEMA, sensor_json, write_value_batch

MASTER_CSV = """sensor_id,field_id
1851632,field1
1851633,field1
1851634,field2
1851635,field3
1851636,field3
"""


def write_master_csv(tmp_path) -> str:
    p = tmp_path / "sensor_field.csv"
    p.write_text(MASTER_CSV)
    return str(p)


def test_csv_master_declared_schema(spark, tmp_path):
    """S4: header consumed, schema declared — never inferred."""
    df = read_csv_master(spark, write_master_csv(tmp_path))
    assert df.schema == SENSOR_MASTER_SCHEMA
    rows = {r.sensor_id: r.field_id for r in df.collect()}
    assert rows[1851632] == "field1" and len(rows) == 5


def test_udf_sql_demo(spark, tmp_path):
    """UdfRegister.scala parity: view + UDF + SQL + show (U1-U3, K9)."""
    out = apps.udf_sql_demo(spark, write_master_csv(tmp_path))
    rows = {r.sensor_id: r.double_field_id for r in out.collect()}
    assert rows[1851634] == "field2field2"


def test_basic_word_count_console(spark, tmp_path):
    """Basic.scala parity on a bounded file source; console sink (K2) must
    run to completion."""
    src = str(tmp_path / "lines")
    write_value_batch(spark, src, ["spark streams words", "spark again"], 0)
    lines = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
    q = apps.basic_word_count(spark, lines=lines)
    q.processAllAvailable()
    q.stop()


def test_kafka_to_console_app_with_injected_source(spark, tmp_path):
    """StreamingWithKafka.scala parity: the Kafka raw frame is injected as a
    bounded (value: string) source; console sink append (K1)."""
    src = str(tmp_path / "raw")
    write_value_batch(
        spark, src, [sensor_json(1851632, "2018/06/15 09:12:00", whc=24.1)], 0
    )
    raw = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
    q = apps.kafka_to_console(spark, raw=raw)
    q.processAllAvailable()
    q.stop()


def test_archive_app_and_partition_pruned_readback(spark, tmp_path):
    """ParquetOutput.scala parity + the S5 read-back: filtering the archive
    on the month partition key must prune partitions at plan time."""
    src = str(tmp_path / "arch_src")
    write_value_batch(
        spark, src,
        [sensor_json(1851632, "2018/06/15 09:12:00", whc=24.1),
         sensor_json(1851633, "2018/07/01 00:00:00", whc=26.0)],
        0,
    )
    raw = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
    out_dir = str(tmp_path / "archive")
    q = apps.kafka_to_parquet_archive(
        spark, out_dir, str(tmp_path / "ckpt"), raw=raw
    )
    q.awaitTermination()

    back = spark.read.parquet(out_dir).filter(F.col("month") == 201806)
    assert back.count() == 1
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(month" in plan  # pruned, not scanned


def test_sliding_window_analysis_app(spark, tmp_path):
    """SlidingWindow.scala parity via injected joined rows: console query
    runs; threshold alert filters (F1)."""
    src = str(tmp_path / "joined_src")
    write_value_batch(
        spark, src,
        [sensor_json(1851632, "2018/06/15 09:12:00", whc=10.0),
         sensor_json(1851632, "2018/06/15 09:13:00", whc=90.0)],
        0,
    )
    raw = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
    from spark_streaming_kafka_example_spark.streaming.pipelines import sensor_ingest

    joined = sensor_ingest(raw).withColumnRenamed("id", "sensor_id").withColumn(
        "field_id", F.lit("field1")
    )
    queries = apps.sliding_window_analysis(spark, joined=joined, alert_topic=None)
    for q in queries:
        q.processAllAvailable()
        q.stop()


def test_sliding_window_analysis_alert_sink_needs_checkpoint(spark):
    """The default alert_topic with no checkpoint is refused before any
    query starts, rather than running without the reference's Kafka alert
    fan-out (SlidingWindow.scala:69-73)."""
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="alert_topic=.*checkpoint"):
        apps.sliding_window_analysis(spark)
    assert len(spark.streams.active) == active


def test_foreach_external_app(spark, tmp_path):
    """StreamingWithCasssandra.scala capability: external store receives the
    archive rows via foreachBatch bulk writes."""
    src = str(tmp_path / "ext_src")
    write_value_batch(
        spark, src, [sensor_json(1851632, "2018/06/15 09:12:00", whc=24.1)], 0
    )
    raw = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
    store = str(tmp_path / "store")

    def handler(batch_df, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(store)

    q = apps.kafka_foreach_external(
        spark, handler, str(tmp_path / "ext_ckpt"), raw=raw
    )
    q.awaitTermination()
    got = spark.read.parquet(store).collect()
    assert len(got) == 1 and got[0].id == 1851632 and got[0].month == "201806"


def test_from_json_failfast_mode(spark):
    """Beyond the reference's silent PERMISSIVE default (SURVEY §1.4):
    FAILFAST surfaces malformed payloads as errors instead of nulls."""
    from spark_streaming_kafka_example_spark.schemas import SENSOR_RAW_SCHEMA

    bad = spark.createDataFrame([("{not json",)], VALUE_SCHEMA)
    df = bad.select(
        F.from_json("value", SENSOR_RAW_SCHEMA, {"mode": "FAILFAST"}).alias("p")
    )
    import pytest as _pytest

    with _pytest.raises(Exception) as exc:
        df.collect()
    assert "Malformed" in str(exc.value) or "FAILFAST" in str(exc.value)


def test_batch_format_roundtrips(spark, sf_dir, tmp_path):
    """S4/S5 family completeness: the engine reads and writes every
    text/columnar batch format Spark ships (json-lines, csv, orc) with
    declared schemas — no inference — and values survive the round trip."""
    src = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .limit(100)
    )
    expected = {r.event_id: (r.user_id, r.event_type, round(r.value, 6))
                for r in src.collect()}
    for fmt in ("json", "csv", "orc"):
        out = str(tmp_path / f"rt_{fmt}")
        src.write.format(fmt).option("header", "true").save(out)
        back = (
            spark.read.format(fmt)
            .schema(src.schema)
            .option("header", "true")
            .load(out)
        )
        got = {r.event_id: (r.user_id, r.event_type, round(r.value, 6))
               for r in back.collect()}
        assert got == expected, f"{fmt} roundtrip mismatch"


def test_stateful_count_on_rocksdb_state_store(spark, sf_dir, tmp_path):
    """The 100 TB state-store posture (SCALE.md): the same windowed agg runs
    on the RocksDB provider (spill-to-disk state, bounded executor memory)
    and produces the in-memory provider's results."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka_example_spark.plans.stream import (
        events_stream,
        run_to_table,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        agg = (
            events_stream(spark, sf_dir)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("event_type", "n")
        )
        got = run_to_table(spark, agg, "complete")
        expected = (
            load_table(spark, sf_dir, "events")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("event_type", "n")
        )
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_orc_and_json_roundtrip(spark, sf_dir, tmp_path):
    """Engine format breadth beyond the reference's parquet/CSV: documents
    written to ORC and JSON-lines read back value-identical (JSON via the
    declared schema — no inference drift on the long columns)."""
    from spark_streaming_kafka_example_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    expect = {tuple(r) for r in docs.collect()}

    orc_dir = str(tmp_path / "docs_orc")
    docs.write.orc(orc_dir)
    assert {tuple(r) for r in spark.read.orc(orc_dir).collect()} == expect

    json_dir = str(tmp_path / "docs_json")
    docs.write.json(json_dir)
    back = spark.read.schema(docs.schema).json(json_dir)
    assert {tuple(r) for r in back.collect()} == expect


def _jobs_launched(spark, fn):
    """(fn(), the number of Spark jobs fn launched), read from the status
    store once the listener bus has delivered every job event."""
    import uuid

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    group = f"count-{uuid.uuid4().hex}"
    bus.waitUntilEmpty()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(path))


def _load_t(spark, table_dir):
    return load_table(spark, str(table_dir), "t")


def _read_outcome(read):
    """A read's schema and sorted rows, or the class of the error that
    rejects it."""
    try:
        df = read()
        return df.schema, sorted(df.collect())
    except Exception as e:  # noqa: BLE001 - the outcome under test
        return type(e).__name__


def test_load_table_reuses_inferred_schema(spark, tmp_path):
    """The first read of a table file infers its schema (one job); a later
    read of the same unchanged file launches none and returns what a fresh
    spark.read.parquet returns."""
    _write(tmp_path / "t.parquet", a=[1, 2, 3], s=["x", "y", None])
    _, first = _jobs_launched(spark, lambda: _load_t(spark, tmp_path))
    again, jobs = _jobs_launched(spark, lambda: _load_t(spark, tmp_path))
    assert first >= 1 and jobs == 0
    fresh = spark.read.parquet(str(tmp_path / "t.parquet"))
    assert again.schema == fresh.schema
    assert sorted(again.collect()) == sorted(fresh.collect())


@pytest.mark.parametrize(
    "rewrite",
    [
        {"a": [1, 2], "b": ["x", "y"]},  # an added column
        {"a": ["1", "2"]},  # a changed type
    ],
    ids=["added_column", "changed_type"],
)
def test_load_table_reinfers_rewritten_file(spark, tmp_path, rewrite):
    """A file rewritten in place is inferred again, so the read sees the
    new footer's schema, not the remembered one."""
    path = tmp_path / "t.parquet"
    _write(path, a=[1, 2])
    assert _load_t(spark, tmp_path).schema.names == ["a"]
    _write(path, **rewrite)
    got, jobs = _jobs_launched(spark, lambda: _load_t(spark, tmp_path))
    assert jobs >= 1
    assert _read_outcome(lambda: got) == _read_outcome(
        lambda: spark.read.parquet(str(path))
    )


@pytest.mark.parametrize(
    "conf, unit",
    [
        ("spark.sql.legacy.parquet.nanosAsLong", "ns"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "us"),
    ],
)
def test_load_table_follows_inference_confs(spark, tmp_path, conf, unit):
    """A naive timestamp column read under each value of a conf that
    changes inference gives what a fresh read gives under that value —
    rows, or the error that rejects the type — and a value seen before
    reuses its own remembered schema."""
    import pyarrow as pa

    path = tmp_path / "t.parquet"
    ts = [1_700_000_000_123_456_789, 1_700_000_001_000_000_001]
    if unit == "us":
        ts = [t // 1000 for t in ts]
    _write(path, id=pa.array([1, 2]), ts=pa.array(ts, pa.timestamp(unit)))
    prev = spark.conf.get(conf, None)
    try:
        for value in ("true", "false", "true"):
            spark.conf.set(conf, value)
            got = _read_outcome(lambda: _load_t(spark, tmp_path))
            fresh = _read_outcome(lambda: spark.read.parquet(str(path)))
            assert got == fresh, value
        _, jobs = _jobs_launched(spark, lambda: _load_t(spark, tmp_path))
        assert jobs == 0
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def test_load_table_reinfers_directory_after_change(spark, tmp_path):
    """A directory table's key covers every file in it: an added file and
    a file rewritten in place each make the next read infer again."""
    table = tmp_path / "t.parquet"
    table.mkdir()
    _write(table / "part-0.parquet", a=[1, 2])
    _load_t(spark, tmp_path).collect()
    for change in (
        lambda: _write(table / "part-1.parquet", a=[3]),
        lambda: _write(table / "part-0.parquet", a=[1, 2], b=[0.5, 1.5]),
    ):
        change()
        got, jobs = _jobs_launched(spark, lambda: _load_t(spark, tmp_path))
        assert jobs >= 1
        assert _read_outcome(lambda: got) == _read_outcome(
            lambda: spark.read.parquet(str(table))
        )


def test_load_table_parallel_readers(spark, tmp_path):
    """Concurrent run_parallel readers of one not yet inferred file, more
    of them than cores, all succeed with the file's rows: two readers that
    both miss the memo each infer and store the same schema."""
    import sys

    from spark_streaming_kafka_example_spark.engine import run_parallel

    _write(tmp_path / "t.parquet", a=list(range(100)))
    readers = 2 * len(os.sched_getaffinity(0))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        got = run_parallel(
            *[lambda: _load_t(spark, tmp_path).collect()] * readers
        )
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == readers
    assert all(sorted(r.a for r in rows) == list(range(100)) for rows in got)


# The perfbench batch queries whose build runs no eager job: on a
# remembered schema, building one reads no data at all.
_LAZY_BUILD_QUERIES = (
    "flagship_sliding_alert",
    "a3_sliding_window_agg",
    "j1_enrich_left_outer",
    "p2_from_json_flatten",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_product_profit",
    "q18_large_volume_customer",
    "window_topk_per_group",
    "sessionize_gap_30m",
)


@pytest.mark.parametrize("name", _LAZY_BUILD_QUERIES)
def test_second_build_launches_no_job(spark, sf_dir, name):
    """Building a lazily planned query a second time launches no Spark
    job: every table schema comes from load_table's memo."""
    from spark_streaming_kafka_example_spark import plans

    plans.load_all()
    build = lambda: plans.QUERIES[name](spark, sf_dir)  # noqa: E731
    build()
    _, jobs = _jobs_launched(spark, build)
    assert jobs == 0


def _package_modules() -> list[str]:
    import spark_streaming_kafka_example_spark as pkg

    return sorted(
        m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")
    )


@pytest.mark.parametrize("module", _package_modules())
def test_module_all_names_resolve(module):
    """Every name a module's __all__ exports exists, so a star import of
    it cannot raise AttributeError."""
    mod = importlib.import_module(module)
    missing = [n for n in getattr(mod, "__all__", ()) if not hasattr(mod, n)]
    assert not missing, f"{module}.__all__ names undefined: {missing}"
