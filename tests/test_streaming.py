"""Streaming behaviors not expressible as a single bounded oracle run
(SURVEY §5): watermark late-row drop across micro-batches, file sinks with
checkpoints, foreachBatch, multi-sink fan-out, and the reference's own
sensor-domain pipeline over synthesized FIXTURES.md data."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_kafka_example_spark.schemas import SENSOR_MASTER_SCHEMA
from spark_streaming_kafka_example_spark.streaming.pipelines import (
    sensor_archive,
    sensor_enrich,
    sensor_ingest,
    sensor_joined_ingest,
    windowed_analysis,
    word_count,
)
from spark_streaming_kafka_example_spark.streaming.sinks import (
    foreach_batch_sink,
    foreach_row_sink,
    memory_sink,
    parquet_sink,
)

VALUE_SCHEMA = T.StructType([T.StructField("value", T.StringType())])


def sensor_json(sensor_id: int, date: str, whc: float, temp: float = 20.0) -> str:
    return json.dumps(
        {
            "id": sensor_id,
            "date": date,
            "coord": {"lat": 35.0, "lon": 139.0},
            "main": {"temperature": temp, "humidity": 48.0, "ph": 6.8, "whc": whc},
        }
    )


def write_value_batch(spark, dirpath: str, rows: list[str], batch: int) -> None:
    df = spark.createDataFrame([(r,) for r in rows], VALUE_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(dirpath)
    assert batch >= 0  # batches are append-only files in the same dir


@pytest.fixture()
def master_df(spark):
    # The reference's 5-row sensor_field.csv contents (FIXTURES.md §2).
    rows = [(1851632, "field1"), (1851633, "field1"), (1851634, "field2"),
            (1851635, "field3"), (1851636, "field3")]
    return spark.createDataFrame(rows, SENSOR_MASTER_SCHEMA)


def drain(q):
    q.awaitTermination()


def test_sensor_ingest_parses_and_flattens(spark, tmp_path):
    src = str(tmp_path / "src")
    write_value_batch(
        spark, src,
        [sensor_json(1851632, "2018/06/15 09:12:00", whc=24.1),
         "{malformed json",  # PERMISSIVE -> null struct flows through
         sensor_json(1851634, "2018/06/15 09:13:00", whc=30.0)],
        0,
    )
    stream = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
    q = memory_sink(sensor_ingest(stream), "t_ingest", mode="append")
    drain(q)
    out = spark.table("t_ingest").collect()
    assert len(out) == 3
    by_id = {r.id: r for r in out}
    assert by_id[1851632].whc == 24.1 and by_id[1851632].lat == 35.0
    assert None in by_id  # malformed row -> all-null flattened fields


def joined_json(sensor_id: int, field_id: str, date: str, whc: float) -> str:
    """Payload of the joined-sensor-data topic: the FLAT enriched record
    (reference SlidingWindow.scala:24), not the nested raw-sensor schema."""
    return json.dumps(
        {
            "sensor_id": sensor_id, "field_id": field_id, "date": date,
            "lat": 35.0, "lon": 139.0, "temperature": 20.0, "humidity": 48.0,
            "ph": 6.8, "whc": whc,
        }
    )


def test_window_analysis_default_joined_topic_parse(spark, tmp_path):
    """Drives the parsing path the Kafka branch of apps._window_analysis uses
    (sensor_joined_ingest over the joined topic) with a bounded injection:
    the flat SENSOR_JOINED_SCHEMA must parse and feed the field_id groupBy."""
    src = str(tmp_path / "joined_src")
    write_value_batch(
        spark, src,
        [joined_json(1851632, "field1", "2018/06/15 09:12:00", whc=24.1),
         joined_json(1851633, "field1", "2018/06/15 09:12:30", whc=10.0),
         joined_json(1851634, "field2", "2018/06/15 09:13:00", whc=30.0)],
        0,
    )
    stream = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
    agg = windowed_analysis(
        sensor_joined_ingest(stream),
        window_duration="1 minute", slide_duration=None, alert_threshold=None,
    )
    q = memory_sink(agg, "t_joined_parse", mode="complete")
    drain(q)
    rows = {(r.field_id, r.window_start.minute): r for r in
            spark.table("t_joined_parse").collect()}
    assert rows[("field1", 12)].sum_whc == pytest.approx(34.1)
    assert rows[("field2", 13)].sum_whc == pytest.approx(30.0)


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """W1: a row >10 min behind the max event time arriving in a later batch
    must be excluded from the (append-mode) finalized windows."""
    src = str(tmp_path / "wm_src")
    join_src = str(tmp_path / "unused")
    os.makedirs(join_src, exist_ok=True)
    write_value_batch(
        spark, src,
        [sensor_json(1851632, "2018/06/15 09:00:30", whc=10.0),
         sensor_json(1851632, "2018/06/15 09:30:00", whc=10.0)],
        0,
    )
    stream = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
    flat = sensor_ingest(stream).withColumnRenamed("id", "sensor_id")
    flat = flat.withColumn("field_id", F.lit("field1"))
    agg = windowed_analysis(
        flat, window_duration="1 minute", slide_duration=None,
        watermark="10 minutes", alert_threshold=None,
    )
    name = "t_watermark"
    q = (
        agg.writeStream.outputMode("append").format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # Late row: 09:01 is >10 min behind the 09:30 max -> its window
        # (finalized when the watermark passed 09:02) must NOT reopen.
        write_value_batch(
            spark, src, [sensor_json(1851632, "2018/06/15 09:01:10", whc=99.0)], 1
        )
        q.processAllAvailable()
        # On-time row advances watermark and closes more windows.
        write_value_batch(
            spark, src, [sensor_json(1851632, "2018/06/15 09:45:00", whc=10.0)], 2
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r.window_start.isoformat(): r.sum_whc for r in spark.table(name).collect()}
    assert rows.get("2018-06-15T09:00:00") == 10.0  # late 99.0 not added


def test_watermark_drops_late_rows_sliding_window(spark, tmp_path):
    """W1 x W3: the same late-row exclusion must
    hold for SLIDING windows — a late row may not reopen any of the
    already-finalized overlapping windows it would have contributed to."""
    src = str(tmp_path / "wm_slide_src")
    write_value_batch(
        spark, src,
        [sensor_json(1851632, "2018/06/15 09:02:30", whc=10.0),
         sensor_json(1851632, "2018/06/15 09:30:00", whc=10.0)],
        0,
    )
    stream = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
    flat = sensor_ingest(stream).withColumnRenamed("id", "sensor_id")
    flat = flat.withColumn("field_id", F.lit("field1"))
    agg = windowed_analysis(
        flat, window_duration="4 minutes", slide_duration="2 minutes",
        watermark="10 minutes", alert_threshold=None,
    )
    name = "t_watermark_slide"
    q = (
        agg.writeStream.outputMode("append").format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "wm_slide_ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # 09:03:10 is >10 min behind the 09:30 max event time; its two
        # overlapping 4-min windows (09:00, 09:02) are already finalized.
        write_value_batch(
            spark, src, [sensor_json(1851632, "2018/06/15 09:03:10", whc=99.0)], 1
        )
        q.processAllAvailable()
        write_value_batch(
            spark, src, [sensor_json(1851632, "2018/06/15 09:50:00", whc=10.0)], 2
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r.window_start.isoformat(): r.sum_whc for r in spark.table(name).collect()}
    # both windows overlapping 09:02:30 hold only the on-time 10.0
    assert rows.get("2018-06-15T09:00:00") == 10.0
    assert rows.get("2018-06-15T09:02:00") == 10.0


def test_parquet_sink_with_month_partitions(spark, tmp_path):
    """K4 + P10: partitioned parquet archive + checkpoint round-trips."""
    src = str(tmp_path / "arch_src")
    write_value_batch(
        spark, src,
        [sensor_json(1851632, "2018/06/15 09:12:00", whc=24.1),
         sensor_json(1851633, "2018/07/01 00:00:00", whc=26.0)],
        0,
    )
    stream = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
    out_dir = str(tmp_path / "archive")
    q = parquet_sink(
        sensor_archive(stream), out_dir, str(tmp_path / "ckpt"), partition_by="month"
    )
    drain(q)
    back = spark.read.parquet(out_dir)
    # partition values come back type-inferred (ints) from the month=... dirs
    assert sorted(str(r.month) for r in back.select("month").collect()) == [
        "201806",
        "201807",
    ]
    assert os.path.isdir(os.path.join(out_dir, "month=201806"))


def test_enrich_join_and_foreach_batch(spark, master_df, tmp_path):
    """J1 streaming + K6: stream-static join fanned into a foreachBatch
    writer (the Cassandra stand-in per SURVEY K6)."""
    src = str(tmp_path / "join_src")
    write_value_batch(
        spark, src,
        [sensor_json(1851632, "2018/06/15 09:12:00", whc=24.1),
         sensor_json(9999999, "2018/06/15 09:13:00", whc=30.0)],  # unmatched
        0,
    )
    stream = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
    joined = sensor_enrich(stream, master_df)
    sink_dir = str(tmp_path / "external_store")

    def handler(batch_df, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink_dir)

    q = foreach_batch_sink(joined, handler, checkpoint=str(tmp_path / "fb_ckpt"))
    drain(q)
    out = {r.sensor_id: r.field_id for r in spark.read.parquet(sink_dir).collect()}
    assert out == {1851632: "field1", 9999999: None}


def test_foreach_row_sink_open_process_close(spark, tmp_path):
    """K6 row-at-a-time parity (reference ForeachWriter,
    StreamingWithCasssandra.scala:31-39): each (partition, epoch) gets one
    open, its rows through process, then close, which publishes the file
    it wrote; every row lands exactly once across two epochs."""
    src = str(tmp_path / "row_src")
    rows = [f"r{i}" for i in range(6)]
    write_value_batch(spark, src, rows[:3], 0)
    write_value_batch(spark, src, rows[3:], 1)
    out = str(tmp_path / "row_out")
    os.makedirs(out)

    class FileRowWriter:
        def open(self, partition_id, epoch_id):
            self.path = os.path.join(out, f"p{partition_id}_e{epoch_id}")
            self.f = open(self.path + ".part", "w")
            return True

        def process(self, row):
            self.f.write(row.value + "\n")

        def close(self, error):
            self.f.close()
            if error is None:
                os.rename(self.path + ".part", self.path + ".done")

    stream = (
        spark.readStream.schema(VALUE_SCHEMA).option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = foreach_row_sink(stream, FileRowWriter())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    files = os.listdir(out)
    assert files and all(f.endswith(".done") for f in files)  # close ran
    assert {f.split("_")[1] for f in files} == {"e0.done", "e1.done"}
    landed = []
    for f in files:
        with open(os.path.join(out, f)) as fh:
            landed += fh.read().split()
    assert sorted(landed) == rows


def write_text_file(dirpath: str, name: str, rows: list[str]) -> None:
    """One JSON-lines file, moved into the watched directory whole."""
    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(os.path.dirname(dirpath), name + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(rows) + "\n")
    os.rename(tmp, os.path.join(dirpath, name))


def sensor_window_sums(spark, src: str, master, ckpt: str):
    """Drain the paper pipeline (text source -> enrich -> sliding-window
    sums) once; return the query and its batches' rows by batch id."""
    agg = windowed_analysis(
        sensor_enrich(spark.readStream.text(src), master), alert_threshold=None
    )
    batches: dict[int, dict] = {}

    def handler(batch_df, batch_id: int) -> None:
        batches[batch_id] = {
            (r.field_id, r.window_start.isoformat()): r.sum_whc
            for r in batch_df.collect()
        }

    q = foreach_batch_sink(agg, handler, checkpoint=ckpt)
    drain(q)
    return q, {b: rows for b, rows in batches.items() if rows}


def state_partitions(q, ckpt: str) -> set[int]:
    """State partition counts the query reported, plus the count of state
    store directories its checkpoint holds."""
    stores = [d for d in os.listdir(os.path.join(ckpt, "state", "0")) if d.isdigit()]
    return {len(stores)} | {
        op["numShufflePartitions"]
        for p in q.recentProgress
        for op in p.get("stateOperators") or []
    }


def test_default_parallelism_counts_usable_cpus(monkeypatch):
    """Without SPARK_GRAFT_CPUS the session sizes itself to the CPUs this
    process may run on, not the host's: a cpuset of 2 on a 64-CPU host
    means 2 slots and 2 state stores per stream. A set value wins, and one
    that is not a positive integer fails at once, naming the variable."""
    from spark_streaming_kafka_example_spark import engine

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert engine._default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1})
    assert engine._default_parallelism() == 2
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert engine._default_parallelism() == 3
    for bad in ("0", "-2", "1.5", "four"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            engine._default_parallelism()


def test_run_parallel_threads_inherit_job_labels(spark):
    """run_parallel's pool threads run their jobs under the caller's job
    description and tags. Two thunks: a single one runs inline, on the
    caller's thread, and would pass without inheritance."""
    from spark_streaming_kafka_example_spark.engine import run_parallel

    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("caller/step")
    spark.addTag("caller-tag")
    try:
        def labels():
            return sc.getLocalProperty("spark.job.description"), spark.getTags()

        got = run_parallel(labels, labels)
    finally:
        spark.removeTag("caller-tag")
        sc.setJobDescription(prev)
    assert [d for d, _ in got] == ["caller/step", "caller/step"]
    assert all("caller-tag" in tags for _, tags in got)


def test_stream_state_partitions_follow_cores(spark, master_df, tmp_path):
    """The session rule: a fresh stateful stream keeps one state store per
    core (streams run with AQE off, so shuffle.partitions is their state
    partition count), while batch keeps max(cores, 8) as AQE's initial
    bound. Its checkpoint goes through the FileSystem-based manager, and
    every checkpoint file keeps both checksum layers: Spark's
    ``<file>.crc`` and Hadoop's ``.<file>.crc`` sidecar."""
    cores = spark.sparkContext.defaultParallelism
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(cores)
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    ) == str(max(cores, 8))
    src = str(tmp_path / "src")
    for i in range(3):
        write_text_file(src, f"f{i}.json", [
            sensor_json(1851632, f"2018/06/15 09:1{i}:00", whc=10.0),
            sensor_json(1851634, f"2018/06/15 09:1{i}:30", whc=4.0),
        ])
    ckpt = str(tmp_path / "ckpt")
    q, batches = sensor_window_sums(spark, src, master_df, ckpt)
    assert batches
    assert state_partitions(q, ckpt) == {cores}

    jvm = spark.sparkContext._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(ckpt), spark._jsparkSession.sessionState().newHadoopConf()
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
    state = os.path.join(ckpt, "state", "0")
    for part in (d for d in os.listdir(state) if d.isdigit()):
        files = set(os.listdir(os.path.join(state, part)))
        assert {"1.delta", "1.delta.crc", ".1.delta.crc"} <= files, (part, files)
    for log in ("offsets", "commits"):
        files = set(os.listdir(os.path.join(ckpt, log)))
        assert {"0", ".0.crc"} <= files, (log, files)


def test_checkpoint_keeps_first_start_state_partitions(spark, master_df, tmp_path):
    """A checkpoint fixes its state partition count at first start: one
    begun under an older, larger count restarts under the current session
    with the same state stores, and its next batch continues the sums."""
    cores = spark.sparkContext.defaultParallelism
    first = 2 * cores  # the old max(cores, 8) rule on a 4-core host
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    write_text_file(src, "f0.json", [
        sensor_json(1851632, "2018/06/15 09:12:00", whc=10.0),
        sensor_json(1851632, "2018/06/15 09:12:30", whc=2.5),
        sensor_json(1851634, "2018/06/15 09:13:00", whc=4.0),
    ])
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(first))
    try:
        q, run1 = sensor_window_sums(spark, src, master_df, ckpt)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert state_partitions(q, ckpt) == {first}
    (sums1,) = run1.values()

    write_text_file(src, "f1.json", [sensor_json(1851632, "2018/06/15 09:12:40", whc=1.25)])
    q, run2 = sensor_window_sums(spark, src, master_df, ckpt)
    assert state_partitions(q, ckpt) == {first}
    (sums2,) = run2.values()
    # 09:12:40 falls in the five 5-min windows starting 09:08..09:12, which
    # the first run filled with 10.0 + 2.5 from the same sensor.
    starts = [f"2018-06-15T09:{m:02d}:00" for m in range(8, 13)]
    assert {k: sums1[k] for k in sums2} == {("field1", w): 12.5 for w in starts}
    assert sums2 == {k: sums1[k] + 1.25 for k in sums2}


def test_multi_sink_fanout(spark, tmp_path):
    """K8: two concurrent queries off one lineage, each with its own
    checkpoint (reference SlidingWindow.scala:66-73)."""
    src = str(tmp_path / "fan_src")
    write_value_batch(spark, src, ["a b", "b c"], 0)
    stream = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
    counts = word_count(stream)
    q1 = memory_sink(counts, "t_fan1", mode="complete")
    q2 = memory_sink(counts, "t_fan2", mode="complete")
    drain(q1)
    drain(q2)
    c1 = {r.word: r["count"] for r in spark.table("t_fan1").collect()}
    c2 = {r.word: r["count"] for r in spark.table("t_fan2").collect()}
    assert c1 == c2 == {"a": 1, "b": 2, "c": 1}


def test_stateful_running_count_across_batches(spark, tmp_path):
    """A4/T4: applyInPandasWithState accumulates across micro-batches
    (exact updateStateByKey parity, reference BasicStreaming.scala:23-25)."""
    from spark_streaming_kafka_example_spark.streaming.stateful import (
        stateful_running_count,
    )

    src = str(tmp_path / "state_src")
    write_value_batch(spark, src, ["x y", "x z"], 0)
    stream = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
    words = stream.select(F.explode(F.split("value", " ")).alias("word"))
    name = "t_state"
    q = (
        stateful_running_count(words)
        .writeStream.outputMode("update").format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "st_ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        write_value_batch(spark, src, ["x"], 1)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(name).collect()
    latest = {}
    for r in rows:  # update mode appends; last emission per word wins
        latest[r.word] = max(latest.get(r.word, 0), r["count"])
    assert latest == {"x": 3, "y": 1, "z": 1}


def test_rate_source_smoke(spark):
    """Built-in rate source (load-test source) produces rows under a
    processing-time trigger."""
    from spark_streaming_kafka_example_spark.sources import rate_stream

    q = (
        rate_stream(spark, rows_per_second=50)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_rate")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 15
        while time.time() < deadline and spark.table("t_rate").count() == 0:
            time.sleep(0.3)
        assert spark.table("t_rate").count() > 0
        assert set(spark.table("t_rate").columns) == {"timestamp", "value"}
    finally:
        q.stop()


def test_available_now_multi_batch_state(spark, tmp_path):
    """availableNow + maxFilesPerTrigger=1 splits the backlog into several
    micro-batches in one run; windowed state must accumulate across them
    (this is exactly how a backfill over thousands of files behaves)."""
    src = str(tmp_path / "mb_src")
    for i, rows in enumerate([["a b"], ["a c"], ["a"]]):
        write_value_batch(spark, src, rows, i)
    stream = (
        spark.readStream.schema(VALUE_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    counts = word_count(stream)
    q = (
        counts.writeStream.outputMode("complete").format("memory")
        .queryName("t_mb")
        .option("checkpointLocation", str(tmp_path / "mb_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.word: r["count"] for r in spark.table("t_mb").collect()}
    assert got == {"a": 3, "b": 1, "c": 1}


def test_observe_metrics_on_streaming_query(spark, sf_dir):
    """df.observe piggybacks data-quality counters on the streaming query
    itself (no second pass over the data): row count, null-join-miss count,
    and value sum arrive via the query's observedMetrics."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka_example_spark.plans.stream import events_stream
    from spark_streaming_kafka_example_spark.sources import load_table
    from spark_streaming_kafka_example_spark.streaming.sinks import memory_sink

    stream = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    observed = stream.join(F.broadcast(dim), "user_id", "left_outer").observe(
        "dq",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("c_mktsegment").isNull().cast("long")).alias("dim_misses"),
        F.round(F.sum("value"), 2).alias("value_total"),
    )
    query = memory_sink(observed, "observe_dq", mode="append")
    query.awaitTermination()

    metrics = None
    for progress in reversed(query.recentProgress):
        if progress.observedMetrics.get("dq"):
            metrics = progress.observedMetrics["dq"]
            break
    assert metrics is not None, "no observed metrics in query progress"

    expected = load_table(spark, sf_dir, "events")
    assert metrics["rows"] == expected.count()
    misses = (
        expected.join(dim, "user_id", "left_outer")
        .filter(F.col("c_mktsegment").isNull())
        .count()
    )
    assert metrics["dim_misses"] == misses
    assert metrics["value_total"] > 0


def test_streaming_sink_compaction(spark, sf_dir, tmp_path):
    """The small-files answer (SCALE.md): a per-batch parquet sink leaves
    one file per micro-batch partition; compaction rewrites the archive to
    N internally-sorted files with identical contents."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka_example_spark.plans.stream import events_stream
    from spark_streaming_kafka_example_spark.streaming.sinks import parquet_sink

    out = str(tmp_path / "archive")
    ckpt = str(tmp_path / "ckpt")
    stream = events_stream(spark, sf_dir).withColumn(
        "month", F.date_format("ts", "yyyyMM").cast("int")
    )
    q = parquet_sink(stream, out, ckpt)
    q.awaitTermination()

    import glob

    before = glob.glob(out + "/**/*.parquet", recursive=True)
    archive = spark.read.parquet(out)
    n_rows = archive.count()

    compacted_dir = str(tmp_path / "compacted")
    archive.repartitionByRange(2, "user_id").sortWithinPartitions(
        "user_id", "ts"
    ).write.parquet(compacted_dir)
    after = glob.glob(compacted_dir + "/*.parquet")
    assert len(after) <= 2 < max(len(before), 3)
    compacted = spark.read.parquet(compacted_dir)
    assert compacted.count() == n_rows
    assert compacted.exceptAll(archive).count() == 0


def test_run_to_table_rejects_multi_batch_drains(spark, tmp_path):
    """run_to_table's single-batch guard: a 2-file source read one file per
    trigger drains in 2 data batches, which update mode and an
    order-sensitive append (require_single_batch) reject loudly; a plain
    append drain returns every row."""
    from spark_streaming_kafka_example_spark.plans.stream import run_to_table

    src = str(tmp_path / "src")
    for b in range(2):
        write_value_batch(spark, src, [f"w{b}", "shared"], b)
    stream = (
        spark.readStream.schema(VALUE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    with pytest.raises(AssertionError, match="update-mode .* 2 micro-batches"):
        run_to_table(spark, stream.groupBy("value").count(), "update")
    with pytest.raises(AssertionError, match="append-mode .* 2 micro-batches"):
        run_to_table(spark, stream, "append", require_single_batch=True)
    got = run_to_table(spark, stream, "append")
    assert sorted(r.value for r in got.collect()) == ["shared", "shared", "w0", "w1"]


def test_stateful_sessionizer_closed_sessions_match_batch(spark, sf_dir):
    """The explicit-state sessionizer's CLOSED sessions equal the batch
    sessionization minus each key's final (still-open) session."""
    from pyspark.sql import Window, functions as F

    from spark_streaming_kafka_example_spark.operators.sessionize import sessionize
    from spark_streaming_kafka_example_spark.plans.stream import (
        events_stream,
        run_to_table,
    )
    from spark_streaming_kafka_example_spark.sources import load_table
    from spark_streaming_kafka_example_spark.streaming.stateful import (
        stateful_sessionizer,
    )

    out = stateful_sessionizer(
        events_stream(spark, sf_dir).select("user_id", "ts", "value"),
        gap_seconds=1800,
    )
    got = run_to_table(spark, out, "append").select(
        "user_id", "session_start", "session_end", "n_events",
        F.round("session_value", 2).alias("session_value"),
    )

    batch = sessionize(
        load_table(spark, sf_dir, "events"), key="user_id", ts_col="ts",
        gap_seconds=1800,
    )
    per_session = batch.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )
    last = Window.partitionBy("user_id")
    expected = (
        per_session.withColumn("max_sid", F.max("session_id").over(last))
        .filter(F.col("session_id") != F.col("max_sid"))
        .select("user_id", "session_start", "session_end", "n_events",
                "session_value")
    )
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_stateful_greedy_packer_state_across_batches(spark, tmp_path):
    """The streaming packer's (seq, fill) state must carry across
    micro-batches: a shard whose docs arrive over three batches packs
    exactly like one batch of the same arrival order — no seq reset, no
    phantom sequence boundary at batch edges, cap respected throughout."""
    from spark_streaming_kafka_example_spark.streaming.stateful import (
        stateful_greedy_packer,
    )

    src = str(tmp_path / "pack_src")
    schema = "source string, doc_id long, n_tok long"
    # shard A: 60+30 fills seq 0 (cap 100), 40 overflows -> seq 1, 90 -> 2
    batches = [
        [("A", 0, 60), ("B", 10, 95)],
        [("A", 1, 30), ("A", 2, 40)],
        [("A", 3, 90), ("B", 11, 10)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        stateful_greedy_packer(stream, cap=100)
        .writeStream.outputMode("append").format("memory")
        .queryName("t_pack_mb")
        .option("checkpointLocation", str(tmp_path / "pack_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.source, r.doc_id): r.seq_id for r in spark.table("t_pack_mb").collect()}
    # batch order == arrival order here, so the fold is deterministic
    assert got == {
        ("A", 0): 0, ("A", 1): 0, ("A", 2): 1, ("A", 3): 2,
        ("B", 10): 0, ("B", 11): 1,
    }, got


def test_rollup_upsert_maintains_aggregate_table(spark, tmp_path):
    """Materialized-view maintenance: an update-mode daily count streamed
    through rollup_upsert_handler must leave the parquet table equal to
    the batch aggregate after multiple micro-batches — only changed day
    partitions rewritten, replay-idempotent."""
    import glob
    import os

    from spark_streaming_kafka_example_spark.streaming.sinks import (
        foreach_batch_sink,
        rollup_upsert_handler,
    )

    src = str(tmp_path / "roll_src")
    schema = "day string, user_id long"
    batches = [
        [("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3)],
        [("2024-01-02", 4), ("2024-01-03", 5)],  # day1 untouched in batch 2
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    target = str(tmp_path / "rollup_table")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    counts = stream.groupBy("day").count()
    q = foreach_batch_sink(
        counts,
        rollup_upsert_handler(target, "day"),
        checkpoint=str(tmp_path / "roll_ckpt"),
        mode="update",
    )
    q.awaitTermination()
    got = {
        str(r.day): r["count"]  # partition values read back type-inferred
        for r in spark.read.parquet(target).collect()
    }
    assert got == {"2024-01-01": 2, "2024-01-02": 2, "2024-01-03": 1}, got
    # day1's partition was written once (batch 0) and never rewritten:
    # exactly one part-file, no overwrite leftovers
    day1_files = glob.glob(os.path.join(target, "day=2024-01-01", "part-*"))
    assert len(day1_files) == 1, day1_files


def test_stream_stream_join_buffers_across_batches(spark, tmp_path):
    """Stream-stream join state: a purchase arriving in batch 1 must still
    match an error arriving in batch 2 (within the event-time bound) — the
    buffered side lives in the state store across micro-batches. Also: an
    error outside the 1h bound never matches, even in-batch."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    p_src = str(tmp_path / "pp")
    e_src = str(tmp_path / "ee")
    schema = "event_id long, user_id long, ts timestamp"
    # Two files per source + maxFilesPerTrigger=1 => two micro-batches.
    # The MATCHING error is only in the second error file, so the join can
    # succeed only if purchase 1 (read in batch 0) is still buffered in the
    # state store when batch 1 arrives.
    spark.createDataFrame(
        [(1, 7, base), (2, 8, base)], schema
    ).coalesce(1).write.parquet(f"{p_src}/b0")
    spark.createDataFrame(
        [(3, 9, base)], schema
    ).coalesce(1).write.parquet(f"{p_src}/b1")
    spark.createDataFrame(
        [(11, 8, base + dt.timedelta(hours=2))],        # outside bound
        schema,
    ).coalesce(1).write.parquet(f"{e_src}/b0")
    spark.createDataFrame(
        [(10, 7, base + dt.timedelta(minutes=30))],     # matches purchase 1
        schema,
    ).coalesce(1).write.parquet(f"{e_src}/b1")

    purchases = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(p_src + "/*")
        .select(F.col("event_id").alias("purchase_id"), "user_id",
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    errors = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(e_src + "/*")
        .select(F.col("event_id").alias("error_id"),
                F.col("user_id").alias("e_user_id"),
                F.col("ts").alias("error_ts"))
        .withWatermark("error_ts", "1 hour")
    )
    joined = purchases.join(
        errors,
        (F.col("user_id") == F.col("e_user_id"))
        & (F.col("error_ts") >= F.col("p_ts"))
        & (F.col("error_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("purchase_id", "error_id")
    q = (
        joined.writeStream.outputMode("append").format("memory")
        .queryName("t_ssj_mb")
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.purchase_id, r.error_id) for r in spark.table("t_ssj_mb").collect()}
    assert got == {(1, 10)}, got


def test_rollup_upsert_replay_is_idempotent(spark, tmp_path):
    """An at-least-once replay (same batch re-delivered after a failure
    between sink write and checkpoint commit) must leave the rollup table
    identical — AND partitions the replayed batch does not touch must
    survive. The second point is what distinguishes dynamic partition
    overwrite from a static full-table overwrite: batch 1 only carries
    day 2, so a static overwrite would delete day 1's partition and this
    test would catch it."""
    from spark_streaming_kafka_example_spark.streaming.sinks import (
        rollup_upsert_handler,
    )

    def table(path):
        return {
            (str(r.day), r["count"])
            for r in spark.read.parquet(path).collect()
        }

    target = str(tmp_path / "replay_rollup")
    handler = rollup_upsert_handler(target, "day")
    handler(
        spark.createDataFrame([("2024-02-01", 5)], "day string, count long"), 0
    )
    batch1 = spark.createDataFrame(
        [("2024-02-02", 7)], "day string, count long"
    )
    handler(batch1, 1)
    expect = {("2024-02-01", 5), ("2024-02-02", 7)}
    assert table(target) == expect
    handler(batch1, 1)  # replay touches ONLY day 2; day 1 must survive
    assert table(target) == expect


def test_stream_cohort_retention_accumulates_across_batches(spark, sf_dir, tmp_path):
    """The cohort-retention streaming agg (stream-static cohort join +
    size(collect_set) distinct counts) must accumulate its per-cell user
    sets across MICRO-BATCHES, not just within one: split the events into
    two files, force one file per trigger, and require the drained
    complete-mode matrix to equal the batch query's. This is the
    incremental-machinery guarantee the single-drain oracle row can't
    see."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka_example_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    src = str(tmp_path / "cohort_src")
    for i, half in enumerate((ev.filter(F.col("event_id") % 2 == 0),
                              ev.filter(F.col("event_id") % 2 == 1))):
        half.coalesce(1).write.parquet(f"{src}/b{i}")
    # one directory, two files, one file per trigger
    import glob as _glob
    import shutil

    for i, f in enumerate(sorted(_glob.glob(f"{src}/b*/part-*.parquet"))):
        shutil.copy(f, f"{src}/batch_{i}.parquet")

    cohort_map = (
        ev.groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).alias("cohort_day"))
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "batch_*.parquet")
        .parquet(src)
    )
    matrix = (
        stream.select("user_id", F.date_trunc("day", "ts").alias("d"))
        .join(F.broadcast(cohort_map), "user_id")
        .select(
            "user_id", "cohort_day",
            F.datediff("d", "cohort_day").cast("long").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.size(F.collect_set("user_id")).cast("long").alias("n_active"))
    )
    q = (
        matrix.writeStream.outputMode("complete").format("memory")
        .queryName("t_cohort_mb")
        .option("checkpointLocation", str(tmp_path / "cohort_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress is not None and q.recentProgress  # actually ran
    got = {
        (r.cohort_day, r.day_offset): r.n_active
        for r in spark.table("t_cohort_mb").collect()
    }
    from spark_streaming_kafka_example_spark import plans

    plans.load_all()
    expected = {
        (r.cohort_day, r.day_offset): r.n_active
        for r in plans.QUERIES["cohort_daily_retention"](spark, sf_dir).collect()
    }
    assert got == expected


def test_stateful_transition_pairs_bridge_across_batches(spark, tmp_path):
    """The O(1)-state transition miner must bridge micro-batch boundaries:
    the last event stored in state pairs with the first event of the next
    batch, single-event batches emit nothing but still update state, and
    within a batch ts ties break by event_id (the batch-pipeline order)."""
    import datetime as dt

    from spark_streaming_kafka_example_spark.streaming.stateful import (
        stateful_transition_pairs,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    src = str(tmp_path / "trans_src")
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    batches = [
        # user 1: a then b (tie on ts -> event_id order); user 2: lone x
        [(1, ts(0), 100, "a"), (1, ts(0), 101, "b"), (2, ts(1), 102, "x")],
        # user 1 bridges b->c; user 2 bridges x->y
        [(1, ts(5), 103, "c"), (2, ts(6), 104, "y")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    # The bridge assertion needs b0 DISCOVERED before b1 (the file source
    # orders candidates by modification time under maxFilesPerTrigger=1);
    # coarse filesystem timestamps could tie the two writes, so pin
    # explicit distinct mtimes on every file of each batch dir.
    for i in range(len(batches)):
        for root, _dirs, files in os.walk(f"{src}/b{i}"):
            for f in files:
                os.utime(
                    os.path.join(root, f),
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        stateful_transition_pairs(stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("t_trans_mb")
        .option("checkpointLocation", str(tmp_path / "trans_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.src, r.dst)
        for r in spark.table("t_trans_mb").collect()
    }
    assert got == {(1, "a", "b"), (1, "b", "c"), (2, "x", "y")}, got


def test_stateful_transition_pairs_pair_cap_raises(spark, tmp_path):
    """The in-state pair_cap guard: a key whose
    cumulative transition count exceeds the cap must fail the query
    LOUDLY at ingest (the batch twin's rank-capped oracle would otherwise
    silently diverge), while a run under the cap is untouched — and the
    guard costs zero extra jobs, the counter rides the O(1) state."""
    import datetime as dt

    from pyspark.errors.exceptions.captured import StreamingQueryException
    from spark_streaming_kafka_example_spark.streaming.stateful import (
        stateful_transition_pairs,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0 + dt.timedelta(seconds=s), 100 + s, "abcde"[s % 5])
        for s in range(5)  # 4 transition pairs for user 1
    ]
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    src = str(tmp_path / "cap_src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    def run(cap, name, ckpt):
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stateful_transition_pairs(stream, pair_cap=cap)
            .writeStream.outputMode("append").format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name).count()

    assert run(4, "t_cap_ok", "ck_ok") == 4  # at the cap: fine
    with pytest.raises(StreamingQueryException, match="pair_cap=3"):
        run(3, "t_cap_boom", "ck_boom")


def test_pretrain_gate_planted_semantics(spark, sf_dir):
    """The gate's planted positive paths land under the right reasons:
    every +300000 exact re-crawl drops as exact_dup (never as the
    lower-priority image reason, though its cover also matches), every
    +500000 tail-edit re-upload drops as near_dup_image (same cover
    image, different word set — NOT exact), and the odd-id organic
    arrivals populate both low_quality and keep."""
    from spark_streaming_kafka_example_spark.plans.stream import (
        stream_pretrain_gate,
    )

    rows = stream_pretrain_gate(spark, sf_dir).collect()
    by_id = {r.doc_id: r for r in rows}
    exact = [r for i, r in by_id.items() if 300000 <= i < 500000]
    media = [r for i, r in by_id.items() if i >= 500000]
    organic = [r for i, r in by_id.items() if i < 300000]
    assert exact and all(
        r.decision == "drop" and r.reason == "exact_dup" for r in exact
    )
    assert media and all(
        r.decision == "drop" and r.reason == "near_dup_image" for r in media
    )
    organic_reasons = {r.reason for r in organic}
    assert "ok" in organic_reasons and "low_quality" in organic_reasons
    assert all(
        (r.decision == "keep") == (r.reason == "ok") for r in rows
    )


@pytest.mark.parametrize("sketch", ["hll", "quantile", "cms"])
def test_windowed_sketch_watermark_expires_state(spark, tmp_path, sketch):
    """The windowed-sketch state bound as a CONTRACT:
    the windowed twins document "watermark expires closed windows'
    registers/cells, so state = ACTIVE windows x groups x m". The bounded
    complete-mode drains can't show that, so this runs the SAME folds the
    production queries drain (hll_windowed_fold, quantile_windowed_fold,
    cms_windowed_fold) in APPEND mode across micro-batches: a batch far
    past the watermark must (a) emit the closed window's rows exactly once
    and (b) shrink the state store to the still-active window's rows only
    — state does not grow with window history. An event holds one state
    row per sketch row it feeds: one register or cell, or _CMS_D cells."""
    from spark_streaming_kafka_example_spark.plans import HOURLY
    from spark_streaming_kafka_example_spark.plans.stream import (
        cms_windowed_fold,
        hll_windowed_fold,
        quantile_windowed_fold,
    )
    from spark_streaming_kafka_example_spark.plans.windows_stats import _CMS_D

    src = str(tmp_path / "wm_sketch_src")
    ev_schema = "ts timestamp, event_type string, user_id long, value double"

    def write_batch(rows):
        spark.createDataFrame(rows, ev_schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    import datetime as dt

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    # 3 distinct users / 3 well-separated values -> 1..3 state rows in
    # the hour-0 window for either fold.
    write_batch([(t(0, 10), "click", 1, 10.0), (t(0, 20), "click", 2, 50.0),
                 (t(0, 20), "click", 3, 90.0)])
    stream = spark.readStream.schema(ev_schema).parquet(src)
    per_event = 1
    if sketch == "hll":
        folded = hll_windowed_fold(stream, HOURLY)
    elif sketch == "cms":
        folded = cms_windowed_fold(stream.select("ts", "user_id"), HOURLY)
        per_event = _CMS_D
    else:
        bounds = spark.createDataFrame(
            [(0.0, 100.0, 3)], "mn double, mx double, n long"
        )  # the batch-computed epoch grid configuration
        folded = quantile_windowed_fold(stream, bounds, HOURLY)
    name = f"t_wm_sketch_{sketch}"
    q = (
        folded
        .writeStream.outputMode("append").format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "wm_sketch_ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # hour-0's window end (01:00) is not yet 2h behind the max event
        # time (00:20) -> nothing emitted, registers buffered in state.
        assert spark.table(name).count() == 0
        hour0_state = _state_rows(q)
        # <=3 buckets per sketch row (hash/grid collisions ok)
        assert per_event <= hour0_state <= 3 * per_event

        # Batch 2: one event 10 hours later -> watermark 08:00 passes the
        # hour-0 window, which must emit once and leave the state store.
        write_batch([(t(10), "click", 9, 42.0)])
        q.processAllAvailable()
        emitted = spark.table(name).collect()
        assert {r.window_start for r in emitted} == {t(0)}
        assert len(emitted) == hour0_state  # every buffered row, once
        # ONLY the active hour-10 rows survive
        assert _state_rows(q) == per_event

        # Batch 3: another jump -> hour-10 emits once, hour-0 is NOT
        # re-emitted, state again holds only the newest window.
        write_batch([(t(20), "click", 9, 42.0)])
        q.processAllAvailable()
        emitted = spark.table(name).collect()
        assert sum(r.window_start == t(0) for r in emitted) == hour0_state
        assert sum(r.window_start == t(10) for r in emitted) == per_event
        assert _state_rows(q) == per_event
    finally:
        q.stop()


def _state_rows(q) -> int:
    """numRowsTotal of the query's (single) stateful operator, from the
    most recent progress event that carried state metrics."""
    for p in reversed(q.recentProgress):
        ops = p.get("stateOperators") or []
        if ops:
            return ops[0]["numRowsTotal"]
    raise AssertionError("no state operator progress found")


def test_minhash_probe_recalls_planted_near_dups(spark, sf_dir):
    """The at-ingest MinHash probe's recall claim as a contract: the planted
    tail-truncated re-uploads (source + _MH_PLANT_OFFSET, Jaccard ~0.75 vs
    their source — every plant source is doc_id % 10 == 0, hence even, hence
    IN the store catalog) must mostly surface with >= 1 store candidate —
    5x3 banding at j~0.75 recalls 1-(1-j^3)^5 ~ 0.93 per plant, so well over
    half of the ~n/10 plants must band."""
    from spark_streaming_kafka_example_spark.plans.stream import (
        _MH_PLANT_OFFSET,
        stream_minhash_probe,
    )
    from spark_streaming_kafka_example_spark.sources import load_table

    n_src = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .count()
    )
    rows = stream_minhash_probe(spark, sf_dir).collect()
    found = {
        r.doc_id - _MH_PLANT_OFFSET: r.n_store_candidates
        for r in rows
        if r.doc_id >= _MH_PLANT_OFFSET
    }
    assert n_src >= 5  # the plant population exists at this sf
    recall = len(found) / n_src
    assert recall >= 0.6, f"planted near-dup recall {recall} ({len(found)}/{n_src})"
    assert all(n >= 1 for n in found.values())


# ---------------------------------------------------------------------------
# The at-ingest ANN probes' top-k state must
# be bounded by k, never by the candidate count — the state-space FIXED-K
# rule. The fold is unit-tested against a fake GroupState (exact state
# contents) and behaviorally across micro-batches (the stored k is all
# that survives a batch boundary).
# ---------------------------------------------------------------------------


class _FakeGroupState:
    def __init__(self, timed_out=False):
        self._t = None
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_durations = []

    @property
    def exists(self):
        return self._t is not None

    @property
    def get(self):
        return self._t

    def update(self, t):
        self._t = t

    def remove(self):
        self._t = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_durations.append(ms)


def test_stateful_topk_fold_state_bounded_by_k():
    """Feed 20 candidates at k=5: state must hold EXACTLY the best 5 (ids +
    scores, descending score / id tie-break), the emission must be those 5
    with rnk 1..5, and a second batch must merge against the stored 5 only
    — state never exceeds k at any point."""
    import pandas as pd

    from spark_streaming_kafka_example_spark.streaming.stateful import (
        _topk_update_fn,
    )

    update = _topk_update_fn(5, "q_id", "n_id", "cos")
    state = _FakeGroupState()
    b1 = pd.DataFrame(
        {
            "q_id": [7] * 20,
            "n_id": list(range(100, 120)),
            # scores 0.00 .. 0.18 ascending, with n_id 119 duplicating
            # 0.18 to force the id tie-break at the top
            "cos": [i / 100.0 for i in range(19)] + [0.18],
        }
    )
    (out1,) = list(update((7,), iter([b1]), state))
    ids, scores = state.get
    assert len(ids) == 5 and len(scores) == 5
    # 0.18 ties between n_id 118 and 119 -> lower id first
    assert ids == [118, 119, 117, 116, 115]
    assert scores == [0.18, 0.18, 0.17, 0.16, 0.15]
    assert list(out1["rnk"]) == [1, 2, 3, 4, 5]
    assert list(out1["n_id"]) == ids

    # batch 2: one candidate beats everything, one lands mid-pack, the
    # rest are worse than the stored floor — merge sees ONLY the stored 5.
    b2 = pd.DataFrame(
        {"q_id": [7] * 3, "n_id": [200, 201, 202],
         "cos": [0.99, 0.175, 0.01]}
    )
    (out2,) = list(update((7,), iter([b2]), state))
    ids2, _ = state.get
    assert len(ids2) == 5
    assert ids2 == [200, 118, 119, 201, 117]
    assert list(out2["n_id"]) == ids2
    assert list(out2["rnk"]) == [1, 2, 3, 4, 5]


def test_stateful_topk_fold_dedupes_ids_and_drops_nan():
    """Two fold contracts: (a) a re-observed (key, id) candidate — source
    replay, re-yielding generator — must occupy ONE slot with its best
    score, in and across batches; (b) NaN scores are excluded before ranking
    (the batch rankers' semantics: -NaN sorts last in the struct sort,
    outside the top-k slice)."""
    import pandas as pd

    from spark_streaming_kafka_example_spark.streaming.stateful import (
        _topk_update_fn,
    )

    update = _topk_update_fn(3, "q_id", "n_id", "cos")
    state = _FakeGroupState()
    b1 = pd.DataFrame(
        {
            "q_id": [1] * 5,
            # id 10 appears twice (0.3 then 0.5): best score wins, one slot
            "n_id": [10, 10, 11, 12, 13],
            "cos": [0.3, 0.5, float("nan"), 0.2, 0.1],
        }
    )
    (out1,) = list(update((1,), iter([b1]), state))
    ids, scores = state.get
    # 11's only score is NaN -> excluded entirely; 10 deduped to 0.5
    assert ids == [10, 12, 13]
    assert scores == [0.5, 0.2, 0.1]
    assert list(out1["n_id"]) == ids

    # batch 2 re-observes stored id 10 with a WORSE score (replay) plus a
    # NaN for a fresh id: 10 keeps 0.5 and one slot; 14's NaN never ranks.
    b2 = pd.DataFrame(
        {"q_id": [1] * 2, "n_id": [10, 14], "cos": [0.4, float("nan")]}
    )
    list(update((1,), iter([b2]), state))
    ids2, scores2 = state.get
    assert ids2 == [10, 12, 13]
    assert scores2 == [0.5, 0.2, 0.1]

    # batch 3 re-observes 10 with a BETTER score: still one slot, upgraded.
    b3 = pd.DataFrame({"q_id": [1] * 1, "n_id": [10], "cos": [0.9]})
    list(update((1,), iter([b3]), state))
    ids3, scores3 = state.get
    assert ids3 == [10, 12, 13]
    assert scores3 == [0.9, 0.2, 0.1]


def test_stateful_topk_fold_timeout_removes_state_unit():
    """The timed-out invocation drops the key's
    state entirely and emits nothing; normal batches arm the TTL."""
    import pandas as pd

    from spark_streaming_kafka_example_spark.streaming.stateful import (
        _topk_update_fn,
    )

    update = _topk_update_fn(2, "q_id", "n_id", "cos", ttl_ms=1234)
    state = _FakeGroupState()
    b1 = pd.DataFrame({"q_id": [1], "n_id": [10], "cos": [0.5]})
    list(update((1,), iter([b1]), state))
    assert state.exists
    assert state.timeout_durations == [1234]  # every update re-arms

    timed_out = _FakeGroupState(timed_out=True)
    timed_out.update(([10], [0.5]))
    (out,) = list(update((1,), iter([]), timed_out))
    assert timed_out.removed and not timed_out.exists
    assert len(out) == 0
    assert list(out.columns) == ["q_id", "n_id", "cos", "rnk"]


def test_stateful_topk_fold_ttl_expires_idle_key(spark, tmp_path):
    """End-to-end TTL expiry (the test_windowed_sketch_watermark_expires_
    state style), in a CONTINUOUSLY-TRIGGERED stream —
    not availableNow, which can never terminate under ProcessingTimeTimeout
    (shouldRunAnotherBatch returns true unconditionally for that conf; see
    TOPK_TTL_MS). With ttl_ms=1 every served key goes idle after its data
    batch, so the follow-up micro-batches must fire the timeouts and
    REMOVE the state rows: the store drains to 0 while the emitted top-k
    rows stand — expiry drops state, never emissions. (That active keys
    RETAIN state is the unit contract: test_stateful_topk_fold_timeout_
    removes_state_unit pins re-arming on every update.)"""
    import time

    from spark_streaming_kafka_example_spark.streaming.stateful import (
        stateful_topk_fold,
    )

    src = str(tmp_path / "topk_ttl_src")
    schema = "q_id long, n_id long, cos double"
    batches = [
        [(1, 10, 0.5)],           # key 1, then idle
        [(2, 20, 0.9)],           # key 2, then idle
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    for i in range(len(batches)):
        for root, _dirs, files in os.walk(f"{src}/b{i}"):
            for f in files:
                os.utime(
                    os.path.join(root, f),
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        stateful_topk_fold(stream, k=2, ttl_ms=1)
        .writeStream.outputMode("update").format("memory")
        .queryName("t_topk_ttl")
        .option("checkpointLocation", str(tmp_path / "topk_ttl_ckpt"))
        .start()
    )
    # NOTE: no awaitTermination/processAllAvailable — under
    # ProcessingTimeTimeout the engine keeps scheduling no-data batches
    # (never signals noNewData), so BOTH block forever; polling is the
    # only correct wait (measured ~8s to converge on 4 cores).
    try:
        got: set = set()
        deadline = time.time() + 120
        while time.time() < deadline:
            got = {
                (r.q_id, r.n_id, r.cos, r.rnk)
                for r in spark.table("t_topk_ttl").collect()
            }
            try:
                if len(got) >= 2 and _state_rows(q) == 0:
                    break
            except AssertionError:
                pass  # no state-metric progress yet
            time.sleep(1.0)
        assert q.exception() is None, q.exception()
        assert _state_rows(q) == 0, "idle keys' state was never expired"
        # expiry emitted nothing: exactly the two served top-k rows exist
        assert got == {(1, 10, 0.5, 1), (2, 20, 0.9, 1)}, got
    finally:
        q.stop()


def test_sessionizer_idle_timeout_flushes_open_session():
    """stateful_sessionizer's opt-in idle_timeout_ms makes a left
    user's FINAL session close — the timed-out invocation emits the open
    session as closed (end = last event seen) and drops the key's state;
    normal batches arm the timeout and keep the gap semantics unchanged.
    (E2e timeout firing is pinned on the same applyInPandasWithState +
    ProcessingTimeTimeout path by test_stateful_topk_fold_ttl_expires_
    idle_key.)"""
    import datetime as dt

    import pandas as pd

    from spark_streaming_kafka_example_spark.streaming.stateful import (
        _sessionizer_update_fn,
    )

    # idle >= gap*1000, the stateful_sessionizer contract (a shorter
    # processing-time flush would split gap-contiguous sessions)
    update = _sessionizer_update_fn(
        1800, "ts", "value", idle_timeout_ms=3_600_000
    )
    state = _FakeGroupState()
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    b1 = pd.DataFrame(
        {
            # a 2-event session, then a > gap jump opening a second one
            "user_id": [9] * 3,
            "ts": [t0, t0 + dt.timedelta(minutes=5),
                   t0 + dt.timedelta(hours=2)],
            "value": [1.0, 2.0, 4.0],
        }
    )
    (out1,) = list(update((9,), iter([b1]), state))
    # gap semantics unchanged: first session closed by the in-data jump
    assert len(out1) == 1
    assert out1.loc[0, "n_events"] == 2 and out1.loc[0, "session_value"] == 3.0
    # open session (the 1-event tail) held as state, timeout armed
    start, last_seen, n, total = state.get
    assert (start, n, total) == (t0 + dt.timedelta(hours=2), 1, 4.0)
    assert state.timeout_durations == [3_600_000]

    # idle past the timeout: the open session flushes as closed and the
    # key's state drops — without this, user 9's last session never ends.
    timed_out = _FakeGroupState(timed_out=True)
    timed_out.update((start, last_seen, n, total))
    (out2,) = list(update((9,), iter([]), timed_out))
    assert timed_out.removed and not timed_out.exists
    assert len(out2) == 1
    assert list(out2.loc[0, ["user_id", "session_start", "session_end",
                             "n_events", "session_value"]]) == [
        9, start, last_seen, 1, 4.0
    ]


def test_sessionizer_idle_timeout_flushes_e2e(spark, tmp_path):
    """The continuous-trigger e2e twin of
    test_sessionizer_idle_timeout_flushes_open_session, making the fold/
    sessionizer timeout pins symmetric (unit + e2e each, the
    test_stateful_topk_fold_ttl_expires_idle_key shape). Two users' open
    sessions sit in state after their data batches; with idle_timeout_ms
    past, the follow-up micro-batches must fire the timeouts, EMIT each
    open session as closed (end = last event seen — the flush emits,
    unlike the top-k fold's silent expiry), and drain the store to 0."""
    import datetime as dt
    import time

    from spark_streaming_kafka_example_spark.streaming.stateful import (
        stateful_sessionizer,
    )

    src = str(tmp_path / "sess_idle_src")
    schema = "user_id long, ts timestamp, value double"
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    batches = [
        # user 1: two events within the gap -> ONE open session, then idle
        [(1, t0, 1.0), (1, t0 + dt.timedelta(seconds=0.5), 2.0)],
        # user 2: a single event -> a 1-event open session, then idle
        [(2, t0 + dt.timedelta(seconds=10), 4.0)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    for i in range(len(batches)):
        for root, _dirs, files in os.walk(f"{src}/b{i}"):
            for f in files:
                os.utime(
                    os.path.join(root, f),
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        stateful_sessionizer(stream, gap_seconds=1, idle_timeout_ms=1000)
        .writeStream.outputMode("append").format("memory")
        .queryName("t_sess_idle")
        .option("checkpointLocation", str(tmp_path / "sess_idle_ckpt"))
        .start()
    )
    # Polling, not awaitTermination/processAllAvailable: under
    # ProcessingTimeTimeout the engine schedules no-data batches forever
    # (see TOPK_TTL_MS), so both block indefinitely.
    try:
        got: set = set()
        deadline = time.time() + 120
        while time.time() < deadline:
            got = {
                (r.user_id, r.session_start, r.session_end, r.n_events,
                 r.session_value)
                for r in spark.table("t_sess_idle").collect()
            }
            try:
                if len(got) >= 2 and _state_rows(q) == 0:
                    break
            except AssertionError:
                pass  # no state-metric progress yet
            time.sleep(1.0)
        assert q.exception() is None, q.exception()
        assert _state_rows(q) == 0, "idle keys' open sessions never flushed"
        assert got == {
            (1, t0, t0 + dt.timedelta(seconds=0.5), 2, 3.0),
            (2, t0 + dt.timedelta(seconds=10),
             t0 + dt.timedelta(seconds=10), 1, 4.0),
        }, got
    finally:
        q.stop()


def test_topk_fold_matches_dedup_model_property():
    """Property pin (hypothesis): folding ANY candidate stream through
    _topk_update_fn — arbitrary batching, duplicate ids, NaN scores,
    ties, negative zero — leaves state equal to the reference model
    computed WITHOUT truncation: dedupe by id keeping the max non-NaN
    score over the whole stream, order by (-score, id), take k. This is
    the exactness argument for the O(k) state bound as a checked
    property, not prose: a true top-k member can never be evicted once
    seen (eviction requires k strictly-better distinct ids, contradicting
    membership), and a re-observed id re-enters with its max when that
    max matters."""
    import math

    import pandas as pd

    hypothesis = pytest.importorskip("hypothesis")  # not a declared dep
    given, settings = hypothesis.given, hypothesis.settings
    st = pytest.importorskip("hypothesis.strategies")

    from spark_streaming_kafka_example_spark.streaming.stateful import (
        _topk_update_fn,
    )

    cand = st.tuples(
        st.integers(min_value=0, max_value=7),  # few ids -> collisions
        st.floats(width=64, allow_nan=True, allow_infinity=False),
    )
    batches_strategy = st.lists(
        st.lists(cand, max_size=12), min_size=1, max_size=5
    )

    @settings(max_examples=150, deadline=None)
    @given(batches=batches_strategy, k=st.integers(min_value=1, max_value=4))
    def run(batches, k):
        update = _topk_update_fn(k, "q_id", "n_id", "cos")
        state = _FakeGroupState()
        for rows in batches:
            pdf = pd.DataFrame(
                {
                    "q_id": pd.Series([1] * len(rows), dtype="int64"),
                    "n_id": pd.Series(
                        [i for i, _ in rows], dtype="int64"
                    ),
                    "cos": pd.Series(
                        [s for _, s in rows], dtype="float64"
                    ),
                }
            )
            (out,) = list(update((1,), iter([pdf]), state))
            assert len(out) <= k  # emission bounded every batch
        best: dict[int, float] = {}
        for rows in batches:
            for i, s in rows:
                if math.isnan(s):
                    continue
                if i not in best or s > best[i]:
                    best[i] = s
        top = sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        ids, scores = state.get
        assert list(ids) == [i for i, _ in top]
        assert list(scores) == [s for _, s in top]

    run()


def test_sessionizer_fold_batch_boundary_invariance_property():
    """Property pin (hypothesis): the sessionizer fold is invariant to
    micro-batch boundaries — for any in-order event stream (the file/
    Kafka replay contract; cross-batch late data is the watermark story)
    and ANY split into micro-batches, the concatenated closed-session
    emissions plus the final open-session state equal the single-batch
    fold. Within-batch order is free: the fold sorts each batch."""
    import datetime as dt

    import pandas as pd

    hypothesis = pytest.importorskip("hypothesis")  # not a declared dep
    given, settings = hypothesis.given, hypothesis.settings
    st = pytest.importorskip("hypothesis.strategies")

    from spark_streaming_kafka_example_spark.streaming.stateful import (
        _sessionizer_update_fn,
    )

    # per event: (seconds since previous event, batch boundary before it?)
    step = st.tuples(
        st.integers(min_value=0, max_value=4000), st.booleans()
    )
    stream_strategy = st.lists(step, min_size=1, max_size=20)

    def fold(batches):
        update = _sessionizer_update_fn(1800, "ts", "value")
        state = _FakeGroupState()
        closed = []
        for rows in batches:
            pdf = pd.DataFrame(
                {
                    "user_id": [9] * len(rows),
                    "ts": [t for t, _ in rows],
                    "value": [v for _, v in rows],
                }
            )
            closed.extend(
                tuple(r)
                for out in update((9,), iter([pdf]), state)
                for r in out.itertuples(index=False)
            )
        return closed, state.get

    @settings(max_examples=150, deadline=None)
    @given(steps=stream_strategy)
    def run(steps):
        t = dt.datetime(2026, 1, 1, 12, 0, 0)
        events, batches = [], [[]]
        for n, (delta, cut) in enumerate(steps):
            t = t + dt.timedelta(seconds=delta)
            ev = (t, float(n + 1))
            events.append(ev)
            if cut and batches[-1]:
                batches.append([])
            batches[-1].append(ev)
        assert fold(batches) == fold([events])

    run()


def test_fold_timeout_validation(spark):
    """Driver-side validation of the fold family's opt-in timeouts: a
    zero/negative ms would configure ProcessingTimeTimeout
    (non-terminating availableNow drains, see TOPK_TTL_MS) and then crash
    worker-side in state.setTimeoutDuration mid-stream; a sessionizer
    idle flush shorter than the gap would split sessions the gap contract
    keeps open. Both must fail fast, driver-side, like the adjacent
    k >= 1 guard."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from spark_streaming_kafka_example_spark.streaming.stateful import (
        _timeout_conf,
        stateful_sessionizer,
        stateful_topk_fold,
    )

    assert _timeout_conf(None) == GroupStateTimeout.NoTimeout
    assert _timeout_conf(1000) == GroupStateTimeout.ProcessingTimeTimeout
    for bad in (0, -5):
        with pytest.raises(ValueError, match="timeout ms"):
            _timeout_conf(bad)

    cand = spark.createDataFrame(
        [(1, 10, 0.5)], "q_id long, n_id long, cos double"
    )
    with pytest.raises(ValueError, match="timeout ms"):
        stateful_topk_fold(cand, k=5, ttl_ms=0)
    ev = spark.createDataFrame(
        [(9,)], "user_id long"
    )
    with pytest.raises(ValueError, match="gap_seconds"):
        stateful_sessionizer(ev, gap_seconds=1800, idle_timeout_ms=5000)


def test_stateful_topk_fold_multibatch_stream(spark, tmp_path):
    """End-to-end across two micro-batches: after batch 2 the emitted
    top-k must be the GLOBAL best k — candidates dropped from state in
    batch 1 stay dropped (11 lost to 21), stored survivors still compete
    (10 beats 21) — and every emission holds <= k rows per key."""
    from spark_streaming_kafka_example_spark.streaming.stateful import (
        stateful_topk_fold,
    )

    src = str(tmp_path / "topk_src")
    schema = "q_id long, n_id long, cos double"
    batches = [
        [(1, 10, 0.5), (1, 11, 0.4), (1, 12, 0.3)],
        [(1, 20, 0.9), (1, 21, 0.45)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    for i in range(len(batches)):
        for root, _dirs, files in os.walk(f"{src}/b{i}"):
            for f in files:
                os.utime(
                    os.path.join(root, f),
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        stateful_topk_fold(stream, k=2)
        .writeStream.outputMode("update").format("memory")
        .queryName("t_topk_mb")
        .option("checkpointLocation", str(tmp_path / "topk_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.q_id, r.n_id, r.cos, r.rnk)
        for r in spark.table("t_topk_mb").collect()
    }
    assert got == {
        (1, 10, 0.5, 1), (1, 11, 0.4, 2),  # batch-1 emission
        (1, 20, 0.9, 1), (1, 10, 0.5, 2),  # refreshed global top-2
    }, got
    # the state operator never held more than k rows' worth per key:
    # numRowsTotal counts STATE ROWS (one per key), and the stored arrays
    # are <= k by the unit contract above.
    assert _state_rows(q) == 1


def test_ivf_appendix_probe_equals_full_rebuild(spark, sf_dir):
    """Index freshness as an exact equality —
    the probe over (batch-built even-id base index) ∪ (odd ids streamed
    in and appended micro-batch by micro-batch, never rebuilding the
    base) returns EXACTLY the from-scratch full-corpus IVF result. If
    the appendix writes dropped, duplicated, or mis-bucketed a single
    arriving vector, some query's neighbor list would differ (odd ids
    are ~half of every probed bucket)."""
    from spark_streaming_kafka_example_spark import plans

    inc = {
        tuple(r)
        for r in plans.QUERIES["stream_ivf_appendix_probe"](
            spark, sf_dir
        ).collect()
    }
    full = {
        tuple(r) for r in plans.QUERIES["sim_ivf_topk"](spark, sf_dir).collect()
    }
    assert inc == full
    # the streamed half is load-bearing: odd ids appear among neighbors
    assert any(n_id % 2 == 1 for (_q, n_id, _c, _r) in inc)


def test_dedup_store_cross_batch_maintenance(spark, tmp_path):
    """The fingerprint-store maintenance is load-bearing, not
    decoration — a later micro-batch's copy of content first seen in an
    EARLIER micro-batch reads 'duplicate' purely via the fps that batch
    appended (the seed store never contained them); and a replayed batch
    overwrites its own partitions instead of double-writing (the
    dynamic-overwrite exactly-once contract)."""
    import pyspark.sql.functions as SF

    from spark_streaming_kafka_example_spark.functions.text import fingerprint
    from spark_streaming_kafka_example_spark.plans.stream import (
        FP_STORE,
        StateIO,
    )
    from spark_streaming_kafka_example_spark.streaming.sinks import (
        foreach_batch_sink,
    )

    io = StateIO(FP_STORE, str(tmp_path))
    store = io.dir("store")
    decisions = io.dir("decisions")
    src = str(tmp_path / "arrivals")
    schema = "doc_id long, text string"

    # seed: one already-ingested document
    spark.createDataFrame([(2, "alpha beta")], schema).select(
        fingerprint("text").alias("fp")
    ).withColumn("batch_id", SF.lit(-1)).write.partitionBy("batch_id").parquet(
        store
    )

    batches = [
        [(11, "gamma delta")],                        # novel content
        [(13, "gamma delta"), (15, "alpha beta")],    # cross-batch + seed dup
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
        for root, _dirs, files in os.walk(f"{src}/b{i}"):
            for fn in files:
                os.utime(
                    os.path.join(root, fn),
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )

    arriving = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    handler = FP_STORE.handler(io)
    q = foreach_batch_sink(
        arriving, handler, checkpoint=str(tmp_path / "ckpt"), mode="append"
    )
    q.awaitTermination()

    got = {
        (r.doc_id, r.status)
        for r in spark.read.parquet(decisions).collect()
    }
    # 13's fp is NOT in the seed — 'duplicate' proves batch 0's append
    assert got == {(11, "novel"), (13, "duplicate"), (15, "duplicate")}, got
    fps = [r.fp for r in spark.read.parquet(store).collect()]
    assert len(fps) == len(set(fps)) == 2  # seed fp + ONE gamma fp

    # replay: re-running a batch overwrites its own partitions (no dupes)
    replay = spark.createDataFrame(batches[0], schema)
    handler(replay, 0)
    got2 = {
        (r.doc_id, r.status)
        for r in spark.read.parquet(decisions).collect()
    }
    assert got2 == got
    fps2 = [r.fp for r in spark.read.parquet(store).collect()]
    assert sorted(fps2) == sorted(fps)


def test_minhash_catalog_cross_batch_growth(spark, tmp_path):
    """The band catalog's growth is load-bearing — a near-dup of
    content that arrived in an EARLIER micro-batch is detected purely
    via the band rows that batch appended (the seed catalog never banded
    with it); and a replayed batch, bounded to catalog partitions below
    its own batch_id, reproduces its decisions exactly."""
    import pyspark.sql.functions as SF

    from spark_streaming_kafka_example_spark.operators import dedup as DD
    from spark_streaming_kafka_example_spark.plans.stream import (
        MH_CATALOG,
        StateIO,
    )
    from spark_streaming_kafka_example_spark.streaming.sinks import (
        foreach_batch_sink,
    )

    io = StateIO(MH_CATALOG, str(tmp_path))
    catalog = io.dir("catalog")
    decisions = io.dir("decisions")
    src = str(tmp_path / "arrivals")
    schema = "doc_id long, text string"

    base = ("the quick brown fox jumps over the lazy dog while the "
            "small red hen counts seven bright stars tonight")
    other = ("pack my box with five dozen liquor jugs and then carry "
             "them down the long winding cellar stairs quietly")
    trunc = " ".join(other.split()[:15])  # near-dup of `other`, not `base`

    # seed: one already-ingested doc
    seed = spark.createDataFrame([(2, base)], schema)
    DD.lsh_band_values(
        DD.minhash_signatures(DD.doc_shingles(seed, distinct=False))
    ).withColumn("batch_id", SF.lit(-1)).write.partitionBy(
        "batch_id"
    ).parquet(catalog)

    batches = [
        [(11, other)],                 # novel vs seed
        [(13, trunc), (15, base)],     # near-dup of batch 0; copy of seed
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
        for root, _dirs, files in os.walk(f"{src}/b{i}"):
            for fn in files:
                os.utime(
                    os.path.join(root, fn),
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )

    handler = MH_CATALOG.handler(io)
    q = foreach_batch_sink(
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        ),
        handler,
        checkpoint=str(tmp_path / "ckpt"),
        mode="append",
    )
    q.awaitTermination()

    got = {
        r.doc_id: r.n_prior_candidates
        for r in spark.read.parquet(decisions).collect()
    }
    assert got[11] == 0          # nothing prior bands with it
    assert got[13] >= 1          # ONLY batch 0's appended rows explain this
    assert got[15] >= 1          # the seed catalog explains this

    # replay batch 0: reads partitions < 0 (seed only), decisions identical
    handler(spark.createDataFrame(batches[0], schema), 0)
    got2 = {
        r.doc_id: r.n_prior_candidates
        for r in spark.read.parquet(decisions).collect()
    }
    assert got2 == got


def test_batch_band_rows_within_row_equals_groupby_form(spark, sf_dir):
    """_batch_band_rows takes the within-row signature form (array_min
    over the shingle-hash array, as stream_minhash_probe does), which has
    no per-micro-batch explode+groupBy shuffle. Pin the relation
    byte-equal to the groupBy form — including
    the zero-shingle edge, where the groupBy form (and the oracle's
    GROUP BY CTE) emits NO rows for a <n-word doc."""
    from spark_streaming_kafka_example_spark.operators import dedup as DD
    from spark_streaming_kafka_example_spark.plans.stream import (
        _MH_BANDS,
        _MH_NUM_HASHES,
        _batch_band_rows,
    )
    from spark_streaming_kafka_example_spark.sources import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                [(990001, "two words"), (990002, "one")],
                "doc_id long, text string",
            )
        )
    )
    got = sorted(
        (r.doc_id, r.band_id, r.band_val)
        for r in _batch_band_rows(docs).collect()
    )
    want = sorted(
        (r.doc_id, r.band_id, r.band_val)
        for r in DD.lsh_band_values(
            DD.minhash_signatures(
                DD.doc_shingles(docs, distinct=False),
                num_hashes=_MH_NUM_HASHES,
            ),
            num_hashes=_MH_NUM_HASHES,
            bands=_MH_BANDS,
        ).collect()
    )
    assert got == want
    assert not any(d in (990001, 990002) for d, _, _ in got)  # no shingles


def test_pretrain_gate_v2_cross_batch_state(spark, tmp_path):
    """The v2 gate's decisions depend on state
    MAINTAINED at ingest, not the frozen seed — an exact copy and a
    near-dup of content that arrived in an EARLIER micro-batch are gated
    via the fps / band rows that batch appended (the seed store and
    catalog never saw them); and a replayed batch, bounded to partitions
    below its own batch_id, reproduces its decisions and appends."""
    import pyspark.sql.functions as SF

    from spark_streaming_kafka_example_spark.functions.text import (
        fingerprint,
    )
    from spark_streaming_kafka_example_spark.operators import dedup as DD
    from spark_streaming_kafka_example_spark.plans.stream import (
        GATE_V2,
        StateIO,
    )
    from spark_streaming_kafka_example_spark.streaming.sinks import (
        foreach_batch_sink,
    )

    io = StateIO(GATE_V2, str(tmp_path))
    store = io.dir("store")
    catalog = io.dir("catalog")
    decisions = io.dir("decisions")
    src = str(tmp_path / "arrivals")
    schema = "doc_id long, text string"

    base = ("the quick brown fox jumps over the lazy dog while the "
            "small red hen counts seven bright stars tonight")
    other = ("pack my box with five dozen liquor jugs and then carry "
             "them down the long winding cellar stairs quietly")
    trunc = " ".join(other.split()[:15])  # near-dup of `other`, not `base`

    seed = spark.createDataFrame([(2, base)], schema)
    seed.select(fingerprint("text").alias("fp")).withColumn(
        "batch_id", SF.lit(-1)
    ).write.partitionBy("batch_id").parquet(store)
    DD.lsh_band_values(
        DD.minhash_signatures(DD.doc_shingles(seed, distinct=False))
    ).withColumn("batch_id", SF.lit(-1)).write.partitionBy(
        "batch_id"
    ).parquet(catalog)

    batches = [
        [(11, other)],  # novel content
        # exact copy of batch 0's arrival; near-dup of it; copy of seed
        [(13, other), (15, trunc), (17, base)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
        for root, _dirs, files in os.walk(f"{src}/b{i}"):
            for fn in files:
                os.utime(
                    os.path.join(root, fn),
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )

    # the seed state never saw `other`: both cross-batch catches below
    # are explained ONLY by batch 0's appends
    seed_fps = {r.fp for r in spark.read.parquet(store).collect()}
    other_fp = spark.createDataFrame([(11, other)], schema).select(
        fingerprint("text").alias("fp")
    ).first()[0]
    assert other_fp not in seed_fps

    handler = GATE_V2.handler(io)
    q = foreach_batch_sink(
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        ),
        handler,
        checkpoint=str(tmp_path / "ckpt"),
        mode="append",
    )
    q.awaitTermination()

    got = {
        r.doc_id: (r.decision, r.reason)
        for r in spark.read.parquet(decisions).collect()
    }
    assert got[13] == ("drop", "exact_dup")  # via batch 0's fp append
    assert got[15] == ("drop", "near_dup")  # via batch 0's band append
    assert got[17] == ("drop", "exact_dup")  # via the seed store
    assert got[11][1] in ("ok", "low_quality")  # no prior content matches

    # maintenance appended exactly the novel fps: 11's, and 15's (a
    # near-dup's CONTENT is still new — a later exact copy of the
    # truncated text must read exact_dup); 13 and 17 were duplicates
    trunc_fp = spark.createDataFrame([(15, trunc)], schema).select(
        fingerprint("text").alias("fp")
    ).first()[0]
    fps = [r.fp for r in spark.read.parquet(store).collect()]
    assert sorted(fps) == sorted(seed_fps | {other_fp, trunc_fp})

    # replay batch 0: reads partitions < 0 (seed only), decisions and
    # appends identical (dynamic overwrite of its own partitions)
    handler(spark.createDataFrame(batches[0], schema), 0)
    got2 = {
        r.doc_id: (r.decision, r.reason)
        for r in spark.read.parquet(decisions).collect()
    }
    assert got2 == got
    assert sorted(
        r.fp for r in spark.read.parquet(store).collect()
    ) == sorted(fps)


def test_image_catalog_cross_batch_growth(spark, tmp_path):
    """The image chunk catalog's growth is load-bearing — a
    re-upload of a cover image that arrived in an EARLIER micro-batch is
    counted purely via the chunk rows that batch appended (the seed
    catalog never hashed it); and a replayed batch, bounded to catalog
    partitions below its own batch_id, reproduces its counts exactly."""
    from spark_streaming_kafka_example_spark.plans.stream import (
        IMAGE_CATALOG,
        StateIO,
        _image_chunk_rows,
    )
    from spark_streaming_kafka_example_spark.streaming.sinks import (
        foreach_batch_sink,
    )

    io = StateIO(IMAGE_CATALOG, str(tmp_path))
    decisions = io.dir("decisions")
    src = str(tmp_path / "arrivals")
    schema = "doc_id long, text string"

    base = "the quick brown fox jumps over the lazy dog tonight"
    other = "pack my box with five dozen liquor jugs and carry them"

    io.write(
        -1,
        catalog=_image_chunk_rows(spark.createDataFrame([(2, base)], schema)),
    )
    batches = [
        [(11, other)],  # novel image
        [(13, other), (15, base)],  # re-upload of batch 0's; copy of seed
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
        for root, _dirs, files in os.walk(f"{src}/b{i}"):
            for fn in files:
                os.utime(
                    os.path.join(root, fn),
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )

    handler = IMAGE_CATALOG.handler(io)
    q = foreach_batch_sink(
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        ),
        handler,
        checkpoint=str(tmp_path / "ckpt"),
        mode="append",
    )
    q.awaitTermination()

    got = {
        r.doc_id: r.n_prior_candidates
        for r in spark.read.parquet(decisions).collect()
    }
    assert got[11] == 0  # nothing prior matches it
    assert got[13] >= 1  # ONLY batch 0's appended chunk rows explain this
    assert got[15] >= 1  # the seed catalog explains this

    # replay batch 0: reads partitions < 0 (seed only), counts identical
    handler(spark.createDataFrame(batches[0], schema), 0)
    got2 = {
        r.doc_id: r.n_prior_candidates
        for r in spark.read.parquet(decisions).collect()
    }
    assert got2 == got


def test_dedup_store_retention_expires_and_readmits(spark, tmp_path):
    """The TTL'd store forgets — content absent for
    _TTL_W(=2) batches reads 'novel' again (the seed ages out like
    any append), a re-admitted fp restarts its lifetime (a copy in the
    NEXT batch reads 'duplicate' via the re-append), and an expired
    batch-0 append is re-admitted too."""
    import pyspark.sql.functions as SF

    from spark_streaming_kafka_example_spark.functions.text import (
        fingerprint,
    )
    from spark_streaming_kafka_example_spark.plans.stream import (
        _TTL_W,
        FP_STORE,
        StateIO,
    )
    from spark_streaming_kafka_example_spark.streaming.sinks import (
        foreach_batch_sink,
    )

    io = StateIO(FP_STORE, str(tmp_path), retention_batches=_TTL_W)
    store = io.dir("store")
    decisions = io.dir("decisions")
    src = str(tmp_path / "arrivals")
    schema = "doc_id long, text string"

    spark.createDataFrame([(2, "alpha beta")], schema).select(
        fingerprint("text").alias("fp")
    ).withColumn("batch_id", SF.lit(-1)).write.partitionBy("batch_id").parquet(
        store
    )

    batches = [
        [(11, "gamma one")],  # b0: novel
        [(13, "alpha beta")],  # b1: seed still visible -> duplicate
        [(15, "alpha beta")],  # b2: seed AND b1 decision-window edge:
        # visible = {b0, b1} appends; 13 was a duplicate (never appended),
        # the seed aged out -> novel again (re-admitted, appended at b2)
        [(17, "alpha beta"), (19, "gamma one")],
        # b3: visible = {b1, b2} appends -> 17 duplicate via b2's
        # re-append; 19's b0 append aged out -> novel again
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
        for root, _dirs, files in os.walk(f"{src}/b{i}"):
            for fn in files:
                os.utime(
                    os.path.join(root, fn),
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )

    q = foreach_batch_sink(
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        ),
        FP_STORE.handler(io),
        checkpoint=str(tmp_path / "ckpt"),
        mode="append",
    )
    q.awaitTermination()

    got = {
        r.doc_id: r.status for r in spark.read.parquet(decisions).collect()
    }
    assert got == {
        11: "novel",
        13: "duplicate",  # within the seed's lifetime
        15: "novel",  # the seed aged out -> re-admitted
        17: "duplicate",  # 15's re-append restarted the lifetime
        19: "novel",  # 11's append aged out too
    }, got


def _vec(seed):
    """A hand-built 64-d vector; seeds 1, 3 and 5 are pairwise at cosine
    below 0.1, far from the 0.99 near-dup bound."""
    return [float(((seed * 31 + i * 7) % 13) - 6) for i in range(64)]


def _hand_fed(spark, attr, schema, seeded, arrivals):
    """The ``plans.stream`` spec named ``attr`` over a hand-built table:
    (2, seeded) is its one seeded (even) row, and each (doc_id, payload)
    of ``arrivals`` is one arrival file, in order."""
    from dataclasses import replace

    from spark_streaming_kafka_example_spark.plans import stream as S

    seed = spark.createDataFrame([(2, seeded)], schema)
    parts = [spark.createDataFrame([row], schema) for row in arrivals]
    return replace(
        getattr(S, attr), table=lambda _s, _sf: seed, parts=lambda _t: parts
    )


_TEXT_SCHEMA = "doc_id long, text string"
_MH_OTHER = ("pack my box with five dozen liquor jugs and then carry "
             "them down the long winding cellar stairs quietly")
_IMG_BASE = "the quick brown fox jumps over the lazy dog tonight"
_IMG_OTHER = "pack my box with five dozen liquor jugs and carry them"

# Per catalog kind: its spec, arrival schema, the seeded payload, and a
# payload with its near-dup (the band catalog's is a 15-word truncation;
# the image and vector near-dups are exact copies).
_CATALOG_TTL_CASES = {
    "minhash_catalog": (
        "MH_CATALOG", _TEXT_SCHEMA,
        "the quick brown fox jumps over the lazy dog while the "
        "small red hen counts seven bright stars tonight",
        _MH_OTHER, " ".join(_MH_OTHER.split()[:15]),
    ),
    "image_catalog": (
        "IMAGE_CATALOG", _TEXT_SCHEMA, _IMG_BASE, _IMG_OTHER, _IMG_OTHER,
    ),
    "embedding_catalog": (
        "EMB_CATALOG", "doc_id long, embedding array<float>",
        _vec(1), _vec(5), _vec(5),
    ),
}


@pytest.mark.parametrize("kind", list(_CATALOG_TTL_CASES))
def test_catalog_retention_expires(spark, kind):
    """A TTL'd catalog forgets: rows older than _TTL_W(=2) batches stop
    being probed (the seed ages out at batch W, a batch-0 source at batch
    3), proven by running the SAME seed and arrivals through the windowed
    and the unbounded lifecycle and contrasting the counts."""
    from spark_streaming_kafka_example_spark.plans import stream as S

    attr, schema, seeded, first, near = _CATALOG_TTL_CASES[kind]
    spec = _hand_fed(spark, attr, schema, seeded, [
        (11, first),  # b0: novel
        (13, near),  # b1: near-dup of b0 (in window)
        (15, seeded),  # b2: copy of the seed — but the seed aged out
        (17, near),  # b3: 11's rows aged out; 13's still in window
    ])
    got = {}
    for mode, retention in [("ttl", S._TTL_W), ("unbounded", None)]:
        decisions, _io = S.run_lifecycle(
            spark, "", spec, retention_batches=retention
        )
        got[mode] = dict(decisions.collect())

    assert got["unbounded"] == {11: 0, 13: 1, 15: 1, 17: 2}
    assert got["ttl"] == {
        11: 0,
        13: 1,  # 11 still in window
        15: 0,  # the seed aged out at batch _TTL_W
        17: 1,  # 11's batch-0 rows aged out; 13's batch-1 rows retained
    }, got["ttl"]


def test_compact_state_single_partition(spark, tmp_path):
    """_compact_state collapses every
    batch_id partition of an ingest-maintained state into exactly one
    fresh batch_id=-1 seed partition with identical content."""
    import pyspark.sql.functions as SF

    from spark_streaming_kafka_example_spark.plans.stream import (
        Relation,
        _compact_state,
    )

    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    for b, fps in [(-1, ["a", "b"]), (0, ["c"]), (1, ["d", "e"])]:
        spark.createDataFrame([(f,) for f in fps], "fp string").withColumn(
            "batch_id", SF.lit(b)
        ).write.mode("append").partitionBy("batch_id").parquet(state)

    _compact_state(spark, state, out, Relation("store", "fp string"))
    got = spark.read.parquet(out)
    assert sorted(r.fp for r in got.collect()) == ["a", "b", "c", "d", "e"]
    assert [r.batch_id for r in got.select("batch_id").distinct().collect()] == [-1]
    assert os.path.isdir(os.path.join(out, "batch_id=-1"))


# Per kind: its spec, arrival schema, the seeded payload, two unrelated
# payloads, and the decisions of the four arrivals.
_COMPACT_CASES = {
    "fp_store": (
        "FP_STORE", _TEXT_SCHEMA, "alpha beta", "gamma delta xx",
        "epsilon zeta yy",
        {11: "novel", 13: "novel", 15: "duplicate", 17: "duplicate"},
    ),
    "image_catalog": (
        "IMAGE_CATALOG", _TEXT_SCHEMA, _IMG_BASE, _IMG_OTHER,
        "sphinx of black quartz judge my vow and then some more",
        {11: 0, 13: 0, 15: 1, 17: 1},
    ),
    "embedding_catalog": (
        "EMB_CATALOG", "doc_id long, embedding array<float>",
        _vec(1), _vec(5), _vec(3),
        {11: 0, 13: 0, 15: 1, 17: 1},
    ),
}


@pytest.mark.parametrize("kind", list(_COMPACT_CASES))
def test_compacted_ingest_cross_phase(spark, kind):
    """The mid-lifecycle compaction is load-bearing: a phase-B arrival
    duplicating PHASE-A content is decided via the COMPACTED state (the
    only place phase A's append survives), and a phase-B copy of the
    seed proves the seed rode through the collapse too."""
    from spark_streaming_kafka_example_spark.plans import stream as S

    attr, schema, seeded, first, second, want = _COMPACT_CASES[kind]
    spec = _hand_fed(spark, attr, schema, seeded, [
        (11, first),  # phase A: novel
        (13, second),  # phase A: novel
        (15, first),  # phase B: prior ONLY via compacted phase A
        (17, seeded),  # phase B: prior = the seed through the collapse
    ])
    decisions, _io = S.run_lifecycle(spark, "", spec, compact=True)
    got = dict(decisions.collect())
    assert got == want, got


def test_stream_split_by_neardup_recrawl(spark, sf_dir):
    """A truncated re-crawl ARRIVING AT INGEST
    lands in its source's split — the rep-fp map join moves whole
    clusters as one unit where the stateless own-fp gate
    (stream_split_by_cluster's) measurably disagrees — and docs the
    clustering never saw fall back to the own-fp gate exactly."""
    import pyspark.sql.functions as SF

    from spark_streaming_kafka_example_spark import plans
    from spark_streaming_kafka_example_spark.operators.components import (
        connected_components,
    )
    from spark_streaming_kafka_example_spark.plans.llm import (
        _near_corpus,
        jaccard_pair_graph,
    )
    from spark_streaming_kafka_example_spark.plans.textprep import (
        cluster_split_column,
    )

    got = {
        r.doc_id: r.split
        for r in plans.QUERIES["stream_split_by_neardup"](
            spark, sf_dir
        ).collect()
    }
    cluster = {
        r.node: r.cluster_id
        for r in connected_components(
            jaccard_pair_graph(spark, sf_dir)
        ).collect()
    }
    own = {
        r.doc_id: r.split
        for r in _near_corpus(spark, sf_dir)
        .select("doc_id", cluster_split_column().alias("split"))
        .collect()
    }

    # every planted re-crawl the clustering linked to its source shares
    # the source's split at ingest
    linked = [
        (s, s + 100000)
        for s in own
        if s < 100000 and s % 5 == 0
        and cluster.get(s) is not None
        and cluster.get(s) == cluster.get(s + 100000)
    ]
    assert linked, "fixture regression: no clustered re-crawl pairs"
    assert all(got[src] == got[plant] for src, plant in linked)

    # non-vacuous: the stateless own-fp gate disagrees for >= 1 pair
    assert any(own[src] != own[plant] for src, plant in linked)

    # unseen docs degrade to the stateless gate exactly
    singletons = [d for d in got if cluster.get(d) is None]
    assert singletons
    assert all(got[d] == own[d] for d in singletons)


def test_dedup_store_bloom_prunes_and_agrees(spark, sf_dir):
    """The Bloom prefilter (1) never changes a decision — the
    prefiltered query's (doc_id, status) set equals the plain store
    ingest's exactly (no false negatives; both also share one driver
    oracle) — and (2) actually prunes: against the sf seed store's bits,
    the possible-set of the arrival fingerprints is a strict subset of
    them (definite misses skip the store join entirely)."""
    import pyspark.sql.functions as SF

    from spark_streaming_kafka_example_spark import plans
    from spark_streaming_kafka_example_spark.functions.text import fingerprint
    from spark_streaming_kafka_example_spark.plans.stream import (
        _STORE_BLOOM_K,
        _STORE_BLOOM_M_CAP,
        _store_bloom_bits,
        _store_bloom_pos,
    )
    from spark_streaming_kafka_example_spark.sources import load_table

    plain = {
        tuple(r)
        for r in plans.QUERIES["stream_dedup_store_ingest"](
            spark, sf_dir
        ).collect()
    }
    bloomed = {
        tuple(r)
        for r in plans.QUERIES["stream_dedup_store_bloom_ingest"](
            spark, sf_dir
        ).collect()
    }
    assert bloomed == plain

    # prune effectiveness, measured directly: seed bits vs arrival fps
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seed = (
        docs.filter(SF.col("doc_id") % 2 == 0)
        .select(fingerprint("text").alias("fp"))
        .distinct()
    )
    n_seed = seed.count()
    m = min(_STORE_BLOOM_M_CAP, 1 << max(8 * n_seed - 1, 1).bit_length())
    bits = _store_bloom_bits(seed, m)
    arrivals = (
        docs.filter(SF.col("doc_id") % 2 == 1)
        .select(fingerprint("text").alias("fp"))
        .distinct()
    )
    cand = arrivals.select(
        "fp",
        *[_store_bloom_pos(SF.col("fp"), m, j) for j in range(_STORE_BLOOM_K)],
    )
    possible = cand
    for j in range(_STORE_BLOOM_K):
        possible = possible.join(
            bits.withColumnRenamed("pos", f"pos{j}"), f"pos{j}", "left_semi"
        )
    n_arr, n_poss = arrivals.count(), possible.count()
    # true hits (odd fps colliding with the even store) must all pass...
    true_hits = arrivals.join(seed, "fp", "left_semi").count()
    assert n_poss >= true_hits  # no false negatives
    # ...and the filter must discard a real share of the definite misses
    assert n_poss < n_arr, "Bloom pruned nothing"


def test_pretrain_gate_v3_cross_batch_image(spark, tmp_path):
    """The v3 gate's image arm reads the
    MAINTAINED chunk catalog — a cover-stable tail-scramble of content
    that arrived in an EARLIER micro-batch (same first _GATE_COVER_LEN
    chars, reversed tail: identical cover image, unrelated shingles) is
    caught via the chunk rows that batch appended, with reason
    near_dup_image — below both exact arms, above low_quality; and a
    replayed batch reproduces its decisions and appends."""
    import pyspark.sql.functions as SF

    from spark_streaming_kafka_example_spark.functions.text import (
        fingerprint,
    )
    from spark_streaming_kafka_example_spark.operators import dedup as DD
    from spark_streaming_kafka_example_spark.plans.stream import (
        _GATE_COVER_LEN,
        GATE_V3,
        StateIO,
        _gate_cover,
        _image_chunk_rows,
    )
    from spark_streaming_kafka_example_spark.streaming.sinks import (
        foreach_batch_sink,
    )

    io = StateIO(GATE_V3, str(tmp_path))
    store = io.dir("store")
    catalog = io.dir("catalog")
    imgcatalog = io.dir("imgcatalog")
    decisions = io.dir("decisions")
    src = str(tmp_path / "arrivals")
    schema = "doc_id long, text string"

    base = ("the quick brown fox jumps over the lazy dog while the "
            "small red hen counts seven bright stars tonight")
    other = ("pack my box with five dozen liquor jugs and then carry "
             "them down the long winding cellar stairs quietly")

    def scramble(t):  # cover-stable: v3's plant transformation
        return t[:_GATE_COVER_LEN] + t[_GATE_COVER_LEN:][::-1]

    seed = spark.createDataFrame([(2, base)], schema)
    seed.select(fingerprint("text").alias("fp")).withColumn(
        "batch_id", SF.lit(-1)
    ).write.partitionBy("batch_id").parquet(store)
    DD.lsh_band_values(
        DD.minhash_signatures(DD.doc_shingles(seed, distinct=False))
    ).withColumn("batch_id", SF.lit(-1)).write.partitionBy(
        "batch_id"
    ).parquet(catalog)
    io.write(-1, imgcatalog=_image_chunk_rows(_gate_cover(seed)))

    batches = [
        [(11, other)],  # novel content, novel cover
        # cover-scramble of batch 0's arrival; cover-scramble of the seed
        [(13, scramble(other)), (15, scramble(base))],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
        for root, _dirs, files in os.walk(f"{src}/b{i}"):
            for fn in files:
                os.utime(
                    os.path.join(root, fn),
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )

    handler = GATE_V3.handler(io)
    q = foreach_batch_sink(
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        ),
        handler,
        checkpoint=str(tmp_path / "ckpt"),
        mode="append",
    )
    q.awaitTermination()

    got = {
        r.doc_id: (r.decision, r.reason)
        for r in spark.read.parquet(decisions).collect()
    }
    # 13's cover matches ONLY batch 0's appended chunk rows (the seed
    # never saw `other`); 15's matches the seed catalog. Both scrambles
    # have novel fps and unrelated shingles, so the image arm is the
    # catching arm.
    assert got[13] == ("drop", "near_dup_image")
    assert got[15] == ("drop", "near_dup_image")
    assert got[11][1] in ("ok", "low_quality")

    # replay batch 0: reads partitions < 0 (seed only), decisions and
    # image-catalog appends identical (dynamic overwrite)
    n_chunks = spark.read.parquet(imgcatalog).count()
    handler(spark.createDataFrame(batches[0], schema), 0)
    got2 = {
        r.doc_id: (r.decision, r.reason)
        for r in spark.read.parquet(decisions).collect()
    }
    assert got2 == got
    assert spark.read.parquet(imgcatalog).count() == n_chunks


def test_stream_split_by_neardup_incremental_cross_batch(spark, tmp_path):
    """The INGEST-MAINTAINED cluster map closes
    the batch-refresh twin's gap — a near-dup pair whose members BOTH
    arrive after stream start, in DIFFERENT micro-batches, still lands
    in one split (the later member adopts the earlier's rep through the
    appended band catalog, where the stateless own-fp gate measurably
    disagrees), and a same-batch parent CHAIN C->B->A (C band-shares B
    but not A) resolves to A's rep through the pointer-chasing loop.
    Replaying the last batch leaves the decisions byte-identical."""
    from collections import defaultdict

    from spark_streaming_kafka_example_spark.plans.stream import (
        CLUSTER_MAP,
        StateIO,
        _batch_band_rows,
    )
    from spark_streaming_kafka_example_spark.plans.textprep import (
        cluster_split_column,
    )
    from spark_streaming_kafka_example_spark.streaming.sinks import (
        foreach_batch_sink,
    )

    # Chain family: B = A minus its last 4 words, C = A minus its last 8.
    a_txt = (
        "charlie foxtrot india lima oscar romeo uniform xray "
        "alpha delta golf juliet mike papa seed4"
    )
    b_txt = " ".join(a_txt.split()[:-4])
    c_txt = " ".join(a_txt.split()[:-8])
    # Cross-batch pair: Y = X minus its last 4 words; X and Y's OWN
    # fingerprints gate to different splits (hunted fixture).
    x_txt = (
        "juliet mike papa sierra victor yankee bravo echo hotel "
        "kilo november quebec tango whiskey tag5 end5"
    )
    y_txt = " ".join(x_txt.split()[:-4])

    schema = "doc_id long, text string"
    ids = {"A": 10, "B": 11, "C": 12, "X": 13, "Y": 20}
    texts = {"A": a_txt, "B": b_txt, "C": c_txt, "X": x_txt, "Y": y_txt}
    docs = spark.createDataFrame(
        [(i, texts[k]) for k, i in ids.items()], schema
    )

    # Fixture preconditions (else the band machinery changed under us).
    bands = defaultdict(set)
    for r in _batch_band_rows(docs).collect():
        bands[r.doc_id].add((r.band_id, r.band_val))
    share = lambda p, q: bool(bands[ids[p]] & bands[ids[q]])  # noqa: E731
    assert share("A", "B") and share("B", "C") and not share("A", "C"), (
        "fixture regression: chain A<-B<-C structure lost"
    )
    assert share("X", "Y"), "fixture regression: X/Y no longer band-share"
    assert not any(
        share(p, q) for p in ("X", "Y") for q in ("A", "B", "C")
    ), "fixture regression: pair family collides with chain family"
    own = {
        r.doc_id: r.split
        for r in docs.select(
            "doc_id", cluster_split_column().alias("split")
        ).collect()
    }
    assert own[ids["X"]] != own[ids["Y"]], (
        "fixture regression: the stateless gate no longer disagrees"
    )

    # Batch 0 = the chain family + X; batch 1 = Y alone (id order held).
    src = str(tmp_path / "arrivals")
    batches = [
        [(ids[k], texts[k]) for k in ("A", "B", "C", "X")],
        [(ids["Y"], texts["Y"])],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
        for root, _dirs, files in os.walk(f"{src}/b{i}"):
            for fn in files:
                os.utime(
                    os.path.join(root, fn),
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )

    io = StateIO(CLUSTER_MAP, str(tmp_path))
    map_dir = io.dir("clustermap")
    decisions = io.dir("decisions")
    handler = CLUSTER_MAP.handler(io)
    q = foreach_batch_sink(
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        ),
        handler,
        checkpoint=str(tmp_path / "ckpt"),
        mode="append",
    )
    q.awaitTermination()

    got = {
        r.doc_id: r.split for r in spark.read.parquet(decisions).collect()
    }
    reps = {
        r.doc_id: r.rep_id for r in spark.read.parquet(map_dir).collect()
    }

    # Same-batch chain: B and C both resolve to A's cluster (C through
    # the pointer-chasing loop — it never band-shares A directly).
    assert reps[ids["B"]] == ids["A"] and reps[ids["C"]] == ids["A"]
    assert got[ids["B"]] == got[ids["C"]] == own[ids["A"]]
    # Founding docs rep themselves and gate on their own fp.
    assert reps[ids["A"]] == ids["A"] and got[ids["A"]] == own[ids["A"]]
    assert reps[ids["X"]] == ids["X"] and got[ids["X"]] == own[ids["X"]]
    # THE pin: a cluster formed entirely after stream start, its members
    # in different micro-batches, moves as one unit — where the
    # stateless own-fp gate provably disagrees.
    assert reps[ids["Y"]] == ids["X"]
    assert got[ids["Y"]] == own[ids["X"]] != own[ids["Y"]]

    # Replay of the last batch is idempotent (dynamic-overwrite
    # partitions + batch_id < current reads).
    handler(spark.createDataFrame(batches[1], schema), 1)
    got2 = {
        r.doc_id: r.split for r in spark.read.parquet(decisions).collect()
    }
    assert got2 == got


def test_neardup_inc_compacted_adopts_through_collapse(spark, tmp_path):
    """The incremental cluster map's mid-lifecycle compaction is
    load-bearing — a phase-B arrival near-dupping a PHASE-A doc adopts
    its rep through the COMPACTED catalog + map (the only place phase
    A's state survives), where the stateless own-fp gate disagrees."""
    from spark_streaming_kafka_example_spark.plans.stream import (
        CLUSTER_MAP,
        StateIO,
        _compact_state,
    )
    from spark_streaming_kafka_example_spark.plans.textprep import (
        cluster_split_column,
    )

    # The hunted X/Y pair from the cross-batch test: Y = X minus its
    # last 4 words; they band-share and their own fps gate differently.
    x_txt = (
        "juliet mike papa sierra victor yankee bravo echo hotel "
        "kilo november quebec tango whiskey tag5 end5"
    )
    y_txt = " ".join(x_txt.split()[:-4])
    schema = "doc_id long, text string"
    docs = spark.createDataFrame([(13, x_txt), (20, y_txt)], schema)
    own = {
        r.doc_id: r.split
        for r in docs.select(
            "doc_id", cluster_split_column().alias("split")
        ).collect()
    }
    assert own[13] != own[20], "fixture regression: gates agree"

    io_a = StateIO(CLUSTER_MAP, str(tmp_path / "a"))
    io_b = StateIO(CLUSTER_MAP, str(tmp_path / "b"))
    CLUSTER_MAP.handler(io_a)(spark.createDataFrame([(13, x_txt)], schema), 0)

    for rel in CLUSTER_MAP.relations:  # the catalog AND the rep map
        _compact_state(spark, io_a.dir(rel.name), io_b.dir(rel.name), rel)

    CLUSTER_MAP.handler(io_b)(spark.createDataFrame([(20, y_txt)], schema), 0)

    reps = {
        r.doc_id: r.rep_id
        for r in spark.read.parquet(io_b.dir("clustermap")).collect()
    }
    got = {
        r.doc_id: r.split
        for r in spark.read.parquet(io_b.dir("decisions")).collect()
    }
    assert reps[20] == 13, reps
    assert got[20] == own[13] != own[20]


def test_embedding_catalog_cross_batch_growth(spark, tmp_path):
    """The embedding near-dup catalog's growth is load-bearing — an
    exact copy of a vector that arrived in an EARLIER micro-batch is
    counted purely via the code rows + vector that batch appended (the
    seed never saw it); and a replayed batch, bounded to partitions
    below its own batch_id, reproduces its counts exactly."""
    from spark_streaming_kafka_example_spark.plans.stream import (
        _EMB_ARRIVAL_SCHEMA,
        EMB_CATALOG,
        StateIO,
        _emb_code_rows,
    )
    from spark_streaming_kafka_example_spark.streaming.sinks import (
        foreach_batch_sink,
    )

    io = StateIO(EMB_CATALOG, str(tmp_path))
    decisions = io.dir("decisions")
    src = str(tmp_path / "arrivals")

    def vec(seed):  # deterministic unit-norm-ish 64-dim vectors
        return [float(((seed * 31 + i * 7) % 13) - 6) for i in range(64)]

    rows = lambda pairs: spark.createDataFrame(  # noqa: E731
        pairs, _EMB_ARRIVAL_SCHEMA
    )
    seed_df = rows([(2, vec(1))]).localCheckpoint()
    io.write(-1, codes=_emb_code_rows(seed_df), vectors=seed_df)

    batches = [
        [(11, vec(5))],  # novel vector
        [(13, vec(5)), (15, vec(1))],  # copy of batch 0's; copy of seed
    ]
    for i, pairs in enumerate(batches):
        rows(pairs).coalesce(1).write.parquet(f"{src}/b{i}")
        for root, _dirs, files in os.walk(f"{src}/b{i}"):
            for fn in files:
                os.utime(
                    os.path.join(root, fn),
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )

    handler = EMB_CATALOG.handler(io)
    q = foreach_batch_sink(
        (
            spark.readStream.schema(_EMB_ARRIVAL_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        ),
        handler,
        checkpoint=str(tmp_path / "ckpt"),
        mode="append",
    )
    q.awaitTermination()

    got = {
        r.doc_id: r.n_prior_neardups
        for r in spark.read.parquet(decisions).collect()
    }
    assert got == {
        11: 0,  # nothing prior is cosine-close to it
        13: 1,  # ONLY batch 0's appended code rows + vector explain this
        15: 1,  # the seeded relations explain this
    }, got

    # replay batch 0: reads partitions < 0 (seed only), counts identical
    handler(rows(batches[0]), 0)
    got2 = {
        r.doc_id: r.n_prior_neardups
        for r in spark.read.parquet(decisions).collect()
    }
    assert got2 == got


