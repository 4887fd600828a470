"""SparkSession factory.

The reference creates one ad-hoc ``SparkSession.builder.master("local[4]")``
per program (e.g. reference StreamingWithKafka.scala:11-15,
BasicStreaming.scala:10-12). Here ``session_conf`` owns the runtime-settable
configuration, so every pipeline, test and caller-owned session shares it.

Shuffle partitions (``cores`` = the session's task slots: ``_default_parallelism``
for ``get_session``, ``defaultParallelism`` for a session someone else owns):
- Streams: Spark runs every streaming query with AQE off, so
  ``spark.sql.shuffle.partitions`` = ``cores`` is a stateful stream's
  state-partition count: one state store per core, one commit wave per
  trigger. A checkpoint fixes that count at its first start; a restart
  keeps it whatever the session says.
- Batch: with AQE on, ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``
  = ``max(cores, 8)`` is the pre-coalesce bound in place of
  ``spark.sql.shuffle.partitions``; AQE coalesces small partitions and
  splits skewed ones. On a real cluster raise it to ~2-3x total cores.

Other confs:
- UTC session timezone pinned: parquet/DuckDB oracle comparison is
  timezone-naive, and the reference's timestamp parsing (SURVEY P8-P10)
  is locale-sensitive otherwise.
- ``timeParserPolicy=CORRECTED``: the reference ran Spark 2.2 SimpleDateFormat
  patterns ("yyyy/MM/dd HH:mm:ss"); we consciously opt into the
  DateTimeFormatter semantics (SURVEY "What's hard" #2).
- ``nanosAsLong``: the events testdata has shipped INT64 TIMESTAMP(NANOS)
  (which Spark's vectorized parquet reader otherwise rejects) in some data
  drops and naive TIMESTAMP(MICROS) in others; with this conf the nanos
  layout reads as raw longs, and sources.load_table normalizes BOTH layouts
  to TimestampType (truncating nanos like DuckDB does).
- Checkpoint files go through Spark's FileSystem-based checkpoint manager,
  not its FileContext default for ``file:`` paths. Without Hadoop's native
  library, FileContext's local rename starts a ``readlink`` process per
  link-status lookup (8 per checkpoint file with its ``.crc``), and every
  stream writes offset, commit and state-delta files each trigger. The
  FileSystem manager renames with ``rename(2)``, which is atomic on local
  disk. Both checksum layers stay: Spark's ``<file>.crc`` checkpoint
  checksum and Hadoop's ``.<file>.crc`` sidecar.
"""

from __future__ import annotations

import os

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

__all__ = ["get_session", "session_conf", "run_parallel"]


def run_parallel(*thunks):
    """Run independent Spark actions CONCURRENTLY from driver threads
    (actions are only sequential because the driver calls them
    sequentially; FIFO scheduling backfills each job's straggler tail with
    the next job's tasks). The session-level utility behind
    plans.stream._run_jobs and the independent-training overlap in
    plans.llm. Only for thunks with NO lineage ordering requirement.
    Each pool thread inherits the caller's local properties and job tags
    (job group, description, scheduler pool), so its jobs carry the
    caller's labels. Returns the thunk results in order; exceptions
    propagate."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    inherit = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        return [f.result() for f in [pool.submit(inherit(t)) for t in thunks]]


def materialize(df):
    """Execute ``df``'s pending computation NOW (one count() through its
    lazy localCheckpoint lineage cut) and return it. run_parallel thunks
    wrap independent trainings with this so the overlap is GENUINE:
    a thunk that only constructs a lazy frame returns instantly and
    overlaps nothing — the trainings would still serialize at the first
    consuming action. The count is a k-row action; the checkpoint it
    fills is what every later consumer reuses."""
    df.count()
    return df


def _default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on (its
    affinity mask and cpuset, which ``os.cpu_count`` ignores). A set value
    must be a positive integer: anything else would only fail later, as a
    Spark master or shuffle-partition error far from its cause."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        if not cpus.isdecimal() or int(cpus) < 1:
            raise ValueError(
                f"SPARK_GRAFT_CPUS must be a positive integer, got {cpus!r}"
            )
        return int(cpus)
    return len(os.sched_getaffinity(0))


def session_conf(cores: int) -> dict[str, str]:
    """The runtime-settable confs every plan relies on, for a session with
    ``cores`` task slots. ``get_session`` builds with them; a session
    someone else owns gets them via ``spark.conf.set``."""
    return {
        # Streams (AQE off): one state store per core. Batch (AQE on): the
        # initial bound replaces shuffle.partitions before coalescing.
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(max(cores, 8)),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Oracle-comparison determinism.
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.timeParserPolicy": "CORRECTED",
        # events.parquet carries INT64 TIMESTAMP(NANOS).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Arrow for pandas UDFs / toPandas (the only Python<->JVM data plane).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Checkpoint renames by rename(2), no shell processes (see above).
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
    }


def get_session(
    app_name: str = "spark_streaming_kafka_example_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the tuned SparkSession.

    Safe to call repeatedly: ``getOrCreate`` returns the live session, and
    runtime-settable confs are re-applied on it.
    """
    cores = _default_parallelism()
    conf = {
        **session_conf(cores),
        "spark.ui.enabled": "false",
        # NB: driver memory is a static JVM conf — it only takes effect when
        # THIS call launches the JVM. If getOrCreate() returns an
        # already-running session (driver-owned session in verify, second
        # get_session call), it is silently ignored; launch paths that need a
        # guaranteed heap must set it via spark-submit/SPARK_DRIVER_MEMORY
        # before the first session is created.
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cores}]")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
