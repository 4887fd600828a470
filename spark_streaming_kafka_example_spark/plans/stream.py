"""Streaming queries run to a deterministic batch-equivalent result
(SURVEY §5 streaming determinism): bounded file source +
trigger(availableNow=True) + memory sink; ``awaitTermination`` returns when
the backlog is drained, and the memory table is the exact table a batch run
would produce — so the same DuckDB SQL oracles the streaming machinery
(incremental window aggregation, stream-static join, state store).

Watermark late-drop behavior is NOT oracle-checkable this way (it needs
multiple micro-batches) — tests/test_streaming.py covers it by feeding
batches through a file directory incrementally.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from dataclasses import dataclass, replace
from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..analytics import enrich_join, group_count, window_panes, windowed_agg
from ..sources import load_table
from ..streaming.sinks import memory_sink, overwrite_partitions
from ..streaming.stateful import stateful_running_count, stateful_topk_fold
from ..transforms import split_explode_words
from . import (
    DAILY,
    HOURLY,
    MINUTE,
    SLIDING_5M,
    TRAILING_3H,
    WindowShape,
    pane_sql,
    register,
)

# Physical schema of events.parquet as the *streaming* reader sees it (file
# streams require an explicit schema). The testdata generator has shipped
# ``ts`` as both TIMESTAMP(NANOS) (surfaced as raw-nanos LongType under
# nanosAsLong) and TIMESTAMP(MICROS) (a plain TimestampType) across rounds,
# so the schema is chosen per-directory from the parquet footer.


def _events_schema(sf_dir: str) -> tuple[T.StructType, bool]:
    """(streaming schema for events.parquet, whether ts is raw nanos).

    Mirrors what the batch reader (sources.load_table) surfaces for the same
    footer:
    - TIMESTAMP(NANOS): raw-nanos LongType (nanosAsLong), converted below
      to TimestampType via timestamp_micros(ts div 1000).
    - TIMESTAMP(MICROS/MILLIS, naive or UTC-adjusted): TimestampType.
      NOT TimestampNTZType: event-time watermarks require TimestampType
      (Spark raises EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ), so both
      readers unify on it — load_table casts its inferred NTZ the same way.
      Under the pinned UTC session the naive->instant read is wall-clock
      identity, which is what keeps DuckDB value parity.
    """
    ts_is_nanos = True
    try:
        import pyarrow.parquet as pq

        t = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
        ts_is_nanos = getattr(t, "unit", "ns") == "ns"
    except (ImportError, OSError, KeyError, ValueError) as exc:
        # ValueError covers pyarrow's ArrowInvalid (its subclass) on a
        # corrupt/truncated footer: without it the documented
        # warn-and-assume fallback would never fire for exactly that case.
        # Unreadable footer: assume the original nanos layout, but say so —
        # a mis-sniffed round would otherwise fail opaquely downstream.
        import warnings

        warnings.warn(
            f"events.parquet footer unreadable ({exc!r}); assuming "
            "TIMESTAMP(NANOS) layout for the streaming schema",
            stacklevel=2,
        )
    ts_type: T.DataType = T.LongType() if ts_is_nanos else T.TimestampType()
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    return schema, ts_is_nanos

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded view of events.parquet with ts as TimestampType
    (mirrors sources.load_table, including the ns->micros conversion when
    the file carries raw nanos)."""
    schema, ts_is_nanos = _events_schema(sf_dir)
    # Stream the directory with a glob filter (a bare file path breaks the
    # source's basePath/partition discovery on some plans).
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_is_nanos:
        # Integer div, NOT /1000: epoch nanos exceed double's 2^53 mantissa.
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EMBEDDINGS_SCHEMA)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )


def run_to_table(
    spark: SparkSession,
    df: DataFrame,
    mode: str,
    require_single_batch: bool = False,
) -> DataFrame:
    """Start df -> memory sink with availableNow, drain, return the table.

    ORACLE HARNESS ONLY: a memory sink (append mode especially) materializes
    the entire relation on the driver — fine for bounded sf0.01 parity runs,
    never the production idiom. Real pipelines write through the parquet /
    kafka / foreachBatch sinks in streaming/sinks.py (checkpointed,
    executor-side, exactly-once).

    Update-mode parity additionally assumes the whole bounded source fits in
    ONE micro-batch (CLAUDE.md: "update only safe single-batch"): a second
    batch would re-emit updated rows for the same key and the memory table
    would hold both versions. availableNow over a single parquet file
    satisfies that today; this guard turns a silent parity break (e.g. a
    multi-file testdata drop or a maxFilesPerTrigger option) into a loud one.

    ``require_single_batch`` applies the same loud guard to append-mode
    queries whose RESULT depends on intra-shard arrival order (e.g. the
    greedy packing fold): their bounded drain equals the batch oracle only
    when everything lands in one micro-batch.
    """
    name = f"mem_{uuid.uuid4().hex[:10]}"
    query = memory_sink(df, name, mode=mode)
    query.awaitTermination()
    if mode == "update" or require_single_batch:
        data_batches = sum(
            1 for p in query.recentProgress if p["numInputRows"] > 0
        )
        if data_batches > 1:
            why = (
                "per-key update rows would be duplicated in the memory table"
                if mode == "update"
                else "the order-sensitive fold would run in arrival order, "
                "not the global order the oracle replays"
            )
            raise AssertionError(
                f"{mode}-mode oracle run processed {data_batches} "
                f"micro-batches; {why}. Re-bound the source to a single "
                "batch before comparing."
            )
    return spark.table(name)


# ---------------------------------------------------------------------------
# W1/W2 + A2 through the real streaming machinery: watermark + tumbling
# window in complete mode (complete keeps all windows => batch-equivalent;
# reference TumblingWindow.scala:51-65 runs the same plan in update mode).
# ---------------------------------------------------------------------------


@register(
    "stream_tumbling_complete",
    f"""
    WITH panes AS ({pane_sql(MINUTE, "event_type, value")})
    SELECT window_start, window_end, event_type,
           round(sum(value), 2) AS sum_value,
           count(*) AS n_events
    FROM panes GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = windowed_agg(
        events_stream(spark, sf_dir), "ts", ("event_type",),
        MINUTE.size, MINUTE.slide,
        [
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.count(F.lit(1)).alias("n_events"),
        ],
        watermark=MINUTE.watermark,
    )
    return run_to_table(spark, agg, "complete")


# ---------------------------------------------------------------------------
# A3/W3 in update mode (reference SlidingWindow.scala:52-66). The testdata is
# one file -> one micro-batch -> update output == batch aggregation.
# ---------------------------------------------------------------------------


@register(
    "stream_sliding_update",
    f"""
    WITH panes AS ({pane_sql(SLIDING_5M, "event_type, value")})
    SELECT window_start, window_end, event_type,
           round(sum(value), 2) AS sum_value
    FROM panes GROUP BY 1, 2, 3
    """,
)
def stream_sliding_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = windowed_agg(
        events_stream(spark, sf_dir), "ts", ("event_type",),
        SLIDING_5M.size, SLIDING_5M.slide,
        [F.round(F.sum("value"), 2).alias("sum_value")],
        watermark=SLIDING_5M.watermark,
    )
    return run_to_table(spark, agg, "update")


# ---------------------------------------------------------------------------
# J1 through streaming: stream-static broadcast enrich join, append mode
# (reference StreamingWithKafkaJoinedData.scala:46-54).
# ---------------------------------------------------------------------------


@register(
    "stream_enrich_join_append",
    """
    SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_enrich_join_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = enrich_join(stream, dim, key="user_id", how="left_outer").select(
        "event_id", "user_id", "event_type", "c_mktsegment"
    )
    return run_to_table(spark, joined, "append")


# ---------------------------------------------------------------------------
# A1 through streaming: running word count, complete mode (reference
# Basic.scala:17-25 — the structured socket word count; file source stands in
# for the socket per SURVEY S2 note).
# ---------------------------------------------------------------------------

WORDCOUNT_ORACLE = """
    SELECT word, count(*) AS count
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
"""


@register("stream_wordcount_complete", WORDCOUNT_ORACLE)
def stream_wordcount_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = split_explode_words(documents_stream(spark, sf_dir), col="text")
    return run_to_table(spark, group_count(words, "word"), "complete")


# ---------------------------------------------------------------------------
# A4/T4: arbitrary keyed state (applyInPandasWithState running count —
# the updateStateByKey parity, reference BasicStreaming.scala:17). One
# bounded batch => totals equal the batch word count, so it oracles too.
# ---------------------------------------------------------------------------


@register("stream_stateful_running_count", WORDCOUNT_ORACLE)
def stream_stateful_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = split_explode_words(documents_stream(spark, sf_dir), col="text")
    return run_to_table(spark, stateful_running_count(words), "update")


# ---------------------------------------------------------------------------
# W5 extension through streaming: session_window gap sessions with watermark,
# complete mode (update is unsupported for streaming session windows; oracle
# is the batch twin's lag/cumsum derivation in plans/tpch.py).
# ---------------------------------------------------------------------------

from .tpch import RANGE_JOIN_ORACLE, SESSION_WINDOW_ORACLE  # noqa: E402


@register("stream_session_window", SESSION_WINDOW_ORACLE)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_table(spark, agg, "complete")


# ---------------------------------------------------------------------------
# Stream-stream inner join with event-time range + watermarks (beyond the
# reference's stream-static J1): both sides keep bounded state (watermark
# horizon) and matches emit in append mode. Bounded single-batch run =>
# result == the batch range join, so it shares that oracle.
# ---------------------------------------------------------------------------


@register("stream_stream_join", RANGE_JOIN_ORACLE)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    errors = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user_id"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", "1 hour")
    )
    joined = purchases.join(
        errors,
        (F.col("user_id") == F.col("e_user_id"))
        & (F.col("error_ts") >= F.col("p_ts"))
        & (F.col("error_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("purchase_id", "error_id", "error_ts")
    return run_to_table(spark, joined, "append")


# ---------------------------------------------------------------------------
# Streaming dedup: dropDuplicatesWithinWatermark on the content fingerprint —
# the streaming half of the LLM dedup stack (state = fingerprints within the
# watermark horizon; bounded, unlike global dropDuplicates). Single bounded
# batch => kept set == global distinct, so it oracles.
# ---------------------------------------------------------------------------


@register(
    "stream_dedup_fingerprint",
    # Output is the kept fingerprint SET: which doc survives per fp depends
    # on arrival order (first wins), so only the fp set is deterministic.
    """
    SELECT DISTINCT
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fp
    FROM documents
    """,
)
def stream_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import fingerprint

    docs = documents_stream(spark, sf_dir).select(
        "doc_id",
        fingerprint("text").alias("fp"),
        F.current_timestamp().alias("arr_ts"),  # processing-time watermark
    )
    deduped = (
        docs.withWatermark("arr_ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["fp"])
        .select("fp")
    )
    return run_to_table(spark, deduped, "append")


# ---------------------------------------------------------------------------
# At-ingest dedup with a PERSISTED fingerprint store: the store is not a
# one-shot relation but a partitioned table MAINTAINED at ingest: each
# micro-batch's decisions join against the store as of arrival, and the
# batch's novel fingerprints append as their own batch_id partition via
# dynamic partition overwrite (replays overwrite themselves). Cross-batch
# duplicates are therefore decided by fingerprints an EARLIER micro-batch
# appended — the store maintenance is load-bearing for the emitted
# statuses, which is exactly what the shared-semantics oracle hash proves
# (first-arrival-wins: arrival order is id order by construction, so the
# oracle's min-doc_id-per-fp rank replays the decisions batch-split-free).

from .llm import _FP_SQL as _LLM_FP_SQL  # noqa: E402  (one fp definition)
#
# Scale: per batch this is |batch| fingerprints (computed in-scan) against
# an fp-keyed store read — prune with a Bloom/min-max prefilter over the
# store partitions at 100 TB (layout_bloom_prefilter is that pattern) —
# and the append writes |novel fps in batch| rows, never rewriting the
# store. Statuses land in their own partitioned table, also idempotent.
# ---------------------------------------------------------------------------


# Used for the independent state writes inside the foreachBatch
# maintenance handlers and the independent seed/arrival writes in their
# setups — at any scale these jobs share no lineage ordering requirement
# (each targets its own directory and replay overwrites per-partition),
# so overlapping them costs nothing and collapses the serialized
# per-job latency the driver otherwise pays.
from ..engine import run_parallel as _run_jobs  # noqa: E402


def _write_id_ordered_arrivals(src_dir: str, parts: list) -> None:
    """Write each part as one file with ascending mtimes so the file
    source replays them IN ORDER under maxFilesPerTrigger=1 — arrival
    order == doc_id order is what lets a first-arrival-wins oracle rank
    by doc_id (shared by the fp-store and minhash-catalog ingests).

    ONE Spark job writes every part (partitionBy on the part tag, one
    task per part, then the partition dirs rename into the b{i} layout
    the reader globs) — per-part coalesce(1) writes would pay one
    serialized job + commit per part. Intra-file row order changes
    (shuffle by tag), which no consumer observes: every handler decides
    by doc_id rank / set joins, never by arrival-row position, and the
    oracles replay by doc_id. One file per part is guaranteed (the
    dynamic-partition writer opens one file per partition value per
    task), keeping batch boundaries — which TTL oracles hard-code —
    exactly as before; a missing partition dir (an empty part) fails
    loudly below rather than silently shifting batch numbering."""
    tagged = parts[0].withColumn("_arr_part", F.lit(0))
    for i, part in enumerate(parts[1:], start=1):
        tagged = tagged.unionByName(part.withColumn("_arr_part", F.lit(i)))
    stage_dir = src_dir + "__stage"
    (
        tagged.repartition(len(parts), "_arr_part")
        .write.partitionBy("_arr_part")
        .parquet(stage_dir)
    )
    os.makedirs(src_dir, exist_ok=True)
    for i in range(len(parts)):
        part_dir = os.path.join(stage_dir, f"_arr_part={i}")
        if not os.path.isdir(part_dir):
            raise ValueError(
                f"_write_id_ordered_arrivals: part {i} wrote no rows — "
                "an empty arrival file would silently renumber the "
                "micro-batches the oracles replay"
            )
        os.rename(part_dir, os.path.join(src_dir, f"b{i}"))
    # The staging dir has served its purpose (_SUCCESS marker + any
    # empty partition dirs would otherwise accumulate per run and trap
    # future directory scans).
    import shutil

    shutil.rmtree(stage_dir, ignore_errors=True)
    for i in range(len(parts)):
        for root, _dirs, files in os.walk(os.path.join(src_dir, f"b{i}")):
            for fn in files:
                os.utime(
                    os.path.join(root, fn),
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )


def _id_range_parts(rows: DataFrame, plants: DataFrame, m: int) -> list:
    """``rows`` in 3 contiguous id ranges (split at m // 3 and 2m // 3, m
    the largest id of ``rows``), then the plants file."""
    return [
        rows.filter(F.col("doc_id") <= m // 3),
        rows.filter((F.col("doc_id") > m // 3) & (F.col("doc_id") <= 2 * m // 3)),
        rows.filter(F.col("doc_id") > 2 * m // 3),
        plants,
    ]


def _odd_plus_plants(table: DataFrame, families: tuple) -> list:
    """The seeded kinds' arrival parts, built from their plant families
    ``(every, rem, offset, payload_sql)``: the odd ids in 3 id ranges,
    then ONE plants file where each family re-crawls the rows with
    doc_id % every = rem under doc_id + offset, its payload column
    rewritten by ``payload_sql`` (an expression Spark and DuckDB both
    accept; _arrival_ctes renders the oracle side from the same tuples).
    The first-arrival-wins oracles rank by doc_id, so every plant id must
    sort above every real id and the family id ranges must stay disjoint
    (two arrivals sharing a doc_id would fan out the oracle joins): the
    largest id must be below the smallest gap between offsets, counted
    from 0. A violation raises before anything is written."""
    offsets = sorted(off for _every, _rem, off, _sql in families)
    gap = min(b - a for a, b in zip([0] + offsets, offsets))
    if gap <= 0:
        raise ValueError(
            f"plant offsets {offsets}: smallest offset gap {gap} — two "
            "families share an id range"
        )
    top, m = table.agg(
        F.max("doc_id"), F.max(F.when(F.col("doc_id") % 2 == 1, F.col("doc_id")))
    ).first()
    if m is None:
        raise ValueError(
            "plant families: the table has no odd ids — the id-ordered "
            "multi-batch arrival fixture needs real rows"
        )
    if top >= gap:
        raise ValueError(
            f"plant offsets {offsets}: max doc_id {top} >= smallest offset "
            f"gap {gap}; plant ids would collide with real ids or each other"
        )
    (payload,) = [c for c in table.columns if c != "doc_id"]
    plants = reduce(
        DataFrame.unionByName,
        [
            table.filter(F.col("doc_id") % every == rem).select(
                (F.col("doc_id") + off).alias("doc_id"),
                F.expr(sql).alias(payload),
            )
            for every, rem, off, sql in families
        ],
    )
    return _id_range_parts(table.filter(F.col("doc_id") % 2 == 1), plants, m)


def _arrival_ctes(families: tuple, table: str = "documents", col: str = "text"):
    """The oracle side of _odd_plus_plants, rendered from the same
    families over ``table``'s (doc_id, ``col``) — a table name or a
    parenthesized query: ``corpus`` (every seed and arrival row), ``mx``
    (the largest odd id) and ``bmap`` (each corpus id's micro-batch:
    seed -1, the odd thirds 0-2, plants 3)."""
    plants = "".join(
        f"""
        UNION ALL
        SELECT doc_id + {off} AS doc_id, {sql} AS {col}
        FROM {table} WHERE doc_id % {every} = {rem}"""
        for every, rem, off, sql in families
    )
    return f"""corpus AS (
        SELECT doc_id, {col} FROM {table}{plants}
    ),
    mx AS (SELECT max(doc_id) AS m FROM {table} WHERE doc_id % 2 = 1),
    bmap AS (
        SELECT doc_id,
               CASE WHEN doc_id >= {min(f[2] for f in families)} THEN 3
                    WHEN doc_id % 2 = 0 THEN -1
                    WHEN doc_id <= (SELECT m // 3 FROM mx) THEN 0
                    WHEN doc_id <= (SELECT (2 * m) // 3 FROM mx) THEN 1
                    ELSE 2 END AS b
        FROM corpus
    )"""


def _prior_pairs_sql(
    rel: str, on: str = "TRUE", verify: str = "TRUE", window: int | None = None
) -> str:
    """(doc_id, prior_id) for every arrival of ``rel`` (its batch from
    bmap) and each row visible to it: the seed and earlier batches (only
    the last ``window`` under a TTL), or a smaller id in its own batch —
    the handlers' _prior_state + _prior_hits rule. Pairs join ``on`` and
    must pass ``verify``."""
    ttl = "" if window is None else f" AND bp.b >= ba.b - {window}"
    return f"""SELECT DISTINCT a.doc_id, p.doc_id AS prior_id
        FROM {rel} a
        JOIN bmap ba ON ba.doc_id = a.doc_id
        JOIN {rel} p ON {on}
        JOIN bmap bp ON bp.doc_id = p.doc_id
        WHERE ba.b >= 0
          AND ((bp.b < ba.b{ttl}) OR (bp.b = ba.b AND p.doc_id < a.doc_id))
          AND {verify}"""


def _catalog_oracle(ctes: str, pairs: str, name: str, id_col="doc_id") -> str:
    """A counting kind's oracle: every arrival's number of distinct
    visible priors (``pairs``, over ``ctes``), 0 when it has none."""
    return f"""
    WITH {ctes},
    hits AS ({pairs})
    SELECT ba.doc_id AS {id_col},
           CAST(count(h.prior_id) AS BIGINT) AS {name}
    FROM bmap ba LEFT JOIN hits h ON ba.doc_id = h.doc_id
    WHERE ba.b >= 0
    GROUP BY ba.doc_id
    """


# Explicit state-relation schemas:
# every per-batch state read names the WRITER's schema instead of
# re-inferring it from parquet footers — measured ~70-95 ms of
# driver-side footer-read latency saved per read on this host, paid 1-3x
# per micro-batch by every maintenance handler. batch_id is the
# partition column every state write appends (int: F.lit(batch_id)).
# Each relation declares its schema ONCE (Relation.schema) and every
# write checks its frame against it (_overwrite_batch_partition), so the
# reader and the writer share one string by construction.


@dataclass(frozen=True)
class Relation:
    """One maintained state relation: its directory name, the writer's
    data columns as DDL (batch_id is implied), and the seed builder that
    maps the spec's input table to its batch_id=-1 rows (None: seedless,
    the relation first appears at batch 0)."""

    name: str
    schema: str
    seed: Callable[[DataFrame], DataFrame] | None = None


@dataclass(frozen=True)
class MaintainedState:
    """One ingest-maintained state kind, declared once for run_lifecycle:
    the input table (spark, sf_dir) -> DataFrame, its state relations,
    the id-ordered arrival parts built from the table, the arrival
    schema, the handler factory (StateIO -> foreachBatch handler), the
    decisions DDL, and the output projection (selectExpr) of the drained
    decisions."""

    name: str
    table: Callable[[SparkSession, str], DataFrame]
    relations: tuple[Relation, ...]
    parts: Callable[[DataFrame], list]
    arrival_schema: str
    handler: Callable
    decisions: str
    output: tuple[str, ...]


@dataclass(frozen=True)
class StateIO:
    """One run of a spec: every relation, the decisions and the checkpoint
    live in their own directory under ``base_dir``; ``retention_batches``
    is the TTL window the run's reads apply. A handler reads through
    _prior_state and writes through ONE write() call per batch."""

    spec: MaintainedState
    base_dir: str
    retention_batches: int | None = None

    def dir(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def relation(self, name: str) -> Relation:
        if name == "decisions":
            return Relation("decisions", self.spec.decisions)
        return next(r for r in self.spec.relations if r.name == name)

    def write(self, batch_id: int, **frames: DataFrame) -> None:
        """Overwrite this batch's partition of every named relation. The
        writes are independent (own dirs, replay overwrites
        per-partition) — overlap them; list the slow
        decisions write first so the appends backfill its tail."""
        _run_jobs(
            *[
                lambda n=n, df=df: _overwrite_batch_partition(
                    df, self.dir(n), batch_id, self.relation(n)
                )
                for n, df in frames.items()
            ]
        )


def _read_state(spark: SparkSession, path: str, rel: Relation) -> DataFrame:
    """Partitioned state-dir read with the relation's declared schema (no
    per-batch footer inference — see the comment above Relation)."""
    return spark.read.schema(rel.schema + ", batch_id int").parquet(path)


def _prior_state(spark: SparkSession, io: StateIO, batch_id: int) -> dict:
    """Every relation AS OF this batch: only partitions appended by
    EARLIER batches (batch_id < current — the read-your-predecessors
    bound; a REPLAYED batch must never see its own appends). With
    ``retention_batches`` only partitions batch_id >= current - W stay
    visible (the seed ages out after W batches like any append), so the
    scan is partition-pruned on BOTH sides. A missing dir reads as None
    ("no prior state") only for a seedless spec before its first write;
    a seeded spec writes every relation at batch_id=-1, so a missing one
    is half-seeded state and fails fast, naming the relation."""
    seeded = any(r.seed is not None for r in io.spec.relations)
    prior = {}
    for rel in io.spec.relations:
        path = io.dir(rel.name)
        if not os.path.isdir(path):
            if seeded:
                raise RuntimeError(
                    f"{io.spec.name}: state relation '{rel.name}' is "
                    f"missing at {path} — half-seeded state"
                )
            prior[rel.name] = None
            continue
        df = _read_state(spark, path, rel).filter(F.col("batch_id") < batch_id)
        if io.retention_batches is not None:
            df = df.filter(
                F.col("batch_id") >= batch_id - io.retention_batches
            )
        prior[rel.name] = df
    return prior


def _overwrite_batch_partition(
    df: DataFrame, path: str, batch_id: int, rel: Relation
) -> None:
    """Write df as THIS batch's (batch_id=...) partition via dynamic
    overwrite — the exactly-once idiom every ingest-maintenance handler
    shares: a replayed batch overwrites its own partition instead of
    double-appending. The seed (and a compaction) is the batch_id=-1
    partition. A frame whose columns drift from the relation's declared
    schema raises before anything is written."""
    declared = T.StructType.fromDDL(rel.schema).simpleString()
    if df.schema.simpleString() != declared:
        raise ValueError(
            f"state relation '{rel.name}': writer schema "
            f"{df.schema.simpleString()} drifted from the declared {declared}"
        )
    overwrite_partitions(df.withColumn("batch_id", F.lit(batch_id)), path, "batch_id")


def _fp_ranked(fps: DataFrame, store: DataFrame) -> DataFrame:
    """Exact-dup decision relation shared by the store handlers: the batch's
    (doc_id, fp) rows ranked within-batch by doc_id per fp and left-joined
    against the store AS OF this batch (``store`` is the _prior_state
    read, so a TTL window EXPIRES old fps: content re-admits after W
    batches of absence). Without the batch_id < current bound a REPLAYED
    batch would see its own appended fps and flip its novel decisions to
    duplicate (pinned by test_dedup_store_cross_batch_maintenance's
    replay). Output columns: the fps columns + rn + hit (True / null)."""
    from pyspark.sql import Window

    w = Window.partitionBy("fp").orderBy("doc_id")
    return fps.withColumn("rn", F.row_number().over(w)).join(
        store.select("fp").distinct().withColumn("hit", F.lit(True)),
        "fp",
        "left_outer",
    )


def _exact_status():
    """The store arms' decision: duplicate if the fp hit prior state or a
    smaller same-batch doc_id (first arrival wins), else novel."""
    return (
        F.when(F.col("hit") | (F.col("rn") > 1), "duplicate")
        .otherwise("novel")
        .alias("status")
    )


def _novel_fps(ranked: DataFrame) -> DataFrame:
    """The fps a batch appends to the store: first arrivals of new content."""
    return ranked.filter(
        F.col("hit").isNull() & (F.col("rn") == 1)
    ).select("fp")


def _dedup_store_handler(io: StateIO):
    """foreachBatch handler: decide novel/duplicate against the store AS
    OF this batch, then append this batch's novel fps. Both writes are
    (batch_id)-partitioned dynamic overwrites — exactly-once on replay.
    Under a TTL window a re-admitted fp appends again under its new
    batch_id, restarting its lifetime — duplicates never refresh it."""
    from ..functions.text import fingerprint

    def handler(batch_df: DataFrame, batch_id: int) -> None:
        prior = _prior_state(batch_df.sparkSession, io, batch_id)
        fps = batch_df.select(
            "doc_id", fingerprint("text").alias("fp")
        ).localCheckpoint()  # one derivation feeds decisions AND the append
        ranked = _fp_ranked(fps, prior["store"])
        io.write(
            batch_id,
            decisions=ranked.select("doc_id", _exact_status()),
            store=_novel_fps(ranked),
        )

    return handler


# The store's plants: exact re-crawls of every 6th doc. Arrival order ==
# doc_id order, so the oracle's rank-by-doc_id replays first-arrival-wins.
_FP_FAMILIES = ((6, 0, 300000, "text"),)

# The fp store's oracle rows: every corpus doc's batch and fingerprint,
# materialized so DuckDB joins corpus with bmap once, not per reference.
_FP_BATCH_CTES = f"""{_arrival_ctes(_FP_FAMILIES)},
    fb AS MATERIALIZED (
        SELECT c.doc_id, bmap.b, {_LLM_FP_SQL.format(t='c.text')} AS fp
        FROM corpus c JOIN bmap ON bmap.doc_id = c.doc_id
    )"""

# One oracle for BOTH store-ingest variants: the Bloom prefilter has no
# false negatives, so the prefiltered query's decisions are provably
# identical — registering it against the same text makes the driver
# hash-prove that.
STREAM_DEDUP_STORE_ORACLE = f"""
    WITH {_FP_BATCH_CTES},
    ranked AS (
        SELECT doc_id, fp,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM fb WHERE b >= 0
    )
    SELECT doc_id,
           CASE WHEN rn > 1 OR fp IN (SELECT fp FROM fb WHERE b = -1)
                THEN 'duplicate' ELSE 'novel' END AS status
    FROM ranked
    """


def _docs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents relation the text ingests seed from and arrive as."""
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def _fp_store_seed(docs: DataFrame) -> DataFrame:
    """The ingested corpus's distinct fingerprints (even doc ids)."""
    from ..functions.text import fingerprint

    return (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(fingerprint("text").alias("fp"))
        .distinct()
    )


def _arrivals_stream(
    spark: SparkSession, src_dir: str, schema: str
) -> DataFrame:
    """One file per micro-batch over the id-ordered arrival files (the
    id column is doc_id for every kind — the shared id-ordered plumbing
    keys on it)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir + "/*")
    )


def _labelled(name: str, handler: Callable) -> Callable:
    """``handler`` with its jobs described ``<name>/b<batch_id>`` (the
    StateIO.write threads inherit it); the stream's own description is
    restored afterwards."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        sc = batch_df.sparkSession.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"{name}/b{batch_id}")
        try:
            handler(batch_df, batch_id)
        finally:
            sc.setJobDescription(prev)

    return run


def run_lifecycle(
    spark: SparkSession,
    sf_dir: str,
    spec: MaintainedState,
    compact: bool = False,
    retention_batches: int | None = None,
) -> tuple[DataFrame, StateIO]:
    """The one run body of every maintained-state registration: seed
    every relation (batch_id=-1) and write the id-ordered arrival files
    in ONE overlapped call, stream the arrivals through the spec's
    handler (one file per micro-batch), and return the drained decisions
    (the spec's output projection) plus the run's StateIO — the audit
    twin reads the cluster map through it. ``compact=True`` ingests
    parts[:2], collapses every relation into a fresh batch_id=-1
    partition (_compact_state), ingests parts[2:] against it from a fresh
    checkpoint (batch ids restart at 0 > -1, so the whole compacted state
    is visible), and unions both phases' decisions. ``retention_batches``
    windows every state read (_prior_state); compaction is
    unbounded-state-only, so asking for both raises."""
    if compact and retention_batches is not None:
        raise ValueError(
            f"run_lifecycle({spec.name}): compaction is unbounded-state-only"
            " (a TTL'd relation re-appends re-admitted rows and collapsing"
            " to batch_id=-1 destroys per-row age) — pass compact or"
            " retention_batches, not both"
        )
    from ..streaming.sinks import foreach_batch_sink

    from . import tmp_run_dir

    table = spec.table(spark, sf_dir)
    base_dir = tmp_run_dir(f"{spec.name}_")
    runs = [
        StateIO(spec, os.path.join(base_dir, ph), retention_batches)
        for ph in (("a", "b") if compact else ("",))
    ]
    first = runs[0]
    parts = spec.parts(table)  # its id guard raises before any write
    # Seed and arrival writes are independent jobs — overlap them.
    _run_jobs(
        *[
            lambda r=r: _overwrite_batch_partition(
                r.seed(table), first.dir(r.name), -1, r
            )
            for r in spec.relations
            if r.seed is not None
        ],
        lambda: _write_id_ordered_arrivals(first.dir("arrivals"), parts),
    )
    if compact:  # phase B's source takes the later files (mtimes kept)
        later = runs[1].dir("arrivals")
        os.makedirs(later)
        for i in range(2, len(os.listdir(first.dir("arrivals")))):
            os.rename(
                os.path.join(first.dir("arrivals"), f"b{i}"),
                os.path.join(later, f"b{i}"),
            )
    for prev, io in zip([None] + runs, runs):
        if prev is not None:  # relations collapse independently — overlap
            _run_jobs(
                *[
                    lambda r=r: _compact_state(
                        spark, prev.dir(r.name), io.dir(r.name), r
                    )
                    for r in spec.relations
                ]
            )
        foreach_batch_sink(
            _arrivals_stream(spark, io.dir("arrivals"), spec.arrival_schema),
            _labelled(spec.name, spec.handler(io)),
            checkpoint=io.dir("ckpt"),
            mode="append",
        ).awaitTermination()
    decisions = reduce(
        DataFrame.unionByName,
        [_read_state(spark, r.dir("decisions"), r.relation("decisions"))
         for r in runs],
    )
    return decisions.selectExpr(*spec.output), runs[-1]


# name -> (spec, compact, retention_batches) of every registration whose
# whole body is one run_lifecycle; tests/test_lifecycle.py derives its
# spec lists from it.
LIFECYCLE: dict[str, tuple[MaintainedState, bool, int | None]] = {}


def _lifecycle_query(name, oracle, spec, compact=False, retention_batches=None):
    """Register ``name`` as one run_lifecycle of ``spec`` returning its
    decisions, and record it in LIFECYCLE."""
    LIFECYCLE[name] = (spec, compact, retention_batches)
    register(name, oracle)(lambda spark, sf_dir: run_lifecycle(
        spark, sf_dir, spec, compact=compact, retention_batches=retention_batches
    )[0])


_DOC_ARRIVAL_SCHEMA = "doc_id long, text string"

FP_STORE = MaintainedState(
    name="fp_store",
    table=_docs_table,
    relations=(Relation("store", "fp string", _fp_store_seed),),
    parts=partial(_odd_plus_plants, families=_FP_FAMILIES),
    arrival_schema=_DOC_ARRIVAL_SCHEMA,
    handler=_dedup_store_handler,
    decisions="doc_id long, status string",
    output=("doc_id", "status"),
)


# Cross-file odd/odd copies make the appended partitions load-bearing
# (test_dedup_store_cross_batch_maintenance).
_lifecycle_query("stream_dedup_store_ingest", STREAM_DEDUP_STORE_ORACLE, FP_STORE)


# ---------------------------------------------------------------------------
# Bloom-prefiltered store ingest (SCALE.md's "prefilter the store read
# at 100 TB"). A Bloom filter over the store's fingerprints is
# MAINTAINED alongside it (per-batch set-bit partitions,
# merged by reading them — OR of bit sets is plain distinct-union), and
# each batch probes the Bloom FIRST: only possible-hit fingerprints touch
# the fp-keyed store join; definite misses (the vast majority of novel
# content) skip it entirely. Bloom filters have NO false negatives, so
# the decisions are provably identical to stream_dedup_store_ingest —
# both register against STREAM_DEDUP_STORE_ORACLE and the driver hash
# proves the equivalence. The Bloom uses the PRODUCTION hash (xxhash64,
# k positions as codegen columns) precisely because no oracle replays
# it: only decisions need cross-engine exactness, the prefilter needs
# speed. m is sized from the seed store (8 bits/item, next power of two,
# capped) and FIXED for the store's lifetime — merging positions hashed
# under different m is meaningless, so a resize is a rebuild (the
# centroid re-train rule).
# ---------------------------------------------------------------------------

_STORE_BLOOM_K = 3
_STORE_BLOOM_M_CAP = 4194304  # 2^22 — same cap as the gram Bloom


def _store_bloom_pos(fp_col, m: int, j: int):
    """Bit position j for a fingerprint: pmod(xxhash64(j, fp), m) — the
    fast production hash; k fixed columns, pure codegen."""
    return F.pmod(F.xxhash64(F.lit(j), fp_col), F.lit(m)).alias(f"pos{j}")


def _store_bloom_bits(fps: DataFrame, m: int) -> DataFrame:
    """(pos) set-bit rows for a fingerprint relation: k positions per fp,
    distinct (<= min(k*|fps|, m) rows)."""
    out = None
    for j in range(_STORE_BLOOM_K):
        b = fps.select(_store_bloom_pos(F.col("fp"), m, j))
        b = b.select(F.col(f"pos{j}").alias("pos"))
        out = b if out is None else out.unionByName(b)
    return out.distinct()


def _dedup_store_bloom_handler(m: int):
    """The _dedup_store_handler contract with a Bloom gate in front of
    the store join: possible = fps passing ALL k set-bit checks (chained
    left-semi joins on the position columns, the Bloom probe's stateless
    form); only those join the store. Appends novel fps AND their set
    bits, both (batch_id)-partitioned dynamic overwrites with the same
    read-your-predecessors bound."""
    from pyspark.sql import Window

    from ..functions.text import fingerprint

    def factory(io: StateIO):
        def handler(batch_df: DataFrame, batch_id: int) -> None:
            prior = _prior_state(batch_df.sparkSession, io, batch_id)
            fps = batch_df.select(
                "doc_id", fingerprint("text").alias("fp")
            ).localCheckpoint()
            cand = fps.select("fp").distinct().select(
                "fp",
                *[_store_bloom_pos(F.col("fp"), m, j)
                  for j in range(_STORE_BLOOM_K)],
            )
            bits = prior["bloombits"].select("pos").distinct()
            possible = cand
            for j in range(_STORE_BLOOM_K):
                possible = possible.join(
                    bits.withColumnRenamed("pos", f"pos{j}"), f"pos{j}",
                    "left_semi",
                )
            # ONLY possible fps touch the store (the fp-keyed join the
            # Bloom exists to spare; definite misses never read it)
            store_hits = possible.select("fp").join(
                prior["store"].select("fp"), "fp", "left_semi"
            )
            w = Window.partitionBy("fp").orderBy("doc_id")
            ranked = fps.withColumn("rn", F.row_number().over(w)).join(
                store_hits.withColumn("hit", F.lit(True)), "fp", "left_outer"
            )
            novel = _novel_fps(ranked).localCheckpoint()  # store AND bits
            io.write(
                batch_id,
                decisions=ranked.select("doc_id", _exact_status()),
                store=novel,
                bloombits=_store_bloom_bits(novel, m),
            )

        return handler

    return factory


def _fp_bloom_spec(m: int) -> MaintainedState:
    """FP_STORE plus the maintained bit relation, for a Bloom of m bits
    (m is fixed for the store's lifetime: merging positions hashed under
    different m is meaningless)."""
    return replace(
        FP_STORE,
        name="fp_bloom_store",
        relations=FP_STORE.relations + (
            Relation(
                "bloombits",
                "pos bigint",
                lambda docs: _store_bloom_bits(_fp_store_seed(docs), m),
            ),
        ),
        handler=_dedup_store_bloom_handler(m),
    )


@register("stream_dedup_store_bloom_ingest", STREAM_DEDUP_STORE_ORACLE)
def stream_dedup_store_bloom_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """stream_dedup_store_ingest behind a maintained Bloom prefilter —
    same oracle, so the driver hash proves the prefilter changes nothing
    but the store-join traffic (no false negatives). Prune effectiveness
    and decision equality pinned by
    tests/test_streaming.py::test_dedup_store_bloom_prunes_and_agrees."""
    n_seed = _fp_store_seed(FP_STORE.table(spark, sf_dir)).count()
    # one scalar: sizes m for the store's lifetime
    m = min(_STORE_BLOOM_M_CAP, 1 << max(8 * n_seed - 1, 1).bit_length())
    return run_lifecycle(spark, sf_dir, _fp_bloom_spec(m))[0]


# ---------------------------------------------------------------------------
# In-stream PII scrubbing: the cleaning stage of a streaming ingest
# pipeline — a pure per-row projection (no state, no watermark, append
# mode), so the drained bounded run equals the batch query and shares its
# oracle. At scale this runs at source parallelism with zero shuffle.
# ---------------------------------------------------------------------------

from .llm import _PII_ORACLE, pii_scrub_projection  # noqa: E402


@register("stream_pii_scrub", _PII_ORACLE)
def stream_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    scrubbed = pii_scrub_projection(documents_stream(spark, sf_dir))
    return run_to_table(spark, scrubbed, "append")


# ---------------------------------------------------------------------------
# At-ingest content-keyed split assignment: the streaming twin of
# split_by_cluster — the property that makes the content gate the RIGHT
# split for an ingest pipeline is exactly that it needs no state: a doc's
# split depends only on its own bytes, so arriving docs are labeled by a
# pure per-row projection (fp + md5 gate in codegen; append mode, no
# watermark) and a re-crawled copy arriving years later STILL lands in
# its original's split. Shares split_by_cluster's oracle verbatim.
# ---------------------------------------------------------------------------

from .textprep import SPLIT_BY_CLUSTER_ORACLE, cluster_split_column  # noqa: E402


@register("stream_split_by_cluster", SPLIT_BY_CLUSTER_ORACLE)
def stream_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents_stream(spark, sf_dir)
    labeled = docs.select(
        "doc_id", "source", cluster_split_column().alias("split")
    )
    return run_to_table(spark, labeled, "append")


# ---------------------------------------------------------------------------
# At-ingest NEAR-DUP-robust split assignment:
# stream_split_by_cluster's stateless gate handles exact copies, but a
# truncated re-crawl arriving at ingest has a different fingerprint -> an
# independent gate -> it can land opposite its source (the measured
# 4-doc leak split_by_neardup_cluster fixes in batch). The streaming twin
# joins each arriving doc against the MATERIALIZED rep-fp map from the
# last batch clustering run (doc_id -> its cluster representative's
# fingerprint; eager localCheckpoint so the planner has true stats, NO
# broadcast hint — the map grows with the corpus's duplicate subset, the
# _media_probe_plan discipline) and gates on coalesce(rep_fp, own fp):
# unseen/singleton docs fall back to the stateless gate, so the twin
# degrades to stream_split_by_cluster exactly where no cluster knowledge
# exists. Shares split_by_neardup_cluster's oracle verbatim. Re-crawl
# lands in its source's split: test_stream_split_by_neardup_recrawl.
# ---------------------------------------------------------------------------

from .textprep import SPLIT_BY_NEARDUP_ORACLE  # noqa: E402


def stream_split_by_neardup_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-drain streaming plan (arriving near corpus -> unhinted
    doc_id-keyed rep-fp map join -> gate projection), exposed for the
    hint-free plan-shape test."""
    from ..functions.text import fingerprint
    from ..operators.components import connected_components
    from .llm import _near_corpus, jaccard_pair_graph, near_plants

    corpus = _near_corpus(spark, sf_dir)
    fps = corpus.select("doc_id", fingerprint("text").alias("fp"))
    cc = connected_components(jaccard_pair_graph(spark, sf_dir)).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    rep_fps = fps.select(
        F.col("doc_id").alias("cluster_id"), F.col("fp").alias("rep_fp")
    )
    rep_map = (
        cc.join(rep_fps, "cluster_id")
        .select("doc_id", "rep_fp")
        .localCheckpoint()
    )

    ds = documents_stream(spark, sf_dir).select("doc_id", "text")
    arriving = ds.unionByName(near_plants(ds))
    return (
        arriving.withColumn("fp", fingerprint("text"))
        .join(rep_map, "doc_id", "left_outer")
        .select(
            "doc_id",
            cluster_split_column(
                F.coalesce(F.col("rep_fp"), F.col("fp"))
            ).alias("split"),
        )
    )


@register("stream_split_by_neardup", SPLIT_BY_NEARDUP_ORACLE)
def stream_split_by_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, split) per arriving doc under the representative-fp gate:
    clustered docs (including re-crawls the clustering has seen) gate on
    their cluster rep's fingerprint via the materialized map; unseen docs
    fall back to their own fp — the whole cluster moves as one unit, so a
    truncated re-crawl lands in its source's split."""
    return run_to_table(
        spark, stream_split_by_neardup_plan(spark, sf_dir), "append"
    )


# ---------------------------------------------------------------------------
# In-stream vector bucketization: an embedding ingest pipeline assigning
# each arriving vector to its nearest IVF centroid (stream-static broadcast
# of the centroid table + ONE stateful argmax aggregation — streaming
# allows a single aggregation, so the argmax IS the agg and the state per
# key is just the best-(ccos, cent_id) pair, never the vector). The
# drained single-batch run equals the batch assignment, which the oracle
# replays with the same round(4) + centroid-id tie-break.
# ---------------------------------------------------------------------------

from .llm import _DOT, _IVF_STRIDE_SQL, _NORM, _STRIDE_K_CAP  # noqa: E402


@register(
    "stream_vector_bucketize",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, v AS cv FROM e
             WHERE vec_id % 50 = 0 AND vec_id < {50 * _STRIDE_K_CAP})
    SELECT vec_id, bucket FROM (
        SELECT e.vec_id, cent.cent_id AS bucket,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_DOT.format(a='e.v', b='cent.cv')}
                         / ({_NORM.format(a='e.v')} * {_NORM.format(a='cent.cv')}), 4)
                         DESC, cent.cent_id) AS crnk
        FROM e, cent)
    WHERE crnk = 1
    """,
)
def stream_vector_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arriving vectors bucketed against a FIXED-K broadcast centroid set
    (stride pick capped at _STRIDE_K_CAP rows — a bare id-stride subset
    grows linearly with the corpus and so would the broadcast)."""
    from ..functions.vectors import cosine_pandas

    from .llm import stride_centroids

    cent = stride_centroids(load_table(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
    )
    scored = (
        embeddings_stream(spark, sf_dir)
        .select("vec_id", "embedding")
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cent_id",
            F.round(cosine_pandas("embedding", "cv"), 4).alias("ccos"),
        )
    )
    key = F.struct(F.col("ccos"), (-F.col("cent_id")).alias("neg_cent"))
    assigned = scored.groupBy("vec_id").agg(F.max_by("cent_id", key).alias("bucket"))
    return run_to_table(spark, assigned, "update")


# ---------------------------------------------------------------------------
# Incremental IVF index maintenance at ingest:
# the index-freshness story a 100 TB serving tier needs. The batch index
# is built ONCE over the already-ingested corpus; newly arriving vectors
# are bucketized in-stream (the stream_vector_bucketize assignment, batch
# machinery per micro-batch inside foreachBatch) and APPENDED to the
# index layout — each micro-batch lands as its own (bucket, batch_id)
# parquet partitions via dynamic partition overwrite, so a replayed batch
# overwrites itself (the idempotent_parquet_handler exactly-once pattern)
# and NO rebuild ever touches the base. The probe then reads base ∪
# appendix and must return EXACTLY the from-scratch full-corpus IVF
# result — which is why this query shares _IVF_STRIDE_SQL verbatim: the
# hash match IS the freshness proof (append-maintained index ≡ rebuilt
# index).
#
# Scale: the base build is the one-time assignment pass SCALE.md already
# prices; per micro-batch the appendix write is |batch| rows through a
# FIXED-K broadcast argmax (no shuffle of the corpus, no read of the
# base); the probe stays partition-pruned on bucket on BOTH sides of the
# union. Compaction of the appendix into the base is an offline
# housekeeping job, not a serving dependency.
# ---------------------------------------------------------------------------


def _ivf_appendix_handler(path: str, centroids: DataFrame):
    """foreachBatch handler appending bucket assignments to the index
    appendix: per (bucket, batch_id) dynamic-partition overwrite — replay
    rewrites the same partitions with the same rows (exactly-once)."""
    from ..operators.similarity import assign_buckets

    def handler(batch_df: DataFrame, batch_id: int) -> None:
        overwrite_partitions(
            assign_buckets(batch_df, centroids).withColumn("batch_id", F.lit(batch_id)),
            path, "bucket", "batch_id",
        )

    return handler


def _build_base_and_appendix(
    spark: SparkSession, sf_dir: str, emb: DataFrame, cent: DataFrame
) -> tuple[str, str]:
    """(base_path, appendix_path): batch-build the base index over the
    already-ingested corpus (even vec_ids), then stream the rest (odd
    vec_ids) through the appendix handler. Fresh tempdirs per call (the
    k4/k6 sink convention) — shared by the appendix probe and the
    compaction twin."""
    from ..operators.similarity import build_ivf_index
    from ..streaming.sinks import foreach_batch_sink

    from . import tmp_run_dir

    base_dir = tmp_run_dir("ivf_incr_")
    base = os.path.join(base_dir, "base")
    appendix = os.path.join(base_dir, "appendix")

    # 1. the already-ingested corpus: batch index build (even ids)
    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), cent, base)

    # 2. ingest: the rest of the corpus arrives as a stream and appends
    arriving = embeddings_stream(spark, sf_dir).filter(
        F.col("vec_id") % 2 == 1
    ).select("vec_id", "embedding")
    q = foreach_batch_sink(
        arriving,
        _ivf_appendix_handler(appendix, cent),
        checkpoint=os.path.join(base_dir, "ckpt"),
        mode="append",
    )
    q.awaitTermination()
    return base, appendix


@register("stream_ivf_appendix_probe", _IVF_STRIDE_SQL)
def stream_ivf_appendix_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_id, cos, rnk): the IVF probe over (batch-built base index
    over even vec_ids) ∪ (streamed appendix of the odd vec_ids, appended
    micro-batch by micro-batch at ingest) — byte-equal to the full-corpus
    assignment's probe, proven by sharing sim_ivf_topk's oracle. Every
    invocation exercises build + streamed maintenance + probe
    end-to-end."""
    from ..operators.similarity import ivf_topk_over_index

    from .llm import stride_centroids

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = stride_centroids(emb)
    base, appendix = _build_base_and_appendix(spark, sf_dir, emb, cent)

    # 3. serve: probe base ∪ appendix — no rebuild happened, results must
    # equal the from-scratch assignment (shared oracle pins it). The two
    # parts are passed SEPARATELY so each bucket-partitioned scan sits
    # directly under its probe join and dynamic partition pruning can
    # reach it (a Union between join and scan defeats DPP — observed).
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk_over_index(
        [spark.read.parquet(base), spark.read.parquet(appendix)],
        queries, cent, k=5, n_probe=2,
    )


@register("sim_ivf_compacted_probe", _IVF_STRIDE_SQL)
def sim_ivf_compacted_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The offline housekeeping job the appendix defers, as a
    driver-checked fact: COMPACT base ∪ appendix into one fresh
    bucket-partitioned index (a single rewrite — batch_id partitions
    collapse away, each bucket's rows land in one partition again) and
    probe the compacted directory. Build -> append -> compact -> probe
    all share sim_ivf_topk's oracle, so the hash match proves the whole
    index LIFECYCLE preserves serving results exactly. At 100 TB the
    compaction reads base + appendix once and writes once, off the
    serving path; probes before and after are interchangeable, which is
    what lets it run as background housekeeping with a directory swap."""
    from ..operators.similarity import ivf_topk_over_index

    from . import tmp_run_dir
    from .llm import stride_centroids

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = stride_centroids(emb)
    base, appendix = _build_base_and_appendix(spark, sf_dir, emb, cent)

    compacted = os.path.join(tmp_run_dir("ivf_compact_"), "index")
    (
        spark.read.parquet(base)
        .unionByName(spark.read.parquet(appendix).drop("batch_id"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(compacted)
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk_over_index(
        spark.read.parquet(compacted), queries, cent, k=5, n_probe=2
    )


# ---------------------------------------------------------------------------
# Continuous incremental top-k (EDBT'20 flavor): the same top-3-per-window
# aggregate as plans/tpch.topk_incremental_per_window, maintained by the
# state store over the stream — the rank lives INSIDE the agg, which is what
# makes it streamable.
# ---------------------------------------------------------------------------


from .tpch import TOPK_WINDOW_ORACLE, _topk_window_agg


@register("stream_topk_incremental", TOPK_WINDOW_ORACLE)
def stream_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = _topk_window_agg(
        events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    )
    return run_to_table(spark, agg, "complete")


# ---------------------------------------------------------------------------
# The full reference pipeline through the streaming machinery in one query:
# stream-static enrich join -> watermarked sliding window agg -> post-agg
# alert filter (StreamingWithKafkaJoinedData.scala:46 + SlidingWindow.scala:
# 52-66 chained, as the reference runs them across two programs via the
# joined-sensor-data topic). Complete mode keeps every window, so the
# drained result equals the batch flagship and shares its oracle.
# ---------------------------------------------------------------------------

from .parity import FLAGSHIP_ORACLE, flagship_alert  # noqa: E402  (one body, one oracle)


@register("stream_flagship_alert", FLAGSHIP_ORACLE)
def stream_flagship_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    alerts = flagship_alert(
        events_stream(spark, sf_dir), load_table(spark, sf_dir, "customer")
    )
    return run_to_table(spark, alerts, "complete")


# ---------------------------------------------------------------------------
# T4 deepened: explicit-user-state gap sessionizer (streaming/stateful.py)
# — the state-machine template updateStateByKey hints at. Emits CLOSED
# sessions; the oracle derives the same set in SQL (gap sessionization
# minus each key's final, still-open session).
# ---------------------------------------------------------------------------


@register(
    "stream_sessionizer_closed",
    """
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN date_diff('second',
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts)
                        > 1800
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), sessions AS (
        SELECT user_id, ts, value,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ), per_session AS (
        SELECT user_id, sid,
               min(ts) AS session_start, max(ts) AS session_end,
               count(*) AS n_events, round(sum(value), 2) AS session_value,
               max(sid) OVER (PARTITION BY user_id) AS max_sid
        FROM sessions GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events, session_value
    FROM per_session WHERE sid <> max_sid
    """,
)
def stream_sessionizer_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import stateful_sessionizer

    out = stateful_sessionizer(
        events_stream(spark, sf_dir).select("user_id", "ts", "value"),
        gap_seconds=1800,
    )
    table = run_to_table(spark, out, "append")
    return table.select(
        "user_id", "session_start", "session_end", "n_events",
        F.round("session_value", 2).alias("session_value"),
    )


# ---------------------------------------------------------------------------
# Streaming greedy sequence packing: the pack_sequences_greedy fold
# as arbitrary keyed state — one open (seq, fill) pair per shard carried
# across micro-batches, each doc's assignment emitted exactly once
# (append). The bounded single-batch drain equals the batch operator, so
# the oracle is the same recursive CTE.
# ---------------------------------------------------------------------------

from .textprep import PACK_GREEDY_ORACLE, _PACK_CAP  # noqa: E402


@register("stream_pack_greedy", PACK_GREEDY_ORACLE)
def stream_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import stateful_greedy_packer

    docs = documents_stream(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    out = stateful_greedy_packer(docs, cap=_PACK_CAP)
    return run_to_table(spark, out, "append", require_single_batch=True)


# ---------------------------------------------------------------------------
# Decontamination AT INGEST: the batch text_decontaminate check as a
# stream-static join — arriving docs explode to n-grams and semi-join the
# broadcast benchmark set, so contaminated docs are flagged the moment
# they enter the pipeline (map-side per micro-batch, no streaming state at
# all: the gram explode + broadcast lookup needs no watermark and the
# per-doc count is confined to each arriving doc's own rows via a batch
# groupBy inside the doc — here the aggregation keys on doc_id, which is
# unique per arrival, so append mode works through foreachBatch semantics).
# Implementation note: a streaming groupBy(doc_id) would be stateful; we
# instead count gram hits per doc WITHIN the row via array_intersect on
# the collected benchmark gram array — zero state, pure projection.
# ---------------------------------------------------------------------------

from .textprep import _BENCH_GRAMS_CTE, _DECON_N  # noqa: E402


@register(
    "stream_decontaminate",
    f"""
    WITH {_BENCH_GRAMS_CTE.strip()},
    bg AS (SELECT DISTINCT gram FROM bench_grams),
    cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    cg AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - {_DECON_N - 1}, 0)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
                   AS grams
        FROM cw
    ),
    bga AS (SELECT list(gram) AS bg FROM bg)
    SELECT doc_id,
           CAST(len(list_intersect(grams, bg)) AS BIGINT) AS n_hit_ngrams
    FROM cg CROSS JOIN bga
    WHERE len(list_intersect(grams, bg)) > 0
    """,
)
def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contaminated docs flagged at ingest: per arriving doc, the count of
    its distinct {_DECON_N}-grams that appear in the benchmark set. The
    benchmark gram ARRAY is collected once from the static relation and
    broadcast inside the plan (a scalar subquery at 100 TB memory cost =
    |eval-set grams|, exactly what decontamination broadcasts anyway);
    array_intersect keeps the whole check a stateless projection."""
    from ..functions.text import shingles_from_words

    from .textprep import _bench_grams_df

    docs = load_table(spark, sf_dir, "documents")
    bench_gram_array = (
        _bench_grams_df(docs)
        .select("gram")
        .distinct()
        .agg(F.collect_list("gram").alias("bg"))
    )
    stream = (
        documents_stream(spark, sf_dir)
        .select("doc_id", F.split("text", " ").alias("_w"))
        .select(
            "doc_id",
            F.array_distinct(shingles_from_words("_w", _DECON_N)).alias("grams"),
        )
    )
    flagged = (
        stream.crossJoin(F.broadcast(bench_gram_array))
        .select(
            "doc_id",
            F.size(F.array_intersect("grams", "bg")).cast("long").alias(
                "n_hit_ngrams"
            ),
        )
        .filter(F.col("n_hit_ngrams") > 0)
    )
    return run_to_table(spark, flagged, "append")


# ---------------------------------------------------------------------------
# Streaming quality-drift monitor: the at-ingest twin of
# dq_quality_drift — per-source mean logistic quality maintained as ONE
# streaming aggregation (complete mode), z-scored against a STATIC
# baseline (the across-shard moments, prefetched from the batch table:
# two scalars, a driver fetch of the same class as zorder's bounds row).
# In production the baseline is yesterday's materialized moments; scoring
# each micro-batch against it is exactly this plan. The drained
# availableNow result equals the batch query, so they share one oracle.
# ---------------------------------------------------------------------------

from .textprep import QUALITY_DRIFT_ORACLE, quality_p_col  # noqa: E402


@register("stream_quality_drift", QUALITY_DRIFT_ORACLE)
def stream_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    base_src = (
        load_table(spark, sf_dir, "documents")
        .select("source", quality_p_col().alias("quality_p"))
        .groupBy("source")
        .agg(F.round(F.avg("quality_p"), 6).alias("mean_q"))
    )
    base = base_src.agg(
        F.round(F.avg("mean_q"), 6).alias("g_mean"),
        F.round(F.stddev_samp("mean_q"), 6).alias("g_sd"),
    ).first()  # two scalars — the static baseline the stream scores against
    # Fail LOUDLY on a degenerate baseline instead of emitting null/inf
    # z-scores that silently diverge from the batch oracle: stddev_samp is
    # NULL below 2 sources and 0 when every per-source mean coincides.
    if base["g_mean"] is None or base["g_sd"] is None or base["g_sd"] == 0:
        raise ValueError(
            "stream_quality_drift: degenerate quality baseline"
            f" (g_mean={base['g_mean']}, g_sd={base['g_sd']}) — need >= 2"
            " sources with distinct mean quality to z-score against"
        )
    agg = (
        documents_stream(spark, sf_dir)
        .select("source", quality_p_col().alias("quality_p"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality_p"), 6).alias("mean_q"),
        )
    )
    z = F.round((F.col("mean_q") - F.lit(base["g_mean"])) / F.lit(base["g_sd"]), 4)
    scored = agg.select(
        "source", "n_docs", "mean_q", z.alias("z"), (F.abs(z) >= 2.0).alias("drift_flag")
    )
    return run_to_table(spark, scored, "complete")


# ---------------------------------------------------------------------------
# Streaming ANN probe: vectors arrive on a stream and
# are answered against the STATIC corpus — the serving shape of the IVF
# family. Streams cannot rank with window functions, so the two rank steps
# of the batch plan are re-expressed stream-legally:
# - probe-bucket selection happens MAP-SIDE per query row: the centroid
#   table — k-means-trained, so EXACTLY _KMEANS_K rows at any corpus size
#   (a stride pick would collect N/50 full vectors to the driver) — is
#   fetched once to the driver and
#   embedded as a literal array; slice(array_sort(transform(...))) picks
#   the n_probe nearest buckets inside codegen;
# - the per-query top-k is a BOUNDED keyed-state fold
#   (streaming.stateful.stateful_topk_fold):
#   each micro-batch merges its candidates into the stored best-k and keeps
#   exactly k, so state is O(k) per query key. A complete-mode
#   slice(array_sort(collect_list(...))) would hold EVERY probed
#   candidate (~ n_probe/k of the corpus) per query in one state row
#   before the emit-time slice — the state-space version of the
#   corpus-proportional-literal problem the FIXED-K rule forbids.
# Drained availableNow result == sim_ivf_kmeans_topk, so it shares that
# oracle (the SQL replays Lloyd training exactly).
# ---------------------------------------------------------------------------

from .llm import _IVF_KMEANS_SQL, _KMEANS_K  # noqa: E402  (same result/oracle)


# The guarded literal builder lives in operators.similarity; this name is
# the streaming modules' import path.
from ..operators.similarity import _centroid_literal_array  # noqa: E402


@register("stream_ann_probe", _IVF_KMEANS_SQL)
def stream_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine, cosine_pandas
    from ..operators.similarity import assign_buckets, kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(emb, k=_KMEANS_K, iterations=2)
    cent_arr = _centroid_literal_array(cent.collect(), _KMEANS_K)
    assigned = assign_buckets(
        emb,
        cent.select(F.col("cent_id").alias("vec_id"), F.col("cv").alias("embedding")),
    ).select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"), "bucket")

    q = (
        embeddings_stream(spark, sf_dir)
        .filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    )
    scored_cents = F.transform(
        cent_arr,
        lambda s: F.struct(
            (-F.round(cosine(F.col("qv"), s["cv"]), 4)).alias("neg"),
            s["cent_id"].alias("cent_id"),
        ),
    )
    probed = q.select(
        "q_id", "qv",
        F.explode(
            F.transform(
                F.slice(F.array_sort(scored_cents), 1, 2), lambda s: s["cent_id"]
            )
        ).alias("bucket"),
    )
    cand = (
        probed.join(assigned, "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "n_id", F.round(cosine_pandas("qv", "nv"), 4).alias("cos")
        )
    )
    topk = stateful_topk_fold(cand, k=5)
    return run_to_table(spark, topk, "update")


# ---------------------------------------------------------------------------
# Streaming cohort retention: the live-dashboard
# twin of cohort_daily_retention. Cohort assignment (user -> first-seen
# day) is a MATERIALIZED dimension — in production yesterday's cohort map,
# here derived once from the static batch table (the stream_quality_drift
# baseline pattern) — so the stream side is one stream-static broadcast
# join plus ONE streaming aggregation: exact distinct-user counts via
# size(collect_set(user_id)) (count(DISTINCT) is not streamable; the set
# state per (cohort, offset) cell is the standard exact-distinct cost —
# approx_count_distinct is the drop-in at 100 TB if cells get hot).
# Drained availableNow result == the batch matrix, so they share one
# oracle.
# ---------------------------------------------------------------------------

from .windows_stats import COHORT_RETENTION_ORACLE  # noqa: E402


def stream_cohort_retention_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-drain streaming plan, exposed for plan-shape tests.

    The cohort map GROWS WITH USERS, so it must NOT carry a hard-coded
    broadcast hint: it is eagerly checkpointed so the
    planner sees its real size and picks broadcast while it fits under
    autoBroadcastJoinThreshold, falling back to a shuffled equi-join beyond
    — exactly the degradation a 100x scale-up needs.
    """
    cohort_map = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).alias("cohort_day"))
        .localCheckpoint()
    )
    activity = (
        events_stream(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select("user_id", F.date_trunc("day", "ts").alias("d"))
        .join(cohort_map, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("d", "cohort_day").cast("long").alias("day_offset"),
        )
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.size(F.collect_set("user_id")).cast("long").alias("n_active")
    )


@register("stream_cohort_retention", COHORT_RETENTION_ORACLE)
def stream_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    matrix = stream_cohort_retention_plan(spark, sf_dir)
    return run_to_table(spark, matrix, "complete")


# ---------------------------------------------------------------------------
# Streaming volume-anomaly monitor: the at-ingest twin of
# anomaly_minute_zscore. Per-minute counts/sums maintained as ONE
# complete-mode streaming aggregation, z-scored against a STATIC baseline
# (the batch minute-count moments — in production yesterday's materialized
# moments; the stream_quality_drift pattern). Degenerate baselines fail
# loudly instead of emitting null/inf z-scores. Drained availableNow
# result == the batch query, so they share one oracle.
# ---------------------------------------------------------------------------

from .windows_stats import ANOMALY_ZSCORE_ORACLE  # noqa: E402


@register("stream_anomaly_zscore", ANOMALY_ZSCORE_ORACLE)
def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("minute", "ts").alias("minute"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .agg(
            F.round(F.avg(F.col("n_events").cast("double")), 6).alias("mean_n"),
            F.round(F.stddev_samp(F.col("n_events").cast("double")), 6).alias("sd_n"),
        )
        .first()
    )
    if base["mean_n"] is None or base["sd_n"] is None or base["sd_n"] == 0:
        raise ValueError(
            "stream_anomaly_zscore: degenerate volume baseline"
            f" (mean_n={base['mean_n']}, sd_n={base['sd_n']}) — need >= 2"
            " minutes with differing event counts to z-score against"
        )
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.date_trunc("minute", "ts").alias("minute"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    z = F.round(
        (F.col("n_events") - F.lit(base["mean_n"])) / F.lit(base["sd_n"]), 4
    )
    scored = agg.select(
        "minute", "n_events", "sum_value",
        z.alias("z"), (F.abs(z) >= 3.0).alias("is_anomaly"),
    )
    return run_to_table(spark, scored, "complete")


# ---------------------------------------------------------------------------
# Streaming funnel: the live
# final-stage monitor of funnel_view_click_purchase. The earlier stages'
# entry times (first view, first qualifying click) are MATERIALIZED
# dimensions — in production yesterday's stage tables, here derived once
# from the static batch relation (the cohort/quality-drift baseline
# pattern), with the two stage counts driver-fetched as fixed-size
# scalars. The STREAM side is the business end: purchase events
# stream-static join the click map, keep those at/after the user's click
# entry, and ONE streaming aggregation (size(collect_set)) maintains the
# exact distinct purchase-stage count. Drained complete-mode result ==
# the batch one-row summary, so they share one oracle.
# ---------------------------------------------------------------------------

from .windows_stats import FUNNEL_ORACLE  # noqa: E402


def stream_funnel_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-drain streaming plan, exposed for plan-shape tests.

    The click-stage map is PER-USER, i.e. unbounded in the data — no
    hard-coded broadcast hint. Both stage tables are
    checkpoint-materialized (the count() below forces the lazy checkpoint),
    so the planner has accurate stats: broadcast while small, shuffled
    equi-join at scale.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .localCheckpoint(eager=False)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .localCheckpoint(eager=False)
    )
    n_view = v.count()  # two fixed-size stage scalars (materialized dims)
    n_click = c.count()
    if n_view == 0 or n_click == 0:
        raise ValueError(
            "stream_funnel: degenerate stage tables"
            f" (n_view={n_view}, n_click={n_click}) — upstream stages must"
            " be non-empty for conversion ratios to exist"
        )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(
            F.col("user_id").isNotNull() & (F.col("event_type") == "purchase")
        )
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
    )
    agg = purchases.groupBy().agg(
        F.size(F.collect_set("user_id")).cast("long").alias("n_purchase")
    )
    return agg.select(
        F.lit(n_view).cast("long").alias("n_view"),
        F.lit(n_click).cast("long").alias("n_click"),
        "n_purchase",
        F.round(F.lit(float(n_click)) / n_view, 4).alias("view_to_click"),
        F.round(F.col("n_purchase").cast("double") / n_click, 4)
            .alias("click_to_purchase"),
    )


@register("stream_funnel", FUNNEL_ORACLE)
def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    summary = stream_funnel_plan(spark, sf_dir)
    return run_to_table(spark, summary, "complete")


# ---------------------------------------------------------------------------
# Streaming Markov transition monitor: the
# at-ingest twin of paths_markov_transitions. The pair mining runs through
# applyInPandasWithState holding ONLY each user's last event — O(1) per-key
# state, the bounded-state alternative to the batch collect (which needs
# the _PATH_MAX_EVENTS cap precisely because it accumulates history). The
# drained pair stream is then counted/normalized batch-side; on a bounded
# single-batch drain the pairs equal the batch derivation exactly (and the
# 10k cap never binds on test data), so both twins share MARKOV_ORACLE.
# ---------------------------------------------------------------------------

from ..streaming.stateful import stateful_transition_pairs  # noqa: E402
from .windows_stats import MARKOV_ORACLE  # noqa: E402


@register("stream_markov_transitions", MARKOV_ORACLE)
def stream_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
    )
    # Twin-divergence guard: MARKOV_ORACLE embeds the batch
    # _PATH_MAX_EVENTS rank cap; the stateful miner enforces the same
    # bound INSIDE its O(1) state (pair counter) and fails the offending
    # key at ingest — no post-drain audit job.
    from .windows_stats import _PATH_MAX_EVENTS

    pairs = stateful_transition_pairs(ev, pair_cap=_PATH_MAX_EVENTS - 1)
    drained = run_to_table(spark, pairs, "append", require_single_batch=True)
    c = drained.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    wsrc = Window.partitionBy("src")
    return c.select(
        "src", "dst", "n",
        F.round(F.col("n") / F.sum("n").over(wsrc).cast("double"), 4).alias("p"),
    )


# ---------------------------------------------------------------------------
# Streaming image-dedup probe: the at-ingest NEAR-dup complement of
# stream_dedup_fingerprint's exact check — every arriving image is
# fingerprinted (real decode -> aHash, mapInPandas works unchanged on a
# stream) and probed against a STATIC fingerprint catalog via the
# Hamming-band chunks: a stream-static BROADCAST equi-join on
# (chunk_id, chunk_val), hamming computed in codegen, append mode, no
# stream-side state at all. Here the catalog is the same corpus the
# stream delivers, so the drained pairs equal the batch self-join and
# share dedup_image_phash's oracle; in production the catalog is
# yesterday's index (broadcast while dim-sized, shuffle join beyond).
# Multi-chunk matches dedupe batch-side after the drain.
# ---------------------------------------------------------------------------


from .llm import IMAGE_PHASH_PAIRS_ORACLE  # noqa: E402


def _media_probe_plan(spark: SparkSession, sf_dir: str, fingerprint) -> DataFrame:
    """Shared at-ingest media-dedup probe shape (image aHash / audio
    envelope / audio scalogram differ ONLY in the fingerprint stage):
    static Hamming-band chunk catalog over the exact corpus, stream side
    fingerprinted map-side, stream-static equi-join on (chunk_id,
    chunk_val), hamming in codegen, no stream-side state.

    The catalog is 4x|corpus| rows — CORPUS-proportional, so no
    hard-coded broadcast hint. The eager
    localCheckpoint gives the planner its true size: broadcast while
    dim-sized, shuffled equi-join beyond. ``fingerprint`` maps a
    (doc_id, text) relation to (doc_id, phash) through the real
    synthesize -> decode -> hash stack.
    """
    from ..operators.dedup import phash_chunks, phash_hamming
    from .llm import _exact_corpus

    catalog = phash_chunks(
        fingerprint(_exact_corpus(spark, sf_dir))
    ).localCheckpoint()

    ds = documents_stream(spark, sf_dir).select("doc_id", "text")
    plants = ds.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    probe = phash_chunks(fingerprint(ds.unionByName(plants))).alias("s")
    cat = catalog.alias("c")
    return (
        probe.join(
            cat,
            (F.col("s.chunk_id") == F.col("c.chunk_id"))
            & (F.col("s.chunk_val") == F.col("c.chunk_val"))
            & (F.col("s.doc_id") < F.col("c.doc_id")),
        )
        .select(
            F.col("s.doc_id").alias("id_a"),
            F.col("c.doc_id").alias("id_b"),
            phash_hamming(F.col("s.phash"), F.col("c.phash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )


def stream_image_phash_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-drain streaming plan, exposed for plan-shape tests."""
    from ..operators.dedup import image_phash_fingerprints
    from ..operators.multimodal import attach_synthetic_image

    return _media_probe_plan(
        spark,
        sf_dir,
        lambda df: image_phash_fingerprints(attach_synthetic_image(df)),
    )


@register("stream_image_phash", IMAGE_PHASH_PAIRS_ORACLE)
def stream_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = stream_image_phash_plan(spark, sf_dir)
    drained = run_to_table(spark, pairs, "append")
    return drained.distinct()


# ---------------------------------------------------------------------------
# Streaming audio-dedup probe: the audio twin of
# stream_image_phash, completing the at-ingest modality matrix. Every
# arriving clip is rendered/decoded through the REAL WAV path and envelope-
# hashed map-side (mapInPandas works unchanged on a stream); the resulting
# phash column is modality-agnostic, so the SAME phash_chunks Hamming-band
# machinery and the SAME stream-static equi-join shape (task-1-fixed: no
# broadcast hint, planner-chosen by catalog size) apply verbatim. Shares
# dedup_audio_envelope's oracle: the static catalog is the exact corpus the
# stream delivers (+ higher-id plants that the s.doc_id < c.doc_id guard
# keeps out of the pair set), so the drained pairs equal the batch
# self-join.
# ---------------------------------------------------------------------------


from .llm import AUDIO_ENVELOPE_PAIRS_ORACLE  # noqa: E402


def stream_audio_envelope_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-drain streaming plan, exposed for plan-shape tests."""
    from ..operators.dedup import audio_envelope_fingerprints
    from ..operators.multimodal import attach_synthetic_audio

    return _media_probe_plan(
        spark,
        sf_dir,
        lambda df: audio_envelope_fingerprints(
            attach_synthetic_audio(df), hash_size=8
        ),
    )


@register("stream_audio_envelope", AUDIO_ENVELOPE_PAIRS_ORACLE)
def stream_audio_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = stream_audio_envelope_plan(spark, sf_dir)
    drained = run_to_table(spark, pairs, "append")
    return drained.distinct()


# ---------------------------------------------------------------------------
# Streaming spectral-dedup probe: the Haar-scalogram twin — catches
# at-ingest duplicates whose loudness contour was altered but whose
# spectral shape survives. Same probe shape, same oracle-sharing argument.
# ---------------------------------------------------------------------------


from .llm import AUDIO_SPECTRAL_PAIRS_ORACLE  # noqa: E402


def stream_audio_spectral_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-drain streaming plan, exposed for plan-shape tests."""
    from ..operators.dedup import audio_spectral_fingerprints
    from ..operators.multimodal import attach_synthetic_audio

    return _media_probe_plan(
        spark,
        sf_dir,
        lambda df: audio_spectral_fingerprints(
            attach_synthetic_audio(df), levels=4, segments=16
        ),
    )


@register("stream_audio_spectral", AUDIO_SPECTRAL_PAIRS_ORACLE)
def stream_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = stream_audio_spectral_plan(spark, sf_dir)
    drained = run_to_table(spark, pairs, "append")
    return drained.distinct()


# ---------------------------------------------------------------------------
# Streaming video-dedup probe: the VIDEO twin completing the
# at-ingest modality matrix (image/audio envelope/audio spectral/video).
# Frame-set Jaccard needs per-PAIR aggregation, so unlike the phash
# probes the stream emits one (id_a, id_b, fh) HIT row per shared frame
# OCCURRENCE (stream-static equi-join on frame_md5 — genuinely no
# stream-side state: in-video repeats are NOT deduped on the stream,
# which would be an unbounded stateful dropDuplicates; they collapse in
# the bounded batch-side distinct after the drain) and the drained hits
# are counted and Jaccard-scored batch-side against the static per-video
# frame counts — the stream_markov pattern (stateless stream stage +
# bounded batch finish). The catalog is the
# corpus the stream delivers, so the result equals the batch self-join
# and shares VIDEO_FRAMES_PAIRS_ORACLE. Catalog side is corpus-
# proportional: checkpoint-materialized, NO broadcast hint (task-1 rule).
# ---------------------------------------------------------------------------


from .llm import VIDEO_FRAMES_PAIRS_ORACLE  # noqa: E402


def _video_frame_sets(df: DataFrame, dedupe: bool = True) -> DataFrame:
    """(doc_id, fh): md5 frame fingerprints per video through the
    one-to-many sample_frames contract (every frame, 16B). ``dedupe``
    collapses repeated in-video frames to SET semantics — required for
    the static catalog (nf counts / one row per distinct hash) but
    deliberately OFF on the streaming probe side: a streaming distinct
    is an unbounded stateful dropDuplicates (corpus x frames state, the
    exact growth class task 1 banned), and duplicate hit rows collapse
    for free in the bounded batch-side distinct after the drain."""
    from ..operators.multimodal import attach_blob, sample_frames

    frames = sample_frames(
        attach_blob(df), every_nth=1, frame_bytes=16, fake=True
    )
    sel = frames.select("doc_id", F.md5("frame").alias("fh"))
    return sel.distinct() if dedupe else sel


def stream_video_frames_plan(spark: SparkSession, sf_dir: str):
    """(pre-drain hit stream, static counts) — exposed for plan tests."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plants_static = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.expr("substring(text, 17)").alias("text"),
    )
    catalog = _video_frame_sets(
        docs.unionByName(plants_static)
    ).localCheckpoint()
    counts = catalog.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))

    ds = documents_stream(spark, sf_dir).select("doc_id", "text")
    plants = ds.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.expr("substring(text, 17)").alias("text"),
    )
    probe = _video_frame_sets(ds.unionByName(plants), dedupe=False).alias("s")
    cat = catalog.alias("c")
    hits = probe.join(
        cat,
        (F.col("s.fh") == F.col("c.fh"))
        & (F.col("s.doc_id") < F.col("c.doc_id")),
    ).select(
        F.col("s.doc_id").alias("id_a"),
        F.col("c.doc_id").alias("id_b"),
        F.col("s.fh").alias("fh"),
    )
    return hits, counts


@register("stream_video_frames", VIDEO_FRAMES_PAIRS_ORACLE)
def stream_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits, counts = stream_video_frames_plan(spark, sf_dir)
    drained = run_to_table(spark, hits, "append")
    shared = (
        drained.distinct()  # multi-batch replays dedupe on the hash key
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ca = counts.select(F.col("doc_id").alias("id_a"), F.col("nf").alias("na"))
    cb = counts.select(F.col("doc_id").alias("id_b"), F.col("nf").alias("nb"))
    jac = F.col("n_shared") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    ).cast("double")
    return (
        shared.join(ca, "id_a")
        .join(cb, "id_b")
        .filter(jac >= 0.5)
        .select(
            "id_a",
            "id_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# K4/K6 driver-proven: the file-sink rows graduate from pytest-local
# to hash-checked driver rows by ROUND-TRIPPING through the real sink
# machinery — stream events through the checkpointed parquet sink (K4,
# month-partitioned like the reference's ParquetOutput) / the
# foreachBatch idempotent writer (K6, batch_id dynamic-partition
# overwrite), read the produced files back, and aggregate; the oracle is
# the equivalent batch SQL over events, so a bug anywhere in the
# write-read path breaks the hash. Sink dirs are fresh tempdirs per call
# (exactly-once RESTART semantics stay pytest-verified —
# test_checkpoint_recovery_exactly_once needs two runs over one
# checkpoint, which a single driver call can't express).
# ---------------------------------------------------------------------------


# Sink/checkpoint tempdirs are tracked and removed at interpreter exit
# — shared helper in plans/__init__.py.
from . import tmp_run_dir as _tmp_sink_dir  # noqa: E402


@register(
    "k4_parquet_sink_roundtrip",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def k4_parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sinks import parquet_sink

    base = _tmp_sink_dir("k4_sink_")
    ev = events_stream(spark, sf_dir).select(
        "event_id", "ts", "event_type", "value",
        F.date_format("ts", "yyyy-MM").alias("month"),
    )
    q = parquet_sink(
        ev, os.path.join(base, "data"), os.path.join(base, "ckpt"),
        partition_by="month",
    )
    q.awaitTermination()
    back = spark.read.parquet(os.path.join(base, "data"))
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "k6_foreach_batch_roundtrip",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(event_id) AS BIGINT) AS min_event_id,
           CAST(max(event_id) AS BIGINT) AS max_event_id
    FROM events GROUP BY event_type
    """,
)
def k6_foreach_batch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sinks import foreach_batch_sink, idempotent_parquet_handler

    base = _tmp_sink_dir("k6_sink_")
    out = os.path.join(base, "data")
    ev = events_stream(spark, sf_dir).select("event_id", "event_type")
    q = foreach_batch_sink(
        ev,
        idempotent_parquet_handler(out),
        checkpoint=os.path.join(base, "ckpt"),
        mode="append",
    )
    q.awaitTermination()
    back = spark.read.parquet(out)  # batch_id partition column rides along
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


@register(
    "k8_multi_sink_fanout",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events WHERE user_id IS NOT NULL GROUP BY event_type
    """,
)
def k8_multi_sink_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 driver-proven: TWO streaming queries off one lineage — the
    same projection drains simultaneously into the checkpointed parquet
    sink AND a memory sink (the reference's console+parquet fan-out
    shape). The returned relation aggregates the parquet read-back; a
    loud equality check pins that both sinks saw the same row count, so
    the fan-out itself (not just one arm) is inside the verified path."""
    from ..streaming.sinks import memory_sink, parquet_sink

    base = _tmp_sink_dir("k8_fanout_")
    out = os.path.join(base, "data")
    ev = events_stream(spark, sf_dir).filter(F.col("user_id").isNotNull()).select(
        "event_id", "user_id", "event_type"
    )
    mem_name = f"k8_mem_{uuid.uuid4().hex[:8]}"
    q1 = parquet_sink(ev, out, os.path.join(base, "ckpt"))
    q2 = memory_sink(ev, mem_name, mode="append")
    q1.awaitTermination()
    q2.awaitTermination()
    back = spark.read.parquet(out)
    n_parquet, n_mem = back.count(), spark.table(mem_name).count()
    if n_parquet != n_mem:
        raise AssertionError(
            f"fan-out sinks disagree: parquet={n_parquet} memory={n_mem}"
        )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "t2_checkpoint_restart_roundtrip",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def t2_checkpoint_restart_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 driver-proven: per-query checkpoint EXACTLY-ONCE across a
    restart, in one call — drain the bounded source into the parquet sink,
    then start a SECOND query on the SAME checkpoint + path. The restarted
    query finds the source fully committed and must write NOTHING; any
    offset-tracking bug duplicates rows and breaks the hash against plain
    batch SQL. (The crash-mid-batch variant needs fault injection and
    stays pytest: test_checkpoint_recovery_exactly_once.)"""
    from ..streaming.sinks import parquet_sink

    base = _tmp_sink_dir("t2_restart_")
    out, ckpt = os.path.join(base, "data"), os.path.join(base, "ckpt")
    ev = events_stream(spark, sf_dir).select("event_id", "event_type")
    parquet_sink(ev, out, ckpt).awaitTermination()
    # restart on the same checkpoint: must be a no-op, not a re-ingest
    ev2 = events_stream(spark, sf_dir).select("event_id", "event_type")
    parquet_sink(ev2, out, ckpt).awaitTermination()
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))


@register(
    "t3_default_checkpoint_roundtrip",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events WHERE user_id IS NOT NULL GROUP BY event_type
    """,
)
def t3_default_checkpoint_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 driver-proven: the SESSION-DEFAULT checkpoint location
    (reference Basic.scala's spark.sql.streaming.checkpointLocation
    conf) — the sink declares NO checkpointLocation of its own, the query
    checkpoints under the session conf dir (loudly verified non-empty),
    and the read-back aggregates against batch SQL."""
    base = _tmp_sink_dir("t3_default_")
    out, ckpt_root = os.path.join(base, "data"), os.path.join(base, "ckpt_root")
    prev = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt_root)
    try:
        ev = events_stream(spark, sf_dir).filter(
            F.col("user_id").isNotNull()
        ).select("user_id", "event_type")
        q = (
            ev.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)  # no checkpointLocation: session default
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.checkpointLocation")
        else:
            spark.conf.set("spark.sql.streaming.checkpointLocation", prev)
    if not any(os.scandir(ckpt_root)):
        raise AssertionError(
            f"session-default checkpoint dir {ckpt_root} unused"
        )
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


# ---------------------------------------------------------------------------
# Streaming count-min sketch: the mergeable-sketch story ON A STREAM.
# The d x w cell table is exactly the state complete-mode maintains for a
# (j, bucket) count aggregation — fixed at 1024 cells regardless of stream
# length, the textbook bounded-state summary. Heavy-hitter scoring (exact
# top-20 from the static batch relation, estimate = min over the key's d
# drained cells) finishes batch-side; on a bounded drain the cells equal
# the batch sketch, so both twins share one oracle.
# ---------------------------------------------------------------------------

from .windows_stats import cms_cells, cms_hashed, cms_score  # noqa: E402
from . import ORACLE as _ORACLE_REG  # noqa: E402


@register("stream_countmin_users", _ORACLE_REG["sketch_countmin_users"])
def stream_countmin_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )
    cells = run_to_table(spark, cms_cells(cms_hashed(ev)), "complete")
    # Scoring (exact top-20 + min-cell estimates) is the SAME code path as
    # the batch twin — only the cells relation differs.
    return cms_score(spark, sf_dir, cells)


# ---------------------------------------------------------------------------
# Streaming quantile sketch: the histogram-cell
# twin of stream_countmin_users. The grid bounds are the sketch's
# CONFIGURATION (a 1-row static relation — broadcast is always safe on a
# fixed-size side); each arriving value is bucketed map-side and the
# <= _QSK_W-cell count table is exactly the bounded state complete mode
# maintains. Read-off + exact-rank scoring finishes batch-side through the
# same quantile_score the batch twin uses, so a bounded drain shares its
# oracle verbatim.
# ---------------------------------------------------------------------------

from .windows_stats import (  # noqa: E402
    quantile_bounds,
    quantile_cells,
    quantile_score,
    quantile_vals,
)


@register("stream_quantile_values", _ORACLE_REG["sketch_quantile_values"])
def stream_quantile_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEPLOYMENT CONTRACT: the grid bounds here are
    computed batch-side BEFORE the stream runs — the bounds are the
    sketch's epoch CONFIGURATION, exactly like the Bloom filter's bits/m
    or the BPE serving row's merge table: in production they come from a
    prior epoch's materialized (mn, mx) and the stream buckets against
    that fixed grid. A truly self-contained at-ingest build that derives
    its own bounds is stream_quantile_twophase below."""
    bounds = quantile_bounds(quantile_vals(spark, sf_dir))
    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(F.col("value").cast("double").alias("value"))
    )
    # quantile_cells works unchanged on a streaming DataFrame — ONE cell
    # construction shared with the batch twin (the cms_cells idiom; an
    # inline copy here could drift under the shared oracle).
    drained = run_to_table(spark, quantile_cells(ev, bounds), "complete")
    return quantile_score(spark, sf_dir, drained, bounds)


# ---------------------------------------------------------------------------
# Streaming HLL distinct sketch: the third sketch twin, completing
# batch+stream symmetry for the whole sketch family (count-min, quantile
# histogram, HLL). Each arriving order is hashed map-side (stateless md5 +
# rank projection shared with the batch twin via hll_hashed) and the
# register fold — groupBy MAX — is the ONLY streaming state: complete-mode,
# capped at groups x 256 rows no matter how long the stream runs (MAX is
# idempotent and monotone, the textbook streaming-sketch combine). Grid
# fill + estimate + exact error surface run batch-side on the drained
# registers through the same hll_grid_fill/hll_score the batch twin uses,
# so the bounded drain shares HLL_SKETCH_ORACLE verbatim.
# ---------------------------------------------------------------------------

from .windows_stats import (  # noqa: E402
    hll_fold,
    hll_grid_fill,
    hll_hashed,
    hll_score,
)

_ORDERS_HLL_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)


def orders_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded view of orders.parquet, schema-pruned to the two columns
    the HLL twin needs (parquet matches by name, so the declared subset
    schema doubles as scan pruning)."""
    return (
        spark.readStream.schema(_ORDERS_HLL_SCHEMA)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    )


@register("stream_hll_distinct", _ORACLE_REG["sketch_hll_distinct"])
def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    regs = run_to_table(
        spark, hll_fold(hll_hashed(orders_stream(spark, sf_dir))), "complete"
    )
    groups = (
        load_table(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    )
    return hll_score(spark, sf_dir, hll_grid_fill(regs, groups))


# ---------------------------------------------------------------------------
# At-ingest pretrain gate: the streaming twin of
# pipeline_pretrain_v3's front door. Every arriving doc is, in ONE
# streaming query (a union of two stateless arms over the same source —
# no stream-stream join, no stream-side aggregation state):
#   arm 1 (per-doc): text-fingerprinted and probed against the exact-dedup
#     STORE (dedup_incremental_exact's shape: left-outer stream-static
#     equi-join on the word-set md5), and quality-scored map-side
#     (text_quality_logit's threshold);
#   arm 2 (per-chunk hit): its COVER image — synthesized from the first
#     _GATE_COVER_LEN chars, the thumbnail/cover fingerprint that survives
#     tail edits — is probed against the near-dup chunk catalog
#     (_media_probe_plan's Hamming-band shape).
# Both static sides are corpus-proportional: checkpoint-materialized, NO
# broadcast hint (the stream-static-join rule; pinned in
# test_stream_static_joins_unhinted_equi). The drained rows collapse
# per-doc batch-side into keep/drop with the FIRST matching reason
# (exact_dup > near_dup_image > low_quality > ok) — the batch decision for
# the same corpus, which is exactly what the oracle replays (store = even
# doc ids; arriving = odd ids + exact re-crawls of every 6th doc (+300000)
# + tail-edited re-uploads of every 10th doc (+500000, text || ' zz'):
# same cover image, different word set — the near-dup-not-exact path).
# ---------------------------------------------------------------------------

from .llm import _FP_SQL, _PHASH_NIBS_CTE  # noqa: E402
from .textprep import _quality_cte_sql  # noqa: E402

_GATE_QUALITY_LT = 0.5  # text_quality_logit's published keep threshold
_GATE_COVER_LEN = 32  # cover payload length; every testdata doc is longer

PRETRAIN_GATE_ORACLE = f"""
    WITH store AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
    arriving AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 300000 AS doc_id, text
        FROM documents WHERE doc_id % 6 = 0
        UNION ALL
        SELECT doc_id + 500000 AS doc_id, text || ' zz' AS text
        FROM documents WHERE doc_id % 10 = 0
    ),
    sfp AS (SELECT DISTINCT {_FP_SQL.format(t='text')} AS fp FROM store),
    afp AS (SELECT doc_id, {_FP_SQL.format(t='text')} AS fp FROM arriving),
    corpus AS (
        SELECT doc_id, substring(text, 1, {_GATE_COVER_LEN}) AS text FROM store
        UNION ALL
        SELECT doc_id, substring(text, 1, {_GATE_COVER_LEN}) AS text
        FROM arriving
    ),
    {_PHASH_NIBS_CTE.strip()},
    hits AS (
        SELECT DISTINCT a.doc_id
        FROM nibs a JOIN nibs b
          ON (a.doc_id % 2 = 1 OR a.doc_id >= 300000)
         AND b.doc_id % 2 = 0 AND b.doc_id < 300000
        WHERE CAST(list_sum(list_transform(range(1, 17),
                j -> bit_count(xor(a.nb[j], b.nb[j])))) AS INT) <= 3
    ),
    {_quality_cte_sql('arriving').strip()}
    SELECT a.doc_id,
           CASE WHEN s.fp IS NOT NULL OR h.doc_id IS NOT NULL
                     OR q.quality_p < {_GATE_QUALITY_LT}
                THEN 'drop' ELSE 'keep' END AS decision,
           CASE WHEN s.fp IS NOT NULL THEN 'exact_dup'
                WHEN h.doc_id IS NOT NULL THEN 'near_dup_image'
                WHEN q.quality_p < {_GATE_QUALITY_LT} THEN 'low_quality'
                ELSE 'ok' END AS reason
    FROM afp a
    LEFT JOIN sfp s ON a.fp = s.fp
    LEFT JOIN hits h ON a.doc_id = h.doc_id
    JOIN quality q ON a.doc_id = q.doc_id
    """


def _gate_cover(df: DataFrame) -> DataFrame:
    """(doc_id, text=cover payload): the leading _GATE_COVER_LEN chars the
    synthetic cover image derives from — stable under tail edits."""
    return df.select(
        "doc_id", F.substring("text", 1, _GATE_COVER_LEN).alias("text")
    )


def stream_pretrain_gate_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-drain streaming plan (both arms unioned), exposed for the
    hint-free plan-shape test."""
    from ..functions.text import fingerprint
    from ..operators.dedup import (
        image_phash_fingerprints,
        phash_chunks,
        phash_hamming,
    )
    from ..operators.multimodal import attach_synthetic_image
    from .textprep import quality_p_col

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = docs.filter(F.col("doc_id") % 2 == 0)
    store_fps = (
        store.select(fingerprint("text").alias("s_fp"))
        .distinct()
        .localCheckpoint()
    )
    catalog = phash_chunks(
        image_phash_fingerprints(attach_synthetic_image(_gate_cover(store)))
    ).localCheckpoint()

    ds = documents_stream(spark, sf_dir).select("doc_id", "text")
    plants_exact = ds.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )
    plants_media = ds.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    arriving = (
        ds.filter(F.col("doc_id") % 2 == 1)
        .unionByName(plants_exact)
        .unionByName(plants_media)
    )

    doc_arm = (
        arriving.select(
            "doc_id",
            fingerprint("text").alias("fp"),
            quality_p_col().alias("quality_p"),
        )
        .join(store_fps, F.col("fp") == F.col("s_fp"), "left_outer")
        .select(
            "doc_id",
            F.when(F.col("s_fp").isNotNull(), 1).otherwise(0)
                .alias("exact_hit"),
            "quality_p",
            F.lit(0).alias("img_hit"),
        )
    )
    probe = phash_chunks(
        image_phash_fingerprints(attach_synthetic_image(_gate_cover(arriving)))
    ).alias("s")
    img_arm = (
        probe.join(
            catalog.alias("c"),
            (F.col("s.chunk_id") == F.col("c.chunk_id"))
            & (F.col("s.chunk_val") == F.col("c.chunk_val")),
        )
        .filter(phash_hamming(F.col("s.phash"), F.col("c.phash")) <= 3)
        .select(
            F.col("s.doc_id").alias("doc_id"),
            F.lit(0).alias("exact_hit"),
            F.lit(None).cast("double").alias("quality_p"),
            F.lit(1).alias("img_hit"),
        )
    )
    return doc_arm.unionByName(img_arm)


@register("stream_pretrain_gate", PRETRAIN_GATE_ORACLE)
def stream_pretrain_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keep/drop + reason per arriving doc; the per-doc collapse (max of
    the flag columns; every doc has exactly one doc-arm row carrying its
    quality score) and the reason priority run batch-side on the bounded
    drain."""
    drained = run_to_table(
        spark, stream_pretrain_gate_plan(spark, sf_dir), "append"
    )
    agg = drained.groupBy("doc_id").agg(
        F.max("exact_hit").alias("exact_hit"),
        F.max("img_hit").alias("img_hit"),
        F.max("quality_p").alias("quality_p"),
    )
    reason = (
        F.when(F.col("exact_hit") == 1, "exact_dup")
        .when(F.col("img_hit") == 1, "near_dup_image")
        .when(F.col("quality_p") < _GATE_QUALITY_LT, "low_quality")
        .otherwise("ok")
    )
    return agg.select("doc_id", reason.alias("reason")).select(
        "doc_id",
        F.when(F.col("reason") == "ok", "keep").otherwise("drop")
            .alias("decision"),
        "reason",
    )


# ---------------------------------------------------------------------------
# Streaming Bloom decontamination probe: the
# fourth and final sketch twin, completing batch+stream symmetry for the
# whole deterministic-sketch family (count-min = frequency, histogram =
# quantiles, HLL = distinct, Bloom = membership). stream_decontaminate
# broadcasts the RAW eval-gram array, which grows with the benchmark
# suite; the Bloom BITS relation stays <= _BLOOM_M_CAP rows forever — the
# relation a 100 TB ingest actually ships to executors. The probe is
# completely STATELESS: each arriving doc explodes to its distinct grams
# map-side, the _BLOOM_K bit positions are computed as COLUMNS
# (bloom_pos_col — the same md5 definition _bloom_positions explodes into
# rows), and membership is _BLOOM_K chained stream-static inner
# equi-joins against the broadcast bits relation: a gram survives iff
# EVERY position is set, exactly the exploded form's count(*) = k without
# the streaming aggregation it would need. Surviving (doc_id, gram) rows
# drain append-mode; the per-doc collapse + exact audit arm run
# batch-side through the same bloom_score the batch twin uses, so the
# bounded drain shares BLOOM's oracle verbatim.
# ---------------------------------------------------------------------------

from .textprep import (  # noqa: E402
    _BLOOM_K,
    _bench_grams_df,
    bloom_bits,
    bloom_m,
    bloom_pos_col,
    bloom_score,
)


def stream_bloom_probe_plan(
    spark: SparkSession, sf_dir: str, bits: DataFrame, mrel: DataFrame
) -> DataFrame:
    """Pre-drain streaming plan (gram explode -> k chained broadcast
    probes), exposed for the broadcast-pinned plan-shape test. Both static
    sides are constant-bounded (bits <= _BLOOM_M_CAP rows, mrel is the
    1-row m config), so the broadcast hints are CORRECT here — the
    opposite case from the corpus-proportional stream-static sides the
    stream-static-join rule un-hints."""
    from ..functions.text import shingles_from_words
    from .textprep import _DECON_N

    stream = (
        documents_stream(spark, sf_dir)
        .select("doc_id", F.split("text", " ").alias("_w"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(shingles_from_words("_w", _DECON_N))
            ).alias("gram"),
        )
    )
    probe = stream.crossJoin(F.broadcast(mrel)).select(
        "doc_id",
        "gram",
        *[
            bloom_pos_col(F.col("gram"), F.col("m"), j)
            for j in range(_BLOOM_K)
        ],
    )
    hit = probe
    for j in range(_BLOOM_K):
        bj = bits.withColumnRenamed("pos", f"bpos{j}")
        hit = hit.join(
            F.broadcast(bj), F.col(f"pos{j}") == F.col(f"bpos{j}")
        ).drop(f"bpos{j}", f"pos{j}")
    return hit.select("doc_id", "gram")


@register(
    "stream_bloom_decontaminate", _ORACLE_REG["sketch_bloom_decontaminate"]
)
def stream_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-ingest Bloom membership probe: per arriving doc, the distinct
    grams flagged by the eval-set Bloom filter vs the exact set, sharing
    the batch twin's oracle on a bounded drain. The filter (bits + 1-row m
    config) is built batch-side from the eval set — in production it is
    yesterday's materialized filter, OR-merged across builders
    (test_bloom_bits_merge) — and localCheckpoint-materialized so the
    per-micro-batch probes replay a computed relation, not the gram
    explode that derived it."""
    docs = load_table(spark, sf_dir, "documents")
    bg = _bench_grams_df(docs).select("gram").distinct().localCheckpoint()
    mrel = bloom_m(bg).localCheckpoint()
    bits = bloom_bits(bg, mrel).localCheckpoint()
    drained = run_to_table(
        spark, stream_bloom_probe_plan(spark, sf_dir, bits, mrel), "append"
    )
    return bloom_score(spark, sf_dir, drained, bg)


# ---------------------------------------------------------------------------
# At-ingest BPE tokenization: closes the
# trainer->serving loop the way the sketch twins close batch->stream.
# train_bpe_merges LEARNS the merge table; this query SERVES it on a
# document stream. The table is trained batch-side (in production:
# yesterday's published tokenizer — the epoch-config contract, same class
# as the quantile sketch's grid bounds) and, being <= _BPE_ROUNDS rows by
# construction, embeds in the streaming plan as LITERAL regexp_replace
# patterns (the FIXED-K discipline: constant-bounded config may live in
# the plan; corpus-proportional relations may not). The whole streaming
# arm is ONE map-side projection — encode each doc's [a-z]+ words
# (two-space symbol encoding, '|' word separators so merges cannot cross
# words), run the merge chain, count token runs — zero joins, zero
# shuffles, zero state (plan-pinned by test_stream_bpe_tokenize_mapside).
# Surface per doc: n_words, n_chars_az (character-level token count =
# pre-merge symbols), n_tokens (post-merge), fertility = tokens/word.
# ---------------------------------------------------------------------------

from .textprep import (  # noqa: E402
    _BPE_ROUNDS,
    STREAM_BPE_TOKENIZE_ORACLE,
    bpe_word_freqs,
)

_BPE_STREAM_WORDS_SQL = "filter(split(text, ' '), w -> w rlike '^[a-z]+$')"


def stream_bpe_tokenize_plan(
    spark: SparkSession, sf_dir: str, merges: list[tuple]
) -> DataFrame:
    """Pre-drain streaming plan (encode -> literal merge chain -> counts),
    exposed for the zero-shuffle plan-shape test."""
    from ..operators.bpe import merge_pattern

    enc = F.expr(
        "concat_ws('|', transform(_ws, w -> regexp_replace(w, '(.)', ' $1 ')))"
    )
    for _rnd, a, b, _m, _pc in merges:  # training order — later merges
        pat, rep = merge_pattern(a, b)  # consume earlier merged symbols
        enc = F.regexp_replace(enc, pat, rep)
    return (
        documents_stream(spark, sf_dir)
        .select("doc_id", F.expr(_BPE_STREAM_WORDS_SQL).alias("_ws"))
        .filter(F.size("_ws") > 0)
        .select(
            "doc_id",
            F.size("_ws").cast("long").alias("n_words"),
            F.length(F.concat_ws("", F.col("_ws"))).cast("long")
            .alias("n_chars_az"),
            enc.alias("enc"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars_az",
            F.expr("CAST(size(regexp_extract_all(enc, '[a-z]+', 0)) AS BIGINT)")
            .alias("n_tokens"),
        )
        .withColumn(
            "fertility",
            F.round(F.col("n_tokens").cast("double") / F.col("n_words"), 4),
        )
    )


@register("stream_bpe_tokenize", STREAM_BPE_TOKENIZE_ORACLE)
def stream_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per arriving doc: word/char/BPE-token counts + fertility under the
    merge table train_bpe_merges learns on the batch corpus. The oracle
    replays the training rounds (shared _BPE_W0_CTE chain) and then the
    doc-level merge chain, so the learned literals and the replayed m1..mN
    are provably the same merges."""
    from ..operators.bpe import train_bpe

    merges, _enc = train_bpe(
        bpe_word_freqs(load_table(spark, sf_dir, "documents")), _BPE_ROUNDS
    )
    # The oracle unrolls exactly _BPE_ROUNDS doc-level CTEs; a trainer that
    # exhausted pairs early would empty the oracle's m{i} CROSS JOIN and
    # fail parity confusingly downstream — fail HERE instead (a real
    # raise, not assert, so python -O can't strip the guard).
    if len(merges) != _BPE_ROUNDS:
        raise ValueError(
            f"train_bpe returned {len(merges)} merges, oracle unrolls "
            f"{_BPE_ROUNDS} — corpus too small for the fixed round count"
        )
    return run_to_table(
        spark, stream_bpe_tokenize_plan(spark, sf_dir, merges), "append"
    )


# ---------------------------------------------------------------------------
# Two-phase self-contained quantile sketch:
# stream_quantile_values scores against batch-computed bounds (the
# epoch-config contract its docstring states); THIS twin derives its own
# bounds from the stream, making the whole sketch self-contained. Phase 1
# folds (mn, mx, n) as a complete-mode global aggregation — 1 row of
# state forever, the minimal mergeable fold. Phase 2 re-drains the
# bounded source bucketing against the PHASE-1 DRAINED bounds (a
# stream-static broadcast of one row). In production the two phases are
# consecutive epochs — today's grid uses yesterday's bounds fold; on a
# bounded drain the two passes see identical data, so the result equals
# the batch sketch and shares its oracle verbatim.
# ---------------------------------------------------------------------------


@register("stream_quantile_twophase", _ORACLE_REG["sketch_quantile_values"])
def stream_quantile_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    def vals_stream() -> DataFrame:
        return (
            events_stream(spark, sf_dir)
            .filter(F.col("value").isNotNull())
            .select(F.col("value").cast("double").alias("value"))
        )

    # Phase 1: the bounds fold — quantile_bounds works unchanged on a
    # streaming DataFrame (min/max/count are the textbook mergeable agg).
    bounds = run_to_table(spark, quantile_bounds(vals_stream()), "complete")
    # Phase 2: bucket a fresh pass of the source against the drained
    # 1-row bounds; the <= _QSK_W-cell fold is the only state.
    cells = run_to_table(
        spark, quantile_cells(vals_stream(), bounds), "complete"
    )
    return quantile_score(spark, sf_dir, cells, bounds)


# ---------------------------------------------------------------------------
# Windowed streaming HLL: approximate distinct
# users OVER TIME WINDOWS — the distinct-users-per-hour dashboard every
# serving tier wants, as one streaming query. The register fold keys by
# (tumbling 1h window, event_type, bucket): complete-mode state is
# bounded at windows x groups x _HLL_M rows, and in a production
# append-mode deployment the declared watermark expires closed windows'
# registers, so the bound is ACTIVE windows x groups x 256 forever.
# Grid fill + estimate + exact-rank scoring run batch-side on the drained
# registers through the SAME generalized hll_grid_fill/hll_score the
# orders twins use (group_cols parametrized, definitions unchanged).
# Small-range honesty: an hour x type slice holds a few hundred distinct
# users (n/m ~ 1), squarely the linear-counting regime — zero_regs > 0
# and the wide err_pct ARE the surface, not hidden behind a
# cross-engine-unsafe ln() correction (the sketch_hll_distinct contract).
# ---------------------------------------------------------------------------

from .windows_stats import (  # noqa: E402
    _HLL_ALPHA,
    _HLL_M,
    _HLL_NIBS,
    _HLL_SHIFT,
    _hll_w_sql,
)

_HLL_EV_H_SQL = "md5('hll:' || CAST(user_id AS VARCHAR))"

def _hll_window_oracle(shape: WindowShape, keys: tuple) -> str:
    """ONE oracle generator for the windowed/sliding HLL twins (the
    register-sum and estimate SQL restated per variant could drift): ev
    holds the ``shape`` panes of every (keys..., user_id) row, and the chain
    replays windows_stats.HLL_SKETCH_ORACLE's hashed -> regs -> grid ->
    full_regs -> sk -> exact -> est stages keyed by (window, keys...) — the
    register-rank derivation, fixed-point indicator sum, and pinned est_raw
    op order MUST stay textually in sync with that batch oracle (changing
    its text costs a FORCE_RECHECK slot, so it stays the canonical copy)."""
    gcols = ("window_start", "window_end", *keys)
    ev = pane_sql(shape, ", ".join((*keys, "user_id")),
                  where="user_id IS NOT NULL")
    g = ", ".join(gcols)
    grid_g = ", ".join(f"grid.{c}" for c in gcols)
    sk_g = ", ".join(f"sk.{c}" for c in gcols)
    on_eq = "\n         AND ".join(f"regs.{c} = grid.{c}" for c in gcols)
    nums = ", ".join(str(i + 1) for i in range(len(gcols)))
    nums_b = ", ".join(str(i + 1) for i in range(len(gcols) + 1))
    return f"""
    WITH ev AS ({ev}),
    hashed AS (
        SELECT {g},
               (strpos('{_HLL_NIBS}', substring({_HLL_EV_H_SQL}, 1, 1)) - 1) * 16
                 + (strpos('{_HLL_NIBS}', substring({_HLL_EV_H_SQL}, 2, 1)) - 1)
                 AS bucket,
               CAST(61 - length(trim(LEADING '0'
                                     FROM bin({_hll_w_sql(_HLL_EV_H_SQL)})))
                    AS BIGINT) AS r
        FROM ev
    ),
    regs AS (SELECT {g}, bucket, max(r) AS r
             FROM hashed GROUP BY {nums_b}),
    grid AS (SELECT {g}, b.range AS bucket
             FROM (SELECT DISTINCT {g} FROM ev)
             CROSS JOIN range({_HLL_M}) b),
    full_regs AS (
        SELECT {grid_g}, grid.bucket,
               coalesce(regs.r, 0) AS register
        FROM grid LEFT JOIN regs
          ON {on_eq}
         AND regs.bucket = grid.bucket
    ),
    sk AS (
        SELECT {g},
               sum(CASE WHEN register > {_HLL_SHIFT} THEN 0
                        ELSE (1::BIGINT << ({_HLL_SHIFT} - register)) END)
                   AS s,
               sum(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS zero_regs
        FROM full_regs GROUP BY {nums}
    ),
    exact AS (SELECT {g}, count(DISTINCT user_id) AS n
              FROM ev GROUP BY {nums}),
    est AS (
        SELECT {sk_g},
               CAST(exact.n AS BIGINT) AS exact_n,
               {_HLL_ALPHA}::DOUBLE * {float(_HLL_M * _HLL_M)}::DOUBLE
                 * {float(2 ** _HLL_SHIFT)}::DOUBLE / CAST(sk.s AS DOUBLE)
                 AS est_raw,
               CAST(sk.zero_regs AS BIGINT) AS zero_regs
        FROM sk JOIN exact USING ({g})
    )
    SELECT {g}, exact_n,
           round(est_raw, 4) AS est, zero_regs,
           round((est_raw - exact_n) * 100.0 / exact_n, 4) + 0 AS err_pct
    FROM est
    """



def hll_windowed_fold(
    ev: DataFrame, shape: WindowShape = HOURLY, keys: tuple = ("event_type",)
) -> DataFrame:
    """The windowed HLL register fold — hash each (ts, keys..., user) row
    to (bucket, rank), then windowed_agg max-folds registers per (``shape``
    window, keys..., bucket) under its watermark. THE production
    definition both windowed HLL queries drain and
    tests/test_streaming.py::test_windowed_sketch_watermark_expires_state
    runs in append mode across micro-batches: the watermark bound
    ("state = ACTIVE windows x groups x 256") is a pinned contract, not
    prose."""
    return windowed_agg(
        hll_hashed(ev, key="user_id", group_cols=("ts", *keys)), "ts",
        (*keys, "bucket"), shape.size, shape.slide,
        [F.max("r").alias("r")], shape.watermark,
    )


def _hll_windowed_query(
    spark: SparkSession, sf_dir: str, shape: WindowShape, keys: tuple
) -> DataFrame:
    """The windowed HLL query body: drain ``hll_windowed_fold`` and score
    its registers against a batch exact arm over the same panes."""
    gcols = ("window_start", "window_end", *keys)
    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select("ts", *keys, "user_id")
    )
    ev_b = window_panes(
        load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull()),
        "ts", shape.size, shape.slide, (*keys, "user_id"),
    )
    groups = ev_b.select(*gcols).distinct()
    exact = ev_b.groupBy(*gcols).agg(F.countDistinct("user_id").alias("n"))
    # The exact-distinct and groups batch arms do not depend on the drain:
    # materialize them in parallel with it. The checkpoints double as true
    # stats for the downstream grid and score joins.
    regs_drained, groups, exact = _run_jobs(
        lambda: run_to_table(
            spark, hll_windowed_fold(ev, shape, keys), "complete"
        ),
        lambda: groups.localCheckpoint(),
        lambda: exact.localCheckpoint(),
    )
    return hll_score(
        spark, sf_dir,
        hll_grid_fill(regs_drained, groups, group_cols=gcols),
        group_cols=gcols,
        exact=exact,
    )


@register("stream_hll_windowed", _hll_window_oracle(HOURLY, ("event_type",)))
def stream_hll_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _hll_windowed_query(spark, sf_dir, HOURLY, ("event_type",))


# ---------------------------------------------------------------------------
# At-ingest MinHash near-dup probe: the TEXT near-dup member of the
# at-ingest probe matrix — stream_image_phash/audio/video probe media
# fingerprints, stream_dedup_fingerprint probes EXACT text fingerprints;
# this probes NEAR-dup text the production way: MinHash + LSH bands. The
# stream arm is completely stateless because the per-doc signature is
# computed WITHIN THE ROW — sig_j = array_min over the doc's shingle-hash
# array of the affine permutation (a_j*h + b_j) % P, the same constants
# operators/dedup.minhash_signatures min-aggregates (min over a set is
# min over its array) — so no streaming groupBy is needed; the 5 band
# values are md5s of signature slices (identical to lsh_band_values') and
# stack-explode to (band_id, band_val) rows that equi-join the STORE's
# banded catalog. The catalog is corpus-proportional: checkpoint-
# materialized, UNHINTED (the stream-static-join rule; eighth builder in
# test_stream_static_joins_unhinted_equi). Arriving = odd docs + tail-
# truncated (4/5) copies of every 10th doc under +400000 — the planted
# near-dups land at Jaccard ~0.75 where 5x3 banding recalls ~95%. Hits
# drain append-mode; the per-doc candidate count collapses batch-side.
# ---------------------------------------------------------------------------

from .llm import (  # noqa: E402
    _BANDS as _MH_BANDS,
    _BASE_H as _MH_BASE_H,
    _NUM_HASHES as _MH_NUM_HASHES,
    _SIG_MINS as _MH_SIG_MINS,
    _BAND_SELECTS as _MH_BAND_SELECTS,
    SHINGLES_CTE as _MH_SHINGLES_CTE,
)
from ..operators import dedup as _DD  # noqa: E402

# Planted near-dups land at source doc_id + this offset. Both sides use it
# symmetrically (neither side may rely on max(doc_id) < offset implicitly) —
# the store is "even AND below the plant range" in BOTH texts, so a corpus
# whose ids ever crossed the offset would diverge loudly in neither.
_MH_PLANT_OFFSET = 400000

STREAM_MINHASH_PROBE_ORACLE = f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_MH_PLANT_OFFSET} AS doc_id,
               substring(text, 1, CAST(floor(4*length(text)/5.0) AS INT))
                   AS text
        FROM documents WHERE doc_id % 10 = 0
    ),
    {_MH_SHINGLES_CTE.strip()},
    hashed AS (SELECT doc_id, {_MH_BASE_H} AS h FROM sh),
    sig AS (
        SELECT doc_id,
           {_MH_SIG_MINS}
        FROM hashed GROUP BY doc_id
    ),
    bands AS (
    {_MH_BAND_SELECTS}
    ),
    hits AS (
        SELECT DISTINCT a.doc_id, s.doc_id AS store_id
        FROM bands a JOIN bands s
          ON a.band_id = s.band_id AND a.band_val = s.band_val
        WHERE (a.doc_id % 2 = 1 OR a.doc_id >= {_MH_PLANT_OFFSET})
          AND s.doc_id % 2 = 0 AND s.doc_id < {_MH_PLANT_OFFSET}
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_store_candidates
    FROM hits GROUP BY doc_id
    """


def stream_minhash_probe_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-drain streaming plan (within-row signature -> band explode ->
    unhinted catalog equi-join), exposed for the hint-free plan test."""
    from ..functions.text import shingles_from_words

    catalog = (
        _mh_catalog_seed(_docs_table(spark, sf_dir))  # the store's band rows
        .withColumnRenamed("doc_id", "store_id")
        .localCheckpoint()
    )

    ds = documents_stream(spark, sf_dir).select("doc_id", "text")
    plants = ds.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + _MH_PLANT_OFFSET).alias("doc_id"),
        F.expr(
            "substring(text, 1, CAST(floor(4*length(text)/5.0) AS INT))"
        ).alias("text"),
    )
    arriving = ds.filter(F.col("doc_id") % 2 == 1).unionByName(plants)
    hashed = (
        arriving.select("doc_id", F.split("text", " ").alias("_w"))
        .select("doc_id", shingles_from_words("_w", 3).alias("_sh"))
        .select(
            "doc_id",
            F.expr(_DD.MINHASH_HASH_ARRAY_SQL).alias("_hs"),
        )
    )
    # Within-row signature: array_min over the shingle-hash array of the
    # SAME affine family minhash_signatures min-aggregates — a pure
    # projection, so the arriving side never shuffles or holds state
    # (single definition shared with the parity test).
    sig_cols = _DD.minhash_sig_cols_within_row(_MH_NUM_HASHES)
    probe_bands = _DD.lsh_band_values(
        hashed.select("doc_id", *sig_cols),
        num_hashes=_MH_NUM_HASHES,
        bands=_MH_BANDS,
    )
    return probe_bands.join(catalog, ["band_id", "band_val"]).select(
        "doc_id", "store_id"
    )


@register("stream_minhash_probe", STREAM_MINHASH_PROBE_ORACLE)
def stream_minhash_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per arriving doc with >= 1 LSH band hit against the ingested-store
    catalog: the number of DISTINCT store docs it banded with — the
    candidate set a production gate would verify (or drop on, at the
    recall/precision point the band geometry sets). Collapse runs
    batch-side on the bounded drain (a doc's band hits need no order)."""
    drained = run_to_table(
        spark, stream_minhash_probe_plan(spark, sf_dir), "append"
    )
    return drained.groupBy("doc_id").agg(
        F.countDistinct("store_id").cast("long").alias("n_store_candidates")
    )


# ---------------------------------------------------------------------------
# At-ingest near-dup detection with a GROWING band catalog: a web-crawl
# ingest must detect near-dups against EVERYTHING ingested so far,
# including docs that arrived five minutes ago. Each micro-batch
# computes its band rows within the row (_batch_band_rows), probes the
# catalog AS OF its batch (partitions with batch_id < current — the
# read-your-predecessors bound) plus same-batch smaller-id rows, then
# appends its OWN band rows as a dynamic-overwrite partition. Every
# ingested doc joins the catalog regardless of its own status (a near-dup
# of a near-dup still bands with both). First arrival wins, arrival order
# is id order by construction, so the oracle replays every count with an
# earlier-prior rule over one global bands relation — batch-split-free.
#
# Scale: per batch, |batch| x bands rows against the band-keyed catalog
# read (UNHINTED — the catalog grows with the corpus) and a
# batch-bounded within-batch self-join; the append is |batch| x bands
# rows, never a catalog rewrite. Hot band buckets at web scale get the
# max_bucket_size cap upstream (dedup_minhash_lsh_capped's trade).
# ---------------------------------------------------------------------------


def _candidate_count_handler(derive, keys: tuple, verify=None):
    """foreachBatch handler factory of the growing-catalog kinds (text
    bands, image chunks): derive the batch's catalog rows, count DISTINCT
    prior docs (earlier partitions + same-batch smaller ids) colliding on
    ``keys`` and passing ``verify`` per arriving doc, append the batch's
    rows. Both writes are (batch_id)-partitioned dynamic overwrites —
    exactly-once on replay, and the batch_id < current bound keeps a
    REPLAYED batch from matching its own rows. Under a TTL window the
    probe sees only the last W batches' rows; appends are unchanged — an
    expired doc's rows simply stop being probed, and would age back in
    only by re-arriving."""

    def factory(io: StateIO):
        def handler(batch_df: DataFrame, batch_id: int) -> None:
            prior = _prior_state(batch_df.sparkSession, io, batch_id)
            rows = derive(batch_df)
            hits = _prior_hits(rows, prior["catalog"], keys, verify)
            io.write(
                batch_id,
                decisions=_count_decisions(
                    batch_df, hits.distinct(), "n_prior_candidates"
                ),
                catalog=rows,
            )

        return handler

    return factory


def _count_decisions(batch: DataFrame, hits: DataFrame, name: str):
    """(doc_id, name) for every arriving doc: its (doc_id, prior_id) hit
    count, 0 when it has none — the one decision projection of the
    counting kinds."""
    counts = hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        batch.select("doc_id")
        .join(counts, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias(name),
        )
    )


def _batch_band_rows(batch_df: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_val) for a micro-batch, computed WITHIN THE
    ROW (the stream_minhash_probe idiom applied to the maintenance
    handlers): sig_j = array_min over the doc's
    shingle-hash array of the same affine family minhash_signatures
    min-aggregates (min over a set = min over its array), band values =
    the shared lsh_band_values md5s. A pure projection — a doc_shingles
    explode + groupBy form would pay a full shuffle of the
    exploded shingle rows PER MICRO-BATCH (profiled ~0.8-1.2s/batch at
    sf0.1, the dominant handler phase). Rows identical: same shingles,
    same permutation constants, duplicate shingles irrelevant to min.
    Checkpointed: one derivation feeds the probe, the within-batch
    self-join AND the catalog append."""
    from ..functions.text import shingles_from_words

    hashed = (
        batch_df.select("doc_id", F.split("text", " ").alias("_w"))
        .select("doc_id", shingles_from_words("_w", 3).alias("_sh"))
        .select("doc_id", F.expr(_DD.MINHASH_HASH_ARRAY_SQL).alias("_hs"))
        # a <n-word doc has NO shingles: the groupBy form (and the
        # oracle's GROUP BY CTE) emits no sig row for it, so the
        # within-row form must drop it too, not band NULL sigs
        .filter(F.size("_hs") > 0)
    )
    return _DD.lsh_band_values(
        hashed.select(
            "doc_id", *_DD.minhash_sig_cols_within_row(_MH_NUM_HASHES)
        ),
        num_hashes=_MH_NUM_HASHES,
        bands=_MH_BANDS,
    ).localCheckpoint()


def _prior_hits(
    rows: DataFrame,
    prior: DataFrame | None,
    keys: tuple,
    verify=None,
) -> DataFrame:
    """(doc_id, prior_id) collisions against every PRIOR ingested doc:
    the equi-join on ``keys`` (band or chunk values) against ``prior``
    (the _prior_state read — None before a seedless spec's first batch,
    which then probes within itself alone) plus same-batch rows with a
    smaller doc_id (arrival order is id order by construction). Every
    pair must pass ``verify`` — a thunk over the row's columns and their
    p_-prefixed prior twins (the image arm's hamming <= 3 on phash vs
    p_phash). Catalog visibility is NOT recursive — every ingested doc's
    rows append regardless of status, so a row is visible iff its batch
    is in the window. May contain duplicates; callers distinct() as
    needed."""
    payload = [c for c in rows.columns if c != "doc_id" and c not in keys]

    def collide(other: DataFrame) -> DataFrame:
        side = other.select(
            *keys,
            F.col("doc_id").alias("prior_id"),
            *[F.col(c).alias("p_" + c) for c in payload],
        )
        out = rows.join(side, list(keys))
        return out if verify is None else out.filter(verify())

    within = (
        collide(rows)
        .filter(F.col("prior_id") < F.col("doc_id"))
        .select("doc_id", "prior_id")
    )
    if prior is None:
        return within
    return collide(prior).select("doc_id", "prior_id").unionByName(within)


# The catalog's plants: 4/5 tail-truncated re-uploads of every 10th doc
# (Jaccard ~0.75 vs their source, where 5x3 banding recalls ~95%).
_TRUNC_SQL = "substring(text, 1, CAST(floor(4*length(text)/5.0) AS INT))"
_MH_FAMILIES = ((10, 0, _MH_PLANT_OFFSET, _TRUNC_SQL),)

# corpus -> shingles -> within-doc signatures -> band rows (doc_id,
# band_id, band_val): the lifecycle oracles' twin of _batch_band_rows.
# _prior_pairs_sql reads bands twice; materialized, DuckDB shingles the
# corpus once instead of once per reference.
_MH_BANDS_CTES = f"""{_MH_SHINGLES_CTE.strip()},
    hashed AS (SELECT doc_id, {_MH_BASE_H} AS h FROM sh),
    sig AS (
        SELECT doc_id,
           {_MH_SIG_MINS}
        FROM hashed GROUP BY doc_id
    ),
    bands AS MATERIALIZED (
    {_MH_BAND_SELECTS}
    )"""
_BAND_MATCH_SQL = "a.band_id = p.band_id AND a.band_val = p.band_val"


def _mh_catalog_oracle(window: int | None = None) -> str:
    """The band catalog's oracle: distinct band-sharing visible priors
    per arrival; ``window`` renders the TTL twin."""
    return _catalog_oracle(
        f"{_arrival_ctes(_MH_FAMILIES)},\n    {_MH_BANDS_CTES}",
        _prior_pairs_sql("bands", _BAND_MATCH_SQL, window=window),
        "n_prior_candidates",
    )


# One oracle for the growing-catalog ingest AND its mid-lifecycle
# compaction twin (the STREAM_DEDUP_STORE_ORACLE sharing pattern):
# compaction preserves the catalog's content exactly, so registering
# both against the same text makes the driver hash-prove it.
STREAM_MH_CATALOG_ORACLE = _mh_catalog_oracle()


def _mh_catalog_seed(docs: DataFrame) -> DataFrame:
    """The ingested store's band rows (even doc ids below the plant
    range) — the band-catalog seed."""
    return _DD.lsh_band_values(
        _DD.minhash_signatures(
            _DD.doc_shingles(
                docs.filter(
                    (F.col("doc_id") % 2 == 0)
                    & (F.col("doc_id") < _MH_PLANT_OFFSET)
                ),
                distinct=False,
            ),
            num_hashes=_MH_NUM_HASHES,
        ),
        num_hashes=_MH_NUM_HASHES,
        bands=_MH_BANDS,
    )


_BAND_KEYS = ("band_id", "band_val")

MH_CATALOG = MaintainedState(
    name="minhash_catalog",
    table=_docs_table,
    relations=(
        Relation(
            "catalog",
            "doc_id long, band_id int, band_val string",
            _mh_catalog_seed,
        ),
    ),
    parts=partial(_odd_plus_plants, families=_MH_FAMILIES),
    arrival_schema=_DOC_ARRIVAL_SCHEMA,
    handler=_candidate_count_handler(_batch_band_rows, _BAND_KEYS),
    decisions="doc_id long, n_prior_candidates long",
    output=("doc_id", "n_prior_candidates"),
)

# Odd/odd near-dups arriving in different files are counted via
# partitions an earlier batch appended
# (test_minhash_catalog_cross_batch_growth).
_lifecycle_query("stream_minhash_catalog_ingest", STREAM_MH_CATALOG_ORACLE, MH_CATALOG)


# ---------------------------------------------------------------------------
# Mid-lifecycle state compaction. The stores accumulate one partition per
# micro-batch, and every "batch_id < current" read pays for each of them.
# Compaction collapses all partitions into one fresh seed partition (one
# read, one write, off the ingest path). It runs MID-INGEST: the first
# arrival files maintain state_a, the collapse seeds state_b, the rest
# ingest against state_b, and the union of both phases' decisions
# registers against the uninterrupted ingest's oracle VERBATIM, so the
# hash proves compaction loses and invents nothing. Phase B's fresh
# checkpoint restarts batch ids at 0 > -1, so the read-your-predecessors
# bound sees the whole compacted state.
# ---------------------------------------------------------------------------


def _compact_state(
    spark: SparkSession, state_dir: str, out_dir: str, rel: Relation
) -> None:
    """Collapse every batch_id partition of an ingest-maintained state
    into ONE fresh batch_id=-1 seed partition. Pure rewrite: appends are
    novel-only (store) / per-doc-unique (catalog), so no dedup pass is
    needed — one scan in, one partition out.

    UNBOUNDED STATE ONLY — incompatible with the retention handlers: a
    TTL'd store re-appends re-admitted fps under new batch_ids (the
    novel-only premise breaks), and collapsing to -1 destroys per-row
    AGE — just-expired content would resurrect for W more batches, then
    the whole store would expire at once at batch W. TTL-compatible
    compaction must rewrite FILES WITHIN each batch_id partition,
    preserving the partition keys — a different operation (run_lifecycle
    refuses compact together with retention_batches)."""
    _overwrite_batch_partition(
        _read_state(spark, state_dir, rel).drop("batch_id"), out_dir, -1, rel
    )


_lifecycle_query("stream_dedup_store_compacted", STREAM_DEDUP_STORE_ORACLE,
                 FP_STORE, compact=True)
_lifecycle_query("stream_minhash_catalog_compacted", STREAM_MH_CATALOG_ORACLE,
                 MH_CATALOG, compact=True)


# ---------------------------------------------------------------------------
# Store retention / TTL. A TTL'd store re-admits content after _TTL_W
# batches of absence. The decision read is partition-pruned on BOTH sides
# (batch_id in [current - W, current)), so the scan is bounded by the
# window, not the store's lifetime. A re-admitted fp appends under its
# new batch_id, restarting its lifetime; duplicates never refresh it.
# Novelty is RECURSIVE (novel at batch b depends on which earlier
# arrivals were novel inside their own windows), so the oracle unrolls it
# over the FIXED 4 arrival batches: nv0/nv1/nv2 are the per-batch append
# sets, and each batch sees exactly the W preceding ones (the seed ages
# out like any append; batch 2 is the first that cannot see it). W is
# hard-coded at 2 in the unrolled CTEs — changing _TTL_W means
# re-deriving them together.
# ---------------------------------------------------------------------------

# Every TTL twin's retention window, in batches.
_TTL_W = 2

STREAM_DEDUP_STORE_RETENTION_ORACLE = f"""
    WITH {_FP_BATCH_CTES},
    ranked AS (
        SELECT doc_id, b, fp,
               row_number() OVER (PARTITION BY fp, b ORDER BY doc_id) AS rnb
        FROM fb WHERE b >= 0
    ),
    seedf AS (SELECT fp FROM fb WHERE b = -1),
    nv0 AS (SELECT fp FROM ranked WHERE b = 0 AND rnb = 1
            AND fp NOT IN (SELECT fp FROM seedf)),
    nv1 AS (SELECT fp FROM ranked WHERE b = 1 AND rnb = 1
            AND fp NOT IN (SELECT fp FROM seedf
                           UNION ALL SELECT fp FROM nv0)),
    nv2 AS (SELECT fp FROM ranked WHERE b = 2 AND rnb = 1
            AND fp NOT IN (SELECT fp FROM nv0
                           UNION ALL SELECT fp FROM nv1))
    SELECT doc_id,
           CASE WHEN rnb > 1 THEN 'duplicate'
                WHEN b = 0 AND fp IN (SELECT fp FROM seedf)
                    THEN 'duplicate'
                WHEN b = 1 AND fp IN (SELECT fp FROM seedf
                                      UNION ALL SELECT fp FROM nv0)
                    THEN 'duplicate'
                WHEN b = 2 AND fp IN (SELECT fp FROM nv0
                                      UNION ALL SELECT fp FROM nv1)
                    THEN 'duplicate'
                WHEN b = 3 AND fp IN (SELECT fp FROM nv1
                                      UNION ALL SELECT fp FROM nv2)
                    THEN 'duplicate'
                ELSE 'novel' END AS status
    FROM ranked
    """


# The +plant re-crawls of seeded content arriving after the seed aged out
# read 'novel' (test_dedup_store_retention_expires_and_readmits).
_lifecycle_query("stream_dedup_store_retention", STREAM_DEDUP_STORE_RETENTION_ORACLE,
                 FP_STORE, retention_batches=_TTL_W)

# Catalog retention is NOT recursive: every ingested doc's rows append
# regardless of its decision, so a row is visible at batch b iff its own
# batch is in [b - W, b - 1] (the seed, batch -1, ages out at b = W), and
# each catalog's TTL oracle is its ingest oracle rendered with the window.
_lifecycle_query("stream_minhash_catalog_retention", _mh_catalog_oracle(_TTL_W),
                 MH_CATALOG, retention_batches=_TTL_W)


# ---------------------------------------------------------------------------
# At-ingest IMAGE near-dup catalog, maintained like the band catalog. Each
# micro-batch renders its docs' synthetic covers through the REAL decode
# -> aHash stack (pandas UDFs work unchanged inside foreachBatch), probes
# catalog chunk partitions batch_id < current on (chunk_id, chunk_val)
# with the hamming <= 3 verify in codegen, counts same-batch smaller-id
# near-dups via a batch-bounded self-join, then appends its OWN chunk
# rows as a dynamic-overwrite partition. The chunk equi-join is
# pigeonhole-complete (phash_chunks), so the oracle replays counts with
# the earlier-prior rule over one global nibs relation. Plants: exact
# re-crawls of every 7th doc under +200000 — even sources are seed dups,
# ODD sources arrived in an earlier batch, so their copies are caught
# purely by appended partitions (test_image_catalog_cross_batch_growth).
# Scale: per batch |batch| x 4 chunk rows against the chunk-keyed
# catalog read (UNHINTED — grows with the corpus) + the hamming verify
# on collisions only; appends never rewrite the catalog.
# ---------------------------------------------------------------------------

# Exact re-crawls of every 7th doc (+200000, the _exact_corpus offset).
_IMG_FAMILIES = ((7, 0, 200000, "text"),)

# hamming(a, p) <= 3 over the aHash nibbles: the oracle twin of _phash_close.
_NIBS_CLOSE_SQL = """CAST(list_sum(list_transform(range(1, 17),
                j -> bit_count(xor(a.nb[j], p.nb[j])))) AS INT) <= 3"""


def _image_catalog_oracle(window: int | None = None) -> str:
    """The image catalog's oracle: distinct hamming<=3 cover near-dups
    among the visible priors per arrival; ``window`` renders the TTL
    twin."""
    return _catalog_oracle(
        f"{_arrival_ctes(_IMG_FAMILIES)},\n    {_PHASH_NIBS_CTE.strip()}",
        _prior_pairs_sql("nibs", verify=_NIBS_CLOSE_SQL, window=window),
        "n_prior_candidates",
    )


STREAM_IMAGE_CATALOG_ORACLE = _image_catalog_oracle()


def _image_chunk_rows(batch_df: DataFrame) -> DataFrame:
    """(doc_id, phash, chunk_id, chunk_val) for a micro-batch through the
    real synthesize -> decode -> aHash -> Hamming-band stack — the image
    twin of _batch_band_rows. Checkpointed: one derivation feeds the
    probe, the within-batch self-join AND the catalog append."""
    from ..operators.dedup import image_phash_fingerprints, phash_chunks
    from ..operators.multimodal import attach_synthetic_image

    return phash_chunks(
        image_phash_fingerprints(
            attach_synthetic_image(batch_df.select("doc_id", "text"))
        )
    ).localCheckpoint()


_CHUNK_KEYS = ("chunk_id", "chunk_val")


def _phash_close():
    """The image arm's collision verify over _prior_hits' pair columns:
    hamming(phash, p_phash) <= 3, in codegen, on chunk collisions only
    (the chunk equi-join is pigeonhole-complete for that bound)."""
    from ..operators.dedup import phash_hamming

    return phash_hamming(F.col("phash"), F.col("p_phash")) <= 3


def _image_catalog_seed(docs: DataFrame) -> DataFrame:
    """The seeded catalog's chunk rows: the even doc ids."""
    return _image_chunk_rows(docs.filter(F.col("doc_id") % 2 == 0))


IMAGE_CATALOG = MaintainedState(
    name="image_catalog",
    table=_docs_table,
    relations=(
        Relation(
            "catalog",
            "doc_id long, phash string, chunk_id int, chunk_val string",
            _image_catalog_seed,
        ),
    ),
    parts=partial(_odd_plus_plants, families=_IMG_FAMILIES),
    arrival_schema=_DOC_ARRIVAL_SCHEMA,
    handler=_candidate_count_handler(
        _image_chunk_rows, _CHUNK_KEYS, _phash_close
    ),
    decisions="doc_id long, n_prior_candidates long",
    output=("doc_id", "n_prior_candidates"),
)


# Chunk-row appends are per-doc-unique, so _compact_state's premise holds
# for the compaction twin.
_lifecycle_query("stream_image_catalog_ingest", STREAM_IMAGE_CATALOG_ORACLE,
                 IMAGE_CATALOG)
_lifecycle_query("stream_image_catalog_compacted", STREAM_IMAGE_CATALOG_ORACLE,
                 IMAGE_CATALOG, compact=True)
_lifecycle_query("stream_image_catalog_retention", _image_catalog_oracle(_TTL_W),
                 IMAGE_CATALOG, retention_batches=_TTL_W)


# ---------------------------------------------------------------------------
# At-ingest embedding near-dup catalog. Each micro-batch's vectors
# hyperplane-band-code (dedup_embedding_cosine's fixed bands/bits/seed
# constants — FIXED hyperplanes, so codes never depend on corpus growth),
# probe the code catalog's partitions batch_id < current on (band_id,
# code), cosine-verify collisions via the Arrow-batched numpy kernel
# (rounded to 4 places, the embedding_near_pairs contract) against the
# vector store, then append their own code rows AND vectors as
# dynamic-overwrite batch partitions. Two state relations (codes +
# vectors) keep the catalog bands-wide while each vector is stored once.
# Candidates are band collisions; exact copies hash identically in every
# band and a pair at cos=0.99 survives >= 1 of 16 bands with prob
# 1-3e-9, so the all-pairs earlier-prior oracle stays the checker, as it
# does for dedup_embedding_cosine. Plants = exact re-crawls of every 5th
# vector (+100000): even sources dup the SEED, odd sources arrived in an
# earlier micro-batch (test_embedding_catalog_cross_batch_growth pins
# growth + replay).
# Scale: per batch one band-keyed catalog join + one id-keyed vector
# fetch (both UNHINTED — state grows with the corpus), verify only on
# collisions (~n/2^bits bucket occupancy), appends |batch| x bands code
# rows + |batch| vectors, never a state rewrite.
# ---------------------------------------------------------------------------

# Exact re-crawls of every 5th vector (+100000), over the embeddings
# keyed by doc_id like the Spark table (_emb_table).
_EMB_FAMILIES = ((5, 0, 100000, "embedding"),)
_EMB_SOURCE_SQL = """(SELECT vec_id AS doc_id,
               CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings)"""

# cos(a, p) >= 0.99 at round-4, rendered from llm's _DOT/_NORM templates
# so it can never silently diverge from dedup_embedding_cosine's rule.
_COS_CLOSE_SQL = "round({dot} / ({na} * {np}), 4) >= 0.99".format(
    dot=_DOT.format(a="a.embedding", b="p.embedding"),
    na=_NORM.format(a="a.embedding"),
    np=_NORM.format(a="p.embedding"),
)


def _emb_catalog_oracle(window: int | None = None) -> str:
    """The embedding catalog's oracle: distinct cosine>=0.99 near-dups
    among the visible priors per arrival (by vec_id, the table's id);
    ``window`` renders the TTL twin."""
    return _catalog_oracle(
        _arrival_ctes(_EMB_FAMILIES, _EMB_SOURCE_SQL, "embedding"),
        _prior_pairs_sql("corpus", verify=_COS_CLOSE_SQL, window=window),
        "n_prior_neardups",
        id_col="vec_id",
    )


STREAM_EMB_CATALOG_ORACLE = _emb_catalog_oracle()


def _emb_code_rows(batch_df: DataFrame) -> DataFrame:
    """(doc_id, band_id, code) hyperplane-LSH band codes for a
    micro-batch's vectors — the embedding twin of _batch_band_rows,
    sharing embedding_near_pairs' fixed family constants (its
    bands/bits/seed DEFAULTS). Checkpointed: one pandas-UDF derivation
    feeds the probe, the within-batch self-join AND the catalog
    append."""
    from ..operators.dedup import hyperplane_band_codes

    return (
        batch_df.select(
            "doc_id",
            hyperplane_band_codes("embedding").alias("_codes"),
        )
        .select("doc_id", F.posexplode("_codes").alias("band_id", "code"))
        .localCheckpoint()
    )


def _embedding_catalog_handler(io: StateIO):
    """foreachBatch handler: band-code the batch's vectors, collect
    candidate (doc_id, prior_id) band collisions (earlier partitions +
    same-batch smaller ids), cosine-verify them round-4 against the
    vector store, count DISTINCT verified priors, append the batch's
    code rows and vectors. All writes dynamic-overwrite batch
    partitions — exactly-once on replay; reads bounded batch_id <
    current. Under a TTL window BOTH state reads see only the last W
    batches (non-recursive — every vector's rows always append, so a
    row is visible iff its batch is in [current - W, current))."""
    from ..functions.vectors import cosine_pandas

    def vectors(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("doc_id").alias("prior_id"), F.col("embedding").alias("pv")
        )

    def handler(batch_df: DataFrame, batch_id: int) -> None:
        prior = _prior_state(batch_df.sparkSession, io, batch_id)
        batch = batch_df.localCheckpoint()
        codes = _emb_code_rows(batch)
        hits = (
            _prior_hits(codes, prior["codes"], ("band_id", "code"))
            .distinct()
            .join(
                batch.select("doc_id", F.col("embedding").alias("av")),
                "doc_id",
            )
            .join(
                vectors(batch).unionByName(vectors(prior["vectors"])),
                "prior_id",
            )
            .filter(F.round(cosine_pandas("av", "pv"), 4) >= 0.99)
            .select("doc_id", "prior_id")
        )
        io.write(
            batch_id,
            decisions=_count_decisions(batch, hits, "n_prior_neardups"),
            codes=codes,
            vectors=batch.select("doc_id", "embedding"),
        )

    return handler


_EMB_ARRIVAL_SCHEMA = "doc_id long, embedding array<float>"


def _emb_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings relation with vec_id renamed to doc_id — the id
    column the shared id-ordered arrival plumbing keys on."""
    return load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )


def _emb_catalog_seed(emb: DataFrame) -> DataFrame:
    """The seeded vectors: the even ids."""
    return emb.filter(F.col("doc_id") % 2 == 0)


EMB_CATALOG = MaintainedState(
    name="embedding_catalog",
    table=_emb_table,
    relations=(
        # The code derivation checkpoints eagerly inside its seed thunk,
        # so it overlaps the vector and arrival writes.
        Relation(
            "codes",
            "doc_id long, band_id int, code int",
            lambda emb: _emb_code_rows(_emb_catalog_seed(emb)),
        ),
        Relation(
            "vectors", "doc_id long, embedding array<float>", _emb_catalog_seed
        ),
    ),
    parts=partial(_odd_plus_plants, families=_EMB_FAMILIES),
    arrival_schema=_EMB_ARRIVAL_SCHEMA,
    handler=_embedding_catalog_handler,
    decisions="doc_id long, n_prior_neardups long",
    output=("doc_id AS vec_id", "n_prior_neardups"),
)


# Code-row and vector appends are per-vector-unique, so the compaction
# twin collapses BOTH relations.
_lifecycle_query("stream_embedding_catalog_ingest", STREAM_EMB_CATALOG_ORACLE,
                 EMB_CATALOG)
_lifecycle_query("stream_embedding_catalog_compacted", STREAM_EMB_CATALOG_ORACLE,
                 EMB_CATALOG, compact=True)
_lifecycle_query("stream_embedding_catalog_retention", _emb_catalog_oracle(_TTL_W),
                 EMB_CATALOG, retention_batches=_TTL_W)


# ---------------------------------------------------------------------------
# At-ingest pretrain gate v2 gates every arriving doc against MAINTAINED
# state, so a duplicate of a doc that arrived two micro-batches ago is
# caught: the exact-dup arm reads the fp store (per-batch novel-fp
# appends), the near-dup arm the growing MinHash band catalog (per-batch
# band appends), and the quality arm stays a stateless projection.
# Reason priority: exact_dup > near_dup > low_quality > ok. The plants
# exercise every path CROSS-BATCH:
#   +300000  exact re-crawls of seeded (even) docs  -> exact via seed
#   +500000  exact copies of EARLIER-ARRIVING odd docs -> exact via
#            fps an earlier micro-batch APPENDED
#   +700000  tail-truncated (4/5) re-uploads of earlier odd docs
#            -> near-dup via band rows an earlier batch APPENDED
# Maintenance rules are the stores': novel fps append per batch
# (first-arrival-wins), EVERY ingested doc's band rows join the catalog
# regardless of its own gate decision (a near-dup of a near-dup still
# bands with both), all reads bounded batch_id < current, all writes
# dynamic-overwrite partitions (replays overwrite themselves). Arrival
# order is id order by construction, so the oracle replays the whole
# lifecycle order-free: seed-store hit OR smaller-id same-fp arrival =
# exact; band share with any visible prior = near.
#
# v3 adds the MAINTAINED image modality: every batch's cover images (the
# prefix-stable _gate_cover derivation — the cover renders from the
# first _GATE_COVER_LEN chars, so tail edits keep it identical) probe the
# chunk catalog AS OF the batch and then append their own chunk rows.
# Reason priority: exact_dup > near_dup > near_dup_image > low_quality >
# ok. The fourth plant family (+900000, sources %8=1 — odd, so they
# ARRIVED in an earlier micro-batch rather than being seeded) keeps the
# first _GATE_COVER_LEN chars and REVERSES the tail: same cover image,
# texturally unrelated shingles — caught by chunk rows an earlier batch
# appended, through the image arm, not the text arms (pinned by
# test_pretrain_gate_v3_cross_batch_image).
#
# Scale: per batch one fp-keyed store join + one band-keyed catalog join
# (both UNHINTED — state grows with the corpus) + a batch-bounded
# within-batch self-join; appends are |novel| + |batch| x bands rows,
# never a state rewrite. Cross-batch pin:
# tests/test_streaming.py::test_pretrain_gate_v2_cross_batch_state.
# ---------------------------------------------------------------------------

_GATE_V2_FAMILIES = _FP_FAMILIES + (
    (12, 1, 500000, "text"),
    (10, 1, 700000, _TRUNC_SQL),
)
_GATE_V3_FAMILIES = _GATE_V2_FAMILIES + (
    (8, 1, 900000,
     f"concat(substring(text, 1, {_GATE_COVER_LEN}),"
     f" reverse(substring(text, {_GATE_COVER_LEN + 1})))"),
)

from .llm import _rename_ctes  # noqa: E402

# The cover corpus's nibs chain, renamed so it coexists with the
# shingle corpus. ginibs is materialized: _prior_pairs_sql reads it twice.
_GV3_NIBS_CTE = _rename_ctes(
    _PHASH_NIBS_CTE,
    {
        "corpus": "covers",
        "px": "gipx",
        "pixels": "gipixels",
        "stat": "gistat",
        "nibs": "ginibs",
    },
).replace("ginibs AS (", "ginibs AS MATERIALIZED (")


def _gate_oracle(image_arm: bool) -> str:
    """The gate's oracle: each arrival's first matching reason — exact
    (a seed fp or a smaller-id same-fp arrival), near (a band shared with
    a visible prior), with ``image_arm`` near-image (a hamming<=3 cover
    of a visible prior), low quality — and keep iff none matched."""
    families = _GATE_V3_FAMILIES if image_arm else _GATE_V2_FAMILIES
    fp = _LLM_FP_SQL.format(t="text")
    image_ctes = image_reason = image_join = ""
    if image_arm:
        image_ctes = f"""
    covers AS (
        SELECT doc_id, substring(text, 1, {_GATE_COVER_LEN}) AS text
        FROM corpus
    ),
    {_GV3_NIBS_CTE.strip()},
    imghits AS ({_prior_pairs_sql("ginibs", verify=_NIBS_CLOSE_SQL)}),"""
        image_reason = """
                    WHEN i.doc_id IS NOT NULL THEN 'near_dup_image'"""
        image_join = """
        LEFT JOIN (SELECT DISTINCT doc_id FROM imghits) i
          ON r.doc_id = i.doc_id"""
    # batched is materialized so DuckDB joins corpus with bmap once, not
    # at each of its references (the fp store's fb rule).
    return f"""
    WITH {_arrival_ctes(families)},
    batched AS MATERIALIZED (
        SELECT c.doc_id, c.text, bmap.b
        FROM corpus c JOIN bmap ON bmap.doc_id = c.doc_id
    ),
    arriving AS (SELECT doc_id, text FROM batched WHERE b >= 0),
    sfp AS (SELECT DISTINCT {fp} AS fp FROM batched WHERE b = -1),
    ranked AS (
        SELECT doc_id, {fp} AS fp,
               row_number() OVER (PARTITION BY {fp} ORDER BY doc_id) AS rn
        FROM arriving
    ),
    {_MH_BANDS_CTES},
    nearhits AS ({_prior_pairs_sql("bands", _BAND_MATCH_SQL)}),{image_ctes}
    {_quality_cte_sql('arriving').strip()}
    SELECT doc_id,
           CASE WHEN reason = 'ok' THEN 'keep' ELSE 'drop' END AS decision,
           reason
    FROM (
        SELECT r.doc_id,
               CASE WHEN s.fp IS NOT NULL OR r.rn > 1 THEN 'exact_dup'
                    WHEN n.doc_id IS NOT NULL THEN 'near_dup'{image_reason}
                    WHEN q.quality_p < {_GATE_QUALITY_LT} THEN 'low_quality'
                    ELSE 'ok' END AS reason
        FROM ranked r
        LEFT JOIN sfp s ON r.fp = s.fp
        LEFT JOIN (SELECT DISTINCT doc_id FROM nearhits) n
          ON r.doc_id = n.doc_id{image_join}
        JOIN quality q ON r.doc_id = q.doc_id
    )
    """


PRETRAIN_GATE_V2_ORACLE = _gate_oracle(image_arm=False)
PRETRAIN_GATE_V3_ORACLE = _gate_oracle(image_arm=True)


def _gate_handler(image_arm: bool):
    """foreachBatch handler factory composing the maintenance arms: decide
    (exact via fp store AS OF batch, near via band catalog AS OF batch, quality
    projection), then append novel fps AND the batch's band rows. All writes
    (decisions, store append, catalog appends) are dynamic-overwrite batch
    partitions. ``image_arm`` composes the MAINTAINED image modality in: the
    batch's cover chunks probe the growing chunk catalog (batch_id < current)
    and then append — without it the v2 twin's decisions stay byte-identical
    (the null img_hit column never matches a CASE arm)."""
    from ..functions.text import fingerprint
    from .textprep import quality_p_col

    def factory(io: StateIO):
        def handler(batch_df: DataFrame, batch_id: int) -> None:
            prior = _prior_state(batch_df.sparkSession, io, batch_id)
            scored = batch_df.select(
                "doc_id",
                "text",
                fingerprint("text").alias("fp"),
                quality_p_col().alias("quality_p"),
            ).localCheckpoint()  # one derivation feeds all arms + appends
            ranked = _fp_ranked(
                scored.select("doc_id", "fp", "quality_p"), prior["store"]
            )
            # The band derivation and the cover-image chunk derivation are
            # independent eager materializations off the one checkpointed
            # scored relation — overlap them.
            derive = [lambda: _batch_band_rows(scored)]
            if image_arm:
                derive.append(lambda: _image_chunk_rows(_gate_cover(scored)))
            derived = _run_jobs(*derive)
            near = (
                _prior_hits(derived[0], prior["catalog"], _BAND_KEYS)
                .select("doc_id")
                .distinct()
                .withColumn("near_hit", F.lit(True))
            )
            joined = ranked.join(near, "doc_id", "left_outer")
            appends = {"store": _novel_fps(ranked), "catalog": derived[0]}
            if image_arm:
                imghit = (
                    _prior_hits(
                        derived[1], prior["imgcatalog"], _CHUNK_KEYS,
                        _phash_close,
                    )
                    .select("doc_id")
                    .distinct()
                    .withColumn("img_hit", F.lit(True))
                )
                joined = joined.join(imghit, "doc_id", "left_outer")
                appends["imgcatalog"] = derived[1]
            else:
                joined = joined.withColumn(
                    "img_hit", F.lit(None).cast("boolean")
                )
            reason = (
                F.when(F.col("hit") | (F.col("rn") > 1), "exact_dup")
                .when(F.col("near_hit"), "near_dup")
                .when(F.col("img_hit"), "near_dup_image")
                .when(F.col("quality_p") < _GATE_QUALITY_LT, "low_quality")
                .otherwise("ok")
            )
            # The decisions write is the slow one (every probe arm in its
            # lineage); the appends backfill its tail.
            io.write(
                batch_id,
                decisions=joined.select("doc_id", reason.alias("reason"))
                .select(
                    "doc_id",
                    F.when(F.col("reason") == "ok", "keep")
                    .otherwise("drop")
                    .alias("decision"),
                    "reason",
                ),
                **appends,
            )

        return handler

    return factory


# Seeds are the shared ingest-arm relations (the CLAUDE.md seed rule):
# the fp seed is _fp_store_seed verbatim; _mh_catalog_seed's
# < _MH_PLANT_OFFSET filter is vacuous here (the parts guard bounds
# every real id far under it), so the band seed is the plain evens
# too; the image seed is the evens' COVER chunks (the prefix-stable
# cover derivation over the maintained-catalog chunker).
GATE_V2 = MaintainedState(
    name="pretrain_gate_v2",
    table=_docs_table,
    relations=FP_STORE.relations + MH_CATALOG.relations,
    parts=partial(_odd_plus_plants, families=_GATE_V2_FAMILIES),
    arrival_schema=_DOC_ARRIVAL_SCHEMA,
    handler=_gate_handler(image_arm=False),
    decisions="doc_id long, decision string, reason string",
    output=("doc_id", "decision", "reason"),
)
GATE_V3 = replace(
    GATE_V2,
    name="pretrain_gate_v3",
    relations=GATE_V2.relations + (
        Relation(
            "imgcatalog",
            IMAGE_CATALOG.relations[0].schema,
            lambda docs: _image_chunk_rows(
                _gate_cover(docs.filter(F.col("doc_id") % 2 == 0))
            ),
        ),
    ),
    parts=partial(_odd_plus_plants, families=_GATE_V3_FAMILIES),
    handler=_gate_handler(image_arm=True),
)

_lifecycle_query("stream_pretrain_gate_v2", PRETRAIN_GATE_V2_ORACLE, GATE_V2)
_lifecycle_query("stream_pretrain_gate_v3", PRETRAIN_GATE_V3_ORACLE, GATE_V3)


# ---------------------------------------------------------------------------
# Ingest-maintained cluster map for the near-dup split. A rep-fp map
# materialized from a batch clustering run lets a brand-new near-dup pair
# arriving between refreshes gate independently, so the map is maintained
# AT ingest with a deterministic incremental clustering derived from the
# band catalog's earlier-prior rule: an
# arriving doc's PARENT is its earliest (min doc_id) band-sharing prior
# — seedless catalog partitions appended by earlier batches, or
# same-batch smaller ids — and the doc adopts its parent's cluster
# REPRESENTATIVE (else founds its own cluster as its own rep). Parent
# ids are strictly smaller than the doc's, so rep resolution follows a
# strictly-decreasing chain: prior-batch parents resolve through the
# maintained (doc_id, rep_id, rep_fp) map in one join; same-batch
# chains resolve in a bounded pointer-chasing loop (<= the batch's
# parent-chain depth iterations, each one equi-join round,
# localCheckpoint-truncated — the connected_components convergence
# idiom). The split gates on the representative's fingerprint, so a
# cluster formed ENTIRELY after stream start (both members arrived via
# the stream, in different micro-batches) still moves as one unit.
#
# NOTE this is deliberately NOT connected components: parent edges form
# a forest keyed on the earliest-prior rule, and a doc with no smaller
# band-sharing neighbor founds its own cluster even if a LARGER
# neighbor later bridges it into another component (doc 3 banding with
# both 1 and 2 parents to 1; doc 2, banding with neither below it,
# stays its own rep). That is the honest at-ingest semantics — cluster
# membership is decided ONCE, at arrival, and never retroactively
# rewritten — and the oracle replays exactly it via the recursive
# parent-chain (root = min of the strictly-decreasing ancestor chain).
# Candidates are band collisions (no jaccard verify): the catalog
# stores band rows only, so the verify would need prior docs' shingle
# sets — the precision trade the n_prior_candidates arms already
# document.
#
# Scale: per batch one band-keyed catalog join + one doc-keyed map join
# (both UNHINTED — state grows with the corpus), the batch-bounded
# within-batch self-join, and |batch| + |batch| x bands appended rows;
# never a state rewrite. Arrival order is id order by construction
# (_id_range_parts), so the oracle is order-free.
# ---------------------------------------------------------------------------

from .llm import NEAR_CORPUS_CTE, near_plants  # noqa: E402
from .textprep import _splitc_case_sql  # noqa: E402

# The chain CTEs (corpus -> bands -> earliest-prior parents -> recursive
# ancestor chain -> roots -> fps) shared by the assignment oracle and the
# cluster-leakage audit oracle — one definition, so the replayed
# semantics cannot diverge between them.
_NDINC_CHAIN_CTES = f"""{NEAR_CORPUS_CTE.strip()},
    {_MH_SHINGLES_CTE.strip()},
    hashed AS (SELECT doc_id, {_MH_BASE_H} AS h FROM sh),
    sig AS (
        SELECT doc_id,
           {_MH_SIG_MINS}
        FROM hashed GROUP BY doc_id
    ),
    bands AS (
    {_MH_BAND_SELECTS}
    ),
    par AS (
        SELECT a.doc_id, min(p.doc_id) AS parent
        FROM bands a JOIN bands p
          ON a.band_id = p.band_id AND a.band_val = p.band_val
         AND p.doc_id < a.doc_id
        GROUP BY a.doc_id
    ),
    chain(doc_id, anc) AS (
        SELECT doc_id, parent FROM par
        UNION ALL
        SELECT c.doc_id, p.parent FROM chain c JOIN par p ON p.doc_id = c.anc
    ),
    root AS (SELECT doc_id, min(anc) AS rep_id FROM chain GROUP BY doc_id),
    fps AS (SELECT doc_id, {_LLM_FP_SQL.format(t='text')} AS fp FROM corpus)"""

SPLIT_BY_NEARDUP_INC_ORACLE = f"""
    WITH RECURSIVE {_NDINC_CHAIN_CTES}
    SELECT f.doc_id,
           {_splitc_case_sql('coalesce(rf.fp, f.fp)')} AS split
    FROM fps f
    LEFT JOIN root r ON f.doc_id = r.doc_id
    LEFT JOIN fps rf ON rf.doc_id = r.rep_id
    """


def _neardup_clustermap_handler(io: StateIO):
    """foreachBatch handler maintaining the incremental cluster map:
    band the batch, pick each doc's earliest band-sharing prior as its
    parent, resolve representatives (map join for prior-batch parents;
    bounded pointer-chasing for same-batch chains), gate the split on
    the rep's fingerprint, then append the batch's map rows AND band
    rows. All three writes are dynamic-overwrite batch partitions —
    exactly-once on replay (reads bounded batch_id < current)."""
    from ..functions.text import fingerprint

    def handler(batch_df: DataFrame, batch_id: int) -> None:
        # seedless: both relations read None before their first write
        prior = _prior_state(batch_df.sparkSession, io, batch_id)
        scored = batch_df.select(
            "doc_id", "text", fingerprint("text").alias("fp")
        ).localCheckpoint()
        bands = _batch_band_rows(scored)
        hits = _prior_hits(bands, prior["catalog"], _BAND_KEYS)
        par = hits.groupBy("doc_id").agg(F.min("prior_id").alias("parent"))
        base = scored.select("doc_id", "fp").join(par, "doc_id", "left_outer")
        if prior["clustermap"] is not None:
            repmap = prior["clustermap"].select(
                F.col("doc_id").alias("parent"), "rep_id", "rep_fp"
            )
            base = base.join(repmap, "parent", "left_outer")
        else:
            base = base.withColumn(
                "rep_id", F.lit(None).cast("long")
            ).withColumn("rep_fp", F.lit(None).cast("string"))
        base = base.localCheckpoint()  # one derivation feeds both arms

        # Founding docs (no parent) rep themselves; prior-batch parents
        # carry their map row. Same-batch parents (rep still null) chase
        # the strictly-decreasing parent chain against the growing
        # resolved set — depth-bounded, so the loop terminates.
        # Loop shape: ONE eager materialization per hop — a single
        # left-outer pass splits the pending set into rows whose ancestor
        # just resolved (rep_id non-null; resolved reps are always
        # non-null by construction) and rows that advance one hop
        # (par_b's inner/outer distinction is immaterial: every same-
        # batch ancestor is in base, and an unresolved ancestor always
        # has a parent, else it would be a founder and resolved).
        # resolved stays a LAZY union over checkpointed pieces, so a hop pays
        # no extra jobs (pending checkpoint + eager resolved-union checkpoint);
        # results are identical — the same (doc_id, rep) pairs resolve at the
        # same hop, only the materialization boundaries moved.
        resolved = base.filter(
            F.col("parent").isNull() | F.col("rep_id").isNotNull()
        ).select(
            "doc_id",
            F.coalesce(F.col("rep_id"), F.col("doc_id")).alias("rep_id"),
            F.coalesce(F.col("rep_fp"), F.col("fp")).alias("rep_fp"),
        )
        pending = base.filter(
            F.col("parent").isNotNull() & F.col("rep_id").isNull()
        ).select("doc_id", F.col("parent").alias("anc"))
        par_b = base.select(
            F.col("doc_id").alias("anc"), F.col("parent").alias("anc2")
        )
        for _ in range(1000):  # anti-hang bound far above any real depth
            if pending.isEmpty():
                break
            res_anc = resolved.select(
                F.col("doc_id").alias("anc"), "rep_id", "rep_fp"
            )
            step = (
                pending.join(res_anc, "anc", "left_outer")
                .join(par_b, "anc", "left_outer")
                .select("doc_id", "rep_id", "rep_fp", "anc2")
                .localCheckpoint()
            )
            resolved = resolved.unionByName(
                step.filter(F.col("rep_id").isNotNull()).select(
                    "doc_id", "rep_id", "rep_fp"
                )
            )
            pending = step.filter(F.col("rep_id").isNull()).select(
                "doc_id", F.col("anc2").alias("anc")
            )
        else:
            raise RuntimeError(
                "_neardup_clustermap_handler: parent chain did not "
                "resolve — strictly-decreasing ids make this unreachable"
            )

        io.write(
            batch_id,
            decisions=resolved.select(
                "doc_id",
                cluster_split_column(F.col("rep_fp")).alias("split"),
            ),
            clustermap=resolved.select("doc_id", "rep_id", "rep_fp"),
            catalog=bands,
        )

    return handler


def _ndinc_arrival_parts(docs: DataFrame) -> list:
    """The whole corpus in 3 id ranges + the near_plants re-crawls
    (+100000, so every real id must sit below it)."""
    m = docs.agg(F.max("doc_id")).first()[0]
    if m is None or m >= 100000:
        raise ValueError(
            f"cluster map arrivals: max doc_id {m} must be below the "
            "near_plants offset 100000"
        )
    return _id_range_parts(docs, near_plants(docs), m)


# Seedless: the catalog and the map first appear at batch 0. Shared by
# the assignment registration, its compaction twin and the leakage audit.
CLUSTER_MAP = MaintainedState(
    name="cluster_map",
    table=_docs_table,
    relations=(
        replace(MH_CATALOG.relations[0], seed=None),
        Relation("clustermap", "doc_id long, rep_id long, rep_fp string"),
    ),
    parts=_ndinc_arrival_parts,
    arrival_schema=_DOC_ARRIVAL_SCHEMA,
    handler=_neardup_clustermap_handler,
    decisions="doc_id long, split string",
    output=("doc_id", "split"),
)

# A near-dup pair whose members BOTH arrive after stream start, in
# different micro-batches, still lands in one split
# (test_stream_split_by_neardup_incremental_cross_batch).
_lifecycle_query("stream_split_by_neardup_incremental", SPLIT_BY_NEARDUP_INC_ORACLE,
                 CLUSTER_MAP)


@register(
    "stream_split_by_neardup_inc_audit",
    f"""
    WITH RECURSIVE {_NDINC_CHAIN_CTES},
    sp AS (
        SELECT f.doc_id,
               {_splitc_case_sql('coalesce(rf.fp, f.fp)')} AS split,
               coalesce(r.rep_id, f.doc_id) AS cluster_id
        FROM fps f
        LEFT JOIN root r ON f.doc_id = r.doc_id
        LEFT JOIN fps rf ON rf.doc_id = r.rep_id
    ),
    tc AS (SELECT DISTINCT cluster_id FROM sp WHERE split = 'train'),
    ev AS (SELECT sp.split, (t.cluster_id IS NOT NULL) AS leaked
           FROM sp LEFT JOIN tc t ON sp.cluster_id = t.cluster_id
           WHERE sp.split <> 'train')
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN leaked THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cluster_leaked,
           round(sum(CASE WHEN leaked THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS cluster_leak_rate
    FROM ev GROUP BY split
    """,
)
def stream_split_by_neardup_inc_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-level leakage audit over the INGEST-MAINTAINED split
    (leaked = an eval doc sharing an incremental cluster with any train
    doc): exactly 0 on every eval split BY CONSTRUCTION — every member
    of a cluster gates on the representative's fingerprint, so a
    cluster is always wholly inside one split — and the driver hash
    proves it against the recursive-chain oracle's replay. The cluster
    key is the maintained map's rep_id (founders rep themselves), the
    split_by_neardup_cluster_audit convention over at-ingest state."""
    decisions, io = run_lifecycle(spark, sf_dir, CLUSTER_MAP)
    clustermap = _read_state(
        spark, io.dir("clustermap"), io.relation("clustermap")
    )
    sp = (
        decisions.join(
            clustermap.select("doc_id", F.col("rep_id").alias("cluster_id")),
            "doc_id",
        )
        .localCheckpoint(eager=False)  # feeds train-cluster set + eval side
    )
    tc = (
        sp.filter(F.col("split") == "train")
        .select("cluster_id")
        .distinct()
    )
    ev = sp.filter(F.col("split") != "train").join(
        tc.withColumn("leaked", F.lit(True)), "cluster_id", "left_outer"
    )
    return ev.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("leaked"), 1).otherwise(0)).alias(
            "n_cluster_leaked"
        ),
        F.round(
            F.sum(F.when(F.col("leaked"), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("cluster_leak_rate"),
    )


# The band catalog and the rep map both collapse (appends are
# per-doc-unique on each): a phase-B arrival still adopts a phase-A rep.
_lifecycle_query("stream_split_by_neardup_inc_compacted", SPLIT_BY_NEARDUP_INC_ORACLE,
                 CLUSTER_MAP, compact=True)


# ---------------------------------------------------------------------------
# Windowed streaming count-min: heavy hitters PER TIME WINDOW — the
# frequency companion to stream_hll_windowed's windowed distinct count,
# completing the sketches-over-windows surface (count-min x windows,
# HLL x windows). ONE streaming query folds the d x w cell table keyed by
# (tumbling 1h window, j, bucket): complete-mode state is windows x 1024
# cells on the bounded drain, watermark-expired to ACTIVE windows x 1024
# in append-mode deployments. Scoring (exact per-window top-5 via a
# deterministic row_number tie-break, min-cell estimates, overcount >= 0
# one-sided error) runs batch-side on the drained cells. Unlike the
# global twin, the drained cell relation GROWS with retained windows —
# so the scoring join is UNHINTED (the FIXED-K rule: only constant-
# bounded sides get a broadcast hint; cms_score's 1024-cell broadcast is
# correct there, wrong here).
# ---------------------------------------------------------------------------

from .windows_stats import (  # noqa: E402
    _CMS_D,
    _cms_bucket_col,
    _cms_bucket_sql,
    _cms_js,
)

_CMS_WIN_TOPN = 5


def _cms_window_oracle(shape: WindowShape) -> str:
    """ONE oracle generator for the windowed/sliding count-min twins (the
    _hll_window_oracle convention): ev holds the ``shape`` panes of every
    user_id row."""
    return f"""
    WITH ev AS ({pane_sql(shape, "user_id", where="user_id IS NOT NULL")}),
    js AS (SELECT unnest(range(0, {_CMS_D})) AS j),
    cells AS (
        SELECT window_start, window_end, j,
               {_cms_bucket_sql('user_id', 'j')} AS bucket,
               count(*) AS c
        FROM ev CROSS JOIN js
        GROUP BY 1, 2, 3, 4
    ),
    exact AS (SELECT window_start, window_end, user_id, count(*) AS n
              FROM ev GROUP BY 1, 2, 3),
    top AS (
        SELECT window_start, window_end, user_id, n FROM (
            SELECT *, row_number() OVER (PARTITION BY window_start
                          ORDER BY n DESC, user_id) AS rk
            FROM exact
        ) WHERE rk <= {_CMS_WIN_TOPN}
    ),
    cand AS (
        SELECT window_start, window_end, user_id, n, j,
               {_cms_bucket_sql('user_id', 'j')} AS bucket
        FROM top CROSS JOIN js
    ),
    scored AS (
        SELECT cand.window_start, cand.window_end, cand.user_id, cand.n,
               min(cells.c) AS est_n
        FROM cand JOIN cells
          ON cells.window_start = cand.window_start
         AND cells.window_end = cand.window_end
         AND cells.j = cand.j AND cells.bucket = cand.bucket
        GROUP BY 1, 2, 3, 4
    )
    SELECT window_start, window_end, user_id,
           CAST(n AS BIGINT) AS exact_n,
           CAST(est_n AS BIGINT) AS est_n,
           CAST(est_n - n AS BIGINT) AS overcount
    FROM scored
    """


_CMS_WIN_GCOLS = ("window_start", "window_end")


def cms_windowed_fold(ev: DataFrame, shape: WindowShape = HOURLY) -> DataFrame:
    """The windowed count-min fold: hash each (ts, user_id) row to its
    _CMS_D (j, bucket) cells, then windowed_agg counts per (``shape``
    window, j, bucket) under its watermark — the frequency member of the
    windowed-fold family hll_windowed_fold anchors."""
    hashed = ev.select("ts", "user_id", _cms_js()).select(
        "ts", "j", _cms_bucket_col(F.col("user_id"), F.col("j")).alias("bucket")
    )
    return windowed_agg(
        hashed, "ts", ("j", "bucket"), shape.size, shape.slide,
        [F.count(F.lit(1)).alias("c")], shape.watermark,
    )


def _cms_windowed_query(
    spark: SparkSession, sf_dir: str, shape: WindowShape
) -> DataFrame:
    """The windowed count-min query body: drain ``cms_windowed_fold`` and
    score its cells against the exact per-window top-N over the same
    panes."""
    from pyspark.sql.window import Window as W

    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select("ts", "user_id")
    )
    ev_b = window_panes(
        load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull()),
        "ts", shape.size, shape.slide, ("user_id",),
    )
    exact = ev_b.groupBy(*_CMS_WIN_GCOLS, "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    top = (
        exact.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("window_start")
                .orderBy(F.desc("n"), F.asc("user_id"))
            ),
        )
        .filter(F.col("rk") <= _CMS_WIN_TOPN)
        .drop("rk")
    )
    # The exact/top batch arm is independent of the drain — materialize
    # it (eager localCheckpoint) IN PARALLEL with the streaming drain
    # instead of serially after it. The checkpoint doubles as the stats
    # idiom: the planner SEES top's true (windows x top-N) size and picks
    # broadcast-vs-shuffle for the cells join itself (measured: the
    # 562k-row sliding cells side is not shuffled — stats-chosen BHJ, not
    # SMJ — with no hint, so the choice still degrades to shuffle when
    # retained windows grow).
    cells, top = _run_jobs(
        lambda: run_to_table(spark, cms_windowed_fold(ev, shape), "complete"),
        lambda: top.localCheckpoint(),
    )
    cand = top.select(*_CMS_WIN_GCOLS, "user_id", "n", _cms_js()).select(
        *_CMS_WIN_GCOLS, "user_id", "n", "j",
        _cms_bucket_col(F.col("user_id"), F.col("j")).alias("bucket"),
    )
    # UNHINTED: the drained cells grow with retained windows (never
    # constant-bounded), so the planner chooses from the memory table's
    # true stats — the stream-static-side rule applied batch-side.
    scored = cand.join(cells, [*_CMS_WIN_GCOLS, "j", "bucket"]).groupBy(
        *_CMS_WIN_GCOLS, "user_id", "n"
    ).agg(F.min("c").alias("est_n"))
    return scored.select(
        *_CMS_WIN_GCOLS, "user_id",
        F.col("n").cast("long").alias("exact_n"),
        F.col("est_n").cast("long").alias("est_n"),
        (F.col("est_n") - F.col("n")).cast("long").alias("overcount"),
    )


@register("stream_countmin_windowed", _cms_window_oracle(HOURLY))
def stream_countmin_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cms_windowed_query(spark, sf_dir, HOURLY)


@register("stream_countmin_sliding", _cms_window_oracle(TRAILING_3H))
def stream_countmin_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over a TRAILING 3-hour window sliding hourly — the
    frequency companion to stream_hll_sliding, completing tumbling +
    sliding symmetry for the count-min sketch. Every event feeds 3
    hourly-spaced panes (the pinned sliding replay); state = panes x
    1024 cells in complete mode on the bounded drain,
    watermark-expired to ACTIVE panes in append deployments (the fold
    family's expiry contract). Scoring is the same per-window top-5 +
    min-cell estimate, over the pane-replicated exact arm."""
    return _cms_windowed_query(spark, sf_dir, TRAILING_3H)


# ---------------------------------------------------------------------------
# Windowed streaming quantile sketch: per-hour value percentiles —
# the THIRD windowed sketch, completing the sketches-over-windows matrix
# (windowed HLL = distinct, windowed count-min = frequency, this =
# distribution; the Bloom filter has no windowed form — membership is not
# time-decomposable). The grid bounds stay the sketch's epoch
# CONFIGURATION (batch-computed 1-row relation, broadcast — the
# stream_quantile_values contract); each arriving value buckets map-side
# against that fixed GLOBAL grid and the fold keys by (tumbling 1h
# window, bucket) — complete-mode state = windows x <= _QSK_W cells on
# the bounded drain, watermark-expired to ACTIVE windows in append
# deployments (the bound test_windowed_sketch_watermark_expires_state
# pins for the fold family). A global grid is what makes per-window
# sketches MERGEABLE ACROSS WINDOWS too: any set of windows' cells sum
# into the coarser rollup with no re-bucketing. Scoring runs batch-side
# through the SAME group_cols-parametrized quantile_score (per-window
# target ranks come from n = sum(c) within the window — derivable from
# the sketch itself); per-window estimate/target relations GROW with
# retained windows, so those joins are UNHINTED (the FIXED-K rule).
# ---------------------------------------------------------------------------

from .windows_stats import _QSK_QS, _QSK_W, quantile_bucket_col  # noqa: E402


def _quantile_window_oracle(shape: WindowShape) -> str:
    """ONE oracle generator for the windowed/sliding quantile twins and
    the daily rollup: v holds the ``shape`` panes of every non-null value.
    min/max are taken over v — pane replication leaves them unchanged, so
    every render shares the Spark side's global epoch bounds."""
    v = pane_sql(shape, "CAST(value AS DOUBLE) AS value",
                 where="value IS NOT NULL")
    return f"""
    WITH v AS ({v}),
    b AS (SELECT min(value) AS mn, max(value) AS mx FROM v),
    cells AS (
        SELECT window_start, window_end,
               least(CAST(floor((value - mn) * {_QSK_W} / (mx - mn)) AS BIGINT),
                     {_QSK_W - 1}) AS bucket,
               count(*) AS c
        FROM v CROSS JOIN b GROUP BY 1, 2, 3
    ),
    wn AS (SELECT window_start, window_end, sum(c) AS n
           FROM cells GROUP BY 1, 2),
    cum AS (SELECT window_start, window_end, bucket,
                   sum(c) OVER (PARTITION BY window_start, window_end
                                ORDER BY bucket) AS cumc
            FROM cells),
    qs AS (SELECT unnest([{', '.join(str(q) for q in _QSK_QS)}]::DOUBLE[]) AS q),
    targets AS (SELECT window_start, window_end, q,
                       CAST(ceil(q * n) AS BIGINT) AS target_rank
                FROM wn CROSS JOIN qs),
    est AS (
        SELECT t.window_start, t.window_end, t.q, t.target_rank,
               mn + min(cum.bucket) * (mx - mn) / {_QSK_W} AS est_val
        FROM targets t
        JOIN cum ON cum.window_start = t.window_start
                AND cum.window_end = t.window_end
                AND cum.cumc >= t.target_rank
        CROSS JOIN b
        GROUP BY 1, 2, 3, 4, mn, mx
    ),
    ranks AS (
        SELECT e.window_start, e.window_end, e.q, e.target_rank, e.est_val,
               count(v.value) AS est_rank
        FROM est e LEFT JOIN v ON v.window_start = e.window_start
                              AND v.window_end = e.window_end
                              AND v.value <= e.est_val
        GROUP BY 1, 2, 3, 4, 5
    )
    SELECT window_start, window_end, q, target_rank,
           est_val + 0 AS est,
           CAST(est_rank AS BIGINT) AS est_rank,
           CAST(est_rank - target_rank AS BIGINT) AS rank_err
    FROM ranks
    """


_QSK_WIN_GCOLS = ("window_start", "window_end")


def quantile_windowed_fold(
    ev: DataFrame, bounds: DataFrame, shape: WindowShape = HOURLY
) -> DataFrame:
    """The windowed histogram fold: bucket each (ts, value) row map-side
    against the broadcast 1-row epoch bounds, then windowed_agg counts
    per (``shape`` window, bucket) under its watermark — the quantile
    member of the windowed-fold family hll_windowed_fold anchors."""
    bucketed = ev.join(F.broadcast(bounds.select("mn", "mx"))).select(
        "ts",
        quantile_bucket_col(F.col("value"), F.col("mn"), F.col("mx"))
        .alias("bucket"),
    )
    return windowed_agg(
        bucketed, "ts", ("bucket",), shape.size, shape.slide,
        [F.count(F.lit(1)).alias("c")], shape.watermark,
    )


def _quantile_windowed_query(
    spark: SparkSession, sf_dir: str, shape: WindowShape
) -> DataFrame:
    """The windowed quantile query body: drain ``quantile_windowed_fold``
    and score its cells against the exact ranks over the same panes."""
    bounds = quantile_bounds(quantile_vals(spark, sf_dir))
    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("ts", F.col("value").cast("double").alias("value"))
    )
    cells = run_to_table(
        spark, quantile_windowed_fold(ev, bounds, shape), "complete"
    )
    return quantile_score(
        spark, sf_dir, cells, bounds,
        group_cols=_QSK_WIN_GCOLS, vals=_value_panes(spark, sf_dir, shape),
    )


def _value_panes(
    spark: SparkSession, sf_dir: str, shape: WindowShape
) -> DataFrame:
    """The exact-rank arm's input: every non-null events value (as double)
    in each ``shape`` pane that holds it."""
    return window_panes(
        load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull()),
        "ts", shape.size, shape.slide,
        (F.col("value").cast("double").alias("value"),),
    )


@register("stream_quantile_windowed", _quantile_window_oracle(HOURLY))
def stream_quantile_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p95/p99 of events.value PER HOUR from the windowed
    histogram fold, with the per-window exact-rank error surface."""
    return _quantile_windowed_query(spark, sf_dir, HOURLY)


# Hour -> day rollup: the shared-global-grid mergeability claim as
# a DRIVER-CHECKED fact, not only a pytest — the Spark side builds DAILY
# quantile sketches by SUM-merging the HOURLY fold's cells (never
# re-reading values into buckets), while the oracle builds daily cells
# DIRECTLY from the values. The oracle cannot see the merge, so the hash
# match proves sum(hourly cells) == daily cells exactly — the property
# that lets a 100 TB pipeline keep one hourly sketch table and serve
# hour/day/epoch quantiles from rollups alone.
@register("sketch_quantile_rollup", _quantile_window_oracle(DAILY))
def sketch_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily p50/p90/p95/p99 of events.value served from the HOURLY
    sketch table: hourly cells (the same quantile_windowed_fold the
    streaming twin drains — watermark is a no-op on a batch frame)
    SUM-merge by (day, bucket) into daily sketches, then score against
    the per-day exact ranks. The merge is one partial-aggregated groupBy
    over (days x <= _QSK_W) rows — no second pass over the values."""
    bounds = quantile_bounds(quantile_vals(spark, sf_dir))
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("ts", F.col("value").cast("double").alias("value"))
    )
    hourly = quantile_windowed_fold(ev, bounds)
    daily_cells = (
        hourly.select(
            F.date_trunc("day", "window_start").alias("window_start"),
            "bucket", "c",
        )
        .groupBy("window_start", "bucket")
        .agg(F.sum("c").alias("c"))
        .select(
            "window_start",
            F.expr("window_start + INTERVAL '1' DAY").alias("window_end"),
            "bucket", "c",
        )
    )
    return quantile_score(
        spark, sf_dir, daily_cells, bounds,
        group_cols=_QSK_WIN_GCOLS, vals=_value_panes(spark, sf_dir, DAILY),
    )


@register("stream_quantile_sliding", _quantile_window_oracle(TRAILING_3H))
def stream_quantile_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-3h value percentiles refreshed hourly — the distribution
    companion to stream_hll_sliding/stream_countmin_sliding, completing
    tumbling + sliding symmetry for ALL THREE windowed sketches.
    Every value feeds 3 hourly-spaced panes; state = panes x <= _QSK_W
    cells in complete mode on the bounded drain, watermark-expired to
    ACTIVE panes in append deployments. The shared global grid means a
    pane's cells are the SUM of its 3 tumbling hours' cells — the
    mergeability the epoch-bounds design buys."""
    return _quantile_windowed_query(spark, sf_dir, TRAILING_3H)


# ---------------------------------------------------------------------------
# At-ingest IVF-PQ probe: the serving twin of sim_ivfpq_recall and
# the compressed-tier upgrade of stream_ann_probe — arriving query vectors
# rank the CODED catalog (bucket + PQ reconstruction per corpus vector)
# instead of raw vectors. Stream arm stays the proven stream_ann_probe
# shape: coarse centroids embed as FIXED-K plan literals
# (_centroid_literal_array, guarded), probe selection is a map-side
# slice(array_sort(transform(...))) inside codegen, and per-query top-k is
# the BOUNDED O(k)-state fold (stateful_topk_fold — see the
# stream_ann_probe block). The catalog (assignment + reconstruction) is
# corpus-proportional: checkpoint-materialized, UNHINTED equi-join on
# bucket. At 100 TB the catalog column rv IS the stored 4-byte code
# decoded on read — the stream probe touches probe/k of the corpus as
# codes, never raw floats. Drained availableNow result == the IVF-PQ
# top-k, so the oracle (shared _IVFPQ_BASE_CTES) replays coarse + subspace
# trainings + encode + restricted ADC ranking exactly.
# ---------------------------------------------------------------------------

from .llm import (  # noqa: E402
    _IVFPQ_TOPK_SQL,
    _PQ_RECALL_K as _IVFPQ_K,
    _pq_reconstruction,
)


def stream_ivfpq_probe_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-drain streaming plan (literal-centroid probe -> unhinted coded
    catalog join -> bounded O(k)-state top-k fold), exposed for the
    hint-free plan test (ninth builder in
    test_stream_static_joins_unhinted_equi — the catalog grows with the
    corpus, so a hard-coded broadcast would not scale)."""
    from ..functions.vectors import cosine, cosine_pandas
    from ..operators.similarity import assign_buckets, kmeans_centroids

    from .llm import _pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Coarse training and the four PQ codebook trainings are independent
    # — overlap them. The thunks MATERIALIZE their chains
    # (engine.materialize — one k-row count through the lazy-checkpoint
    # cut), so the overlap is genuine; lazy-construction thunks would run
    # no jobs and the trainings would still serialize at the first
    # consuming action.
    from ..engine import materialize as _mat

    cent, cbs = _run_jobs(
        lambda: _mat(kmeans_centroids(emb, k=_KMEANS_K, iterations=2)),
        lambda: _mat(_pq_codebooks(emb)),
    )
    cent_arr = _centroid_literal_array(cent.collect(), _KMEANS_K)
    # The coded catalog: one bucket id + one reconstruction per corpus
    # vector, materialized once (at scale: the written IVF-PQ index).
    # Both come out of ONE map-side corpus pass (zero-exchange
    # assign_buckets + _pq_reconstruction's keep), with no corpus-sized
    # assigned ⋈ recon vec_id join.
    catalog = (
        _pq_reconstruction(
            assign_buckets(
                emb,
                cent.select(F.col("cent_id").alias("vec_id"),
                            F.col("cv").alias("embedding")),
            ),
            out_col="rv",
            keep=("bucket",),
            codebooks=cbs,
        )
        .withColumnRenamed("vec_id", "n_id")
        .localCheckpoint()
    )

    q = (
        embeddings_stream(spark, sf_dir)
        .filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    )
    scored_cents = F.transform(
        cent_arr,
        lambda s: F.struct(
            (-F.round(cosine(F.col("qv"), s["cv"]), 4)).alias("neg"),
            s["cent_id"].alias("cent_id"),
        ),
    )
    probed = q.select(
        "q_id", "qv",
        F.explode(
            F.transform(
                F.slice(F.array_sort(scored_cents), 1, 2),
                lambda s: s["cent_id"],
            )
        ).alias("bucket"),
    )
    cand = (
        probed.join(catalog, "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "n_id", F.round(cosine_pandas("qv", "rv"), 4).alias("cos")
        )
    )
    return stateful_topk_fold(cand, k=_IVFPQ_K)


@register("stream_ivfpq_probe", _IVFPQ_TOPK_SQL)
def stream_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_table(
        spark, stream_ivfpq_probe_plan(spark, sf_dir), "update"
    )


# ---------------------------------------------------------------------------
# Sliding-window streaming HLL: distinct users over a TRAILING 3-hour
# window sliding hourly — the "unique visitors, last 3 hours, refreshed
# hourly" dashboard. Composes the two machineries this repo already pins:
# sliding windows (every event lands in 3 hourly-spaced panes, the a3
# replay) and the HLL register fold (MAX-merge, 256 registers). State =
# panes x 256 rows in complete mode on the bounded drain — 3x the tumbling
# twin's per-window cost, watermark-expired to ACTIVE panes in append
# deployments. Exercises the generalized helpers under a second group
# shape (gcols = window bounds only, no event_type) so the
# parametrization is proven on more than one caller.
# ---------------------------------------------------------------------------

@register("stream_hll_sliding", _hll_window_oracle(TRAILING_3H, ()))
def stream_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _hll_windowed_query(spark, sf_dir, TRAILING_3H, ())
