"""Arbitrary keyed streaming state (SURVEY §2.9 T4, A4).

The reference's DStream ``updateStateByKey`` word count
(reference BasicStreaming.scala:17,23-25: state = running occurrence count
per word) is reproduced with ``applyInPandasWithState`` — the Structured
Streaming arbitrary-state operator. State lives in the executor-side state
store (RocksDB-backed on a real cluster), partitioned by key: scales
horizontally, survives restarts via the checkpoint.

Note ``groupBy(key).count()`` in update/complete mode already covers the
*capability* (SURVEY A4); this module exists for exact arbitrary-state
parity and as the template for richer per-key state machines.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

__all__ = [
    "stateful_running_count",
    "stateful_sessionizer",
    "stateful_greedy_packer",
    "stateful_transition_pairs",
    "stateful_topk_fold",
]

_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("word", T.StringType()),
        T.StructField("count", T.LongType()),
    ]
)
_STATE_SCHEMA = T.StructType([T.StructField("count", T.LongType())])


def _update_count(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """updateCount(newValues, lastSum) = newValues.size + lastSum.getOrElse(0)
    (reference BasicStreaming.scala:23-25) — counts occurrences, ignores
    values, emits the updated total for the key."""
    new_occurrences = sum(len(pdf) for pdf in pdfs)
    (prior,) = state.get if state.exists else (0,)
    total = prior + new_occurrences
    state.update((total,))
    yield pd.DataFrame({"word": [key[0]], "count": [total]})


def stateful_running_count(words: DataFrame, key_col: str = "word") -> DataFrame:
    """Running per-word occurrence count with explicit user state."""
    return words.groupBy(key_col).applyInPandasWithState(
        _update_count,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("session_value", T.DoubleType()),
    ]
)
# state: open session = (start, last_seen, n, total)
_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start", T.TimestampType()),
        T.StructField("last_seen", T.TimestampType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def _timeout_conf(ms: int | None):
    """The fold family's opt-in timeout rule in ONE place: ``None`` ->
    NoTimeout (bounded availableNow oracle drains terminate — see
    TOPK_TTL_MS), a POSITIVE ms -> ProcessingTimeTimeout. Validated here,
    driver-side: Spark's own ``state.setTimeoutDuration(0)`` rejection
    would otherwise surface as an opaque executor-side failure after the
    query starts."""
    if ms is None:
        return GroupStateTimeout.NoTimeout
    if ms <= 0:
        raise ValueError(f"timeout ms must be >= 1, got {ms}")
    return GroupStateTimeout.ProcessingTimeTimeout


def _sessionizer_update_fn(
    gap_seconds: int,
    ts_col: str,
    value_col: str,
    idle_timeout_ms: int | None = None,
):
    """Per-key session fold for ``stateful_sessionizer`` (module-level so
    tests can drive the timeout branch against a fake GroupState, the
    _topk_update_fn pattern)."""
    import datetime as _dt

    gap = _dt.timedelta(seconds=gap_seconds)
    out_cols = ["user_id", "session_start", "session_end",
                "n_events", "session_value"]

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Idle key: flush the open session as closed, drop the state.
            start, last_seen, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                [(key[0], start, last_seen, n, total)], columns=out_cols
            )
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(ts_col)
        if state.exists:
            start, last_seen, n, total = state.get
        else:
            start = last_seen = None
            n, total = 0, 0.0
        closed: list[tuple] = []
        for ts, val in zip(rows[ts_col], rows[value_col]):
            ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
            if last_seen is not None and (ts - last_seen) > gap:
                closed.append((key[0], start, last_seen, n, total))
                start, n, total = ts, 0, 0.0
            if start is None:
                start = ts
            last_seen = ts
            n += 1
            total += float(val)
        state.update((start, last_seen, n, total))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        if closed:
            yield pd.DataFrame(closed, columns=out_cols)

    return update


def stateful_sessionizer(
    events: DataFrame,
    gap_seconds: int = 1800,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Custom gap-based sessionizer with EXPLICIT user state — the state
    machine ``session_window`` runs internally, written out as the richer-
    state template the reference's updateStateByKey hints at (SURVEY T4):
    per-key state carries (start, last_seen, n, total); an arriving event
    either extends the open session or closes it (emitting the finished
    session) and opens a new one.

    Emits CLOSED sessions only; the still-open session per key stays in
    the state store (bounded by keys, not stream length).

    ``idle_timeout_ms``: without it, a key's FINAL session closes
    only when a later event for that key arrives past the gap — i.e.
    never, for a user who left. When set, a key idle for idle_timeout_ms
    of processing time has its open session FLUSHED (emitted as closed,
    end = last event seen) and its state dropped, via the fold family's
    opt-in ProcessingTimeTimeout machinery (e2e expiry pinned on the same
    code path by test_stateful_topk_fold_ttl_expires_idle_key). Opt-in
    for the same reason as stateful_topk_fold.ttl_ms: the timeout conf
    itself makes bounded availableNow oracle drains non-terminating (see
    TOPK_TTL_MS), so the driver-checked drains stay NoTimeout.

    ``idle_timeout_ms`` must be >= ``gap_seconds * 1000``: a shorter
    processing-time idle flush would close sessions the gap contract
    defines as still open (a user pausing idle_timeout < gap in steady
    real-time flow gets split in two). Note the axes differ — the gap is
    EVENT time, the timeout PROCESSING time — so on a lagging/backfilled
    stream the flush can still fire while event-time-contiguous data is
    in flight; keep the timeout comfortably above the expected lag (or
    unset) when replaying history.
    """
    if idle_timeout_ms is not None and idle_timeout_ms < gap_seconds * 1000:
        raise ValueError(
            f"idle_timeout_ms ({idle_timeout_ms}) must be >= gap_seconds*1000"
            f" ({gap_seconds * 1000}): a shorter processing-time flush would"
            " split sessions the gap contract keeps open"
        )
    return events.groupBy(key_col).applyInPandasWithState(
        _sessionizer_update_fn(
            gap_seconds, ts_col, value_col, idle_timeout_ms
        ),
        outputStructType=_SESSION_OUTPUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=_timeout_conf(idle_timeout_ms),
    )


# state: (current open sequence id, tokens already in it)
_PACK_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("fill", T.LongType()),
    ]
)


def stateful_greedy_packer(
    docs: DataFrame,
    cap: int,
    shard_col: str = "source",
    order_col: str = "doc_id",
    size_col: str = "n_tok",
) -> DataFrame:
    """Streaming twin of ``operators.packing.pack_greedy``: greedy
    no-straddle sequence packing as arrival-order keyed state (one open
    (seq, fill) pair per shard, carried across micro-batches). Each doc's
    assignment is emitted exactly once -> append mode.

    Order caveat, stated honestly: greedy packing is order-sensitive, and a
    stream packs in ARRIVAL order — within a micro-batch rows are folded in
    ``order_col`` order, but across batches whatever the source delivered
    first is packed first. The bounded single-batch oracle run therefore
    equals the batch operator; a production multi-batch run is a valid
    greedy packing of arrival order (what an ingestion pipeline actually
    wants), not of global ``order_col`` order.
    """
    if cap < 1:
        raise ValueError("cap must be >= 1")

    # Output schema/columns derive from the passed column NAMES and the
    # input's own field types: a hard-coded source/doc_id/n_tok schema
    # would silently mislabel non-default callers.
    in_fields = {f.name: f for f in docs.schema.fields}
    out_schema = T.StructType(
        [in_fields[shard_col], in_fields[order_col], in_fields[size_col],
         T.StructField("seq_id", T.LongType())]
    )
    out_cols = [shard_col, order_col, size_col, "seq_id"]

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(order_col)
        seq, fill = state.get if state.exists else (0, 0)
        out = []
        for doc, n in zip(rows[order_col], rows[size_col]):
            if fill > 0 and fill + n > cap:
                seq, fill = seq + 1, 0
            out.append((key[0], doc, n, seq))
            fill += n
        state.update((seq, int(fill)))
        yield pd.DataFrame(out, columns=out_cols)

    return docs.groupBy(shard_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_PACK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# state per query key: the CURRENT top-k candidate lists (ids + scores,
# parallel arrays, each <= k) — O(k) per key no matter how many candidates
# stream past. This is the state-space FIXED-K rule: a streaming
# top-k whose state is collect_list-of-everything holds ~n_probe/k of the
# corpus per query before the emit-time slice applies; this fold never
# holds more than k. The capability traces to the reference's stateful-agg
# family (reference BasicStreaming.scala:17, TumblingWindow.scala:52-58),
# where state is O(groups), never O(input).
_TOPK_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("scores", T.ArrayType(T.DoubleType())),
    ]
)


def _topk_update_fn(
    k: int,
    key_col: str,
    id_col: str,
    score_col: str,
    ttl_ms: int | None = None,
):
    """Build the per-key fold for ``stateful_topk_fold`` (module-level so
    tests can drive it directly against a fake GroupState and pin the
    <= k state bound).

    Merge semantics: candidates DEDUPE BY ID keeping the best
    score — a re-observed (key, id) pair (source replay after restart, a
    generator that re-yields) must not occupy two of the k slots — and NaN
    scores are excluded before ranking, matching the batch rankers'
    struct(-score, id) array_sort form, where -NaN (= NaN, Spark's
    largest) lands last, outside the top-k slice. Precision on that
    claim: a PLAIN ``ORDER BY score DESC`` (the probes' oracle SQL and a
    bare F.desc window ranker) would instead rank NaN FIRST — the two
    forms only agree when no candidate scores NaN. That holds on every
    reachable input here (cosine over the nonzero fixture embeddings /
    PQ reconstructions); a production candidate generator must keep it
    true by excluding zero-norm vectors upstream."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Idle served key (no candidates within ttl_ms): drop its
            # k-row state so serving-state is O(k x ACTIVE keys), the
            # watermark-expiry analogue for keyed serving state.
            state.remove()
            yield pd.DataFrame(
                {
                    key_col: pd.Series([], dtype="int64"),
                    id_col: pd.Series([], dtype="int64"),
                    score_col: pd.Series([], dtype="float64"),
                    "rnk": pd.Series([], dtype="int32"),
                }
            )
            return
        best: dict[int, float] = {}
        if state.exists:
            prev_ids, prev_scores = state.get
            best.update(zip(prev_ids, prev_scores))
        for pdf in pdfs:
            for i, s in zip(pdf[id_col], pdf[score_col]):
                s = float(s)
                if math.isnan(s):
                    continue
                i = int(i)
                if i not in best or s > best[i]:
                    best[i] = s
        # Same total order as the batch rankers' array_sort over
        # struct(neg_score, id): descending score, id breaks ties.
        top = sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        top_ids = [i for i, _ in top]
        top_scores = [s for _, s in top]
        state.update((top_ids, top_scores))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                key_col: pd.Series([key[0]] * len(top_ids), dtype="int64"),
                id_col: pd.Series(top_ids, dtype="int64"),
                score_col: pd.Series(top_scores, dtype="float64"),
                "rnk": pd.Series(range(1, len(top_ids) + 1), dtype="int32"),
            }
        )

    return update


# Recommended served-key TTL for long-running deployments: a query key
# idle this long has its k-row state dropped. OPT-IN, not the default —
# measured on this Spark build (FlatMapGroupsWithStateExecBase
# .shouldRunAnotherBatch, verified in the 4.1.2 bytecode): with
# ProcessingTimeTimeout the operator requests another micro-batch
# UNCONDITIONALLY, so a Trigger.AvailableNow drain keeps scheduling
# no-data batches forever and never terminates — the bounded oracle
# drains (run_to_table) must therefore stay NoTimeout, which is also why
# ttl_ms defaults to None below.
TOPK_TTL_MS = 30 * 60 * 1000


def stateful_topk_fold(
    cand: DataFrame,
    k: int,
    key_col: str = "q_id",
    id_col: str = "n_id",
    score_col: str = "cos",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Bounded streaming top-k: fold (key, id, score) candidate rows into
    the per-key best k, holding ONLY those k as state.

    Replaces a complete-mode ``slice(array_sort(collect_list(...)), 1, k)``
    aggregation: that shape's state row per query held EVERY probed candidate
    (~ n_probe/k of the corpus) and only applied the slice at emit —
    unbounded at 100 TB. Here each micro-batch merges its candidates with
    the stored k, re-ranks, and keeps the best k (descending score, id
    tie-break — byte-identical to the batch rankers' struct sort), so state
    is O(k) per query key regardless of corpus size, partitioned by key in
    the executor-side state store.

    Emits the key's refreshed top-k (with 1-based ``rnk``) every batch the
    key receives candidates -> update output mode; a bounded single-batch
    drain equals the batch top-k exactly (``run_to_table`` guards the
    multi-batch case loudly).

    Candidates dedupe by id (best score wins) and NaN scores are dropped
    before ranking — the batch rankers' semantics (see _topk_update_fn).

    ``ttl_ms``: when set, a served key whose
    state goes idle for ttl_ms is EXPIRED via a processing-time timeout
    (state.remove on fire), so a long-running serving deployment holds
    O(k x ACTIVE query keys) — not O(k x keys ever seen), the last
    unbounded dimension in the streaming state story (capability lineage:
    watermark state expiry, reference TumblingWindow.scala:51). Pass
    TOPK_TTL_MS (or a deployment choice) in a continuously-triggered
    serving stream; expiry is pinned end-to-end by
    test_stateful_topk_fold_ttl_expires_idle_key. The default is None
    (NoTimeout) because merely CONFIGURING ProcessingTimeTimeout makes the
    operator request follow-up micro-batches unconditionally
    (shouldRunAnotherBatch — see TOPK_TTL_MS comment), so a bounded
    availableNow oracle drain would never terminate ("bounded drains are
    timeout-free" does not hold at the engine level), and the drained VALUES
    are TTL-independent anyway (expiry only removes state, never changes
    emissions).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField(id_col, T.LongType()),
            T.StructField(score_col, T.DoubleType()),
            T.StructField("rnk", T.IntegerType()),
        ]
    )
    return cand.groupBy(key_col).applyInPandasWithState(
        _topk_update_fn(k, key_col, id_col, score_col, ttl_ms=ttl_ms),
        outputStructType=out_schema,
        stateStructType=_TOPK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=_timeout_conf(ttl_ms),
    )


# state: the user's last-seen event = (ts, event_id, event_type) plus a
# running pair counter — O(1) per key regardless of stream length, the
# bounded-state alternative to the batch sequence miner's capped collect
# (plans/windows_stats.py _PATH_MAX_EVENTS).
_TRANSITION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts", T.TimestampType()),
        T.StructField("last_id", T.LongType()),
        T.StructField("last_type", T.StringType()),
        T.StructField("n_pairs", T.LongType()),
    ]
)


def stateful_transition_pairs(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    pair_cap: int | None = None,
) -> DataFrame:
    """At-ingest event-type transition miner: per key, emit one
    (key, src, dst) row for every consecutive event pair, holding ONLY the
    last-seen event (and a pair counter) as state. The streaming twin of
    the batch Markov pipeline (plans/windows_stats.markov_transition_counts)
    with O(1) instead of O(history) per-key state — no cap needed for
    MEMORY because nothing accumulates.

    ``pair_cap`` is a SEMANTIC guard, not a memory one: when a
    consumer shares an oracle with the batch twin — whose derivation is
    rank-capped at _PATH_MAX_EVENTS events per user — a user exceeding the
    cap would make the twins silently diverge under one oracle. Passing
    the cap makes the update function itself raise on the offending key at
    INGEST time (zero extra jobs, unlike a post-drain audit aggregation).
    None = uncapped (the pure monitor).

    Within a micro-batch rows are ordered by (ts, event_id) — the batch
    tie-break — and the stored last event bridges batch boundaries, so a
    single-batch bounded drain equals the batch derivation exactly. Across
    micro-batches pairs form in ARRIVAL order (the greedy-packer caveat):
    that is what an at-ingest monitor wants, but oracle comparisons must
    run single-batch (run_to_table(..., require_single_batch=True)).
    """
    out_schema = T.StructType(
        [
            events.schema[key_col],
            T.StructField("src", T.StringType()),
            T.StructField("dst", T.StringType()),
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            [ts_col, id_col]
        )
        types = list(rows[type_col])
        n_prev = 0
        if state.exists:
            # STATE-SCHEMA BREAK: n_pairs is a FOURTH state field. A
            # checkpoint written by the older 3-field schema cannot restart
            # against it — Spark's state-store schema check
            # (spark.sql.streaming.stateStore.stateSchemaCheck, default on)
            # rejects the store with StateSchemaNotCompatible at load,
            # BEFORE this function ever runs, so a defensive short-tuple
            # unpack here would be dead code. Upgrading across the break
            # requires a fresh checkpoint directory.
            # If a deployment DISABLES that check (or the checkpoint
            # predates state-schema files), the strict unpack below is the
            # first thing to notice — name the break instead of dying with
            # a bare worker-side ValueError.
            try:
                _last_ts, _last_id, last_type, n_prev = state.get
            except ValueError as exc:
                raise ValueError(
                    "stateful_transition_pairs: state tuple has"
                    f" {len(state.get)} fields, expected 4 — this is the"
                    " r08->r09 state-schema break (n_pairs added as a 4th"
                    " field) surfacing with stateSchemaCheck disabled or a"
                    " pre-schema-file checkpoint; restart from a fresh"
                    " checkpoint directory"
                ) from exc
            types = [last_type, *types]
        out = [
            (key[0], types[i], types[i + 1]) for i in range(len(types) - 1)
        ]
        n_total = (n_prev or 0) + len(out)
        if pair_cap is not None and n_total > pair_cap:
            raise ValueError(
                f"stateful_transition_pairs: key {key[0]!r} reached"
                f" {n_total} transition pairs, beyond pair_cap={pair_cap}"
                " — the batch twin's _PATH_MAX_EVENTS-capped oracle would"
                " silently diverge from this uncapped stream"
            )
        tail = rows.iloc[-1]
        ts = tail[ts_col]
        state.update(
            (
                ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts,
                int(tail[id_col]),
                tail[type_col],
                n_total,
            )
        )
        if out:
            yield pd.DataFrame(out, columns=[key_col, "src", "dst"])

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_TRANSITION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
