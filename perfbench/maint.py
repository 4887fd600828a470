"""The ingest part of ``ingest_and_batch``: registered ingest arms, one per
maintained-state kind: the exact-fingerprint store and the embedding
code-and-vector catalog.

Each arm seeds its state, writes its arrival files, then runs a
``foreachBatch`` stream over them (state read -> probe -> overlapped state
and decision writes) and returns a lazy read of its decisions, which the
benchmark forces with a noop write. Every arm's decisions are checked
against its DuckDB oracle.
"""

from __future__ import annotations

import time

from common import batch_end, data_batches, iso_to_epoch, median, streaming_layers
from oracle import matches

ARMS = (
    "stream_dedup_store_ingest",
    "stream_embedding_catalog_ingest",
)


class Workload:
    def __init__(self, sf: float):
        self.sf = sf

    def prepare(self, ctx) -> None:
        self.sf_dir, oracle = ctx.tables(self.sf)
        self.expected = {a: oracle.expected(ctx.plans.ORACLE[a]) for a in ARMS}

    def warmup(self, ctx) -> None:
        for arm in ARMS:
            self._run_arm(ctx, arm)

    def _run_arm(self, ctx, arm: str) -> dict:
        fn = ctx.plans.QUERIES[arm]
        with ctx.tracer.span(f"plans.stream.{arm}", trace_id=arm) as sp:
            t0 = time.time()
            df = fn(ctx.spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            t1 = time.time()
        ids = ctx.progress.wait_terminated(t0, t1)
        ps = ctx.progress.batches(ids)
        ds = data_batches(ps)
        q_start = min(ctx.progress.started[q] for q in ids)
        q_end = max((batch_end(p) for p in ps), default=q_start)
        # Listener events may land after the next arm has started; the
        # phases are attached to this arm's span only now, keyed by the
        # ids its own interval started.
        ctx.tracer.add("setup", t0, q_start, parent=sp.sid, trace_id=arm)
        stream = ctx.tracer.add("stream", q_start, q_end, parent=sp.sid, trace_id=arm)
        ctx.tracer.add("read", q_end, t1, parent=sp.sid, trace_id=arm)
        for p in ds:
            ctx.tracer.add(f"batch {p['batchId']}", iso_to_epoch(p["timestamp"]), batch_end(p),
                           parent=stream, trace_id=arm, query_id=p["id"], **p["durationMs"])
        return {
            "df": df, "wall": t1 - t0, "setup": q_start - t0, "stream": q_end - q_start,
            "read": t1 - q_end, "batches": ds, "docs": sum(p["numInputRows"] for p in ds),
        }

    def measure(self, ctx) -> None:
        runs: dict[str, list[dict]] = {a: [] for a in ARMS}
        t_end = time.time() + ctx.seconds
        while True:
            t0 = time.time()
            for arm in ARMS:
                r = self._run_arm(ctx, arm)
                ctx.check(arm, matches(r.pop("df"), self.expected[arm]))
                runs[arm].append(r)
            # Stop when another pass as long as this one would overrun.
            now = time.time()
            if now + (now - t0) > t_end:
                break
        self.runs = runs
        self.walls = [median([r["wall"] for r in rs]) for rs in runs.values()]

    def layers(self, ctx) -> dict:
        out = streaming_layers([p for rs in self.runs.values() for r in rs for p in r["batches"]])
        docs = sum(median([r["docs"] for r in rs]) for rs in self.runs.values())
        stream = sum(median([r["stream"] for r in rs]) for rs in self.runs.values())
        out["plans.stream.docs_per_s"] = docs / stream
        for arm, rs in self.runs.items():
            pre = f"plans.stream.{arm}"
            out[f"{pre}.setup_ms"] = median([r["setup"] for r in rs]) * 1e3
            out[f"{pre}.stream_ms"] = median([r["stream"] for r in rs]) * 1e3
            out[f"{pre}.read_ms"] = median([r["read"] for r in rs]) * 1e3
            out[f"{pre}.add_batch_ms_p50"] = median(
                [p["durationMs"].get("addBatch", 0) for r in rs for p in r["batches"]]
            )
            out[f"{pre}.batches"] = median([len(r["batches"]) for r in rs])
        return out
