"""The batch part of ``ingest_and_batch``: registered one-shot batch queries.

Each query function is called (analysis, footer reads and any eager
training happen here: ``build``) and its result is forced with a noop
write (``execute``). In the warm-up pass each result is collected instead
and checked against the query's DuckDB oracle; the timed passes run the
same code on the same inputs.
"""

from __future__ import annotations

import time

from common import median
from oracle import matches

QUERIES = (
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
    "dedup_minhash_lsh",
    "graph_pagerank_2iter",
)


class Workload:
    def __init__(self, sf: float):
        self.sf = sf

    def prepare(self, ctx) -> None:
        self.sf_dir, oracle = ctx.tables(self.sf)
        self.expected = {q: oracle.expected(ctx.plans.ORACLE[q]) for q in QUERIES}

    def warmup(self, ctx) -> None:
        for q in QUERIES:
            df = ctx.plans.QUERIES[q](ctx.spark, self.sf_dir)
            ctx.check(q, matches(df, self.expected[q]))

    def _run(self, ctx, q: str) -> tuple[float, float]:
        with ctx.tracer.span(f"plans.{q}", trace_id=q):
            with ctx.tracer.span("build") as b:
                df = ctx.plans.QUERIES[q](ctx.spark, self.sf_dir)
            with ctx.tracer.span("execute") as e:
                df.write.format("noop").mode("overwrite").save()
        return b.elapsed, e.elapsed

    def measure(self, ctx) -> None:
        runs: dict[str, list[tuple]] = {q: [] for q in QUERIES}
        t_end = time.time() + ctx.seconds
        while True:
            t0 = time.time()
            for q in QUERIES:
                runs[q].append(self._run(ctx, q))
                ctx.attempt(1, 0)
            # Stop when another pass as long as this one would overrun.
            now = time.time()
            if now + (now - t0) > t_end:
                break
        self.runs = runs
        self.walls = [median([b + e for b, e in rs]) for rs in runs.values()]

    def layers(self, ctx) -> dict:
        out = {}
        for q, rs in self.runs.items():
            out[f"plans.{q}.build_ms"] = median([b for b, _ in rs]) * 1e3
            out[f"plans.{q}.execute_ms"] = median([e for _, e in rs]) * 1e3
        return out
