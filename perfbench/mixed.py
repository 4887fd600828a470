"""``ingest_and_batch``: the registered ingest arms (``maint``) and batch
queries (``batch``) in one JVM, one closed-loop client.

Both parts call registered plan functions at scale ``SF`` and force each result
with a noop write; they share the generated tables and their DuckDB oracle.
Each part runs whole passes until ``--seconds`` is used. The end-to-end
figures are over the per-call times (each call's median over its passes):
two arms and twelve queries.
"""

from __future__ import annotations

import batch
import maint
from common import median

SF = 0.01


class Workload:
    def __init__(self):
        self.parts = (maint.Workload(SF), batch.Workload(SF))

    def prepare(self, ctx) -> None:
        for p in self.parts:
            p.prepare(ctx)

    def warmup(self, ctx) -> None:
        for p in self.parts:
            p.warmup(ctx)

    def measure(self, ctx) -> dict:
        for p in self.parts:
            p.measure(ctx)
        walls = [w for p in self.parts for w in p.walls]
        return {
            "wall_s": sum(walls),
            "throughput_per_s": len(walls) / sum(walls),
            "latency_p50_ms": median(walls) * 1e3,
        }

    def layers(self, ctx) -> dict:
        out = {}
        for p in self.parts:
            out.update(p.layers(ctx))
        return out
