#!/usr/bin/env python3
"""Write the committed traced record of one workload.

    python3 perfbench/record.py --workload NAME [--seed N] [--seconds S]

Runs the workload twice with the same seed, untraced and then traced, and
writes ``perfbench/traces/<workload>.json``: the traced run's record (spans
with self time, per-batch progress, per-layer metrics from the reduced
event log) plus

- ``tracing_overhead``: traced minus untraced value of each end-to-end
  metric, absolute and as a share of the untraced value;
- ``arm_phase_check`` (ingest_and_batch): per arm, setup + stream + read
  against the arm's traced wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int, record: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if record:
        cmd += ["--record", record]
    out = subprocess.run(cmd, cwd=ROOT, check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def arm_phase_check(spans: list[dict]) -> dict:
    by_id = {s["id"]: s for s in spans}
    arms = {}
    for s in spans:
        if s["name"].startswith("plans.stream.") and s["parent"] is not None:
            if by_id[s["parent"]]["name"] != "measure":
                continue
            parts = {c["name"]: c["dur_ms"] for c in spans if c["parent"] == s["id"]}
            total = sum(parts.get(k, 0.0) for k in ("setup", "stream", "read"))
            arms.setdefault(s["name"], []).append({
                "wall_ms": s["dur_ms"], "setup_stream_read_ms": round(total, 3),
                "within_5pct": abs(total - s["dur_ms"]) <= 0.05 * s["dur_ms"],
            })
    return arms


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]

    untraced = run(args.workload, args.seed, seconds, 0)
    path = os.path.join(HERE, "traces", f"{args.workload}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    run(args.workload, args.seed, seconds, 1, record=path)
    with open(path) as f:
        rec = json.load(f)
    rec["end_to_end_untraced"] = {k: v["value"] for k, v in untraced["metrics"].items()}
    rec["tracing_overhead"] = {
        k: {"abs": rec["end_to_end_traced"][k] - v, "share": (rec["end_to_end_traced"][k] - v) / v}
        for k, v in rec["end_to_end_untraced"].items()
    }
    if args.workload == "ingest_and_batch":
        rec["arm_phase_check"] = arm_phase_check(rec["spans"])
    with open(path, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps(rec["tracing_overhead"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
