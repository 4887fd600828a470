#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads: ``sensor_stream`` and
``ingest_and_batch`` (see BENCHMARK.json). The inputs
are generated from ``--seed`` under ``.perfbench_work/``, which the run
removes again. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run also
writes its full record (spans, per-batch progress, the reduced event log)
to ``--record`` (default ``.perfbench_out/trace-<workload>-s<seed>.json``).
The line before the result records the host and versions.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

DRIVER_MEMORY = "2g"
# A fixed-size heap and young generation, so the JVM's resident size follows
# what the program keeps alive rather than the collector's resizing.
JVM_HEAP = "-Xms2g -Xmn512m"
WORKLOADS = {
    "sensor_stream": "sensor",
    "ingest_and_batch": "mixed",
}


def pin_env(work: str) -> None:
    """Environment every Spark process of the run inherits: the program on
    the Python workers' path, one Spark slot per usable core, scratch dirs
    inside the run's work dir, and a driver heap well below host memory."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = {
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "jdk": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEMORY,
    }


class Ctx:
    """What a workload sees: arguments, session, tracer, progress events,
    generated tables and the attempt/failure tally."""

    def __init__(self, args, work: str, plans):
        from common import ProgressCollector, Tracer

        self.plans = plans
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work = work
        self.tracer = Tracer(self.trace)
        self.progress = ProgressCollector()
        self.attempted = self.failed = 0
        self.spark = None
        self._tables: dict[float, tuple] = {}

    def attempt(self, n: int, failed: int) -> None:
        self.attempted += n
        self.failed += failed

    def check(self, what: str, ok: bool) -> None:
        """Count one checked operation; name it on stderr if it failed."""
        self.attempt(1, 0 if ok else 1)
        if not ok:
            print(f"perfbench: {what}: output differs from its reference", file=sys.stderr)

    def conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} {JVM_HEAP}",
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        return conf

    def start_session(self, master: str | None = None):
        from spark_streaming_kafka_example_spark.engine import get_session

        self.spark = get_session(app_name="perfbench", master=master, extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.streams.addListener(self.progress.listener())
        return self.spark

    def restart_session(self, master: str):
        self.spark.stop()
        return self.start_session(master)

    def tables(self, sf: float):
        """Seeded tables at scale ``sf`` and their DuckDB oracle."""
        from datagen import write_tables
        from oracle import Oracle

        if sf not in self._tables:
            d = os.path.join(self.work, f"tables-sf{sf}")
            write_tables(d, sf, self.seed)
            self._tables[sf] = (d, Oracle(d))
        return self._tables[sf]


def timed_span(tracer, name: str, fn, *args):
    with tracer.span(name):
        return fn(*args)


def stop_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="where a traced run writes its record")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    sys.path.insert(0, ROOT)
    try:
        from spark_streaming_kafka_example_spark import plans
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    pin_env(work)
    from common import event_log_files, jvm_peak_rss_mb, reduce_event_log

    plans.load_all()
    workload = importlib.import_module(WORKLOADS[args.workload]).Workload()
    ctx = Ctx(args, work, plans)
    try:
        t0 = time.time()
        with ctx.tracer.span("setup", trace_id="run"):
            # Inputs are generated while the JVM starts; neither needs the other.
            with ThreadPoolExecutor(max_workers=1) as pool:
                fixtures = pool.submit(timed_span, ctx.tracer, "fixtures", workload.prepare, ctx)
                with ctx.tracer.span("engine.get_session"):
                    ctx.start_session()
                t1 = time.time()
                fixtures.result()
            t2 = time.time()
            with ctx.tracer.span("warmup"):
                workload.warmup(ctx)
            t3 = time.time()
        with ctx.tracer.span("measure", trace_id="run"):
            e2e = workload.measure(ctx)
        e2e["setup_s"] = t3 - t0
        e2e["jvm_peak_rss_mb"] = jvm_peak_rss_mb(ctx.spark)
        facts = versions(ctx.spark)
        values = e2e
        if args.trace:
            app_id = ctx.spark.sparkContext.applicationId
            layer = {"engine.session_start_s": t1 - t0, "engine.warmup_s": t3 - t2}
            layer.update(workload.layers(ctx))
            stop_jvm()
            layer.update(reduce_event_log(event_log_files(os.path.join(work, "eventlog"), app_id)))
            record = {
                "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "env": facts, "end_to_end_traced": e2e, "per_layer": layer,
                "attempted": ctx.attempted, "failed": ctx.failed,
                "spans": ctx.tracer.records(),
                "progress": [p for ps in ctx.progress.progress.values() for p in ps],
            }
            path = args.record or os.path.join(
                ROOT, ".perfbench_out", f"trace-{args.workload}-s{args.seed}.json"
            )
            os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
            with open(path, "w") as f:
                # Paths in progress events are written relative to the checkout.
                f.write(json.dumps(record, indent=1, default=float).replace(ROOT + "/", ""))
            values = layer
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    metrics = {}
    for m in wanted:
        v = values.get(m["name"], 0.0 if args.trace else None)
        if v is None:
            raise RuntimeError(f"workload {args.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    print(json.dumps({"env": facts}))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
