"""``sensor_stream``: the paper's pipeline on a watched directory.

``readStream.text`` over a directory (the stand-in for the Kafka topic) ->
``pipelines.sensor_enrich`` against the master CSV read by
``sources.read_csv_master`` -> ``pipelines.windowed_analysis`` (5-minute
windows sliding by 1 minute, 10-minute watermark, ``sum_whc < 25`` alert)
-> ``foreachBatch(sinks.idempotent_parquet_handler)`` in update mode.

A query first drains a backlog that is already in the directory when it
starts (catch-up, a closed loop); this is done ``CATCHUPS`` times by fresh
queries over the same files. The last query then goes on while one
generator thread writes one pre-rendered file every ``INTERVAL_S`` seconds
(live, an open loop). Each live file is timed from its due time to the
moment the sink write of the batch that read it returned. Every query's
output is checked against the reference replay below.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

import numpy as np

from common import data_batches, median, pct, streaming_layers
from datagen import SensorGen

EVENTS_PER_S = 20_000
INTERVAL_S = 0.08
BACKLOG_EVENTS = 200_000
CATCHUPS = 3
BACKLOG_FILE_EVENTS = 10_000
WARMUPS = 2
DRAIN_S = 15.0
ALERT = 25.0
WINDOW_S, SLIDE_S = 300, 60
MEASURES = ("temperature", "humidity", "ph", "whc")
NULL_FIELD = "<unmatched>"  # group key of sensors missing from the master


class Feed:
    """Pre-rendered input files of one query run: ``backlog`` files exist
    before the query starts, ``live`` files are written on schedule."""

    def __init__(self, gen: SensorGen, first_file: int, backlog_events: int, live_files: int):
        self.events, self.payload = [], []
        n_backlog = backlog_events // BACKLOG_FILE_EVENTS
        per_live = int(EVENTS_PER_S * INTERVAL_S)
        # Event time moves on per file; a backlog file spans as much event
        # time as the live files carrying the same number of events.
        no = first_file
        for i in range(n_backlog + live_files):
            n = BACKLOG_FILE_EVENTS if i < n_backlog else per_live
            steps = n // per_live
            ev = gen.file_events(no, n, steps)
            no += steps
            self.events.append(ev)
            self.payload.append(gen.render(ev))
        self.n_backlog = n_backlog

    def backlog(self) -> "Feed":
        """The backlog files of this feed, as a feed."""
        part = Feed.__new__(Feed)
        part.events = self.events[: self.n_backlog]
        part.payload = self.payload[: self.n_backlog]
        part.n_backlog = self.n_backlog
        return part

    @property
    def names(self) -> list[str]:
        return [f"f{i:05d}.json" for i in range(len(self.payload))]


class SensorRun:
    """One streaming query over ``feed``; returns per-file commit facts."""

    def __init__(self, ctx, tag: str, feed: Feed, master_path: str):
        self.ctx, self.feed, self.master_path = ctx, feed, master_path
        base = os.path.join(ctx.work, tag)
        self.src = os.path.join(base, "in")
        self.stage = os.path.join(base, "stage")
        self.out = os.path.join(base, "out")
        self.ckpt = os.path.join(base, "ckpt")
        for d in (self.src, self.stage):
            os.makedirs(d, exist_ok=True)
        self.commits: dict[int, float] = {}
        self.due: dict[str, float] = {}
        self.lag: list[float] = []
        self.cond = threading.Condition()

    def _write(self, i: int) -> None:
        name = self.feed.names[i]
        tmp = os.path.join(self.stage, name)
        with open(tmp, "wb") as f:
            f.write(self.feed.payload[i])
        os.rename(tmp, os.path.join(self.src, name))

    def write_backlog(self) -> None:
        for i in range(self.feed.n_backlog):
            self._write(i)

    def _start(self):
        from spark_streaming_kafka_example_spark import sources
        from spark_streaming_kafka_example_spark.streaming import pipelines, sinks

        spark = self.ctx.spark
        raw = spark.readStream.text(self.src)
        master = sources.read_csv_master(spark, self.master_path)
        alerts = pipelines.windowed_analysis(pipelines.sensor_enrich(raw, master))
        handler = sinks.idempotent_parquet_handler(self.out)
        run = self

        def on_batch(df, batch_id):
            handler(df, batch_id)
            with run.cond:
                run.commits[batch_id] = time.time()
                run.cond.notify_all()

        return (
            alerts.writeStream.outputMode("update")
            .foreachBatch(on_batch)
            .option("checkpointLocation", self.ckpt)
            .start()
        )

    def _generate(self, t0: float) -> None:
        for k, i in enumerate(range(self.feed.n_backlog, len(self.feed.payload))):
            due = t0 + k * INTERVAL_S
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            self._write(i)
            self.due[self.feed.names[i]] = due
            self.lag.append(time.time() - due)

    def file_batches(self) -> dict[str, int]:
        """File name -> batch id, from the checkpoint's file-source log."""
        return file_batches(os.path.join(self.ckpt, "sources", "0"))

    def run(self) -> dict:
        """Start, drain the backlog, feed the live files, drain, stop."""
        tracer = self.ctx.tracer
        t_start = time.time()
        query = self._start()
        try:
            with tracer.span("streaming.catchup"):
                with self.cond:
                    if not self.cond.wait_for(lambda: 0 in self.commits, timeout=120):
                        raise TimeoutError("catch-up batch never committed")
            n_live = len(self.feed.payload) - self.feed.n_backlog
            with tracer.span("streaming.live", files=n_live):
                gen = threading.Thread(target=self._generate, args=(time.time(),))
                gen.start()
                gen.join()
            last_due = max(self.due.values(), default=time.time())
            live = set(self.due)
            with tracer.span("streaming.drain"):
                while time.time() < last_due + DRAIN_S:
                    fb = self.file_batches()
                    with self.cond:
                        done = {f for f in live if fb.get(f) in self.commits}
                    if done == live:
                        break
                    time.sleep(0.05)
        finally:
            query.stop()
        return {"t_start": t_start, "t_stop": time.time(), "file_batch": self.file_batches(),
                "commits": dict(self.commits)}


def file_batches(log_dir: str) -> dict[str, int]:
    """File name -> batch id from a file-source metadata log directory
    (``<batch>`` and ``<batch>.compact`` files, a version line followed by
    one JSON entry per line)."""
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for fn in os.listdir(log_dir):
        if fn.startswith(".") or fn.endswith(".tmp"):
            continue
        try:
            with open(os.path.join(log_dir, fn)) as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:
            continue
        for line in lines:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def commit_times(fb: dict[str, int], commits: dict[int, float]) -> dict[str, float]:
    """File name -> time the sink write of the batch that read it returned."""
    return {n: commits[b] for n, b in fb.items() if b in commits}


def live_latencies_ms(due: dict[str, float], committed: dict[str, float]) -> list[float]:
    """Per live file: commit time minus due time. All live files carry the
    same number of events, so percentiles over files are percentiles over
    events."""
    return [(committed[n] - t) * 1e3 for n, t in due.items() if n in committed]


def catchup_s(run: SensorRun, res: dict, committed: dict[str, float]) -> float:
    """Query start until the last backlog file's batch was committed."""
    backlog = run.feed.names[: run.feed.n_backlog]
    if any(n not in committed for n in backlog):
        raise RuntimeError("backlog not committed")
    return max(committed[n] for n in backlog) - res["t_start"]


# ---------------------------------------------------------------------------
# Reference replay


def replay(gen: SensorGen, feed: Feed, fb: dict[str, int]) -> dict[int, dict]:
    """Expected update-mode output per batch: the windows a batch touched,
    with their cumulative sums over every batch so far, kept if the alert
    holds. Late rows never reach an evicted window here (the generator
    keeps lateness under the window length), so no row is dropped."""
    import pandas as pd

    by_batch: dict[int, list[int]] = {}
    for i, name in enumerate(feed.names):
        if name in fb:
            by_batch.setdefault(fb[name], []).append(i)
    cum = None
    expected: dict[int, dict] = {}
    for b in sorted(by_batch):
        ev = {k: np.concatenate([feed.events[i][k] for i in by_batch[b]]) for k in feed.events[0]}
        known = ev["idx"] < gen.n_known
        field = np.where(known, np.char.add("field", gen.field_of[ev["idx"]].astype(str)), NULL_FIELD)
        first = (ev["t"] // SLIDE_S) * SLIDE_S
        frames = []
        for k in range(WINDOW_S // SLIDE_S):
            frames.append(pd.DataFrame({
                "ws": first - k * SLIDE_S, "field": field,
                **{m: ev[m] for m in MEASURES},
            }))
        part = pd.concat(frames).groupby(["ws", "field"])[list(MEASURES)].sum()
        cum = part if cum is None else cum.add(part, fill_value=0.0)
        upd = cum.loc[part.index]
        upd = upd[upd["whc"] < ALERT]
        expected[b] = {
            (int(ws), f): tuple(row)
            for (ws, f), row in zip(upd.index, upd[list(MEASURES)].itertuples(index=False))
        }
    return expected


def read_output(out_dir: str) -> dict[int, dict]:
    """Rows the sink wrote, per ``batch_id`` partition."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    actual: dict[int, dict] = {}
    if not os.path.isdir(out_dir):
        return actual
    for d in os.listdir(out_dir):
        if not d.startswith("batch_id="):
            continue
        t = pq.read_table(os.path.join(out_dir, d))
        ws = t["window_start"].cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
        t = t.to_pydict()
        rows = {}
        for i, w in enumerate(ws):
            rows[(w // 1_000_000, t["field_id"][i] or NULL_FIELD)] = tuple(t[f"sum_{m}"][i] for m in MEASURES)
        actual[int(d.split("=", 1)[1])] = rows
    return actual


def check_batches(expected: dict[int, dict], actual: dict[int, dict], batches) -> list[int]:
    """Batch ids whose emitted rows differ from the replay."""
    bad = []
    for b in batches:
        e, a = expected.get(b, {}), actual.get(b, {})
        if e.keys() != a.keys() or any(
            not np.allclose(e[k], a[k], rtol=1e-9, atol=1e-6) for k in e
        ):
            bad.append(b)
    return bad


# ---------------------------------------------------------------------------
# Workload


class Workload:
    def prepare(self, ctx) -> None:
        self.gen = SensorGen(ctx.seed)
        self.master = os.path.join(ctx.work, "sensor_field.csv")
        with open(self.master, "w") as f:
            f.write(self.gen.master_csv())
        n_live = int(round(ctx.seconds / INTERVAL_S))
        self.feed = Feed(self.gen, 0, BACKLOG_EVENTS, n_live)
        self.timed = SensorRun(ctx, "timed", self.feed, self.master)
        self.timed.write_backlog()
        self._expected: dict[frozenset, dict] = {}

    def warmup(self, ctx) -> None:
        # Separate queries (own directory and checkpoint each) over the
        # backlog of the timed feed. Drains keep speeding up over the first
        # few queries of a JVM; fewer or smaller warm-up queries leave that
        # trend in the measured drains.
        for k in range(WARMUPS):
            warm = SensorRun(ctx, f"warm{k}", self.feed.backlog(), self.master)
            warm.write_backlog()
            warm.run()

    def measure(self, ctx) -> dict:
        # The catch-up is drained CATCHUPS times, each by a fresh query over
        # the same backlog in its own directory; the last query goes on into
        # the live phase. The median drain is robust to a burst of host load.
        drains = []
        for k in range(CATCHUPS - 1):
            run = SensorRun(ctx, f"catchup{k}", self.feed.backlog(), self.master)
            run.write_backlog()
            with ctx.tracer.span("sensor.catchup_query", trace_id=f"catchup{k}"):
                res = run.run()
            drains.append(catchup_s(run, res, self._check(ctx, run, res)))
        with ctx.tracer.span("sensor.query", trace_id="sensor"):
            res = self.timed.run()
        committed = self._check(ctx, self.timed, res)
        drains.append(catchup_s(self.timed, res, committed))
        lat = live_latencies_ms(self.timed.due, committed)
        for n, due in self.timed.due.items():
            if n in committed:
                ctx.tracer.add(f"live file {n}", due, committed[n], trace_id="sensor",
                               batch=res["file_batch"][n])
        self.catchup_eps = BACKLOG_EVENTS / median(drains)
        self.live_p90_ms = pct(lat, 90)
        self.layer_facts = (self.timed, res)
        return {
            "wall_s": median(drains),
            "throughput_per_s": self.catchup_eps,
            "latency_p50_ms": median(lat),
        }

    def _check(self, ctx, run: SensorRun, res: dict) -> dict[str, float]:
        """Count the run's batches and files as attempts, failing the batches
        that differ from the replay and the files never committed; return
        each committed file's commit time."""
        fb = res["file_batch"]
        committed = commit_times(fb, res["commits"])
        missing = [n for n in run.feed.names if n not in committed]
        batches = sorted(res["commits"])
        # Every feed here is the timed feed or its backlog, so a file name
        # stands for the same events in each, and the replay depends on the
        # file-to-batch map alone; the catch-up queries share theirs.
        key = frozenset(fb.items())
        if key not in self._expected:
            self._expected[key] = replay(self.gen, run.feed, fb)
        bad = check_batches(self._expected[key], read_output(run.out), batches)
        ctx.attempt(len(batches) + len(run.feed.names), len(bad) + len(missing))
        if bad or missing:
            print(f"perfbench: batches {bad} differ from the replay; files never committed: "
                  f"{len(missing)}", file=sys.stderr)
        return committed

    def layers(self, ctx) -> dict:
        run, res = self.layer_facts
        ps = ctx.progress.batches(ctx.progress.wait_terminated(res["t_start"], res["t_stop"]))
        out = streaming_layers(ps)
        ops = [op for p in data_batches(ps) for op in p.get("stateOperators", [])]
        rows_in = sum(p["numInputRows"] for p in data_batches(ps))
        out.update({
            "streaming.pipelines.live_latency_p90_ms": self.live_p90_ms,
            "analytics.state_rows_total": ops[-1]["numRowsTotal"] if ops else 0,
            "analytics.state_memory_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
            "analytics.state_commit_ms_p50": median([o["commitTimeMs"] for o in ops]),
            "analytics.state_update_ms_p50": median([o["allUpdatesTimeMs"] for o in ops]),
            "analytics.rows_dropped_by_watermark": sum(o["numRowsDroppedByWatermark"] for o in ops),
            "analytics.updated_rows_per_input_row": (
                sum(o["numRowsUpdated"] for o in ops) / rows_in if rows_in else 0.0
            ),
            "gen.lag_ms_max": max(run.lag) * 1e3 if run.lag else 0.0,
            "gen.files": len(run.due),
            "gen.events": sum(len(run.feed.events[i]["t"]) for i in range(run.feed.n_backlog, len(run.feed.payload))),
        })
        # Single-threaded baseline: the same catch-up again at local[1].
        ctx.restart_session(master="local[1]")
        with ctx.tracer.span("engine.catchup_1core"):
            one = SensorRun(ctx, "one_core", run.feed.backlog(), self.master)
            one.write_backlog()
            r1 = one.run()
        out["engine.catchup_eps_1core"] = BACKLOG_EVENTS / catchup_s(one, r1, self._check(ctx, one, r1))
        out["engine.catchup_scaling"] = self.catchup_eps / out["engine.catchup_eps_1core"]
        return out
