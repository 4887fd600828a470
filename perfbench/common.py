"""Shared benchmark machinery: spans, the streaming progress collector and
its per-layer figures, the Spark event-log reducer, and small statistics
helpers.

Everything here observes the program from outside: it times calls into
public functions, listens to Spark's ``StreamingQueryListener`` events and
reads the event log Spark writes when asked to through
``engine.get_session(extra_conf=...)``.
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
import time
from dataclasses import dataclass, field

def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return pct(values, 50)


def iso_to_epoch(ts: str) -> float:
    """Spark progress timestamps (``2026-01-01T00:00:00.123Z``) to epoch s."""
    from datetime import datetime, timezone

    dt = datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


# ---------------------------------------------------------------------------
# Spans


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace_id: str = ""
    id: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    ``span`` nests through a per-thread stack; ``add`` records an interval
    measured elsewhere (for example from progress events). With
    ``enabled=False`` nothing is kept, so the timed runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name, start, end, parent=None, trace_id="", **attrs) -> int:
        if not self.enabled:
            return -1
        with self._lock:
            sid = len(self.spans)
            if parent is None and self._stack():
                parent = self._stack()[-1]
            if not trace_id and parent is not None and parent >= 0:
                trace_id = self.spans[parent].trace_id
            self.spans.append(Span(name, start, end, parent, trace_id, sid, attrs))
            return sid

    def span(self, name: str, trace_id: str = "", **attrs):
        tracer = self

        class _Ctx:
            def __enter__(self_inner):
                self_inner.t0 = time.time()
                self_inner.sid = tracer.add(name, self_inner.t0, 0.0, trace_id=trace_id, **attrs)
                if self_inner.sid >= 0:
                    tracer._stack().append(self_inner.sid)
                return self_inner

            def __exit__(self_inner, *exc):
                t1 = time.time()
                self_inner.elapsed = t1 - self_inner.t0
                if self_inner.sid >= 0:
                    tracer._stack().pop()
                    tracer.spans[self_inner.sid].end = t1
                return False

        return _Ctx()

    def records(self) -> list[dict]:
        """Spans as dicts, each with its self time: duration minus the part
        of its interval that its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                cs, ce = max(c.start, s.start), min(c.end, s.end)
                if ce <= cs:
                    continue
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            dur = s.end - s.start
            out.append({
                "id": s.id, "name": s.name, "parent": s.parent, "trace_id": s.trace_id,
                "start": round(s.start, 6), "end": round(s.end, 6),
                "dur_ms": round(dur * 1e3, 3), "self_ms": round((dur - covered) * 1e3, 3),
                **({"attrs": s.attrs} if s.attrs else {}),
            })
        return out


# ---------------------------------------------------------------------------
# Streaming progress, keyed by query id


class ProgressCollector:
    """Collects ``StreamingQueryListener`` events per query id.

    Listener events arrive on their own thread, possibly after the next
    query has started, so nothing is attributed by arrival time: a caller
    takes the queries whose start timestamp lies in its own call interval,
    once ``wait_terminated`` has seen every one of them end."""

    def __init__(self):
        self.started: dict[str, float] = {}
        self.terminated: dict[str, float] = {}
        self.progress: dict[str, list[dict]] = {}
        self.cond = threading.Condition()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        coll = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with coll.cond:
                    coll.started[str(event.id)] = iso_to_epoch(event.timestamp)
                    coll.progress.setdefault(str(event.id), [])
                    coll.cond.notify_all()

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with coll.cond:
                    coll.progress.setdefault(p["id"], []).append(p)
                    coll.cond.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with coll.cond:
                    coll.terminated[str(event.id)] = time.time()
                    coll.cond.notify_all()

        return _L()

    def wait_terminated(self, since: float, until: float, timeout: float = 30.0) -> list[str]:
        """Ids of the queries started in ``[since, until]``, once at least one
        has started there and every one of them has terminated."""
        deadline = time.time() + timeout
        with self.cond:
            while True:
                ids = [q for q, t in self.started.items() if since - 0.05 <= t <= until]
                if ids and all(q in self.terminated for q in ids):
                    return sorted(ids, key=self.started.get)
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError(f"queries started in [{since}, {until}] did not terminate")
                self.cond.wait(left)

    def batches(self, ids) -> list[dict]:
        with self.cond:
            return [p for q in ids for p in self.progress.get(q, [])]


def batch_end(p: dict) -> float:
    return iso_to_epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1e3


def data_batches(ps: list[dict]) -> list[dict]:
    """Progress events of triggers that read input (not idle no-op ones)."""
    return [p for p in ps if p.get("numInputRows", 0) > 0]


def duration_p(ps: list[dict], key: str, q: float = 50) -> float:
    return pct([p["durationMs"].get(key, 0) for p in ps], q)


def streaming_layers(ps: list[dict]) -> dict:
    """``sources.*`` and ``streaming.sinks.*`` figures from progress events
    of the triggers that read input."""
    ds = data_batches(ps)
    if not ds:
        return {}
    busy = sum(p["durationMs"].get("triggerExecution", 0) for p in ds) / 1e3
    span = max(batch_end(p) for p in ds) - min(iso_to_epoch(p["timestamp"]) for p in ds)
    return {
        "sources.latest_offset_ms_p50": duration_p(ds, "latestOffset"),
        "sources.get_batch_ms_p50": duration_p(ds, "getBatch"),
        "streaming.sinks.trigger_ms_p50": duration_p(ds, "triggerExecution"),
        "streaming.sinks.trigger_ms_p90": duration_p(ds, "triggerExecution", 90),
        "streaming.sinks.planning_ms_p50": duration_p(ds, "queryPlanning"),
        "streaming.sinks.add_batch_ms_p50": duration_p(ds, "addBatch"),
        "streaming.sinks.wal_commit_ms_p50": duration_p(ds, "walCommit"),
        "streaming.sinks.commit_offsets_ms_p50": duration_p(ds, "commitOffsets"),
        "streaming.sinks.batches": len(ds),
        "streaming.sinks.rows_per_batch_p50": median([p["numInputRows"] for p in ds]),
        "streaming.sinks.busy_share": busy / span if span > 0 else 1.0,
    }


# ---------------------------------------------------------------------------
# Event log


# Python-UDF SQL metrics: (the description they carry in the event log,
# output key, scale of the logged value to seconds or bytes).
_PY_METRICS = (
    ("time to run python workers", "python_total", 1e-3),
    ("time to start python workers", "python_boot", 1e-3),
    ("data sent to python workers", "python_bytes_sent", 1.0),
)


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The event-log part files Spark wrote for ``app_id`` under
    ``log_dir``, in order (a single file, or ``events_<n>_<app>`` parts of a
    rolling log directory)."""
    found = []
    for dirpath, _dirs, files in os.walk(log_dir):
        for fn in files:
            if app_id in fn and not fn.startswith((".", "appstatus")):
                m = re.match(r"events_(\d+)_", fn)
                found.append((int(m.group(1)) if m else 0, os.path.join(dirpath, fn)))
    if not found:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    return [p for _, p in sorted(found)]


def reduce_event_log(paths: list[str]) -> dict:
    """Reduce one application's event log (JSON lines, uncompressed) to the
    ``spark.*`` and ``functions.*`` totals.

    SQL metrics reach the log as task accumulables named by their
    description; the Python-UDF ones are picked out by that name."""
    jobs: dict[int, dict] = {}
    stages = tasks = 0
    task_ms = gc_ms = sh_r = sh_w = spill = 0
    py = {key: 0.0 for _, key, _ in _PY_METRICS}
    for line in (line for p in paths for line in open(p)):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"], "end": None,
                "label": props.get("spark.job.description"),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            stages += 1
        elif kind == "SparkListenerTaskEnd":
            tasks += 1
            m = ev.get("Task Metrics") or {}
            task_ms += m.get("Executor Run Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            sh_r += sum(
                (m.get("Shuffle Read Metrics") or {}).get(k, 0)
                for k in ("Remote Bytes Read", "Local Bytes Read")
            )
            sh_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = str(acc.get("Name", "")).lower()
                for desc, key, scale in _PY_METRICS:
                    if name == desc:
                        py[key] += float(acc.get("Update", 0)) * scale
    done = [j for j in jobs.values() if j["end"] is not None]
    busy = sum(j["end"] - j["start"] for j in done)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.task_time_s": task_ms / 1e3,
        "spark.gc_time_s": gc_ms / 1e3,
        "spark.shuffle_read_bytes": sh_r,
        "spark.shuffle_write_bytes": sh_w,
        "spark.spill_bytes": spill,
        "spark.job_concurrency": busy / max(_union_ms(done), 1e-9) if done else 0.0,
        "spark.jobs_unlabelled_share": (
            sum(1 for j in jobs.values() if not j["label"]) / len(jobs) if jobs else 0.0
        ),
        "functions.python_total_s": py["python_total"],
        "functions.python_boot_s": py["python_boot"],
        "functions.python_bytes_sent": py["python_bytes_sent"],
    }


def _union_ms(jobs: list[dict]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for j in sorted(jobs, key=lambda j: j["start"]):
        if cur_e is None or j["start"] > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = j["start"], j["end"]
        else:
            cur_e = max(cur_e, j["end"])
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Process facts


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
