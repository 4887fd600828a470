#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic; no Spark session needed.

    python3 perfbench/selftest.py

Checks the metric names and units in BENCHMARK.json, the seeded
generators, the sensor reference replay (including that a planted wrong
sum is caught), the file-to-batch latency mapping over a fixture
checkpoint log, and the event-log reducer over a tiny captured log.
"""

from __future__ import annotations

import copy
import json
import os
import re
import sys
import tempfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import reduce_event_log  # noqa: E402
from datagen import SensorGen, write_tables  # noqa: E402
from oracle import same_rows  # noqa: E402
from sensor import (  # noqa: E402
    MEASURES, NULL_FIELD, Feed, check_batches, commit_times, file_batches,
    live_latencies_ms, replay,
)

FIXTURES = os.path.join(HERE, "fixtures")
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_metric_names():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names)), "metric or workload name used twice"
    for n in names:
        assert METRIC_NAME.fullmatch(n), n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup == max(m["bound"] for m in spec["end_to_end"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])


def test_oracle_rows_tolerate_rounding_ties():
    assert same_rows([("1", "321026.46")], [("1", "321026.45")])
    assert same_rows([("s:76", "0.00060652")], [("s:76", "0.00060651")])
    assert not same_rows([("1", "321026.47")], [("1", "321026.45")])
    # The tolerance is the column's last decimal place, not the cell's.
    assert not same_rows([("1", "0.1"), ("2", "0.1234")], [("1", "0.2"), ("2", "0.1234")])
    assert not same_rows([("1", "1e-05")], [("1", "2e-05")])
    assert not same_rows([("a", "1.5")], [("b", "1.5")])
    assert not same_rows([("a", "1.5")], [])


def test_seeded_inputs_repeat():
    a, b = SensorGen(7), SensorGen(7)
    assert a.master_csv() == b.master_csv()
    assert Feed(a, 0, 20_000, 3).payload == Feed(b, 0, 20_000, 3).payload
    assert Feed(SensorGen(8), 0, 20_000, 0).payload != Feed(SensorGen(7), 0, 20_000, 0).payload
    with tempfile.TemporaryDirectory() as d:
        write_tables(os.path.join(d, "x"), 0.001, 3)
        write_tables(os.path.join(d, "y"), 0.001, 3)
        for t in os.listdir(os.path.join(d, "x")):
            with open(os.path.join(d, "x", t), "rb") as fx, open(os.path.join(d, "y", t), "rb") as fy:
                assert fx.read() == fy.read(), t


def _tiny_feed(gen: SensorGen, rows: list[list[tuple]]) -> Feed:
    """A feed whose file i holds ``rows[i]`` = (sensor index, epoch s, whc)."""
    feed = Feed.__new__(Feed)
    feed.n_backlog = 1
    feed.events, feed.payload = [], []
    for file_rows in rows:
        idx, t, whc = (np.array(c) for c in zip(*file_rows))
        ones = np.ones(len(idx))
        feed.events.append({"idx": idx, "t": t, "lat": ones, "lon": ones,
                            "temperature": ones, "humidity": ones, "ph": ones, "whc": whc})
        feed.payload.append(gen.render(feed.events[-1]))
    return feed


def test_replay_update_mode():
    gen = SensorGen(1, n_sensors=4, n_fields=2, missing_share=0.25)
    gen.field_of = np.array([0, 1, 0, 1])  # sensor 3 is unmatched
    t0 = 1_529_020_800  # 2018-06-15 00:00:00, a minute boundary
    feed = _tiny_feed(gen, [
        [(0, t0 + 10, 5.0), (2, t0 + 20, 6.0)],
        [(1, t0 + 70, 30.0), (3, t0 + 75, 1.0)],
        [(0, t0 + 30, 20.0)],
    ])
    fb = {n: i for i, n in enumerate(feed.names)}
    exp = replay(gen, feed, fb)
    # Batch 0: field0 windows starting t0-240..t0 hold 5+6.
    assert set(exp[0]) == {(t0 - 60 * k, "field0") for k in range(5)}
    assert all(v[MEASURES.index("whc")] == 11.0 for v in exp[0].values())
    # Batch 1: field1 sums 30 (no alert); the unmatched sensor's group
    # alerts under the null key.
    assert set(exp[1]) == {(t0 + 60 - 60 * k, NULL_FIELD) for k in range(5)}
    # Batch 2: update mode re-emits the field0 windows with cumulative
    # sums, which now reach 31 and so stop alerting.
    assert exp[2] == {}
    # A planted wrong sum is caught, in that batch only.
    actual = copy.deepcopy(exp)
    key = sorted(actual[0])[0]
    actual[0][key] = tuple(v + (0.5 if i == 3 else 0) for i, v in enumerate(actual[0][key]))
    assert check_batches(exp, exp, [0, 1, 2]) == []
    assert check_batches(exp, actual, [0, 1, 2]) == [0]
    # So is a missing row and an extra batch output.
    del actual[0][key]
    actual[2] = {key: (1.0, 1.0, 1.0, 1.0)}
    assert check_batches(exp, actual, [0, 1, 2]) == [0, 2]


def test_latency_from_checkpoint_log():
    fb = file_batches(os.path.join(FIXTURES, "ckpt_sources"))
    assert fb == {"f00000.json": 0, "f00001.json": 0, "f00002.json": 1,
                  "f00003.json": 2, "f00004.json": 2}
    commits = {0: 100.0, 1: 101.5, 2: 102.25}
    committed = commit_times(fb, commits)
    due = {"f00002.json": 100.5, "f00003.json": 101.0, "f00004.json": 101.25, "f00005.json": 101.5}
    lat = sorted(live_latencies_ms(due, committed))
    assert lat == [1000.0, 1000.0, 1250.0], lat  # f00005 was never read


def test_event_log_reducer():
    r = reduce_event_log([os.path.join(FIXTURES, "eventlog_tiny.jsonl")])
    assert r["spark.jobs"] == 3 and r["spark.stages"] == 3 and r["spark.tasks"] == 9
    assert abs(r["spark.task_time_s"] - 1.925) < 1e-9
    assert abs(r["spark.gc_time_s"] - 0.096) < 1e-9
    assert r["spark.shuffle_read_bytes"] == r["spark.shuffle_write_bytes"] == 1141
    assert r["spark.spill_bytes"] == 0
    assert abs(r["spark.jobs_unlabelled_share"] - 2 / 3) < 1e-9
    assert abs(r["spark.job_concurrency"] - 1.0) < 1e-9  # the three jobs ran one by one
    assert r["functions.python_total_s"] == 1.5 and r["functions.python_boot_s"] == 0.25
    assert r["functions.python_bytes_sent"] == 4096


def main() -> int:
    failed = 0
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
                print(f"ok   {name}")
            except Exception as e:  # noqa: BLE001 - report every failing check
                failed += 1
                print(f"FAIL {name}: {type(e).__name__}: {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
