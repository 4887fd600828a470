"""Checkpoint recovery (exactly-once file sink) and randomized property
checks for the composed operators (as-of join, sessionize, range join)
against independent pandas implementations."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spark_streaming_kafka_example_spark.operators.asof import asof_join
from spark_streaming_kafka_example_spark.operators.rangejoin import interval_point_join
from spark_streaming_kafka_example_spark.operators.sessionize import sessionize
from spark_streaming_kafka_example_spark.streaming.pipelines import sensor_archive
from spark_streaming_kafka_example_spark.streaming.sinks import parquet_sink

from .test_streaming import VALUE_SCHEMA, sensor_json, write_value_batch


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """T2: restarting a checkpointed file-sink query must process only the
    new batch — no duplicates, no loss."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_value_batch(
        spark, src, [sensor_json(1, "2018/06/15 09:00:00", whc=1.0)], 0
    )

    def run_once():
        stream = spark.readStream.schema(VALUE_SCHEMA).parquet(src)
        q = parquet_sink(sensor_archive(stream), out, ckpt, partition_by="month")
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == 1
    # second batch lands while the query is DOWN; restart from checkpoint
    write_value_batch(
        spark, src, [sensor_json(2, "2018/06/15 09:01:00", whc=2.0)], 1
    )
    run_once()
    rows = spark.read.parquet(out).select("id").collect()
    assert sorted(r.id for r in rows) == [1, 2]  # batch 0 not reprocessed


def _random_events(rng: random.Random, n: int, n_keys: int):
    base = 1_700_000_000
    return pd.DataFrame(
        {
            "event_id": range(n),
            "user_id": [rng.randrange(n_keys) for _ in range(n)],
            "ts": pd.to_datetime(
                [base + rng.randrange(0, 3 * 86400) for _ in range(n)], unit="s"
            ),
            "value": [round(rng.uniform(0, 100), 2) for _ in range(n)],
        }
    )


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_asof_property_random(spark, seed):
    rng = random.Random(seed)
    pdf = _random_events(rng, 300, 8)
    left = pdf[pdf.event_id % 2 == 0]
    right = pdf[pdf.event_id % 2 == 1]
    sleft = spark.createDataFrame(left[["user_id", "ts", "event_id"]])
    sright = spark.createDataFrame(right[["user_id", "ts", "value"]])
    out = asof_join(
        sleft, sright, key="user_id", right_cols=("value",)
    ).toPandas()
    expected = pd.merge_asof(
        left.sort_values("ts")[["event_id", "user_id", "ts"]],
        right.sort_values("ts")[["user_id", "ts", "value"]].rename(
            columns={"ts": "ts_right", "value": "value_right"}
        ),
        left_on="ts",
        right_on="ts_right",
        by="user_id",
    )
    m = expected.merge(out, on="event_id", suffixes=("_exp", "_act"))
    assert len(m) == len(left)
    for col in ("ts_right", "value_right"):
        same = (m[f"{col}_exp"].isna() & m[f"{col}_act"].isna()) | (
            m[f"{col}_exp"] == m[f"{col}_act"]
        )
        assert same.all(), f"{col} mismatch at seed {seed}"


@pytest.mark.parametrize("seed", [31, 32])
def test_components_algorithms_agree_on_random_graphs(spark, seed):
    """min-label propagation and large-star/small-star must produce the
    identical (node -> component-min) labeling on random graphs — sparse
    (chains + small components) and denser (one giant component)."""
    from spark_streaming_kafka_example_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(seed)
    for m in (60, 200):
        edges = [
            (rng.randrange(0, 120), rng.randrange(0, 120)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        prop = connected_components(pairs, max_iterations=60).toPandas()
        star = connected_components_star(pairs, max_iterations=25).toPandas()
        assert dict(zip(prop.node, prop.cluster_id)) == dict(
            zip(star.node, star.cluster_id)
        ), f"seed {seed}, m {m}"


@pytest.mark.parametrize("seed", [21, 22, 23])
def test_audio_codec_property_random(seed):
    """Randomized WAV codec properties: (a) encode->decode round-trips any
    signal within 16-bit quantization error for random lengths / channel
    counts / rates; (b) band energies are an L1-normalized distribution;
    (c) random byte garbage either raises ValueError or decodes — the
    parser must never escape with IndexError/struct.error (per-row decode
    failures must be catchable as ValueError by the multimodal operators)."""
    import numpy as np

    from spark_streaming_kafka_example_spark.functions import audio as A

    rng = random.Random(seed)
    nprng = np.random.default_rng(seed)
    for _ in range(10):
        n = rng.randrange(1, 5000)
        ch = rng.randrange(1, 4)
        rate = rng.choice([8000, 16000, 44100])
        sig = np.clip(nprng.standard_normal((n, ch)) * 0.3, -1, 1)
        back, got_rate = A.decode_wav(A.encode_wav(sig, rate))
        assert got_rate == rate and back.shape == (n, ch)
        # encode scales by 32767, decode by 32768: error <= |x|/32768
        # (scale mismatch) + 0.5/32768 (rounding) <= 1.5/32768
        assert np.abs(back - sig).max() <= 1.5 / 32768 + 1e-9
        feats = A.band_energies(back, 8)
        assert len(feats) == 8 and all(f >= 0 for f in feats)
        assert abs(sum(feats) - 1.0) < 1e-9
    for _ in range(50):
        blob = bytes(rng.getrandbits(8) for _ in range(rng.randrange(0, 64)))
        for prefix in (b"", b"RIFF", b"RIFF\x00\x00\x00\x00WAVE"):
            try:
                A.decode_wav(prefix + blob)
            except ValueError:
                pass  # the contract: malformed payloads raise ValueError
    # Adversarial well-formed-prefix corruptions, which random garbage
    # rarely hits: a truncated fmt chunk and a fmt declaring 0 channels
    # must also surface as ValueError, or the permissive on_error modes
    # would die on exactly the blobs they exist for.
    import struct

    short_fmt = struct.pack("<HHI", 1, 1, 8000)  # only 8 of 16 fmt bytes
    trunc = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(short_fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(short_fmt)) + short_fmt
    )
    with pytest.raises(ValueError, match="truncated"):
        A.decode_wav(trunc)
    fmt0 = struct.pack("<HHIIHH", 1, 0, 8000, 16000, 2, 16)
    zero_ch = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt0) + 8 + 4) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt0)) + fmt0
        + b"data" + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    )
    with pytest.raises(ValueError, match="zero channels"):
        A.decode_wav(zero_ch)


@pytest.mark.parametrize("seed", [11, 12])
def test_sessionize_property_random(spark, seed):
    """Within a session all gaps <= threshold; consecutive sessions are
    separated by a gap > threshold; session_ids are 1..n per key in time
    order."""
    rng = random.Random(seed)
    pdf = _random_events(rng, 400, 5)
    gap = 3600
    out = (
        sessionize(spark.createDataFrame(pdf), key="user_id", ts_col="ts", gap_seconds=gap)
        .select("user_id", "ts", "session_id")
        .toPandas()
        .sort_values(["user_id", "ts"])
    )
    for _, g in out.groupby("user_id"):
        secs = g.ts.astype("int64") // 10**9
        sid = g.session_id.to_numpy()
        gaps = secs.diff().to_numpy()[1:]
        same_session = sid[1:] == sid[:-1]
        assert ((gaps <= gap) == same_session).all()
        assert sid[0] == 1 and (pd.Series(sid).diff().dropna().isin([0, 1])).all()


@pytest.mark.parametrize("seed", [21, 22])
def test_range_join_property_random(spark, seed):
    """Bucketized range join == naive O(n*m) filter join."""
    rng = random.Random(seed)
    pdf = _random_events(rng, 200, 6)
    intervals = pdf[pdf.event_id % 3 == 0].copy()
    intervals["p_end"] = intervals.ts + pd.Timedelta(minutes=rng.randrange(30, 180))
    points = pdf[pdf.event_id % 3 != 0]
    si = spark.createDataFrame(
        intervals[["event_id", "user_id", "ts", "p_end"]].rename(
            columns={"event_id": "iv_id", "ts": "p_start"}
        )
    )
    sp = spark.createDataFrame(
        points[["event_id", "user_id", "ts"]].rename(columns={"event_id": "pt_id"})
    )
    got = (
        interval_point_join(
            si, sp, key="user_id", start_col="p_start", end_col="p_end",
            ts_col="ts", bucket_seconds=1800,
        )
        .select("iv_id", "pt_id")
        .toPandas()
    )
    naive = intervals.merge(points, on="user_id", suffixes=("_i", "_p"))
    naive = naive[(naive.ts_p >= naive.ts_i) & (naive.ts_p <= naive.p_end)]
    expected = set(zip(naive.event_id_i, naive.event_id_p))
    assert set(zip(got.iv_id, got.pt_id)) == expected


def test_idempotent_foreach_batch_replay(spark, tmp_path):
    """Replaying a batch through the idempotent handler must not duplicate
    rows (exactly-once external sink; SCALE.md streaming notes)."""
    from spark_streaming_kafka_example_spark.sources import load_table
    from spark_streaming_kafka_example_spark.streaming.sinks import (
        idempotent_parquet_handler,
    )

    store = str(tmp_path / "store")
    handler = idempotent_parquet_handler(store)
    batch = load_table(spark, "/root/testdata/sf0.001", "nation")
    handler(batch, 7)
    handler(batch, 7)  # replay of the same micro-batch
    handler(batch.limit(5), 8)
    out = spark.read.parquet(store)
    assert out.filter("batch_id = 7").count() == 25  # not 50
    assert out.filter("batch_id = 8").count() == 5


def test_stream_and_batch_event_schemas_agree(spark):
    """sources.load_table and plans.stream.events_stream must expose the
    same logical schema (ns->us conversion included)."""
    from spark_streaming_kafka_example_spark.plans.stream import events_stream
    from spark_streaming_kafka_example_spark.sources import load_table

    batch = load_table(spark, "/root/testdata/sf0.001", "events")
    stream = events_stream(spark, "/root/testdata/sf0.001")
    assert batch.schema == stream.schema


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_event_schemas_agree_across_ts_layouts(spark, tmp_path, unit):
    """The testdata generator has shipped events.ts as TIMESTAMP(NANOS)
    and as naive TIMESTAMP(MICROS). Both physical layouts must
    surface the SAME logical schema (TimestampType ts) from the batch and
    streaming readers, with identical microsecond values."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from spark_streaming_kafka_example_spark.plans.stream import events_stream
    from spark_streaming_kafka_example_spark.sources import load_table

    d = tmp_path / unit
    d.mkdir()
    micros = 1_700_000_000_123_456  # 2023-11-14T22:13:20.123456Z
    scale = 1000 if unit == "ns" else 1
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([micros * scale, (micros + 7) * scale], pa.timestamp(unit)),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["view", "click"]),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    # version 2.6 keeps TIMESTAMP(NANOS) physical (2.4 coerces to micros)
    pq.write_table(tbl, d / "events.parquet", version="2.6")

    batch = load_table(spark, str(d), "events")
    stream = events_stream(spark, str(d))
    assert batch.schema == stream.schema
    assert isinstance(batch.schema["ts"].dataType, T.TimestampType)
    got = [r.ts for r in batch.orderBy("event_id").collect()]
    assert [int(t.timestamp() * 1_000_000) for t in got] == [micros, micros + 7]


@pytest.mark.parametrize("seed", [11, 12])
def test_paths_trigrams_property_random(spark, seed):
    """The distributed trigram-path pipeline (ordered collect -> sliding
    trigram transform -> count) must agree with a direct Python derivation
    on random event logs, including ts ties broken by event_id."""
    import collections

    rng = random.Random(seed)
    pdf = _random_events(rng, 400, 12)
    pdf["event_type"] = [rng.choice("abc") for _ in range(len(pdf))]
    # force ts collisions so the event_id tie-break actually fires
    pdf["ts"] = pd.to_datetime(
        [1_700_000_000 + rng.randrange(0, 30) for _ in range(len(pdf))],
        unit="s",
    )
    sdf = spark.createDataFrame(pdf[["user_id", "ts", "event_id", "event_type"]])

    from spark_streaming_kafka_example_spark.plans.windows_stats import (
        trigram_path_counts,
    )

    got = collections.Counter(
        {r.path: r.n for r in trigram_path_counts(sdf).collect()}
    )

    exp = collections.Counter()
    for _, grp in pdf.sort_values(["ts", "event_id"]).groupby("user_id"):
        t = list(grp.event_type)
        for i in range(len(t) - 2):
            exp[f"{t[i]}>{t[i+1]}>{t[i+2]}"] += 1
    assert got == exp, f"seed {seed}"


@pytest.mark.parametrize("seed", [13])
def test_paths_cap_keeps_most_recent_events(spark, seed):
    """The _PATH_MAX_EVENTS bound: when a user has
    more events than the cap, the sequence pipeline must mine only the
    MOST RECENT ``max_events`` of them (ties broken by event_id, matching
    the ordered collect). Run with a tiny cap so the bound actually binds
    — at the shipped 10k it never does on test data."""
    import collections

    rng = random.Random(seed)
    pdf = _random_events(rng, 300, 4)  # few users => long per-user histories
    pdf["event_type"] = [rng.choice("abc") for _ in range(len(pdf))]
    pdf["ts"] = pd.to_datetime(
        [1_700_000_000 + rng.randrange(0, 30) for _ in range(len(pdf))],
        unit="s",
    )
    sdf = spark.createDataFrame(pdf[["user_id", "ts", "event_id", "event_type"]])

    from spark_streaming_kafka_example_spark.plans.windows_stats import (
        markov_transition_counts,
        trigram_path_counts,
    )

    cap = 7
    got_tri = collections.Counter(
        {r.path: r.n for r in trigram_path_counts(sdf, max_events=cap).collect()}
    )
    got_mkv = {
        (r.src, r.dst): r.n
        for r in markov_transition_counts(sdf, max_events=cap).collect()
    }

    exp_tri: collections.Counter = collections.Counter()
    exp_mkv: collections.Counter = collections.Counter()
    for _, grp in pdf.sort_values(["ts", "event_id"]).groupby("user_id"):
        assert len(grp) > cap  # the bound must actually bind
        t = list(grp.event_type)[-cap:]  # most recent slice
        for i in range(len(t) - 2):
            exp_tri[f"{t[i]}>{t[i+1]}>{t[i+2]}"] += 1
        for i in range(len(t) - 1):
            exp_mkv[(t[i], t[i + 1])] += 1
    assert got_tri == exp_tri, f"seed {seed}"
    assert got_mkv == dict(exp_mkv), f"seed {seed}"


@pytest.mark.parametrize("seed", [21, 22])
def test_stickiness_window_expansion_property_random(spark, seed):
    """The explode(sequence) trailing-window expansion must equal the
    direct 'distinct users active in [d-6, d]' derivation for every day
    that has activity — the composition replaces a windowed
    count(DISTINCT) that neither engine supports."""
    rng = random.Random(seed)
    pdf = _random_events(rng, 500, 15)
    sdf = spark.createDataFrame(pdf[["user_id", "ts"]])

    from spark_streaming_kafka_example_spark.plans.windows_stats import (
        stickiness_7d,
    )

    got = {r.d: (r.n_dau, r.n_wau7) for r in stickiness_7d(sdf).collect()}

    pdf["day"] = pdf.ts.dt.floor("D")
    days = sorted(pdf.day.unique())
    for d in days:
        active = set(pdf[pdf.day == d].user_id)
        window = set(
            pdf[(pdf.day <= d) & (pdf.day >= d - pd.Timedelta(days=6))].user_id
        )
        assert got[d.to_pydatetime()] == (len(active), len(window)), (
            f"seed {seed} day {d}"
        )


@pytest.mark.parametrize("seed", [41])
def test_markov_transitions_property_random(spark, seed):
    """The transition-matrix pipeline (shared ordered-sequence exchange ->
    adjacent-pair transform -> per-src normalization) must agree with a
    direct Python derivation on random event logs with forced ts ties."""
    import collections

    rng = random.Random(seed)
    pdf = _random_events(rng, 400, 12)
    pdf["event_type"] = [rng.choice("abc") for _ in range(len(pdf))]
    pdf["ts"] = pd.to_datetime(
        [1_700_000_000 + rng.randrange(0, 30) for _ in range(len(pdf))],
        unit="s",
    )
    sdf = spark.createDataFrame(pdf[["user_id", "ts", "event_id", "event_type"]])

    from spark_streaming_kafka_example_spark.plans.windows_stats import (
        markov_transition_counts,
    )

    got = {(r.src, r.dst): (r.n, r.p)
           for r in markov_transition_counts(sdf).collect()}

    exp_n = collections.Counter()
    for _, grp in pdf.sort_values(["ts", "event_id"]).groupby("user_id"):
        t = list(grp.event_type)
        for i in range(len(t) - 1):
            exp_n[(t[i], t[i + 1])] += 1
    totals = collections.Counter()
    for (src, _), n in exp_n.items():
        totals[src] += n
    exp = {k: (n, round(n / totals[k[0]], 4)) for k, n in exp_n.items()}
    assert set(got) == set(exp)
    for k in exp:
        assert got[k][0] == exp[k][0], k
        assert abs(got[k][1] - exp[k][1]) < 1e-9, k
