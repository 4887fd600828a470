"""Seeded input generation for the benchmark.

Two kinds of input, both a pure function of the seed:

- ``write_tables``: the ten parquet tables the registered queries read
  (TPC-H-like star schema plus events, documents and embeddings), with the
  column names, types and value domains the queries expect, at a scale
  factor ``sf`` (lineitem has 6M * sf rows).
- ``SensorGen``: the paper's sensor telemetry as JSON lines, plus the
  master CSV that maps sensor ids to fields.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(8, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # A few exact re-crawls, so exact-dup paths have work to do.
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[(i + 1) % n]
    return texts


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write region .. embeddings under ``out_dir`` at scale ``sf``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    flag = rng.integers(0, 6, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": np.sort(rng.integers(0, n_ord, n_line)),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flag // 2],
        "l_linestatus": np.array(["F", "O"])[flag % 2],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(0, 2499, n_line) * DAY_US),
    })
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, max(n_cust // 10, 50), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _doc_texts(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # Unit vectors around ten label centroids.
    labels = rng.integers(0, 10, n_emb)
    cent = rng.normal(0, 1, (10, 64))
    vec = cent[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


class SensorGen:
    """Seeded sensor telemetry (FIXTURES.md sections 1 and 2).

    - ``n_sensors`` ids, Zipf-skewed, mapped onto ``n_fields`` fields; a
      ``missing_share`` of the ids is missing from the master, so the
      left-outer enrich yields a null ``field_id`` for them.
    - Fields whose number is a multiple of ``LOW_FIELD_EVERY`` hold only
      low-``whc`` sensors, so their window sums stay under the alert
      threshold.
    - Event time advances ``EVENT_S_PER_FILE`` seconds per file slot; a
      share ``LATE_SHARE`` of events is shifted back by up to
      ``MAX_LATE_S``, which stays inside the 10-minute watermark and the
      5-minute window, so no event is dropped as late.
    """

    BASE_ID = 1_851_632  # the reference's first sensor id
    T0 = np.datetime64("2018-06-15T00:00:00", "s").astype(np.int64)
    LOW_FIELD_EVERY = 20
    LATE_SHARE = 0.05
    MAX_LATE_S = 240
    EVENT_S_PER_FILE = 2

    def __init__(self, seed: int, n_sensors: int = 10_000, n_fields: int = 1_000,
                 missing_share: float = 0.02):
        self.rng = np.random.default_rng(seed)
        self.n_sensors = n_sensors
        self.n_known = int(n_sensors * (1 - missing_share))
        self.field_of = self.rng.integers(0, n_fields, n_sensors)
        low = self.field_of % self.LOW_FIELD_EVERY == 0
        self.whc_mu = np.where(low, 0.02, self.rng.uniform(20.0, 60.0, n_sensors))
        # Zipf ranks are folded onto the id space through a permutation, so
        # the hot ids are spread over fields.
        self.perm = self.rng.permutation(n_sensors)

    def master_csv(self) -> str:
        rows = [f"{self.BASE_ID + i},field{self.field_of[i]}" for i in range(self.n_known)]
        return "sensor_id,field_id\n" + "\n".join(rows) + "\n"

    def file_events(self, file_no: int, n: int, steps: int = 1) -> dict[str, np.ndarray]:
        """Columns of ``n`` events spanning ``steps`` file slots of event time
        from slot ``file_no`` (times in epoch seconds)."""
        rng = self.rng
        idx = self.perm[(rng.zipf(1.1, n) - 1) % self.n_sensors]
        span = steps * self.EVENT_S_PER_FILE
        t = self.T0 + file_no * self.EVENT_S_PER_FILE + rng.integers(0, span, n)
        late = rng.random(n) < self.LATE_SHARE
        t = t - np.where(late, rng.integers(1, self.MAX_LATE_S + 1, n), 0)
        return {
            "idx": idx,
            "t": t,
            "lat": np.round(rng.uniform(30.0, 45.0, n), 4),
            "lon": np.round(rng.uniform(130.0, 145.0, n), 4),
            "temperature": np.round(rng.normal(22.0, 5.0, n), 2),
            "humidity": np.round(rng.uniform(20.0, 90.0, n), 2),
            "ph": np.round(rng.uniform(5.0, 8.0, n), 2),
            "whc": np.round(np.abs(self.whc_mu[idx] * rng.uniform(0.5, 1.5, n)), 4),
        }

    def render(self, ev: dict[str, np.ndarray]) -> bytes:
        """JSON lines in the Kafka payload layout of FIXTURES.md section 1."""
        dates = ev["t"].astype("datetime64[s]").astype(str)
        ids = self.BASE_ID + ev["idx"]
        lines = [
            f'{{"id":{i},"date":"{d[:4]}/{d[5:7]}/{d[8:10]} {d[11:]}",'
            f'"coord":{{"lat":{la},"lon":{lo}}},"main":{{"temperature":{te},'
            f'"humidity":{hu},"ph":{ph},"whc":{w}}}}}'
            for i, d, la, lo, te, hu, ph, w in zip(
                ids.tolist(), dates, ev["lat"].tolist(), ev["lon"].tolist(),
                ev["temperature"].tolist(), ev["humidity"].tolist(),
                ev["ph"].tolist(), ev["whc"].tolist(),
            )
        ]
        return ("\n".join(lines) + "\n").encode()
