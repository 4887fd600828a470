"""One suite for the maintained-state lifecycle, run over every spec.

Every ingest-maintained state kind is a ``MaintainedState`` spec driven by
``plans.stream.run_lifecycle``, so the lifecycle invariants are checked
once per spec here instead of once per arm. The spec lists derive from
``plans.stream.LIFECYCLE``, so a new registration is covered with no
edit here:

- a batch replayed after a crash between its overlapped writes (any one
  of them missing) rewrites every relation byte-identically — including
  a seedless spec's batch 0, whose relations do not exist yet;
- ``compact=True`` yields exactly the plain run's decisions;
- the TTL read is partition-pruned on both sides (batch_id < current and
  >= current - W) for every relation;
- a seeded spec with one relation dir missing fails fast, naming it.

Each spec runs once at sf0.001 (module-cached) and the replay, TTL and
half-seeded checks reuse that run's state. The seeded specs' plant
families render both their Spark arrival parts and their oracles; the
checks that the two agree run the parts and DuckDB only, no lifecycle.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import replace
from functools import partial

import pytest
from pyspark.sql import functions as F

from spark_streaming_kafka_example_spark import plans
from spark_streaming_kafka_example_spark.plans import stream as S

from .oracle_harness import duckdb_connection

# Every spec with a plain lifecycle registration, plus the Bloom store
# (its registration sizes m at run time).
SPECS = {
    spec.name: spec
    for spec in [s for s, _c, _w in S.LIFECYCLE.values()]
    + [S._fp_bloom_spec(1024)]
}
# Specs with a registered compaction / retention twin.
COMPACTED = [s.name for s, compact, _w in S.LIFECYCLE.values() if compact]
RETAINED = [s.name for s, _c, w in S.LIFECYCLE.values() if w is not None]
SEEDED = [
    n for n, s in SPECS.items() if any(r.seed is not None for r in s.relations)
]
SEEDLESS = [n for n in SPECS if n not in SEEDED]
# The oracle-side sources an arrival CTE chain renders over: documents
# (the default) or the embeddings keyed by doc_id.
ARRIVAL_SOURCES = [(), (S._EMB_SOURCE_SQL, "embedding")]


def _rows(df) -> list[str]:
    return sorted(str(r) for r in df.collect())


def _written(io: S.StateIO) -> list[str]:
    return ["decisions"] + [r.name for r in io.spec.relations]


def _snapshot(spark, io: S.StateIO) -> dict:
    return {
        name: _rows(S._read_state(spark, io.dir(name), io.relation(name)))
        for name in _written(io)
    }


def _arrival(spark, io: S.StateIO, i: int):
    return spark.read.schema(io.spec.arrival_schema).parquet(
        os.path.join(io.dir("arrivals"), f"b{i}")
    )


@pytest.fixture(scope="module")
def lifecycle_run(spark, sf_dir):
    """name -> (sorted decision rows, StateIO) of one plain run."""
    cache: dict = {}

    def run(name: str):
        if name not in cache:
            decisions, io = S.run_lifecycle(spark, sf_dir, SPECS[name])
            cache[name] = (_rows(decisions), io)
        return cache[name]

    return run


def _assert_replay_clean(spark, io: S.StateIO, batch, batch_id: int) -> None:
    """Crash between the overlapped writes: for each written relation in
    turn, drop this batch's partition (absent when the batch appended no
    rows; the whole dir if it held nothing else — a relation's first
    write never landed), replay the batch, and require every relation to
    match the clean run byte for byte."""
    clean = _snapshot(spark, io)
    handler = io.spec.handler(io)
    for name in _written(io):
        path = io.dir(name)
        shutil.rmtree(
            os.path.join(path, f"batch_id={batch_id}"), ignore_errors=True
        )
        if not any(d.startswith("batch_id=") for d in os.listdir(path)):
            shutil.rmtree(path)
        handler(batch, batch_id)
        assert _snapshot(spark, io) == clean, f"replay without {name}"


@pytest.mark.parametrize("name", list(SPECS))
def test_replay_after_crash_between_writes_is_idempotent(
    spark, lifecycle_run, name
):
    _decisions, io = lifecycle_run(name)
    last = len(os.listdir(io.dir("arrivals"))) - 1
    _assert_replay_clean(spark, io, _arrival(spark, io, last), last)


@pytest.mark.parametrize("name", SEEDLESS)
def test_seedless_batch0_replay_is_idempotent(
    spark, lifecycle_run, tmp_path, name
):
    """Before a seedless spec's first write its relations have no dir; a
    crash inside batch 0 leaves only some of them, and the replay must
    read the missing ones as "no prior state"."""
    _decisions, run = lifecycle_run(name)
    io = S.StateIO(SPECS[name], str(tmp_path))
    batch = _arrival(spark, run, 0)
    io.spec.handler(io)(batch, 0)
    _assert_replay_clean(spark, io, batch, 0)


@pytest.mark.parametrize("name", COMPACTED)
def test_compaction_keeps_decisions(spark, sf_dir, lifecycle_run, name):
    plain, _io = lifecycle_run(name)
    compacted, io = S.run_lifecycle(spark, sf_dir, SPECS[name], compact=True)
    assert _rows(compacted) == plain
    # phase B collapsed phase A's relations into one seed partition
    for rel in SPECS[name].relations:
        parts = sorted(
            d for d in os.listdir(io.dir(rel.name)) if d.startswith("batch_id=")
        )
        assert parts[0] == "batch_id=-1" and len(parts) <= 3, (rel.name, parts)


@pytest.mark.parametrize("name", RETAINED)
def test_ttl_read_pruned_both_sides(spark, lifecycle_run, name):
    """The retention window must reach every relation's scan as PARTITION
    filters on both sides — a TTL implemented as a post-scan filter would
    still read the state's whole lifetime."""
    _decisions, run = lifecycle_run(name)
    prior = S._prior_state(spark, replace(run, retention_batches=2), 3)
    assert set(prior) == {r.name for r in SPECS[name].relations}
    for rel, df in prior.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
        assert scans, f"no FileScan over {rel}"
        for ln in scans:
            pf = ln.split("PartitionFilters: [", 1)
            assert len(pf) == 2, f"{rel} scan lost its partition filters"
            filters = pf[1].split("]", 1)[0]
            assert "batch_id" in filters
            assert "< 3" in filters and ">= 1" in filters, (
                f"{rel}: TTL bounds not pushed to partition pruning: {filters}"
            )


@pytest.mark.parametrize("name", SEEDED)
def test_half_seeded_state_fails_fast(spark, lifecycle_run, tmp_path, name):
    _decisions, run = lifecycle_run(name)
    shutil.copytree(run.base_dir, tmp_path / "run")
    io = S.StateIO(SPECS[name], str(tmp_path / "run"))
    victim = io.spec.relations[-1].name
    shutil.rmtree(io.dir(victim))
    batch = _arrival(spark, io, 0)
    sc = spark.sparkContext
    sc.setJobGroup("half_seeded", "must fail before any job")
    try:
        with pytest.raises(RuntimeError, match=f"'{victim}' is missing"):
            io.spec.handler(io)(batch, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("half_seeded") == []


def test_run_lifecycle_rejects_compaction_with_retention(spark, sf_dir):
    """Compaction collapses every partition to batch_id=-1, which destroys
    the per-row age a TTL window reads, so asking for both is an error —
    raised before any state is written."""
    with pytest.raises(ValueError, match="unbounded-state-only"):
        S.run_lifecycle(
            spark, sf_dir, S.FP_STORE, compact=True, retention_batches=2
        )


def test_state_write_rejects_schema_drift(spark, tmp_path):
    """A writer whose columns drift from the relation's declared DDL (fp
    as binary instead of string) raises a named error and leaves no
    partition behind."""
    io = S.StateIO(S.FP_STORE, str(tmp_path))
    drifted = spark.createDataFrame([(bytearray(b"\x01"),)], "fp binary")
    with pytest.raises(
        ValueError,
        match=r"'store'.*struct<fp:binary>.*declared struct<fp:string>",
    ):
        io.write(0, store=drifted)
    assert not os.path.exists(io.dir("store"))


def test_overlapping_plant_families_fail_before_any_job(spark, sf_dir):
    """Two families at one offset overlap whatever the table holds: the
    guard names the gap before any Spark job runs."""
    docs = S._docs_table(spark, sf_dir)
    sc = spark.sparkContext
    sc.setJobGroup("family_guard", "must fail before any job")
    try:
        with pytest.raises(ValueError, match="smallest offset gap 0"):
            S._odd_plus_plants(
                docs, S._FP_FAMILIES + ((12, 1, 300000, "text"),)
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("family_guard") == []


@pytest.mark.parametrize(
    "families, shift, gap",
    [
        # 100 apart: the two families' id ranges overlap on 500 docs
        (((6, 0, 300000, "text"), (12, 1, 300100, "text")), 0, 100),
        # the table's ids reach the only family's offset
        (S._FP_FAMILIES, 300000, 300000),
    ],
)
def test_plant_family_guard_raises_before_any_write(
    spark, sf_dir, families, shift, gap
):
    spec = replace(
        S.FP_STORE,
        name="lifecycle_family_guard",
        table=lambda spark, sf: S._docs_table(spark, sf).withColumn(
            "doc_id", F.col("doc_id") + shift
        ),
        parts=partial(S._odd_plus_plants, families=families),
    )
    with pytest.raises(ValueError, match=f"smallest offset gap {gap};"):
        S.run_lifecycle(spark, sf_dir, spec)
    base = plans._RUN_TMPDIRS[-1]
    assert "lifecycle_family_guard_" in base
    assert os.listdir(base) == []  # no seed, no arrival file


@pytest.mark.parametrize("name", SEEDED)
def test_arrival_parts_are_the_oracle_batches(spark, sf_dir, name):
    """The one declaration: the Spark arrival parts hold exactly the ids
    the oracle's bmap puts in each batch, and the plain registration
    over the same parts renders that bmap."""
    spec = SPECS[name]
    (oracle,) = [
        plans.ORACLE[n]
        for n, (s, compact, w) in S.LIFECYCLE.items()
        if s.parts is spec.parts and not compact and w is None
    ]
    families = spec.parts.keywords["families"]
    renders = [S._arrival_ctes(families, *src) for src in ARRIVAL_SOURCES]
    (ctes,) = [c for c in renders if c in oracle]
    got = [
        sorted(r.doc_id for r in part.select("doc_id").collect())
        for part in spec.parts(spec.table(spark, sf_dir))
    ]
    want = [[], [], [], []]
    con = duckdb_connection(sf_dir)
    for doc_id, b in con.execute(
        f"WITH {ctes} SELECT doc_id, b FROM bmap WHERE b >= 0 ORDER BY doc_id"
    ).fetchall():
        want[b].append(doc_id)
    assert got == want and all(want)


@pytest.mark.parametrize(
    "render", [S._mh_catalog_oracle, S._image_catalog_oracle, S._emb_catalog_oracle]
)
def test_catalog_ttl_beyond_lifetime_is_ingest(sf_dir, render):
    """A catalog's TTL render with W >= 4 (the seed's age at the last of
    the 4 batches) sees every prior, so it returns the ingest rows; W=2
    must not."""
    con = duckdb_connection(sf_dir)
    rows = {w: sorted(con.execute(render(w)).fetchall()) for w in (None, 2, 4)}
    assert rows[4] == rows[None] != rows[2]


def test_handler_jobs_are_labelled(spark, sf_dir):
    """Every job of a lifecycle batch, the overlapped StateIO.write jobs
    on run_parallel threads included, is described <spec>/b<batch_id>."""
    spec = replace(S.FP_STORE, name="labelled_store")
    S.run_lifecycle(spark, sf_dir, spec)
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    label = {}
    for j in (jobs.apply(i) for i in range(jobs.size())):
        d = j.description()
        label[j.jobId()] = d.get() if d.isDefined() else None
    ours = [i for i, d in label.items() if d and d.startswith("labelled_store/")]
    assert ours, "no handler job carries a label"
    window = [label[i] for i in sorted(label) if min(ours) <= i <= max(ours)]
    assert None not in window and window == sorted(window), window
    assert sorted(set(window)) == [f"labelled_store/b{b}" for b in range(4)]
    assert window.count("labelled_store/b3") >= 3  # checkpoint + 2 writes
