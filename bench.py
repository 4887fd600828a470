#!/usr/bin/env python
"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop-format write (every column
materialized, nothing collected): count() would let Catalyst prune the
projected expressions of projection-only queries and understate their work.
Timings include plan + execution, excluding session
startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_streaming_kafka_example_spark import plans
from spark_streaming_kafka_example_spark.engine import get_session

plans.load_all()

# Headline queries: the flagship pipeline plus the heaviest representatives
# of each operator family, in the order they joined the list (the index
# breaks emission-eviction ties, so new names go at the end).
HEADLINE = [
    "flagship_sliding_alert",
    "stream_flagship_alert",
    "a3_sliding_window_agg",
    "a2_tumbling_window_agg",
    "j1_enrich_left_outer",
    "p12_a1_word_count",
    "p2_from_json_flatten",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_volume_customer",
    "window_topk_per_group",
    "sessionize_gap_30m",
    "dedup_minhash_lsh",
    "dedup_minhash_estimate",
    "dedup_exact",
    "dedup_embedding_cosine",
    "dedup_clusters",
    "sim_topk_bruteforce",
    "sim_ivf_topk",
    "text_quality_score",
    "text_levenshtein_lsh",
    "stream_vector_bucketize",
    # Containment and star-cluster dedup, the capped-LSH production twin,
    # hashing features and the embedding profile.
    "dedup_containment",
    "dedup_clusters_star",
    "dedup_minhash_lsh_capped",
    "text_hashing_features",
    "dq_profile_embeddings",
    # Semantic dedup, decontamination, BM25, greedy packing, pretrain v2.
    "dedup_semdedup",
    "text_decontaminate",
    "sim_bm25_topk",
    "pack_sequences_greedy",
    "pipeline_pretrain_v2",
    # Materialized IVF (build + partition-pruned probe).
    "sim_ivf_indexed_topk",
    # The amortized serving cost — probes the
    # index sim_ivf_indexed_topk just built, so this times the
    # partition-pruned probe alone while indexed_topk keeps charging
    # build+probe (its samples force a rebuild; see _PRE_SAMPLE).
    "sim_ivf_probe_only",
    "sim_ivf_recall",
    "pack_sequences_payload",
    "pipeline_export_shards",
    "dedup_repeated_spans",
    "sim_quantize_int8",
    "cohort_daily_retention",
    "pipeline_rag_prep",
    # Heavy representatives: bigram-LM perplexity bucketing,
    # iterative PageRank, path mining, the 7-day stickiness expansion
    "text_perplexity_buckets",
    "graph_pagerank_2iter",
    "paths_event_trigrams",
    "dau_stickiness_7d",
    # The window-function analytics families, plus the perceptual-hash
    # image dedup pipeline (synthesize -> real decode -> aHash ->
    # Hamming-band LSH).
    "latency_percentile_bands",
    "timeseries_rolling_corr_intraday",
    "dedup_image_phash",
    # Audio-modality dedup, O(1)-state
    # streaming sequence mining, vocabulary building, quantile binning.
    "dedup_audio_envelope",
    "stream_markov_transitions",
    "text_vocab_coverage",
    "train_feature_binning",
    # File-sink machinery, the at-ingest image probe, funnel latency; the
    # audio at-ingest probe, spectral fingerprint, multimodal pretrain
    # capstone, z-order read-back.
    "k4_parquet_sink_roundtrip",
    "stream_image_phash",
    "funnel_time_to_convert",
    "stream_audio_envelope",
    "dedup_audio_spectral",
    "pipeline_pretrain_v3",
    "layout_zorder_readback",
    "dedup_video_frames",
    "sketch_countmin_users",
    "layout_bucketed_join",
    # The streaming media/sketch twins, A/B lift, and the
    # window-distribution family.
    "stream_audio_spectral",
    "stream_video_frames",
    "stream_countmin_users",
    "experiment_ab_lift",
    "window_distribution_tour",
    # Iterative BPE tokenizer training, the mergeable
    # quantile sketch (batch + stream), the at-ingest pretrain gate.
    "train_bpe_merges",
    "sketch_quantile_values",
    "stream_quantile_values",
    "stream_pretrain_gate",
    "sketch_hll_distinct",
    "stream_hll_distinct",
    "sketch_bloom_decontaminate",
    # The four streaming twins closing sketch/tokenizer
    # batch+stream symmetry, plus the at-ingest MinHash probe and the
    # windowed count-min dashboard.
    "stream_bloom_decontaminate",
    "stream_bpe_tokenize",
    "stream_quantile_twophase",
    "stream_hll_windowed",
    "stream_minhash_probe",
    "stream_countmin_windowed",
    "stream_hll_sliding",
    "layout_bloom_prefilter",
    "sim_pq_adc_recall",
    # The IVF-PQ composition tier (coarse probe + ADC over PQ
    # reconstructions), its at-ingest serving probe, and the windowed +
    # sliding quantile / sliding count-min sketches.
    "sim_ivfpq_recall",
    "stream_quantile_windowed",
    "stream_ivfpq_probe",
    "stream_quantile_sliding",
    "stream_countmin_sliding",
    "sim_ivfpq_residual_recall",
    "sim_sq8_recall",
    "sketch_quantile_rollup",
    # The raw-vector at-ingest ANN probe (the O(k)-state top-k fold) and
    # the clustered-corpus recall surface.
    "stream_ann_probe",
    "sim_ivfpq_clustered_recall",
    # The content-keyed split pair — map-side
    # assignment + the audit re-run that reads exactly 0 contamination.
    "split_by_cluster",
    "split_by_cluster_audit",
    # Incremental IVF maintenance end-to-end —
    # base build + streamed appendix (foreachBatch dynamic-overwrite
    # appends) + the union probe; times the full freshness path.
    "stream_ivf_appendix_probe",
    # The near-dup-robust split (representative-fp gate over the
    # LSH->jaccard->components clusters) and its cluster-level audit,
    # plus the at-ingest stateless split-assignment twin.
    "split_by_neardup_cluster",
    "split_by_neardup_cluster_audit",
    "stream_split_by_cluster",
    # The compaction arm of the index lifecycle (build -> append ->
    # compact -> probe, one shared oracle across all of it), and the
    # at-ingest dedup against a foreachBatch-maintained fingerprint store.
    "sim_ivf_compacted_probe",
    "stream_dedup_store_ingest",
    # Near-dup detection against a GROWING band catalog — the third
    # ingest-maintenance arm (vectors, exact fps, near-dup bands), and
    # the Bloom-prefiltered store variant (same oracle, pruned store
    # traffic).
    "stream_minhash_catalog_ingest",
    "stream_dedup_store_bloom_ingest",
    # The maintenance composition — the at-ingest pretrain gate
    # reading the MAINTAINED fp store + band catalog (cross-batch dups) —
    # and the at-ingest rep-fp split (re-crawls land in their source's
    # split via the materialized cluster map).
    "stream_pretrain_gate_v2",
    "stream_split_by_neardup",
    # Mid-lifecycle compaction of the fp store and band catalog
    # (decisions hash-unchanged across the collapse — the housekeeping
    # arm the IVF index already has).
    "stream_dedup_store_compacted",
    "stream_minhash_catalog_compacted",
    # The TTL'd store + catalog — the expiry stage of the lifecycle —
    # and the maintained IMAGE chunk catalog (the frozen-probe upgrade,
    # completing the maintenance matrix across modalities).
    "stream_dedup_store_retention",
    "stream_minhash_catalog_retention",
    "stream_image_catalog_ingest",
    # The image catalog's lifecycle symmetry (compaction + TTL),
    # the v3 gate composing the maintained image arm, and the
    # ingest-maintained cluster map for the near-dup split (a cluster
    # formed entirely after stream start still moves as one unit).
    "stream_image_catalog_compacted",
    "stream_image_catalog_retention",
    "stream_pretrain_gate_v3",
    "stream_split_by_neardup_incremental",
    "stream_split_by_neardup_inc_compacted",
    "stream_split_by_neardup_inc_audit",
    # The embedding modality's dedup-maintenance arm (the matrix's
    # vector row as a true dedup arm, not just IVF serving) + its
    # lifecycle twins.
    "stream_embedding_catalog_ingest",
    "stream_embedding_catalog_compacted",
    "stream_embedding_catalog_retention",
]
_HEADLINE_SET = frozenset(HEADLINE)


def _force_ivf_rebuild() -> None:
    """sim_ivf_indexed_topk documents CREATE-INDEX (build+probe) timing;
    the build memoizes per session, so each bench sample must
    drop the memo to keep measuring the end-to-end cost. sim_ivf_probe_only
    then reuses the last built index — the amortized number."""
    from spark_streaming_kafka_example_spark.plans import llm

    llm._IVF_INDEX_BUILT.clear()


_PRE_SAMPLE = {"sim_ivf_indexed_topk": _force_ivf_rebuild}


def _calibration(spark) -> dict[str, float]:
    """Fixed-size, data-independent load probes: host load can shift every
    query's time uniformly by ~20%, which otherwise takes same-code reruns
    to prove. These constants let a future
    reader normalize totals without re-running:
    - jvm_agg_sec: a constant 20M-row in-JVM hash+sum aggregation
      (whole-stage codegen, no IO) — tracks JVM/CPU contention;
    - python_hash_sec: 2M iterations of hashlib in the driver process —
      tracks raw host CPU availability outside the JVM;
    - jvm_agg32_sec: the SAME aggregation over 640M rows forced onto 32
      partitions, so every local[32] slot runs — the single-threaded probes
      under-report 32-way contention (a 1.5x single-probe ratio has coincided
      with a ~1.4x spread on multi-core queries), and this probe saturates the
      host the way the headline queries do.
    All are min-of-3 like every headline query. BASELINE.md documents the
    reference values and how to use the ratio."""
    import hashlib

    from pyspark.sql import functions as F

    jvm = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(20_000_000).select(
            F.sum(F.hash("id")).alias("h")
        ).write.format("noop").mode("overwrite").save()
        jvm.append(time.perf_counter() - t0)
    jvm32 = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 640_000_000, 1, 32).select(
            F.sum(F.hash("id")).alias("h")
        ).write.format("noop").mode("overwrite").save()
        jvm32.append(time.perf_counter() - t0)
    py = []
    for _ in range(3):
        t0 = time.perf_counter()
        h = b"calib"
        for _i in range(2_000_000):
            h = hashlib.md5(h).digest()
        py.append(time.perf_counter() - t0)
    return {
        "jvm_agg_sec": round(min(jvm), 3),
        "jvm_agg32_sec": round(min(jvm32), 3),
        "python_hash_sec": round(min(py), 3),
    }


# The driver's capture keeps only the trailing 2000 bytes of stdout
# (measured on BENCH_r10 and BENCH_r11). The emitted line self-sizes to
# this budget so the whole line, JSON head included, survives; 1900 leaves
# margin for a stray trailing newline or shell prompt byte.
_EMIT_BUDGET = 1900


def _git(*args: str) -> str:
    """stdout of a git command run in this file's directory; "" outside a
    git checkout."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        return subprocess.run(
            ["git", "-C", here, *args],
            capture_output=True, text=True, check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        return ""


def _capture_rounds() -> dict[str, int]:
    """name -> latest driver round whose BENCH_r{N}.json capture holds a
    per-query time for name (a quote-delimited `"name":` match inside the
    stored tail, so head-truncated lines count too). Only files committed
    at HEAD are read, so runs of the same commit emit the same names even
    after the driver drops this round's capture into the working tree;
    outside a git checkout the history is empty. Only exact
    ``BENCH_r{N}.json`` names count: a recording holding a full per-query
    map would mark every name just captured and freeze the rotation."""
    import re

    seen: dict[str, int] = {}
    listing = _git("ls-tree", "--name-only", "HEAD")
    for m in re.finditer(r"^BENCH_r(\d+)\.json$", listing, re.M):
        try:
            tail = json.loads(_git("show", f"HEAD:./{m.group(0)}"))["tail"]
        except (ValueError, KeyError, TypeError):
            continue
        for name in re.findall(r'"([A-Za-z0-9_]+)":[0-9]', tail):
            # Envelope keys (sf, value, n_queries, ...) match the pattern
            # too; only HEADLINE names are capture history.
            if name in _HEADLINE_SET:
                seen[name] = max(seen.get(name, 0), int(m.group(1)))
    return seen


def _drop_order(names) -> list[str]:
    """Emission-eviction order: drop the most-recently-captured names
    first, so every HEADLINE query lands a captured per-query time within
    a few captures. Ties (same latest capture, and the whole
    never-captured class) break by HEADLINE index, so the
    newest registrations sit at the kept tail."""
    cap = _capture_rounds()
    idx = {n: i for i, n in enumerate(HEADLINE)}
    return sorted(names, key=lambda n: (-cap.get(n, 0), idx.get(n, -1)))


def _render(timings: dict[str, float], keep, sf, calibration: dict) -> str:
    """The output envelope with per-query entries for `keep`; `value` and
    `n_queries` always cover every sampled query."""
    return json.dumps(
        {
            "metric": "headline_queries_total",
            "queries": {n: timings[n] for n in keep},
            "sf": sf,
            "unit": "sec",
            "value": round(sum(timings.values()), 3),
            "n_queries": len(timings),
            "n_emitted": len(keep),
            "calibration": calibration,
        },
        separators=(",", ":"),
    )


def emit_line(timings: dict[str, float], sf, calibration: dict) -> str:
    """The ONE output line, guaranteed <= _EMIT_BUDGET bytes: per-query
    entries are dropped in `_drop_order` until the serialized line fits,
    so the head of the JSON is never truncated and per-query coverage
    rotates across rounds. `n_queries` / `n_emitted` tell a reader when
    entries were dropped. tests/test_operators.py pins the worst case and
    its determinism against untracked capture files."""
    keep = _drop_order(timings)
    line = _render(timings, keep, sf, calibration)
    while len(line) > _EMIT_BUDGET and keep:
        keep.pop(0)
        line = _render(timings, keep, sf, calibration)
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_session(app_name="bench")

    # Warm the JVM/IO/broadcast machinery once so per-query numbers measure
    # the queries, not codegen compilation and executor spin-up.
    from pyspark.sql import functions as F

    from spark_streaming_kafka_example_spark.sources import load_table

    load_table(spark, sf_dir, "lineitem").count()
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey, "left_outer").count()
    load_table(spark, sf_dir, "documents").count()

    # Min of three runs per query: single samples on a shared host swing up
    # to 2x on unchanged queries (observed on idle-vs-busy reruns), and even
    # min-of-two can leave a phantom +15% on one query; the
    # min is the standard noise-resistant point estimate and still includes
    # plan + execution end-to-end.
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = plans.QUERIES[name]
        samples = []
        for _ in range(3):
            pre = _PRE_SAMPLE.get(name)
            if pre is not None:
                pre()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 2)

    # Field order matters: the driver's capture keeps the TAIL of the line,
    # so totals and calibration go AFTER the per-query map. stdout gets
    # exactly ONE JSON line; the full per-query map, in the same envelope,
    # goes to bench_last.json beside this file.
    sf_value = float(sf) if sf.replace(".", "").isdigit() else sf
    calibration = _calibration(spark)
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "bench_last.json"), "w") as f:
        f.write(_render(timings, list(timings), sf_value, calibration) + "\n")
    print(emit_line(timings, sf_value, calibration))
    spark.stop()


if __name__ == "__main__":
    main()
