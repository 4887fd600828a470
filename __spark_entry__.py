"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in ``spark_streaming_kafka_example_spark`` (see
SURVEY.md); this module only adapts the plan registry to the contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_streaming_kafka_example_spark import plans  # noqa: E402

plans.load_all()

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# The driver runs the first N registered queries (r01: flagship + the next
# 49). CORE pins the window to every SURVEY §2 row's canonical query plus one
# representative per LLM-pipeline / streaming family, so each round's
# CORRECTNESS file always covers the full operator matrix.
# r05: trimmed to 19 per the r04 VERDICT task 1 (its 10 named candidates,
# all >=2 green rounds, plus a3/q3/sim_topk_bruteforce/dedup_ngram_jaccard,
# whose families keep a pinned survivor: flagship IS a sliding-window agg,
# q1 stays for TPC-H, sim_ivf_kmeans for similarity, and dedup_clusters
# exercises the candidate-driven jaccard verify internally) so that ALL 27
# driver-unchecked queries plus this round's new registrations fit in the
# 50-slot window in ONE round, closing lifetime coverage. q11 re-enters
# CORE so its previously-vacuous (0-row) driver row re-runs against the new
# scale-free threshold. Every §2 family retains >=1 pinned representative.
# r06: re-pinned a3/q3/sim_topk_bruteforce/p5 per the r05 VERDICT task 3
# (only 15 queries remain unchecked, so the slack fits them back in) —
# every §2 family again has a directly-re-checked representative.
# r12 rotation (r11 VERDICT task 3): four more long-green CORE alumni move
# to the freshness sort — p1_cast_projection (projections stay pinned by
# p2/p5/p12), q3_shipping_priority (TPC-H by q1), dedup_minhash_lsh (dedup
# by dedup_exact; the LSH family keeps pytest recall pins), and
# sim_topk_bruteforce (similarity by sim_ivf_kmeans_topk). All four are
# r11-green so they queue behind every staler name. CORE 19 -> 15 widened
# window slack: the computed (and judge-confirmed) r12 window = 15 CORE +
# 8 unchecked (the r12 registrations) + 27 stalest re-pins = ALL 22
# r04-stale names + the 5 oldest r05 names; r13 drained the remaining r05
# tail the same way (histogram min r05 -> r06 per the r13 VERDICT).
# r16 rotation: p5_to_json_struct moves to the freshness sort (r15-green,
# so it queues at the very back; projections stay pinned by p2/p12, and
# the freshness tail re-checks the P4/P5/K5 to_json idiom within a few
# rounds). Funds the 50th slot: the actual r16 stale tail is 3 r08 + 31
# r09 names (the r15 VERDICT's task-1 arithmetic said 30 r09), so 15 CORE
# + 2 new registrations + 34 stale = 51 — one name had to move for the
# drain-to-empty criterion (histogram min >= r10) to hold in one round.
# r17 rotation (r16 VERDICT tasks 2/4/5): p2_from_json_flatten,
# a2_tumbling_window_agg, u1_u3_udf_sql and j1_enrich_left_outer move to
# the freshness sort (all r16-green, so they queue at the very back;
# projections/from_json stay pinned by p12 + flagship's JSON path,
# windowed aggs by flagship itself — a sliding-window agg; the join
# family by flagship's dim join + the r11-proven streaming enrich twin;
# the UDF family by u5_pandas_grouped_agg's periodic re-greens and the
# freshness sort). Funds BOTH drain-to-empty AND first driver rows for
# the two r17 operators the verdict's tasks 4/5 require THIS round:
# 50 = 10 CORE + 8 released r16 deferrals + 2 r17-new
# (stream_pretrain_gate_v2, stream_split_by_neardup) + ALL 30 r10-stale
# names, so the last-green histogram min still reaches r11 in one round.
CORE_WINDOW = [
    "flagship_sliding_alert",
    # §2.4 projections (p8-p10/f1 lifetime-proven)
    "p12_a1_word_count",
    # TPC-H canon (q11 rotated out r10, q3 rotated out r12 — q1 keeps the
    # family pinned; the whole TPC-H tail re-greens via the r12 drain)
    "q1_pricing_summary",
    # LLM-pipeline families: dedup, similarity, text, multimodal, pipeline
    # (dedup_embedding_cosine + dedup_clusters rotated out r10;
    # dedup_minhash_lsh + sim_topk_bruteforce rotated out r12)
    "dedup_exact",
    "sim_ivf_kmeans_topk",
    "text_analysis_profile",
    "multimodal_features",
    "pipeline_training_data_prep",
    # Streaming: arbitrary state + session pinned; windowed/dedup stream
    # twins (3-4 green rounds) trimmed per the r04 VERDICT candidate list.
    "stream_stateful_running_count",
    "stream_sessionizer_closed",
]


def _last_green_round() -> dict[str, int]:
    """name -> latest round number with a green driver row in
    CORRECTNESS_r*.json (hash match, or a rows-only row that produced
    rows). Doubles as the driver-checked set (keys) and the freshness
    ordering for re-pins (values): with zero unchecked queries the window's
    tail re-checks the LONGEST-unverified families first (r07 VERDICT
    task 3), so every family's driver confirmation keeps cycling."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    seen: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except Exception:
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if green:
                seen[name] = max(seen.get(name, 0), rnd)
    return seen


# Queries whose ORACLE TEXT changed even though their green rows' values
# still hold (r08: the _PATH_MAX_EVENTS rank filter was added to both
# path-mining oracles; it never binds at driver SFs, so results are
# identical). name -> round the change landed: the entry is treated as
# unchecked until a green row from that round or later exists, then
# EXPIRES AUTOMATICALLY (r08 review: a plain list burned window slots
# forever if nobody deleted it after the re-proof landed).
FORCE_RECHECK: dict[str, int] = {
    "paths_event_trigrams": 8,
    "paths_markov_transitions": 8,
    # r11: the redundant SELECT DISTINCT dropped from the oracle's exact
    # CTE (r10 ADVICE) — value-identical (corpus_grams x bg join cannot
    # duplicate), but the oracle text changed.
    "sketch_bloom_decontaminate": 11,
    # r14: SPARK-side rewrite (oracles byte-identical) — the at-ingest ANN
    # probes' top-k moved from the complete-mode collect_list aggregation
    # to the bounded O(k)-state fold (stateful_topk_fold; r12/r13 VERDICT
    # task 1). Same drained values, but the implementation that earned the
    # r12 green rows no longer exists, so force fresh driver rows.
    # (Expired on the r14 green rows; bumped to 15 below.)
    # r15: the fold changed again — dedupe-by-id, NaN exclusion (ADVICE)
    # and the ProcessingTimeTimeout TTL (r14 VERDICT task 2). Identical
    # single-batch drained values, but force fresh rows under the new code.
    # (Both expired on r15 green rows; re-entered at 19 below — the r19
    # rewrite touched them again.)
    # r15: sim_ivfpq_recall's Spark body moved into the shared
    # _ivfpq_recall_frame (so sim_ivfpq_clustered_recall runs the identical
    # ranker) — oracle byte-identical, result value-identical (re-measured
    # 0.24 mean at sf0.01), but the earning implementation was refactored.
    # (Expired on the r15 green row; re-entered at 19 below.)
    # r18: the gate-v2 Spark body moved into the shared
    # _gate_maintained_run and its handler gained the default-None image
    # arm (so stream_pretrain_gate_v3 composes via parameters) — oracle
    # byte-identical, decisions re-verified value-identical at sf0.001
    # AND sf0.01, but the r17-earning implementation was refactored
    # (the sim_ivfpq_recall precedent). PAIRED with a DEFER_TO_TAIL[..]=18
    # entry: the r18 window is a zero-slack exact fit, so the re-proof
    # row lands in r19 instead of displacing an r11-stale name.
    "stream_pretrain_gate_v2": 18,
    # r20 (r19 VERDICT task 2): the 20 paths whose Spark bodies the r19
    # optimization round rewrote (nearest-centroid/PQ zero-exchange tier,
    # overlapped lifecycle-arm state writes) but whose r19 window slot
    # never came — oracles byte-identical, builder parity green at
    # sf0.001/sf0.01, but the green rows on file predate the rewrite
    # (the r14/r15/r18 refactor-re-proof precedent, this time for the
    # whole rewritten set).
    "sim_ivf_recall": 19,
    "sim_ivf_indexed_topk": 19,
    "sim_ivf_probe_only": 19,
    "sim_ivf_compacted_probe": 19,
    "stream_ivf_appendix_probe": 19,
    "sim_ivfpq_recall": 19,
    "sim_ivfpq_clustered_recall": 19,
    "sim_pq_adc_recall": 19,
    "stream_ann_probe": 19,
    "stream_ivfpq_probe": 19,
    "dedup_semdedup": 19,
    "stream_dedup_store_ingest": 19,
    "stream_dedup_store_bloom_ingest": 19,
    "stream_dedup_store_compacted": 19,
    "stream_dedup_store_retention": 19,
    "stream_minhash_catalog_ingest": 19,
    "stream_minhash_catalog_compacted": 19,
    "stream_minhash_catalog_retention": 19,
    "stream_image_catalog_ingest": 19,
    "stream_split_by_neardup": 19,
}
# r21: every maintained-state registration (the six kinds' ingest arms plus
# their compaction, TTL, gate and audit twins) now runs through the one
# lifecycle engine (plans.stream.run_lifecycle + a MaintainedState spec per
# kind) — oracles byte-identical, pytest parity green at sf0.001 and the
# verify recipe green at sf0.01, but every earning run/compaction body was
# replaced (the r14/r15/r18 refactor-re-proof precedent).
# stream_minhash_probe rides along: its frozen catalog now builds through
# the band catalog's seed builder (_mh_catalog_seed, same calls).
# 10 CORE + these 19 fit the 50 slots.
FORCE_RECHECK.update(
    {
        name: 21
        for name in (
            "stream_dedup_store_ingest",
            "stream_dedup_store_bloom_ingest",
            "stream_dedup_store_compacted",
            "stream_dedup_store_retention",
            "stream_minhash_catalog_ingest",
            "stream_minhash_catalog_compacted",
            "stream_minhash_catalog_retention",
            "stream_image_catalog_ingest",
            "stream_image_catalog_compacted",
            "stream_image_catalog_retention",
            "stream_embedding_catalog_ingest",
            "stream_embedding_catalog_compacted",
            "stream_embedding_catalog_retention",
            "stream_pretrain_gate_v2",
            "stream_pretrain_gate_v3",
            "stream_split_by_neardup_incremental",
            "stream_split_by_neardup_inc_audit",
            "stream_split_by_neardup_inc_compacted",
            "stream_minhash_probe",
        )
    }
)


# Unchecked queries enter the window in this order first, then registration
# order. r05 reset (r04 VERDICT task 1): the r04-new dedup block first, then
# the capped-LSH production twin, then the remaining 21 — all 28 plus the 19
# CORE rows fit inside the 50-slot window, so every registered query earns a
# driver row this round. Names registered later in r05 but absent here sort
# after these (still inside the window while total <= 50; the cut falls on
# the newest registrations first).
ROTATION_PRIORITY = [
    "dedup_exact_normalized",
    "dedup_minhash_estimate",
    "dedup_containment",
    "dedup_simhash_fingerprints",
    "dedup_clusters_star",
    "dedup_minhash_lsh_capped",
    "u5_pandas_grouped_agg",
    "window_rank_tour",
    "window_frame_navigation",
    "window_rolling_1h_range",
    "agg_stats_tour",
    "agg_percentile_approx",
    "agg_freq_items",
    "agg_linear_regression",
    "functions_math_tour",
    "agg_bitwise_tour",
    "rollup_time_multires",
    "text_tfidf_top3",
    "text_top_ngrams",
    "text_bigram_logfreq",
    "text_hashing_features",
    "text_levenshtein_pairs",
    "vector_normalize",
    "dq_profile_events",
    "dq_profile_embeddings",
    "sample_stratified_hash",
    "sample_deterministic_10pct",
    "multimodal_resize",
    # r05-new textprep queries: only as many fit as the window has spare
    # slots (3 with the 19-row CORE); the novel stateful operator and the
    # decontamination/BM25 families go first, the rest drain in r06.
    "pack_sequences_greedy",
    "text_decontaminate",
    "sim_bm25_topk",
    "text_repetition_profile",
    "pack_sequences_chunked",
    "text_pmi_bigrams",
    "dedup_semdedup",
    "sample_domain_mixture",
    "stream_pack_greedy",
    "text_chunk_windows",
    "dedup_incremental_exact",
    "stream_decontaminate",
    "text_quality_logit",
    "pipeline_pretrain_v2",
    "text_sentiment_lexicon",
    "sim_contrastive_pairs",
    "dedup_cluster_representatives",
    # r06-new: materialized IVF index, recall@k quality gate, packed
    # payload, split assignment, training-order shuffle
    "sim_ivf_indexed_topk",
    "sim_ivf_recall",
    "pack_sequences_payload",
    "split_train_valid_test",
    "shuffle_training_order",
    "pipeline_export_shards",
    "dedup_repeated_spans",
    "sim_quantize_int8",
    "funnel_view_click_purchase",
    "cohort_daily_retention",
    # r07-new: amortized IVF probe (shares the stride oracle), streaming
    # cohort-retention twin, sequence-path mining, per-minute anomaly
    # z-score, DAU/7-day stickiness, 2-iteration PageRank, quality-weighted
    # sampling — queued after the 10 r06 drains.
    "sim_ivf_probe_only",
    "stream_cohort_retention",
    "paths_event_trigrams",
    "anomaly_minute_zscore",
    "dau_stickiness_7d",
    "graph_pagerank_2iter",
    "sample_quality_weighted",
    "text_perplexity_buckets",
    "stream_anomaly_zscore",
    "train_quality_logreg",
    "latency_percentile_bands",
    "timeseries_rolling_corr_intraday",
    "sim_matryoshka_recall",
    "paths_markov_transitions",
    "split_leakage_audit",
    "stream_funnel",
    # r08-new registrations. train_quality_logreg (the -0.0 re-land) and
    # the two FORCE_RECHECK path oracles keep their r07-block positions
    # above — names must appear ONCE here (duplicates would silently take
    # the last index).
    "dedup_image_phash",
    "stream_markov_transitions",
    "dedup_image_clusters",
    "dedup_audio_envelope",
    "funnel_within_24h",
    "text_vocab_coverage",
    "train_feature_binning",
    "stream_image_phash",
    "multimodal_frame_sample",
    "funnel_time_to_convert",
    "layout_zorder_key",
    "s4_csv_declared_schema",
    "k4_parquet_sink_roundtrip",
    "k6_foreach_batch_roundtrip",
    "jsonl_source_parity",
    "k8_multi_sink_fanout",
    "t2_checkpoint_restart_roundtrip",
    "t3_default_checkpoint_roundtrip",
    # r09-new registrations (r08 VERDICT tasks 3-6): at-ingest audio probe,
    # spectral fingerprint twin, multimodal pretrain capstone, z-ordered
    # write read-back.
    "stream_audio_envelope",
    "dedup_audio_spectral",
    "stream_audio_spectral",
    "pipeline_pretrain_v3",
    "layout_zorder_readback",
    "dedup_video_frames",
    "stream_video_frames",
    "sketch_countmin_users",
    "stream_countmin_users",
    "layout_bucketed_join",
    "experiment_ab_lift",
    "window_distribution_tour",
    # r10-new registrations (r09 VERDICT tasks 4-6): BPE-merge trainer,
    # the mergeable quantile sketch twins, the at-ingest pretrain gate.
    "train_bpe_merges",
    "sketch_quantile_values",
    "stream_quantile_values",
    "stream_pretrain_gate",
    # r11-new registrations (r10 VERDICT tasks 1/4/5/8): the streaming
    # Bloom probe (completes sketch batch+stream symmetry), at-ingest BPE
    # tokenization, the self-contained two-phase quantile twin, windowed
    # HLL. sketch_bloom_decontaminate re-enters via FORCE_RECHECK (oracle
    # text change), not here.
    "stream_bloom_decontaminate",
    "stream_bpe_tokenize",
    "stream_quantile_twophase",
    "stream_hll_windowed",
    # r11 beyond-the-directives rows: at-ingest MinHash near-dup text
    # probe (within-row signatures, eighth unhinted builder), windowed
    # count-min heavy hitters (the frequency companion to windowed HLL).
    "stream_minhash_probe",
    "stream_countmin_windowed",
    "stream_hll_sliding",
    "layout_bloom_prefilter",
    "sim_pq_adc_recall",
    # r12-new registrations: the IVF-PQ composition (r11 VERDICT task 5 —
    # coarse probe + ADC over PQ reconstructions, closing the ANN ladder),
    # the windowed quantile sketch (completing the sketches-over-windows
    # matrix: HLL = distinct, count-min = frequency, histogram =
    # distribution), and the at-ingest IVF-PQ serving probe (the coded
    # catalog upgrade of stream_ann_probe).
    "sim_ivfpq_recall",
    "stream_quantile_windowed",
    "stream_ivfpq_probe",
    # r12: tumbling + sliding symmetry for ALL THREE windowed sketches —
    # the quantile and count-min sliding twins join stream_hll_sliding.
    "stream_quantile_sliding",
    "stream_countmin_sliding",
    # r12: the full IVFADC layout — PQ codes trained on and encoding
    # RESIDUALS (v - coarse centroid), measured against the raw-code tier.
    "sim_ivfpq_residual_recall",
    # r12: int8 scalar quantization's recall surface, completing the
    # compression-recall table (brute | int8 4x | IVF | PQ 64x | IVF-PQ).
    "sim_sq8_recall",
    # r12: grid mergeability as a driver-checked fact — daily quantiles
    # served by SUM-merging the hourly cells; the oracle builds daily
    # cells directly, so the hash match proves the rollup exact.
    "sketch_quantile_rollup",
    # r16 (r15 VERDICT task 2): the content-keyed split that closes the
    # split_leakage_audit loop — assignment + its audit re-run (exactly 0
    # contamination by construction). Exactly 2 registrations so the full
    # r08+r09 stale tail (3 + 30 names) drains within the 50-slot window.
    "split_by_cluster",
    "split_by_cluster_audit",
]


# New registrations whose FIRST driver row is deliberately deferred behind
# the staleness drain: unchecked names normally enter the window before
# every re-pin, but in a round whose explicit goal is draining the stale
# tail to empty (r16: 14 CORE + 2 unchecked + ALL 34 r08/r09-stale names
# = exactly 50) an extra registration would displace the oldest stale
# name. name -> round registered. SELF-EXPIRING BY ROUND (r16 VERDICT
# task 1): a deferral is active only while the registration round's own
# CORRECTNESS file has not landed (max parsed round < registered round) —
# once the drain round completes, the name re-enters the normal unchecked
# block at the FRONT of the window. The old contract ("expires on first
# green row") was circular: a name sorted past the 50-cut can never earn
# the green row that would release it (the 8 r16 entries sat at positions
# 252-259 in the judge's r17 simulation). Keeping the dict entry after
# expiry is harmless audit trail, same as an expired FORCE_RECHECK.
DEFER_TO_TAIL: dict[str, int] = {
    "stream_ivf_appendix_probe": 16,
    "split_by_neardup_cluster": 16,
    "split_by_neardup_cluster_audit": 16,
    "stream_split_by_cluster": 16,
    "sim_ivf_compacted_probe": 16,
    "stream_dedup_store_ingest": 16,
    "stream_minhash_catalog_ingest": 16,
    "stream_dedup_store_bloom_ingest": 16,
    # r17 registrations deferred behind the r10-drain: the r16 VERDICT's
    # task-2 window is 10 CORE + 8 released r16 names + 2 r17-new + all
    # 30 r10-stale = exactly 50. stream_pretrain_gate_v2 and
    # stream_split_by_neardup are NOT deferred — the verdict's tasks 4/5
    # require their first driver rows THIS round, funded by the
    # u1_u3/j1 CORE rotation; the five lifecycle arms below release
    # into r18 via the round-scoped expiry.
    "stream_dedup_store_compacted": 17,
    "stream_minhash_catalog_compacted": 17,
    "stream_dedup_store_retention": 17,
    "stream_minhash_catalog_retention": 17,
    "stream_image_catalog_ingest": 17,
    # r18 registrations: the r17 VERDICT verified the r18 window is an
    # EXACT 50-slot fit (10 CORE + the 5 released r17 arms + all 35
    # r11-stale names) with ZERO slack, so every r18-new name defers
    # behind the drain and releases into r19.
    "stream_image_catalog_compacted": 18,
    "stream_image_catalog_retention": 18,
    "stream_pretrain_gate_v3": 18,
    # Not a new registration: the FORCE_RECHECK[..]=18 re-entry for the
    # refactored v2 body defers with the r18-new names for the same
    # zero-slack reason (see FORCE_RECHECK's r18 comment).
    "stream_pretrain_gate_v2": 18,
    "stream_split_by_neardup_incremental": 18,
    "stream_split_by_neardup_inc_compacted": 18,
    "stream_split_by_neardup_inc_audit": 18,
    "stream_embedding_catalog_ingest": 18,
    "stream_embedding_catalog_compacted": 18,
    "stream_embedding_catalog_retention": 18,
}


def _max_correctness_round() -> int:
    """Highest round number with a CORRECTNESS_r*.json in the tree — the
    deferral clock: DEFER_TO_TAIL entries registered in round N stay
    deferred only while this is < N (i.e. only during round N itself)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", path))
    ]
    return max(rounds, default=0)


def _ordered_names() -> list[str]:
    """CORE window first, then queries the driver has never green-checked
    under their current oracle (rotating them into the window over
    rounds), then the already-green rest ordered stalest-first by last
    green round — so window slack always re-verifies what has gone
    longest unchecked."""
    all_names = list(plans.QUERIES)
    core = [n for n in CORE_WINDOW if n in plans.QUERIES]
    core_set = set(core)
    last_green = _last_green_round()
    for name, since_round in FORCE_RECHECK.items():
        if last_green.get(name, 0) < since_round:
            last_green.pop(name, None)  # not yet re-proven: force back in
    unchecked = [
        n for n in all_names if n not in core_set and n not in last_green
    ]
    max_round = _max_correctness_round()
    deferred = [
        n for n in unchecked if DEFER_TO_TAIL.get(n, 0) > max_round
    ]
    unchecked = [n for n in unchecked if n not in set(deferred)]
    prio = {n: i for i, n in enumerate(ROTATION_PRIORITY)}
    unchecked.sort(key=lambda n: (prio.get(n, len(prio)), all_names.index(n)))
    rest = [n for n in all_names if n not in core_set and n in last_green]
    rest.sort(key=lambda n: (last_green[n], all_names.index(n)))
    deferred.sort(key=lambda n: (DEFER_TO_TAIL[n], all_names.index(n)))
    return core + unchecked + rest + deferred


def _apply_session_conf(spark: SparkSession) -> None:
    """The driver owns the SparkSession; re-apply the runtime-settable confs
    our plans rely on (engine.get_session sets the same ones)."""
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.timeParserPolicy": "CORRECTED",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # The driver's plain session defaults to 200 shuffle partitions —
        # at sf0.01 that is 6x more tasks than data; 32 matches engine.py
        # (results are partition-count independent by oracle convention).
        "spark.sql.shuffle.partitions": "32",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a started session — engine default applies


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _apply_session_conf(spark)
    return plans.QUERIES["flagship_sliding_alert"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions)."""

    def wrap(fn: plans.QueryFn) -> plans.QueryFn:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _apply_session_conf(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(plans.QUERIES[name]) for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted => driver runs
    the weaker rows-only check; used only for non-SQL-expressible ops)."""
    return dict(plans.ORACLE)
