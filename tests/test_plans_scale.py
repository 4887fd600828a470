"""Plan-shape assertions — the 100 TB discipline, enforced.

Correct results with a bad plan won't survive a 1000-executor cluster.
These tests pin the physical-plan properties each query family depends on:
filters pushed into the parquet scan, projections pruned, dimension joins
broadcast (no stream/fact shuffle), top-k via TakeOrderedAndProject (no
global sort), partial+final hash aggregation, and no accidental cartesian
products anywhere.
"""

from __future__ import annotations

import pytest

from spark_streaming_kafka_example_spark import plans

plans.load_all()


def formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


_PLAN_CACHE: dict[str, str] = {}


@pytest.fixture(scope="module")
def plan_of(spark, sf_dir):
    def _get(name: str) -> str:
        # Building a plan executes any eager parts of the query (phash
        # decode checkpoints, gradient .first()s, component loops); cache
        # per name so the repo-wide cartesian sweep and the per-family
        # shape tests share one build.
        if name not in _PLAN_CACHE:
            _PLAN_CACHE[name] = formatted_plan(plans.QUERIES[name](spark, sf_dir))
        return _PLAN_CACHE[name]

    return _get


def test_no_query_plans_a_cartesian_product(plan_of):
    """Repo-wide 100 TB contract: NO registered batch query may plan
    a CartesianProduct — every cross-relation composition must either
    equi-join (possibly on LSH/band/bucket keys) or crossJoin a BROADCAST
    fixed-size relation (which plans as BroadcastNestedLoopJoin over a
    one-row/fixed-k side — the moments/bounds/centroids idiom). A true
    CartesianProduct shuffles both sides all-to-all and is always a scale
    bug here. Streaming queries are excluded (building their plan runs
    the bounded drain); their batch twins cover the shapes."""
    offenders = []
    for name in sorted(plans.QUERIES):
        if name.startswith("stream_"):
            continue
        if "CartesianProduct" in plan_of(name):
            offenders.append(name)
    assert not offenders, f"CartesianProduct planned by: {offenders}"


def test_q1_filter_pushdown_and_pruning(plan_of):
    plan = plan_of("q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned to the 7 referenced columns — no full-width scan
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double" in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    # map-side partial aggregation before the exchange
    assert "partial_sum" in plan


def test_flagship_broadcasts_dimension(plan_of):
    plan = plan_of("flagship_sliding_alert")
    assert "BroadcastHashJoin" in plan  # dim join must not shuffle the stream
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange") >= 1  # the one agg shuffle
    assert "CartesianProduct" not in plan


def test_enrich_join_broadcasts(plan_of):
    plan = plan_of("j1_enrich_left_outer")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q3_topk_avoids_global_sort(plan_of):
    plan = plan_of("q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan  # per-partition top-k + merge
    assert "CartesianProduct" not in plan


def test_sort_limit_topk_avoids_global_sort(plan_of):
    plan = plan_of("sort_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_q5_dimensions_broadcast(plan_of):
    plan = plan_of("q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semi_anti_stay_joins(plan_of):
    for name in ("join_left_semi", "join_left_anti"):
        plan = plan_of(name)
        assert "Join" in plan
        assert "CartesianProduct" not in plan


def test_wordcount_partial_aggregates(plan_of):
    plan = plan_of("p12_a1_word_count")
    assert "partial_count" in plan  # map-side combine before the shuffle


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_minhash_estimate"])
def test_minhash_no_cartesian(plan_of, name):
    """LSH candidate generation must join on (band_id, band_val) buckets —
    an equi-join — never enumerate all pairs; the signature estimator adds
    only key-lookup joins on top."""
    plan = plan_of(name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_cosine_no_cartesian(plan_of):
    """Embedding near-dup must equi-join on epsilon-grid cells — never the
    all-pairs crossJoin (quadratic in the corpus)."""
    plan = plan_of("dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["dedup_image_phash", "dedup_audio_envelope"])
def test_media_hash_dedup_no_cartesian(plan_of, name):
    """Perceptual-hash media dedup must equi-join on
    (chunk_id, chunk_val) Hamming-band buckets — the simhash pigeonhole
    generalized to hex fingerprints — never an all-pairs blob join. Covers
    the image (aHash) and audio (envelope-hash) entries; the image
    CLUSTER query consumes the same pair relation before its eager
    component loop, so this pins its edge-generation plan too."""
    plan = plan_of(name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_coverage_topv_and_broadcast(plan_of):
    """Vocabulary building must pick the top-V via
    TakeOrderedAndProject (fixed-size, no global sort) and run the
    coverage pass as a map-side BROADCAST join of that vocabulary —
    shuffling the full token stream for the membership check would be the
    100 TB killer."""
    plan = plan_of("text_vocab_coverage")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_feature_binning_broadcast_bounds(plan_of):
    """Quantile binning: the decile bounds must reach the
    assignment pass as a broadcast one-row relation; the only window runs
    over the per-VALUE counts (bounded by the 1e-4 score grid), never the
    corpus."""
    plan = plan_of("train_feature_binning")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_levenshtein_lsh_no_cartesian(plan_of):
    """The at-scale edit-distance path: candidates from LSH banding, scored
    via key-lookup equi-joins — never the all-pairs fallback self-join."""
    plan = plan_of("text_levenshtein_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_is_candidate_bounded(spark, sf_dir, plan_of):
    """The jaccard stage must be candidate-driven (LSH candidates keyed back
    into the shingle relation on (id, shingle)) — never a self-join keyed on
    the shingle alone, whose hot boilerplate shingles explode quadratically
    on a web corpus. dedup_clusters' final plan
    is a checkpointed-label scan, so its pair graph is pinned via the
    jaccard_pair_graph helper it consumes."""
    from spark_streaming_kafka_example_spark.plans.llm import jaccard_pair_graph

    for plan in (
        plan_of("dedup_ngram_jaccard"),
        plan_of("dedup_containment"),
        formatted_plan(jaccard_pair_graph(spark, sf_dir)),
    ):
        assert "Left keys [1]: [shingle" not in plan, "shingle-only self-join"
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the LSH band bucket join is the only legal pair generator
        assert "band_val" in plan


def test_brute_force_topk_broadcasts_queries(plan_of):
    """The corpus side must stream; only the tiny query set broadcasts."""
    plan = plan_of("sim_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_scans_are_columnar_batched(plan_of):
    for name in ("q1_pricing_summary", "a2_tumbling_window_agg"):
        assert "Batched: true" in plan_of(name)  # vectorized parquet reader


def test_asof_single_exchange(plan_of):
    """The as-of composition must shuffle exactly once (on the key)."""
    header = plan_of("asof_purchase_last_click").split("\n\n")[0]
    assert header.count("Exchange") == 1


def test_sessionize_single_exchange(plan_of):
    """lag + cumsum + groupBy all share the per-key partitioning."""
    header = plan_of("sessionize_gap_30m").split("\n\n")[0]
    assert header.count("Exchange") == 1


def test_salted_agg_two_phase(plan_of):
    """Salting = exactly two aggregation exchanges (key+salt, then key)."""
    header = plan_of("agg_salted_skew").split("\n\n")[0]
    assert header.count("Exchange") == 2


def test_q6_all_predicates_push_to_scan(plan_of):
    plan = plan_of("q6_forecast_revenue")
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    # scan reads only the 4 referenced columns
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read and "l_extendedprice" in read


def test_q9_dimensions_broadcast_fact_never_builds(plan_of):
    plan = plan_of("q9_product_profit")
    assert plan.count("BroadcastHashJoin") >= 3  # part, supplier, nation
    assert "CartesianProduct" not in plan


def test_q10_topk_and_broadcast_nation(plan_of):
    plan = plan_of("q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_q18_semi_join_before_wide_join(plan_of):
    plan = plan_of("q18_large_volume_customer")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_q4_semi_join_with_residual_condition(plan_of):
    plan = plan_of("q4_order_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q21_self_joins_stay_equi(plan_of):
    """Double-correlated EXISTS/NOT EXISTS must plan as semi/anti equi-joins
    on l_orderkey with residual suppkey conditions — never nested loops."""
    plan = plan_of("q21_waiting_supplier")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q11_threshold_broadcasts(plan_of):
    """The global-scalar fraction must broadcast to the grouped side (one
    extra row), not shuffle the per-part aggregate again."""
    plan = plan_of("q11_important_stock")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


@pytest.mark.parametrize(
    "name", sorted(n for n in plans.QUERIES if n.startswith("q") and n[1].isdigit())
)
def test_tpch_plans_never_cartesian(plan_of, name):
    """Blanket contract over the whole TPC-H block: whatever join
    strategy Catalyst picks, no query may degrade to an unconditioned
    CartesianProduct — correlated subqueries must stay
    semi/anti equi-joins and scalar thresholds must broadcast."""
    assert "CartesianProduct" not in plan_of(name)


def test_nested_schema_pruning(spark, sf_dir, tmp_path):
    """Selecting one subfield of a nested struct must prune the scan to that
    subfield (ReadSchema shows the narrowed struct) — at 100 TB reading
    coord.lat must not drag the whole sensor struct off disk."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka_example_spark.sources import load_table

    nested_dir = str(tmp_path / "nested")
    (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            F.struct(
                F.struct(F.col("value").alias("lat"), F.col("value").alias("lon"))
                .alias("coord"),
                F.col("event_type").alias("kind"),
                F.col("props").alias("payload"),
            ).alias("sensor"),
        )
        .write.parquet(nested_dir)
    )
    df = spark.read.parquet(nested_dir).select(
        "event_id", F.col("sensor.coord.lat").alias("lat")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lat" in read_schema
    assert "payload" not in read_schema and "kind" not in read_schema, read_schema
    assert df.count() > 0


def test_zorder_layout_skips_on_both_dimensions(spark, sf_dir, tmp_path):
    """Z-ordering (user_id, ts) must yield files whose min/max envelopes
    allow skipping for single-column predicates on EITHER dimension, while
    a plain ts-sort gives skipping only on ts — the reason multi-dimension
    layouts exist. Checked against the actual parquet footer statistics,
    which is exactly what a scan's file-level pruning reads."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from spark_streaming_kafka_example_spark.operators.zorder import zorder_layout
    from spark_streaming_kafka_example_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("ts_s"), "value"
    )
    zdir, tdir = str(tmp_path / "zord"), str(tmp_path / "tsort")
    zorder_layout(ev, ["user_id", "ts_s"], n_files=8).write.parquet(zdir)
    ev.repartitionByRange(8, "ts_s").sortWithinPartitions("ts_s").write.parquet(
        tdir
    )

    def envelopes(d, col):
        out = []
        for f in sorted(glob.glob(d + "/part-*.parquet")):
            md = pq.read_metadata(f)
            idx = md.schema.to_arrow_schema().get_field_index(col)
            lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
            out.append((lo, hi))
        return out

    bounds = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("ts_s"), F.max("ts_s")
    ).collect()[0]
    mid_user = (bounds[0] + bounds[1]) // 2
    mid_ts = (bounds[2] + bounds[3]) // 2

    def skippable(envs, point):
        return sum(1 for lo, hi in envs if not (lo <= point <= hi))

    z_user = skippable(envelopes(zdir, "user_id"), mid_user)
    z_ts = skippable(envelopes(zdir, "ts_s"), mid_ts)
    t_user = skippable(envelopes(tdir, "user_id"), mid_user)
    t_ts = skippable(envelopes(tdir, "ts_s"), mid_ts)
    # plain ts-sort: perfect on ts, blind on user (every file spans all users)
    assert t_ts >= 6 and t_user == 0
    # z-order: real skipping on BOTH dimensions
    assert z_user >= 2, f"z-order skipped {z_user}/8 on user_id"
    assert z_ts >= 2, f"z-order skipped {z_ts}/8 on ts"


def test_range_partitioned_sorted_write(spark, sf_dir, tmp_path):
    """The sorted-layout write pattern (range partition + sort within
    partitions): the plan shows RangePartitioning (sampled boundaries, no
    global sort) and every output file is internally key-sorted — the
    layout that makes downstream merge joins and min/max skipping work."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka_example_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    shaped = ev.repartitionByRange(4, "user_id").sortWithinPartitions(
        "user_id", "ts"
    )
    plan = shaped._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()

    out = str(tmp_path / "sorted_events")
    shaped.write.parquet(out)
    import glob

    for f in glob.glob(out + "/part-*.parquet"):
        part = spark.read.parquet(f).select("user_id").toPandas().user_id
        assert list(part) == sorted(part), f"{f} not sorted"


def test_decontaminate_broadcasts_benchmark(plan_of):
    """The eval-set n-gram relation is tiny at any corpus scale: it must be
    the broadcast side, so the corpus n-gram explode never shuffles."""
    plan = plan_of("text_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_topk_and_broadcast_stats(plan_of):
    """BM25: top-k via TakeOrderedAndProject (no global sort); df/stats are
    broadcast; the term filter runs before any exchange (only matching
    tokens move)."""
    plan = plan_of("sim_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_pack_chunked_single_shard_shuffle(plan_of):
    """Chunked packing is one window over the shard key: exactly one
    exchange (hash by source), no sort beyond the per-partition window
    sort, no UDF (whole-stage codegen end-to-end)."""
    plan = plan_of("pack_sequences_chunked")
    # each physical Exchange appears twice in formatted output (tree + detail)
    assert plan.count("Exchange") == 2
    assert "Window" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_semdedup_broadcasts_centroids_no_cartesian(spark, sf_dir, plan_of):
    """SemDeDup: the assignment pass broadcasts the centroid table (checked
    on assign_buckets directly — the registered query checkpoints the
    assigned relation, hiding that stage); the intra-cluster pair join is
    bucket-keyed (shuffle equi-join is fine, cartesian is not)."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka_example_spark.operators.similarity import (
        assign_buckets,
    )
    from spark_streaming_kafka_example_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 8)
    assign_plan = formatted_plan(assign_buckets(emb, cent))
    assert "BroadcastNestedLoopJoin" in assign_plan  # centroid cross, tiny side
    assert "CartesianProduct" not in assign_plan

    plan = plan_of("dedup_semdedup")
    assert "CartesianProduct" not in plan
    assert "bucket" in plan  # pair join keyed on the cluster id


def test_domain_mixture_is_map_side_gate(plan_of):
    """The mixture sampler's rate table is broadcast back to the scan and
    the hash gate is a filter — no shuffle of the kept documents."""
    plan = plan_of("sample_domain_mixture")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_projection_only_queries_have_no_exchange(plan_of):
    """Pure map-stage operators must compile to scan + projection with NO
    exchange at all — the guarantee that they run at scan speed on any
    cluster size: quality-logit inference and chunk windowing."""
    for name in (
        "text_quality_logit",
        "text_chunk_windows",
        "text_sentiment_lexicon",
    ):
        plan = plan_of(name)
        assert "Exchange" not in plan, f"{name} shuffles"
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_incremental_dedup_fp_equi_join(plan_of):
    """New-batch-vs-store must be a fingerprint equi-join (hash-partitioned
    or broadcast) — never a nested loop over the store."""
    plan = plan_of("dedup_incremental_exact")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_textprep_aggs_are_partial(plan_of):
    """Repetition/PMI gram counts must map-side combine before shuffling."""
    for name in ("text_repetition_profile", "text_pmi_bigrams"):
        plan = plan_of(name)
        assert "partial_count" in plan or "partial_" in plan, name
        assert "CartesianProduct" not in plan


def test_pipeline_pretrain_v2_shape(plan_of):
    """The capstone chain: benchmark grams + mixture rates broadcast, no
    cartesian/nested-loop anywhere, gram aggs partial."""
    plan = plan_of("pipeline_pretrain_v2")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_" in plan


def test_contrastive_pairs_broadcasts_small_relations(plan_of):
    """Contrastive pair generation: anchors/stats/j-range are the broadcast
    sides; the corpus streams once through the positive scorer; no
    cartesian over the corpus."""
    plan = plan_of("sim_contrastive_pairs")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cluster_representatives_is_hash_agg(plan_of):
    """Representative selection must be a max_by hash aggregation over the
    (cluster_id, quality) relation — no per-cluster sort or window, no
    cartesian."""
    plan = plan_of("dedup_cluster_representatives")
    assert "max_by" in plan
    assert "CartesianProduct" not in plan


def test_split_assignment_is_map_only(plan_of):
    """split_train_valid_test is a pure projection: the plan must contain
    no exchange at all — the split gate runs map-side on the scan."""
    plan = plan_of("split_train_valid_test")
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,source:string" in plan  # pruned


def test_shuffle_training_order_single_exchange(plan_of):
    """shuffle_training_order shuffles ONCE on the shard key; the sort is
    per-shard inside the window (no global single-partition sort, which
    would serialize the permutation at scale)."""
    plan = plan_of("shuffle_training_order")
    # formatted mode prints each node in the tree AND the detail section
    assert plan.count("Exchange (") == 1
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan
    # text column pruned away — ranks derive from doc_id only
    assert "text" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_pack_payload_no_corpus_sort(plan_of):
    """pack_sequences_payload: the payload concat is a hash aggregation
    (collect_list + array_sort), never a sort-exchange of the corpus, and
    the assignment-to-text join must not be a cartesian."""
    plan = plan_of("pack_sequences_payload")
    assert "CartesianProduct" not in plan
    assert "partial_" in plan  # map-side partial agg feeds the exchange


def test_ivf_recall_no_cartesian_beyond_broadcast(plan_of):
    """sim_ivf_recall composes the IVF probe and brute-force chains; every
    cross join in them is against a broadcast (queries/centroids) relation,
    never a distributed cartesian."""
    plan = plan_of("sim_ivf_recall")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the documented broadcast crossJoins


def test_clustered_recall_synthesis_broadcast(spark, sf_dir, plan_of):
    """sim_ivfpq_clustered_recall's corpus synthesis is four equi-joins
    against the constant 8-row prototype relation — all broadcast
    (FIXED-K), with no distributed cartesian anywhere in the composed
    recall plan (the brute/probe crossJoins stay broadcast, as in
    sim_ivf_recall). The proto joins are pinned on the SYNTHESIS
    plan itself — in the composed plan they sit behind the documented
    lazy lineage cut, which the fused PQ-codebook training now
    materializes before explain, so they no longer print there."""
    from spark_streaming_kafka_example_spark.plans.llm import (
        _clustered_corpus,
    )

    synth = formatted_plan(_clustered_corpus(spark, sf_dir))
    assert synth.count("BroadcastHashJoin") >= 4  # the proto joins
    assert "CartesianProduct" not in synth

    plan = plan_of("sim_ivfpq_clustered_recall")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast crossJoins
    # Keep some composed-plan coverage — the composed plan
    # carries exactly the 2 documented corpus-proportional (unhinted)
    # sort-merge joins of the recall frame; if a regression re-plans the
    # 4 synthesis joins INSIDE the composed query (in front of the
    # lineage cut) as distributed joins, this count trips.
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 2


def test_repeated_spans_topk_and_partial_agg(plan_of):
    """dedup_repeated_spans: map-side partial aggregation before the
    shuffle, top-k via TakeOrderedAndProject (never a global sort), and
    the scan pruned to (doc_id, text)."""
    plan = plan_of("dedup_repeated_spans")
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_quantize_int8_is_map_only(plan_of):
    """sim_quantize_int8 is a pure projection: zero exchanges — the codes
    and error bound compute inside the scan's partitioning."""
    plan = plan_of("sim_quantize_int8")
    assert "Exchange" not in plan


def test_export_shards_plan_shape(plan_of):
    """pipeline_export_shards: exactly three data exchanges (pack shard
    key, payload agg, export shard window) + a broadcast for the
    text-back join; no cartesian, no single-partition window."""
    plan = plan_of("pipeline_export_shards")
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    assert plan.count("+- Exchange (") == 3
    assert "BroadcastHashJoin" in plan


def test_funnel_and_cohort_reuse_stage_relations(plan_of):
    """funnel/cohort: checkpointed stage relations must be REUSED, not
    re-derived — the executed plan may contain at most 3 (funnel) / 1
    (cohort) parquet scans; the pre-fix funnel re-derived every subtree
    for 12 scans."""
    fp = plan_of("funnel_view_click_purchase")
    assert fp.count("Scan parquet") <= 3
    assert "CartesianProduct" not in fp  # scalar count crossJoins broadcast
    cp = plan_of("cohort_daily_retention")
    assert cp.count("Scan parquet") <= 1
    assert "CartesianProduct" not in cp


def test_rag_prep_plan_shape(plan_of):
    """pipeline_rag_prep: the checkpointed feature relation is reused (<=1
    parquet scan survives in the executed plan), the query side broadcasts,
    and nothing is all-pairs."""
    plan = plan_of("pipeline_rag_prep")
    assert plan.count("Scan parquet") <= 1
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_gapfill_islands_langid_plan_shape(plan_of):
    """Gap-fill reads its events slice once (checkpointed); islands keeps
    every window on the user-key partitioning (no single-partition window);
    langid accuracy is one aggregation exchange over a pruned scan."""
    gp = plan_of("rollup_gapfill_locf")
    assert gp.count("Scan parquet") <= 1
    assert "SinglePartition" not in gp
    il = plan_of("islands_user_daily_tier")
    assert "SinglePartition" not in il and "CartesianProduct" not in il
    la = plan_of("text_langid_accuracy")
    assert la.count("Exchange (") == 1


def test_centroid_literal_array_rejects_unbounded(spark):
    """stream_ann_probe's plan-literal centroid embedding is only legal for
    a FIXED-K centroid relation: the guard must refuse a row set larger
    than k (a stride pick that collects N/50 full vectors to the driver is
    linear in the corpus)."""
    from spark_streaming_kafka_example_spark.plans.stream import (
        _centroid_literal_array,
    )

    rows = [{"cent_id": i, "cv": [0.1, 0.2]} for i in range(3)]
    arr = _centroid_literal_array(rows, k=3)  # bounded: fine
    assert spark.range(1).select(arr.alias("a")).first()["a"][0]["cent_id"] == 0
    with pytest.raises(ValueError, match="fixed-k"):
        _centroid_literal_array(rows, k=2)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_centroid_literal_array_rejects_non_finite(bad):
    """A NaN or +-inf component has no SQL double literal ('nanD' would
    fail as an opaque parse error): the function raises a ValueError that
    names the offending centroid before any expression is built."""
    from spark_streaming_kafka_example_spark.operators.similarity import (
        _centroid_literal_array,
    )

    rows = [
        {"cent_id": 0, "cv": [0.1, 0.2]},
        {"cent_id": 7, "cv": [0.3, bad]},
    ]
    with pytest.raises(ValueError, match="cent_id=7 has non-finite"):
        _centroid_literal_array(rows, k=2)


def test_stride_centroids_bounded_at_any_corpus_size(spark):
    """stride_centroids must return <= _STRIDE_K_CAP rows no matter how
    large the corpus: it is broadcast (and in the oracle-parity configs,
    plan-embedded), so a corpus-proportional row count is a scale-killer."""
    import pyspark.sql.functions as F

    from spark_streaming_kafka_example_spark.plans.llm import (
        _STRIDE_K_CAP,
        stride_centroids,
    )

    big = spark.range(500_000).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0)).alias("embedding")
    )
    assert stride_centroids(big).count() == _STRIDE_K_CAP


def test_ivf_index_build_memoized_per_session(spark, sf_dir, monkeypatch):
    """The materialized IVF index is built at most once per (session,
    sf_dir): repeated constructions — plan enumerations, the probe-only
    twin after the indexed query — must reuse the files instead of
    re-running the write."""
    from spark_streaming_kafka_example_spark.operators import similarity
    from spark_streaming_kafka_example_spark.plans import llm

    calls = {"n": 0}
    real_build = similarity.build_ivf_index

    def counting_build(*a, **kw):
        calls["n"] += 1
        return real_build(*a, **kw)

    monkeypatch.setattr(similarity, "build_ivf_index", counting_build)
    llm._IVF_INDEX_BUILT.clear()
    p1 = llm._ensure_ivf_index(spark, sf_dir)
    p2 = llm._ensure_ivf_index(spark, sf_dir)
    assert p1 == p2 and calls["n"] == 1


def test_r07_analytics_plan_shapes(plan_of):
    """Analytics plan shapes: paths top-20 must be TakeOrderedAndProject
    over two hash exchanges (user collect + path count); anomaly re-uses its
    checkpointed minute rollup (one scan) and broadcasts the one-row
    moments; stickiness and pagerank stay cartesian-free with the
    checkpointed base relations hiding re-scans; quality-weighted sampling
    is one exchange with the gate pushed below it."""
    pp = plan_of("paths_event_trigrams")
    assert "TakeOrderedAndProject" in pp and "CartesianProduct" not in pp
    az = plan_of("anomaly_minute_zscore")
    assert az.count("Scan parquet") <= 1  # rollup materialized once
    assert "CartesianProduct" not in az
    ds = plan_of("dau_stickiness_7d")
    assert "CartesianProduct" not in ds and "SinglePartition" not in ds
    pr = plan_of("graph_pagerank_2iter")
    assert "CartesianProduct" not in pr
    sq = plan_of("sample_quality_weighted")
    assert sq.count("Exchange (") == 1 and "CartesianProduct" not in sq


def test_perplexity_buckets_reuses_lm_relation(plan_of):
    """text_perplexity_buckets: the checkpointed LM relation feeds both
    the tercile agg and the bucket projection — the executed plan must not
    re-derive the bigram chain (no parquet scan survives past the
    checkpoint) and the tercile thresholds join as a broadcast one-row
    relation, never a distributed cartesian."""
    plan = plan_of("text_perplexity_buckets")
    assert plan.count("Scan parquet") == 0  # lm checkpoint cut the lineage
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the one-row threshold cross


def test_ivf_index_path_distinct_per_sf_dir(spark, sf_dir, tmp_path):
    """Two sf_dirs with the SAME basename must never share one memoized
    index path in a session — the key is the full resolved
    directory, not its basename."""
    import os
    import shutil

    from spark_streaming_kafka_example_spark.plans import llm

    alias = tmp_path / "alias" / os.path.basename(os.path.normpath(sf_dir))
    alias.parent.mkdir(parents=True)
    os.makedirs(alias)
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"),
                alias / "embeddings.parquet")
    p1 = llm._ensure_ivf_index(spark, sf_dir)
    p2 = llm._ensure_ivf_index(spark, str(alias))
    assert p1 != p2


# ---------------------------------------------------------------------------
# The three stream-static joins whose static side
# GROWS with users/corpus must not hard-code a broadcast hint. The pre-drain
# builders are explained WITHOUT executing the stream; each must plan an
# equi-join (broadcast while the planner's stats say the side is small, a
# shuffled join beyond — never cartesian / nested-loop), and the analyzed
# plan must carry NO ResolvedHint, proving the choice is the planner's.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "builder",
    ["stream_cohort_retention_plan", "stream_funnel_plan",
     "stream_image_phash_plan", "stream_audio_envelope_plan",
     "stream_audio_spectral_plan", "stream_video_frames_plan",
     "stream_pretrain_gate_plan", "stream_minhash_probe_plan",
     # The coded-catalog ANN probe — the catalog (bucket + PQ
     # reconstruction per corpus vector) grows with the corpus.
     "stream_ivfpq_probe_plan",
     # The rep-fp split map — grows with the corpus's duplicate
     # subset, so the doc_id-keyed map join must stay unhinted too.
     "stream_split_by_neardup_plan"],
)
def test_stream_static_joins_unhinted_equi(spark, sf_dir, builder):
    from spark_streaming_kafka_example_spark.plans import stream as st

    df = getattr(st, builder)(spark, sf_dir)
    if isinstance(df, tuple):  # video probe returns (hit stream, counts)
        df = df[0]
    physical = formatted_plan(df)
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical
    assert (
        "BroadcastHashJoin" in physical
        or "SortMergeJoin" in physical
        or "ShuffledHashJoin" in physical
    ), f"{builder}: no equi-join planned"
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, (
        f"{builder}: hard-coded join hint on a data-proportional side"
    )


def test_countmin_broadcast_cells_and_topk(plan_of):
    """Count-min: the 1024-cell sketch must reach the candidate
    scoring as a BROADCAST side (shuffling candidates against cells would
    be absurd at any scale), and the exact top-20 must plan as
    TakeOrderedAndProject, never a global sort."""
    plan = plan_of("sketch_countmin_users")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_video_frame_dedup_bucket_bounded(plan_of):
    """Video frame-set dedup: candidate pairs come from an equi-join
    on frame_md5 — bucket-bounded like every dedup family, never
    all-pairs/nested-loop."""
    plan = plan_of("dedup_video_frames")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_hll_sketch_partial_agg_and_broadcast_grid(plan_of):
    """HLL sketch: the register fold must partial-aggregate (max
    combines map-side — executors ship <= 5 x 256 registers, never raw
    hash rows), the all-buckets grid crossJoin must broadcast its
    fixed-256-row side, and nothing may plan a CartesianProduct."""
    plan = plan_of("sketch_hll_distinct")
    assert "CartesianProduct" not in plan
    assert "partial_max" in plan
    assert "BroadcastNestedLoopJoin" in plan  # groups x range(256) grid
    assert "BroadcastHashJoin" in plan  # grid->regs left join + score join


def test_bloom_sketch_broadcast_bits_and_config(plan_of):
    """Bloom decontamination: the bit set and the 1-row self-sizing
    m config must reach the corpus-gram explode as BROADCAST sides (the
    corpus is never shuffled against them — the text_decontaminate
    discipline with a constant-bounded broadcast side), the bench-gram
    relation must be checkpointed (ExistingRDD — lazily it re-derived per
    consumer, six documents scans), and nothing may plan a
    CartesianProduct. The bagg-vs-eagg SortMergeJoin is fine: two
    doc_id-partitioned aggregation outputs reusing their exchange."""
    plan = plan_of("sketch_bloom_decontaminate")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row m config join
    assert "BroadcastHashJoin" in plan  # hinted bits probe (+ exact arm)
    assert "ExistingRDD" in plan  # bg checkpointed once


def test_quantile_sketch_broadcast_bounds_and_estimates(plan_of):
    """Quantile sketch: the 1-row grid bounds and the 4-row estimate
    relation must reach the value scans as BROADCAST sides (the
    moments/bounds idiom) — never a shuffle of value rows against them —
    and nothing may plan a CartesianProduct."""
    plan = plan_of("sketch_quantile_values")
    assert "CartesianProduct" not in plan
    # bounds crossJoin + est range-join both broadcast their fixed side
    assert plan.count("BroadcastNestedLoopJoin") >= 1
    assert "BroadcastExchange" in plan


def test_stream_bloom_probe_broadcast_pinned(spark, sf_dir):
    """Streaming Bloom probe: the at-ingest arm must be pure
    map-side — its ONLY exchanges are broadcasts of the constant-bounded
    sketch sides (bits <= _BLOOM_M_CAP rows as _BLOOM_K BroadcastHashJoins,
    the 1-row m config as a broadcast cross). No shuffle may touch the
    document stream: a hashpartitioning exchange here would shuffle the
    corpus per micro-batch."""
    from spark_streaming_kafka_example_spark.plans.stream import (
        stream_bloom_probe_plan,
    )
    from spark_streaming_kafka_example_spark.plans.textprep import (
        _BLOOM_K,
        _bench_grams_df,
        bloom_bits,
        bloom_m,
    )
    from spark_streaming_kafka_example_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    bg = _bench_grams_df(docs).select("gram").distinct().localCheckpoint()
    mrel = bloom_m(bg).localCheckpoint()
    bits = bloom_bits(bg, mrel).localCheckpoint()
    physical = formatted_plan(
        stream_bloom_probe_plan(spark, sf_dir, bits, mrel)
    )
    # formatted mode prints each node twice: once in the tree, once in the
    # numbered detail section.
    assert physical.count("BroadcastHashJoin") == 2 * _BLOOM_K, physical
    assert "CartesianProduct" not in physical
    assert "SortMergeJoin" not in physical
    assert "ShuffledHashJoin" not in physical
    assert "hashpartitioning" not in physical, (
        "shuffle exchange in the stateless at-ingest arm"
    )


def test_stream_bpe_tokenize_mapside(spark, sf_dir):
    """At-ingest BPE tokenization: the learned merge table embeds as
    literal patterns, so the streaming arm must be a pure projection —
    zero joins, zero exchanges of any kind, zero state."""
    from spark_streaming_kafka_example_spark.operators.bpe import train_bpe
    from spark_streaming_kafka_example_spark.plans.stream import (
        stream_bpe_tokenize_plan,
    )
    from spark_streaming_kafka_example_spark.plans.textprep import (
        _BPE_ROUNDS,
        bpe_word_freqs,
    )
    from spark_streaming_kafka_example_spark.sources import load_table

    merges, _ = train_bpe(
        bpe_word_freqs(load_table(spark, sf_dir, "documents")), _BPE_ROUNDS
    )
    assert merges, "trainer returned no merges"
    physical = formatted_plan(stream_bpe_tokenize_plan(spark, sf_dir, merges))
    assert "Join" not in physical, physical
    assert "Exchange" not in physical, physical
    assert "Aggregate" not in physical, physical


def test_bloom_prefilter_probe_broadcast(plan_of):
    """Bloom-pruned join: the fact scan must be pre-screened by
    exactly _BLOOM_K broadcast probe joins before the exact join — the
    runtime-filter shape — with no cartesian anywhere and the final
    aggregation partial-combining map-side."""
    from spark_streaming_kafka_example_spark.plans.textprep import _BLOOM_K

    plan = plan_of("layout_bloom_prefilter")
    # k probe joins + (locally) a broadcast final join; formatted mode
    # prints each node twice (tree + detail)
    assert plan.count("BroadcastHashJoin") >= 2 * _BLOOM_K
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_native_runtime_bloom_filter_ab(spark, tmp_path):
    """Grounds layout_bloom_prefilter's "AQE automates this" claim in an
    OBSERVED plan: Spark's InjectRuntimeFilter
    rewrite (spark.sql.optimizer.runtime.bloomFilter.*) plants the same
    build-bloom-on-the-selective-dim / might_contain-probe-before-the-
    exchange shape the hand-rolled query builds explicitly.

    A-arm (defaults): the applicationSideScanSizeThreshold default is
    10 GB, so at local[32] test scale the rewrite must NOT fire — which is
    exactly why the hand-rolled variant exists as a registered,
    plan-pinned query rather than a conf flag.
    B-arm (thresholds lowered, broadcast disabled so the probe side is a
    shuffle join): the rewrite MUST fire — bloom_filter_agg on the dim
    side, might_contain filtering the fact scan."""
    from pyspark.sql import functions as F

    fact = spark.range(0, 500_000).select(
        (F.col("id") % 5000).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 100).alias("cat")
    )
    fact.write.parquet(str(tmp_path / "fact"))
    dim.write.parquet(str(tmp_path / "dim"))
    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for key in tuned:
        try:
            saved[key] = spark.conf.get(key)
        except Exception:
            saved[key] = None

    def join_plan():
        f = spark.read.parquet(str(tmp_path / "fact"))
        d = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("cat") == 7)
        j = f.join(d, "k")
        return formatted_plan(j)

    try:
        # A-arm: default thresholds -> no runtime filter at this scale.
        assert "might_contain" not in join_plan()
        for key, val in tuned.items():
            spark.conf.set(key, val)
        # B-arm: the rewrite fires.
        plan = join_plan()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan
    finally:
        for key, val in saved.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def test_aqe_skew_join_split_ab(spark):
    """Grounds SCALE.md's "AQE splits skewed keys" claim in an OBSERVED
    final plan (as test_native_runtime_bloom_filter_ab does for the
    runtime filter): plant a skewed equi-join — one hot key owning
    ~83% of the fact side — and read the executed AdaptiveSparkPlan.

    A-arm (default thresholds): skewedPartitionThresholdInBytes defaults
    to 256MB, so the ~11MB hot partition must NOT trigger a split at test
    scale — which is why skew handling is an AQE conf story in SCALE.md,
    not a per-query rewrite.
    B-arm (thresholds lowered to 16KB): OptimizeSkewedJoin MUST fire —
    the final plan's join node reads SortMergeJoin(skew=true) and the hot
    side's AQEShuffleRead reports skewed splits."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # broadcast disabled so the join stays a shuffle join both arms
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    b_only = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    saved = {}
    for key in {**tuned, **b_only}:
        try:
            saved[key] = spark.conf.get(key)
        except Exception:
            saved[key] = None

    def executed_join_plan():
        fact = spark.range(0, 300_000).select(
            F.when(F.col("id") < 250_000, 0)
            .otherwise(F.col("id") % 64 + 1)
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        dim = spark.range(0, 65).select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("d"),
        )
        j = fact.join(dim, "k")
        j.collect()  # AQE decides at runtime: read the FINAL plan
        return formatted_plan(j)

    try:
        for key, val in tuned.items():
            spark.conf.set(key, val)
        # A-arm: default skew thresholds -> no split at this scale.
        plan_a = executed_join_plan()
        assert "isFinalPlan=true" in plan_a
        assert "skew=true" not in plan_a, plan_a[:2000]
        for key, val in b_only.items():
            spark.conf.set(key, val)
        # B-arm: OptimizeSkewedJoin splits the hot partition.
        plan_b = executed_join_plan()
        assert "isFinalPlan=true" in plan_b
        assert "SortMergeJoin(skew=true)" in plan_b, plan_b[:2000]
        assert "skewed" in plan_b, plan_b[:2000]
    finally:
        for key, val in saved.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def test_split_by_cluster_mapside_no_exchange(plan_of):
    """The content-keyed split is a pure map-side projection: fp + md5
    gate are codegen expressions over the scan, so the executed plan has
    ZERO exchanges and the parquet scan prunes to exactly the columns the
    query touches — at 100 TB the split assignment costs one pass and no
    shuffle (identical profile to split_train_valid_test). The audit twin
    is allowed its dedup_exact-class exchanges; the ASSIGNMENT is not."""
    plan = plan_of("split_by_cluster")
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_neardup_split_joins_unhinted_equi(spark, sf_dir):
    """The near-dup split's member->cluster and rep-fp lookups join
    relations that GROW with the duplicate subset of the corpus, so they
    must stay UNHINTED equi-joins (the FIXED-K rule: the planner picks
    broadcast-vs-shuffle from real stats) — same contract as the
    stream-static probe joins. No cartesian, no hard-coded hint."""
    from spark_streaming_kafka_example_spark.plans.textprep import (
        _neardup_split_frame,
    )

    df = _neardup_split_frame(spark, sf_dir)
    physical = formatted_plan(df)
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, (
        "hard-coded join hint on a corpus-proportional split relation"
    )


def test_ivf_appendix_probe_prunable_both_parts(spark, sf_dir):
    """The incremental index probe must stay partition-prunable on BOTH
    storage parts. Two deterministic properties pin the enabling shape:
    (1) each of base and appendix carries its OWN probe join — two
    BroadcastHashJoins in the executed plan, the union sits above them —
    because a Union between the join and a partitioned scan forecloses
    dynamic partition pruning entirely (observed when the plan had
    that shape); (2) each bucket-partitioned scan carries the STATIC
    bucket PartitionFilters the optimizer infers through the centroid
    equi-join (constraint propagation, deterministic). The dynamicpruning
    subquery itself IS observed on these scans but its insertion is a
    stats/ratio heuristic that varies with session history, so it is not
    asserted — the structure that permits it is. At 100 TB this is the
    difference between reading n_probe buckets of two directories and
    scanning both whole."""
    from spark_streaming_kafka_example_spark import plans as p

    df = p.QUERIES["stream_ivf_appendix_probe"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, (
        "expected one probe join per index part (union above the joins)"
    )
    for part in ("/base", "/appendix"):
        scans = [
            ln for ln in plan.splitlines()
            if "ivf_incr" in ln and part in ln and "FileScan" in ln
        ]
        assert scans, f"no FileScan over {part}"
        for ln in scans:
            pf = ln.split("PartitionFilters: [", 1)
            assert len(pf) == 2 and "bucket" in pf[1].split("]", 1)[0], (
                f"{part} scan lost its static bucket partition filters"
            )
