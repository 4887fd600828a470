"""Similarity search over embedding columns (SURVEY §7 Phase 3).

Two tiers:
- ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set against the corpus; one pass, no shuffle of the corpus, per-query
  heap via window rank. The correctness baseline at any scale where the
  query set is small.
- ``ivf_topk`` — IVF-style ANN: corpus vectors are assigned to their
  nearest centroid (bucket) once; a query probes only its ``n_probe``
  nearest buckets. Work drops from |corpus| to |corpus|*probe/centroids
  per query — the scale path. Centroids here are a deterministic subset of
  the corpus (id % stride == 0) so the DuckDB oracle can reproduce the
  exact assignment; on a real pipeline you'd k-means them (same plan
  shape, centroids become a broadcast table).

All cosines are double-accumulated and rounded to 4 decimals *before*
ranking so rank order is reproducible across engines. Scoring uses the
Arrow-batched numpy ``cosine_pandas`` (the zip_with/aggregate expression
twin in functions/vectors.py documents the same arithmetic for the SQL
oracle; the interpreted higher-order-function path costs ~2.5x in the hot
loop — measured on the dedup scorer).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.vectors import cosine_all_pandas, cosine_pandas

__all__ = [
    "brute_force_topk",
    "kmeans_centroids",
    "probe_buckets",
    "ivf_topk",
    "build_ivf_index",
    "ivf_topk_indexed",
]


def _centroid_literal_array(cent_rows, k: int):
    """Embed a FIXED-K centroid table as a plan-literal array of
    (cent_id, cv) structs. Guards the scale contract: the collect feeding
    this must be bounded by the centroid count k, never by the corpus.
    The batch tier and plans.stream share this one guarded builder.

    Built as ONE parsed SQL expression, not nested F.lit()/F.struct()
    calls: k x dim literals as individual Column objects cost a py4j
    round trip EACH (measured 1.6s for 32x64 — more than the whole query
    it was meant to speed up); one expr string is a single round trip
    and parses server-side in ms. repr(float) round-trips exactly and
    SQL double literals parse correctly-rounded, so the embedded values
    are bit-identical to the F.lit path. A non-finite component (NaN or
    +-inf) has no SQL double literal, so it raises naming the centroid
    instead of failing as an opaque parse error."""
    if len(cent_rows) > k:
        raise ValueError(
            f"centroid relation must be fixed-k (<= {k} rows), got"
            f" {len(cent_rows)} — a corpus-size-dependent centroid set"
            " cannot be embedded as plan literals"
        )
    for r in cent_rows:
        bad = [x for x in r["cv"] if not math.isfinite(float(x))]
        if bad:
            raise ValueError(
                f"centroid cent_id={int(r['cent_id'])} has non-finite"
                f" component(s) {bad[:3]} — a centroid must be finite to"
                " embed as a plan literal"
            )
    parts = [
        "named_struct('cent_id', {cid}, 'cv', array({cv}))".format(
            cid=int(r["cent_id"]),
            cv=", ".join(f"{float(x)!r}D" for x in r["cv"]),
        )
        for r in cent_rows
    ]
    return F.expr("array(" + ", ".join(parts) + ")")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: (q_id, n_id, cos, rnk).
    Self-matches (same id) are excluded."""
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("nv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", F.round(cosine_pandas("qv", "nv"), 4).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def _centroids_row(centroids: DataFrame, cents_col: str = "_cents") -> DataFrame:
    """The FIXED-K centroid table folded into ONE row holding an
    array<struct<cent_id, cv>>: cross-joining this single broadcast
    row gives every corpus row the whole centroid set as a column, so the
    nearest-centroid argmax becomes a WITHIN-ROW array_max — zero
    exchanges — instead of a k-way row explosion followed by a corpus-wide
    groupBy shuffle that carried the full vector per scored row. The fold
    is order-insensitive (argmax over a set), so collect_list's partition
    nondeterminism cannot change results. Stays lazy: no collect, the
    1-row aggregate materializes with the consuming action."""
    return centroids.agg(
        F.collect_list(
            F.struct(F.col("cent_id"), F.col("cv"))
        ).alias(cents_col)
    )


def _scored_cents(vec, cents="_cents"):
    """array<struct<ccos, neg_cent, cv>>: every centroid scored against
    this row's vector. ``cents`` is a column (name or expression) holding
    array<struct<cent_id, cv>>. Cosines come batched from
    ``cosine_all_pandas`` (one Arrow pass, bit-identical per pair to the
    proven pairwise kernel); round(4) and the struct layout stay
    JVM-side so the comparison semantics match the pairwise kernel's."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    cents = F.col(cents) if isinstance(cents, str) else cents
    # Only the vector and the FLATTENED numeric codebook cross the Python
    # boundary (see cosine_all_pandas); the struct array stays JVM-side
    # for the zip. flatten order == array order, so zip_with pairs
    # centroid i with cosine i.
    flat = F.flatten(F.transform(cents, lambda s: s["cv"]))
    return F.zip_with(
        cents,
        cosine_all_pandas(vec, flat),
        lambda s, c: F.struct(
            F.round(c, 4).alias("ccos"),
            (-s["cent_id"]).alias("neg_cent"),
            s["cv"].alias("cv"),
        ),
    )


def _nearest_centroid_struct(vec, cents_col: str = "_cents"):
    """Within-row nearest-centroid selection: array_max over
    struct(ccos, -cent_id, cv) reproduces exactly the old
    max_by(cent_id, struct(ccos, -cent_id)) aggregation semantics —
    max cosine first (struct ordering treats NaN as greatest, like
    max_by), then the LOWEST cent_id on ties; the winning struct's cv
    IS the codebook decode. Cosine values are bit-identical to the old
    pairwise-kernel path (see cosine_all_pandas), so round(4) matches
    the oracle unchanged.

    Returns the winning struct; read .neg_cent (negated bucket) / .cv."""
    return F.array_max(_scored_cents(vec, cents_col))


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic spherical k-means (Lloyd's) for IVF centroid training:
    fixed init (the k lowest-id vectors), fixed iteration count, cosine
    assignment with round(4) + centroid-id tie-break, per-dimension means
    rounded to 6 decimals. Every step is reproducible across engines, so a
    SQL oracle can replay training exactly (the id-stride subset this
    replaces could not be replayed).

    Output: (cent_id, cv) with cv array<double>. Scale: each iteration is
    one broadcast-centroid pass over the corpus + one (bucket, dim) agg —
    no all-pairs anything; k and iterations are small constants.
    """
    cent = emb.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv")
    )
    for _ in range(iterations):
        # Within-row argmax against the 1-row folded centroid set: a
        # zero-exchange projection, where a crossJoin(k rows) + pandas
        # cosine + corpus-wide max_by would shuffle the full vector per
        # scored row; values bit-identical (see _nearest_centroid_struct).
        best = _nearest_centroid_struct(vec_col)
        assigned = (
            emb.select(F.col(id_col), F.col(vec_col))
            .crossJoin(F.broadcast(_centroids_row(cent)))
            .select((-best["neg_cent"]).alias("bucket"), F.col(vec_col))
        )
        per_dim = (
            assigned.select("bucket", F.posexplode(vec_col).alias("ord", "val"))
            .groupBy("bucket", "ord")
            .agg(F.round(F.avg("val"), 6).alias("val"))
        )
        cent = per_dim.groupBy("bucket").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ord", "val"))),
                lambda s: s["val"],
            ).alias("cv")
        ).select(F.col("bucket").alias("cent_id"), "cv")
    # Cut the k-row result's lineage LAZILY: consumers reference the
    # centroid table from several operators (IVF assigns with it AND
    # probes with it), and without the cut each broadcast would re-run
    # the whole Lloyd chain; eager=False keeps plan construction /
    # explain() free of Spark jobs while the first action
    # still materializes once and reuses. At cluster scale this is
    # "write the centroid table" — k rows.
    return cent.localCheckpoint(eager=False)


def assign_buckets(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cv: bool = False,
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (broadcast the
    1-row folded centroid set; one MAP-SIDE pass over the corpus — the
    argmax is a within-row array_max, so the assignment has ZERO
    exchanges, where a k-way crossJoin + corpus-wide max_by would shuffle
    the full vector per scored row).

    ``keep_cv``: additionally emit the winning centroid's vector
    as ``cv`` — the argmax struct already holds it, so callers that need
    it (residual coding) skip a bucket⋈centroid re-join."""
    c = centroids.select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv"))
    best = _nearest_centroid_struct(vec_col)
    cols = [F.col(id_col), F.col(vec_col), (-best["neg_cent"]).alias("bucket")]
    if keep_cv:
        cols.append(best["cv"].alias("cv"))
    return (
        corpus.select(F.col(id_col), F.col(vec_col))
        .crossJoin(F.broadcast(_centroids_row(c)))
        .select(*cols)
    )


def probe_buckets(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(q_id, qv, bucket): each query's ``n_probe`` nearest centroid buckets —
    the probe half of every IVF variant (ivf_topk, ivf_topk_indexed and the
    IVF-PQ composition's coarse probe). Centroids broadcast (FIXED-K); rank
    ties break on cent_id so the probed set is reproducible across engines."""
    c = centroids.select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv"))
    # The (q_id, cent_id, ccos) rows come from exploding the within-row
    # scored-centroid array (batched kernel, values bit-identical to the
    # pairwise cosine) — one broadcast row instead of a k-way crossJoin;
    # the window rank fixes the probed set, ties included.
    qprobe = (
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"))
        .crossJoin(F.broadcast(_centroids_row(c)))
        .select("q_id", "qv", F.explode(_scored_cents("qv")).alias("_sc"))
        .select(
            "q_id",
            "qv",
            (-F.col("_sc.neg_cent")).alias("cent_id"),
            F.col("_sc.ccos").alias("ccos"),
        )
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("ccos"), F.asc("cent_id"))
    return (
        qprobe.withColumn("prnk", F.row_number().over(wq))
        .filter(F.col("prnk") <= n_probe)
        .select("q_id", "qv", F.col("cent_id").alias("bucket"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: probe the query's n_probe nearest buckets only.
    Output (q_id, n_id, cos, rnk) — approximate: recall < 1 when a true
    neighbor lives in an unprobed bucket."""
    assigned = assign_buckets(corpus, centroids, id_col, vec_col)
    probed = probe_buckets(queries, centroids, n_probe, id_col, vec_col)
    scored = (
        F.broadcast(probed)
        .join(assigned, "bucket")
        .filter(F.col("q_id") != F.col(id_col))
        .select(
            "q_id",
            F.col(id_col).alias("n_id"),
            F.round(cosine_pandas("qv", vec_col), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def build_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: bucket assignments written as parquet
    PARTITIONED BY bucket. The one-time pass SCALE.md promises — at 100 TB
    the assignment job runs once and every query afterwards touches only
    its probed buckets' files (partition-pruned scan), not the corpus."""
    assigned = assign_buckets(corpus, centroids, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("bucket").parquet(path)


def ivf_topk_over_index(
    index: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe already-materialized index RELATIONS (id, bucket, vector):
    per query find the n_probe nearest centroids, then touch only the
    probed buckets' rows. ``index`` may be one relation or a list (the
    incremental base ∪ appendix case): each part gets its OWN broadcast
    bucket join and the SCORED rows union — joining below the union is
    what lets dynamic partition pruning reach each part's
    bucket-partitioned scan (a join above a Union never prunes either
    side; ranking commutes with the union, so results are identical).
    The ONE probe body shared by ivf_topk_indexed (single index dir) and
    stream_ivf_appendix_probe; same output contract as ivf_topk."""
    probed = probe_buckets(queries, centroids, n_probe, id_col, vec_col)
    parts = list(index) if isinstance(index, (list, tuple)) else [index]
    scored = None
    for part in parts:
        s = (
            F.broadcast(probed)
            .join(part.select(id_col, "bucket", vec_col), "bucket")
            .filter(F.col("q_id") != F.col(id_col))
            .select(
                "q_id",
                F.col(id_col).alias("n_id"),
                F.round(cosine_pandas("qv", vec_col), 4).alias("cos"),
            )
        )
        scored = s if scored is None else scored.unionByName(s)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query the materialized index: per query find the n_probe nearest
    centroids, then scan ONLY those bucket partitions (`bucket IN (...)`
    prunes at plan time). Same output contract as ivf_topk."""
    return ivf_topk_over_index(
        spark.read.parquet(index_path), queries, centroids, k, n_probe,
        id_col, vec_col,
    )
