"""LLM-data-pipeline queries (SURVEY §7 Phase 3): dedup x5, similarity
search, text analysis, multimodal plumbing — over documents/embeddings.

The testdata corpus has no natural duplicates, so dedup queries derive a
corpus with *planted* duplicates (exact copies / truncated near-copies) via
identical arithmetic on both engines — the plants make the operators'
positive paths observable, the original rows the negative paths.

Hashes are md5 (hex-string domain) so DuckDB reproduces Spark
signatures exactly; see operators/dedup.py for the xxhash64 scale note.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import text as TXT
from ..operators import dedup as DD
from ..operators.multimodal import attach_blob, decode_features
from ..operators.similarity import brute_force_topk, ivf_topk
from ..sources import load_table
from . import register

# ---------------------------------------------------------------------------
# Corpus builders (Spark) and their SQL twins.
# ---------------------------------------------------------------------------


def _exact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + exact copies of every 7th doc (ids shifted +200000)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plants = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return docs.unionByName(plants)


EXACT_CORPUS_CTE = """
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, text
    FROM documents WHERE doc_id % 7 = 0
)"""


def near_plants(docs: DataFrame) -> DataFrame:
    """Tail-truncated copies of every 5th doc (+100000) over any
    (doc_id, text) relation — the ONE definition of the near-dup plant
    transformation (the batch _near_corpus and the streaming arrivals of
    stream_split_by_neardup share it)."""
    return docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, CAST(floor(4*length(text)/5.0) AS INT))").alias(
            "text"
        ),
    )


def _near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + tail-truncated copies of every 5th doc (+100000):
    high-but-not-unit Jaccard/minhash overlap."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.unionByName(near_plants(docs))


NEAR_CORPUS_CTE = """
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id,
           substring(text, 1, CAST(floor(4*length(text)/5.0) AS INT)) AS text
    FROM documents WHERE doc_id % 5 = 0
)"""

# Word-3-gram shingles of `corpus` (twin of functions.text.shingles(n=3)).
SHINGLES_CTE = """
wordlists AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM wordlists
)"""


# ---------------------------------------------------------------------------
# Dedup 1: exact (fingerprint groupBy).
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    f"""
    WITH {EXACT_CORPUS_CTE.strip()},
    fps AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                   AS fp
        FROM corpus
    )
    SELECT fp, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM fps GROUP BY fp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(_exact_corpus(spark, sf_dir))


@register(
    "dedup_exact_normalized",
    f"""
    WITH {EXACT_CORPUS_CTE.strip()},
    norm AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS ntext
        FROM corpus
    ),
    fps AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(ntext, ' '))), ' ')) AS fp
        FROM norm
    )
    SELECT fp, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM fps GROUP BY fp
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after text normalization (lowercase, strip
    non-alphanumerics, collapse whitespace) — the CC-Net-style first stage
    that collapses trivially-reformatted copies (case, punctuation, extra
    spaces) BEFORE the expensive near-dup machinery runs. Still one
    fingerprint hash-shuffle with map-side combine; the normalization is a
    pure map over the scan."""
    corpus = _exact_corpus(spark, sf_dir)
    ntext = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return DD.exact_dedup(corpus.select("doc_id", ntext.alias("text")))


# ---------------------------------------------------------------------------
# Dedup 1c: INCREMENTAL exact dedup — the production ingestion shape: a new
# batch is checked against the fingerprint STORE of everything already
# ingested, not against itself. Store = even doc_ids; new batch = odd
# doc_ids plus planted copies of every 6th even doc (the positive path:
# re-crawled content arriving under a new id). At 100 TB the store is a
# persisted fingerprint table and this is one fp-keyed equi-join of the
# (small) new batch against it — prefilter with a bloom/exists sketch to
# skip the bulk of store partitions; the batch side never self-joins.
# ---------------------------------------------------------------------------

_FP_SQL = (
    "md5(array_to_string(list_sort(list_distinct(string_split({t}, ' '))), ' '))"
)


@register(
    "dedup_incremental_exact",
    f"""
    WITH store AS (
        SELECT {_FP_SQL.format(t='text')} AS fp
        FROM documents WHERE doc_id % 2 = 0
    ),
    newbatch AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 300000 AS doc_id, text
        FROM documents WHERE doc_id % 6 = 0
    ),
    nf AS (SELECT doc_id, {_FP_SQL.format(t='text')} AS fp FROM newbatch)
    SELECT nf.doc_id,
           CASE WHEN s.fp IS NULL THEN 'novel' ELSE 'duplicate' END AS status
    FROM nf LEFT JOIN (SELECT DISTINCT fp FROM store) s ON nf.fp = s.fp
    """,
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch docs tagged novel/duplicate against the ingested-content
    fingerprint store. The planted +300000 copies (and any odd doc whose
    content collides with an even one) come back 'duplicate'."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(TXT.fingerprint("text").alias("fp"))
        .distinct()
    )
    plants = docs.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )
    newbatch = docs.filter(F.col("doc_id") % 2 == 1).unionByName(plants)
    nf = newbatch.select("doc_id", TXT.fingerprint("text").alias("fp"))
    return nf.join(
        store.withColumnRenamed("fp", "s_fp"),
        nf.fp == F.col("s_fp"),
        "left_outer",
    ).select(
        "doc_id",
        F.when(F.col("s_fp").isNull(), "novel").otherwise("duplicate").alias(
            "status"
        ),
    )


# ---------------------------------------------------------------------------
# Dedup 2: MinHash + LSH banding candidate pairs.
# ---------------------------------------------------------------------------

# 5 bands x 3 rows: at jaccard ~0.75 (the planted truncations) recall is
# 1-(1-j^3)^5 ~ 0.95, vs 0.80 for 4x4 — and one fewer hash. The authority
# is operators/dedup.py (also the helpers' defaults).
_NUM_HASHES, _BANDS = DD.NUM_HASHES, DD.BANDS
# 32-bit base hash from the first 8 md5 hex digits (nibble arithmetic —
# DuckDB has no conv()); must equal Spark's conv(substring(md5,1,8),16,10).
_BASE_H = " + ".join(
    f"(strpos('0123456789abcdef', substring(md5(shingle), {c + 1}, 1)) - 1)"
    f" * {16 ** (7 - c)}"
    for c in range(8)
)
_SIG_MINS = ",\n           ".join(
    f"min(({DD._minhash_a(j)} * h + {DD._minhash_b(j)}) % {DD.MINHASH_PRIME})"
    f" AS sig_{j}"
    for j in range(_NUM_HASHES)
)
_ROWS_PER_BAND = _NUM_HASHES // _BANDS
_BAND_SELECTS = "\n    UNION ALL ".join(
    "SELECT doc_id, {b} AS band_id, md5({cat}) AS band_val FROM sig".format(
        b=b,
        cat=" || '|' || ".join(
            f"sig_{_ROWS_PER_BAND * b + r}" for r in range(_ROWS_PER_BAND)
        ),
    )
    for b in range(_BANDS)
)


# MinHash sig -> LSH band -> candidate-pair pipeline over the (distinct)
# `sh` shingle relation; shared by the minhash, jaccard, and cluster oracles
# (the min-agg is duplicate-insensitive, so distinct vs not cannot change it).
_LSH_CAND_CTE = f"""
hashed AS (SELECT doc_id, {_BASE_H} AS h FROM sh),
sig AS (
    SELECT doc_id,
       {_SIG_MINS}
    FROM hashed GROUP BY doc_id
),
bands AS (
{_BAND_SELECTS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
)"""


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {NEAR_CORPUS_CTE.strip()},
    {SHINGLES_CTE.strip()},
    {_LSH_CAND_CTE.strip()}
    SELECT id_a, id_b FROM cand
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distinct=False: min-agg absorbs duplicate shingles, saving a shuffle.
    sh = DD.doc_shingles(_near_corpus(spark, sf_dir), distinct=False)
    sig = DD.minhash_signatures(sh, num_hashes=_NUM_HASHES)
    return DD.lsh_candidate_pairs(sig, num_hashes=_NUM_HASHES, bands=_BANDS)


# Production hot-bucket guard, driver-proven: buckets holding > _MAX_BUCKET
# docs are dropped BEFORE the pair
# self-join — the cap that bounds LSH's quadratic term on boilerplate-heavy
# corpora. The cap is deterministic, so the oracle replays it exactly
# (HAVING count(*) <= K on the same (band_id, band_val) key) and the check
# stays an exact hash match, not recall-style. At sf0.01 the cap of 2 drops
# 25 real buckets (sizes 3-4) and keeps 271 pair-producing ones, so the
# guard path is genuinely exercised, not vacuously green.
_MAX_BUCKET = 2


@register(
    "dedup_minhash_lsh_capped",
    f"""
    WITH {NEAR_CORPUS_CTE.strip()},
    {SHINGLES_CTE.strip()},
    hashed AS (SELECT doc_id, {_BASE_H} AS h FROM sh),
    sig AS (
        SELECT doc_id,
           {_SIG_MINS}
        FROM hashed GROUP BY doc_id
    ),
    bands AS (
    {_BAND_SELECTS}
    ),
    small AS (
        SELECT band_id, band_val FROM bands
        GROUP BY band_id, band_val HAVING count(*) <= {_MAX_BUCKET}
    ),
    kept AS (
        SELECT b.doc_id, b.band_id, b.band_val
        FROM bands b JOIN small s
          ON b.band_id = s.band_id AND b.band_val = s.band_val
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM kept a JOIN kept b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_lsh with ``max_bucket_size`` set — the configuration a
    100 TB corpus requires (see lsh_candidate_pairs docstring)."""
    sh = DD.doc_shingles(_near_corpus(spark, sf_dir), distinct=False)
    sig = DD.minhash_signatures(sh, num_hashes=_NUM_HASHES)
    return DD.lsh_candidate_pairs(
        sig,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        max_bucket_size=_MAX_BUCKET,
    )


# ---------------------------------------------------------------------------
# Dedup 2b: signature-based jaccard ESTIMATE over the LSH candidates — the
# cheapest at-scale verify: E[fraction of agreeing minhash components] =
# jaccard (Broder), so candidates are scored from the signature table alone,
# never re-touching the shingle relation. Two key-lookup joins over
# |candidates| rows; at 100 TB this is the "score from the signature store"
# step that runs between LSH banding and (optional) exact verification.
# ---------------------------------------------------------------------------

_SIG_AGREE = " + ".join(
    f"CASE WHEN a.sig_{j} = b.sig_{j} THEN 1 ELSE 0 END"
    for j in range(_NUM_HASHES)
)


@register(
    "dedup_minhash_estimate",
    f"""
    WITH {NEAR_CORPUS_CTE.strip()},
    {SHINGLES_CTE.strip()},
    {_LSH_CAND_CTE.strip()}
    SELECT c.id_a, c.id_b,
           round(({_SIG_AGREE}) / {_NUM_HASHES}.0, 4) AS est_jaccard
    FROM cand c
    JOIN sig a ON a.doc_id = c.id_a
    JOIN sig b ON b.doc_id = c.id_b
    WHERE round(({_SIG_AGREE}) / {_NUM_HASHES}.0, 4) >= 0.4
    """,
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates scored by the minhash jaccard estimator (>= 0.4).

    The signature relation is materialized once and feeds banding AND both
    lookup sides of the scoring join, so the whole query reads shingles
    exactly once end-to-end."""
    sh = DD.doc_shingles(_near_corpus(spark, sf_dir), distinct=False)
    sig = DD.minhash_signatures(sh, num_hashes=_NUM_HASHES).localCheckpoint()
    cand = DD.lsh_candidate_pairs(sig, num_hashes=_NUM_HASHES, bands=_BANDS)
    agree = sum(
        F.when(F.col(f"a.sig_{j}") == F.col(f"b.sig_{j}"), 1).otherwise(0)
        for j in range(_NUM_HASHES)
    )
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        cand.join(a, F.col("a.doc_id") == F.col("id_a"))
        .join(b, F.col("b.doc_id") == F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(agree / float(_NUM_HASHES), 4).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= 0.4)
    )


# ---------------------------------------------------------------------------
# Dedup 3: exact n-gram Jaccard (>= 0.4), candidate-bounded by MinHash-LSH.
# The LSH prefilter is what makes this scale: the intersection is computed
# candidate-driven (two key-lookup joins), never via a shingle self-join
# whose hot boilerplate shingles would explode quadratically at 100 TB.
# Recall at the planted jaccard ~0.75 is
# ~0.95 per the 5x3 banding math at _NUM_HASHES; the oracle replays the
# identical candidate generation, so the check stays exact.
# ---------------------------------------------------------------------------

# Candidate-bounded jaccard scoring over `sh` + `cand`; shared by
# dedup_ngram_jaccard and the dedup_clusters pair graph.
_JACCARD_SCORED_CTE = """
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.id_a, c.id_b, count(*) AS inter
    FROM cand c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
    GROUP BY 1, 2
),
scored AS (
    SELECT id_a, id_b,
           round(inter / (na.n + nb.n - inter), 4) AS jaccard
    FROM inter
    JOIN sizes na ON inter.id_a = na.doc_id
    JOIN sizes nb ON inter.id_b = nb.doc_id
    WHERE round(inter / (na.n + nb.n - inter), 4) >= 0.4
)"""


@register(
    "dedup_containment",
    f"""
    WITH {NEAR_CORPUS_CTE.strip()},
    {SHINGLES_CTE.strip()},
    {_LSH_CAND_CTE.strip()},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter / na.n, 4) AS cont_a_in_b,
           round(inter / nb.n, 4) AS cont_b_in_a
    FROM inter
    JOIN sizes na ON inter.id_a = na.doc_id
    JOIN sizes nb ON inter.id_b = nb.doc_id
    WHERE round(inter / na.n, 4) >= 0.9 OR round(inter / nb.n, 4) >= 0.9
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-superset dedup: shingle containment over the LSH
    candidates. The planted tail-truncations are near-perfect containments
    of the copy in its original (cont_b_in_a ~ 1.0 for id_b = id_a+100000)
    even where their symmetric jaccard drops with the truncated fraction —
    the case this operator exists for."""
    sh = DD.doc_shingles(_near_corpus(spark, sf_dir)).localCheckpoint()
    sig = DD.minhash_signatures(sh, num_hashes=_NUM_HASHES)
    cand = DD.lsh_candidate_pairs(sig, num_hashes=_NUM_HASHES, bands=_BANDS)
    return DD.containment_pairs(sh, cand, threshold=0.9)


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {NEAR_CORPUS_CTE.strip()},
    {SHINGLES_CTE.strip()},
    {_LSH_CAND_CTE.strip()},
    {_JACCARD_SCORED_CTE.strip()}
    SELECT id_a, id_b, jaccard FROM scored
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One materialization of the distinct shingle relation feeds the minhash
    # signature derivation AND the candidate-driven jaccard scoring.
    sh = DD.doc_shingles(_near_corpus(spark, sf_dir)).localCheckpoint()
    sig = DD.minhash_signatures(sh, num_hashes=_NUM_HASHES)
    cand = DD.lsh_candidate_pairs(sig, num_hashes=_NUM_HASHES, bands=_BANDS)
    return DD.jaccard_pairs(sh, threshold=0.4, candidates=cand, checkpoint=False)


# ---------------------------------------------------------------------------
# Dedup 4: SimHash fingerprints + hamming<=3 near pairs (blocked Spark-side,
# brute-forced in the oracle — same result set).
# ---------------------------------------------------------------------------

_SIMHASH_CTE = f"""
toks AS (
    SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
    FROM corpus
),
hx AS (SELECT doc_id, md5(tok) AS h FROM toks),
bits AS (
    SELECT doc_id, i.i AS bit_i,
           2 * (CAST(floor((strpos('0123456789abcdef',
                                   substring(h, (i.i // 4) + 1, 1)) - 1)
                           / power(2, 3 - (i.i % 4))) AS INT) % 2) - 1 AS contrib
    FROM hx, range({DD.SIMHASH_BITS}) i(i)
),
sums AS (SELECT doc_id, bit_i, sum(contrib) AS s FROM bits GROUP BY 1, 2),
fp AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, bit_i) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM sums GROUP BY doc_id
)"""


@register(
    "dedup_simhash_fingerprints",
    f"""
    WITH {EXACT_CORPUS_CTE.strip()},
    {_SIMHASH_CTE.strip()}
    SELECT doc_id, simhash FROM fp
    """,
)
def dedup_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash_fingerprints(_exact_corpus(spark, sf_dir))


@register(
    "dedup_simhash_pairs",
    f"""
    WITH {EXACT_CORPUS_CTE.strip()},
    {_SIMHASH_CTE.strip()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = DD.simhash_fingerprints(_exact_corpus(spark, sf_dir))
    return DD.simhash_near_pairs(fps, max_hamming=3)


# ---------------------------------------------------------------------------
# Dedup 4b: winnowing (rolling-hash) fingerprints — operators/winnowing.py.
# k=8, w=4: any shared substring of length >= 11 chars yields >= 1 common
# fingerprint (the SIGMOD'03 winnowing guarantee), so overlap pairs catch
# copied PASSAGES, complementing whole-document MinHash similarity. k=8
# (not the classic 5) because the synthetic corpus draws from a tiny
# vocabulary — shorter grams collide so heavily that every doc pair shares
# fingerprints.
# ---------------------------------------------------------------------------

_WINNOW_K, _WINNOW_W = 8, 4

# 32-bit k-gram hash: first 8 md5 hex digits as uint32 (DuckDB has no
# conv(); nibble arithmetic mirrors Spark's conv(substring(md5,1,8),16,10)).
_GRAM_H = " + ".join(
    f"(strpos('0123456789abcdef', substring(md5(gram), {c + 1}, 1)) - 1)"
    f" * {16 ** (7 - c)}"
    for c in range(8)
)

# Winnowing CTE over a relation named `corpus(doc_id, text)`.
_WINNOW_CTE = f"""
grams AS (
    SELECT doc_id, i - 1 AS pos, substring(text, i, {_WINNOW_K}) AS gram
    FROM (SELECT doc_id, text,
                 unnest(generate_series(
                     1, greatest(length(text) - {_WINNOW_K - 1}, 0))) AS i
          FROM corpus)
),
hashed AS (SELECT doc_id, pos, {_GRAM_H} AS h FROM grams),
winmins AS (
    SELECT doc_id, pos,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                        AND {_WINNOW_W - 1} FOLLOWING) AS fp,
           max(pos) OVER (PARTITION BY doc_id) AS max_pos
    FROM hashed
),
fps AS (
    SELECT DISTINCT doc_id, fp FROM winmins
    WHERE pos + {_WINNOW_W - 1} <= max_pos
)"""


@register(
    "text_winnowing_fingerprint",
    f"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    {_WINNOW_CTE.strip()}
    SELECT doc_id, count(*) AS n_fps, min(fp) AS min_fp, max(fp) AS max_fp,
           CAST(sum(fp) AS BIGINT) AS sum_fp
    FROM fps GROUP BY doc_id
    """,
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint profile (set size + extrema +
    checksum) — the whole fingerprint set is checked via sum/min/max
    without hashing an unordered array column."""
    from ..operators.winnowing import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fps = winnow_fingerprints(docs, k=_WINNOW_K, w=_WINNOW_W)
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
        F.sum("fp").alias("sum_fp"),
    )


@register(
    "dedup_winnow_overlap",
    f"""
    WITH {NEAR_CORPUS_CTE.strip()},
    {_WINNOW_CTE.strip()},
    sizes AS (SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, shared,
           round(shared / least(na.n_fp, nb.n_fp), 4) AS ov_coef
    FROM shared
    JOIN sizes na ON shared.id_a = na.doc_id
    JOIN sizes nb ON shared.id_b = nb.doc_id
    WHERE round(shared / least(na.n_fp, nb.n_fp), 4) >= 0.5
    """,
)
def dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copied-passage pairs: fingerprint overlap coefficient >= 0.5 (the
    truncated-tail plants score 1.0 — their fingerprint set is contained
    in the original's). Equi-join on fp — bucket-bounded, never
    all-pairs."""
    from ..operators.winnowing import winnow_fingerprints, winnow_overlap_pairs

    fps = winnow_fingerprints(
        _near_corpus(spark, sf_dir), k=_WINNOW_K, w=_WINNOW_W
    )
    return winnow_overlap_pairs(fps, min_overlap=0.5)


# ---------------------------------------------------------------------------
# Dedup 5: embedding-cosine near-dup (planted duplicate vectors).
# ---------------------------------------------------------------------------

_EMB_CORPUS_CTE = """
ecorpus AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    UNION ALL
    SELECT vec_id + 100000, CAST(embedding AS DOUBLE[])
    FROM embeddings WHERE vec_id % 10 = 0
)"""

_DOT = "list_sum(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]))"
_NORM = "sqrt(list_sum(list_transform({a}, x -> x * x)))"


def _emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    plants = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return emb.unionByName(plants)


@register(
    "dedup_embedding_cosine",
    f"""
    WITH {_EMB_CORPUS_CTE.strip()}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_DOT.format(a='a.v', b='b.v')}
                 / ({_NORM.format(a='a.v')} * {_NORM.format(a='b.v')}), 4) AS cos
    FROM ecorpus a JOIN ecorpus b ON a.vec_id < b.vec_id
    WHERE round({_DOT.format(a='a.v', b='b.v')}
                / ({_NORM.format(a='a.v')} * {_NORM.format(a='b.v')}), 4) >= 0.99
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.embedding_near_pairs(_emb_corpus(spark, sf_dir), threshold=0.99)


# ---------------------------------------------------------------------------
# Similarity search: exact brute-force top-k and IVF ANN.
# ---------------------------------------------------------------------------

_EMB_D = "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
_COS_QC = (
    f"round({_DOT.format(a='q.v', b='c.v')} "
    f"/ ({_NORM.format(a='q.v')} * {_NORM.format(a='c.v')}), 4)"
)


@register(
    "sim_topk_bruteforce",
    f"""
    WITH {_EMB_D},
    scored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id, {_COS_QC} AS cos
        FROM e q, e c
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    )
    SELECT q_id, n_id, cos + 0 AS cos, rnk FROM (  -- +0: kill IEEE -0.0
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, n_id) AS rnk
        FROM scored)
    WHERE rnk <= 10
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, k=10)


# Shared by sim_ivf_topk (inline assignment) and sim_ivf_indexed_topk (the
# materialized bucket-partitioned index): the index is a cached copy of the
# SAME assignment relation, so one oracle describes both results.
#
# The stride centroid set is CAPPED at a fixed k (_STRIDE_K_CAP): bare `vec_id
# % 50` grows linearly with the corpus, so broadcasting it — and every driver
# fetch derived from it — would scale with N. `% 50 AND < 50*cap` keeps the
# oracle-replayable determinism of the stride pick while bounding the centroid
# relation at ≤ cap rows at ANY corpus size (identical sets at sf≤0.01, where
# N/50 < cap already).
_STRIDE_K_CAP = 32

_IVF_STRIDE_SQL = f"""
    WITH {_EMB_D},
    cent AS (SELECT vec_id AS cent_id, v AS cv FROM e
             WHERE vec_id % 50 = 0 AND vec_id < {50 * _STRIDE_K_CAP}),
    assigned AS (
        SELECT vec_id, v, bucket FROM (
            SELECT e.vec_id, e.v, cent.cent_id AS bucket,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({_DOT.format(a='e.v', b='cent.cv')}
                             / ({_NORM.format(a='e.v')} * {_NORM.format(a='cent.cv')}), 4)
                             DESC, cent.cent_id) AS crnk
            FROM e, cent)
        WHERE crnk = 1
    ),
    probed AS (
        SELECT q_id, qv, bucket FROM (
            SELECT e.vec_id AS q_id, e.v AS qv, cent.cent_id AS bucket,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({_DOT.format(a='e.v', b='cent.cv')}
                             / ({_NORM.format(a='e.v')} * {_NORM.format(a='cent.cv')}), 4)
                             DESC, cent.cent_id) AS prnk
            FROM e, cent WHERE e.vec_id < 5)
        WHERE prnk <= 2
    ),
    scored AS (
        SELECT p.q_id, a.vec_id AS n_id,
               round({_DOT.format(a='p.qv', b='a.v')}
                     / ({_NORM.format(a='p.qv')} * {_NORM.format(a='a.v')}), 4) AS cos
        FROM probed p JOIN assigned a ON p.bucket = a.bucket
        WHERE a.vec_id <> p.q_id
    )
    SELECT q_id, n_id, cos + 0 AS cos, rnk FROM (  -- +0: kill IEEE -0.0
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, n_id) AS rnk
        FROM scored)
    WHERE rnk <= 5
    """


def stride_centroids(emb: DataFrame) -> DataFrame:
    """The deterministic oracle-replayable centroid subset, bounded at
    _STRIDE_K_CAP rows regardless of corpus size (broadcast-safe at 100 TB;
    the production path trains fixed-k centroids with kmeans_centroids)."""
    return emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 50 * _STRIDE_K_CAP)
    )


# Measured out: embedding the stride centroid set as plan literals (collect +
# one parsed expr) does erase the folded-row 1-row agg + broadcast stage, but
# at _STRIDE_K_CAP=32 x 64 dims the 2048-literal catalyst tree costs more in
# analysis/codegen than the stage it removes — interleaved min-of-4 at sf0.1:
# folded-row 1.46s, expr-literal 2.83s, collected-local-row 2.14s. So the
# folded-row form stays; the literal idiom remains right where a FIXED-K set
# must live inside a STREAMING projection (the k=8 at-ingest probes).


@register("sim_ivf_topk", _IVF_STRIDE_SQL)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(emb, queries, stride_centroids(emb), k=5, n_probe=2)


# Paths whose IVF index was already materialized by THIS process (keyed by
# the per-app-unique SparkFiles path, so a new session / app never sees a
# stale entry). CREATE INDEX IF NOT EXISTS semantics: the first
# construction in a session pays the build, every later construction —
# including plan enumerations and the probe-only twin below — reuses the
# files (the registry's one side-effectful entry must not re-run its
# write per construction).
_IVF_INDEX_BUILT: set[str] = set()


def _ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the stride-centroid IVF index for ``sf_dir`` once per
    session; return its path (inside the app's own Spark temp dir: per-app
    unique, auto-deleted at shutdown — no stale /tmp accumulation)."""
    import hashlib
    import os

    from pyspark import SparkFiles

    from ..operators.similarity import build_ivf_index

    # Key on the FULL resolved sf_dir, not just its basename: two
    # directories named alike (e.g. /a/sf0.1 and /b/sf0.1) must never
    # share (and silently reuse) one index in a session.
    resolved = os.path.abspath(os.path.normpath(sf_dir))
    path = os.path.join(
        SparkFiles.getRootDirectory(),
        "spark_graft_ivf_index",
        os.path.basename(resolved)
        + "-"
        + hashlib.md5(resolved.encode()).hexdigest()[:10],
    )
    if path not in _IVF_INDEX_BUILT:
        emb = load_table(spark, sf_dir, "embeddings")
        build_ivf_index(emb, stride_centroids(emb), path)
        _IVF_INDEX_BUILT.add(path)
    return path


@register("sim_ivf_indexed_topk", _IVF_STRIDE_SQL)
def sim_ivf_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-index twin of sim_ivf_topk: the bucket assignment is
    written ONCE as bucket-partitioned parquet (build_ivf_index), then the
    probe reads back only the probed buckets — at 100 TB "query the index,
    not the corpus" (SCALE.md): the assignment job amortizes across every
    later query, and the probe's scan is partition-pruned to n_probe
    buckets. Results are identical to the inline path by construction, so
    the same oracle covers both.

    EAGER BY NATURE: the FIRST construction in a session RUNS the index
    build (a write action) — parquet can't be planned against files that
    don't exist yet, exactly as CREATE INDEX runs before the SELECT that
    uses it; later constructions reuse the materialized files
    (_ensure_ivf_index memoizes per path). In a fresh session
    this query therefore measures build+probe end-to-end; the amortized
    per-query cost is the separately-benched sim_ivf_probe_only."""
    path = _ensure_ivf_index(spark, sf_dir)

    from ..operators.similarity import ivf_topk_indexed

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk_indexed(
        spark, path, queries, stride_centroids(emb), k=5, n_probe=2
    )


@register("sim_ivf_probe_only", _IVF_STRIDE_SQL)
def sim_ivf_probe_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The amortized serving cost of the materialized IVF index: probe a
    PRE-BUILT index (built at most once per session by _ensure_ivf_index —
    in bench.py's HEADLINE order sim_ivf_indexed_topk has already paid the
    build, so this query times the partition-pruned probe alone).
    Identical results to sim_ivf_topk / indexed_topk, so
    all three share one oracle."""
    path = _ensure_ivf_index(spark, sf_dir)

    from ..operators.similarity import ivf_topk_indexed

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk_indexed(
        spark, path, queries, stride_centroids(emb), k=5, n_probe=2
    )


_KMEANS_K = 8


def _kmeans_iter_sql(i: int, prev: str) -> str:
    return f"""
    s{i} AS (SELECT e.vec_id, e.v, {prev}.cent_id,
                  round({_DOT.format(a='e.v', b=f'{prev}.cv')}
                        / ({_NORM.format(a='e.v')} * {_NORM.format(a=f'{prev}.cv')}), 4) AS ccos
           FROM e, {prev}),
    a{i} AS (SELECT vec_id, v, cent_id AS bucket FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cent_id) rn FROM s{i})
           WHERE rn = 1),
    d{i} AS (SELECT bucket, unnest(range(len(v))) AS ord, unnest(v) AS val FROM a{i}),
    m{i} AS (SELECT bucket, ord, round(avg(val), 6) AS val FROM d{i} GROUP BY 1, 2),
    c{i} AS (SELECT bucket AS cent_id, list(val ORDER BY ord) AS cv FROM m{i} GROUP BY 1)"""


# The coarse-IVF training + assignment + probe chain (c0 -> c2 k-means,
# per-vector bucket argmax, per-query top-2 probed buckets) — ONE text
# shared by _IVF_KMEANS_SQL, _IVF_RECALL_SQL and _IVFPQ_SQL, so the three
# oracles can never drift.
_IVF_COARSE_CTES = f"""c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < {_KMEANS_K}),
    {_kmeans_iter_sql(1, 'c0')},
    {_kmeans_iter_sql(2, 'c1')},
    assigned AS (
        SELECT vec_id, v, bucket FROM (
            SELECT e.vec_id, e.v, c2.cent_id AS bucket,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({_DOT.format(a='e.v', b='c2.cv')}
                             / ({_NORM.format(a='e.v')} * {_NORM.format(a='c2.cv')}), 4)
                             DESC, c2.cent_id) AS crnk
            FROM e, c2)
        WHERE crnk = 1
    ),
    probed AS (
        SELECT q_id, qv, bucket FROM (
            SELECT e.vec_id AS q_id, e.v AS qv, c2.cent_id AS bucket,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({_DOT.format(a='e.v', b='c2.cv')}
                             / ({_NORM.format(a='e.v')} * {_NORM.format(a='c2.cv')}), 4)
                             DESC, c2.cent_id) AS prnk
            FROM e, c2 WHERE e.vec_id < 5)
        WHERE prnk <= 2
    )"""

# Shared by sim_ivf_kmeans_topk (batch) and stream_ann_probe (the serving
# twin in plans/stream.py): both run the k-means-trained IVF probe, so one
# oracle describes both results. The centroid relation is FIXED-K (k =
# _KMEANS_K) — never a corpus-size-dependent subset.
_IVF_KMEANS_SQL = f"""
    WITH {_EMB_D},
    {_IVF_COARSE_CTES},
    scored AS (
        SELECT p.q_id, a.vec_id AS n_id,
               round({_DOT.format(a='p.qv', b='a.v')}
                     / ({_NORM.format(a='p.qv')} * {_NORM.format(a='a.v')}), 4) AS cos
        FROM probed p JOIN assigned a ON p.bucket = a.bucket
        WHERE a.vec_id <> p.q_id
    )
    SELECT q_id, n_id, cos + 0 AS cos, rnk FROM (  -- +0: kill IEEE -0.0
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, n_id) AS rnk
        FROM scored)
    WHERE rnk <= 5
    """


# Measured out alongside the stride literal above: collecting the trained
# coarse centroids / PQ codebooks and embedding them as plan literals regressed
# the whole kmeans/PQ tier — alternating folded-row-vs-literal runs:
# sim_ivfpq_recall 5.29/5.50 -> 6.45/6.70, sim_pq_adc_recall 3.45/3.56 ->
# 4.96/5.37 (min-of-3 each, two runs). Mechanism: a k x d literal array is
# COPIED into the expression tree at every reference (_pq_nearest references
# the codebook set ~3x per subspace x 4 subspaces), so catalyst
# analysis/codegen pay ~thousands of literal nodes per plan, where the
# folded-row form duplicates only a column reference. So the folded-row forms
# stay, next to the genuine training overlap (engine.materialize thunks in
# _ivfpq_recall_frame / stream_ivfpq_probe_plan) and assign_buckets' keep_cv
# (join elimination with no literals, residual path).


@register("sim_ivf_kmeans_topk", _IVF_KMEANS_SQL)
def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cent = kmeans_centroids(emb, k=_KMEANS_K, iterations=2).select(
        F.col("cent_id").alias("vec_id"), F.col("cv").alias("embedding")
    )
    return ivf_topk(emb, queries, cent, k=5, n_probe=2)


_IVF_RECALL_K = 5

# Recall@k of the PRODUCTION IVF configuration (k-means-trained centroids,
# n_probe=2 — sim_ivf_kmeans_topk's setting) vs the exact brute-force
# top-k, per query: the approximation-quality contract as a driver-checked
# number instead of a docstring claim. Exact integer arithmetic (count of
# matching neighbor ids / k), so the oracle replays training, both probe
# chains, and the division exactly. Measured: mean recall 0.88 at sf0.001,
# 0.92 at sf0.01 (stride centroids manage only ~0.5 — random vectors make
# poor partitions, which is exactly why the kmeans path exists).
_IVF_RECALL_SQL = f"""
    WITH {_EMB_D},
    {_IVF_COARSE_CTES},
    iscored AS (
        SELECT p.q_id, a.vec_id AS n_id,
               round({_DOT.format(a='p.qv', b='a.v')}
                     / ({_NORM.format(a='p.qv')} * {_NORM.format(a='a.v')}), 4) AS cos
        FROM probed p JOIN assigned a ON p.bucket = a.bucket
        WHERE a.vec_id <> p.q_id
    ),
    ivf AS (
        SELECT q_id, n_id FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                                         ORDER BY cos DESC, n_id) AS rnk
            FROM iscored)
        WHERE rnk <= {_IVF_RECALL_K}
    ),
    bscored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id, {_COS_QC} AS cos
        FROM e q, e c
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    ),
    brute AS (
        SELECT q_id, n_id FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                                         ORDER BY cos DESC, n_id) AS rnk
            FROM bscored)
        WHERE rnk <= {_IVF_RECALL_K}
    )
    SELECT b.q_id, CAST(count(i.n_id) AS BIGINT) AS hits,
           round(count(i.n_id) / {_IVF_RECALL_K}.0, 4) AS recall
    FROM brute b LEFT JOIN ivf i ON b.q_id = i.q_id AND b.n_id = i.n_id
    GROUP BY b.q_id
    """


@register("sim_ivf_recall", _IVF_RECALL_SQL)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{k} of the production IVF (k-means centroids, n_probe=2 —
    sim_ivf_kmeans_topk's configuration) against exact brute force, per
    query id. Scale: both top-k relations are |queries| * k rows (tiny);
    the expensive parts are the same probe/scan plans already benched —
    the recall join itself is negligible. The documented bound (mean
    recall >= 0.8) is asserted in
    tests/test_operators.py::test_ivf_recall_bound."""
    from ..operators.similarity import kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    centroids = kmeans_centroids(emb, k=_KMEANS_K, iterations=2).select(
        F.col("cent_id").alias("vec_id"), F.col("cv").alias("embedding")
    )
    ivf = (
        ivf_topk(emb, queries, centroids, k=_IVF_RECALL_K, n_probe=2)
        .select("q_id", "n_id", F.lit(1).alias("hit"))
    )
    brute = brute_force_topk(emb, queries, k=_IVF_RECALL_K).select("q_id", "n_id")
    return (
        brute.join(ivf, ["q_id", "n_id"], "left_outer")
        .groupBy("q_id")
        .agg(
            F.count("hit").alias("hits"),
            F.round(F.count("hit") / float(_IVF_RECALL_K), 4).alias("recall"),
        )
    )


# IVF with LEARNED centroids: deterministic spherical k-means (fixed init =
# k lowest-id vectors, 2 Lloyd iterations, cosine assignment round(4) with
# cent_id tie-break, per-dim means round(6)) — every training step is
# engine-reproducible, so the oracle REPLAYS TRAINING in SQL (unrolled
# iterations; zipped unnest(range(len(v)))/unnest(v) stands in for
# WITH ORDINALITY, which DuckDB 1.0 lacks). Centroids verified bit-identical
# Spark vs DuckDB at sf0.01.


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): k-means the embedding space, then prune
# near-identical pairs WITHIN each cluster — the cluster-scoped sibling of
# dedup_embedding_cosine's hyperplane-LSH blocking. The oracle replays the
# deterministic Lloyd training (same CTEs as sim_ivf_kmeans_topk), the
# argmax assignment, and the bucket-keyed self-join exactly.
# ---------------------------------------------------------------------------


@register(
    "dedup_semdedup",
    f"""
    WITH {_EMB_CORPUS_CTE.strip()},
    e AS (SELECT vec_id, v FROM ecorpus),
    c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < {_KMEANS_K}),
    {_kmeans_iter_sql(1, 'c0')},
    {_kmeans_iter_sql(2, 'c1')},
    assigned AS (
        SELECT vec_id, v, bucket FROM (
            SELECT e.vec_id, e.v, c2.cent_id AS bucket,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({_DOT.format(a='e.v', b='c2.cv')}
                             / ({_NORM.format(a='e.v')} * {_NORM.format(a='c2.cv')}), 4)
                             DESC, c2.cent_id) AS crnk
            FROM e, c2)
        WHERE crnk = 1
    )
    SELECT a.bucket, a.vec_id AS id_a, b.vec_id AS id_b,
           round({_DOT.format(a='a.v', b='b.v')}
                 / ({_NORM.format(a='a.v')} * {_NORM.format(a='b.v')}), 4) AS cos
    FROM assigned a JOIN assigned b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round({_DOT.format(a='a.v', b='b.v')}
                / ({_NORM.format(a='a.v')} * {_NORM.format(a='b.v')}), 4) >= 0.99
    """,
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import semdedup_pairs
    from ..operators.similarity import kmeans_centroids

    corpus = _emb_corpus(spark, sf_dir)
    cent = kmeans_centroids(corpus, k=_KMEANS_K, iterations=2).select(
        F.col("cent_id").alias("vec_id"), F.col("cv").alias("embedding")
    )
    return semdedup_pairs(corpus, cent, threshold=0.99)


# ---------------------------------------------------------------------------
# Text analysis: token counts, quality, language-ID, fingerprints.
# ---------------------------------------------------------------------------

_STOPS_SQL = "[" + ", ".join(f"'{s}'" for s in TXT.EN_STOPWORDS) + "]"
_LANG_SCORES_SQL = ",\n           ".join(
    "len(list_intersect(list_distinct(string_split(text, ' ')), ["
    + ", ".join(f"'{m}'" for m in markers)
    + f"])) AS s_{lang}"
    for lang, markers in TXT.LANG_MARKERS.items()
)
_LANGS = list(TXT.LANG_MARKERS)
_LANG_CASE = "CASE "
for _i, _lang in enumerate(_LANGS[:-1]):
    _conds = " AND ".join(f"s_{_lang} >= s_{_l2}" for _l2 in _LANGS[_i + 1:])
    _LANG_CASE += f"WHEN {_conds} THEN '{_lang}' "
_LANG_CASE += f"ELSE '{_LANGS[-1]}' END"


@register(
    "text_analysis_profile",
    f"""
    WITH scored AS (
        SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           len(regexp_extract_all(text, '{TXT.BPE_TOKEN_RE}')) AS n_tokens_bpe,
           round(len(list_filter(string_split(text, ' '),
                                 w -> list_contains({_STOPS_SQL}, w)))
                 / len(string_split(text, ' ')), 4) AS stop_ratio,
           round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
                 / length(text), 4) AS punct_ratio,
           {_LANG_SCORES_SQL},
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fp
        FROM documents
    )
    SELECT doc_id, n_words, n_tokens_bpe, stop_ratio, punct_ratio,
           round(least(1.0, n_words / 100.0) * 0.3 + stop_ratio * 0.4
                 + (1.0 - punct_ratio) * 0.3, 4) AS quality,
           {_LANG_CASE} AS lang_pred,
           fp
    FROM scored
    """,
)
def text_analysis_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        TXT.token_count_ws().alias("n_words"),
        TXT.token_count_bpe().alias("n_tokens_bpe"),
        F.round(TXT.stopword_ratio(), 4).alias("stop_ratio"),
        F.round(TXT.punct_ratio(), 4).alias("punct_ratio"),
        TXT.lang_id().alias("lang_pred"),
        TXT.fingerprint().alias("fp"),
    )
    return scored.select(
        "doc_id",
        "n_words",
        "n_tokens_bpe",
        "stop_ratio",
        "punct_ratio",
        F.round(
            F.least(F.lit(1.0), F.col("n_words") / 100.0) * 0.3
            + F.col("stop_ratio") * 0.4
            + (1.0 - F.col("punct_ratio")) * 0.3,
            4,
        ).alias("quality"),
        "lang_pred",
        "fp",
    )


@register(
    "text_quality_score",
    """
    SELECT lang,
           count(*) AS n_docs,
           round(avg(least(1.0, len(string_split(text, ' ')) / 100.0)), 4)
               AS avg_len_term,
           round(avg(n_chars), 2) AS avg_chars
    FROM documents GROUP BY lang
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.least(F.lit(1.0), TXT.token_count_ws() / 100.0)), 4).alias(
            "avg_len_term"
        ),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary blob + metadata -> mapInPandas feature stub.
# The fake features are md5-derived, so even this is oracle-checkable.
# ---------------------------------------------------------------------------

_NIB = "(strpos('0123456789abcdef', substring(md5(text), {p}, 1)) - 1)"
_FEAT_COLS_SQL = ",\n           ".join(
    f"round(({_NIB.format(p=2 * j + 1)} * 16 + {_NIB.format(p=2 * j + 2)}) / 255.0, 6)"
    f" AS f{j}"
    for j in range(4)
)


@register(
    "multimodal_features",
    f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           {_FEAT_COLS_SQL}
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    blobs = attach_blob(docs)
    feats = decode_features(blobs, fake=True)
    return feats.select(
        "doc_id",
        "n_bytes",
        *[F.round(F.element_at("features", j + 1), 6).alias(f"f{j}") for j in range(4)],
    )


# ---------------------------------------------------------------------------
# The end-to-end training-data-prep pipeline: quality-score -> language
# filter -> exact dedup -> per-source corpus stats. One composite query
# exercising the whole Phase-3 stack the way a real pipeline chains it.
# ---------------------------------------------------------------------------


@register(
    "pipeline_training_data_prep",
    f"""
    WITH scored AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_words,
               round(len(list_filter(string_split(text, ' '),
                                     w -> list_contains({_STOPS_SQL}, w)))
                     / len(string_split(text, ' ')), 4) AS stop_ratio,
               round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
                     / length(text), 4) AS punct_ratio,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                   AS fp
        FROM documents
    ), quality AS (
        SELECT *, round(least(1.0, n_words / 100.0) * 0.3 + stop_ratio * 0.4
                        + (1.0 - punct_ratio) * 0.3, 4) AS q
        FROM scored
    ), kept AS (
        SELECT * FROM quality WHERE q >= 0.35
    ), deduped AS (
        SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY fp
    )
    SELECT k.source,
           count(*) AS n_docs,
           round(avg(k.q), 4) AS avg_quality,
           CAST(sum(k.n_words) AS BIGINT) AS total_tokens
    FROM deduped d JOIN kept k ON d.doc_id = k.doc_id
    GROUP BY k.source
    """,
)
def pipeline_training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        TXT.token_count_ws().alias("n_words"),
        F.round(TXT.stopword_ratio(), 4).alias("stop_ratio"),
        F.round(TXT.punct_ratio(), 4).alias("punct_ratio"),
        TXT.fingerprint().alias("fp"),
    ).withColumn(
        "q",
        F.round(
            F.least(F.lit(1.0), F.col("n_words") / 100.0) * 0.3
            + F.col("stop_ratio") * 0.4
            + (1.0 - F.col("punct_ratio")) * 0.3,
            4,
        ),
    )
    kept = scored.filter(F.col("q") >= 0.35)
    deduped = kept.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return (
        deduped.join(kept, ["fp", "doc_id"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("q"), 4).alias("avg_quality"),
            F.sum("n_words").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF: term frequency x inverse document frequency, top-3 terms per doc.
# All relational (two aggs + joins + window); ln() is IEEE-identical across
# engines after round(4).
# ---------------------------------------------------------------------------


@register(
    "text_tfidf_top3",
    """
    WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
    ), df AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln(n.n_docs / df.df), 4) AS tfidf
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS rnk
        FROM scored)
    WHERE rnk <= 3
    """,
)
def text_tfidf_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Corpus-wide top-k n-grams (the shingle machinery as an analysis tool).
# ---------------------------------------------------------------------------


@register(
    "text_top_ngrams",
    """
    WITH wordlists AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM wordlists
    )
    SELECT shingle, count(*) AS cnt FROM sh GROUP BY shingle
    ORDER BY cnt DESC, shingle LIMIT 10
    """,
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = DD.doc_shingles(
        load_table(spark, sf_dir, "documents"), distinct=False
    )
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("shingle"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Statistical LM quality score (CCNet/Gopher-style filtering): build the
# corpus unigram-bigram frequency table, then score each document by its
# average bigram log-probability — low scores flag boilerplate/gibberish.
# Scale: the LM table is one count-aggregate; scoring is a shuffle
# equi-join of the bigram fact against it (at 100 TB: either that join, or
# swap the exact table for a count-min sketch broadcast — same query
# shape). The total is a 1-row broadcast, never a collect.
# ---------------------------------------------------------------------------


# The ONE SQL definition of the corpus-trained bigram LM and its per-doc
# mean log-probability — shared by text_bigram_logfreq and the CC-Net
# perplexity bucketing below (weight/smoothing changes edit one place).
_BIGRAM_LM_CTES = """
    wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                      i -> w[i] || ' ' || w[i+1])) AS bigram
        FROM wl
    ),
    freq AS (SELECT bigram, count(*) AS c FROM bg GROUP BY bigram),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM freq),
    lm AS (
        SELECT b.doc_id,
               count(*) AS n_bigrams,
               round(avg(ln(f.c / t.t)), 4) AS lm_score
        FROM bg b
        JOIN freq f ON b.bigram = f.bigram
        CROSS JOIN tot t
        GROUP BY b.doc_id
    )"""


def doc_lm_scores(docs: DataFrame) -> DataFrame:
    """Spark twin of _BIGRAM_LM_CTES' `lm` relation: (doc_id, n_bigrams,
    lm_score) — per-document mean bigram log-probability under the
    corpus-trained bigram table. Natural log on doubles in both engines;
    round(4) absorbs the last-ulp libm-vs-Math.log drift."""
    from ..functions.text import shingles_from_words

    bg = docs.select(
        "doc_id", F.split("text", " ").alias("_w")
    ).select("doc_id", F.explode(shingles_from_words("_w", 2)).alias("bigram"))
    freq = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").cast("double").alias("t"))
    return (
        bg.join(freq, "bigram")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("c") / F.col("t"))), 4).alias("lm_score"),
        )
    )


@register(
    "text_bigram_logfreq",
    f"""
    WITH {_BIGRAM_LM_CTES.strip()}
    SELECT doc_id, n_bigrams, lm_score FROM lm
    """,
)
def text_bigram_logfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_lm_scores(load_table(spark, sf_dir, "documents"))


@register(
    "text_perplexity_buckets",
    f"""
    WITH {_BIGRAM_LM_CTES.strip()},
    th AS (
        SELECT round(quantile_cont(lm_score, 1.0/3), 4) AS t1,
               round(quantile_cont(lm_score, 2.0/3), 4) AS t2
        FROM lm
    )
    SELECT doc_id, lm_score,
           CASE WHEN lm_score >= t2 THEN 'head'
                WHEN lm_score >= t1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM lm CROSS JOIN th
    """,
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC-Net's perplexity bucketing: score every document under the
    corpus bigram LM, split the corpus into head/middle/tail at the score
    terciles (head = most-probable text; CC-Net trains its LM on a clean
    reference corpus — same plan, different `freq` input). Scale: the LM
    relation materializes once (checkpoint) and feeds both the exact
    tercile agg (a one-row broadcast) and the map-side bucket projection;
    higher lm_score == lower perplexity, so bucketing on lm_score avoids a
    second exp() crossing."""
    lm = doc_lm_scores(load_table(spark, sf_dir, "documents")).localCheckpoint(
        eager=False
    )
    th = lm.agg(
        F.round(F.expr("percentile(lm_score, 1.0/3)"), 4).alias("t1"),
        F.round(F.expr("percentile(lm_score, 2.0/3)"), 4).alias("t2"),
    )
    return lm.crossJoin(F.broadcast(th)).select(
        "doc_id", "lm_score",
        F.when(F.col("lm_score") >= F.col("t2"), "head")
        .when(F.col("lm_score") >= F.col("t1"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# Vector normalization: elementwise array math via transform (no UDF) —
# the preprocessing step in front of any cosine-based index.
# ---------------------------------------------------------------------------


@register(
    "vector_normalize",
    f"""
    WITH {_EMB_D}
    SELECT vec_id,
           round(v[1] / {_NORM.format(a='v')}, 4) + 0 AS e0_unit,
           round({_NORM.format(a='v')}, 4) AS norm
    FROM e
    """,
)
def vector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # `+ 0` in the oracle: DuckDB round() preserves IEEE -0.0 for tiny
    # negative inputs; Spark's BigDecimal round never emits it. Adding zero
    # canonicalizes (-0.0 + 0 == 0.0) without changing any other value.
    from ..functions.vectors import norm

    emb = load_table(spark, sf_dir, "embeddings")
    n = norm("embedding")
    return emb.select(
        "vec_id",
        F.round(F.element_at("embedding", 1).cast("double") / n, 4).alias("e0_unit"),
        F.round(n, 4).alias("norm"),
    )


# ---------------------------------------------------------------------------
# Data-quality profile: per-column null/range stats in one pass — the
# validation step before any training-data run.
# ---------------------------------------------------------------------------


@register(
    "dq_profile_events",
    """
    SELECT count(*) AS n_rows,
           CAST(count(*) - count(user_id) AS BIGINT) AS null_user_id,
           CAST(count(*) - count(props) AS BIGINT) AS null_props,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative_values,
           min(ts) AS first_ts, max(ts) AS last_ts
    FROM events
    """,
)
def dq_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("user_id")).alias("null_user_id"),
        (F.count(F.lit(1)) - F.count("props")).alias("null_props"),
        F.countDistinct("event_type").alias("n_event_types"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("n_negative_values"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


# Hashing-trick bucket count: token -> md5 -> first-2-hex-nibble value mod
# N_BUCKETS. Same arithmetic both engines (the md5 nibble idiom used across
# the dedup oracles). Deliberately NOT a divisor of 16: with 16 buckets,
# (nib1*16 + nib2) % 16 reduces to nib2 and the first nibble is dead.
_HASH_BUCKETS = 13
_TOK_BUCKET_SQL = (
    "((strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16 + "
    "(strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1)) % "
    f"{_HASH_BUCKETS}"
)


def tok_bucket_col(tok: str = "tok"):
    """Hashing-trick bucket for a token column — the ONE Spark definition
    of the md5-nibble bucket assignment (SQL twin: _TOK_BUCKET_SQL).
    Shared by text_hashing_features and pipeline_rag_prep."""
    nib1 = F.instr(F.lit("0123456789abcdef"), F.substring(F.md5(tok), 1, 1)) - 1
    nib2 = F.instr(F.lit("0123456789abcdef"), F.substring(F.md5(tok), 2, 1)) - 1
    return (nib1 * 16 + nib2) % _HASH_BUCKETS


@register(
    "text_hashing_features",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id, {_TOK_BUCKET_SQL} AS bucket FROM toks
    )
    SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS tf
    FROM bucketed GROUP BY doc_id, bucket
    """,
)
def text_hashing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words: each token hashes into one of
    _HASH_BUCKETS fixed buckets; per-doc bucket counts are the sparse
    feature vector (doc_id, bucket, tf). The standard vocabulary-free text
    featurizer: no dictionary to build/broadcast/version, memory bounded by
    the bucket count, and the map side is explode + hash — at 100 TB the
    groupBy(doc_id, bucket) shuffle carries at most |docs| x buckets rows.
    md5 nibbles keep the bucket assignment reproducible in the oracle; at
    cluster scale swap xxhash64 per the minhash hash_fn note."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    )
    return (
        toks.select("doc_id", tok_bucket_col().alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@register(
    "dq_profile_embeddings",
    """
    WITH dims AS (
        SELECT unnest(generate_series(0, len(embedding) - 1)) AS dim,
               unnest(embedding) AS x
        FROM embeddings
    )
    SELECT dim,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(CAST(x AS DOUBLE)), 4) + 0 AS mean_x,
           round(stddev_samp(CAST(x AS DOUBLE)), 4) AS sd_x,
           round(min(CAST(x AS DOUBLE)), 4) + 0 AS min_x,
           round(max(CAST(x AS DOUBLE)), 4) + 0 AS max_x
    FROM dims GROUP BY dim
    """,
)
def dq_profile_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding QA: count, mean, spread, range for each of
    the vector's dims — the vector-column analog of dq_profile_events.
    Catches the classic embedding-pipeline failures (a dead dimension:
    sd ~ 0; a scale blowout: |mean| or range off; ragged vectors: n varies
    by dim). One posexplode + one hash aggregation on the (tiny) dim key —
    at 100 TB the explode is the map side and the agg state is
    dims x 5 doubles, so this runs at scan speed. The `+ 0` on mean/min/max
    in the oracle normalizes DuckDB's IEEE -0.0 from rounding tiny
    negative values."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    return (
        emb.select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(x), 4).alias("mean_x"),
            F.round(F.stddev_samp(x), 4).alias("sd_x"),
            F.round(F.min(x), 4).alias("min_x"),
            F.round(F.max(x), 4).alias("max_x"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic content-hash sampling: reproducible ~10% corpus sample via
# md5(doc_id) mod — unlike rand()-based sampling this is stable across
# engines, runs, and cluster sizes (the only sane way to sample a 100 TB
# corpus you may need to resample identically later).
# ---------------------------------------------------------------------------


@register(
    "sample_deterministic_10pct",
    """
    SELECT doc_id, lang FROM documents
    WHERE (strpos('0123456789abcdef',
                  substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 16 = 0
    """,
)
def sample_deterministic_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nib = F.instr(
        F.lit("0123456789abcdef"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
    ) - 1
    return docs.filter(nib % 16 == 0).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Edit-distance fuzzy matching (levenshtein is definition-identical across
# engines): close first-word pairs — the string-metric tier of the dedup
# stack, candidate-bounded like everything else (restricted id range; at
# scale the candidate set comes from LSH blocking, never all pairs).
# ---------------------------------------------------------------------------


@register(
    "text_levenshtein_pairs",
    """
    WITH heads AS (
        SELECT doc_id, string_split(text, ' ')[1] AS head
        FROM documents WHERE doc_id < 40
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.head, b.head) AS INT) AS dist
    FROM heads a JOIN heads b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 2
    """,
)
def text_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-corpus variant (oracle-checkable). The operator also accepts
    ``candidates=`` from LSH blocking for unbounded corpora — behavioral
    test: tests/test_operators.py::test_levenshtein_pairs_with_candidates;
    the at-scale path is oracle-proven by ``text_levenshtein_lsh``."""
    heads = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", F.element_at(F.split("text", " "), 1).alias("head"))
    )
    return DD.levenshtein_pairs(heads, key_col="head", max_dist=2)


@register(
    "text_levenshtein_lsh",
    f"""
    WITH {NEAR_CORPUS_CTE.strip()},
    {SHINGLES_CTE.strip()},
    hashed AS (SELECT doc_id, {_BASE_H} AS h FROM sh),
    sig AS (
        SELECT doc_id,
           {_SIG_MINS}
        FROM hashed GROUP BY doc_id
    ),
    bands AS (
    {_BAND_SELECTS}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
    ),
    heads AS (SELECT doc_id, string_split(text, ' ')[1] AS head FROM corpus)
    SELECT c.id_a, c.id_b,
           CAST(levenshtein(ha.head, hb.head) AS INT) AS dist
    FROM cand c
    JOIN heads ha ON c.id_a = ha.doc_id
    JOIN heads hb ON c.id_b = hb.doc_id
    WHERE levenshtein(ha.head, hb.head) <= 2
    """,
)
def text_levenshtein_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AT-SCALE edit-distance path: LSH banding supplies the candidate
    pairs, levenshtein scores only |candidates| rows via two key-lookup
    joins — never an all-pairs self-join (plan-contract test:
    tests/test_plans_scale.py::test_levenshtein_lsh_no_cartesian). The
    whole chain (minhash -> bands -> candidates -> edit distance) is
    replayed by the oracle."""
    corpus = _near_corpus(spark, sf_dir)
    sh = DD.doc_shingles(corpus, distinct=False)
    sig = DD.minhash_signatures(sh, num_hashes=_NUM_HASHES)
    cand = DD.lsh_candidate_pairs(sig, num_hashes=_NUM_HASHES, bands=_BANDS)
    heads = corpus.select(
        "doc_id", F.element_at(F.split("text", " "), 1).alias("head")
    )
    return DD.levenshtein_pairs(heads, key_col="head", max_dist=2, candidates=cand)


# ---------------------------------------------------------------------------
# PII scrubbing (training-data cleaning): plant deterministic email/ssn/ip
# strings in every 7th doc, then count + redact them with regexes from the
# common Java-regex/RE2 subset (functions/text.py PII_PATTERNS) so DuckDB
# replays the redaction byte-for-byte. At scale this is a pure map stage:
# no shuffle, whole-stage codegen, filterable at scan time.
# ---------------------------------------------------------------------------

_PII_PATS = {kind: pat for kind, pat, _ in TXT.PII_PATTERNS}

_PII_SCRUB_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(text, '"
    + _PII_PATS["email"] + "', '<EMAIL>', 'g'), '"
    + _PII_PATS["ssn"] + "', '<SSN>', 'g'), '"
    + _PII_PATS["ip"] + "', '<IP>', 'g')"
)

_PII_ORACLE = (
    """
    WITH pcorpus AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com ssn 123-45-6789 ip 10.0.'
                         || CAST(doc_id % 256 AS VARCHAR) || '.7'
                    ELSE text END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '""" + _PII_PATS["email"] + """')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(text, '""" + _PII_PATS["ssn"] + """')) AS INT) AS n_ssn,
           CAST(len(regexp_extract_all(text, '""" + _PII_PATS["ip"] + """')) AS INT) AS n_ip,
           md5(""" + _PII_SCRUB_SQL + """) AS clean_md5
    FROM pcorpus
    """
)


def pii_scrub_projection(docs: DataFrame) -> DataFrame:
    """Plant deterministic PII in every 7th doc, then count + redact.
    Shared by the batch query and the map-only streaming twin
    (plans/stream.py stream_pii_scrub) — a pure projection, so it applies
    to bounded and unbounded inputs identically."""
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com ssn 123-45-6789 ip 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    counts = TXT.pii_counts("text")
    return planted.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["ssn"].alias("n_ssn"),
        counts["ip"].alias("n_ip"),
        F.md5(TXT.scrub_pii("text")).alias("clean_md5"),
    )


@register("text_pii_scrub", _PII_ORACLE)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count and redact planted PII per document. clean_md5 hashes the
    scrubbed text, so the oracle verifies the exact redaction output, not
    just the counts."""
    return pii_scrub_projection(load_table(spark, sf_dir, "documents"))


@register(
    "multimodal_resize",
    """
    SELECT doc_id,
           CAST(least(length(text), 128) AS BIGINT) AS n_bytes,
           md5(substring(text, 1, 128)) AS content_md5,
           32 AS width, 4 AS height
    FROM documents
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stub over the blob table: 32x4 target -> 128-byte payload.
    The fake resize is a deterministic byte-truncation (operators/
    multimodal.py), so md5(content) is cross-checkable in SQL (documents
    text is ASCII: char offsets == byte offsets)."""
    from ..operators.multimodal import resize_media

    docs = load_table(spark, sf_dir, "documents")
    resized = resize_media(attach_blob(docs), width=32, height=4, fake=True)
    return resized.select(
        "doc_id",
        F.length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
        F.col("meta.width").cast("int").alias("width"),
        F.col("meta.height").cast("int").alias("height"),
    )


@register(
    "multimodal_frame_sample",
    """
    SELECT doc_id,
           CAST(fno AS INT) AS frame_no,
           md5(substring(text, fno * 16 + 1, 16)) AS frame_md5
    FROM documents,
         unnest(generate_series(0, length(text) // 16 - 1, 4)) AS t(fno)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over the blob table: every 4th
    16-byte frame of each payload, one output row per kept frame —
    promotes sample_frames' one-to-many mapInPandas contract from
    pytest-only to a driver-checked row. The fake frame slicer is
    deterministic byte windows, so md5(frame) cross-checks in SQL
    (documents text is ASCII: char offsets == byte offsets, the
    multimodal_resize precedent). Real container decode stays honestly
    ffmpeg-gated."""
    from ..operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(
        attach_blob(docs), every_nth=4, frame_bytes=16, fake=True
    )
    return frames.select(
        "doc_id",
        F.col("frame_no").cast("int").alias("frame_no"),
        F.md5("frame").alias("frame_md5"),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup: the exact corpus
# is rendered to REAL 8x8 grayscale PPM images (md5-derived pixels,
# operators/multimodal.attach_synthetic_image), fingerprinted through the
# genuine decode -> luminance -> aHash path (functions/imaging.py), and
# paired via Hamming-band LSH (operators/dedup.phash_near_pairs — the
# simhash pigeonhole generalized to hex fingerprints, never all-pairs).
# Planted exact copies collide at hamming 0; the oracle replays pixel
# synthesis + aHash + the hamming filter in pure SQL, so the whole real
# pipeline is hash-checked. The all-pairs oracle join is fine at oracle
# scale and is EQUAL to the banded result by pigeonhole completeness.
# ---------------------------------------------------------------------------

_PHASH_NIBS_CTE = """
    px AS (
        SELECT doc_id,
               md5(text || 'px0') || md5(text || 'px1') ||
               md5(text || 'px2') || md5(text || 'px3') AS h
        FROM corpus
    ),
    pixels AS (
        SELECT doc_id,
               list_transform(range(0, 64),
                   i -> (strpos('0123456789abcdef', substring(h, 2*i+1, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substring(h, 2*i+2, 1)) - 1)) AS p
        FROM px
    ),
    stat AS (SELECT doc_id, p, list_sum(p) / 64.0 AS m FROM pixels),
    nibs AS (
        SELECT doc_id,
               list_transform(range(0, 16),
                   j -> (CASE WHEN p[4*j+1] > m THEN 8 ELSE 0 END)
                      + (CASE WHEN p[4*j+2] > m THEN 4 ELSE 0 END)
                      + (CASE WHEN p[4*j+3] > m THEN 2 ELSE 0 END)
                      + (CASE WHEN p[4*j+4] > m THEN 1 ELSE 0 END)) AS nb
        FROM stat
    )"""


# hamming<=3 pair relation over the aHash nibbles — shared by the pair
# query and the image-cluster assignment so the edge semantics can't drift.
_PHASH_SCORED_CTE = """
    scored AS (
        SELECT id_a, id_b, hamming FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(list_sum(list_transform(range(1, 17),
                        j -> bit_count(xor(a.nb[j], b.nb[j])))) AS INT)
                       AS hamming
            FROM nibs a JOIN nibs b ON a.doc_id < b.doc_id
        ) WHERE hamming <= 3
    )"""


def _image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hamming<=3 aHash pair graph over the planted exact corpus —
    shared by the pair query and the cluster assignment."""
    from ..operators.multimodal import attach_synthetic_image

    corpus = _exact_corpus(spark, sf_dir)
    imgs = attach_synthetic_image(corpus)
    fp = DD.image_phash_fingerprints(imgs, hash_size=8, kind="ahash")
    return DD.phash_near_pairs(fp, hex_len=16, max_hamming=3)


# Shared with the streaming twin (plans/stream.py stream_image_phash):
# the drained stream-static probe equals this batch self-join, so one
# oracle covers both.
IMAGE_PHASH_PAIRS_ORACLE = f"""
    WITH {EXACT_CORPUS_CTE.strip()},
    {_PHASH_NIBS_CTE.strip()},
    {_PHASH_SCORED_CTE.strip()}
    SELECT id_a, id_b, hamming FROM scored
    """


@register("dedup_image_phash", IMAGE_PHASH_PAIRS_ORACLE)
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image pairs by aHash hamming <= 3 over the planted
    exact corpus — content -> real PPM decode -> perceptual hash ->
    Hamming-band LSH."""
    return _image_phash_pairs(spark, sf_dir)


# ---------------------------------------------------------------------------
# Audio-envelope dedup: the audio sibling of dedup_image_phash. The
# exact corpus is rendered to REAL 16-bit PCM WAV clips (md5-derived
# samples, attach_synthetic_audio), fingerprinted through the genuine
# decode -> amplitude-envelope -> threshold-bits path (functions/audio.py
# envelope_hash), and paired with the SAME Hamming-band machinery as
# images (phash_near_pairs). Oracle replays decoded amplitudes as
# (byte - 128) / 128 plus the envelope/threshold arithmetic — every term
# is a dyadic rational, so float equality is exact cross-engine.
# ---------------------------------------------------------------------------

# px + sample_bytes (the synthetic-clip byte replay) shared verbatim by the
# envelope and scalogram oracles — _AUDIO_NIBS_CTE's text is byte-identical
# to its pre-split form, so no FORCE_RECHECK is needed.
_AUDIO_SAMPLES_CTE = """
    px AS (
        SELECT doc_id,
               """ + " ||\n               ".join(
    f"md5(text || 'au{k}')" for k in range(16)
) + """ AS h
        FROM corpus
    ),
    sample_bytes AS (
        SELECT doc_id,
               list_transform(range(0, 256),
                   i -> (strpos('0123456789abcdef', substring(h, 2*i+1, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substring(h, 2*i+2, 1)) - 1)) AS p
        FROM px
    )"""

_AUDIO_NIBS_CTE = _AUDIO_SAMPLES_CTE + """,
    env AS (
        SELECT doc_id,
               list_transform(range(0, 64),
                   j -> list_sum(list_transform(range(1, 5),
                            k -> abs(p[4*j + k] - 128))) / 512.0) AS e
        FROM sample_bytes
    ),
    stat AS (SELECT doc_id, e, list_sum(e) / 64.0 AS m FROM env),
    nibs AS (
        SELECT doc_id,
               list_transform(range(0, 16),
                   j -> (CASE WHEN e[4*j+1] > m THEN 8 ELSE 0 END)
                      + (CASE WHEN e[4*j+2] > m THEN 4 ELSE 0 END)
                      + (CASE WHEN e[4*j+3] > m THEN 2 ELSE 0 END)
                      + (CASE WHEN e[4*j+4] > m THEN 1 ELSE 0 END)) AS nb
        FROM stat
    )"""


# Named so the streaming at-ingest probe (plans/stream.py
# stream_audio_envelope) shares the IDENTICAL oracle text — same idiom as
# IMAGE_PHASH_PAIRS_ORACLE.
AUDIO_ENVELOPE_PAIRS_ORACLE = f"""
    WITH {EXACT_CORPUS_CTE.strip()},
    {_AUDIO_NIBS_CTE.strip()},
    {_PHASH_SCORED_CTE.strip()}
    SELECT id_a, id_b, hamming FROM scored
    """


@register("dedup_audio_envelope", AUDIO_ENVELOPE_PAIRS_ORACLE)
def dedup_audio_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio pairs by envelope-hash hamming <= 3 over the
    planted exact corpus — content -> real WAV decode -> amplitude
    envelope fingerprint -> Hamming-band LSH."""
    from ..operators.multimodal import attach_synthetic_audio

    corpus = _exact_corpus(spark, sf_dir)
    clips = attach_synthetic_audio(corpus)
    fp = DD.audio_envelope_fingerprints(clips, hash_size=8)
    return DD.phash_near_pairs(fp, hex_len=16, max_hamming=3)


# ---------------------------------------------------------------------------
# Spectral (Haar-scalogram) audio dedup: the
# pitch-sensitive robust twin of dedup_audio_envelope. The oracle replays
# the UNNORMALIZED Haar transform on q = byte - 128 (Spark fingerprints
# (byte-128)/128 — a uniform positive scale factor the per-level
# "cell*segments > level_total" comparisons are invariant to), so every
# coefficient, square, and sum is INTEGER arithmetic in DuckDB and exact
# dyadic float64 in Spark: the bit decisions agree exactly, no rounding
# convention needed anywhere.
# ---------------------------------------------------------------------------

_AUDIO_SCALO_NIBS_CTE = _AUDIO_SAMPLES_CTE + """,
    qs AS (SELECT doc_id, list_transform(p, x -> x - 128) AS q
           FROM sample_bytes),
    l1 AS (SELECT doc_id,
                  list_transform(range(1, 129), i -> q[2*i-1] - q[2*i]) AS d,
                  list_transform(range(1, 129), i -> q[2*i-1] + q[2*i]) AS a
           FROM qs),
    l2 AS (SELECT doc_id,
                  list_transform(range(1, 65), i -> a[2*i-1] - a[2*i]) AS d,
                  list_transform(range(1, 65), i -> a[2*i-1] + a[2*i]) AS a
           FROM l1),
    l3 AS (SELECT doc_id,
                  list_transform(range(1, 33), i -> a[2*i-1] - a[2*i]) AS d,
                  list_transform(range(1, 33), i -> a[2*i-1] + a[2*i]) AS a
           FROM l2),
    l4 AS (SELECT doc_id,
                  list_transform(range(1, 17), i -> a[2*i-1] - a[2*i]) AS d
           FROM l3),
    cells AS (
        SELECT q.doc_id,
               list_transform(range(0, 16), s -> list_sum(
                   list_transform(range(1, 9),
                       k -> l1.d[8*s+k] * l1.d[8*s+k]))) AS e1,
               list_transform(range(0, 16), s -> list_sum(
                   list_transform(range(1, 5),
                       k -> l2.d[4*s+k] * l2.d[4*s+k]))) AS e2,
               list_transform(range(0, 16), s -> list_sum(
                   list_transform(range(1, 3),
                       k -> l3.d[2*s+k] * l3.d[2*s+k]))) AS e3,
               list_transform(range(1, 17), s -> l4.d[s] * l4.d[s]) AS e4
        FROM qs q
        JOIN l1 ON l1.doc_id = q.doc_id
        JOIN l2 ON l2.doc_id = q.doc_id
        JOIN l3 ON l3.doc_id = q.doc_id
        JOIN l4 ON l4.doc_id = q.doc_id
    ),
    flatbits AS (
        SELECT doc_id,
               list_transform(range(1, 17),
                   s -> CASE WHEN e1[s] * 16 > list_sum(e1) THEN 1 ELSE 0 END)
               || list_transform(range(1, 17),
                   s -> CASE WHEN e2[s] * 16 > list_sum(e2) THEN 1 ELSE 0 END)
               || list_transform(range(1, 17),
                   s -> CASE WHEN e3[s] * 16 > list_sum(e3) THEN 1 ELSE 0 END)
               || list_transform(range(1, 17),
                   s -> CASE WHEN e4[s] * 16 > list_sum(e4) THEN 1 ELSE 0 END)
                   AS fb
        FROM cells
    ),
    nibs AS (
        SELECT doc_id,
               list_transform(range(0, 16),
                   j -> 8*fb[4*j+1] + 4*fb[4*j+2] + 2*fb[4*j+3] + fb[4*j+4])
                   AS nb
        FROM flatbits
    )"""


# Shared with the streaming twin (plans/stream.py stream_audio_spectral).
AUDIO_SPECTRAL_PAIRS_ORACLE = f"""
    WITH {EXACT_CORPUS_CTE.strip()},
    {_AUDIO_SCALO_NIBS_CTE.strip()},
    {_PHASH_SCORED_CTE.strip()}
    SELECT id_a, id_b, hamming FROM scored
    """


@register("dedup_audio_spectral", AUDIO_SPECTRAL_PAIRS_ORACLE)
def dedup_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio pairs by Haar-scalogram hamming <= 3 over the
    planted exact corpus — content -> real WAV decode -> time-octave
    spectral fingerprint -> the same Hamming-band LSH as the envelope and
    image hashes."""
    from ..operators.multimodal import attach_synthetic_audio

    corpus = _exact_corpus(spark, sf_dir)
    clips = attach_synthetic_audio(corpus)
    fp = DD.audio_spectral_fingerprints(clips, levels=4, segments=16)
    return DD.phash_near_pairs(fp, hex_len=16, max_hamming=3)


# ---------------------------------------------------------------------------
# Dedup 6: duplicate-CLUSTER assignment — connected components over the
# jaccard-verified pair graph (operators/components.py min-label
# propagation). Oracle: recursive-CTE reachability (label = min reachable
# node), a fixpoint DuckDB computes exactly like the propagation loop.
# ---------------------------------------------------------------------------


# Cluster-assignment oracle (algorithm-independent: reachability fixpoint
# labels every node with its component minimum) — shared by the propagation
# and large-star/small-star engine paths.
# The reachability fixpoint + min-label CTE chain over the `scored` pair
# relation — ONE definition shared by _CLUSTERS_SQL and the
# dedup_cluster_representatives oracle (plans/textprep.py), so the cluster
# semantics cannot drift between them.
_EDGES_REACH_CLUSTERS_CTE = """
    edges AS (SELECT id_a AS src, id_b AS dst FROM scored
              UNION SELECT id_b, id_a FROM scored),
    reach(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT r.node, e.dst FROM reach r JOIN edges e ON r.label = e.src
    ),
    clusters AS (
        SELECT node AS doc_id, min(label) AS cluster_id
        FROM reach GROUP BY node
    )"""

_CLUSTERS_SQL = f"""
    WITH RECURSIVE {NEAR_CORPUS_CTE.strip()},
    {SHINGLES_CTE.strip()},
    {_LSH_CAND_CTE.strip()},
    {_JACCARD_SCORED_CTE.strip()},
    {_EDGES_REACH_CLUSTERS_CTE.strip()}
    SELECT doc_id, cluster_id FROM clusters
    """


@register("dedup_clusters", _CLUSTERS_SQL)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: every doc in the >=0.4-jaccard pair
    graph labeled with its component's minimum doc_id ("keep the canonical,
    drop the rest" becomes a trivial filter on node != cluster_id).

    The pair graph is the candidate-bounded jaccard output (MinHash-LSH
    candidates -> exact jaccard verify), so no stage of the pipeline is a
    shingle self-join, so no hot-shingle skew path."""
    from ..operators.components import connected_components

    cc = connected_components(jaccard_pair_graph(spark, sf_dir))
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


def jaccard_pair_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The >=0.4-jaccard edge relation feeding dedup_clusters: LSH
    candidates verified by candidate-driven exact jaccard. Exposed as a
    helper so the plan-shape tests can pin the lazy pair-graph plan (the
    connected-components loop checkpoints eagerly, hiding it)."""
    sh = DD.doc_shingles(_near_corpus(spark, sf_dir)).localCheckpoint()
    sig = DD.minhash_signatures(sh, num_hashes=_NUM_HASHES)
    cand = DD.lsh_candidate_pairs(sig, num_hashes=_NUM_HASHES, bands=_BANDS)
    return DD.jaccard_pairs(
        sh, threshold=0.4, candidates=cand, checkpoint=False
    ).select("id_a", "id_b")


@register("dedup_clusters_star", _CLUSTERS_SQL)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_clusters computed by the large-star/small-star alternation
    (operators/components.py connected_components_star) instead of min-label
    propagation: diameter-independent round count, for graphs where loose
    similarity thresholds create long transitive chains. Same pair graph,
    same oracle — the clustering is algorithm-independent."""
    from ..operators.components import connected_components_star

    cc = connected_components_star(jaccard_pair_graph(spark, sf_dir))
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


@register(
    "dedup_image_clusters",
    f"""
    WITH RECURSIVE {EXACT_CORPUS_CTE.strip()},
    {_PHASH_NIBS_CTE.strip()},
    {_PHASH_SCORED_CTE.strip()},
    {_EDGES_REACH_CLUSTERS_CTE.strip()}
    SELECT doc_id, cluster_id FROM clusters
    """,
)
def dedup_image_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image duplicate CLUSTERS: connected components over the
    hamming<=3 aHash pair graph — the image pipeline gets the same
    pairs -> transitive-cluster -> canonical-representative story as text
    dedup, reusing the min-label propagation engine and the reachability-
    fixpoint oracle. Every image in the pair graph is labeled with its
    component's minimum doc_id."""
    from ..operators.components import connected_components

    cc = connected_components(_image_phash_pairs(spark, sf_dir).select("id_a", "id_b"))
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


# ---------------------------------------------------------------------------
# Repeated-span mining: exact-substring dedup signal in the style of
# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") — find W-token spans that occur in more than one document.
# A true suffix-array pass is sequential; the distributed re-expression is
# the standard one: slide a W-token window over every doc (explode),
# md5 the span, and hash-aggregate occurrences — one explode + one
# map-side-combinable agg, nothing quadratic, span text never shuffled
# (only its 32-byte hash). Cross-doc repeated spans are exactly the spans
# a span-level deduper would mask/cut.
# ---------------------------------------------------------------------------

_SPAN_W = 16
_SPAN_TOP = 100

_SPAN_GRAM_SQL = " || ' ' || ".join(f"w[i+{j}]" for j in range(_SPAN_W))


@register(
    "dedup_repeated_spans",
    f"""
    WITH {EXACT_CORPUS_CTE.strip()},
    cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
    spans AS (
        SELECT doc_id,
               md5(unnest(list_transform(
                   generate_series(1, greatest(len(w) - {_SPAN_W - 1}, 0)),
                   i -> {_SPAN_GRAM_SQL}))) AS span_h
        FROM cw
    ),
    agg AS (
        SELECT span_h,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_occ
        FROM spans GROUP BY span_h
    )
    SELECT span_h, n_docs, n_occ FROM agg
    WHERE n_docs >= 2
    ORDER BY n_docs DESC, n_occ DESC, span_h
    LIMIT {_SPAN_TOP}
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top cross-document repeated {W}-token spans over the planted-copy
    corpus: (span_h, n_docs, n_occ), heaviest first. The planted exact
    copies guarantee the positive path; the top-k is a
    TakeOrderedAndProject (no global sort)."""
    corpus = _exact_corpus(spark, sf_dir)
    spans = (
        corpus.select("doc_id", F.split("text", " ").alias("_w"))
        .select(
            "doc_id",
            F.explode(TXT.shingles_from_words("_w", _SPAN_W)).alias("span"),
        )
        .select("doc_id", F.md5("span").alias("span_h"))
    )
    return (
        spans.groupBy("span_h")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), F.asc("span_h"))
        .limit(_SPAN_TOP)
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization: the ANN storage path at 100 TB — a
# symmetric per-vector max-abs scale and 8-bit codes cut vector storage
# (and probe-scan I/O) 4x vs float32, with reconstruction error bounded by
# scale/254 per dimension. Pure higher-order-function projection (no UDF,
# no shuffle); codes are emitted comma-joined so every downstream surface
# (including array-incapable canonicalizers) sees plain strings.
# ---------------------------------------------------------------------------

_QUANT_LEVELS = 127


@register(
    "sim_quantize_int8",
    f"""
    WITH {_EMB_D},
    s AS (
        SELECT vec_id, v,
               greatest(list_max(list_transform(v, x -> abs(x))), 1e-12)
                   AS scale
        FROM e
    )
    SELECT vec_id,
           round(scale, 6) AS scale,
           array_to_string(list_transform(v, x ->
               CAST(CAST(round({_QUANT_LEVELS} * x / scale) AS BIGINT) AS VARCHAR)),
               ',') AS q,
           round(list_max(list_transform(v, x ->
               abs(x - round({_QUANT_LEVELS} * x / scale) * scale
                       / {_QUANT_LEVELS}))), 6) AS max_err
    FROM s
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, scale, q, max_err): symmetric int8 codes per embedding plus
    the realized max per-dimension dequantization error. The error bound
    (max_err <= scale/254) is asserted in
    tests/test_operators.py::test_quantize_int8_error_bound."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12)
    )
    q = F.transform(v, lambda x: F.round(F.lit(_QUANT_LEVELS) * x / scale).cast("long"))
    err = F.array_max(
        F.zip_with(v, q, lambda a, b: F.abs(a - b * scale / _QUANT_LEVELS))
    )
    return emb.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.array_join(q.cast("array<string>"), ",").alias("q"),
        F.round(err, 6).alias("max_err"),
    )


# ---------------------------------------------------------------------------
# Language-ID accuracy gate: lang_pred (marker-list n-gram heuristic)
# scored against the fixture's true `lang` labels, per language — the
# langid analogue of sim_ivf_recall: classifier quality as a
# driver-checked number rather than a docstring claim. One hash agg over
# a pure-projection prediction.
# ---------------------------------------------------------------------------


@register(
    "text_langid_accuracy",
    f"""
    WITH scored AS (
        SELECT doc_id, lang,
           {_LANG_SCORES_SQL}
        FROM documents
    ),
    pred AS (SELECT doc_id, lang, {_LANG_CASE} AS lang_pred FROM scored)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           round(sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS acc
    FROM pred GROUP BY lang
    """,
)
def text_langid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured on the fixture: acc = 1.0 for en, 0.0 elsewhere — the
    fixture's non-en rows carry English-vocabulary synthetic text (the
    `lang` column is a label only), so the marker heuristic correctly
    reads every TEXT as English. That disagreement is precisely what a
    per-language accuracy gate exists to surface; on a real corpus the
    same query scores the classifier. Structural invariant (en rows are
    genuinely English → never misclassified) is pinned in
    tests/test_operators.py::test_langid_accuracy_structure."""
    docs = load_table(spark, sf_dir, "documents")
    hit = F.when(F.col("lang_pred") == F.col("lang"), 1).otherwise(0)
    return (
        docs.select("lang", TXT.lang_id().alias("lang_pred"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(hit).alias("n_correct"),
            F.round(F.sum(hit) / F.count(F.lit(1)).cast("double"), 4).alias("acc"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup-rate dashboard: per source shard, how much of it is exact
# duplicate mass — the number every dedup run reports before/after. One
# fingerprint agg + one source agg over the planted-copy corpus (plants
# land in a 'planted' pseudo-source via the id offset so the rate is
# observable). n_distinct counts unique texts; dup_rate = 1 - distinct/n.
# ---------------------------------------------------------------------------


@register(
    "dedup_rate_by_source",
    f"""
    WITH {EXACT_CORPUS_CTE.strip()},
    src AS (
        SELECT doc_id, text,
               CASE WHEN doc_id >= 200000 THEN 'planted' ELSE 'corpus' END
                   AS source_kind
        FROM corpus
    )
    SELECT source_kind,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
           round(1 - count(DISTINCT md5(text)) / CAST(count(*) AS DOUBLE), 4)
               AS dup_rate
    FROM src GROUP BY source_kind
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _exact_corpus(spark, sf_dir)
    src = corpus.select(
        F.md5("text").alias("fp"),
        F.when(F.col("doc_id") >= 200000, "planted")
        .otherwise("corpus")
        .alias("source_kind"),
    )
    return src.groupBy("source_kind").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct"),
        F.round(
            1 - F.countDistinct("fp") / F.count(F.lit(1)).cast("double"), 4
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# Doc-length histogram: log2-bucketed whitespace-token counts — the
# one-glance length distribution every corpus report leads with. floor of
# log2 keeps bucket edges engine-exact on integers; one map-side bucket
# expression + a tiny agg.
# ---------------------------------------------------------------------------


@register(
    "dq_length_histogram",
    """
    SELECT CAST(floor(log2(greatest(len(string_split(text, ' ')), 1)))
                AS BIGINT) AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(len(string_split(text, ' '))) AS BIGINT) AS min_tok,
           CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tok
    FROM documents GROUP BY log2_bucket
    """,
)
def dq_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    bucket = F.floor(F.log2(F.greatest(n_tok, F.lit(1)))).cast("long")
    return (
        docs.select(bucket.alias("log2_bucket"), n_tok.alias("n_tok"))
        .groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tok").cast("long").alias("min_tok"),
            F.max("n_tok").cast("long").alias("max_tok"),
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka-style dimension truncation: how much ANN quality
# survives scoring on only the first _MRL_DIMS of the 64-dim embeddings —
# the "shorten the vectors, keep the index cheap" trade every
# MRL-trained embedding deployment measures. recall@k of truncated-dim
# brute force vs full-dim brute force, per query; the quality twin of
# sim_quantize_int8's storage cut (truncation shrinks COMPUTE and
# memory 4x here, quantization shrinks bytes). Both rank chains are the
# already-benched broadcast-query scans; the recall join is |queries|*k.
# ---------------------------------------------------------------------------

_MRL_DIMS = 16
_MRL_K = 5


@register(
    "sim_matryoshka_recall",
    f"""
    WITH {_EMB_D},
    et AS (SELECT vec_id, v, v[1:{_MRL_DIMS}] AS vt FROM e),
    tscored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
               round({_DOT.format(a='q.vt', b='c.vt')}
                     / ({_NORM.format(a='q.vt')} * {_NORM.format(a='c.vt')}), 4) AS cos
        FROM et q, et c
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    ),
    trunc AS (
        SELECT q_id, n_id FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                                         ORDER BY cos DESC, n_id) AS rnk
            FROM tscored)
        WHERE rnk <= {_MRL_K}
    ),
    bscored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id, {_COS_QC} AS cos
        FROM e q, e c
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    ),
    brute AS (
        SELECT q_id, n_id FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                                         ORDER BY cos DESC, n_id) AS rnk
            FROM bscored)
        WHERE rnk <= {_MRL_K}
    )
    SELECT b.q_id, CAST(count(t.n_id) AS BIGINT) AS hits,
           round(count(t.n_id) / {_MRL_K}.0, 4) AS recall
    FROM brute b LEFT JOIN trunc t ON b.q_id = t.q_id AND b.n_id = t.n_id
    GROUP BY b.q_id
    """,
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    trunc_emb = emb.select(
        "vec_id", F.slice("embedding", 1, _MRL_DIMS).alias("embedding")
    )
    trunc = brute_force_topk(
        trunc_emb, trunc_emb.filter(F.col("vec_id") < 5), k=_MRL_K
    ).select("q_id", "n_id", F.lit(1).alias("hit"))
    brute = brute_force_topk(emb, queries, k=_MRL_K).select("q_id", "n_id")
    return (
        brute.join(trunc, ["q_id", "n_id"], "left_outer")
        .groupBy("q_id")
        .agg(
            F.count("hit").alias("hits"),
            F.round(F.count("hit") / float(_MRL_K), 4).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal pretrain capstone: pretrain_v2's
# text chain gets the media front-end a multimodal training pipeline
# actually runs FIRST — image (aHash) and audio (envelope) near-dup pair
# graphs, unioned, transitively clustered, non-representatives dropped —
# because media dedup kills whole documents before any token-level work is
# paid for them. The surviving documents then run exact text dedup ->
# logistic quality filter -> domain-mixture sampling -> packed-sequence
# spans (each stage individually driver-proven by its own query; this
# oracle replays the full COMPOSITION). Media probes run over the exact
# corpus (documents + planted +200000 copies, so the media stage has real
# duplicates to remove); the text stages run over real documents only —
# the plants are synthetic probes, all of which cluster with (and lose
# representative election to) their lower-id originals.
#
# Scale: the media stage is the Hamming-band machinery (bucketed
# equi-joins, never all-pairs), CC is the checkpointed min-label engine,
# and the text chain is pretrain_v2's (fingerprint shuffle, broadcast
# rates, per-source window over the sampled minority).
# ---------------------------------------------------------------------------

import re as _re

from .textprep import (  # noqa: E402
    _HASH256_SQL,
    _MIX_BUDGET_FRAC,
    _MIX_P_SQL,
    _MIX_RESIDUAL_SHARDS,
    _MIX_W_SRC0,
    _MIX_W_SRC1,
    _PACK_CAP,
    _hash256,
    _quality_cte_sql,
    quality_p_col,
)


def _rename_ctes(sql: str, renames: dict) -> str:
    """Rename CTE identifiers (word-boundary regex, so quoted literals
    like 'px0'/'au3' are untouched) — lets the image and audio fingerprint
    chains, which both define px/stat/nibs, compose inside ONE oracle."""
    for old, new in renames.items():
        sql = _re.sub(rf"\b{old}\b", new, sql)
    return sql


_IMG_NIBS_V3 = _rename_ctes(
    _PHASH_NIBS_CTE,
    {"px": "ipx", "pixels": "ipixels", "stat": "istat", "nibs": "inibs"},
)
_IMG_SCORED_V3 = _rename_ctes(
    _PHASH_SCORED_CTE, {"scored": "iscored", "nibs": "inibs"}
)
_AUD_NIBS_V3 = _rename_ctes(
    _AUDIO_NIBS_CTE,
    {
        "px": "apx",
        "sample_bytes": "asample_bytes",
        "env": "aenv",
        "stat": "astat",
        "nibs": "anibs",
    },
)
_AUD_SCORED_V3 = _rename_ctes(
    _PHASH_SCORED_CTE, {"scored": "ascored", "nibs": "anibs"}
)


PRETRAIN_V3_ORACLE = f"""
    WITH RECURSIVE {EXACT_CORPUS_CTE.strip()},
    {_IMG_NIBS_V3.strip()},
    {_IMG_SCORED_V3.strip()},
    {_AUD_NIBS_V3.strip()},
    {_AUD_SCORED_V3.strip()},
    scored AS (
        SELECT id_a, id_b FROM iscored
        UNION
        SELECT id_a, id_b FROM ascored
    ),
    {_EDGES_REACH_CLUSTERS_CTE.strip()},
    surv AS (
        SELECT d.doc_id, d.text, d.source FROM documents d
        WHERE d.doc_id NOT IN
              (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
    ),
    {_quality_cte_sql('surv').strip()},
    feats AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tok,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fp
        FROM surv
    ),
    deduped AS (
        SELECT f.* FROM feats f
        JOIN (SELECT fp, min(doc_id) AS keep_id FROM feats GROUP BY fp) k
          ON f.fp = k.fp AND f.doc_id = k.keep_id
    ),
    filtered AS (
        SELECT d.doc_id, d.source, d.n_tok FROM deduped d
        JOIN quality q ON d.doc_id = q.doc_id
        WHERE q.quality_p >= 0.5
    ),
    ns AS (SELECT source, count(*) AS n FROM filtered GROUP BY source),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM ns),
    rates AS (
        SELECT source,
               least(CAST(1 AS DOUBLE),
                     CAST({_MIX_BUDGET_FRAC} AS DOUBLE) * nn * ({_MIX_P_SQL})
                     / n) AS rate
        FROM ns CROSS JOIN tot
    ),
    sampled AS (
        SELECT f.doc_id, f.source, f.n_tok
        FROM filtered f JOIN rates r ON f.source = r.source
        WHERE {_HASH256_SQL.replace('doc_id', 'f.doc_id')} < floor(r.rate * 256)
    ),
    packed AS (
        SELECT doc_id, source, n_tok,
               coalesce(sum(n_tok) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM sampled
    )
    SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(floor(cum_before / {_PACK_CAP}.0) AS BIGINT) AS first_seq,
           CAST(floor((cum_before + n_tok - 1) / {_PACK_CAP}.0) AS BIGINT)
               AS last_seq
    FROM packed
    """


@register("pipeline_pretrain_v3", PRETRAIN_V3_ORACLE)
def pipeline_pretrain_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor docs with packed-sequence spans after media near-dup
    removal + the text chain. See banner for the stage/cost argument."""
    from pyspark.sql import Window

    from ..functions.text import fingerprint, token_count_ws
    from ..operators.components import connected_components
    from ..operators.multimodal import attach_synthetic_audio

    corpus = _exact_corpus(spark, sf_dir)
    img_pairs = _image_phash_pairs(spark, sf_dir).select("id_a", "id_b")
    aud_fp = DD.audio_envelope_fingerprints(
        attach_synthetic_audio(corpus), hash_size=8
    )
    aud_pairs = DD.phash_near_pairs(
        aud_fp, hex_len=16, max_hamming=3
    ).select("id_a", "id_b")
    edges = img_pairs.unionByName(aud_pairs).distinct()
    cc = connected_components(edges)
    drop = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    surv = load_table(spark, sf_dir, "documents").join(
        drop, "doc_id", "left_anti"
    )

    quality = surv.select("doc_id", quality_p_col().alias("quality_p"))
    feats = surv.select(
        "doc_id",
        "source",
        token_count_ws().alias("n_tok"),
        fingerprint().alias("fp"),
    )
    keepers = feats.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    deduped = feats.join(keepers, ["fp", "doc_id"], "left_semi")
    filtered = (
        deduped.join(quality, "doc_id")
        .filter(F.col("quality_p") >= 0.5)
        .select("doc_id", "source", "n_tok")
    )

    ns = filtered.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = ns.agg(F.sum("n").cast("double").alias("nn"))
    p = (
        F.when(F.col("source") == "src0", F.lit(_MIX_W_SRC0))
        .when(F.col("source") == "src1", F.lit(_MIX_W_SRC1))
        .otherwise(
            F.lit((1 - _MIX_W_SRC0 - _MIX_W_SRC1) / _MIX_RESIDUAL_SHARDS)
        )
    )
    rates = ns.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0), F.lit(_MIX_BUDGET_FRAC) * F.col("nn") * p / F.col("n")
        ).alias("rate"),
    )
    sampled = (
        filtered.join(F.broadcast(rates), "source")
        .filter(_hash256("doc_id") < F.floor(F.col("rate") * 256))
        .select("doc_id", "source", "n_tok")
    )

    win = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tok").over(win), F.lit(0))
    return sampled.select(
        "doc_id",
        "source",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.floor(cum_before / float(_PACK_CAP)).alias("first_seq"),
        F.floor((cum_before + F.col("n_tok") - 1) / float(_PACK_CAP)).alias(
            "last_seq"
        ),
    )


# ---------------------------------------------------------------------------
# Video near-dup by frame-fingerprint overlap: the VIDEO entry of the
# media dedup matrix (text shingles / image aHash / audio envelope+
# scalogram / video frame sets). A video is its SET of per-frame
# fingerprints (content-ID style): md5 of every fixed-size frame through
# the one-to-many sample_frames contract (every_nth=1), pairs by Jaccard
# of the DISTINCT frame-hash sets >= 0.5. Robust to frame-ALIGNED edits —
# the planted copies (+300000, every 5th doc) are head-trimmed by exactly
# one frame, so every surviving frame's bytes are identical and the sets
# overlap at (F-1)/F while any byte-shifted (non-aligned) edit would zero
# the overlap, which is precisely the sensitivity boundary of frame-set
# dedup.
#
# Scale: candidate generation is an equi-join on frame_md5 (bucket-
# bounded by per-hash occupancy — the exact-dedup blocking idiom), never
# all-pairs; the frame relation is checkpointed once (blocked-self-join
# idiom); only (doc_id, 32-hex) rows shuffle. Real container decode stays
# ffmpeg-gated; the deterministic slicer makes the oracle replay exact
# (documents text is ASCII: char offsets == byte offsets).
# ---------------------------------------------------------------------------

VIDEO_FRAMES_PAIRS_ORACLE = """
    WITH vcorpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 300000 AS doc_id, substring(text, 17) AS text
        FROM documents WHERE doc_id % 5 = 0
    ),
    frames AS (
        SELECT DISTINCT doc_id, md5(substring(text, fno * 16 + 1, 16)) AS fh
        FROM vcorpus,
             unnest(generate_series(0, length(text) // 16 - 1, 1)) AS t(fno)
    ),
    counts AS (SELECT doc_id, count(*) AS nf FROM frames GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM frames a JOIN frames b ON a.fh = b.fh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
           round(n_shared / CAST(ca.nf + cb.nf - n_shared AS DOUBLE), 4)
               AS jaccard
    FROM shared
    JOIN counts ca ON ca.doc_id = id_a
    JOIN counts cb ON cb.doc_id = id_b
    WHERE n_shared / CAST(ca.nf + cb.nf - n_shared AS DOUBLE) >= 0.5
    """


@register("dedup_video_frames", VIDEO_FRAMES_PAIRS_ORACLE)
def dedup_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate video pairs by frame-set Jaccard >= 0.5 over
    documents + one-frame-head-trimmed planted copies."""
    from ..operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plants = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.expr("substring(text, 17)").alias("text"),
    )
    corpus = docs.unionByName(plants)
    frames = sample_frames(
        attach_blob(corpus), every_nth=1, frame_bytes=16, fake=True
    )
    # One materialization: the self-join would otherwise re-run the
    # frame-slicing mapInPandas per side (blocked-self-join idiom).
    fsets = (
        frames.select("doc_id", F.md5("frame").alias("fh"))
        .distinct()
        .localCheckpoint()
    )
    counts = fsets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    a, b = fsets.alias("a"), fsets.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fh") == F.col("b.fh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ca = counts.select(F.col("doc_id").alias("id_a"), F.col("nf").alias("na"))
    cb = counts.select(F.col("doc_id").alias("id_b"), F.col("nf").alias("nb"))
    jac = F.col("n_shared") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    ).cast("double")
    return (
        shared.join(ca, "id_a")
        .join(cb, "id_b")
        .filter(jac >= 0.5)
        .select(
            "id_a",
            "id_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization with ADC scoring: the third ANN tier after
# brute force and IVF — the memory-side compression story. Each 64-dim
# vector splits into _PQ_M=4 subvectors of 16 dims; a deterministic
# spherical k-means (the SAME machinery sim_ivf_kmeans_topk trains with,
# run per subspace) learns _KMEANS_K=8 centroids per subspace, and a
# vector's CODE is its 4 per-subspace nearest-centroid ids — 4 small ints
# standing in for 64 floats (PQ, Jegou et al. 2011). Asymmetric distance
# computation (ADC) scores a query against the code's RECONSTRUCTION
# (concatenated centroids): dot(q, recon) = sum over subspaces of
# dot(q_m, centroid_m), i.e. the classic per-subspace lookup-table sum —
# expressed here as one cosine against the reconstructed vector so the
# pinned round(4) cosine text is reused verbatim. The registered surface
# is recall@k of PQ-ADC vs exact brute force per query (the
# sim_ivf_recall idiom): the compression/quality trade as a
# driver-checked number. Scale: codebooks are 4 x 8 x 16 floats
# (constant, broadcast); encoding is one broadcast-centroid pass per
# subspace; at 100 TB the corpus stores 4 bytes/vector instead of 256
# and ADC scans codes with table lookups — the demonstrated quantizer is
# the deterministic, oracle-replayable core of that.
# ---------------------------------------------------------------------------

_PQ_M, _PQ_SUBDIM = 4, 16
_PQ_RECALL_K = 5

# Per-subspace oracle chain: the raw text names the SLICED relation `e`
# (so _kmeans_iter_sql drops in unchanged), then every CTE is word-boundary
# renamed with the subspace suffix and the slice CTE is prepended.
_PQ_RAW_CHAIN = f"""c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < {_KMEANS_K}),
    {_kmeans_iter_sql(1, 'c0')},
    {_kmeans_iter_sql(2, 'c1')},
    code AS (
        SELECT vec_id, bucket FROM (
            SELECT e.vec_id, c2.cent_id AS bucket,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({_DOT.format(a='e.v', b='c2.cv')}
                             / ({_NORM.format(a='e.v')} * {_NORM.format(a='c2.cv')}), 4)
                             DESC, c2.cent_id) AS crnk
            FROM e, c2)
        WHERE crnk = 1
    ),
    rc AS (SELECT p.vec_id, c.cv FROM code p JOIN c2 c ON c.cent_id = p.bucket)"""

_PQ_CTE_NAMES = ["e", "c0", "s1", "a1", "d1", "m1", "c1",
                 "s2", "a2", "d2", "m2", "c2", "code", "rc"]


def _pq_chain(m: int, src: str = "e") -> str:
    """One subspace's renamed train/encode/decode CTE chain. ``src`` is
    the relation the subvector slice reads from — "e" (raw vectors, the
    proven default whose renders are byte-frozen) or a residual relation
    (sim_ivfpq_residual_recall)."""
    lo, hi = m * _PQ_SUBDIM + 1, (m + 1) * _PQ_SUBDIM
    renamed = _rename_ctes(
        _PQ_RAW_CHAIN, {n: f"p{n}{m}" for n in _PQ_CTE_NAMES}
    )
    return (
        f"pe{m} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM {src}),\n    "
        + renamed
    )


_PQ_ADC_SQL = f"""
    WITH {_EMB_D},
    {','.join(_pq_chain(m) for m in range(_PQ_M))},
    recon AS (
        SELECT prc0.vec_id, prc0.cv || prc1.cv || prc2.cv || prc3.cv AS rv
        FROM prc0 JOIN prc1 USING (vec_id) JOIN prc2 USING (vec_id)
             JOIN prc3 USING (vec_id)
    ),
    ascored AS (
        SELECT q.vec_id AS q_id, r.vec_id AS n_id,
               round({_DOT.format(a='q.v', b='r.rv')}
                     / ({_NORM.format(a='q.v')} * {_NORM.format(a='r.rv')}), 4) AS cos
        FROM e q, recon r
        WHERE q.vec_id < 5 AND r.vec_id <> q.vec_id
    ),
    adc AS (
        SELECT q_id, n_id FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                                         ORDER BY cos DESC, n_id) AS rnk
            FROM ascored)
        WHERE rnk <= {_PQ_RECALL_K}
    ),
    pqbscored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id, {_COS_QC} AS cos
        FROM e q, e c
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    ),
    pqbrute AS (
        SELECT q_id, n_id FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                                         ORDER BY cos DESC, n_id) AS rnk
            FROM pqbscored)
        WHERE rnk <= {_PQ_RECALL_K}
    )
    SELECT b.q_id, CAST(count(a.n_id) AS BIGINT) AS hits,
           round(count(a.n_id) / {_PQ_RECALL_K}.0, 4) AS recall
    FROM pqbrute b LEFT JOIN adc a ON b.q_id = a.q_id AND b.n_id = a.n_id
    GROUP BY b.q_id
    """


def _pq_codebooks(emb: DataFrame) -> DataFrame:
    """(m, cent_id, cv): all _PQ_M per-subspace PQ codebooks — the same
    deterministic spherical k-means the per-subspace oracle chains replay
    (init = the k lowest-id subvectors, 2 Lloyd rounds, cosine round(4)
    assignment with lowest-cent_id tie-break, per-dim avg round(6)) —
    trained FUSED: one corpus pass per Lloyd iteration computes all
    four subspace assignments within the row (batched cosine kernel +
    within-row argmax against the 1-row folded codebook set), and ONE
    (m, bucket, ord) aggregation updates all four codebooks, where the
    previous shape ran four independent trainings = 4x the corpus scans,
    4x the shuffles, 4x the broadcast-chain materializations per
    iteration. Per-group members are identical to the per-subspace
    trainings (m = ord div SUBDIM partitions the exploded dims exactly
    as the slices did), so the round(6) means and every downstream
    round(4) cosine are unchanged."""
    base = emb.select("vec_id", "embedding")
    cents = None
    for m in range(_PQ_M):
        cm = base.filter(F.col("vec_id") < _KMEANS_K).select(
            F.lit(m).alias("m"),
            F.col("vec_id").alias("cent_id"),
            F.slice("embedding", m * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("cv"),
        )
        cents = cm if cents is None else cents.unionByName(cm)
    for _ in range(2):  # fixed Lloyd rounds, synced with _kmeans_iter_sql
        row = cents.agg(
            F.collect_list(F.struct("m", "cent_id", "cv")).alias("_call")
        )
        buckets = F.array(
            *[
                (-_pq_nearest(m)["neg_cent"])
                for m in range(_PQ_M)
            ]
        )
        assigned = (
            base.crossJoin(F.broadcast(row))
            .select(buckets.alias("_bks"), F.col("embedding"))
        )
        sm = (F.col("ord") / F.lit(_PQ_SUBDIM)).cast("int")
        per_dim = (
            assigned.select(
                "_bks", F.posexplode("embedding").alias("ord", "val")
            )
            .select(
                sm.alias("m"),
                F.element_at("_bks", sm + 1).alias("bucket"),
                "ord",
                "val",
            )
            .groupBy("m", "bucket", "ord")
            .agg(F.round(F.avg("val"), 6).alias("val"))
        )
        cents = (
            per_dim.groupBy("m", "bucket")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ord", "val"))),
                    lambda s: s["val"],
                ).alias("cv")
            )
            .select("m", F.col("bucket").alias("cent_id"), "cv")
            # k*_PQ_M-row lineage cut per round (the kmeans_centroids
            # idiom) so analyzed trees stay one iteration deep
            .localCheckpoint(eager=False)
        )
    return cents


def _pq_subspace_cents(m: int, all_col: str = "_call"):
    """Subspace m's array<struct<cent_id, cv>> sliced out of the 1-row
    folded (m, cent_id, cv) codebook set."""
    return F.transform(
        F.filter(F.col(all_col), lambda s: s["m"] == F.lit(m)),
        lambda s: F.struct(s["cent_id"].alias("cent_id"), s["cv"].alias("cv")),
    )


def _pq_nearest(m: int, all_col: str = "_call"):
    """Subspace m's winning struct(ccos, neg_cent, cv) for this row — the
    code (-neg_cent) AND its decode (cv) in one within-row argmax, exact
    max_by semantics (similarity._nearest_centroid_struct)."""
    from ..operators.similarity import _scored_cents

    return F.array_max(
        _scored_cents(
            F.slice("embedding", m * _PQ_SUBDIM + 1, _PQ_SUBDIM),
            _pq_subspace_cents(m, all_col),
        )
    )


def _pq_reconstruction(
    emb: DataFrame,
    out_col: str = "embedding",
    keep: tuple = (),
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, *keep, out_col): every vector's PQ RECONSTRUCTION — per
    subspace, train the deterministic k-means codebook, code each
    subvector as its nearest centroid, and concatenate the 4 looked-up
    centroids back into a 64-dim vector. The single definition
    sim_pq_adc_recall and sim_ivfpq_recall share: both oracles
    replay the same four renamed subspace chains, so both Spark sides
    must build the same reconstruction.

    Shape: the four codebooks fold to one broadcast row each
    (similarity._centroids_row) and code+decode happen WITHIN the row
    (array_max over struct(ccos, -cent_id, cv) — exactly a max_by
    tie-break, the winning struct's cv IS the decode), so the whole
    reconstruction is ONE map-side projection over the corpus, with no
    per-subspace corpus-wide argmax shuffle and no corpus-sized vec_id
    joins to stitch the four subspaces back together. Values are
    bit-identical (JVM cosine == cosine_pandas, verified on the full
    sf0.1 corpus). ``keep`` forwards
    extra input columns (e.g. the coarse bucket) so callers don't need a
    corpus-sized re-join to recover them. ``codebooks`` lets a caller
    train on an equal-valued but lineage-independent relation (e.g. the
    raw corpus rather than the coarse-assigned projection) so coarse and
    PQ trainings can overlap — the vectors are identical either way, so
    the codebooks are too. Scale: codebooks are
    _PQ_M x _KMEANS_K x _PQ_SUBDIM floats (constant, broadcast)."""
    cbs = codebooks if codebooks is not None else _pq_codebooks(emb)
    row = cbs.agg(
        F.collect_list(F.struct("m", "cent_id", "cv")).alias("_call")
    )
    return emb.crossJoin(F.broadcast(row)).select(
        "vec_id",
        *keep,
        F.concat(
            *[_pq_nearest(m)["cv"] for m in range(_PQ_M)]
        ).alias(out_col),
    )


@register("sim_pq_adc_recall", _PQ_ADC_SQL)
def sim_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{k} of PQ-ADC (4 subspaces x 8 centroids, reconstruction
    cosine) vs exact brute force, per query — the quantization-quality
    contract as a driver-checked number. The oracle replays all four
    subspace trainings (renamed kmeans CTE chains), the code assignment,
    the reconstruction, and both top-k rankings exactly.

    Honest quality note (the stride-centroid lesson again): testdata
    embeddings are uniform-random, the WORST case for vector quantization
    — no cluster structure to spend codebook entries on — so 64x
    compression recalls only ~0.2 here (measured: 8x8/k=8 and 4x16/k=16
    do no better). On real embedding manifolds (clustered, low intrinsic
    dimension) the same machinery is the standard ANN memory tier; the
    driver-checked content is the exact cross-engine replay of
    train/encode/ADC, not a quality claim."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    recon = _pq_reconstruction(emb)
    queries = emb.filter(F.col("vec_id") < 5)
    adc = brute_force_topk(recon, queries, k=_PQ_RECALL_K).select(
        "q_id", "n_id", F.lit(1).alias("hit")
    )
    brute = brute_force_topk(emb, queries, k=_PQ_RECALL_K).select(
        "q_id", "n_id"
    )
    return (
        brute.join(adc, ["q_id", "n_id"], "left_outer")
        .groupBy("q_id")
        .agg(
            F.count("hit").alias("hits"),
            F.round(F.count("hit") / float(_PQ_RECALL_K), 4).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ composition: the production ANN tier the
# two existing pieces imply — a coarse IVF quantizer restricts each query to
# its 2 probed buckets (the _IVF_COARSE_CTES machinery, unchanged), and
# WITHIN those buckets candidates are scored by ADC against their PQ
# reconstructions instead of their raw vectors (the _pq_chain machinery,
# unchanged). That is the standard IVFADC layout (Jegou et al. 2011; FAISS
# IVF-PQ): the index stores bucket id + 4-byte code per vector, so at
# 100 TB a probe touches probe/k of the corpus AND reads 64x-compressed
# codes — partition pruning from IVF, memory compression from PQ. The
# registered surface is recall@k vs exact brute force per query,
# completing the measured ANN ladder: brute (1.0) -> IVF -> PQ -> IVF-PQ.
# Recall here compounds BOTH approximations; on uniform-random testdata
# (the documented worst case for quantization) it lands at ~0.2-0.4,
# slightly below PQ alone — the driver-checked content is the exact
# cross-engine replay of coarse training + subspace trainings + encode +
# restricted ADC ranking, not a quality claim.
# ---------------------------------------------------------------------------

# Coarse probe + PQ reconstruction + restricted ADC scoring — the chain
# shared by sim_ivfpq_recall (recall surface) and stream_ivfpq_probe (the
# at-ingest serving surface ranks qscored directly).
_IVFPQ_BASE_CTES = f"""{_IVF_COARSE_CTES},
    {','.join(_pq_chain(m) for m in range(_PQ_M))},
    recon AS (
        SELECT prc0.vec_id, prc0.cv || prc1.cv || prc2.cv || prc3.cv AS rv
        FROM prc0 JOIN prc1 USING (vec_id) JOIN prc2 USING (vec_id)
             JOIN prc3 USING (vec_id)
    ),
    qscored AS (
        SELECT p.q_id, a.vec_id AS n_id,
               round({_DOT.format(a='p.qv', b='r.rv')}
                     / ({_NORM.format(a='p.qv')} * {_NORM.format(a='r.rv')}), 4) AS cos
        FROM probed p JOIN assigned a ON p.bucket = a.bucket
             JOIN recon r ON r.vec_id = a.vec_id
        WHERE a.vec_id <> p.q_id
    )"""

# The serving surface: each query's IVF-PQ top-k (q_id, n_id, cos, rnk) —
# what a probe actually returns; sim_ivfpq_recall audits its quality.
_IVFPQ_TOPK_SQL = f"""
    WITH {_EMB_D},
    {_IVFPQ_BASE_CTES}
    SELECT q_id, n_id, cos + 0 AS cos, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, n_id) AS rnk
        FROM qscored)
    WHERE rnk <= {_PQ_RECALL_K}
    """

def _ivfpq_recall_sql(base_ctes: str, e_cte: str = _EMB_D) -> str:
    """ONE recall-vs-brute scaffold (rank qscored -> exact brute top-k ->
    per-query hit count) shared by the raw and residual IVF-PQ oracles
    (so the ~35-line scaffold is never restated).
    ``base_ctes`` must end by defining qscored(q_id, n_id, cos).

    ``e_cte`` swaps the corpus definition — it must end by defining
    e(vec_id, v); the default keeps every existing render byte-identical.
    sim_ivfpq_clustered_recall passes the synthesized clustered corpus."""
    return f"""
    WITH {e_cte},
    {base_ctes},
    ivfpq AS (
        SELECT q_id, n_id FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                                         ORDER BY cos DESC, n_id) AS rnk
            FROM qscored)
        WHERE rnk <= {_PQ_RECALL_K}
    ),
    qbscored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id, {_COS_QC} AS cos
        FROM e q, e c
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    ),
    qbrute AS (
        SELECT q_id, n_id FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                                         ORDER BY cos DESC, n_id) AS rnk
            FROM qbscored)
        WHERE rnk <= {_PQ_RECALL_K}
    )
    SELECT b.q_id, CAST(count(a.n_id) AS BIGINT) AS hits,
           round(count(a.n_id) / {_PQ_RECALL_K}.0, 4) AS recall
    FROM qbrute b LEFT JOIN ivfpq a ON b.q_id = a.q_id AND b.n_id = a.n_id
    GROUP BY b.q_id
    """


_IVFPQ_SQL = _ivfpq_recall_sql(_IVFPQ_BASE_CTES)


@register("sim_ivfpq_recall", _IVFPQ_SQL)
def sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{k} of IVF-PQ (coarse k-means probe restricts candidates to
    2 of 8 buckets; ADC scores them against 4x16-dim PQ reconstructions)
    vs exact brute force, per query. The oracle replays the coarse
    training (shared _IVF_COARSE_CTES — the exact text sim_ivf_kmeans_topk
    is driver-proven on), all four subspace trainings (shared _pq_chain),
    the code assignment, the reconstruction, and both rankings.

    Plan at scale: coarse centroids and the 4 codebooks are constants
    (broadcast); `probed` is |queries| x n_probe rows (broadcast); the
    bucket-restricted candidate join then reads only probed partitions of
    the assignment, and the reconstruction join is corpus-proportional
    hence UNHINTED (the FIXED-K rule) — in production the recon column IS
    the stored 4-byte code decoded on the fly, which is the 64x memory
    cut that makes 100 TB ANN serveable."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _ivfpq_recall_frame(emb)


def _ivfpq_recall_frame(emb: DataFrame) -> DataFrame:
    """Per-query (q_id, hits, recall) of IVF-PQ vs exact brute force over
    ``emb`` (vec_id, embedding) — the ONE Spark-side recall body, so
    sim_ivfpq_recall and sim_ivfpq_clustered_recall (the synthesized
    clustered corpus) run the identical ranker."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine_pandas
    from ..operators.similarity import (
        assign_buckets,
        kmeans_centroids,
        probe_buckets,
    )

    from ..engine import materialize, run_parallel

    queries = emb.filter(F.col("vec_id") < 5)
    # The coarse quantizer and the four PQ codebooks train on the SAME
    # corpus but independently of each other — train them in parallel
    # driver threads. The thunks MATERIALIZE their chains
    # (engine.materialize = one k-row count through the lazy-checkpoint
    # cut), so the overlap is genuine — lazy-construction thunks would
    # run no jobs and the trainings would still serialize at the first
    # consuming action. Training the codebooks
    # on emb rather than the coarse-assigned projection is value-
    # identical (same vectors) and keeps the chains independent.
    coarse, cbs = run_parallel(
        lambda: materialize(kmeans_centroids(emb, k=_KMEANS_K, iterations=2)),
        lambda: materialize(_pq_codebooks(emb)),
    )
    cent_as_emb = coarse.select(
        F.col("cent_id").alias("vec_id"), F.col("cv").alias("embedding")
    )
    # Coarse bucket + PQ reconstruction computed in ONE map-side
    # corpus pass (the coded catalog — bucket forwarded through
    # _pq_reconstruction's keep, so no corpus-sized assigned ⋈ recon
    # vec_id join remains; same rows, both relations were 1:1 on vec_id).
    probed = probe_buckets(queries, cent_as_emb, n_probe=2)
    catalog = _pq_reconstruction(
        assign_buckets(emb, cent_as_emb),
        out_col="rv",
        keep=("bucket",),
        codebooks=cbs,
    )
    cand = (
        F.broadcast(probed)
        .join(catalog, "bucket")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.round(cosine_pandas("qv", "rv"), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    ivfpq = (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _PQ_RECALL_K)
        .select("q_id", "n_id", F.lit(1).alias("hit"))
    )
    brute = brute_force_topk(emb, queries, k=_PQ_RECALL_K).select(
        "q_id", "n_id"
    )
    return (
        brute.join(ivfpq, ["q_id", "n_id"], "left_outer")
        .groupBy("q_id")
        .agg(
            F.count("hit").alias("hits"),
            F.round(F.count("hit") / float(_PQ_RECALL_K), 4).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Residual IVF-PQ: the textbook IVFADC detail sim_ivfpq_recall
# omits — PQ codebooks train on and encode RESIDUALS v - coarse_centroid(v)
# instead of raw vectors, and ADC scores queries against coarse_cv +
# decoded_residual. Residuals concentrate around zero once the coarse
# quantizer absorbs the vector's bucket-level position, so the same
# 4 x 8-entry codebooks spend their resolution on a much smaller spread —
# measured here: mean recall@5 0.36 vs raw IVF-PQ's 0.24 at sf0.01, on
# uniform-random data where quantization is hardest (the honest-surface
# convention). All arithmetic stays bit-deterministic: the residual is an
# exact IEEE subtraction per dimension (list_zip x[1]-x[2] == zip_with
# x - y), the reconstruction an exact addition, and the shared kmeans /
# cosine machinery is unchanged — so the oracle replays coarse training,
# residualization, all four residual-subspace trainings (_pq_chain with
# src='res'), decode, and both rankings exactly.
# ---------------------------------------------------------------------------

_IVFPQ_RES_BASE_CTES = f"""{_IVF_COARSE_CTES},
    res AS (
        SELECT a.vec_id,
               list_transform(list_zip(a.v, c.cv), x -> x[1] - x[2]) AS v
        FROM assigned a JOIN c2 c ON c.cent_id = a.bucket
    ),
    {','.join(_pq_chain(m, src='res') for m in range(_PQ_M))},
    rres AS (
        SELECT prc0.vec_id, prc0.cv || prc1.cv || prc2.cv || prc3.cv AS rv
        FROM prc0 JOIN prc1 USING (vec_id) JOIN prc2 USING (vec_id)
             JOIN prc3 USING (vec_id)
    ),
    recon AS (
        SELECT rr.vec_id,
               list_transform(list_zip(c.cv, rr.rv), x -> x[1] + x[2]) AS rv
        FROM rres rr JOIN assigned a ON a.vec_id = rr.vec_id
             JOIN c2 c ON c.cent_id = a.bucket
    ),
    qscored AS (
        SELECT p.q_id, a.vec_id AS n_id,
               round({_DOT.format(a='p.qv', b='r.rv')}
                     / ({_NORM.format(a='p.qv')} * {_NORM.format(a='r.rv')}), 4) AS cos
        FROM probed p JOIN assigned a ON p.bucket = a.bucket
             JOIN recon r ON r.vec_id = a.vec_id
        WHERE a.vec_id <> p.q_id
    )"""

_IVFPQ_RES_SQL = _ivfpq_recall_sql(_IVFPQ_RES_BASE_CTES)


# ---------------------------------------------------------------------------
# Scalar-quantization recall: sim_quantize_int8 ships the 4x int8
# codes with a per-dimension error bound, but no RANKING-quality number —
# this closes the compression-recall table with the same recall@k surface
# every other tier reports (brute 1.0 | int8 ~1.0 at 4x | IVF | PQ ~0.2 at
# 64x | IVF-PQ), so "which tier do I store" is a measured trade, not a
# guess. Candidates are ranked by cosine against their DEQUANTIZED vectors
# round(127*x/scale) * scale/127 — the exact reconstruction the stored
# codes imply; the round-trip arithmetic is the proven sim_quantize_int8
# expression (its q-value parity is oracle-checked), so the oracle replays
# quantize -> dequantize -> both rankings exactly via the shared
# _ivfpq_recall_sql scaffold.
# ---------------------------------------------------------------------------

_SQ8_BASE_CTES = f"""sq AS (
        SELECT vec_id, v,
               greatest(list_max(list_transform(v, x -> abs(x))), 1e-12)
                   AS scale
        FROM e
    ),
    dq AS (
        SELECT vec_id,
               list_transform(v, x ->
                   round({_QUANT_LEVELS} * x / scale) * scale
                       / {_QUANT_LEVELS}) AS rv
        FROM sq
    ),
    qscored AS (
        SELECT q.vec_id AS q_id, r.vec_id AS n_id,
               round({_DOT.format(a='q.v', b='r.rv')}
                     / ({_NORM.format(a='q.v')} * {_NORM.format(a='r.rv')}), 4) AS cos
        FROM e q, dq r
        WHERE q.vec_id < 5 AND r.vec_id <> q.vec_id
    )"""

_SQ8_RECALL_SQL = _ivfpq_recall_sql(_SQ8_BASE_CTES)


@register("sim_sq8_recall", _SQ8_RECALL_SQL)
def sim_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{k} of int8 scalar quantization vs exact brute force, per
    query: candidates rank by cosine against their dequantized vectors.
    Measured ~1.0 — symmetric per-vector int8 barely moves cosine order,
    which is exactly the storage-tier story: 4x compression ~ free
    recall, 64x (PQ) costs recall, and the table makes the trade
    explicit. Scale: dequantization is a zero-exchange projection; the
    ranking plan is brute force's (broadcast queries, one corpus pass,
    per-query top-k)."""
    from ..functions.vectors import cosine_pandas  # noqa: F401 (doc link)

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    v = F.col("embedding")
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12)
    )
    dq = emb.select(
        "vec_id",
        F.transform(
            v,
            lambda x: F.round(F.lit(_QUANT_LEVELS) * x / scale)
            * scale / _QUANT_LEVELS,
        ).alias("embedding"),
    )
    sq8 = brute_force_topk(dq, queries, k=_PQ_RECALL_K).select(
        "q_id", "n_id", F.lit(1).alias("hit")
    )
    brute = brute_force_topk(emb, queries, k=_PQ_RECALL_K).select(
        "q_id", "n_id"
    )
    return (
        brute.join(sq8, ["q_id", "n_id"], "left_outer")
        .groupBy("q_id")
        .agg(
            F.count("hit").alias("hits"),
            F.round(F.count("hit") / float(_PQ_RECALL_K), 4).alias("recall"),
        )
    )


@register("sim_ivfpq_residual_recall", _IVFPQ_RES_SQL)
def sim_ivfpq_residual_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{k} of RESIDUAL IVF-PQ vs exact brute force — the full
    IVFADC layout: coarse probe restricts candidates, PQ codes encode the
    residual v - coarse_cv, ADC scores against coarse_cv + decoded
    residual. Compare sim_ivfpq_recall (raw-subvector codes): residual
    coding lifts mean recall 0.24 -> 0.36 at sf0.01 on the uniform-random
    worst case, because the coarse quantizer absorbs bucket-level
    position and the codebooks quantize the remaining small spread. Same
    constant-size trained relations (8 coarse centroids + 4x8 residual
    codebooks, broadcast); the corpus-proportional residual/reconstruction
    relations stay UNHINTED."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine_pandas
    from ..operators.similarity import (
        assign_buckets,
        kmeans_centroids,
        probe_buckets,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5)
    coarse = kmeans_centroids(emb, k=_KMEANS_K, iterations=2)
    cent_as_emb = coarse.select(
        F.col("cent_id").alias("vec_id"), F.col("cv").alias("embedding")
    )
    # Lazy lineage cut (the kmeans_centroids idiom): res is sliced by all
    # four subspace trainings plus the catalog projection — without the
    # cut one action replays the residual derivation many times over.
    # At cluster scale this is "write the residual table once". The
    # assignment itself is a map-side projection with zero exchanges;
    # keep_cv forwards the winning centroid's vector
    # in the SAME row (the within-row argmax already holds it), so the
    # residual subtraction and the later coarse_cv + decoded-residual add
    # need NO bucket ⋈ centroid broadcast joins at all — bucket, cv and
    # the decoded residual travel in ONE catalog row via
    # _pq_reconstruction's keep (two BroadcastHashJoins fewer than
    # re-joining bucket and centroid).
    res = (
        assign_buckets(emb, cent_as_emb, keep_cv=True)
        .select(
            "vec_id",
            F.zip_with("embedding", "cv", lambda x, y: x - y)
            .alias("embedding"),
            "bucket",
            "cv",
        )
        .localCheckpoint(eager=False)
    )
    catalog = _pq_reconstruction(
        res, out_col="rres", keep=("bucket", "cv")
    ).select(
        "vec_id",
        "bucket",
        F.zip_with("cv", "rres", lambda x, y: x + y).alias("rv"),
    )
    probed = probe_buckets(queries, cent_as_emb, n_probe=2)
    cand = (
        F.broadcast(probed)
        .join(catalog, "bucket")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.round(cosine_pandas("qv", "rv"), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    ivfpq = (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _PQ_RECALL_K)
        .select("q_id", "n_id", F.lit(1).alias("hit"))
    )
    brute = brute_force_topk(emb, queries, k=_PQ_RECALL_K).select(
        "q_id", "n_id"
    )
    return (
        brute.join(ivfpq, ["q_id", "n_id"], "left_outer")
        .groupBy("q_id")
        .agg(
            F.count("hit").alias("hits"),
            F.round(F.count("hit") / float(_PQ_RECALL_K), 4).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Clustered-corpus ANN recall: every quantized
# recall surface above is measured on uniform-random embeddings —
# quantization's documented WORST case (~0.2-0.4 recall), where a broken
# ranker also scores ~0.2, so those numbers cannot distinguish a correct
# ANN from a garbage one. This surface synthesizes a deterministic
# CLUSTERED corpus IN-QUERY and runs the identical IVF-PQ ranker on it:
# vector v = concat over the _PQ_M subspaces of prototype slice d_m(v),
# where the prototypes are the first _CLUSTER_PROTOS REAL embeddings and
# d_m(v) = ((2m+1)*v + m*(v div _CLUSTER_PROTOS)) % _CLUSTER_PROTOS.
# Properties, all load-bearing:
#   * ZERO float arithmetic — pure slice/concat recombination of cast
#     doubles, so the oracle replays the synthesis bit-exactly;
#   * vec_ids 0..7 cover all 8 prototypes in EVERY subspace ((2m+1) odd
#     -> v*(2m+1) % 8 is a bijection on 0..7), so the per-subspace PQ
#     k-means — seeded with vec_id < _KMEANS_K — starts with one seed per
#     prototype and converges onto the prototype set: _CLUSTER_PROTOS ==
#     _KMEANS_K is what lets the codebook RECOVER the corpus structure;
#   * the (v % 8, (v div 8) % 8) pair indexes 64 distinct combo clusters
#     (d_0 recovers the first digit, d_1 - 3*d_0 the second) of ~8 exact
#     members each at n=500, so each query's true top-5 are same-cluster
#     neighbors separated from other clusters by O(1) cosine gaps —
#     quantization error (<= 1e-6 from the rounded codebooks) is far below
#     the structure, the opposite regime from the uniform fixtures.
# Measured (test_clustered_recall_bound_and_tier_order): mean recall@5
# 1.0 at sf0.01 vs ~0.2-0.4 uniform — a broken ranker scores ~5/corpus,
# so this is the number that finally separates correct from broken.
# ---------------------------------------------------------------------------

_CLUSTER_PROTOS = _KMEANS_K  # load-bearing equality, see above


def _clustered_digit(m: int):
    """Subspace m's prototype index for the synthesized clustered corpus:
    ((2m+1)*vec_id + m*(vec_id div P)) % P, P = _CLUSTER_PROTOS. Odd
    multiplier -> seeds 0..P-1 hit every prototype in every subspace."""
    v = F.col("vec_id")
    return (
        (2 * m + 1) * v + m * F.expr(f"vec_id div {_CLUSTER_PROTOS}")
    ) % _CLUSTER_PROTOS


def _clustered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding): the deterministic in-query clustered corpus —
    each vector recombines subspace slices of the first _CLUSTER_PROTOS
    real embeddings (cast to double BEFORE any use, matching the oracle's
    CAST-then-slice). Four broadcast joins against an 8-row prototype
    relation; no float arithmetic anywhere."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    proto = emb.filter(F.col("vec_id") < _CLUSTER_PROTOS)
    cur = emb.select("vec_id")
    for m in range(_PQ_M):
        pm = proto.select(
            F.col("vec_id").alias(f"p{m}"),
            F.slice("embedding", m * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias(
                f"pv{m}"
            ),
        )
        cur = cur.join(
            F.broadcast(pm), _clustered_digit(m) == F.col(f"p{m}")
        ).drop(f"p{m}")
    return cur.select(
        "vec_id",
        F.concat(*[F.col(f"pv{m}") for m in range(_PQ_M)]).alias("embedding"),
    )


_CLUSTERED_E_CTE = f"""eraw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    proto AS (SELECT vec_id AS p_id, v AS pv FROM eraw WHERE vec_id < {_CLUSTER_PROTOS}),
    e AS (
        SELECT r.vec_id,
               {' || '.join(f'p{m}.pv[{m * _PQ_SUBDIM + 1}:{(m + 1) * _PQ_SUBDIM}]' for m in range(_PQ_M))} AS v
        FROM eraw r
        {' '.join(f'JOIN proto p{m} ON p{m}.p_id = ({2 * m + 1} * r.vec_id + {m} * (r.vec_id // {_CLUSTER_PROTOS})) % {_CLUSTER_PROTOS}' for m in range(_PQ_M))}
    )"""

_IVFPQ_CLUSTERED_SQL = _ivfpq_recall_sql(
    _IVFPQ_BASE_CTES, e_cte=_CLUSTERED_E_CTE
)


@register("sim_ivfpq_clustered_recall", _IVFPQ_CLUSTERED_SQL)
def sim_ivfpq_clustered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{k} of the IDENTICAL IVF-PQ ranker (_ivfpq_recall_frame —
    the exact body sim_ivfpq_recall is driver-proven on) over the
    deterministic clustered corpus synthesized in-query (header comment):
    the quality surface where recall is HIGH because the ranker genuinely
    recovers true neighbors — quantization error sits far below the
    cluster structure — while a broken ranker still scores ~0. Bound
    (mean recall >= 0.8) and the tier ordering vs sq8/raw-PQ on the same
    corpus are pinned by test_clustered_recall_bound_and_tier_order.

    Scale: the synthesis is four broadcast joins against a constant 8-row
    prototype relation (FIXED-K), then the proven IVF-PQ plan unchanged;
    the oracle replays synthesis + coarse training + all four subspace
    trainings + encode + both rankings via the shared _ivfpq_recall_sql
    scaffold with only the e CTE swapped. The corpus is lazily
    checkpointed (the sim_ivfpq_residual_recall lineage-cut idiom): the
    recall frame consumes it from seven relations, and without the cut
    each re-derives the synthesis joins (A/B at sf0.1: 8.3-10.2s ->
    6.4-7.0s); at cluster scale this is 'write the synthesized table
    once'."""
    return _ivfpq_recall_frame(
        _clustered_corpus(spark, sf_dir).localCheckpoint(eager=False)
    )
