"""Training-data text-prep queries: decontamination, repetition
profiling, BM25 retrieval, sequence packing, PMI collocations.

These extend the LLM-pipeline surface of plans/llm.py with the remaining
stages a large-scale pretraining pipeline runs between dedup and
tokenization: strip eval-set contamination, drop degenerate repetitious
docs, retrieve/inspect by lexical relevance, pack documents into
fixed-length training sequences, and mine collocations for tokenizer /
quality diagnostics. All arithmetic is reproduced exactly in the DuckDB
oracles (same conventions as plans/llm.py: md5-free integer/double math,
identical aliases, round(4) on float aggs, BIGINT casts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import shingles_from_words
from ..operators.packing import pack_greedy
from ..sources import load_table
from . import hex_bigint_sql, register

# ---------------------------------------------------------------------------
# Decontamination: flag corpus docs sharing any word 5-gram with a
# benchmark/eval set. The eval set here is derived deterministically from
# the corpus itself (the leading 40% of every 11th doc — simulating eval
# questions quoted from source documents) so the operator's positive path
# is observable without external fixtures.
#
# Scale: the benchmark n-gram set is tiny relative to the corpus (eval
# suites are MBs, corpora are TBs) — broadcast it and the whole check is a
# map-side semi-join over the corpus n-gram explode: no shuffle of corpus
# data at all. The groupBy(doc_id) that counts hits shuffles only the HIT
# rows, which is ~|contaminated docs|, not |corpus|.
# ---------------------------------------------------------------------------

_DECON_N = 5  # eval snippets are >= 40% of a >=10-word doc; 5-grams exist
              # for snippets of >= 5 words (docs >= 13 words)

_BENCH_GRAMS_CTE = f"""
bench AS (
    SELECT doc_id AS bench_id,
           substring(text, 1, CAST(floor(2*length(text)/5.0) AS INT)) AS snippet
    FROM documents WHERE doc_id % 11 = 0
),
bw AS (SELECT bench_id, string_split(snippet, ' ') AS w FROM bench),
bench_grams AS (
    SELECT DISTINCT bench_id,
           unnest(list_transform(generate_series(1, greatest(len(w) - {_DECON_N - 1}, 0)),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
               AS gram
    FROM bw
)"""


def _bench_grams_df(docs):
    """Distinct (bench_id, gram) eval-snippet n-grams — the SINGLE Spark
    definition of the benchmark set shared by text_decontaminate,
    stream_decontaminate, and pipeline_pretrain_v2 (the SQL twin is
    _BENCH_GRAMS_CTE). Changing the snippet fraction, the %11 eval-doc
    selector, or _DECON_N here changes every consumer in lockstep."""
    snippet = F.expr(
        "substring(text, 1, CAST(floor(2*length(text)/5.0) AS INT))"
    )
    return (
        docs.filter(F.col("doc_id") % 11 == 0)
        .select(F.col("doc_id").alias("bench_id"), F.split(snippet, " ").alias("_w"))
        .select(
            "bench_id",
            F.explode(shingles_from_words("_w", _DECON_N)).alias("gram"),
        )
        .distinct()
    )


def _md5_gate(h):
    """First-byte value (0..255) of an md5 hex Column — the Spark twin of
    the strpos-nibble SQL idiom (DuckDB has no conv())."""
    nib1 = F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1
    nib2 = F.instr(F.lit("0123456789abcdef"), F.substring(h, 2, 1)) - 1
    return nib1 * 16 + nib2


def _hash256(col):
    """Deterministic 8-bit gate value from md5 of a (castable) id column —
    the single Spark twin of _HASH256_SQL."""
    return _md5_gate(F.md5(F.col(col).cast("string")))


def _gate_sql(md5_expr: str) -> str:
    """First-byte value (0..255) of an md5 hex SQL expression — the single
    strpos-nibble idiom (SQL twin of _md5_gate); every hash gate below
    derives from this one definition."""
    return (
        f"((strpos('0123456789abcdef', substring({md5_expr}, 1, 1)) - 1) * 16 + "
        f"(strpos('0123456789abcdef', substring({md5_expr}, 2, 1)) - 1))"
    )


@register(
    "text_decontaminate",
    f"""
    WITH {_BENCH_GRAMS_CTE.strip()},
    cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    corpus_grams AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(w) - {_DECON_N - 1}, 0)),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
                   AS gram
        FROM cw
    )
    SELECT c.doc_id,
           CAST(count(DISTINCT c.gram) AS BIGINT) AS n_hit_ngrams,
           CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
    FROM corpus_grams c JOIN bench_grams b ON c.gram = b.gram
    GROUP BY c.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-overlap decontamination: per corpus doc, how many distinct
    word 5-grams collide with the (broadcast) eval-snippet n-gram set, and
    how many distinct eval items are implicated. Docs with no overlap are
    absent (the clean majority never leaves the map side)."""
    docs = load_table(spark, sf_dir, "documents")
    bench_grams = _bench_grams_df(docs)
    corpus_grams = (
        docs.select("doc_id", F.split("text", " ").alias("_w"))
        .select("doc_id", F.explode(shingles_from_words("_w", _DECON_N)).alias("gram"))
        .distinct()
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_hit_ngrams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination sketch: the membership member of the
# deterministic-sketch family (count-min = frequency, histogram =
# quantiles, HLL = distinct, Bloom = membership). text_decontaminate
# broadcasts the raw eval n-gram SET; at 100 TB-of-eval-suites scale you
# broadcast its BLOOM FILTER instead — a fixed bit array with one-sided
# error (never misses a contaminated gram; a tunable few percent of clean
# grams false-positive into a rescreen). Determinism: k=_BLOOM_K md5-derived
# positions per gram, and the filter is SELF-SIZING — m = the next power of
# two >= 8*n (n = |eval grams|), computed IN-QUERY from bin() bit-length
# (pure integer/string ops, both engines), the same adapt-to-data move as
# the quantile sketch's (min,max) grid. Power-of-two m keeps `w % m`
# unbiased (w = 24 uniform hash bits) and the fill factor ~27% / FP ~2-3%
# at EVERY corpus scale, until the _BLOOM_M_CAP=2^22 bound (the FIXED-K
# broadcast discipline: the bits relation never exceeds 4M rows — beyond
# that a production deployment re-sizes m, documented, not silently
# degraded). The driver-checked error surface is n_false_pos >= 0 per doc
# (one-sided-error pinned by test_bloom_never_misses; OR-mergeability of
# the bit set by test_bloom_bits_merge).
# ---------------------------------------------------------------------------

_BLOOM_K = 3
_BLOOM_M_CAP = 4194304  # 2^22


def _bloom_w6_sql(h: str) -> str:
    """First 6 hex chars of ``h`` (24 bits) as BIGINT — the shared
    strpos-nibble generator (plans.hex_bigint_sql)."""
    return hex_bigint_sql(h, 1, 6)


_BLOOM_H_SQL = "md5('bloom' || j || ':' || gram)"


@register(
    "sketch_bloom_decontaminate",
    f"""
    WITH {_BENCH_GRAMS_CTE.strip()},
    bg AS (SELECT DISTINCT gram FROM bench_grams),
    mrel AS (SELECT least(1::BIGINT << CAST(length(bin(8*count(*) - 1)) AS INT),
                          {_BLOOM_M_CAP}) AS m FROM bg),
    js AS (SELECT unnest(range(0, {_BLOOM_K})) AS j),
    bits AS (SELECT DISTINCT ({_bloom_w6_sql(_BLOOM_H_SQL)} % m) AS pos
             FROM bg CROSS JOIN js CROSS JOIN mrel),
    cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    corpus_grams AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(w) - {_DECON_N - 1}, 0)),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
                   AS gram
        FROM cw
    ),
    probes AS (SELECT doc_id, gram, j, ({_bloom_w6_sql(_BLOOM_H_SQL)} % m) AS pos
               FROM corpus_grams CROSS JOIN js CROSS JOIN mrel),
    bloomhit AS (
        SELECT doc_id, gram FROM probes JOIN bits USING (pos)
        GROUP BY doc_id, gram HAVING count(*) = {_BLOOM_K}
    ),
    exact AS (SELECT c.doc_id, c.gram
              FROM corpus_grams c JOIN bg ON c.gram = bg.gram),
    bagg AS (SELECT doc_id, count(*) AS n_bloom_hits FROM bloomhit GROUP BY doc_id),
    eagg AS (SELECT doc_id, count(*) AS n_exact_hits FROM exact GROUP BY doc_id)
    SELECT bagg.doc_id,
           CAST(n_bloom_hits AS BIGINT) AS n_bloom_hits,
           CAST(coalesce(n_exact_hits, 0) AS BIGINT) AS n_exact_hits,
           CAST(n_bloom_hits - coalesce(n_exact_hits, 0) AS BIGINT) AS n_false_pos
    FROM bagg LEFT JOIN eagg ON eagg.doc_id = bagg.doc_id
    """,
)
def sketch_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per corpus doc: distinct 5-grams flagged by the eval-set Bloom
    filter vs flagged by the exact set, with the false-positive count as
    the one-sided-error surface (n_false_pos >= 0 always; a miss would go
    negative and can never happen).

    Plan shape: the SKETCH sides that reach the corpus-gram explode —
    the bits relation (<= min(3n, m) rows, constant-bounded by
    _BLOOM_M_CAP) and the 1-row m config — are broadcast-hinted; the
    exact AUDIT arm joins the raw gram set UNHINTED (it grows with the
    eval suite, so the planner chooses from its checkpointed stats — the
    stream-static-join rule; at true scale you drop the audit arm and
    ship only the sketch). bg feeds FOUR consumers (m config, bits
    build, exact arm), so it is checkpointed once (lazily it would
    re-derive the bench-gram explode per consumer — six documents scans
    in one query). The corpus explode stays lazy: its two consumers are
    one-pass arms (the text_decontaminate shape), and materializing a
    corpus-proportional relation costs more than the second scan."""
    docs = load_table(spark, sf_dir, "documents")
    bg = _bench_grams_df(docs).select("gram").distinct().localCheckpoint()
    mrel = bloom_m(bg)
    bits = bloom_bits(bg, mrel)
    corpus = bloom_corpus_grams(docs)
    bloomhit = (
        _bloom_positions(corpus.join(F.broadcast(mrel)), "doc_id", "gram")
        .join(F.broadcast(bits), "pos")
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("k_set"))
        .filter(F.col("k_set") == _BLOOM_K)
        .select("doc_id", "gram")
    )
    return bloom_score(spark, sf_dir, bloomhit, bg)


def bloom_corpus_grams(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, gram) of the corpus — the relation both the probe
    and the exact audit arm explode (text_decontaminate's gram shape)."""
    return (
        docs.select("doc_id", F.split("text", " ").alias("_w"))
        .select("doc_id",
                F.explode(shingles_from_words("_w", _DECON_N)).alias("gram"))
        .distinct()
    )


def bloom_score(
    spark: SparkSession, sf_dir: str, bloomhit: DataFrame, bg: DataFrame
) -> DataFrame:
    """Per-doc collapse + exact audit arm against a GIVEN (doc_id, gram)
    bloom-hit relation — the single scoring definition the batch and
    streaming twins share (the cms_score / quantile_score / hll_score
    idiom). Re-derives the corpus gram explode for the audit arm (the
    documented one-pass-arms tradeoff: materializing a corpus-proportional
    relation costs more than the second scan, and at true scale the audit
    arm is dropped entirely — only the sketch probe ships).

    No distinct on the audit arm: the corpus explode is already distinct
    on (doc_id, gram) and bg on gram, so the equi-join cannot duplicate
    (an extra aggregation would buy nothing)."""
    corpus = bloom_corpus_grams(load_table(spark, sf_dir, "documents"))
    exact = corpus.join(bg, "gram").select("doc_id", "gram")
    bagg = bloomhit.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bloom_hits")
    )
    eagg = exact.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_exact_hits")
    )
    return bagg.join(eagg, "doc_id", "left").select(
        "doc_id",
        F.col("n_bloom_hits").cast("long").alias("n_bloom_hits"),
        F.coalesce("n_exact_hits", F.lit(0)).cast("long")
        .alias("n_exact_hits"),
        (F.col("n_bloom_hits") - F.coalesce("n_exact_hits", F.lit(0)))
        .cast("long")
        .alias("n_false_pos"),
    )


def bloom_m(bg: DataFrame) -> DataFrame:
    """The 1-row self-sizing config: m = next power of two >= 8*|grams|,
    capped at _BLOOM_M_CAP. Pure integer/string ops (bin() bit-length both
    engines), so the size is part of the deterministic sketch.

    Requires |grams| >= 1 (guaranteed: the %11 eval selector always
    matches testdata docs). An EMPTY gram set would hit bin(-1) -> 64-bit
    shift, where Java (shift & 63) and DuckDB disagree — don't reuse this
    expression on possibly-empty relations. The same mask divergence
    bounds the top end: the expression is engine-identical only while
    length(bin(8n-1)) < 63, i.e. |grams| < 2^59 — Java shiftleft masks the
    shift width (&63) while DuckDB does not. Far beyond _BLOOM_M_CAP's
    intent, but the validity bound belongs next to the n >= 1 one
."""
    return bg.agg(F.count(F.lit(1)).alias("n")).select(
        F.least(
            F.expr(
                "shiftleft(CAST(1 AS BIGINT),"
                " CAST(length(bin(8 * n - 1)) AS INT))"
            ),
            F.lit(_BLOOM_M_CAP).cast("long"),
        ).alias("m")
    )


def _bloom_positions(with_m: DataFrame, *keep: str) -> DataFrame:
    """Explode j=0.._BLOOM_K-1 and project each row's bit position
    pos = (24 md5 bits of 'bloom<j>:<gram>') % m — the single position
    definition the build and probe sides share."""
    js = F.explode(F.array(*[F.lit(j) for j in range(_BLOOM_K)])).alias("j")
    h = F.md5(
        F.concat(F.lit("bloom"), F.col("j").cast("string"), F.lit(":"),
                 F.col("gram"))
    )
    w6 = F.conv(F.substring(h, 1, 6), 16, 10).cast("long")
    return with_m.select(*keep, "m", js).select(
        *keep, (w6 % F.col("m")).alias("pos")
    )


def bloom_pos_col(gram_col, m_col, j: int):
    """Bit position for hash index ``j`` as a COLUMN:
    pos{j} = (24 md5 bits of 'bloom<j>:<gram>') % m — the same definition
    _bloom_positions explodes into rows, projected column-wise instead so
    the STREAMING probe can test all _BLOOM_K positions with chained
    stateless joins (a per-(doc, gram) count(*) = k over the exploded rows
    would be a streaming aggregation; k fixed columns keep the at-ingest
    arm state-free). Parity with the row form is pinned by
    test_bloom_pos_col_matches_row_form."""
    h = F.md5(F.concat(F.lit(f"bloom{j}:"), gram_col))
    w6 = F.conv(F.substring(h, 1, 6), 16, 10).cast("long")
    return (w6 % m_col).alias(f"pos{j}")


def bloom_bits(bg: DataFrame, mrel: DataFrame) -> DataFrame:
    """The set-bit relation (<= min(_BLOOM_K * |grams|, m) rows, bounded by
    _BLOOM_M_CAP). OR-merge is plain DISTINCT union — two filters built on
    gram subsets under one m merge into the whole
    (test_bloom_bits_merge)."""
    return _bloom_positions(
        bg.join(F.broadcast(mrel)), "gram"
    ).select("pos").distinct()


# ---------------------------------------------------------------------------
# Repetition profile (Gopher-style intra-document repetition rules,
# Rae et al. 2021 §A1.1): the fraction of 2-gram occurrences taken by the
# single most frequent 2-gram, and the fraction of duplicate 2-/3-gram
# occurrences. Degenerate generated/boilerplate text scores high; the
# composite flag is the filter bit.
#
# Scale: explode + two hash aggregations keyed on (doc_id[, gram]) — the
# per-doc state is a handful of counters, the gram agg is map-side
# combinable, nothing is quadratic.
# ---------------------------------------------------------------------------


@register(
    "text_repetition_profile",
    """
    WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g2 AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                      i -> w[i] || ' ' || w[i+1])) AS g
        FROM wl
    ),
    g3 AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        FROM wl
    ),
    c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
    p2 AS (
        SELECT doc_id,
               round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_2gram_frac,
               round(1 - count(*) / CAST(sum(c) AS DOUBLE), 4) AS dup_2gram_frac
        FROM c2 GROUP BY doc_id
    ),
    c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g),
    p3 AS (
        SELECT doc_id,
               round(1 - count(*) / CAST(sum(c) AS DOUBLE), 4) AS dup_3gram_frac
        FROM c3 GROUP BY doc_id
    )
    SELECT p2.doc_id, top_2gram_frac, dup_2gram_frac, dup_3gram_frac,
           (top_2gram_frac >= 0.08 OR dup_2gram_frac >= 0.06) AS repetitious
    FROM p2 JOIN p3 ON p2.doc_id = p3.doc_id
    """,
)
def text_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition metrics + flag. Thresholds (0.08 / 0.06) sit at
    ~2x the corpus mean so the flag splits the fixture non-trivially."""
    docs = load_table(spark, sf_dir, "documents")
    wl = docs.select("doc_id", F.split("text", " ").alias("_w"))
    g2 = wl.select("doc_id", F.explode(shingles_from_words("_w", 2)).alias("g"))
    g3 = wl.select("doc_id", F.explode(shingles_from_words("_w", 3)).alias("g"))
    c2 = g2.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    p2 = c2.groupBy("doc_id").agg(
        F.round(F.max("c") / F.sum("c").cast("double"), 4).alias("top_2gram_frac"),
        F.round(
            1 - F.count(F.lit(1)) / F.sum("c").cast("double"), 4
        ).alias("dup_2gram_frac"),
    )
    c3 = g3.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    p3 = c3.groupBy("doc_id").agg(
        F.round(
            1 - F.count(F.lit(1)) / F.sum("c").cast("double"), 4
        ).alias("dup_3gram_frac"),
    )
    return p2.join(p3, "doc_id").select(
        "doc_id",
        "top_2gram_frac",
        "dup_2gram_frac",
        "dup_3gram_frac",
        (
            (F.col("top_2gram_frac") >= 0.08) | (F.col("dup_2gram_frac") >= 0.06)
        ).alias("repetitious"),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval: score every doc against a fixed term set with the Lucene
# BM25 formula (k1=1.2, b=0.75, idf = ln(1 + (N-df+0.5)/(df+0.5))) and
# return the top 10.
#
# Scale: tf comes from the token explode filtered to the query terms — the
# filter happens BEFORE any shuffle, so only matching tokens move; df and
# the N/avgdl scalars are tiny broadcast relations; the final top-k is
# TakeOrderedAndProject (no global sort). This is the ad-hoc-query shape;
# a serving index would materialize tf as a bucketed posting table.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "customer", "window")
_BM25_K1, _BM25_B = 1.2, 0.75
_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@register(
    "sim_bm25_topk",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               avg(CAST(dl AS DOUBLE)) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM toks
        WHERE tok IN ({_TERMS_SQL}) GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok)
    SELECT t.doc_id,
           round(sum(
               ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
               * t.tf * ({_BM25_K1} + 1)
               / (t.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl))
           ), 4) AS bm25
    FROM tf t
    JOIN df f ON t.tok = f.tok
    JOIN dl d ON t.doc_id = d.doc_id
    CROSS JOIN stats s
    GROUP BY t.doc_id
    ORDER BY bm25 DESC, t.doc_id
    LIMIT 10
    """,
)
def sim_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    dl = docs.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    term_score = (
        idf
        * F.col("tf")
        * (_BM25_K1 + 1)
        / (
            F.col("tf")
            + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Sequence packing. Shard = `source`, order = doc_id, capacity in
# whitespace tokens. See operators/packing.py for the strategy notes.
# ---------------------------------------------------------------------------

_PACK_CAP = 256


@register(
    "pack_sequences_chunked",
    f"""
    WITH wl AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tok,
               coalesce(sum(n_tok) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM wl
    )
    SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(floor(cum_before / {_PACK_CAP}.0) AS BIGINT) AS first_seq,
           CAST(floor((cum_before + n_tok - 1) / {_PACK_CAP}.0) AS BIGINT)
               AS last_seq
    FROM cum
    """,
)
def pack_sequences_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing: each doc's token span inside its shard's
    concatenation maps to [first_seq, last_seq] of the cap-{_PACK_CAP}
    sequence grid. Pure running-sum window arithmetic — stays in codegen,
    one shuffle on the shard key."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    wl = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return wl.select(
        "doc_id",
        "source",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.floor(cum_before / float(_PACK_CAP)).alias("first_seq"),
        F.floor((cum_before + F.col("n_tok") - 1) / float(_PACK_CAP)).alias(
            "last_seq"
        ),
    )


# Shared by pack_sequences_greedy AND stream_pack_greedy (plans/stream.py)
# AND pack_sequences_payload AND pipeline_export_shards: ONE definition of
# the packing recurrence's reference implementation, parameterized over
# the source relation so the train-filtered export oracle replays the
# same CTE chain instead of a hand-maintained copy.


def pack_greedy_ctes(doc_rel: str) -> str:
    """wl/ord/packed CTE chain of the greedy-pack recurrence over
    ``doc_rel`` (rows: doc_id, source, text). Prepend WITH RECURSIVE."""
    return f"""wl AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
        FROM {doc_rel}
    ),
    ord AS (
        SELECT doc_id, source, n_tok,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM wl
    ),
    packed AS (
        SELECT doc_id, source, n_tok, rn,
               0 AS seq_id, n_tok AS fill
        FROM ord WHERE rn = 1
        UNION ALL
        SELECT o.doc_id, o.source, o.n_tok, o.rn,
               CASE WHEN p.fill + o.n_tok > {_PACK_CAP}
                    THEN p.seq_id + 1 ELSE p.seq_id END,
               CASE WHEN p.fill + o.n_tok > {_PACK_CAP}
                    THEN o.n_tok ELSE p.fill + o.n_tok END
        FROM packed p JOIN ord o ON o.source = p.source AND o.rn = p.rn + 1
    )"""


PACK_GREEDY_CTES = f"""
    WITH RECURSIVE {pack_greedy_ctes("documents")}"""

PACK_GREEDY_ORACLE = f"""
    {PACK_GREEDY_CTES}
    SELECT source, doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(seq_id AS BIGINT) AS seq_id
    FROM packed
    """


@register("pack_sequences_greedy", PACK_GREEDY_ORACLE)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-straddle greedy packing via the applyInPandas operator. The
    oracle replays the same sequential fold as a recursive CTE (one row
    per step), proving the distributed stateful operator against a
    reference implementation of the recurrence."""
    docs = load_table(spark, sf_dir, "documents")
    wl = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    return pack_greedy(wl, cap=_PACK_CAP).select(
        "source", "doc_id", "n_tok", "seq_id"
    )


def _payload_select_sql(doc_rel: str) -> str:
    """SQL payload materialization over a `packed` CTE joined back to
    ``doc_rel`` — one definition shared by pack_sequences_payload and
    pipeline_export_shards."""
    return f"""SELECT p.source, CAST(p.seq_id AS BIGINT) AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p.n_tok) AS BIGINT) AS tok_total,
           string_agg(d.text, ' ' ORDER BY p.doc_id) AS payload
    FROM packed p JOIN {doc_rel} d ON p.doc_id = d.doc_id
    GROUP BY p.source, p.seq_id"""


def _payload_agg(packed: DataFrame, texts: DataFrame) -> DataFrame:
    """Per (source, seq_id) payload materialization — Spark twin of
    _payload_select_sql: one join of the (tiny) assignment relation back
    to the texts + one hash agg; collect_list/array_sort keeps the concat
    order deterministic without a sort-exchange of the corpus (struct
    sort key = unique doc_id)."""
    return (
        packed.join(texts, "doc_id")
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tok_total"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("payload"),
        )
    )


@register(
    "pack_sequences_payload",
    f"""
    {PACK_GREEDY_CTES}
    {_payload_select_sql("documents")}
    """,
)
def pack_sequences_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packer's actual training artifact: per (shard, seq_id), the
    concatenated text payload in doc order plus doc/token counts (see
    _payload_agg for the plan shape). The no-overflow invariant
    (tok_total <= cap unless a single oversized doc owns the sequence) is
    asserted in tests/test_operators.py::test_pack_payload_never_exceeds_cap."""
    docs = load_table(spark, sf_dir, "documents")
    wl = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    packed = pack_greedy(wl, cap=_PACK_CAP)
    return _payload_agg(packed, docs.select("doc_id", "text"))


# ---------------------------------------------------------------------------
# PMI collocations: pointwise mutual information of adjacent word pairs,
# ln( p(ab) / (p(a) p(b)) ) — the classic collocation/tokenizer-merge
# diagnostic. Unigram and bigram tables are both corpus aggregates; the
# totals are 1-row broadcasts; the scoring join keys on the (small) word
# vocabulary. min-count floor keeps the estimate stable.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 20


@register(
    "text_pmi_bigrams",
    f"""
    WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    uni AS (
        SELECT unnest(w) AS tok FROM wl
    ),
    uc AS (SELECT tok, count(*) AS c1 FROM uni GROUP BY tok),
    ut AS (SELECT CAST(sum(c1) AS DOUBLE) AS t1 FROM uc),
    bg AS (
        SELECT unnest(list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                      i -> w[i] || ' ' || w[i+1])) AS g
        FROM wl
    ),
    bc AS (SELECT g, count(*) AS c2 FROM bg GROUP BY g),
    bt AS (SELECT CAST(sum(c2) AS DOUBLE) AS t2 FROM bc)
    SELECT string_split(g, ' ')[1] AS w1,
           string_split(g, ' ')[2] AS w2,
           CAST(c2 AS BIGINT) AS n,
           round(ln((c2 / t2) / ((a.c1 / t1) * (b.c1 / t1))), 4) + 0 AS pmi
    FROM bc
    JOIN uc a ON a.tok = string_split(g, ' ')[1]
    JOIN uc b ON b.tok = string_split(g, ' ')[2]
    CROSS JOIN ut CROSS JOIN bt
    WHERE c2 >= {_PMI_MIN_COUNT}
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-pair collocations by PMI (count floor
    {_PMI_MIN_COUNT}). `+ 0` in the oracle: PMI of independent pairs
    rounds to tiny negatives, where DuckDB keeps IEEE -0.0."""
    docs = load_table(spark, sf_dir, "documents")
    wl = docs.select("doc_id", F.split("text", " ").alias("_w"))
    uc = (
        wl.select(F.explode("_w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    ut = uc.agg(F.sum("c1").cast("double").alias("t1"))
    bc = (
        wl.select(F.explode(shingles_from_words("_w", 2)).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    bt = bc.agg(F.sum("c2").cast("double").alias("t2"))
    w1 = F.split("g", " ").getItem(0)
    w2 = F.split("g", " ").getItem(1)
    a = uc.select(F.col("tok").alias("_w1tok"), F.col("c1").alias("_c1a"))
    b = uc.select(F.col("tok").alias("_w2tok"), F.col("c1").alias("_c1b"))
    pmi = F.log(
        (F.col("c2") / F.col("t2"))
        / ((F.col("_c1a") / F.col("t1")) * (F.col("_c1b") / F.col("t1")))
    )
    return (
        bc.filter(F.col("c2") >= _PMI_MIN_COUNT)
        .withColumn("w1", w1)
        .withColumn("w2", w2)
        .join(F.broadcast(a), F.col("w1") == F.col("_w1tok"))
        .join(F.broadcast(b), F.col("w2") == F.col("_w2tok"))
        .crossJoin(F.broadcast(ut))
        .crossJoin(F.broadcast(bt))
        .select(
            "w1",
            "w2",
            F.col("c2").alias("n"),
            F.round(pmi, 4).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Domain-mixture sampling: resample the corpus toward an explicit target
# mixture over `source` shards under a total budget — the static
# data-mixing step (DoReMi/Pile-style weights) that runs after filtering
# and before packing. Per-shard rate = min(1, budget * p_s / n_s): over-
# weighted shards saturate (keep everything), the rest downsample by a
# deterministic doc_id-hash gate, so the sample is reproducible and
# join-stable across runs.
#
# Scale: shard counts are one tiny aggregate (broadcast back); the gate is
# a map-side filter on a hash of the key — no shuffle of kept rows, no
# rand() (nondeterministic re-execution poisons retries at scale).
# ---------------------------------------------------------------------------

_MIX_BUDGET_FRAC = 0.5  # sample half the corpus...
_MIX_W_SRC0, _MIX_W_SRC1 = 0.30, 0.20  # ...weighted toward curated shards
# The residual (1 - named weights) is split evenly over the OTHER shards.
# The documents fixture has exactly 20 distinct `source` values (src0..19;
# asserted by tests/test_oracle_parity.py::test_mixture_source_cardinality),
# so 18 = 20 - the 2 named shards. A real pipeline would compute this per
# remaining shard from the ns aggregate; the literal keeps the oracle SQL
# and the Spark plan trivially identical (the assumption is named here).
_MIX_N_SOURCES = 20
_MIX_RESIDUAL_SHARDS = _MIX_N_SOURCES - 2

_MIX_P_SQL = (
    f"CASE source WHEN 'src0' THEN CAST({_MIX_W_SRC0} AS DOUBLE) "
    f"WHEN 'src1' THEN CAST({_MIX_W_SRC1} AS DOUBLE) "
    f"ELSE CAST({1 - _MIX_W_SRC0 - _MIX_W_SRC1} AS DOUBLE) / {_MIX_RESIDUAL_SHARDS} END"
)
_HASH256_SQL = _gate_sql("md5(CAST(doc_id AS VARCHAR))")


@register(
    "sample_domain_mixture",
    f"""
    WITH ns AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM ns),
    rates AS (
        SELECT source,
               least(CAST(1 AS DOUBLE),
                     CAST({_MIX_BUDGET_FRAC} AS DOUBLE) * nn * ({_MIX_P_SQL}) / n)
                   AS rate
        FROM ns CROSS JOIN tot
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {_HASH256_SQL} < floor(r.rate * 256)
    """,
)
def sample_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ns = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = ns.agg(F.sum("n").cast("double").alias("nn"))
    p = (
        F.when(F.col("source") == "src0", F.lit(_MIX_W_SRC0))
        .when(F.col("source") == "src1", F.lit(_MIX_W_SRC1))
        .otherwise(F.lit((1 - _MIX_W_SRC0 - _MIX_W_SRC1) / _MIX_RESIDUAL_SHARDS))
    )
    rates = (
        ns.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.least(
                F.lit(1.0), F.lit(_MIX_BUDGET_FRAC) * F.col("nn") * p / F.col("n")
            ).alias("rate"),
        )
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(_hash256("doc_id") < F.floor(F.col("rate") * 256))
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# Train/valid/test split: the held-out-set assignment every training run
# needs, as a deterministic hash gate on a SALTED id (salt decorrelates the
# split from every other hash gate in the pipeline — the 10pct sample and
# the mixture sampler use unsalted doc_id nibbles). Pure map-side
# projection: no shuffle, no rand(), stable across runs/retries, and a doc
# keeps its split forever even as the corpus grows — the property that
# prevents eval-set leakage when reprocessing. ~1.2% each valid/test
# (3/256), remainder train.
# ---------------------------------------------------------------------------

_SPLIT_SALT = "split:"
_SPLIT_VALID_LT, _SPLIT_TEST_LT = 3, 6  # h<3 valid, 3<=h<6 test, else train

_SPLIT_HASH_SQL = _gate_sql(f"md5('{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR))")

# The ONE split-assignment definition, both sides: every query that needs
# the split (assignment, export shards, leakage audit) derives from these
# two, so thresholds/gate changes can never diverge between them.
_SPLIT_CASE_SQL = f"""CASE WHEN {_SPLIT_HASH_SQL} < {_SPLIT_VALID_LT} THEN 'valid'
                WHEN {_SPLIT_HASH_SQL} < {_SPLIT_TEST_LT} THEN 'test'
                ELSE 'train' END"""


def _split_gate():
    """The salted split gate as a Spark Column — single definition shared
    by split_train_valid_test and pipeline_export_shards."""
    return _md5_gate(
        F.md5(F.concat(F.lit(_SPLIT_SALT), F.col("doc_id").cast("string")))
    )


SPLIT_TVT_ORACLE = f"""
    SELECT doc_id, source, {_SPLIT_CASE_SQL} AS split
    FROM documents
    """


def split_column():
    """Spark twin of _SPLIT_CASE_SQL: the split label Column."""
    gate = _split_gate()
    return (
        F.when(gate < _SPLIT_VALID_LT, F.lit("valid"))
        .when(gate < _SPLIT_TEST_LT, F.lit("test"))
        .otherwise(F.lit("train"))
    )


@register("split_train_valid_test", SPLIT_TVT_ORACLE)
def split_train_valid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "source", split_column().alias("split"))


# ---------------------------------------------------------------------------
# Training-order shuffle: a deterministic global pseudo-shuffle WITHOUT a
# global sort. Each doc hashes to one of N shards (first hash byte) and to
# a within-shard sort key (the remaining md5 hex) — reading shards 0..N-1
# each in rank order yields a reproducible, seed-controlled permutation.
# Scale: one shuffle on the shard key + a per-shard sort (the window is
# partitioned, never global); shards are written/consumed independently,
# so 100 TB shuffles as N parallel sorted spills, not one total order.
# ---------------------------------------------------------------------------

_SHUFFLE_SALT = "shuffle:"
_SHUFFLE_SHARDS = 8

_SHUFFLE_MD5_SQL = f"md5('{_SHUFFLE_SALT}' || CAST(doc_id AS VARCHAR))"
_SHUFFLE_SHARD_SQL = f"{_gate_sql(_SHUFFLE_MD5_SQL)} % {_SHUFFLE_SHARDS}"


def _shard_rank(df: DataFrame, h, n_shards: int, tie_cols: list) -> DataFrame:
    """(shard, rank) assignment from an md5 hex Column ``h``: shard = first
    hash byte % n_shards, rank = row_number within shard ordered by the
    REMAINING hex (decorrelated from the shard byte) then ``tie_cols``.
    One shard-key exchange + per-shard sort — the no-global-sort
    permutation shared by shuffle_training_order and
    pipeline_export_shards. Keeps all input columns."""
    from pyspark.sql import Window

    keyed = df.select(
        (_md5_gate(h) % n_shards).cast("long").alias("shard"),
        F.substring(h, 3, 30).alias("okey"),
        "*",
    )
    w = Window.partitionBy("shard").orderBy("okey", *tie_cols)
    return keyed.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).drop("okey")




@register(
    "shuffle_training_order",
    f"""
    SELECT doc_id,
           CAST({_SHUFFLE_SHARD_SQL} AS BIGINT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY {_SHUFFLE_SHARD_SQL}
               ORDER BY substring({_SHUFFLE_MD5_SQL}, 3), doc_id
           ) AS BIGINT) AS rank
    FROM documents
    """,
)
def shuffle_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit(_SHUFFLE_SALT), F.col("doc_id").cast("string")))
    return _shard_rank(docs.select("doc_id"), h, _SHUFFLE_SHARDS, ["doc_id"]).select(
        "doc_id", "shard", "rank"
    )


# ---------------------------------------------------------------------------
# Overlapping chunk windows (RAG / context-window prep): split each doc
# into fixed-size token windows with overlap — the retrieval-granularity
# sibling of sequence packing. Pure explode over a precomputed start
# sequence: no UDF, no shuffle at all (chunk rows inherit the scan's
# partitioning; a downstream embed/index stage supplies its own).
# ---------------------------------------------------------------------------

_CHUNK_SIZE, _CHUNK_STRIDE = 32, 24  # 8-token overlap

# The ONE definition of the chunk-window grid — (doc_id, w, start) rows,
# one per window — shared by text_chunk_windows and pipeline_rag_prep
# (size/stride semantics must not be hand-synced).
CHUNK_STARTS_CTE = f"""wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    starts AS (
        SELECT doc_id, w,
               unnest(generate_series(1, greatest(len(w), 1), {_CHUNK_STRIDE}))
                   AS start
        FROM wl
    )"""


def _chunk_starts_df(docs: DataFrame) -> DataFrame:
    """Spark twin of CHUNK_STARTS_CTE: one (doc_id, w, start) row per
    chunk window."""
    return docs.select("doc_id", F.split("text", " ").alias("w")).select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.size("w"), F.lit(1)), F.lit(_CHUNK_STRIDE)
            )
        ).alias("start"),
    )


@register(
    "text_chunk_windows",
    f"""
    WITH {CHUNK_STARTS_CTE}
    SELECT doc_id,
           CAST((start - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           array_to_string(w[start:start + {_CHUNK_SIZE} - 1], ' ') AS chunk,
           CAST(least({_CHUNK_SIZE}, len(w) - start + 1) AS BIGINT)
               AS n_chunk_tok
    FROM starts
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token windows of {_CHUNK_SIZE} with stride {_CHUNK_STRIDE}. The
    final window of a doc may be short (>=1 token); chunk_id numbers
    windows from 0 in order."""
    starts = _chunk_starts_df(load_table(spark, sf_dir, "documents"))
    return starts.select(
        "doc_id",
        ((F.col("start") - 1) / _CHUNK_STRIDE).cast("long").alias("chunk_id"),
        F.concat_ws(" ", F.slice("w", F.col("start"), F.lit(_CHUNK_SIZE))).alias(
            "chunk"
        ),
        F.least(
            F.lit(_CHUNK_SIZE), F.size("w") - F.col("start") + 1
        ).cast("long").alias("n_chunk_tok"),
    )


# ---------------------------------------------------------------------------
# Model-based quality filter: a fixed-weight logistic scorer over the cheap
# columnar features (the fastText/CCNet-style "quality classifier applied
# at scan speed" shape — weights would come from a trained model; the
# inference plan is identical: pure projection, no UDF, no shuffle).
# Features are rounded to 4 decimals BEFORE the sigmoid on both engines so
# the exp() argument is bit-identical; the score is rounded after.
# ---------------------------------------------------------------------------

from ..functions.text import EN_STOPWORDS as _QL_STOPS  # noqa: E402

_QL_W0, _QL_W_STOP, _QL_W_PUNCT, _QL_W_LEN = -1.0, 6.0, -8.0, 2.0
_QL_STOPS_SQL = "[" + ", ".join(f"'{w}'" for w in _QL_STOPS) + "]"


def _quality_cte_sql(relation: str) -> str:
    """The ONE SQL definition of the logistic quality score: a `quality`
    CTE (doc_id, quality_p rounded to 4) over any (doc_id, text) relation.
    Features are rounded to 4 decimals BEFORE the sigmoid so the exp()
    argument is bit-identical across engines. Shared by
    text_quality_logit, pipeline_pretrain_v2, and
    dedup_cluster_representatives — weight/rounding changes edit exactly
    one place (the Spark twin is quality_p_col)."""
    return f"""quality AS (
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-({_QL_W0}
                   + {_QL_W_STOP} * round(len(list_filter(string_split(text, ' '),
                         x -> list_contains({_QL_STOPS_SQL}, x)))
                         / CAST(len(string_split(text, ' ')) AS DOUBLE), 4)
                   + {_QL_W_PUNCT} * round((length(text)
                         - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
                         / CAST(length(text) AS DOUBLE), 4)
                   + {_QL_W_LEN} * round(least(1.0,
                         len(string_split(text, ' ')) / 100.0), 4)))), 4)
                   AS quality_p
        FROM {relation}
    )"""


def quality_p_col():
    """Spark twin of _quality_cte_sql's quality_p expression (over a
    `text` column): rounded-feature logistic score, rounded to 4."""
    from ..functions.text import punct_ratio, stopword_ratio, token_count_ws

    z = (
        F.lit(_QL_W0)
        + _QL_W_STOP * F.round(stopword_ratio(), 4)
        + _QL_W_PUNCT * F.round(punct_ratio(), 4)
        + _QL_W_LEN * F.round(F.least(F.lit(1.0), token_count_ws() / 100.0), 4)
    )
    return F.round(1.0 / (1.0 + F.exp(-z)), 4)


@register(
    "text_quality_logit",
    f"""
    WITH {_quality_cte_sql('documents').strip()}
    SELECT doc_id, quality_p, (quality_p >= 0.5) AS keep
    FROM quality
    """,
)
def text_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: fixed-weight logistic scorer applied at
    scan speed (pure projection, no UDF, no shuffle). `keep` thresholds
    the ROUNDED score so the flag derives from the published column."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        quality_p_col().alias("quality_p"),
        (quality_p_col() >= 0.5).alias("keep"),
    )


# ---------------------------------------------------------------------------
# The end-to-end pretraining prep pipeline (the capstone): every stage a
# real 100 TB corpus run chains, in the order that keeps each stage cheap —
# exact dedup first (mass duplicates die in one fingerprint shuffle),
# then benchmark decontamination (broadcast gram set, map-side),
# then the pure-projection filters (repetition, logistic quality),
# then domain-mixture sampling (deterministic hash gate),
# and finally chunked sequence packing over the survivors.
# One oracle replays the whole chain, so the driver checks the stage
# COMPOSITION, not just each stage in isolation.
# ---------------------------------------------------------------------------


@register(
    "pipeline_pretrain_v2",
    f"""
    WITH {_BENCH_GRAMS_CTE.strip()},
    {_quality_cte_sql('documents').strip()},
    feats AS (
        SELECT doc_id, source,
               string_split(text, ' ') AS w,
               len(string_split(text, ' ')) AS n_tok,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fp
        FROM documents
    ),
    deduped AS (
        SELECT f.* FROM feats f
        JOIN (SELECT fp, min(doc_id) AS keep_id FROM feats GROUP BY fp) k
          ON f.fp = k.fp AND f.doc_id = k.keep_id
    ),
    contaminated AS (
        SELECT DISTINCT doc_id FROM (
            SELECT d.doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(w) - {_DECON_N - 1}, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                            w[i+3] || ' ' || w[i+4])) AS gram
            FROM deduped d
        ) cg
        WHERE gram IN (SELECT gram FROM bench_grams)
    ),
    clean AS (
        SELECT * FROM deduped
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    rep AS (
        SELECT doc_id,
               max(c) / CAST(sum(c) AS DOUBLE) AS top2,
               1 - count(*) / CAST(sum(c) AS DOUBLE) AS dup2
        FROM (
            SELECT doc_id, g, count(*) AS c FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(len(w) - 1, 0)),
                           i -> w[i] || ' ' || w[i+1])) AS g
                FROM clean
            ) GROUP BY doc_id, g
        ) GROUP BY doc_id
    ),
    filtered AS (
        SELECT c.* FROM clean c
        JOIN rep r ON c.doc_id = r.doc_id
        JOIN quality q ON c.doc_id = q.doc_id
        WHERE NOT (round(r.top2, 4) >= 0.08 OR round(r.dup2, 4) >= 0.06)
          AND q.quality_p >= 0.5
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
    """,
)
def pipeline_pretrain_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor docs with their packed-sequence spans after the full
    chain. Stage order is the cost argument (see banner); every stage is
    a shape proven individually by its own registered query."""
    from pyspark.sql import Window

    from ..functions.text import fingerprint, token_count_ws

    docs = load_table(spark, sf_dir, "documents")
    quality = docs.select("doc_id", quality_p_col().alias("quality_p"))
    feats = docs.select(
        "doc_id",
        "source",
        F.split("text", " ").alias("w"),
        token_count_ws().alias("n_tok"),
        fingerprint().alias("fp"),
    )
    keepers = feats.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    deduped = feats.join(keepers, ["fp", "doc_id"], "left_semi")

    bench_grams = _bench_grams_df(docs).select("gram").distinct()
    doc_grams = deduped.select(
        "doc_id", F.explode(shingles_from_words("w", _DECON_N)).alias("gram")
    )
    contaminated = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .select("doc_id")
        .distinct()
    )
    clean = deduped.join(contaminated, "doc_id", "left_anti")

    g2 = clean.select("doc_id", F.explode(shingles_from_words("w", 2)).alias("g"))
    rep = (
        g2.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            (F.max("c") / F.sum("c").cast("double")).alias("top2"),
            (1 - F.count(F.lit(1)) / F.sum("c").cast("double")).alias("dup2"),
        )
    )
    filtered = (
        clean.join(rep, "doc_id")
        .join(quality, "doc_id")
        .filter(
            ~((F.round("top2", 4) >= 0.08) | (F.round("dup2", 4) >= 0.06))
            & (F.col("quality_p") >= 0.5)
        )
    )

    ns = filtered.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = ns.agg(F.sum("n").cast("double").alias("nn"))
    p = (
        F.when(F.col("source") == "src0", F.lit(_MIX_W_SRC0))
        .when(F.col("source") == "src1", F.lit(_MIX_W_SRC1))
        .otherwise(F.lit((1 - _MIX_W_SRC0 - _MIX_W_SRC1) / _MIX_RESIDUAL_SHARDS))
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
# Lexicon-based sentiment scoring (EDBT'16 "Large Scale Sentiment Analysis
# on Twitter with Spark" flavor): per-doc polarity from a broadcast word
# lexicon — count hits per polarity inside the row via array_intersect-free
# token filtering (duplicates count), score = (pos - neg) / n_tokens.
# Pure projection + one tiny lexicon literal: the lexicon-join shape where
# the lexicon is small enough to inline (at 100 TB a larger lexicon rides
# a broadcast join against the exploded tokens — same plan as
# text_decontaminate's benchmark set).
# ---------------------------------------------------------------------------

_SENT_POS = ("fast", "merge", "join", "agg")
_SENT_NEG = ("slow", "error", "filter", "scan")
_POS_SQL = "[" + ", ".join(f"'{w}'" for w in _SENT_POS) + "]"
_NEG_SQL = "[" + ", ".join(f"'{w}'" for w in _SENT_NEG) + "]"


@register(
    "text_sentiment_lexicon",
    f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    scored AS (
        SELECT doc_id,
               len(list_filter(w, x -> list_contains({_POS_SQL}, x))) AS n_pos,
               len(list_filter(w, x -> list_contains({_NEG_SQL}, x))) AS n_neg,
               len(w) AS n_tok
        FROM t
    )
    SELECT doc_id,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           round((n_pos - n_neg) / CAST(n_tok AS DOUBLE), 4) + 0 AS polarity,
           CASE WHEN n_pos > n_neg THEN 'positive'
                WHEN n_neg > n_pos THEN 'negative'
                ELSE 'neutral' END AS label
    FROM scored
    """,
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n_pos = F.size(F.filter(w, lambda x: x.isin(*_SENT_POS)))
    n_neg = F.size(F.filter(w, lambda x: x.isin(*_SENT_NEG)))
    return docs.select(
        "doc_id",
        n_pos.cast("long").alias("n_pos"),
        n_neg.cast("long").alias("n_neg"),
        F.round((n_pos - n_neg) / F.size(w).cast("double"), 4).alias("polarity"),
        F.when(n_pos > n_neg, "positive")
        .when(n_neg > n_pos, "negative")
        .otherwise("neutral")
        .alias("label"),
    )


# ---------------------------------------------------------------------------
# Contrastive training-pair generation: for each anchor, the hardest
# POSITIVE is its nearest neighbor (exact cosine top-1 — swap in the IVF
# path at scale), and NEGATIVES are deterministic hash-picked corpus ids
# (uniform random negatives, the standard contrastive baseline; hash
# arithmetic instead of rand() so retries/speculation can't disagree).
# Output: (anchor_id, pos_id, neg_id, neg_j) — one row per negative.
# ---------------------------------------------------------------------------

_CTR_NEG_K = 3
_CTR_A, _CTR_B = 2654435761, 7919  # Knuth multiplicative + a prime stride
# j enters the MULTIPLICAND (A*(anchor+j)), not just an additive stride, so
# negatives for different j can only coincide when n_vecs divides
# (A+B)*(j2-j1) — a measure-zero corpus size rather than every multiple of
# B. Duplicate negatives remain possible for adversarial n_vecs; dedupe
# downstream if exactly-k distinct negatives matter.
# Cosine SQL comes from llm's shared _COS_QC template (q/c aliases); its
# `+ 0` guard keeps DuckDB's total order from ranking a rounded -0.0000
# below +0.0000 where Spark (whose round never emits -0.0) ties them.
from .llm import _COS_QC as _CTR_COS  # noqa: E402


@register(
    "sim_contrastive_pairs",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT count(*) AS n_vecs FROM e),
    pos AS (
        SELECT q_id AS anchor_id, n_id AS pos_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_CTR_COS} + 0
                             DESC, c.vec_id) AS rnk
            FROM e q, e c
            WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id)
        WHERE rnk = 1
    )
    SELECT anchor_id, pos_id,
           CAST(({_CTR_A} * (anchor_id + j) + j * {_CTR_B}) % n_vecs AS BIGINT)
               AS neg_id,
           CAST(j AS BIGINT) AS neg_j
    FROM pos
    CROSS JOIN n
    CROSS JOIN (SELECT unnest(generate_series(1, {_CTR_NEG_K})) AS j)
    WHERE ({_CTR_A} * (anchor_id + j) + j * {_CTR_B}) % n_vecs <> anchor_id
      AND ({_CTR_A} * (anchor_id + j) + j * {_CTR_B}) % n_vecs <> pos_id
    """,
)
def sim_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) triples for the corpus' first 8
    anchors. Negatives colliding with the anchor or its positive are
    dropped, and duplicate negatives across j are possible for adversarial
    corpus sizes (see the hash-mixing note above) — k is a soft target;
    resample or dedupe upstream if exactly-k distinct negatives matter."""
    from ..operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 8)
    pos = (
        brute_force_topk(emb, anchors, k=1)
        .select(F.col("q_id").alias("anchor_id"), F.col("n_id").alias("pos_id"))
    )
    n = emb.agg(F.count(F.lit(1)).alias("n_vecs"))
    neg = (
        F.lit(_CTR_A) * (F.col("anchor_id") + F.col("j"))
        + F.col("j") * _CTR_B
    ) % F.col("n_vecs")
    return (
        pos.crossJoin(F.broadcast(n))
        .crossJoin(
            F.broadcast(
                spark.range(1, _CTR_NEG_K + 1).select(F.col("id").alias("j"))
            )
        )
        .filter((neg != F.col("anchor_id")) & (neg != F.col("pos_id")))
        .select(
            "anchor_id",
            "pos_id",
            neg.cast("long").alias("neg_id"),
            F.col("j").cast("long").alias("neg_j"),
        )
    )


# ---------------------------------------------------------------------------
# Cluster representative selection — the step that closes the dedup loop:
# given transitive duplicate clusters (candidate-bounded jaccard graph ->
# connected components), KEEP the highest-quality member of each cluster
# (not the arbitrary min-id): rep = argmax(quality_p), doc_id tie-break.
# One max_by hash-agg over the (cluster_id, quality) relation — map-side
# combinable, no sort, no window over the corpus.
# ---------------------------------------------------------------------------


from .llm import (  # noqa: E402  (llm loads before textprep in load_all)
    NEAR_CORPUS_CTE as _NC_CTE,
    SHINGLES_CTE as _SH_CTE,
    _EDGES_REACH_CLUSTERS_CTE as _ERC_CTE,
    _JACCARD_SCORED_CTE as _JS_CTE,
    _LSH_CAND_CTE as _LC_CTE,
    jaccard_pair_graph as _jaccard_pair_graph,
    _near_corpus,
)


@register(
    "dedup_cluster_representatives",
    f"""
    WITH RECURSIVE {_NC_CTE.strip()},
    {_SH_CTE.strip()},
    {_LC_CTE.strip()},
    {_JS_CTE.strip()},
    {_ERC_CTE.strip()},
    {_quality_cte_sql('corpus').strip()},
    ranked AS (
        SELECT c.cluster_id, c.doc_id, q.quality_p,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY q.quality_p DESC, c.doc_id) AS rn
        FROM clusters c JOIN quality q ON c.doc_id = q.doc_id
    )
    SELECT cluster_id,
           max(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc_id,
           CAST(count(*) AS BIGINT) AS n_members,
           max(CASE WHEN rn = 1 THEN quality_p END) AS rep_quality
    FROM ranked GROUP BY cluster_id
    """,
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster_id, rep_doc_id, n_members, rep_quality): per duplicate
    cluster, keep the member with the highest logistic quality score
    (doc_id tie-break) — representative selection as one max_by hash agg."""
    from ..operators.components import connected_components

    cc = connected_components(_jaccard_pair_graph(spark, sf_dir))
    corpus = _near_corpus(spark, sf_dir)
    quality = corpus.select("doc_id", quality_p_col().alias("quality_p"))
    joined = cc.select(F.col("node").alias("doc_id"), "cluster_id").join(
        quality, "doc_id"
    )
    key = F.struct(F.col("quality_p"), (-F.col("doc_id")).alias("neg_id"))
    return joined.groupBy("cluster_id").agg(
        F.max_by("doc_id", key).alias("rep_doc_id"),
        F.count(F.lit(1)).alias("n_members"),
        F.max("quality_p").alias("rep_quality"),
    )


# ---------------------------------------------------------------------------
# Export capstone: the last mile of the pretraining pipeline — take
# the TRAIN split, greedy-pack it into cap-sized sequences per source
# shard, materialize each sequence's text payload, and assign every
# sequence a (shard, rank) position in a deterministic training order.
# The output IS the artifact a trainer consumes: read shards 0..N-1, each
# in rank order.
#
# Scale: split gate is map-side; packing shuffles once on source;
# payload is one hash agg; the export order is N independent per-shard
# sorts (same no-global-sort argument as shuffle_training_order). One
# recursive-CTE oracle replays the entire composition.
# ---------------------------------------------------------------------------

_EXPORT_SHARDS = 4

_EXPORT_MD5_SQL = "md5('export:' || source || ':' || CAST(seq_id AS VARCHAR))"
_EXPORT_SHARD_SQL = f"{_gate_sql(_EXPORT_MD5_SQL)} % {_EXPORT_SHARDS}"


@register(
    "pipeline_export_shards",
    f"""
    WITH RECURSIVE train AS (
        SELECT doc_id, source, text FROM documents
        WHERE {_SPLIT_HASH_SQL} >= {_SPLIT_TEST_LT}
    ),
    {pack_greedy_ctes("train")},
    seqs AS (
        {_payload_select_sql("train")}
    )
    SELECT CAST({_EXPORT_SHARD_SQL} AS BIGINT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY {_EXPORT_SHARD_SQL}
               ORDER BY substring({_EXPORT_MD5_SQL}, 3), source, seq_id
           ) AS BIGINT) AS rank,
           source, seq_id, n_docs, tok_total, payload
    FROM seqs
    """,
)
def pipeline_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shard, rank, source, seq_id, n_docs, tok_total, payload): the
    train-split corpus packed and laid out for training. Composes the
    packing stages end-to-end — split gate (map-side), greedy packing (one
    source-key shuffle, keyed applyInPandas), payload materialization
    (one hash agg), deterministic shard/rank order (per-shard window) —
    and the oracle replays the whole chain in one recursive-CTE query.
    The payload agg and the shard/rank keying are the shared _payload_agg
    / _shard_rank helpers (same definitions as pack_sequences_payload and
    shuffle_training_order)."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(_split_gate() >= _SPLIT_TEST_LT)
    wl = train.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    seqs = _payload_agg(
        pack_greedy(wl, cap=_PACK_CAP), train.select("doc_id", "text")
    )
    eh = F.md5(
        F.concat(
            F.lit("export:"), F.col("source"), F.lit(":"),
            F.col("seq_id").cast("string"),
        )
    )
    return _shard_rank(seqs, eh, _EXPORT_SHARDS, ["source", "seq_id"]).select(
        "shard", "rank", "source", "seq_id", "n_docs", "tok_total", "payload"
    )


# ---------------------------------------------------------------------------
# BPE-ish token counting: whitespace tokens vs subword-style regex
# tokens (letter runs | single digits | single punctuation — the ASCII
# core of the GPT-2 pre-tokenizer pattern, constrained to constructs RE2
# and Java regex interpret identically). The ratio ("fertility") is the
# standard budget-planning number: corpus token cost under a subword
# tokenizer per whitespace word. Pure projection — no UDF, no shuffle.
# ---------------------------------------------------------------------------

from ..functions.text import BPE_TOKEN_RE_GPT2 as _BPE_PAT  # noqa: E402


@register(
    "text_token_count_bpe",
    f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tok,
           CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT)
               AS n_bpe_tok,
           round(len(regexp_extract_all(text, '{_BPE_PAT}'))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 4)
               AS fertility
    FROM documents
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split("text", " "))
    bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0)))
    return docs.select(
        "doc_id",
        ws.cast("long").alias("n_ws_tok"),
        bpe.cast("long").alias("n_bpe_tok"),
        F.round(bpe / ws.cast("double"), 4).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# Per-source quality drift monitor: the data-ops check a pipeline
# runs per ingest batch — each source shard's mean quality score as a
# z-score against the across-shard distribution; |z| >= 2 flags a shard
# whose crawler/extractor likely regressed. Reuses the ONE logistic
# quality definition (_quality_cte_sql / quality_p_col). Per-shard means
# are one hash agg; the global moments are over |shards| rows (broadcast
# back) — nothing scans the corpus twice.
# ---------------------------------------------------------------------------


# ONE oracle for the batch monitor AND its streaming twin
# (plans/stream.py imports it): the drained availableNow stream equals
# the batch result, so a single SQL definition covers both.
QUALITY_DRIFT_ORACLE = f"""
    WITH {_quality_cte_sql('documents').strip()},
    per_src AS (
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(q.quality_p), 6) AS mean_q
        FROM documents d JOIN quality q ON d.doc_id = q.doc_id
        GROUP BY d.source
    ),
    gstats AS (
        SELECT round(avg(mean_q), 6) AS g_mean,
               round(stddev_samp(mean_q), 6) AS g_sd
        FROM per_src
    )
    SELECT source, n_docs, mean_q,
           round((mean_q - g_mean) / g_sd, 4) + 0 AS z,
           (abs(round((mean_q - g_mean) / g_sd, 4)) >= 2.0) AS drift_flag
    FROM per_src CROSS JOIN gstats
    """


@register("dq_quality_drift", QUALITY_DRIFT_ORACLE)
def dq_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.select("source", quality_p_col().alias("quality_p"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality_p"), 6).alias("mean_q"),
        )
    )
    glob = per_src.agg(
        F.round(F.avg("mean_q"), 6).alias("g_mean"),
        F.round(F.stddev_samp("mean_q"), 6).alias("g_sd"),
    )
    z = F.round((F.col("mean_q") - F.col("g_mean")) / F.col("g_sd"), 4)
    return (
        per_src.crossJoin(F.broadcast(glob))
        .select(
            "source", "n_docs", "mean_q",
            z.alias("z"),
            (F.abs(z) >= 2.0).alias("drift_flag"),
        )
    )


# ---------------------------------------------------------------------------
# Join-key skew profile: the diagnostic run BEFORE choosing a join
# strategy — per candidate key column, the share of rows held by the
# hottest key, total keys, and rows per key. top_share near 1/n_keys means
# uniform (hash join fine); a large top_share says salt that key or
# broadcast the other side. Two hash aggs per key column; the second
# operates on |keys| rows.
# ---------------------------------------------------------------------------


def _skew_sql(key_col: str) -> str:
    # NULL keys drop out of any equi-join, so they are excluded from the
    # hot-key arithmetic and reported as their own count instead — a 30%
    # NULL column must not masquerade as a salting candidate.
    return f"""
        SELECT '{key_col}' AS key_col,
               CAST(max(c) AS BIGINT) AS top_key_n,
               CAST(sum(c) AS BIGINT) AS total_n,
               round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_share,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST((SELECT count(*) FROM events WHERE {key_col} IS NULL)
                   AS BIGINT) AS n_null
        FROM (SELECT {key_col}, count(*) AS c FROM events
              WHERE {key_col} IS NOT NULL GROUP BY {key_col})"""


@register(
    "skew_profile_events",
    f"""
    {_skew_sql('user_id')}
    UNION ALL
    {_skew_sql('event_type')}
    """,
)
def skew_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def profile(key_col: str) -> DataFrame:
        counts = (
            ev.filter(F.col(key_col).isNotNull())
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        nulls = ev.agg(
            F.count(F.when(F.col(key_col).isNull(), 1)).alias("n_null")
        )
        return counts.agg(
            F.lit(key_col).alias("key_col"),
            F.max("c").alias("top_key_n"),
            F.sum("c").alias("total_n"),
            F.round(F.max("c") / F.sum("c").cast("double"), 4).alias("top_share"),
            F.count(F.lit(1)).alias("n_keys"),
        ).crossJoin(F.broadcast(nulls))

    return profile("user_id").unionByName(profile("event_type"))


# ---------------------------------------------------------------------------
# RAG prep capstone: chunk -> featurize -> retrieve, end to end —
# the serving-side sibling of pipeline_pretrain_v2 (pretraining) and
# pipeline_export_shards (export). Documents are cut into the standard
# overlapping token windows, every chunk gets a vocabulary-free
# hashing-trick sparse vector, and a query document's chunks retrieve
# their top-3 nearest chunks by sparse cosine. Scale: the query side is
# ONE document's chunks (broadcast); the dot product is a bucket
# equi-join against only the buckets the query touches — never an
# all-pairs chunk join; norms are one per-chunk agg.
# ---------------------------------------------------------------------------

from .llm import _TOK_BUCKET_SQL  # noqa: E402

_RAG_QUERY_DOC = 0
_RAG_TOPK = 3

_RAG_CHUNKS_CTE = f"""
    {CHUNK_STARTS_CTE},
    ctoks AS (
        SELECT doc_id,
               CAST((start - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
               unnest(w[start:start + {_CHUNK_SIZE} - 1]) AS tok
        FROM starts
    ),
    feats AS (
        SELECT doc_id, chunk_id, {_TOK_BUCKET_SQL} AS bucket,
               CAST(count(*) AS BIGINT) AS tf
        FROM ctoks GROUP BY doc_id, chunk_id, bucket
    ),
    norms AS (
        SELECT doc_id, chunk_id, sqrt(sum(tf * tf)) AS nrm
        FROM feats GROUP BY doc_id, chunk_id
    )"""


@register(
    "pipeline_rag_prep",
    f"""
    WITH {_RAG_CHUNKS_CTE.strip()},
    q AS (
        SELECT chunk_id AS q_chunk, bucket, tf FROM feats
        WHERE doc_id = {_RAG_QUERY_DOC}
    ),
    dots AS (
        SELECT q.q_chunk, f.doc_id AS c_doc, f.chunk_id AS c_chunk,
               sum(q.tf * f.tf) AS dot
        FROM q JOIN feats f ON q.bucket = f.bucket
        WHERE f.doc_id <> {_RAG_QUERY_DOC}
        GROUP BY q.q_chunk, f.doc_id, f.chunk_id
    ),
    scored AS (
        SELECT d.q_chunk, d.c_doc, d.c_chunk,
               round(d.dot / (qn.nrm * cn.nrm), 4) AS cos
        FROM dots d
        JOIN norms qn ON qn.doc_id = {_RAG_QUERY_DOC} AND qn.chunk_id = d.q_chunk
        JOIN norms cn ON cn.doc_id = d.c_doc AND cn.chunk_id = d.c_chunk
    )
    SELECT q_chunk, c_doc, c_chunk, cos + 0 AS cos, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY q_chunk
                                     ORDER BY cos DESC, c_doc, c_chunk) AS rnk
        FROM scored)
    WHERE rnk <= {_RAG_TOPK}
    """,
)
def pipeline_rag_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_chunk, c_doc, c_chunk, cos, rnk): for each chunk of the query
    document, its top-{_RAG_TOPK} nearest corpus chunks by hashing-trick
    sparse cosine. The bucket join is candidate-bounded (only buckets the
    broadcast query touches ever join) and the top-k is a per-query-chunk
    window over |candidates| rows."""
    from pyspark.sql import Window

    from .llm import tok_bucket_col

    # Chunk grid + tokens: the shared _chunk_starts_df grid, exploding the
    # sliced token array DIRECTLY (no join-to-string-and-resplit round
    # trip).
    toks = _chunk_starts_df(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        ((F.col("start") - 1) / _CHUNK_STRIDE).cast("long").alias("chunk_id"),
        F.explode(F.slice("w", F.col("start"), _CHUNK_SIZE)).alias("tok"),
    )
    # feats feeds FOUR consumers (query side, corpus side, both norm
    # lookups) — lazily checkpoint so the chunk+hash derivation runs once,
    # not per consumer (at scale: "write the feature table").
    feats = (
        toks.select("doc_id", "chunk_id", tok_bucket_col().alias("bucket"))
        .groupBy("doc_id", "chunk_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    norms = feats.groupBy("doc_id", "chunk_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("nrm")
    )
    q = feats.filter(F.col("doc_id") == _RAG_QUERY_DOC).select(
        F.col("chunk_id").alias("q_chunk"), "bucket", F.col("tf").alias("q_tf")
    )
    dots = (
        feats.filter(F.col("doc_id") != _RAG_QUERY_DOC)
        .join(F.broadcast(q), "bucket")
        .groupBy("q_chunk", F.col("doc_id").alias("c_doc"),
                 F.col("chunk_id").alias("c_chunk"))
        .agg(F.sum(F.col("q_tf") * F.col("tf")).alias("dot"))
    )
    qn = norms.filter(F.col("doc_id") == _RAG_QUERY_DOC).select(
        F.col("chunk_id").alias("q_chunk"), F.col("nrm").alias("q_nrm")
    )
    cn = norms.select(
        F.col("doc_id").alias("c_doc"), F.col("chunk_id").alias("c_chunk"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = (
        dots.join(F.broadcast(qn), "q_chunk")
        .join(cn, ["c_doc", "c_chunk"])
        .select(
            "q_chunk", "c_doc", "c_chunk",
            F.round(F.col("dot") / (F.col("q_nrm") * F.col("c_nrm")), 4)
                .alias("cos"),
        )
    )
    w = Window.partitionBy("q_chunk").orderBy(
        F.desc("cos"), F.asc("c_doc"), F.asc("c_chunk")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _RAG_TOPK
    )


# ---------------------------------------------------------------------------
# Quality-weighted sampling: keep each document with probability
# proportional to its logistic quality score — the importance-sampling
# step between quality scoring and mixture construction in a pretraining
# pipeline (upsample clean text without hard-thresholding). The coin is
# the deterministic md5 gate (_hash256/256 as a uniform in [0,1)), so the
# draw is reproducible, re-runnable, and oracle-replayable — never rand().
# Scale: pure map-side projection + one source-keyed hash agg; the gate
# pushes into the scan stage.
# ---------------------------------------------------------------------------


@register(
    "sample_quality_weighted",
    f"""
    WITH {_quality_cte_sql('documents').strip()},
    gated AS (
        SELECT d.doc_id, d.source, q.quality_p
        FROM documents d JOIN quality q USING (doc_id)
        WHERE {_gate_sql("md5(CAST(d.doc_id AS VARCHAR))")} / 256.0
              < q.quality_p
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
           round(avg(quality_p), 4) AS mean_quality
    FROM gated GROUP BY source
    """,
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = docs.select(
        "doc_id", "source", quality_p_col().alias("quality_p")
    ).filter(_hash256("doc_id") / 256.0 < F.col("quality_p"))
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.round(F.avg("quality_p"), 4).alias("mean_quality"),
    )


# ---------------------------------------------------------------------------
# Distributed model training: 2 full-batch gradient-descent steps of
# a logistic-regression quality classifier, trained to imitate the fixed
# scorer's labels (self-distillation — the setup for replacing a heuristic
# with a learned filter). The third iterative-training operator after
# kmeans_centroids and pagerank, same reproducibility discipline: fixed
# iteration count, per-step gradients rounded to 6 decimals, so the SQL
# oracle replays training EXACTLY. Scale: each step is ONE map-side
# partial-aggregated gradient pass over the (checkpointed) feature
# relation; only the 4 weight scalars ever reach the driver (the fixed-k
# fetch class), and the weight update keeps every weight on the 1e-6
# grid, so snapping is engine-independent.
# ---------------------------------------------------------------------------

_LR = 2.0  # full-batch learning rate; 2 steps reach ~0.9 train accuracy

_LOGREG_FEATS_SQL = f"""feats AS (
        SELECT doc_id,
               round(len(list_filter(string_split(text, ' '),
                         x -> list_contains({_QL_STOPS_SQL}, x)))
                     / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS x1,
               round((length(text)
                     - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
                     / CAST(length(text) AS DOUBLE), 4) AS x2,
               round(least(1.0, len(string_split(text, ' ')) / 100.0), 4) AS x3
        FROM documents
    )"""


@register(
    "train_quality_logreg",
    f"""
    WITH {_quality_cte_sql('documents').strip()},
    {_LOGREG_FEATS_SQL.strip()},
    d AS (
        SELECT f.doc_id, f.x1, f.x2, f.x3,
               CAST(q.quality_p >= 0.5 AS INT) AS y
        FROM feats f JOIN quality q USING (doc_id)
    ),
    g1 AS (
        SELECT round(avg(0.5 - y), 6) AS g0,
               round(avg((0.5 - y) * x1), 6) AS ga,
               round(avg((0.5 - y) * x2), 6) AS gb,
               round(avg((0.5 - y) * x3), 6) AS gc
        FROM d
    ),
    w1 AS (
        -- "+ 0" per the -0.0 convention (plans/__init__.py): a weight that
        -- rounds to zero must not keep DuckDB's IEEE sign bit.
        SELECT round(-{_LR} * g0, 6) + 0 AS w0,
               round(-{_LR} * ga, 6) + 0 AS wa,
               round(-{_LR} * gb, 6) + 0 AS wb,
               round(-{_LR} * gc, 6) + 0 AS wc
        FROM g1
    ),
    s2 AS (
        SELECT d.*, 1.0 / (1.0 + exp(-(w0 + wa*x1 + wb*x2 + wc*x3))) AS p
        FROM d CROSS JOIN w1
    ),
    g2 AS (
        SELECT round(avg(p - y), 6) AS g0,
               round(avg((p - y) * x1), 6) AS ga,
               round(avg((p - y) * x2), 6) AS gb,
               round(avg((p - y) * x3), 6) AS gc
        FROM s2
    ),
    w2 AS (
        -- "+ 0" again: at sf0.01 w_punct rounds to exactly zero here and
        -- DuckDB emitted -0.0 (the r07 hash-fail); Spark never does.
        SELECT round(w1.w0 - {_LR} * g2.g0, 6) + 0 AS w0,
               round(w1.wa - {_LR} * g2.ga, 6) + 0 AS wa,
               round(w1.wb - {_LR} * g2.gb, 6) + 0 AS wb,
               round(w1.wc - {_LR} * g2.gc, 6) + 0 AS wc
        FROM w1 CROSS JOIN g2
    ),
    scored AS (
        SELECT d.y, (w2.w0 + w2.wa*x1 + w2.wb*x2 + w2.wc*x3) AS z
        FROM d CROSS JOIN w2
    )
    SELECT w2.w0 AS w_bias, w2.wa AS w_stop, w2.wb AS w_punct,
           w2.wc AS w_len,
           round(avg(CASE WHEN (scored.z >= 0) = (scored.y = 1)
                          THEN 1.0 ELSE 0.0 END), 6) AS train_acc,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM scored CROSS JOIN w2
    GROUP BY 1, 2, 3, 4
    """,
)
def train_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import punct_ratio, stopword_ratio, token_count_ws

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        F.round(stopword_ratio(), 4).alias("x1"),
        F.round(punct_ratio(), 4).alias("x2"),
        F.round(F.least(F.lit(1.0), token_count_ws() / 100.0), 4).alias("x3"),
        (quality_p_col() >= 0.5).cast("int").alias("y"),
    ).localCheckpoint(eager=False)  # feeds 2 gradient passes + the acc pass

    w = [0.0, 0.0, 0.0, 0.0]  # bias, stop, punct, len
    for _ in range(2):
        z = (
            F.lit(w[0]) + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2") + F.lit(w[3]) * F.col("x3")
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = p - F.col("y")
        g = feats.agg(
            F.round(F.avg(err), 6).alias("g0"),
            F.round(F.avg(err * F.col("x1")), 6).alias("ga"),
            F.round(F.avg(err * F.col("x2")), 6).alias("gb"),
            F.round(F.avg(err * F.col("x3")), 6).alias("gc"),
        ).first()  # 4 gradient scalars — the fixed-k driver-fetch class
        # Both terms sit on the 1e-6 grid, so this snap is never at a
        # rounding boundary — Python round() == SQL round() here. The
        # "+ 0.0" kills IEEE -0.0 (Python round keeps the sign bit, and a
        # F.lit(-0.0) would leak it into the result and fail the hash).
        w = [
            round(w[j] - _LR * g[j], 6) + 0.0
            for j in range(4)
        ]
    z2 = (
        F.lit(w[0]) + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2") + F.lit(w[3]) * F.col("x3")
    )
    return feats.agg(
        F.lit(w[0]).alias("w_bias"),
        F.lit(w[1]).alias("w_stop"),
        F.lit(w[2]).alias("w_punct"),
        F.lit(w[3]).alias("w_len"),
        F.round(
            F.avg(F.when((z2 >= 0) == (F.col("y") == 1), 1.0).otherwise(0.0)),
            6,
        ).alias("train_acc"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Split-leakage audit: do any eval-split documents share an exact
# content fingerprint with the train split? The QA gate every pipeline
# runs after splitting — the fixtures plant exact duplicate docs, and
# hash-gated splits assign copies INDEPENDENTLY (different doc_ids ->
# different gates), so a nonzero rate here is the expected, observable
# failure mode that content-aware splitting (split on fp, not doc_id)
# would fix. Scale: one fingerprint projection, one distinct, one
# fp-keyed equi-join — the dedup_exact shuffle profile.
# ---------------------------------------------------------------------------

from .llm import _FP_SQL as _LLM_FP_SQL  # noqa: E402  (one fp definition)


def _leakage_audit_sql(split_case_sql: str) -> str:
    """The ONE leakage-audit oracle body, parametrized on the split CASE
    expression — split_leakage_audit (doc-id gate) and
    split_by_cluster_audit (content gate) render from this template, so
    the audit semantics can never diverge between them."""
    return f"""
    WITH s AS (
        SELECT doc_id,
               {split_case_sql} AS split,
               {_LLM_FP_SQL.format(t='text')} AS fp
        FROM documents
    ),
    train_fp AS (SELECT DISTINCT fp FROM s WHERE split = 'train'),
    ev AS (SELECT split, s.fp, (t.fp IS NOT NULL) AS leaked
           FROM s LEFT JOIN train_fp t ON s.fp = t.fp
           WHERE split <> 'train')
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN leaked THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           round(sum(CASE WHEN leaked THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS contamination_rate
    FROM ev GROUP BY split
    """


def _leakage_audit_frame(docs: DataFrame, split_col) -> DataFrame:
    """Spark twin of _leakage_audit_sql: per eval split, how many docs
    share an exact content fingerprint with the train split. One fp
    projection, one distinct, one fp-keyed equi-join — the dedup_exact
    shuffle profile regardless of which split gate is audited."""
    from ..functions.text import fingerprint

    s = docs.select(
        "doc_id",
        split_col.alias("split"),
        fingerprint("text").alias("fp"),
    ).localCheckpoint(eager=False)  # feeds the train set AND the eval side
    train_fp = s.filter(F.col("split") == "train").select("fp").distinct()
    ev = (
        s.filter(F.col("split") != "train")
        .join(train_fp.withColumn("leaked", F.lit(True)), "fp", "left_outer")
    )
    return ev.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("leaked"), 1).otherwise(0)).alias("n_contaminated"),
        F.round(
            F.sum(F.when(F.col("leaked"), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("contamination_rate"),
    )


@register("split_leakage_audit", _leakage_audit_sql(_SPLIT_CASE_SQL))
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _leakage_audit_frame(docs, split_column())


# ---------------------------------------------------------------------------
# Content-aware split (closes the loop split_leakage_audit opened):
# gate the split on the CONTENT fingerprint instead of the doc_id, so
# every copy of a document — planted re-crawls, mirrored pages, new ids
# for old bytes — lands in the SAME split by construction. The exact
# fingerprint IS the duplicate-cluster key for exact copies (the class
# the audit measures), which makes the fix a pure map-side projection:
# no cluster join, no shuffle, and a doc's split is stable under
# re-crawling forever. A fresh salt decorrelates the gate from the
# doc-id split and every other hash gate in the pipeline.
#
# Near-dup robustness is the documented extension, not a new mechanism:
# replace fp with the near-dup cluster representative's fingerprint
# (dedup_cluster_representatives rep_doc_id -> its fp) and gate the same
# way — one extra broadcast-scale join against the (small) cluster-rep
# relation; singleton docs keep their own fp. Capability lineage:
# transform-then-aggregate over the parsed stream
# (StructuredStreamingKafka.scala:39-52) — the split gate is the same
# derived-column projection class.
#
# Scale: identical profile to split_train_valid_test — fp + md5 gate are
# per-row codegen expressions, so at 100 TB this is a full scan and
# nothing else; the audit twin below adds the one fp-keyed equi-join
# split_leakage_audit already carries.
# ---------------------------------------------------------------------------

_SPLITC_SALT = "splitc:"


def _splitc_case_sql(fp_sql: str) -> str:
    """The content-keyed split CASE over an arbitrary fingerprint SQL
    expression — split_by_cluster gates on the doc's own fp,
    split_by_neardup_cluster on the cluster representative's. One
    template, so the thresholds/salt can never diverge between the two."""
    h = _gate_sql(f"md5('{_SPLITC_SALT}' || {fp_sql})")
    return f"""CASE WHEN {h} < {_SPLIT_VALID_LT} THEN 'valid'
                WHEN {h} < {_SPLIT_TEST_LT} THEN 'test'
                ELSE 'train' END"""


_SPLITC_CASE_SQL = _splitc_case_sql(_LLM_FP_SQL.format(t="text"))


def cluster_split_column(fp=None):
    """Spark twin of _splitc_case_sql: the content-keyed split label over
    a fingerprint Column (default: the doc's own fingerprint). Same
    thresholds as split_column(); the gate hashes salt + fingerprint, so
    fp-equal docs get byte-equal gates."""
    from ..functions.text import fingerprint

    if fp is None:
        fp = fingerprint("text")
    gate = _md5_gate(F.md5(F.concat(F.lit(_SPLITC_SALT), fp)))
    return (
        F.when(gate < _SPLIT_VALID_LT, F.lit("valid"))
        .when(gate < _SPLIT_TEST_LT, F.lit("test"))
        .otherwise(F.lit("train"))
    )


# Shared with the at-ingest twin stream_split_by_cluster (plans/stream.py)
# — a stateless projection drains to the identical relation.
SPLIT_BY_CLUSTER_ORACLE = f"""
    SELECT doc_id, source, {_SPLITC_CASE_SQL} AS split
    FROM documents
    """


@register("split_by_cluster", SPLIT_BY_CLUSTER_ORACLE)
def split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "source", cluster_split_column().alias("split"))


@register("split_by_cluster_audit", _leakage_audit_sql(_SPLITC_CASE_SQL))
def split_by_cluster_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The split_leakage_audit re-run on the content-keyed split: every
    eval-split fingerprint is disjoint from train BY CONSTRUCTION (equal
    fp => equal gate => equal split), so n_contaminated is exactly 0
    where the doc-id split's audit shows the planted-duplicate leak.
    Pinned against that contrast by
    tests/test_operators.py::test_split_by_cluster_zero_leakage."""
    docs = load_table(spark, sf_dir, "documents")
    return _leakage_audit_frame(docs, cluster_split_column())


# ---------------------------------------------------------------------------
# Near-dup-robust split: the exact-fp gate puts exact COPIES in one
# split, but a NEAR-duplicate (re-crawl with a truncated tail, the
# _near_corpus plants) has a different fingerprint -> an independent gate
# -> its cluster can straddle train and eval (measured: 4 straddling
# clusters, 4 cluster-leaked eval docs at sf0.01 under the own-fp gate).
# Fix: gate every clustered doc on its CLUSTER REPRESENTATIVE's
# fingerprint — rep = the component's min doc_id (cluster_id), the same
# transitive clusters dedup_clusters ships — so a whole near-dup cluster
# moves as one unit; singleton docs keep their own fp (identical gate to
# split_by_cluster).
#
# Scale: the fp projection is map-side; the cluster relation is the
# proven LSH-candidate -> jaccard-verify -> connected-components pipeline
# (bucket-bounded, no shingle self-join, checkpointed fixpoint); the
# member->cluster and rep-fp lookups are fp/cluster-keyed equi-joins left
# UNHINTED because the duplicate subset grows with the corpus (the
# FIXED-K rule). No new mechanism — one composition of shipped pieces.
# ---------------------------------------------------------------------------

_NEARDUP_KEYED_CTES = f"""{_NC_CTE.strip()},
    {_SH_CTE.strip()},
    {_LC_CTE.strip()},
    {_JS_CTE.strip()},
    {_ERC_CTE.strip()},
    fps AS (SELECT doc_id, {_LLM_FP_SQL.format(t='text')} AS fp FROM corpus),
    sp AS (
        SELECT f.doc_id,
               {_splitc_case_sql('coalesce(rf.fp, f.fp)')} AS split,
               c.cluster_id
        FROM fps f
        LEFT JOIN clusters c ON f.doc_id = c.doc_id
        LEFT JOIN fps rf ON rf.doc_id = c.cluster_id
    )"""


def _neardup_split_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, split, cluster_id) over the near corpus under the
    representative-fp gate — the Spark twin of _NEARDUP_KEYED_CTES' sp,
    shared by the assignment and audit queries."""
    from ..functions.text import fingerprint
    from ..operators.components import connected_components

    corpus = _near_corpus(spark, sf_dir)
    fps = corpus.select(
        "doc_id", fingerprint("text").alias("fp")
    ).localCheckpoint(eager=False)  # feeds the member AND rep-lookup sides
    cc = connected_components(_jaccard_pair_graph(spark, sf_dir)).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    rep_fps = fps.select(
        F.col("doc_id").alias("cluster_id"), F.col("fp").alias("rep_fp")
    )
    return (
        fps.join(cc, "doc_id", "left_outer")
        .join(rep_fps, "cluster_id", "left_outer")
        .select(
            "doc_id",
            cluster_split_column(
                F.coalesce(F.col("rep_fp"), F.col("fp"))
            ).alias("split"),
            "cluster_id",
        )
    )


# Shared with the at-ingest twin stream_split_by_neardup (plans/stream.py)
# — the stream-static rep-fp map join drains to the identical relation.
SPLIT_BY_NEARDUP_ORACLE = f"""
    WITH RECURSIVE {_NEARDUP_KEYED_CTES}
    SELECT doc_id, split FROM sp
    """


@register("split_by_neardup_cluster", SPLIT_BY_NEARDUP_ORACLE)
def split_by_neardup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _neardup_split_frame(spark, sf_dir).select("doc_id", "split")


@register(
    "split_by_neardup_cluster_audit",
    f"""
    WITH RECURSIVE {_NEARDUP_KEYED_CTES},
    tc AS (SELECT DISTINCT cluster_id FROM sp
           WHERE split = 'train' AND cluster_id IS NOT NULL),
    ev AS (SELECT sp.split, (t.cluster_id IS NOT NULL) AS leaked
           FROM sp LEFT JOIN tc t ON sp.cluster_id = t.cluster_id
           WHERE sp.split <> 'train')
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN leaked THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cluster_leaked,
           round(sum(CASE WHEN leaked THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS cluster_leak_rate
    FROM ev GROUP BY split
    """,
)
def split_by_neardup_cluster_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cluster-level leakage audit (leaked = an eval doc sharing a
    near-dup CLUSTER with any train doc) on the representative-fp split:
    exactly 0 on every eval split by construction — where the own-fp gate
    measurably leaks (the planted truncated re-crawls straddle; pinned by
    tests/test_operators.py::test_split_by_neardup_cluster_contrast)."""
    s = _neardup_split_frame(spark, sf_dir).localCheckpoint(
        eager=False
    )  # feeds the train-cluster set AND the eval side
    tc = (
        s.filter((F.col("split") == "train") & F.col("cluster_id").isNotNull())
        .select("cluster_id")
        .distinct()
    )
    ev = s.filter(F.col("split") != "train").join(
        tc.withColumn("leaked", F.lit(True)), "cluster_id", "left_outer"
    )
    return ev.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("leaked"), 1).otherwise(0)).alias(
            "n_cluster_leaked"
        ),
        F.round(
            F.sum(F.when(F.col("leaked"), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("cluster_leak_rate"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV reporting: build the top-V token
# vocabulary by corpus frequency (the tokenizer-building precursor) and
# report per-source out-of-vocabulary rates — the go/no-go check before
# committing a tokenizer to a data mixture. Scale: token counts are one
# partial-aggregated hash shuffle; the vocabulary is TakeOrderedAndProject
# top-V (fixed-size by construction — the broadcast-dim class), so the
# coverage pass is a map-side broadcast join + one small per-source agg.
# Ties at the frequency boundary break by token text, so top-V is a total
# order and both engines pick the same vocabulary.
# ---------------------------------------------------------------------------

_VOCAB_V = 1000


@register(
    "text_vocab_coverage",
    f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    vocab AS (
        SELECT tok FROM counts ORDER BY cnt DESC, tok LIMIT {_VOCAB_V}
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           round(avg(CASE WHEN v.tok IS NULL THEN 1.0 ELSE 0.0 END), 4)
               AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.source
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(_VOCAB_V)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    # toks feeds the count agg and the coverage join; re-deriving it is one
    # extra documents scan — cheaper at scale than materializing the full
    # token stream, so deliberately NOT checkpointed.
    cov = toks.join(F.broadcast(vocab), "tok", "left")
    return cov.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .alias("n_oov"),
        F.round(
            F.avg(F.when(F.col("in_vocab").isNull(), 1.0).otherwise(0.0)), 4
        ).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# Quantile feature binning: the distributed QuantileDiscretizer —
# assign every document to a quality-score decile and profile each bin.
# The scalable shape: per-VALUE counts (one hash shuffle over a relation
# bounded by the score's 1e-4 rounding grid, so <= ~10k rows regardless of
# corpus size), a cumulative sum over that tiny relation, discrete
# (type-1 / inverse-ECDF) boundaries at integer ranks — pure ordering +
# integer arithmetic, NO float interpolation, so both engines derive
# bit-identical bounds — then a map-side broadcast bucket assignment.
# ntile() would need a single global sort; interpolated percentile() would
# race engine ulp differences at bucket edges. Ranks use (b*n + 9) div 10
# = ceil(b*n/10) in integer math.
# ---------------------------------------------------------------------------


@register(
    "train_feature_binning",
    f"""
    WITH {_quality_cte_sql('documents').strip()},
    counts AS (
        SELECT quality_p AS q, CAST(count(*) AS BIGINT) AS c
        FROM quality GROUP BY quality_p
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM quality),
    cum AS (SELECT q, sum(c) OVER (ORDER BY q) AS cumc FROM counts),
    bounds AS (
        SELECT t.b, min(cum.q) AS bound
        FROM range(1, 10) t(b) CROSS JOIN nn JOIN cum
          ON cum.cumc >= (t.b * nn.n + 9) // 10
        GROUP BY t.b
    ),
    blist AS (SELECT list(bound ORDER BY b) AS bs FROM bounds),
    assigned AS (
        SELECT quality_p,
               CAST(1 + len(list_filter(blist.bs, x -> quality_p > x)) AS INT)
                   AS bucket
        FROM quality CROSS JOIN blist
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
           round(min(quality_p), 4) AS q_min,
           round(max(quality_p), 4) AS q_max,
           round(avg(quality_p), 6) AS q_avg
    FROM assigned GROUP BY bucket
    """,
)
def train_feature_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(quality_p_col().alias("q")).localCheckpoint(eager=False)
    counts = q.groupBy("q").agg(F.count(F.lit(1)).alias("c"))
    nn = counts.agg(F.sum("c").alias("n"))
    # The unpartitioned running sum is over the per-VALUE relation, which
    # the 1e-4 score grid bounds at ~10k rows — the documented fixed-size
    # exception to the no-global-window rule.
    from pyspark.sql.window import Window as W

    cum = counts.select(
        "q", F.sum("c").over(W.orderBy("q")).alias("cumc")
    )
    bounds = (
        cum.crossJoin(F.broadcast(nn))
        .select("q", "cumc", "n", F.explode(F.expr("sequence(1, 9)")).alias("b"))
        .filter(F.col("cumc") >= F.expr("(b * n + 9) div 10"))
        .groupBy("b")
        .agg(F.min("q").alias("bound"))
    )
    blist = bounds.agg(
        F.expr("transform(array_sort(collect_list(struct(b, bound))), s -> s.bound)")
            .alias("bs")
    )
    assigned = q.crossJoin(F.broadcast(blist)).select(
        "q",
        (
            F.lit(1)
            + F.expr("aggregate(bs, 0, (acc, x) -> acc + CASE WHEN q > x THEN 1 ELSE 0 END)")
        ).cast("int").alias("bucket"),
    )
    return assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("q"), 4).alias("q_min"),
        F.round(F.max("q"), 4).alias("q_max"),
        F.round(F.avg("q"), 6).alias("q_avg"),
    )


# ---------------------------------------------------------------------------
# BPE-merge tokenizer training: the missing
# iterative TEXT operator — kmeans/PageRank/logreg prove the exactly-
# oracle-replayable fixed-round pattern; tokenizer training is the
# LLM-pipeline operator that class exists for. _BPE_ROUNDS merge rounds
# over the corpus word-frequency table; output = the learned merge table
# (<= _BPE_ROUNDS rows). The oracle unrolls the rounds as CTEs (the
# kmeans-iteration idiom): per round, pair counts from the encoded words,
# the (count DESC, a, b) argmax, and the single-pass left-to-right merge
# replace — see operators/bpe.py for why one replace pass is exact.
# Complements text_token_count_bpe (which only counts against a fixed
# regex); text_vocab_coverage's top-V relation is the natural input cap
# at 100 TB (the word-frequency table is Zipf-bounded either way).
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 8


def _bpe_round_ctes(i: int) -> str:
    """Round i of the BPE replay: pair counts from w{i-1}, the argmax
    merge m{i}, and the merged relation w{i} (the SQL twin of one
    operators/bpe.py train_bpe round; DuckDB's list unnest zips with the
    carried columns, and str_split/trim/regexp_replace mirror
    symbols_array/merge_pattern exactly)."""
    return f"""
    p{i} AS (
        SELECT s[j] AS a, s[j+1] AS b, CAST(sum(cnt) AS BIGINT) AS pc
        FROM (
            SELECT cnt, s, unnest(range(1, len(s))) AS j
            FROM (SELECT cnt, str_split(trim(enc), '  ') AS s FROM w{i-1})
        )
        GROUP BY 1, 2
    ),
    m{i} AS (SELECT {i} AS rnd, a, b, a || b AS merged, pc
             FROM p{i} ORDER BY pc DESC, a, b LIMIT 1),
    w{i} AS (SELECT word, cnt,
                regexp_replace(enc, ' ' || m.a || '  ' || m.b || ' ',
                               ' ' || m.a || m.b || ' ', 'g') AS enc
             FROM w{i-1} CROSS JOIN m{i} m)"""


# w0 + the unrolled merge rounds, shared between the trainer's oracle and
# the streaming tokenizer's (which replays the training to obtain the same
# m1..m{_BPE_ROUNDS} the Spark side embeds as literals).
_BPE_W0_CTE = """w0 AS (
        SELECT word, CAST(count(*) AS BIGINT) AS cnt,
               regexp_replace(word, '(.)', ' \\1 ', 'g') AS enc
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE regexp_matches(word, '^[a-z]+$')
        GROUP BY word
    )"""

TRAIN_BPE_ORACLE = f"""
    WITH {_BPE_W0_CTE},
    {','.join(_bpe_round_ctes(i) for i in range(1, _BPE_ROUNDS + 1))}
    SELECT CAST(rnd AS BIGINT) AS rnd, a AS sym_a, b AS sym_b, merged,
           pc AS pair_count
    FROM ({' UNION ALL '.join(f'SELECT * FROM m{i}'
                              for i in range(1, _BPE_ROUNDS + 1))})
    """


def _bpe_doc_ctes(i: int) -> str:
    """Round i of the doc-level merge replay (streaming tokenizer oracle):
    the SAME single-pass replace the trainer's w{i} CTE applies to words,
    applied to the doc-level encoding d{i-1} — patterns never span the
    '|' word separators, so per-doc application equals per-word."""
    return f"""
    d{i} AS (SELECT doc_id, n_words, n_chars_az,
                regexp_replace(enc, ' ' || m.a || '  ' || m.b || ' ',
                               ' ' || m.a || m.b || ' ', 'g') AS enc
             FROM d{i-1} CROSS JOIN m{i} m)"""


# The doc encoding: each [a-z]+ word space-encoded like the trainer
# (' a  b  c '), words joined with '|'. A merge pattern ' a  b ' needs the
# two-space gap, and at a word boundary the encoding reads 'c | d' — one
# space each side of the separator — so merges can never cross words.
_BPE_DOC_WORDS_SQL = (
    "list_filter(string_split(text, ' '), w -> regexp_matches(w, '^[a-z]+$'))"
)

STREAM_BPE_TOKENIZE_ORACLE = f"""
    WITH {_BPE_W0_CTE},
    {','.join(_bpe_round_ctes(i) for i in range(1, _BPE_ROUNDS + 1))},
    d0 AS (
        SELECT doc_id,
               array_to_string(list_transform({_BPE_DOC_WORDS_SQL},
                   w -> regexp_replace(w, '(.)', ' \\1 ', 'g')), '|') AS enc,
               len({_BPE_DOC_WORDS_SQL}) AS n_words,
               length(array_to_string({_BPE_DOC_WORDS_SQL}, '')) AS n_chars_az
        FROM documents
    ),
    {','.join(_bpe_doc_ctes(i) for i in range(1, _BPE_ROUNDS + 1))}
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_chars_az AS BIGINT) AS n_chars_az,
           CAST(len(regexp_extract_all(enc, '[a-z]+')) AS BIGINT) AS n_tokens,
           round(CAST(len(regexp_extract_all(enc, '[a-z]+')) AS DOUBLE)
                 / n_words, 4) AS fertility
    FROM d{_BPE_ROUNDS} WHERE n_words > 0
    """


def bpe_word_freqs(docs: DataFrame) -> DataFrame:
    """(word, cnt): the corpus word-frequency table BPE trains on —
    whitespace tokens restricted to [a-z]+ so every learned symbol is
    regex-metacharacter-free (the merge replace's precondition)."""
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


@register("train_bpe_merges", TRAIN_BPE_ORACLE)
def train_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table: (rnd, sym_a, sym_b, merged, pair_count),
    one row per merge round. Per round: one partial-aggregated pair-count
    shuffle, a 1-row argmax driver fetch (fixed-size by construction),
    and a map-side replace over the checkpointed word relation. The
    fertility-improvement property (merged tokens/word strictly below
    character tokens/word) is pinned by
    tests/test_operators.py::test_bpe_fertility_improves."""
    from ..operators.bpe import train_bpe

    words = bpe_word_freqs(load_table(spark, sf_dir, "documents"))
    merges, _enc = train_bpe(words, _BPE_ROUNDS)
    return spark.createDataFrame(
        merges, "rnd bigint, sym_a string, sym_b string, merged string, pair_count bigint"
    )
