"""Deduplication operators for LLM training-data pipelines (SURVEY §7
Phase 3): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Scale design (the 100 TB story):
- Exact dedup is one hash-shuffle on the fingerprint (map-side combine).
- MinHash/LSH never compares all pairs: band buckets bound candidate
  generation; the shuffle key is (band_id, band_hash), so work scales with
  collisions, not n^2.
- SimHash blocking splits the fingerprint into chunks; hamming<=k pairs must
  collide on >=1 chunk (pigeonhole), same bounded-candidates property.
- Embedding near-dup blocks on hyperplane (signed-random-projection) LSH:
  equi-join on (band_id, code) buckets, work bounded by bucket occupancy.
  Exact duplicates collide in every band by construction; near-dups at the
  0.99 default survive with prob 1-3e-9, so output matches brute force.

Hash-function note: signatures use md5 (hex-string min) so the DuckDB oracle
can reproduce them bit-for-bit. On a real cluster swap ``hash_fn`` for
xxhash64 — same algorithm, cheaper hash; the structure (explode -> min-agg ->
band -> self-join) is unchanged.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions.text import fingerprint, shingles

__all__ = [
    "exact_dedup",
    "doc_shingles",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "jaccard_pairs",
    "containment_pairs",
    "levenshtein_pairs",
    "simhash_fingerprints",
    "simhash_near_pairs",
    "image_phash_fingerprints",
    "audio_envelope_fingerprints",
    "audio_spectral_fingerprints",
    "phash_chunks",
    "phash_hamming",
    "phash_near_pairs",
    "embedding_near_pairs",
    "semdedup_pairs",
]


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact (content-set) dedup: group by the sorted-token md5 fingerprint,
    keep the smallest id. Output: (keep_id, n_copies, fp)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def doc_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) pairs — the input relation for minhash and jaccard.

    ``distinct=True`` (a shuffle) is required for Jaccard set arithmetic;
    minhash min-aggregation is duplicate-insensitive, so pass False there
    and skip the shuffle entirely (the min-agg's map-side combine absorbs
    duplicates for free)."""
    from ..functions.text import shingles_from_words

    exploded = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
    ).select(F.col(id_col), F.explode(shingles_from_words("_w", n)).alias("shingle"))
    return exploded.distinct() if distinct else exploded


# MinHash permutation family: one md5-derived 32-bit base hash per shingle,
# then affine permutations h_j = (a_j*h + b_j) mod P over a prime > 2^32.
# One digest per shingle instead of num_hashes digests — the hash count no
# longer multiplies the expensive part. Constants are fixed so the DuckDB
# oracle reproduces signatures exactly.
MINHASH_PRIME = 4294967311

# The production family standard: every registered
# MinHash query uses 15 hashes in 5 bands of 3 — these are THE defaults, so
# a caller relying on them builds signatures/bands consistent with every
# stored catalog. plans/llm.py re-exports them as _NUM_HASHES/_BANDS.
NUM_HASHES = 15
BANDS = 5


def _minhash_a(j: int) -> int:
    # Knuth-multiplicative mixing, capped < 2^30 so a*h (h < 2^32) stays
    # within int64; forced odd. Small a_j (e.g. 2j+1) would make the
    # permutations order-preserving => correlated minima => broken LSH.
    return (2654435761 * (j + 1)) % (2**30) | 1


def _minhash_b(j: int) -> int:
    return (2654435789 * (j + 1) * (j + 13)) % MINHASH_PRIME


def minhash_signatures(
    sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash signature per doc: sig_j = min over shingles of
    (a_j * h + b_j) mod P, h a 32-bit shingle hash. One groupBy with
    num_hashes min-aggregates — a single shuffle, map-side partial mins;
    duplicates in the input are absorbed by the min.

    ``hash_fn``: "md5" (first 8 hex digits as uint32 — reproducible in
    DuckDB, the oracle-parity default) or "xxhash64" (JVM intrinsic, no
    string materialization — the production path at scale; signatures
    differ from md5's but the LSH recall properties are identical, see
    tests/test_operators.py::test_minhash_lsh_xxhash64_recalls_planted).
    """
    if hash_fn == "md5":
        base = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast(
            "long"
        )
    elif hash_fn == "xxhash64":
        # fold the signed 64-bit hash into the uint32 domain the affine
        # permutation family expects (pmod, not %, for negative hashes)
        base = F.pmod(F.xxhash64(F.col("shingle")), F.lit(2**32).cast("long"))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} (md5|xxhash64)")
    with_h = sh.withColumn("_h", base)
    aggs = [
        F.min(
            (F.lit(_minhash_a(j)) * F.col("_h") + F.lit(_minhash_b(j)))
            % F.lit(MINHASH_PRIME)
        ).alias(f"sig_{j}")
        for j in range(num_hashes)
    ]
    return with_h.groupBy(id_col).agg(*aggs)


#: shingle-hash array from a `_sh` string-array column — the within-row
#: twin of minhash_signatures' md5 base hash (same 8-hex-digit uint32).
MINHASH_HASH_ARRAY_SQL = (
    "transform(_sh, g -> CAST(conv(substring(md5(g), 1, 8), 16, 10)"
    " AS BIGINT))"
)


def minhash_sig_cols_within_row(num_hashes: int = NUM_HASHES) -> list:
    """sig_0..sig_{n-1} as WITHIN-ROW columns over a `_hs` shingle-hash
    array: array_min of the same affine permutations minhash_signatures
    min-aggregates (min over a set = min over its array). The single
    definition the streaming probe plan and its parity test share (a test
    validating its own inline copy would miss drift in the production
    expression)."""
    return [
        F.expr(
            f"array_min(transform(_hs, h -> ({_minhash_a(j)} * h"
            f" + {_minhash_b(j)}) % {MINHASH_PRIME}))"
        ).alias(f"sig_{j}")
        for j in range(num_hashes)
    ]


def lsh_band_values(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
) -> DataFrame:
    """(id, band_id, band_val): the banded-signature relation — factored
    out of lsh_candidate_pairs so at-ingest probes can equi-join a
    band-value CATALOG directly instead of self-joining. band_val =
    md5('|'-joined band of signature components); the stack melt stays in
    codegen."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[F.col(f"sig_{b * rows_per_band + r}")
                  for r in range(rows_per_band)],
            )
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    stack_expr = ", ".join(f"{b}, band_{b}" for b in range(bands))
    return banded.selectExpr(
        id_col, f"stack({bands}, {stack_expr}) AS (band_id, band_val)"
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: hash each band of rows, bucket-join docs sharing any
    band value. Output distinct candidate pairs (id_a < id_b).

    ``max_bucket_size`` drops band buckets holding more than that many docs
    before the self-join. Bucket occupancy is the quadratic term of LSH at
    scale: a web corpus where millions of near-identical boilerplate pages
    agree on a whole band would otherwise turn that bucket into 10^12
    pairs. Docs in an over-full bucket almost always still pair through
    their other bands, and true mass-duplicate clusters should be collapsed
    by exact dedup BEFORE near-dup LSH (the pipeline order
    pipeline_training_data_prep uses). Default None preserves exact oracle
    parity for the registered queries; set it (e.g. 1000) on real corpora.
    The same guard applies conceptually to the simhash chunk buckets and
    hyperplane code buckets."""
    melted = lsh_band_values(sig, id_col, num_hashes, bands)
    # Materialize the banded signatures ONCE: the self-join otherwise
    # recomputes the whole shingle->md5->min-agg pipeline per side. At
    # cluster scale this is the "write the signature table" step; locally
    # a lineage-cutting checkpoint is its single-job equivalent.
    melted = melted.localCheckpoint()
    if max_bucket_size is not None:
        small_buckets = (
            melted.groupBy("band_id", "band_val")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("band_id", "band_val")
        )
        melted = melted.join(small_buckets, ["band_id", "band_val"], "left_semi")
    a = melted.alias("a")
    b = melted.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.4,
    candidates: DataFrame | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity. Output (id_a, id_b, jaccard) with
    round(4) >= threshold.

    With ``candidates`` (an (id_a, id_b) DataFrame, e.g. from
    ``lsh_candidate_pairs``), the intersection is computed candidate-driven:
    candidates x shingles(id_a) keyed back into shingles on (id_b, shingle)
    — two key-lookup joins whose work is |candidates| * avg shingles per
    doc, never a shingle self-join. This is the at-scale shape: a web corpus
    has boilerplate shingles in millions of docs, and a self-join keyed on
    the shingle explodes quadratically on those hot keys.

    Without ``candidates``, falls back to the shingle self-join (work
    proportional to per-shingle collision counts): only for small or
    pre-bounded corpora.

    ``checkpoint=False`` skips the internal materialization when the caller
    already localCheckpoint()-ed ``sh`` (e.g. to share it with the minhash
    signature derivation feeding ``candidates``).
    """
    # The shingle relation feeds sizes + both join sides: materialize once
    # instead of recomputing the explode(+distinct shuffle) three times.
    if checkpoint:
        sh = sh.localCheckpoint()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if candidates is not None:
        sha = sh.select(F.col(id_col).alias("id_a"), "shingle")
        shb = sh.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            candidates.select("id_a", "id_b")
            .join(sha, "id_a")
            .join(shb, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    sh: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.9,
) -> DataFrame:
    """Shingle CONTAINMENT (Broder): c(a in b) = |A∩B| / |A| — the
    asymmetric near-superset measure. A doc wholly embedded in a larger one
    (boilerplate wrapping, truncation) scores containment ~1.0 while its
    symmetric jaccard can be arbitrarily low, so this is the dedup check
    jaccard structurally misses. Output (id_a, id_b, cont_a_in_b,
    cont_b_in_a) keeping pairs where either direction >= threshold.

    Candidate-driven only (same two key-lookup joins as the candidates=
    path of jaccard_pairs — at scale the unbounded variant has the same
    hot-shingle blowup, so no self-join fallback is offered).
    """
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sha = sh.select(F.col(id_col).alias("id_a"), "shingle")
    shb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        candidates.select("id_a", "id_b")
        .join(sha, "id_a")
        .join(shb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter") / F.col("na"), 4).alias("cont_a_in_b"),
            F.round(F.col("inter") / F.col("nb"), 4).alias("cont_b_in_a"),
        )
        .filter(
            (F.col("cont_a_in_b") >= threshold) | (F.col("cont_b_in_a") >= threshold)
        )
    )


def levenshtein_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "head",
    max_dist: int = 2,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Edit-distance pairs (id_a, id_b, dist) with dist <= max_dist.

    With ``candidates`` (an (id_a, id_b) DataFrame, e.g. from
    ``lsh_candidate_pairs``), work is two key-lookup joins over |candidates|
    rows — the at-scale shape, never all pairs. Without it, the self-join is
    all-pairs over ``df``: only for small, pre-bounded inputs.
    """
    keyed = df.select(F.col(id_col), F.col(key_col))
    if candidates is not None:
        ka = keyed.select(F.col(id_col).alias("id_a"), F.col(key_col).alias("_ka"))
        kb = keyed.select(F.col(id_col).alias("id_b"), F.col(key_col).alias("_kb"))
        scored = (
            candidates.select("id_a", "id_b")
            .join(ka, "id_a")
            .join(kb, "id_b")
            .select(
                "id_a", "id_b", F.levenshtein("_ka", "_kb").alias("dist")
            )
        )
    else:
        a, b = keyed.alias("a"), keyed.alias("b")
        scored = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.levenshtein(F.col(f"a.{key_col}"), F.col(f"b.{key_col}")).alias("dist"),
        )
    return scored.filter(F.col("dist") <= max_dist)


# --- SimHash ---------------------------------------------------------------
# 32-bit simhash from the md5 of each distinct token: nibble c of the hex
# digest contributes 4 bits; bit i of the fingerprint is the sign of the
# sum over tokens of (2*bit_i(token) - 1). Pure integer arithmetic on hex
# characters (position in '0123456789abcdef') so DuckDB reproduces it
# exactly; swap md5 for xxhash64+bit ops at scale.

SIMHASH_BITS = 32


def _nibble(h, c: int):
    # value of hex char c (0-based) of digest h
    return F.instr(F.lit("0123456789abcdef"), F.substring(h, c + 1, 1)) - 1


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, simhash) with a 32-bit fingerprint as BIGINT.

    ``hash_fn``: "md5" (nibble arithmetic — DuckDB-reproducible, the
    oracle default) or "xxhash64" (JVM intrinsic bit ops — the production
    path; different fingerprints, same hamming-distance clustering of
    near-identical docs)."""
    tokens = df.select(
        F.col(id_col), F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok")
    ).distinct()
    bit_sums = []
    if hash_fn == "md5":
        h = F.md5(F.col("tok"))
        for i in range(SIMHASH_BITS):
            c, off = divmod(i, 4)
            bit = F.floor(_nibble(h, c) / (2 ** (3 - off))) % 2
            bit_sums.append(F.sum(bit * 2 - 1).alias(f"s_{i}"))
    elif hash_fn == "xxhash64":
        h64 = F.xxhash64(F.col("tok"))
        for i in range(SIMHASH_BITS):
            bit = F.shiftright(h64, i).bitwiseAND(F.lit(1))
            bit_sums.append(F.sum(bit * 2 - 1).alias(f"s_{i}"))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} (md5|xxhash64)")
    sums = tokens.groupBy(id_col).agg(*bit_sums)
    acc = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        acc = acc + F.when(F.col(f"s_{i}") > 0, F.lit(2**i).cast("long")).otherwise(0)
    return sums.select(F.col(id_col), acc.alias("simhash"))


def simhash_near_pairs(
    fp: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming, blocked on
    8-bit chunks: hamming<=3 over 4 chunks forces >=1 identical chunk
    (pigeonhole), so the join is bucket-bounded, never all-pairs."""
    chunks = fp.select(
        F.col(id_col),
        "simhash",
        *[
            (F.shiftright("simhash", 8 * c) % 256).alias(f"chunk_{c}")
            for c in range(4)
        ],
    )
    melted = chunks.selectExpr(
        id_col,
        "simhash",
        "stack(4, 0, chunk_0, 1, chunk_1, 2, chunk_2, 3, chunk_3) AS (chunk_id, chunk_val)",
    )
    # One materialization of the chunked fingerprints; the self-join would
    # otherwise run the 32-bit-sum fingerprint aggregation twice.
    melted = melted.localCheckpoint()
    a, b = melted.alias("a"), melted.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# --- Perceptual-hash image dedup -------------------------------------------
# aHash/dHash fingerprints over REALLY-decoded pixels (functions.imaging:
# PNG/PPM -> luminance -> resample -> threshold bits), packed as hex in
# reading order so hamming = sum of per-nibble bit_count(xor) — replayable
# in both engines. Candidate pairs reuse the simhash pigeonhole idea
# generalized to hex strings: hamming <= k with k+1 substring chunks
# forces >= 1 identical chunk, so the join is bucket-bounded, never
# all-pairs. This makes multimodal columns a first-class dedup family,
# not feature-extraction-only.


def image_phash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    hash_size: int = 8,
    kind: str = "ahash",
) -> DataFrame:
    """(id, phash): perceptual fingerprint per image blob via the REAL
    decode path (mapInPandas, Arrow batches — no per-row Python outside
    the batch loop). ``kind``: "ahash" (mean threshold) or "dhash"
    (horizontal gradient sign). Output hex length = hash_size^2 / 4.

    Scale: decode cost is the dominant term and runs map-side before any
    shuffle; only (id, 16-char hash) rows ever move. Set
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` down when blobs are
    MBs (same guidance as decode_features)."""
    from ..functions.imaging import average_hash, decode_image, difference_hash

    if kind not in ("ahash", "dhash"):
        raise ValueError(f"unknown phash kind {kind!r} (ahash|dhash)")
    hasher = average_hash if kind == "ahash" else difference_hash

    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("phash", T.StringType()),
        ]
    )

    def batches(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "phash": pdf[content_col].map(
                        lambda b: hasher(decode_image(bytes(b)), hash_size)
                    ),
                }
            )

    return df.mapInPandas(batches, out_schema)


def _audio_fingerprints(df: DataFrame, id_col: str, content_col: str, hash_fn):
    """Shared mapInPandas scaffold for the audio fingerprint family:
    decode every WAV blob through the REAL codec and hash the samples
    with ``hash_fn`` (envelope or scalogram) — one place for the Arrow
    batch shape / bytes coercion / decode error surface."""
    from ..functions.audio import decode_wav

    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("phash", T.StringType()),
        ]
    )

    def batches(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "phash": pdf[content_col].map(
                        lambda b: hash_fn(decode_wav(bytes(b))[0])
                    ),
                }
            )

    return df.mapInPandas(batches, out_schema)


def audio_envelope_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    hash_size: int = 8,
) -> DataFrame:
    """(id, phash): amplitude-envelope fingerprint per audio blob via the
    REAL WAV decode path (mapInPandas, Arrow batches) — the audio entry
    into the same Hamming-band dedup machinery as the image hashes
    (``phash_near_pairs`` consumes either; same hex packing, same chunk
    pigeonhole). Output column is named phash so the pair operator needs
    no per-modality configuration."""
    from ..functions.audio import envelope_hash

    return _audio_fingerprints(
        df, id_col, content_col, lambda s: envelope_hash(s, hash_size)
    )


def audio_spectral_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    levels: int = 4,
    segments: int = 16,
) -> DataFrame:
    """(id, phash): Haar-scalogram SPECTRAL fingerprint per audio blob via
    the REAL WAV decode path (mapInPandas, Arrow batches) — the
    pitch-sensitive robust twin of audio_envelope_fingerprints. The
    envelope hash is volume-invariant but deaf to
    frequency content; the scalogram places detail-coefficient energy in
    levels x segments time-octave cells, so clips with identical loudness
    contours but different spectra fingerprint apart, while white-noise
    perturbation (energy spread ~evenly) leaves the relative cell
    comparisons stable. Output column is named phash (hex length =
    levels*segments/4), so phash_chunks / phash_near_pairs apply with no
    per-modality configuration."""
    from ..functions.audio import scalogram_hash

    return _audio_fingerprints(
        df, id_col, content_col, lambda s: scalogram_hash(s, levels, segments)
    )


def phash_hamming(col_a, col_b, hex_len: int = 16):
    """Hamming distance between two equal-length hex fingerprints as a
    codegen-only column: sum over nibble positions of
    bit_count(nib_a XOR nib_b) (the shared _nibble decode). Used by the
    batch self-join and the stream-static catalog probe. hex_len MUST
    match the fingerprints' actual length — phash_chunks guards that at
    runtime; positions past a too-short string would decode as zero
    nibbles and silently understate distances."""
    hamming = None
    for i in range(hex_len):
        term = F.bit_count(
            _nibble(col_a, i).bitwiseXOR(_nibble(col_b, i))
        )
        hamming = term if hamming is None else hamming + term
    return hamming.cast("int")


def phash_chunks(
    fp: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    hex_len: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """(id, phash, chunk_id, chunk_val): the fingerprint melted into
    max_hamming+1 substring chunks — the Hamming-band LSH key relation.
    <= k differing BITS spread over k+1 chunks leave >= 1 chunk identical
    (pigeonhole), so an equi-join on (chunk_id, chunk_val) is a COMPLETE
    candidate generator for hamming <= k. Works on batch and streaming
    DataFrames alike (stack is a plain projection)."""
    n_chunks = max_hamming + 1
    base, extra = divmod(hex_len, n_chunks)
    if base == 0:
        raise ValueError(f"hex_len {hex_len} shorter than {n_chunks} chunks")
    bounds, start = [], 0
    for c in range(n_chunks):
        width = base + (1 if c < extra else 0)
        bounds.append((start, width))
        start += width
    # Loud runtime guard: a fingerprint whose length doesn't
    # match hex_len would otherwise produce empty trailing chunks (ALL
    # rows bucket together — candidate explosion) and zero-padded hamming
    # positions — silently wrong in both directions. assert_true stays in
    # codegen and fails the task with the offending length.
    len_ok = F.assert_true(
        F.length(hash_col) == hex_len,
        F.concat(
            F.lit(f"phash length != hex_len {hex_len} (got "),
            F.length(hash_col).cast("string"),
            F.lit(f"); pass hex_len=hash_size^2/4 matching the fingerprints"),
        ),
    )
    chunked = fp.select(
        F.col(id_col),
        F.col(hash_col),
        *[
            F.when(len_ok.isNull(), F.substring(hash_col, s + 1, w))
            .alias(f"chunk_{c}")
            for c, (s, w) in enumerate(bounds)
        ],
    )
    stack_expr = ", ".join(f"{c}, chunk_{c}" for c in range(n_chunks))
    return chunked.selectExpr(
        id_col,
        hash_col,
        f"stack({n_chunks}, {stack_expr}) AS (chunk_id, chunk_val)",
    )


def phash_near_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    hex_len: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup media pairs with hamming(phash) <= max_hamming, blocked on
    the phash_chunks bands — candidate generation is an equi-join on
    (chunk_id, chunk_val), bounded by bucket occupancy, never all-pairs.
    Output: (id_a, id_b, hamming) with id_a < id_b, complete w.r.t. the
    all-pairs filter by pigeonhole."""
    melted = phash_chunks(fp, id_col, hash_col, hex_len, max_hamming)
    # One materialization of the (decode-expensive) fingerprints; the
    # self-join would otherwise run the whole media-decode pass per side
    # (the blocked-self-join idiom shared with simhash/minhash).
    melted = melted.localCheckpoint()
    a, b = melted.alias("a"), melted.alias("b")
    hamming = phash_hamming(
        F.col(f"a.{hash_col}"), F.col(f"b.{hash_col}"), hex_len
    )
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def hyperplane_band_codes(
    vec_col: str = "embedding",
    bands: int = 16,
    bits: int = 8,
    seed: int = 7,
):
    """Signed-random-projection LSH signature: per vector, ``bands`` codes
    of ``bits`` sign bits each (bit = side of a seeded random hyperplane).
    Arrow-batched numpy — one matmul per batch, no per-row Python. The
    hyperplanes are regenerated per batch from the fixed seed, so codes are
    deterministic across partitions, retries, and runs."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _codes(v: pd.Series) -> pd.Series:
        import numpy as np

        mat = np.stack(v.to_numpy()).astype(np.float64)
        planes = np.random.default_rng(seed).standard_normal(
            (bands * bits, mat.shape[1])
        )
        signs = (mat @ planes.T) > 0  # (n, bands*bits)
        weights = 1 << np.arange(bits)
        codes = (signs.reshape(len(mat), bands, bits) * weights).sum(axis=2)
        return pd.Series(list(codes.astype(np.int32)))

    return _codes(vec_col)


def embedding_near_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    bands: int = 16,
    bits: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Cosine near-dup pairs via hyperplane-LSH blocking — never an
    all-pairs crossJoin, which is quadratic in the corpus.

    Candidates are pairs sharing >= 1 of ``bands`` sign-bit band codes; the
    join is an equi-join on (band_id, code), so work scales with bucket
    occupancy (~n/2^bits per band), not n^2. Exact duplicates hash
    identically in every band — structurally impossible to miss. A pair at
    exactly cos=0.99 survives >= 1 of 16 bands with prob 1-3e-9 (sign-bit
    agreement p = 1 - angle/pi = .955, miss = (1-p^8)^16), so the output is
    brute-force-identical in practice and the DuckDB brute-force oracle
    stays the checker. Defaults are tuned for threshold ~0.99; lower
    thresholds need fewer bits / more bands (recall = 1-(1-p^bits)^bands).

    Scoring uses the Arrow-batched numpy cosine (``cosine_pandas``), not the
    zip_with/aggregate expression: Spark interprets higher-order-function
    lambdas per element, so scoring |candidates| pairs costs
    |candidates| * 3 * dim interpreted evals — on clustered corpora (many
    bucket-mates) that dominates the whole query. One numpy matmul per Arrow
    batch replaces it; both paths accumulate in double and round(4) for the
    oracle compare.
    """
    from ..functions.vectors import cosine_pandas

    coded = emb.select(
        F.col(id_col),
        hyperplane_band_codes(vec_col, bands, bits, seed).alias("_codes"),
    ).select(F.col(id_col), F.posexplode("_codes").alias("band_id", "code"))
    # Materialize the LSH codes once — the self-join would run the
    # hyperplane pandas UDF (one matmul per batch) on both sides.
    coded = coded.localCheckpoint()
    a, b = coded.alias("a"), coded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cosine_pandas("va", "vb"), 4).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def semdedup_pairs(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    assign every vector to its nearest centroid, then compare pairs ONLY
    within a cluster — the pairwise term drops from |corpus|^2 to
    sum(|cluster|^2), and clusters are the unit of parallelism. Output
    (bucket, id_a, id_b, cos) with cos >= threshold, id_a < id_b.

    Contrast with ``embedding_near_pairs`` (hyperplane LSH): LSH buckets
    are recall-tunable and need no training pass, k-means clusters give
    the semantic grouping SemDeDup prunes within. Same scale rules apply:
    centroids are broadcast, assignment is one argmax hash-agg pass, the
    intra-cluster self-join is bucket-keyed (never all-pairs), and a
    degenerate giant cluster should be split by raising k — the analogue
    of lsh_candidate_pairs' max_bucket_size guard.
    """
    from ..functions.vectors import cosine_pandas
    from .similarity import assign_buckets

    # eager=False: cut the assignment's lineage without running jobs at
    # plan-construction time (explain/registry enumeration stay job-free);
    # the self-join's first action materializes it once and reuses.
    assigned = assign_buckets(emb, centroids, id_col, vec_col).localCheckpoint(
        eager=False
    )
    a = assigned.select(
        F.col("bucket"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = assigned.select(
        F.col("bucket").alias("_bb"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
    )
    return (
        a.join(b, (F.col("bucket") == F.col("_bb")) & (F.col("id_a") < F.col("id_b")))
        .select(
            "bucket",
            "id_a",
            "id_b",
            F.round(cosine_pandas("va", "vb"), 4).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
