"""Multimodal columns: image/audio/video as opaque binary + typed metadata
(SURVEY §7 Phase 3).

The Spark-side plumbing is real and tested — schema, partition-preserving
``mapInPandas`` with Arrow batches, stable output schema. Two decode paths:

- ``fake=True``: deterministic md5-derived pseudo-feature / byte-truncation
  resize — same shapes and typing as the real path, oracle-checkable in
  SQL, used by the registered queries (testdata has no real media).
- ``fake=False`` (default): REAL image decode via the pure-python/numpy
  codec in ``functions.imaging`` (PNG 8-bit gray/RGB/GA/RGBA, PPM/PGM) —
  decode -> luminance-histogram features, nearest-neighbor resize ->
  re-encode. No external libraries needed. Video frame extraction
  (``sample_frames``) still requires ffmpeg and stays stubbed.

Scale notes: binary payloads ride through Arrow in batches — set
``spark.sql.execution.arrow.maxRecordsPerBatch`` down (e.g. 256) when blobs
are MBs; keep metadata in columns (not inside the blob) so filters prune
before decode; partition by content-defined keys so one task never holds
more than executor-memory worth of blobs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

__all__ = [
    "MEDIA_META_SCHEMA",
    "attach_blob",
    "attach_synthetic_audio",
    "attach_synthetic_image",
    "decode_features",
    "resize_media",
    "sample_frames",
    "FEATURE_DIM",
]

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_DIM = 8

_FEATURES_FIELD = T.StructField("features", T.ArrayType(T.DoubleType()))


def attach_blob(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "text", mime: str = "image/fake"
) -> DataFrame:
    """Build a multimodal table from any string payload: content as binary
    plus a typed metadata struct. (Testdata has no real media; documents
    stand in — the schema/typing is the point.)"""
    return df.select(
        F.col(id_col),
        F.encode(F.col(payload_col), "utf-8").alias("content"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.length(F.col(payload_col)).cast("int").alias("width"),
            F.lit(1).cast("int").alias("height"),
            (F.length(F.col(payload_col)) * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def attach_synthetic_image(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "text",
    size: int = 8,
) -> DataFrame:
    """(id, content): a REAL grayscale PPM (P5) image per row whose size^2
    pixel bytes are md5-derived from the payload — md5(payload || 'px0') ||
    md5(payload || 'px1') || ... hex pairs, reading order. Identical
    payloads produce identical images, so downstream perceptual-hash dedup
    has genuine planted duplicates; the derivation is plain md5 string
    arithmetic, so a SQL oracle reproduces the pixels exactly while the
    Spark path still exercises the real encode -> decode -> hash stack.
    Arrow-batched (pandas_udf); size^2 must be a multiple of 16 pixels
    (one md5 digest = 16 bytes)."""
    import numpy as np

    from ..functions.imaging import encode_ppm

    n_px = size * size
    if n_px % 16:
        raise ValueError(f"size^2 = {n_px} not a multiple of 16 (md5 bytes)")
    n_digests = n_px // 16

    @F.pandas_udf(T.BinaryType())
    def _img(payload: pd.Series) -> pd.Series:
        def synth(s: str) -> bytes:
            hx = "".join(
                hashlib.md5(f"{s}px{k}".encode()).hexdigest()
                for k in range(n_digests)
            )
            px = np.frombuffer(bytes.fromhex(hx), dtype=np.uint8)
            return encode_ppm(px.reshape(size, size))

        return payload.map(synth)

    return df.select(F.col(id_col), _img(F.col(payload_col)).alias("content"))


def attach_synthetic_audio(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "text",
    n_samples: int = 256,
    rate: int = 8000,
) -> DataFrame:
    """(id, content): a REAL 16-bit PCM RIFF/WAVE clip per row whose
    ``n_samples`` mono samples are md5-derived from the payload —
    md5(payload || 'au0') || md5(payload || 'au1') || ... hex pairs,
    byte b -> PCM value (b - 128) * 256, which decode_wav surfaces as
    exactly (b - 128) / 128. Identical payloads produce identical clips
    (planted audio duplicates) and the sample derivation is md5 string
    arithmetic, so an SQL oracle replays the decoded amplitudes while the
    Spark path exercises the real encode -> decode -> fingerprint stack.
    n_samples must be a multiple of 16 (one md5 digest = 16 bytes)."""
    import numpy as np

    from ..functions.audio import encode_wav

    if n_samples % 16:
        raise ValueError(f"n_samples = {n_samples} not a multiple of 16")
    n_digests = n_samples // 16

    @F.pandas_udf(T.BinaryType())
    def _wav(payload: pd.Series) -> pd.Series:
        def synth(s: str) -> bytes:
            hx = "".join(
                hashlib.md5(f"{s}au{k}".encode()).hexdigest()
                for k in range(n_digests)
            )
            b = np.frombuffer(bytes.fromhex(hx), dtype=np.uint8)
            # float value whose round(x * 32767) is exactly (b-128)*256,
            # so the decoded sample is exactly (b-128)/128
            samples = (b.astype(np.float64) - 128.0) * 256.0 / 32767.0
            return encode_wav(samples, rate)

        return payload.map(synth)

    return df.select(F.col(id_col), _wav(F.col(payload_col)).alias("content"))


def _fake_feature(content: bytes) -> list[float]:
    """Deterministic stand-in for a real image/audio feature extractor:
    FEATURE_DIM doubles in [0,1) derived from the md5 of the bytes."""
    h = hashlib.md5(content).digest()
    return [b / 255.0 for b in h[:FEATURE_DIM]]


def _real_feature(content: bytes) -> list[float]:
    """Real image feature: decode (PNG/PPM) then a FEATURE_DIM-bin
    luminance histogram (functions.imaging — pure numpy, no PIL)."""
    from ..functions.imaging import decode_image, intensity_histogram

    return intensity_histogram(decode_image(bytes(content)), FEATURE_DIM)


def _real_audio_feature(content: bytes) -> list[float]:
    """Real audio feature: decode (RIFF PCM WAV) then FEATURE_DIM spectral
    band energies (functions.audio — pure numpy, no soundfile)."""
    from ..functions.audio import band_energies, decode_wav

    samples, _rate = decode_wav(bytes(content))
    return band_energies(samples, FEATURE_DIM)


def decode_features(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    fake: bool = False,
    media: str = "image",
    on_error: str = "fail",
) -> DataFrame:
    """Per-batch media decode -> feature vector via mapInPandas.

    ``fake=False`` really decodes and featurizes — ``media="image"``:
    PNG/PPM via functions.imaging -> luminance histogram;
    ``media="audio"``: RIFF PCM WAV via functions.audio -> spectral band
    energies. ``fake=True`` keeps the md5 stub with identical Arrow batch
    shapes and output schema (oracle runs). Same FEATURE_DIM embedding
    width for every media kind, so downstream similarity/dedup operators
    consume either uniformly.

    ``on_error`` is the media analog of from_json's parse modes — at 100 TB
    one corrupt blob must not kill a million-task job:
    - "fail" (default): decode errors propagate (a corrupt blob fails the
      task — the strict mode for curated inputs);
    - "null": rows whose blob raises ValueError keep their id/n_bytes with
      NULL features (PERMISSIVE: count/inspect the failures downstream);
    - "skip": failing rows are dropped from the output (DROPMALFORMED).
    """
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("n_bytes", T.LongType()),
            _FEATURES_FIELD,
        ]
    )
    if media not in ("image", "audio"):
        raise ValueError(f"unknown media kind {media!r} (image|audio)")
    if on_error not in ("fail", "null", "skip"):
        raise ValueError(f"unknown on_error {on_error!r} (fail|null|skip)")
    real = _real_feature if media == "image" else _real_audio_feature
    extract = _fake_feature if fake else real
    if on_error != "fail":
        strict = extract

        def extract(content: bytes):  # noqa: F811 - permissive wrapper
            try:
                return strict(content)
            except ValueError:
                return None

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            content = pdf[content_col]
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": content.map(len),
                    "features": content.map(extract),
                }
            )
            if on_error == "skip":
                out = out[out["features"].notna()]
            yield out

    return df.mapInPandas(batches, out_schema)


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    every_nth: int = 4,
    frame_bytes: int = 16,
    fake: bool = False,
) -> DataFrame:
    """Per-batch video frame sampling -> one row per sampled frame via
    mapInPandas + explode-shaped output (frame_no, frame binary).

    The blob is treated as a sequence of fixed-size frames; every_nth is
    kept. Real container decode (ffmpeg) is stubbed exactly like
    decode_features; the fake path slices the raw bytes so partitioning,
    batch shapes, and the one-to-many output contract are exercised for
    real.

    Scale: output fan-out is |frames|/every_nth rows per blob — size
    ``arrow.maxRecordsPerBatch`` and repartition on id afterwards if
    downstream ops group per frame.
    """
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("frame_no", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not fake:
                raise NotImplementedError(
                    "real video decode requires ffmpeg (not in this "
                    "container); pass fake=True for the deterministic stub"
                )
            ids, frame_nos, frames = [], [], []
            for rid, content in zip(pdf[id_col], pdf[content_col]):
                n_frames = max(len(content) // frame_bytes, 0)
                for fno in range(0, n_frames, every_nth):
                    ids.append(rid)
                    frame_nos.append(fno)
                    frames.append(
                        bytes(content[fno * frame_bytes : (fno + 1) * frame_bytes])
                    )
            yield pd.DataFrame({id_col: ids, "frame_no": frame_nos, "frame": frames})

    return df.mapInPandas(batches, out_schema)


def resize_media(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    meta_col: str = "meta",
    width: int = 32,
    height: int = 4,
    fake: bool = False,
    on_error: str = "fail",
) -> DataFrame:
    """Per-batch media resize via mapInPandas: content -> resized payload
    with the metadata struct rewritten to the target dimensions.

    ``fake=False`` really decodes (PNG/PPM), nearest-neighbor-resamples to
    (width, height) with functions.imaging, and re-encodes as PNG;
    ``fake=True`` truncates the payload to width*height bytes —
    deterministic, so the registered query stays oracle-checkable. Both
    keep the operator contract: binary in/out, metadata follows content,
    Arrow batch shapes unchanged.

    ``on_error``: "fail" propagates decode errors, "null" keeps failing
    rows with NULL content, "skip" drops them (same contract as
    decode_features — one corrupt blob must not kill the job).

    Scale: resize is the canonical shrink-early op — run it before any
    shuffle so downstream exchanges carry thumbnails, not originals.
    """
    if on_error not in ("fail", "null", "skip"):
        raise ValueError(f"unknown on_error {on_error!r} (fail|null|skip)")
    target = width * height
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("content", T.BinaryType()),
            T.StructField("meta", MEDIA_META_SCHEMA),
        ]
    )

    if fake:
        def _resize(b: bytes) -> bytes:
            return bytes(b[:target])

        out_mime = None  # keep source mime
    else:
        from ..functions.imaging import decode_image, encode_png, resize_nearest

        def _resize(b: bytes) -> bytes:
            return encode_png(resize_nearest(decode_image(bytes(b)), width, height))

        out_mime = "image/png"

    if on_error != "fail":
        strict_resize = _resize

        def _resize(b: bytes):  # noqa: F811 - permissive wrapper
            try:
                return strict_resize(b)
            except ValueError:
                return None

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [
                {
                    "mime": out_mime or m["mime"],
                    "width": width,
                    "height": height,
                    "duration_ms": m["duration_ms"],
                }
                for m in pdf[meta_col]
            ]
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "content": pdf[content_col].map(_resize),
                    "meta": metas,
                }
            )
            if on_error == "skip":
                out = out[out["content"].notna()]
            yield out

    return df.mapInPandas(batches, out_schema)

