"""Pure-python/numpy WAV (RIFF PCM) codec for the multimodal operators'
REAL audio decode path — the audio sibling of functions/imaging.py (no
soundfile/librosa in this environment; stdlib struct + numpy only, so the
non-fake path works on any executor).

Supported: RIFF/WAVE with an uncompressed PCM ``fmt `` chunk (format tag
1), 8-bit unsigned or 16-bit signed samples, any channel count and sample
rate. Decode and encode (16-bit). Compressed formats raise ValueError —
callers surface that as a per-row decode failure exactly like the image
path.

Features: ``band_energies`` — total power of the rFFT spectrum split into
FEATURE_DIM equal frequency bands, L1-normalized. Deterministic (numpy FFT
on float64), so tests can pin that a pure tone lands its energy in the
band containing the tone frequency.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "decode_wav",
    "encode_wav",
    "band_energies",
    "envelope_hash",
    "scalogram_hash",
]


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode RIFF PCM bytes to (samples float64 in [-1, 1] of shape
    (n_frames, channels), sample_rate).

    Raises ValueError on non-RIFF payloads, compressed formats, or
    unsupported bit depths.
    """
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("unrecognized audio payload (expected RIFF/WAVE)")
    pos, fmt, raw = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        chunk = data[pos + 8 : pos + 8 + length]
        if cid == b"fmt ":
            if len(chunk) < 16:
                raise ValueError("truncated WAV fmt chunk")
            fmt = struct.unpack("<HHIIHH", chunk[:16])
        elif cid == b"data":
            raw = chunk
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if fmt is None or raw is None:
        raise ValueError("WAV missing fmt/data chunk")
    tag, channels, rate, _byte_rate, _align, bits = fmt
    if tag != 1:
        raise ValueError(f"compressed WAV (format tag {tag}) not supported")
    if channels < 1:
        raise ValueError("WAV fmt declares zero channels")
    if bits == 16:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:
        samples = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported PCM bit depth {bits}")
    frames = len(samples) // channels
    return samples[: frames * channels].reshape(frames, channels), rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """Encode (n_frames, channels) float samples in [-1, 1] as 16-bit PCM."""
    if samples.ndim == 1:
        samples = samples[:, None]
    pcm = np.clip(np.round(samples * 32767.0), -32768, 32767).astype("<i2")
    raw = pcm.tobytes()
    channels = samples.shape[1]
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16
    )
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(raw)) + raw
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def band_energies(samples: np.ndarray, bins: int = 8) -> list[float]:
    """L1-normalized total power per frequency band: channel-mean signal ->
    rFFT power spectrum -> ``bins`` equal bands over [0, nyquist]. The
    fixed-size embedding of an audio blob (the analogue of the image path's
    intensity histogram)."""
    mono = samples.mean(axis=1) if samples.ndim == 2 else samples
    if len(mono) == 0:
        return [0.0] * bins
    power = np.abs(np.fft.rfft(mono)) ** 2
    edges = np.linspace(0, len(power), bins + 1).astype(int)
    bands = np.array(
        [power[edges[i] : edges[i + 1]].sum() for i in range(bins)]
    )
    total = bands.sum()
    return list(bands / total) if total > 0 else [0.0] * bins


def envelope_hash(samples: np.ndarray, hash_size: int = 8) -> str:
    """Amplitude-envelope perceptual fingerprint as a hex string of
    hash_size^2 bits: channel-mean signal -> split into hash_size^2 equal
    windows (trailing remainder dropped) -> mean |amplitude| per window ->
    bit j set iff window j's envelope is STRICTLY above the mean of all
    window envelopes. The audio sibling of imaging.average_hash — loudness-
    contour-based, so trimming-free re-encodes and codec round-trips hash
    identically, and every step is plain arithmetic an SQL oracle can
    replay (unlike the FFT band features). Packed with the shared
    reading-order nibble layout, so hamming distance works through the
    same per-nibble bit_count(xor) machinery as the image hashes.
    """
    from .imaging import _pack_bits_hex

    mono = samples.mean(axis=1) if samples.ndim == 2 else samples
    n_win = hash_size * hash_size
    wlen = len(mono) // n_win
    if wlen == 0:
        raise ValueError(
            f"audio too short for a {n_win}-window envelope hash "
            f"({len(mono)} samples)"
        )
    env = np.abs(mono[: n_win * wlen]).reshape(n_win, wlen).mean(axis=1)
    bits = (env > env.mean()).astype(np.int64)
    return _pack_bits_hex(bits)


def scalogram_hash(
    samples: np.ndarray, levels: int = 4, segments: int = 16
) -> str:
    """Haar time-frequency (scalogram) perceptual fingerprint as a hex
    string of levels*segments bits — the SPECTRAL twin of envelope_hash
    (the envelope sees only the loudness contour; this sees which frequency
    octave the energy lives in, per time segment).

    channel-mean signal -> UNNORMALIZED Haar transform (per level:
    d[i] = a[2i] - a[2i+1], a'[i] = a[2i] + a[2i+1] — sums/differences
    only, so every coefficient is an exact dyadic rational in float64 and
    an SQL oracle replays the arithmetic bit-for-bit, which the FFT band
    features cannot) -> per level, detail-coefficient energy (sum of
    squares) in ``segments`` equal time segments -> bit set iff
    segment_energy * segments STRICTLY exceeds the level's total energy.
    Multiplying instead of dividing keeps both engines comparing exact
    values, and the per-level relative threshold makes the hash invariant
    to volume scaling. Level 1 is the top octave [fs/4, fs/2], each next
    level one octave down. Packed level-major with the shared
    reading-order nibble layout (hex length = levels*segments/4), so the
    phash_chunks / phash_hamming Hamming-band machinery applies
    unchanged.
    """
    from .imaging import _pack_bits_hex

    mono = samples.mean(axis=1) if samples.ndim == 2 else samples
    block = segments * (1 << levels)
    n_use = (len(mono) // block) * block
    if n_use == 0:
        raise ValueError(
            f"audio too short for a {levels}x{segments} scalogram hash "
            f"({len(mono)} samples; need >= {block})"
        )
    a = mono[:n_use]
    bits = []
    for _lvl in range(levels):
        d = a[0::2] - a[1::2]
        a = a[0::2] + a[1::2]
        cells = (d * d).reshape(segments, -1).sum(axis=1)
        bits.append((cells * segments > cells.sum()).astype(np.int64))
    return _pack_bits_hex(np.concatenate(bits))
