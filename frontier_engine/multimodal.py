"""Multimodal columns for training-data pipelines: image/audio/video as
opaque ``binary`` payloads + typed metadata (``MEDIA_SCHEMA``), and the
perceptual-hash near-dup stage over them as one Arrow-batched
``mapInPandas`` stage.

The codec layer is real and stdlib-only: PNG payloads decode through
``frontier_engine.png`` (zlib inflate + scanline filter reversal), WAV
payloads through ``frontier_engine.wav`` (RIFF/PCM → log-spectrogram),
JPEG payloads through ``frontier_engine.jpeg`` (baseline Huffman +
dequant + IDCT), and MJPEG-in-MP4 videos through ``frontier_engine.mp4``
(ISO-BMFF sample-table resolution) composed with the JPEG decoder. Only
non-MJPEG video codecs (H.264 is out of stdlib scope) keep a
deterministic fallback at the annotated pyav drop-in point.

Design for 100 TB of media:
* payloads never leave the JVM except inside the one mapInPandas stage
  that needs the bytes (Arrow zero-copy binary columns);
* metadata (mime, width/height, duration, codec) is stored as plain
  columns, so downstream filters/joins prune the binary column entirely
  (columnar projection — the scan never reads bytes unless the stage
  needs them).
"""

from __future__ import annotations

from hashlib import blake2b
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.StructType(
            [
                T.StructField("width", T.IntegerType()),
                T.StructField("height", T.IntegerType()),
                T.StructField("duration_s", T.DoubleType()),
                T.StructField("codec", T.StringType()),
            ]
        )),
    ]
)

def _to_gray(arr: np.ndarray) -> np.ndarray:
    """(H, W, C) uint8 → (H, W) float32 luminance-ish plane (mean of the
    color channels; alpha ignored)."""
    if arr.ndim == 2:
        return arr.astype(np.float32)
    if arr.shape[2] <= 2:  # gray / gray+alpha
        return arr[:, :, 0].astype(np.float32)
    return arr[:, :, :3].mean(axis=2).astype(np.float32)


def _first_video_frame(payload: bytes) -> np.ndarray | None:
    """REAL video pixel decode for the MJPEG-in-MP4 path (r5): resolve
    the first sample's mdat byte range through the ISO-BMFF sample
    tables (frontier_engine.mp4) and baseline-decode it
    (frontier_engine.jpeg) — composing the two shipped codecs removes
    the last multimodal fake. Non-MJPEG codecs (H.264…) return None and
    callers keep the deterministic fallback (pyav drop-in point)."""
    from frontier_engine import jpeg as J
    from frontier_engine import mp4 as V

    if not V.is_mp4(payload):
        return None
    try:
        table = V.parse_mp4(payload)["samples"]
        if not table:
            return None
        sample = V.extract_sample(payload, table, 0)
        if sample[:2] != J.SOI:
            return None
        arr, _meta = J.decode_jpeg(sample)
        return arr
    except Exception:
        return None


# --------------------------------------------------------------------------
# perceptual hash (dHash) — image AND audio near-dup as first-class dedup
# citizens: one 64-bit hash column + one banded pair join, two real codecs
# --------------------------------------------------------------------------

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def _decode_gray(payload: bytes, mime: str) -> np.ndarray:
    """Full-resolution "grayscale plane" for dHash. PNG: real decode
    (frontier_engine.png). WAV: real decode → log-spectrogram grid,
    TRANSPOSED to (8 bands × 9 time frames) so dHash's 9×8 resample is
    the identity and bit (band, t) compares band energy at adjacent
    time frames — the classic band-energy-delta audio fingerprint
    (Haitsma & Kalker 2002 shape), gain-invariant because the grid is
    log-energy. JPEG: real baseline decode → grayscale plane (dHash's
    coarse 9×8 grid absorbs compression noise, so same-image
    re-encodes land at small Hamming distance). Video (r5): REAL first-
    frame pixels for MJPEG-in-MP4 (mp4 sample resolution → jpeg decode);
    non-MJPEG codecs keep the deterministic 8×8 grid (pyav drop-in
    point)."""
    from frontier_engine import jpeg as J
    from frontier_engine import png as P
    from frontier_engine import wav as W

    if mime == "image/png" and payload[:8] == P.SIGNATURE:
        arr, _meta = P.decode_png(payload)
        return _to_gray(arr)
    if mime == "image/jpeg" and payload[:2] == J.SOI:
        arr, _meta = J.decode_jpeg(payload)
        return _to_gray(arr)
    if mime.startswith("audio/") and W.is_wav(payload):
        samples, _meta = W.decode_wav(payload)
        return W.spectrogram_grid(samples, n_time=9, n_bands=8).T
    if mime == "video/mp4":
        frame = _first_video_frame(payload)  # MJPEG-in-MP4: real pixels (r5)
        if frame is not None:
            return _to_gray(frame)
    h = blake2b(payload, digest_size=64).digest()
    return np.frombuffer(h, dtype=np.uint8).reshape(8, 8).astype(np.float32)


def dhash64(gray: np.ndarray) -> int:
    """64-bit difference hash (dHash, public algorithm): nearest-resample
    the grayscale plane to 9×8, set bit (y*8 + x) iff g[y,x] < g[y,x+1].
    Robust to re-encoding (pixel-identical ⇒ identical hash) and small
    edits (each changed comparison flips one bit). Returns a SIGNED
    64-bit value so it lands in a Spark LongType column."""
    from frontier_engine import png as P

    g = P.resize_nearest(gray, 9, 8)
    bits = np.uint64(0)
    for y in range(8):
        for x in range(8):
            if g[y, x] < g[y, x + 1]:
                bits |= np.uint64(1) << np.uint64(y * 8 + x)
    return int(bits.astype(np.int64))


def phash_media(media: DataFrame) -> DataFrame:
    """Per-media 64-bit perceptual hash, Arrow-batched (media_id, phash):
    images get pixel dHash, WAV audio the band-energy-delta fingerprint
    (see _decode_gray) — both land in the same LongType column so ONE
    banded join dedups a mixed media table. The UDF stage sees ONLY
    (media_id, mime, payload) — metadata and other columns never cross
    the Arrow boundary."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, mime, payload in zip(pdf["media_id"], pdf["mime"], pdf["payload"]):
                gray = _decode_gray(bytes(payload), mime)
                out.append({"media_id": mid, "phash": dhash64(gray)})
            yield pd.DataFrame(out, columns=[f.name for f in PHASH_SCHEMA.fields])

    return media.select("media_id", "mime", "payload").mapInPandas(run, PHASH_SCHEMA)


def phash_near_pairs(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Image near-duplicate pairs: dHash + the SAME 4×16-bit-chunk
    Hamming banding the text simhash path uses (textops.hash64_band_pairs
    — exact recall for max_hamming ≤ 3, never an all-pairs join). Catches
    re-encoded copies (pixel-identical ⇒ hamming 0) and small edits /
    resamples (few flipped comparisons). Returns (id_a, id_b, hamming)."""
    from frontier_engine.textops import hash64_band_pairs

    return hash64_band_pairs(phash_media(media), "phash", "media_id", max_hamming)
