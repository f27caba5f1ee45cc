"""Pure-stdlib WAV (RIFF PCM) codec — the real byte-level decode under
``multimodal``'s audio stages, companion to :mod:`frontier_engine.png`.

This container ships no audio libraries (no soundfile/librosa), but WAV
needs none: the format is a RIFF container with a ``fmt `` chunk and raw
little-endian PCM in a ``data`` chunk. Implemented here:

* ``decode_wav``  — PCM 8-bit unsigned / 16-bit / 24-bit / 32-bit
  signed, plus 32/64-bit IEEE-float (format tags 1 and 3, and the
  WAVE_FORMAT_EXTENSIBLE wrapper 0xFFFE) → float32 ndarray (n, ch) in
  [-1, 1) plus metadata. Unknown chunks (LIST/INFO/fact/cue) are
  skipped by declared size, per spec.
* ``encode_wav`` — the inverse (PCM16 by default, also 24-bit and
  float32), with optional extra RIFF chunks so round-trip tests can
  build byte-different containers that decode to identical samples.
* ``spectrogram_grid`` — deterministic (n_time × n_bands) log-energy
  spectrogram (mono mix → equal time frames → Hann window → rFFT →
  band-pooled log energies). This is the audio analog of the image
  grid: it feeds the same dHash fingerprint path,
  and because the grid is log-energy, the fingerprint's adjacent-cell
  comparisons are GAIN-INVARIANT (scaling every sample by c shifts all
  cells by log c², preserving every comparison).

Scope note: correctness-grade, like the PNG codec — numpy rFFT per
frame is plenty for the decode stage's per-row work; at 100 TB the
parallelism belongs across rows (mapInPandas partitions), not inside
one file's decode.
"""

from __future__ import annotations

import struct

import numpy as np

RIFF_SIGNATURE = b"RIFF"


def is_wav(data: bytes) -> bool:
    return len(data) >= 12 and data[:4] == RIFF_SIGNATURE and data[8:12] == b"WAVE"


def _chunks(data: bytes):
    """Yield (fourcc, body) for each RIFF sub-chunk, honoring declared
    sizes and the spec's odd-size pad byte."""
    if not is_wav(data):
        raise ValueError("not a WAV: bad RIFF/WAVE signature")
    pos = 12
    end = min(len(data), 8 + struct.unpack("<I", data[4:8])[0])
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        yield fourcc, data[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned


def decode_wav(data: bytes) -> tuple[np.ndarray, dict]:
    """→ (float32 array of shape (n_samples, channels) in [-1, 1),
    meta dict with sample_rate / channels / bits / format / duration_s).

    Integer PCM maps to float as value / 2^(bits-1) (8-bit is unsigned
    per spec and is re-centered first), so decode(encode(x)) == x exactly
    for integer inputs.
    """
    fmt = None
    pcm = None
    for fourcc, body in _chunks(data):
        if fourcc == b"fmt ":
            tag, ch, rate, _byps, block, bits = struct.unpack("<HHIIHH", body[:16])
            if tag == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE: real tag in the GUID
                tag = struct.unpack("<H", body[24:26])[0]
            fmt = {"tag": tag, "channels": ch, "sample_rate": rate,
                   "block_align": block, "bits": bits}
        elif fourcc == b"data":
            pcm = body
        # LIST/INFO/fact/cue/bext/…: skipped by size, per spec
    if fmt is None or pcm is None:
        raise ValueError("WAV missing fmt or data chunk")
    ch, bits, tag = fmt["channels"], fmt["bits"], fmt["tag"]
    if tag == 1:  # integer PCM
        if bits == 8:
            x = np.frombuffer(pcm, dtype=np.uint8).astype(np.float32)
            x = (x - 128.0) / 128.0
        elif bits == 16:
            x = np.frombuffer(pcm, dtype="<i2").astype(np.float32) / 32768.0
        elif bits == 24:
            b = np.frombuffer(pcm, dtype=np.uint8)
            b = b[: (len(b) // 3) * 3].reshape(-1, 3).astype(np.uint32)
            raw = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
            signed = raw.astype(np.int32)
            signed[signed >= 1 << 23] -= 1 << 24
            x = signed.astype(np.float32) / float(1 << 23)
        elif bits == 32:
            x = np.frombuffer(pcm, dtype="<i4").astype(np.float64) / float(1 << 31)
            x = x.astype(np.float32)
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif tag == 3:  # IEEE float
        if bits == 32:
            x = np.frombuffer(pcm, dtype="<f4").astype(np.float32)
        elif bits == 64:
            x = np.frombuffer(pcm, dtype="<f8").astype(np.float32)
        else:
            raise ValueError(f"unsupported float bit depth {bits}")
    else:
        raise ValueError(f"unsupported WAV format tag {tag}")
    n = len(x) // ch
    samples = x[: n * ch].reshape(n, ch)
    meta = {
        "sample_rate": fmt["sample_rate"],
        "channels": ch,
        "bits": bits,
        "format": "pcm" if tag == 1 else "float",
        "duration_s": n / float(fmt["sample_rate"]) if fmt["sample_rate"] else 0.0,
    }
    return samples, meta


def _quantize(samples: np.ndarray, bits: int) -> np.ndarray:
    """float [-1, 1] → integer PCM of the requested depth (round-half-
    away-from-zero via rint on the scaled value, clipped to range)."""
    full = float(1 << (bits - 1))
    q = np.rint(np.asarray(samples, dtype=np.float64) * full)
    return np.clip(q, -full, full - 1).astype(np.int64)


def encode_wav(
    samples: np.ndarray,
    sample_rate: int,
    bits: int = 16,
    extra_chunks: list[tuple[bytes, bytes]] | None = None,
) -> bytes:
    """(n,) or (n, ch) float in [-1, 1] (or int16, taken verbatim for
    bits=16) → WAV bytes. ``extra_chunks`` appends arbitrary RIFF
    sub-chunks (e.g. a LIST/INFO tag) so tests can produce byte-different
    files with identical PCM."""
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    ch = arr.shape[1]
    if bits == 16:
        if arr.dtype == np.int16:
            q = arr.astype(np.int64)
        else:
            q = _quantize(arr, 16)
        pcm = q.astype("<i2").tobytes()
        tag = 1
    elif bits == 24:
        q = _quantize(arr, 24).reshape(-1)
        u = (q & 0xFFFFFF).astype(np.uint32)
        b = np.empty((len(u), 3), dtype=np.uint8)
        b[:, 0] = u & 0xFF
        b[:, 1] = (u >> 8) & 0xFF
        b[:, 2] = (u >> 16) & 0xFF
        pcm = b.tobytes()
        tag = 1
    elif bits == 32:
        pcm = arr.astype("<f4").tobytes()
        tag = 3
    else:
        raise ValueError(f"unsupported encode bit depth {bits}")
    block = ch * bits // 8
    fmt = struct.pack("<HHIIHH", tag, ch, sample_rate, sample_rate * block, block, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    for fourcc, chunk in extra_chunks or []:
        body += fourcc + struct.pack("<I", len(chunk)) + chunk + (b"\x00" if len(chunk) & 1 else b"")
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    if len(pcm) & 1:
        body += b"\x00"
    return RIFF_SIGNATURE + struct.pack("<I", len(body)) + body


def spectrogram_grid(
    samples: np.ndarray, n_time: int = 8, n_bands: int = 8
) -> np.ndarray:
    """Deterministic (n_time, n_bands) log-energy grid.

    Mono mix → n_time equal frames (tail truncated) → Hann window →
    rFFT → DC-excluded bins pooled into n_bands equal slices → log10 of
    summed power (+eps). float64 throughout, returned as float32 — the
    audio analog of the image path's grayscale plane, consumed by the
    same dHash fingerprint code.
    """
    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 2:
        arr = arr.mean(axis=1)
    frame = max(len(arr) // n_time, 2)
    if frame & 1:
        frame -= 1  # even frame → stable rFFT bin count
    grid = np.zeros((n_time, n_bands), dtype=np.float64)
    win = 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(frame) / frame)  # Hann
    for t in range(n_time):
        seg = arr[t * frame : (t + 1) * frame]
        if len(seg) < frame:
            seg = np.pad(seg, (0, frame - len(seg)))
        spec = np.fft.rfft(seg * win)
        power = (spec.real ** 2 + spec.imag ** 2)[1:]  # exclude DC
        per_band = len(power) // n_bands
        for b in range(n_bands):
            lo = b * per_band
            hi = (b + 1) * per_band if b < n_bands - 1 else len(power)
            grid[t, b] = np.log10(power[lo:hi].sum() + 1e-12)
    return grid.astype(np.float32)
