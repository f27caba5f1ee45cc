"""WAV codec correctness: RIFF parsing, PCM round-trips at every
supported depth, spectrogram semantics, and the audio fingerprint's
invariance properties. Pure driver-side (no Spark needed)."""

import struct

import numpy as np
import pytest

from frontier_engine import wav as W


def tone(freq: float, dur_s: float = 0.5, rate: int = 4000) -> np.ndarray:
    t = np.arange(int(dur_s * rate)) / rate
    return 0.5 * np.sin(2 * np.pi * freq * t)


def _tone_signal(i: int, duration_s: float, rate: int = 4000) -> np.ndarray:
    """Two sines (frequencies keyed off ``i``, below Nyquist) + a seeded
    noise floor — band energies differ clearly, so spectrogram
    fingerprints are stable under re-encode."""
    t = np.arange(int(round(duration_s * rate)), dtype=np.float64) / rate
    f1 = 150.0 + (i * 37) % 800
    f2 = 300.0 + (i * 53) % 1100
    noise = np.random.default_rng(1000 + i).normal(0.0, 0.05, len(t))
    return 0.4 * np.sin(2 * np.pi * f1 * t) + 0.25 * np.sin(2 * np.pi * f2 * t) + noise


def test_roundtrip_pcm16_exact():
    x = tone(440)
    data = W.encode_wav(x, 4000)
    samples, meta = W.decode_wav(data)
    assert meta == {
        "sample_rate": 4000, "channels": 1, "bits": 16,
        "format": "pcm", "duration_s": len(x) / 4000,
    }
    # decode(encode(x)) equals the 16-bit quantization of x exactly
    want = W._quantize(x, 16).astype(np.float32) / 32768.0
    assert (samples[:, 0] == want).all()
    # re-encode of the decoded floats reproduces identical PCM bytes
    assert W.encode_wav(samples, 4000) == data


def test_roundtrip_pcm24_and_float32():
    x = np.stack([tone(300), tone(700)], axis=1)  # stereo
    s24, m24 = W.decode_wav(W.encode_wav(x, 8000, bits=24))
    assert m24["bits"] == 24 and m24["channels"] == 2
    assert np.abs(s24 - x).max() < 2.0 / (1 << 23)
    sf, mf = W.decode_wav(W.encode_wav(x, 8000, bits=32))
    assert mf["format"] == "float"
    assert (sf == x.astype(np.float32)).all()


def test_decode_pcm8_unsigned():
    # hand-built 8-bit file: values 0, 128, 255 → -1.0, 0.0, ~0.992
    pcm = bytes([0, 128, 255])
    fmt = struct.pack("<HHIIHH", 1, 1, 1000, 1000, 1, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
    body += b"data" + struct.pack("<I", 3) + pcm + b"\x00"
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    samples, meta = W.decode_wav(data)
    assert meta["bits"] == 8
    assert np.allclose(samples[:, 0], [-1.0, 0.0, 127 / 128])


def test_extensible_format_tag_and_unknown_chunks_skipped():
    x = tone(500)
    base = W.encode_wav(x, 4000)
    # byte-different container, identical PCM: LIST/INFO chunk injected
    tagged = W.encode_wav(x, 4000, extra_chunks=[(b"LIST", b"INFOIART\x04\x00\x00\x00abc\x00")])
    assert tagged != base
    s1, _ = W.decode_wav(base)
    s2, _ = W.decode_wav(tagged)
    assert (s1 == s2).all()
    # WAVE_FORMAT_EXTENSIBLE: tag 0xFFFE with the real tag at offset 24
    pcm = W._quantize(x, 16).astype("<i2").tobytes()
    ext = struct.pack("<HHIIHH", 0xFFFE, 1, 4000, 8000, 2, 16)
    ext += struct.pack("<HHI", 22, 16, 1) + struct.pack("<H", 1) + b"\x00" * 14
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(ext)) + ext
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    s3, m3 = W.decode_wav(data)
    assert m3["format"] == "pcm" and (s3[:, 0] == s1[:, 0]).all()


def test_decode_rejects_non_wav_and_missing_chunks():
    with pytest.raises(ValueError, match="signature"):
        W.decode_wav(b"OggS" + b"\x00" * 40)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    with pytest.raises(ValueError, match="missing"):
        W.decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_spectrogram_tone_lands_in_expected_band():
    # 690 Hz at 4 kHz rate: Nyquist 2000 Hz over 8 bands ≈ 250 Hz each
    # → band 2 (500–750) dominates in every time frame
    grid = W.spectrogram_grid(tone(690, dur_s=1.0), n_time=8, n_bands=8)
    assert grid.shape == (8, 8)
    assert (grid.argmax(axis=1) == 2).all()
    # a lower tone moves the peak down-band
    low = W.spectrogram_grid(tone(100, dur_s=1.0), n_time=8, n_bands=8)
    assert (low.argmax(axis=1) == 0).all()


def test_fingerprint_gain_invariant_and_reencode_stable():
    from frontier_engine.multimodal import _decode_gray, dhash64

    x = _tone_signal(7, 2.0)
    h = dhash64(W.spectrogram_grid(x, 9, 8).T)
    # log-energy grid ⇒ uniform gain shifts every cell equally
    assert dhash64(W.spectrogram_grid(0.5 * x, 9, 8).T) == h
    # engine path from bytes: byte-different containers, same fingerprint
    b1 = W.encode_wav(x, 4000)
    b2 = W.encode_wav(x, 4000, extra_chunks=[(b"LIST", b"INFO")])
    h1 = dhash64(_decode_gray(b1, "audio/wav"))
    assert h1 == dhash64(_decode_gray(b2, "audio/wav"))
    # 16-bit quantization may flip only near-tie comparisons
    assert bin((h1 ^ h) & ((1 << 64) - 1)).count("1") <= 2
    # a different signal lands far away
    other = dhash64(_decode_gray(W.encode_wav(_tone_signal(8, 2.0), 4000), "audio/wav"))
    assert bin((h1 ^ other) & ((1 << 64) - 1)).count("1") > 10
