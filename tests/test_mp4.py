"""ISO-BMFF container codec: box grammar, sample-table resolution
(stts/stsz/stsc/stco), seek math, robustness. Pure driver-side."""

import struct

import pytest

from frontier_engine import mp4 as V


def mk_samples(n, base=3):
    return [bytes([i]) * (base + i % 4) for i in range(n)]


def test_roundtrip_meta_and_samples():
    samples = mk_samples(11)
    data = V.encode_mp4(samples, timescale=1000, sample_deltas=1000,
                        width=320, height=200, samples_per_chunk=4)
    meta = V.parse_mp4(data)
    assert (meta["width"], meta["height"]) == (320, 200)
    assert meta["handler"] == "vide"
    assert meta["n_samples"] == 11 and meta["duration_s"] == 11.0
    for i in range(11):
        assert V.extract_sample(data, meta["samples"], i) == samples[i]
    # start times are the stts prefix sums
    assert [t for _, _, t in meta["samples"]] == [float(i) for i in range(11)]


def test_multichunk_stsc_resolution():
    # 11 samples, 3 per chunk → chunks of 3/3/3/2: the short last chunk
    # needs a second stsc run — offsets must still be exact
    samples = mk_samples(11, base=5)
    data = V.encode_mp4(samples, samples_per_chunk=3)
    meta = V.parse_mp4(data)
    for i in range(11):
        assert V.extract_sample(data, meta["samples"], i) == samples[i]


def test_variable_durations_multirun_stts():
    samples = mk_samples(8)
    data = V.encode_mp4(samples, timescale=10, sample_deltas=[5] * 3 + [20] * 5)
    meta = V.parse_mp4(data)
    times = [t for _, _, t in meta["samples"]]
    assert times == [0.0, 0.5, 1.0, 1.5, 3.5, 5.5, 7.5, 9.5]
    assert meta["duration_s"] == 11.5


def test_unknown_boxes_skipped_and_largesize():
    samples = mk_samples(4)
    data = V.encode_mp4(samples)
    # inject a top-level free box between ftyp and mdat — offsets in
    # stco are now stale by design, so rebuild instead: append free at
    # the END (offsets unaffected) plus a uuid box
    extra = struct.pack(">I", 16) + b"free" + b"\x00" * 8
    uuid = struct.pack(">I", 24) + b"uuid" + bytes(range(16))
    meta = V.parse_mp4(data + extra + uuid)
    for i in range(4):
        assert V.extract_sample(data, meta["samples"], i) == samples[i]
    # 64-bit largesize variant of the free box also parses
    big = struct.pack(">I", 1) + b"free" + struct.pack(">Q", 24) + b"\x00" * 8
    assert V.parse_mp4(data + big)["n_samples"] == 4


def test_rejects_non_mp4_and_truncated_table():
    with pytest.raises(ValueError, match="ftyp"):
        V.parse_mp4(b"RIFF\x00\x00\x00\x00WAVE")
    # strip the moov (keep ftyp+mdat) → incomplete sample table
    samples = mk_samples(3)
    data = V.encode_mp4(samples)
    moov_at = data.find(b"moov") - 4
    with pytest.raises(ValueError, match="sample table"):
        V.parse_mp4(data[:moov_at])


def test_bad_box_size_raises():
    samples = mk_samples(2)
    data = bytearray(V.encode_mp4(samples))
    i = data.find(b"moov") - 4
    struct.pack_into(">I", data, i, 7)  # size < 8
    with pytest.raises(ValueError, match="box size"):
        V.parse_mp4(bytes(data))
