"""Pure-stdlib ISO-BMFF (MP4) container codec — real box-structure
parsing under ``multimodal``'s video perceptual hash, companion to
:mod:`frontier_engine.png` / :mod:`frontier_engine.jpeg` /
:mod:`frontier_engine.wav`.

H.264/H.265 bitstream decoding is out of scope for a stdlib codec, but
the MP4 CONTAINER is pure struct parsing (ISO/IEC 14496-12 box
grammar), and that is what the video perceptual-hash stage actually
needs:

* ``parse_mp4``  — recursive box walk (unknown boxes skipped by
  declared size, 64-bit largesize supported), extracting mvhd
  timescale/duration, tkhd width/height (16.16 fixed point), hdlr
  handler type, and the full sample table: stts (decode deltas),
  stsz (sizes), stsc (sample→chunk runs), stco/co64 (chunk offsets)
  → per-sample (offset, size, start_time) — the real math a demuxer
  does to seek.
* ``encode_mp4`` — the inverse: a minimal valid ftyp+mdat+moov file
  from a list of sample payloads, with configurable samples-per-chunk
  (so multi-chunk stsc/stco resolution is exercised) and per-sample
  durations (multi-run stts).
* ``extract_sample`` — the byte range of sample k (the first-frame
  decode behind the video perceptual hash).

The *codec* payload inside each sample stays opaque here — MJPEG
samples decode through :mod:`frontier_engine.jpeg`, other codecs are the
pyav drop-in point; the container math (what byte range IS frame k) is
real and tested against hand-computable layouts.
"""

from __future__ import annotations

import struct


def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _full(fourcc: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(fourcc, struct.pack(">B3s", version, flags.to_bytes(3, "big")) + payload)


_IDENTITY_MATRIX = struct.pack(
    ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)


def is_mp4(data: bytes) -> bool:
    return len(data) >= 12 and data[4:8] == b"ftyp"


def encode_mp4(
    samples: list[bytes],
    timescale: int = 1000,
    sample_deltas: list[int] | int = 1000,
    width: int = 640,
    height: int = 480,
    samples_per_chunk: int = 4,
    handler: bytes = b"vide",
) -> bytes:
    """Minimal valid ISO-BMFF file: ftyp + mdat (samples concatenated in
    chunks) + moov with a complete sample table. ``sample_deltas`` (in
    timescale units) may be one int or a per-sample list (multi-run
    stts)."""
    n = len(samples)
    if isinstance(sample_deltas, int):
        sample_deltas = [sample_deltas] * n
    assert len(sample_deltas) == n
    duration = sum(sample_deltas)

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    mdat_payload = b"".join(samples)
    mdat = _box(b"mdat", mdat_payload)
    mdat_data_start = len(ftyp) + 8  # first sample's file offset

    # chunk layout: fixed samples_per_chunk (last chunk may be short)
    chunk_offsets = []
    off = mdat_data_start
    for c0 in range(0, n, samples_per_chunk):
        chunk_offsets.append(off)
        off += sum(len(s) for s in samples[c0 : c0 + samples_per_chunk])

    # stts: run-length encode the delta sequence
    runs = []
    for d in sample_deltas:
        if runs and runs[-1][1] == d:
            runs[-1][0] += 1
        else:
            runs.append([1, d])
    stts = _full(
        b"stts", 0, 0,
        struct.pack(">I", len(runs)) + b"".join(struct.pack(">II", c, d) for c, d in runs),
    )
    # stsd: one opaque sample description (mp4v visual sample entry)
    vse = (
        b"\x00" * 6 + struct.pack(">H", 1)  # reserved + data_reference_index
        + b"\x00" * 16
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame count
        + b"\x00" * 32  # compressor name
        + struct.pack(">Hh", 24, -1)  # depth, color table
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + _box(b"mp4v", vse))
    stsc_entries = [(1, min(samples_per_chunk, n) or 1, 1)]
    if n % samples_per_chunk and n > samples_per_chunk:
        stsc_entries.append((len(chunk_offsets), n % samples_per_chunk, 1))
    stsc = _full(
        b"stsc", 0, 0,
        struct.pack(">I", len(stsc_entries))
        + b"".join(struct.pack(">III", f, s, d) for f, s, d in stsc_entries),
    )
    stsz = _full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, n) + b"".join(struct.pack(">I", len(s)) for s in samples),
    )
    stco = _full(
        b"stco", 0, 0,
        struct.pack(">I", len(chunk_offsets))
        + b"".join(struct.pack(">I", o) for o in chunk_offsets),
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b""))
    dinf = _box(b"dinf", dref)
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdhd = _full(
        b"mdhd", 0, 0,
        struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0),
    )
    hdlr = _full(b"hdlr", 0, 0, struct.pack(">I", 0) + handler + b"\x00" * 12 + b"\x00")
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _full(
        b"tkhd", 0, 7,
        struct.pack(">IIII", 0, 0, 1, 0)  # times, track id, reserved
        + struct.pack(">I", duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)  # layer, group, volume, reserved
        + _IDENTITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">IH", 0x00010000, 0x0100)  # rate, volume
        + b"\x00" * 10
        + _IDENTITY_MATRIX
        + b"\x00" * 24  # predefined
        + struct.pack(">I", 2),  # next track id
    )
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


# ----------------------------- parser ----------------------------------


def _walk(data: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for each box in [start, end),
    honoring 64-bit largesize and size==0 (extends to end)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", data, pos)
        fourcc = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(f"MP4: bad box size at {pos}")
        yield fourcc, body, pos + size
        pos += size


_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"dinf", b"edts"}


def parse_mp4(data: bytes) -> dict:
    """→ meta dict: timescale, duration_s, width, height, handler,
    n_samples, samples=[(offset, size, start_time_s), ...]. Raises on
    non-BMFF input or a malformed sample table."""
    if not is_mp4(data):
        raise ValueError("not an MP4: missing ftyp")
    meta: dict = {"samples": []}
    tables: dict = {}

    def visit(start: int, end: int) -> None:
        for fourcc, body, box_end in _walk(data, start, end):
            if fourcc in _CONTAINERS:
                visit(body, box_end)
            elif fourcc == b"mvhd":
                ver = data[body]
                if ver == 1:
                    ts, dur = struct.unpack_from(">IQ", data, body + 4 + 16)
                else:
                    _, _, ts, dur = struct.unpack_from(">IIII", data, body + 4)
                meta["timescale"], meta["duration"] = ts, dur
            elif fourcc == b"tkhd":
                w, h = struct.unpack_from(">II", data, box_end - 8)
                meta["width"], meta["height"] = w >> 16, h >> 16
            elif fourcc == b"mdhd":
                ver = data[body]
                if ver == 1:
                    ts, dur = struct.unpack_from(">IQ", data, body + 4 + 16)
                else:
                    _, _, ts, dur = struct.unpack_from(">IIII", data, body + 4)
                tables["media_timescale"] = ts
                tables["media_duration"] = dur
            elif fourcc == b"hdlr":
                meta["handler"] = data[body + 8 : body + 12].decode("latin1")
            elif fourcc == b"stts":
                (n,) = struct.unpack_from(">I", data, body + 4)
                tables["stts"] = [
                    struct.unpack_from(">II", data, body + 8 + 8 * i) for i in range(n)
                ]
            elif fourcc == b"stsz":
                fixed, n = struct.unpack_from(">II", data, body + 4)
                if fixed:
                    tables["stsz"] = [fixed] * n
                else:
                    tables["stsz"] = [
                        struct.unpack_from(">I", data, body + 12 + 4 * i)[0]
                        for i in range(n)
                    ]
            elif fourcc == b"stsc":
                (n,) = struct.unpack_from(">I", data, body + 4)
                tables["stsc"] = [
                    struct.unpack_from(">III", data, body + 8 + 12 * i) for i in range(n)
                ]
            elif fourcc in (b"stco", b"co64"):
                (n,) = struct.unpack_from(">I", data, body + 4)
                fmt, step = (">I", 4) if fourcc == b"stco" else (">Q", 8)
                tables["stco"] = [
                    struct.unpack_from(fmt, data, body + 8 + step * i)[0]
                    for i in range(n)
                ]

    visit(0, len(data))
    if not {"stsz", "stsc", "stco", "stts"} <= tables.keys():
        raise ValueError("MP4: incomplete sample table")
    sizes = tables["stsz"]
    n = len(sizes)
    # resolve stsc runs → samples-per-chunk for each chunk
    stsc = tables["stsc"]
    chunks = tables["stco"]
    per_chunk = []
    for i, (first, spc, _desc) in enumerate(stsc):
        last = stsc[i + 1][0] - 1 if i + 1 < len(stsc) else len(chunks)
        per_chunk += [spc] * (last - first + 1)
    # sample start times from stts runs (media timescale)
    ts = tables.get("media_timescale") or meta.get("timescale", 1000)
    times = []
    t = 0
    for count, delta in tables["stts"]:
        for _ in range(count):
            times.append(t / ts)
            t += delta
    # offsets: walk chunks, cumulative within chunk
    samples = []
    si = 0
    for ci, coff in enumerate(chunks):
        off = coff
        for _ in range(per_chunk[ci] if ci < len(per_chunk) else 0):
            if si >= n:
                break
            samples.append((off, sizes[si], times[si] if si < len(times) else 0.0))
            off += sizes[si]
            si += 1
    if si != n:
        raise ValueError(f"MP4: sample table resolves {si} of {n} samples")
    meta["samples"] = samples
    meta["n_samples"] = n
    meta["duration_s"] = meta.get("duration", 0) / meta.get("timescale", 1000)
    return meta


def extract_sample(data: bytes, samples: list[tuple[int, int, float]], idx: int) -> bytes:
    off, size, _t = samples[idx]
    return data[off : off + size]
