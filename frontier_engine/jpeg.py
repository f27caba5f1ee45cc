"""Pure-stdlib baseline JPEG codec (ITU-T T.81 sequential DCT) — the
real byte-level decode under ``multimodal``'s JPEG stages, companion to
:mod:`frontier_engine.png` and :mod:`frontier_engine.wav`.

This container ships no image libraries, but baseline JPEG needs only
bit twiddling + an 8×8 DCT (numpy matrix multiply). Implemented here:

* ``decode_jpeg`` — baseline sequential (SOF0): marker parse, DQT
  (8/16-bit), DHT (canonical Huffman from BITS/HUFFVAL), DRI + restart
  markers, byte unstuffing, per-MCU entropy decode (DC prediction +
  AC run-length), dequant, inverse zigzag, IDCT, level shift, chroma
  upsample (4:4:4, 4:2:2, 4:2:0), JFIF YCbCr→RGB. Grayscale and
  3-component images. Progressive (SOF2) is rejected with a clear
  error — it is a different entropy layout, out of scope.
* ``encode_jpeg`` — the inverse: RGB→YCbCr, optional 4:2:0 chroma
  subsample (2×2 mean), quality-scaled Annex-K quantization tables,
  forward DCT, zigzag, run-length + category coding, and OPTIMIZED
  canonical Huffman tables built from the image's own symbol
  frequencies (two-pass, like ``jpegtran -optimize``; length-limited
  to 16 bits per the spec's Adjust-BITS procedure, all-ones code
  reserved) — emitted in DHT segments, so the decoder exercises the
  general table path, never a hardcoded one. Optional restart
  intervals exercise the DRI/RSTn path.

Correctness cross-checks in ``tests/test_jpeg.py`` pin the parts a
symmetric encode/decode bug could hide: the zigzag table against the
spec's published order, the DCT matrix against a naive O(n⁴) DCT-II,
canonical code assignment against a hand-worked example, plus lossy
round-trip error bounds and exact DC reconstruction of uniform blocks.

Scope note: correctness-grade like the PNG/WAV codecs — the entropy
loop is per-block Python and fine for the decode stage's per-row work;
at 100 TB the parallelism belongs across rows (mapInPandas partitions).
"""

from __future__ import annotations

import struct
from collections import Counter

import numpy as np

SOI = b"\xff\xd8"

# zigzag scan order (T.81 Figure 5): ZIGZAG[i] = block index of the
# i-th coefficient in scan order
ZIGZAG = np.array(
    [
        0,  1,  8, 16,  9,  2,  3, 10,
        17, 24, 32, 25, 18, 11,  4,  5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13,  6,  7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.1/K.2 quantization tables (row-major, natural order)
QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

QUANT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)


def _dct_matrix() -> np.ndarray:
    """Orthonormal DCT-II matrix C: FDCT F = C f Cᵀ, IDCT f = Cᵀ F C."""
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    c = np.cos((2 * n + 1) * k * np.pi / 16.0)
    c[0, :] *= 1.0 / np.sqrt(2.0)
    return c * 0.5


_DCT = _dct_matrix()


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex-K tables."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (QUANT_LUMA, QUANT_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int64))
    return out[0], out[1]


# ----------------------------- Huffman ---------------------------------


def _canonical_codes(bits: list[int], huffval: list[int]) -> dict[int, tuple[int, int]]:
    """BITS (count of codes per length 1..16) + HUFFVAL → {symbol:
    (code, length)} via the spec's canonical assignment (T.81 C.2)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_table(freqs: Counter) -> tuple[list[int], list[int]]:
    """Symbol frequencies → (BITS, HUFFVAL), length-limited to 16 bits.

    T.81 Annex K.2 flow: Huffman code sizes via repeated least-frequent
    merging with a reserved all-ones sentinel (symbol 256, freq 1) so no
    real symbol gets the all-1s code, then Adjust-BITS to cap at 16."""
    freq = {256: 1, **{s: c for s, c in freqs.items() if c > 0}}
    others = {s: -1 for s in freq}
    codesize = {s: 0 for s in freq}
    while True:
        active = [s for s in freq if freq[s] > 0]
        if len(active) < 2:
            break
        # two least-frequent (ties → larger symbol value first, per spec)
        v1 = min(active, key=lambda s: (freq[s], -s))
        rest = [s for s in active if s != v1]
        v2 = min(rest, key=lambda s: (freq[s], -s))
        freq[v1] += freq[v2]
        freq[v2] = 0
        while True:
            codesize[v1] += 1
            if others[v1] == -1:
                break
            v1 = others[v1]
        others[v1] = v2
        while True:
            codesize[v2] += 1
            if others[v2] == -1:
                break
            v2 = others[v2]
    bits = [0] * 33
    for s, size in codesize.items():
        if size:
            bits[size] += 1
    # Adjust-BITS: fold codes longer than 16 up the tree (T.81 K.3)
    i = 32
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    # drop the sentinel: remove one code from the longest used length
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1
    huffval = [
        s for s in sorted((s for s in codesize if s != 256 and codesize[s]),
                          key=lambda s: (codesize[s], s))
    ]
    return bits[1:17], huffval


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits, per spec


class _BitReader:
    """Entropy-segment bit reader: unstuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24 and self.marker is None:
            if self.pos >= len(d):
                self.acc = (self.acc << 8) | 0xFF  # pad past end
                self.nbits += 8
                continue
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                else:
                    self.marker = nxt  # RSTn / EOI / next segment
                    self.acc = (self.acc << 8) | 0xFF
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_restart(self) -> None:
        """Consume a pending RSTn marker and realign to the byte after."""
        # drop buffered bits, scan to the marker
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                self.marker = None
                return
            self.pos += 1
        raise ValueError("JPEG: expected restart marker")


def _decode_huffman(reader: _BitReader, table: dict) -> int:
    """table: {(code, length): symbol} wrapped as nested dict by length."""
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((code, length))
        if sym is not None:
            return sym
    raise ValueError("JPEG: invalid Huffman code")


def _extend(v: int, cat: int) -> int:
    """T.81 F.2.2.1 EXTEND: map received cat-bit value to signed."""
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


# ----------------------------- decoder ---------------------------------


def decode_jpeg(data: bytes) -> tuple[np.ndarray, dict]:
    """→ (uint8 array (H, W, 3) RGB — or (H, W, 1) for grayscale —,
    meta dict with width/height/components/sampling/restart_interval)."""
    if data[:2] != SOI:
        raise ValueError("not a JPEG: bad SOI")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) → {(code,len): sym}
    frame = None
    restart_interval = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"JPEG: expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        body = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                prec, tid = body[p] >> 4, body[p] & 0xF
                p += 1
                if prec == 0:
                    tbl = np.frombuffer(body[p : p + 64], dtype=np.uint8).astype(np.int64)
                    p += 64
                else:
                    tbl = np.frombuffer(body[p : p + 128], dtype=">u2").astype(np.int64)
                    p += 128
                nat = np.zeros(64, dtype=np.int64)
                nat[ZIGZAG] = tbl  # DQT stores zigzag order
                qt[tid] = nat.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                cls, tid = body[p] >> 4, body[p] & 0xF
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                huffval = list(body[p + 17 : p + 17 + n])
                codes = _canonical_codes(bits, huffval)
                huff[(cls, tid)] = {(c, l): s for s, (c, l) in codes.items()}
                p += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if prec != 8:
                raise ValueError("JPEG: only 8-bit precision supported")
            comps = []
            for c in range(nc):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0xF, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps}
        elif marker == 0xC2:
            raise ValueError("JPEG: progressive (SOF2) not supported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG: SOS before SOF")
            ns = body[0]
            tables = {}
            for s in range(ns):
                cs, td_ta = body[1 + 2 * s], body[2 + 2 * s]
                tables[cs] = (td_ta >> 4, td_ta & 0xF)
            pos += seglen
            return _decode_scan(data, pos, frame, tables, qt, huff, restart_interval)
        pos += seglen
    raise ValueError("JPEG: no SOS segment")


def _decode_scan(data, pos, frame, scan_tables, qt, huff, restart_interval):
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
        for c in comps
    ]
    reader = _BitReader(data, pos)
    pred = [0] * len(comps)
    idct = _DCT.T
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.align_restart()
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                td, ta = scan_tables[c["id"]]
                dc_tbl, ac_tbl = huff[(0, td)], huff[(1, ta)]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int64)
                        cat = _decode_huffman(reader, dc_tbl)
                        diff = _extend(reader.receive(cat), cat)
                        pred[ci] += diff
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = _decode_huffman(reader, ac_tbl)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG: AC index overflow")
                            zz[k] = _extend(reader.receive(s), s)
                            k += 1
                        block = np.zeros(64, dtype=np.int64)
                        block[ZIGZAG] = zz
                        coef = block.reshape(8, 8) * q
                        pix = idct @ coef.astype(np.float64) @ _DCT
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = pix
            mcu_count += 1
    # upsample to full resolution, crop, color-convert
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w] + 128.0)
    meta = {
        "width": w,
        "height": h,
        "components": len(comps),
        "sampling": [(c["h"], c["v"]) for c in comps],
        "restart_interval": restart_interval,
    }
    if len(comps) == 1:
        out = np.clip(np.rint(full[0]), 0, 255).astype(np.uint8)[:, :, None]
        return out, meta
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8), meta


# ----------------------------- encoder ---------------------------------


def _blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) → (n_blocks_y, n_blocks_x, 8, 8), edge-padded to 8×8."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    p = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return p.reshape(p.shape[0] // 8, 8, p.shape[1] // 8, 8).transpose(0, 2, 1, 3)


def _ac_symbols(zz: np.ndarray) -> tuple[list[tuple[int, int]], bool]:
    """One quantized zigzag block → ([(run<<4|size, value), ...], eob)."""
    acs: list[tuple[int, int]] = []
    nz = np.nonzero(zz[1:])[0]
    last_nz = nz[-1] + 1 if len(nz) else 0
    run = 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            acs.append((0xF0, 0))  # ZRL
            run -= 16
        acs.append(((run << 4) | _category(v), v))
        run = 0
    return acs, last_nz < 63


def _emit_bits(value: int, cat: int) -> int:
    """Signed value → the cat-bit raw field (negatives: value-1 lowbits)."""
    return value if value >= 0 else value + (1 << cat) - 1


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """uint8 (H, W, 3) RGB or (H, W)/(H, W, 1) grayscale → baseline JPEG.

    ``subsample=True`` writes 4:2:0 (2×2-mean chroma); Huffman tables
    are built from the image's own symbol frequencies (two-pass) and
    emitted in DHT segments."""
    a = np.asarray(arr)
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[:, :, 0]
    gray = a.ndim == 2
    h, w = a.shape[:2]
    ql, qc = _quality_tables(quality)
    if gray:
        planes = [a.astype(np.float64) - 128.0]
        samps = [(1, 1)]
        qmap = [0]
    else:
        rgb = a.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            # pad to even then 2×2 mean
            def down(p):
                pp = np.pad(p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)), mode="edge")
                return pp.reshape(pp.shape[0] // 2, 2, pp.shape[1] // 2, 2).mean(axis=(1, 3))

            planes = [y, down(cb), down(cr)]
            samps = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samps = [(1, 1), (1, 1), (1, 1)]
        qmap = [0, 1, 1]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # FDCT + quantize every block of every component, in MCU order
    qtabs = [ql, qc]
    comp_blocks = []
    for ci, p in enumerate(planes):
        need_h = mcuy * samps[ci][1] * 8
        need_w = mcux * samps[ci][0] * 8
        pp = np.pad(
            p,
            ((0, need_h - p.shape[0]), (0, need_w - p.shape[1])),
            mode="edge",
        )
        blocks = _blocks(pp)  # (by, bx, 8, 8)
        coef = np.einsum("ij,yxjk,lk->yxil", _DCT, blocks, _DCT)
        q = qtabs[qmap[ci]].astype(np.float64)
        qz = np.rint(coef / q).astype(np.int64)
        # scan order: zz[i] = natural_block.flat[ZIGZAG[i]] (the inverse
        # of the decoder's block[ZIGZAG] = zz)
        comp_blocks.append(qz.reshape(qz.shape[0], qz.shape[1], 64)[:, :, ZIGZAG])
    comp_zz = comp_blocks

    # pass 1: the exact emission-order token stream, restart-aware DC
    # prediction (the frequency counts MUST see the same symbols the
    # writer emits, or an optimized table could miss a code)
    ntab = 1 if gray else 2
    tmap = [0] + [1] * (len(planes) - 1)
    RST = None  # sentinel token
    tokens: list = []
    preds = [0] * len(planes)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                tokens.append(RST)
                preds = [0] * len(planes)
            for ci in range(len(planes)):
                t = tmap[ci] if not gray else 0
                sh, sv = samps[ci]
                for by in range(sv):
                    for bx in range(sh):
                        zz = comp_zz[ci][my * sv + by, mx * sh + bx]
                        dc = int(zz[0])
                        diff = dc - preds[ci]
                        preds[ci] = dc
                        acs, eob = _ac_symbols(zz)
                        tokens.append((t, diff, acs, eob))
            mcu_count += 1
    dc_freq = [Counter() for _ in range(ntab)]
    ac_freq = [Counter() for _ in range(ntab)]
    for tok in tokens:
        if tok is RST:
            continue
        t, diff, acs, eob = tok
        dc_freq[t][_category(diff)] += 1
        for rs, _v in acs:
            ac_freq[t][rs] += 1
        if eob:
            ac_freq[t][0x00] += 1
    dc_tables = [_build_table(f) for f in dc_freq]
    ac_tables = [_build_table(f) for f in ac_freq]
    dc_codes = [_canonical_codes(b, v) for b, v in dc_tables]
    ac_codes = [_canonical_codes(b, v) for b, v in ac_tables]

    # ---- headers ----
    out = bytearray(SOI)

    def seg(marker: int, body: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body)

    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    for tid in range(ntab):
        zz_tbl = qtabs[tid].reshape(64)[ZIGZAG]
        seg(0xDB, bytes([tid]) + bytes(int(x) for x in zz_tbl))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(planes)])
    for ci in range(len(planes)):
        sof += bytes([ci + 1, (samps[ci][0] << 4) | samps[ci][1], tmap[ci] if not gray else 0])
    seg(0xC0, sof)
    for cls, tabs in ((0, dc_tables), (1, ac_tables)):
        for tid, (bits, huffval) in enumerate(tabs):
            seg(0xC4, bytes([(cls << 4) | tid] + bits + huffval))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([len(planes)])
    for ci in range(len(planes)):
        t = tmap[ci] if not gray else 0
        sos += bytes([ci + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)

    # pass 2: write the token stream
    writer = _BitWriter()
    body_parts = []
    rst = 0
    for tok in tokens:
        if tok is RST:
            writer.flush()
            body_parts.append(bytes(writer.buf))
            body_parts.append(b"\xff" + bytes([0xD0 + (rst & 7)]))
            writer = _BitWriter()
            rst += 1
            continue
        t, diff, acs, eob = tok
        cat = _category(diff)
        code, length = dc_codes[t][cat]
        writer.write(code, length)
        if cat:
            writer.write(_emit_bits(diff, cat), cat)
        for rs, v in acs:
            code, length = ac_codes[t][rs]
            writer.write(code, length)
            s = rs & 0xF
            if s:
                writer.write(_emit_bits(v, s), s)
        if eob:
            code, length = ac_codes[t][0x00]
            writer.write(code, length)
    writer.flush()
    body_parts.append(bytes(writer.buf))
    out.extend(b"".join(body_parts))
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)
