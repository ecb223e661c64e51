"""Pure-stdlib+numpy baseline JPEG (JFIF) codec.

Why this exists: the container has no codec libraries (no Pillow /
libjpeg / ffmpeg), but a real image+caption corpus is mostly JPEG, so
the payload plumbing must exercise the dominant real-world format.
Same treatment the PNG codec got (payload/images.py): a complete,
honest implementation of the baseline subset over stdlib struct/bytes
plus numpy math — on a cluster a C codec drops in behind the same
`decode_image_batch` seam.

Supported: baseline DCT (SOF0), 8-bit samples, 1 or 3 components,
4:4:4 / 4:2:2 / 4:2:0 sampling (chroma upsampled by pixel
replication), restart markers, multiple DQT/DHT segments. Not
supported (raises): progressive (SOF2), arithmetic coding, 12-bit,
hierarchical.

Determinism contract (what makes the DuckDB oracles possible): the
decoder's dequantize -> IDCT -> level shift -> clamp chain and the
YCbCr->RGB conversion are pure INTEGER arithmetic:

* IDCT: pixel(x,y) = clamp(((sum_uv A[u][x]*A[v][y]*S[u,v] + 2^21)
  >> 22) + 128) with A[u][x] = round(2^11 * C(u)/2 * cos((2x+1)u*pi/16)),
  C(0)=1/sqrt(2) else 1 — the classic scaled-integer IDCT shape
  (libjpeg's jidctint is the same idea with a faster factorization).
  Every decoded pixel is an exact integer function of the quantized
  coefficients, reproducible in SQL from the same 64 A constants.
* Color: libjpeg's fixed-point constants, e.g.
  r = clamp(y + ((91881*(cr-128) + 32768) >> 16)) — again exact
  integer math (arithmetic >> is floor division by 2^16).

The float forward DCT lives only in the encoder (lossy by nature; the
PSNR>=40dB payload gate bounds it). `encode_from_coefficients` skips
the forward transform entirely and entropy-codes caller-provided
quantized coefficients — the synthetic image payload uses it to build REAL JFIF
streams whose decoded pixels have a closed form.
"""

from __future__ import annotations

import math
import struct

import numpy as np

# --------------------------------------------------------------- tables

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# ITU T.81 Annex K reference quantization tables
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

# ITU T.81 Annex K typical Huffman tables: (bits[1..16], values)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# scaled-integer IDCT constants: A[u][x] = round(2^11 * C(u)/2 *
# cos((2x+1) u pi / 16)), C(0)=1/sqrt(2) else 1. idct_constants()
# exports them so the DuckDB oracle inlines the IDENTICAL literals.
_IDCT_SHIFT = 22  # A*A carries 2 * 11 bits of scale
_IDCT_HALF = 1 << (_IDCT_SHIFT - 1)


def idct_constants() -> np.ndarray:
    a = np.empty((8, 8), dtype=np.int64)
    for u in range(8):
        cu = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            a[u][x] = round(2048.0 * (cu / 2.0) * math.cos((2 * x + 1) * u * math.pi / 16.0))
    return a


_A = idct_constants()
# flattened basis: _M[x*8+y, u*8+v] = A[u][x] * A[v][y]; one 64x64
# int64 matmul per block replaces the einsum (same integer products,
# same exact sums — integer addition is associative; ~10x less
# per-block overhead in the per-image decode loop)
_M = np.einsum("ux,vy->xyuv", _A, _A).reshape(64, 64)


def idct8x8_int(coef: np.ndarray) -> np.ndarray:
    """Integer 8x8 IDCT of DEQUANTIZED coefficients -> uint8 samples.
    pixel(x,y) = clamp(((sum A[u][x]A[v][y]S[u,v] + 2^21) >> 22) + 128).
    int64 throughout; |sum| stays far below 2^63 for any baseline
    stream (|S| <= 255*2040, |A| <= 2048)."""
    s = (_M @ coef.astype(np.int64).reshape(64)).reshape(8, 8)
    return np.clip(((s + _IDCT_HALF) >> _IDCT_SHIFT) + 128, 0, 255).astype(np.uint8)


# ------------------------------------------------------------- decoding


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; restart markers are consumed by `sync_restart`."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _ensure(self, n: int):
        d = self.data
        while self.nbits < n:
            if self.pos >= len(d):
                b = 0  # pad past EOI (spec: trailing pad bits are don't-care)
            else:
                b = d[self.pos]
                if b == 0xFF:
                    nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                    if nxt == 0x00:
                        self.pos += 2
                    elif 0xD0 <= nxt <= 0xD7 or nxt == 0xD9:
                        b = 0  # restart/EOI marker: stop feeding real bits
                    else:
                        raise ValueError(f"unexpected marker 0xFF{nxt:02X} in scan")
                else:
                    self.pos += 1
            self.acc = ((self.acc & ((1 << self.nbits) - 1)) << 8) | b
            self.nbits += 8

    def peek16(self) -> int:
        if self.nbits < 16:
            self._ensure(16)
        return (self.acc >> (self.nbits - 16)) & 0xFFFF

    def skip(self, n: int):
        self.nbits -= n

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._ensure(n)
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def sync_restart(self):
        """Skip to just past the next RSTn marker and reset bit state."""
        d = self.data
        p = self.pos
        while p + 1 < len(d) and not (d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7):
            p += 1
        if p + 1 >= len(d):
            raise ValueError("expected restart marker")
        self.pos = p + 2
        self.acc = 0
        self.nbits = 0


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map t-bit magnitude v to its signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


class _HuffLUT:
    """Flat 16-bit-prefix decode table: one peek + one lookup per
    symbol instead of a bit-by-bit tree walk. Built once per distinct
    (bits, vals) pair and cached — every frame of a corpus that shares
    Huffman tables (e.g. all Annex-K streams) reuses one table."""

    __slots__ = ("lens", "syms")

    def __init__(self, bits: list[int], vals: list[int]):
        self.lens = np.zeros(65536, dtype=np.uint8)
        self.syms = np.zeros(65536, dtype=np.int16)
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                start = code << (16 - length)
                end = start + (1 << (16 - length))
                self.lens[start:end] = length
                self.syms[start:end] = vals[k]
                code += 1
                k += 1
            code <<= 1


_LUT_CACHE: dict = {}


def _build_decode_table(bits: list[int], vals: list[int]) -> _HuffLUT:
    key = (tuple(bits), tuple(vals))
    t = _LUT_CACHE.get(key)
    if t is None:
        t = _LUT_CACHE[key] = _HuffLUT(bits, vals)
    return t


def _decode_symbol(br: _BitReader, table: _HuffLUT) -> int:
    p = br.peek16()
    ln = table.lens[p]
    if ln == 0:
        raise ValueError("invalid Huffman code in scan")
    br.skip(int(ln))
    return int(table.syms[p])


def decode_baseline(data: bytes) -> np.ndarray:
    """Baseline JFIF bytes -> (h, w, 3) uint8 RGB.

    Chroma upsampling is pixel replication (deterministic); grayscale
    replicates to 3 channels. See module docstring for the exact
    integer pipeline the decoded values follow."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    comps = None  # list of (cid, hsamp, vsamp, tq)
    w = h = 0
    restart_interval = 0
    scan_comps = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        body = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            bpos = 0
            while bpos < len(body):
                pq, tq = body[bpos] >> 4, body[bpos] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(body, np.uint8, 64, bpos + 1)
                quant[tq] = tbl.reshape(8, 8)
                bpos += 65
        elif marker == 0xC4:  # DHT
            bpos = 0
            while bpos < len(body):
                tc, th = body[bpos] >> 4, body[bpos] & 0xF
                bits = list(body[bpos + 1 : bpos + 17])
                n = sum(bits)
                vals = list(body[bpos + 17 : bpos + 17 + n])
                (dc_tabs if tc == 0 else ac_tabs)[th] = _build_decode_table(bits, vals)
                bpos += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if prec != 8:
                raise NotImplementedError("12-bit JPEG")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(f"non-baseline JPEG (SOF marker 0xFF{marker:02X})")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan_comps = []
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                scan_comps.append((cs, tt >> 4, tt & 0xF))
            pos += seglen
            break
        pos += seglen
    if comps is None or scan_comps is None:
        raise ValueError("JPEG missing SOF0/SOS")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = {
        cid: np.zeros((mcuy * v * 8, mcux * hs * 8), dtype=np.uint8)
        for cid, hs, v, _ in comps
    }
    byid = {cid: (hs, v, tq) for cid, hs, v, tq in comps}
    scan_sel = {cs: (td, ta) for cs, td, ta in scan_comps}

    br = _BitReader(data, pos)
    pred = {cid: 0 for cid, *_ in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.sync_restart()
                pred = {cid: 0 for cid, *_ in comps}
            mcu_count += 1
            for cid, hs, v, tq in comps:
                td, ta = scan_sel[cid]
                for by in range(v):
                    for bx in range(hs):
                        coef = np.zeros((8, 8), dtype=np.int64)
                        t = _decode_symbol(br, dc_tabs[td])
                        diff = _extend(br.receive(t), t)
                        pred[cid] += diff
                        zz = np.zeros(64, dtype=np.int64)
                        zz[0] = pred[cid]
                        k = 1
                        while k < 64:
                            rs = _decode_symbol(br, ac_tabs[ta])
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past end of block")
                            zz[k] = _extend(br.receive(s), s)
                            k += 1
                        coef.reshape(-1)[ZIGZAG] = zz
                        block = idct8x8_int(coef * quant[tq])
                        py, px = (my * v + by) * 8, (mx * hs + bx) * 8
                        planes[cid][py : py + 8, px : px + 8] = block

    if len(comps) == 1:
        plane = planes[comps[0][0]][:h, :w]
        return np.repeat(plane[:, :, None], 3, axis=2)

    # upsample by replication to full resolution, then YCbCr -> RGB
    full = []
    for cid, hs, v, _ in comps:
        p = planes[cid]
        p = np.repeat(np.repeat(p, vmax // v, axis=0), hmax // hs, axis=1)
        full.append(p[:h, :w].astype(np.int64))
    y, cb, cr = full
    return ycbcr_to_rgb_int(y, cb, cr)


def ycbcr_to_rgb_int(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """libjpeg fixed-point YCbCr->RGB (jdcolor.c constants, >>16 with
    +32768 rounding — arithmetic shift = floor division, so the SQL
    oracle writes FLOOR((expr + 32768)/65536.0))."""
    cb = cb - 128
    cr = cr - 128
    r = y + ((91881 * cr + 32768) >> 16)
    g = y - ((22554 * cb + 46802 * cr + 32768) >> 16)
    b = y + ((116130 * cb + 32768) >> 16)
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)


# ------------------------------------------------------------- encoding


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s (spec)


def _build_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


def _magnitude(v: int) -> tuple[int, int]:
    """signed value -> (ssss category, magnitude bits per T.81 F.1.4)."""
    if v == 0:
        return 0, 0
    t = int(v).bit_length() if v > 0 else int(-v).bit_length()
    return t, (v if v >= 0 else v + (1 << t) - 1)


def _encode_block(bw: _BitWriter, zz: np.ndarray, pred: int, dct, act) -> int:
    """Huffman-encode one zigzag coefficient vector; returns new DC pred."""
    t, m = _magnitude(int(zz[0]) - pred)
    code, length = dct[t]
    bw.write(code, length)
    if t:
        bw.write(m, t)
    run = 0
    last = 63
    while last > 0 and zz[last] == 0:
        last -= 1
    for k in range(1, last + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            code, length = act[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        s, m = _magnitude(int(zz[k]))
        code, length = act[(run << 4) | s]
        bw.write(code, length)
        bw.write(m, s)
        run = 0
    if last < 63:
        code, length = act[0x00]  # EOB
        bw.write(code, length)
    return int(zz[0])


def _segments_header(w: int, h: int, quant_y: np.ndarray, quant_c: np.ndarray | None, comps) -> bytes:
    """SOI + APP0 + DQT(s) + SOF0 + DHT(s)."""
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

    def dqt(tid: int, tbl: np.ndarray) -> bytes:
        zz = tbl.reshape(-1)[ZIGZAG].astype(np.uint8).tobytes()
        return b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + zz

    out += dqt(0, quant_y)
    if quant_c is not None:
        out += dqt(1, quant_c)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(comps)])
    for cid, hs, v, tq in comps:
        sof += bytes([cid, (hs << 4) | v, tq])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
    out += dht(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
    if len(comps) == 3:
        out += dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
        out += dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)
    return bytes(out)


def _sos(comps) -> bytes:
    body = bytes([len(comps)])
    for cid, dc_ac in comps:
        body += bytes([cid, dc_ac])
    body += bytes([0, 63, 0])
    return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body


def encode_from_coefficients(
    qcoef: list[np.ndarray], quant_y: np.ndarray, quant_c: np.ndarray, w: int = 8, h: int = 8
) -> bytes:
    """REAL baseline JFIF stream from caller-provided QUANTIZED zigzag-
    domain-free (natural 8x8 order) coefficient blocks — one block per
    component, 4:4:4, w=h=8 (the synthetic-payload path: coefficients are a
    closed form of the key, so decoded pixels are too; there is no
    forward DCT and no float anywhere between here and the decoded
    pixel)."""
    assert len(qcoef) in (1, 3) and w <= 8 and h <= 8
    nc = len(qcoef)
    if nc == 3:
        comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        scan = [(1, 0x00), (2, 0x11), (3, 0x11)]
    else:
        comps = [(1, 1, 1, 0)]
        scan = [(1, 0x00)]
    out = bytearray(_segments_header(w, h, quant_y, quant_c if nc == 3 else None, comps))
    out += _sos(scan)
    bw = _BitWriter()
    dct_l = _build_encode_table(DC_LUMA_BITS, DC_LUMA_VALS)
    act_l = _build_encode_table(AC_LUMA_BITS, AC_LUMA_VALS)
    dct_c = _build_encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS)
    act_c = _build_encode_table(AC_CHROMA_BITS, AC_CHROMA_VALS)
    for i, blk in enumerate(qcoef):
        zz = blk.astype(np.int64).reshape(-1)[ZIGZAG]
        _encode_block(bw, zz, 0, dct_l if i == 0 else dct_c, act_l if i == 0 else act_c)
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


def _scale_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 1..100 -> scaled Annex K table."""
    quality = max(1, min(100, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _fdct_float(block: np.ndarray) -> np.ndarray:
    """Float forward DCT-II of a level-shifted 8x8 block (encode only)."""
    x = block.astype(np.float64) - 128.0
    n = np.arange(8)
    c = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16.0)  # c[u, x]
    alpha = np.full(8, 1.0)
    alpha[0] = 1.0 / math.sqrt(2.0)
    return 0.25 * np.einsum("u,v,ux,vy,xy->uv", alpha, alpha, c, c, x)


def rgb_to_ycbcr_int(img: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """libjpeg fixed-point RGB->YCbCr (jccolor.c constants)."""
    r = img[:, :, 0].astype(np.int64)
    g = img[:, :, 1].astype(np.int64)
    b = img[:, :, 2].astype(np.int64)
    y = (19595 * r + 38470 * g + 7471 * b + 32768) >> 16
    cb = ((-11059 * r - 21709 * g + 32768 * b + 8421375) >> 16)
    cr = ((32768 * r - 27439 * g - 5329 * b + 8421375) >> 16)
    return y, cb, cr


def encode_baseline(img: np.ndarray, quality: int = 90, subsampling: str = "444") -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF bytes. Float forward DCT +
    Annex K tables scaled by ``quality``; 4:4:4 or 4:2:0 (chroma =
    floor-mean of each 2x2). Lossy — pair with decode_baseline and the
    psnr() gate."""
    h, w, c = img.shape
    assert c == 3 and img.dtype == np.uint8
    qy = _scale_quant(QUANT_LUMA, quality)
    qc = _scale_quant(QUANT_CHROMA, quality)
    y, cb, cr = rgb_to_ycbcr_int(img)
    if subsampling == "420":
        sh, sv = 2, 2
    elif subsampling == "444":
        sh, sv = 1, 1
    else:
        raise ValueError(f"subsampling {subsampling!r} (444 or 420)")
    comps = [(1, sh, sv, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    scan = [(1, 0x00), (2, 0x11), (3, 0x11)]
    mcu_w, mcu_h = 8 * sh, 8 * sv
    mcux = (w + mcu_w - 1) // mcu_w
    mcuy = (h + mcu_h - 1) // mcu_h

    def padded(plane: np.ndarray, pw: int, ph: int) -> np.ndarray:
        out = np.empty((ph, pw), dtype=np.int64)
        hh, ww = plane.shape
        out[:hh, :ww] = plane
        out[:hh, ww:] = plane[:, -1:]
        out[hh:, :] = out[hh - 1 : hh, :]
        return out

    ypad = padded(y, mcux * mcu_w, mcuy * mcu_h)
    if sh == 2:
        # floor-mean 2x2 chroma downsample on edge-padded full planes
        cbp = padded(cb, mcux * mcu_w, mcuy * mcu_h)
        crp = padded(cr, mcux * mcu_w, mcuy * mcu_h)
        cbs = cbp.reshape(mcuy * 8, 2, mcux * 8, 2).sum(axis=(1, 3)) // 4
        crs = crp.reshape(mcuy * 8, 2, mcux * 8, 2).sum(axis=(1, 3)) // 4
    else:
        cbs = padded(cb, mcux * 8, mcuy * 8)
        crs = padded(cr, mcux * 8, mcuy * 8)

    out = bytearray(_segments_header(w, h, qy, qc, comps))
    out += _sos(scan)
    bw = _BitWriter()
    enc = {
        1: (_build_encode_table(DC_LUMA_BITS, DC_LUMA_VALS), _build_encode_table(AC_LUMA_BITS, AC_LUMA_VALS)),
        2: (_build_encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS), _build_encode_table(AC_CHROMA_BITS, AC_CHROMA_VALS)),
    }
    enc[3] = enc[2]
    planes = {1: (ypad, qy, sh, sv), 2: (cbs, qc, 1, 1), 3: (crs, qc, 1, 1)}
    pred = {1: 0, 2: 0, 3: 0}
    for my in range(mcuy):
        for mx in range(mcux):
            for cid, _sel in scan:
                plane, q, chs, cvs = planes[cid]
                for by in range(cvs):
                    for bx in range(chs):
                        py, px = (my * cvs + by) * 8, (mx * chs + bx) * 8
                        block = plane[py : py + 8, px : px + 8]
                        coef = _fdct_float(block)
                        qz = np.round(coef / q).astype(np.int64)
                        zz = qz.reshape(-1)[ZIGZAG]
                        dct, act = enc[cid]
                        pred[cid] = _encode_block(bw, zz, pred[cid], dct, act)
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)
