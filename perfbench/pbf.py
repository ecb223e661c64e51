"""Minimal OSM PBF writer for benchmark inputs.

Independent of the engine's own encoder so that the benchmark inputs
stay byte-identical across engine changes. Writes dense nodes, ways and
relations in zlib-compressed blobs (PBF fileformat.proto /
osmformat.proto).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

GRANULARITY = 100  # nanodegrees per coordinate unit (the PBF default)
BLOCK_ELEMENTS = 8000


def _varint(v: int) -> bytes:
    out = bytearray()
    while v > 0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def varints(vals) -> bytes:
    """Unsigned LEB128 encoding of every value, concatenated."""
    return b"".join(_varint(int(x)) for x in vals)


def zigzag(vals) -> list[int]:
    v = np.asarray(vals, dtype=np.int64)
    return ((v << 1) ^ (v >> 63)).astype(np.uint64).tolist()


def zigzag_deltas(vals) -> list[int]:
    """Delta-code then zigzag a short id list (pure Python)."""
    out, prev = [], 0
    for x in vals:
        d = x - prev
        prev = x
        out.append((d << 1) ^ (d >> 63))
    return out


def _key(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _ld(field: int, payload: bytes) -> bytes:
    return _key(field, 2) + _varint(len(payload)) + payload


def _vint(field: int, v: int) -> bytes:
    return _key(field, 0) + _varint(v)


class _Strings:
    """Per-block string table; index 0 is the empty string."""

    def __init__(self):
        self.index: dict[str, int] = {"": 0}

    def __call__(self, s: str) -> int:
        i = self.index.get(s)
        if i is None:
            i = self.index[s] = len(self.index)
        return i

    def table(self) -> bytes:
        return _ld(1, b"".join(_ld(1, s.encode("utf-8")) for s in self.index))


def _blob(btype: str, payload: bytes) -> bytes:
    blob = _ld(3, zlib.compress(payload, 1)) + _vint(2, len(payload))
    header = _ld(1, btype.encode()) + _vint(3, len(blob))
    return struct.pack(">I", len(header)) + header + blob


def _chunks(seq, n):
    for i in range(0, len(seq), n):
        yield seq[i : i + n]


def encode(nodes, ways, relations) -> bytes:
    """nodes: list of (id, lon, lat, tags); ways: list of (id, tags,
    refs); relations: list of (id, tags, [(type, ref, role)]).
    Elements must be sorted by id within each type."""
    out = [_blob("OSMHeader", _ld(4, b"OsmSchema-V0.6") + _ld(4, b"DenseNodes"))]
    for chunk in _chunks(nodes, BLOCK_ELEMENTS):
        st = _Strings()
        ids = np.array([n[0] for n in chunk], dtype=np.int64)
        lons = np.round(np.array([n[1] for n in chunk]) * 1e9 / GRANULARITY).astype(np.int64)
        lats = np.round(np.array([n[2] for n in chunk]) * 1e9 / GRANULARITY).astype(np.int64)
        kv: list[int] = []
        for n in chunk:
            for k, v in n[3].items():
                kv += (st(k), st(v))
            kv.append(0)
        dense = (
            _ld(1, varints(zigzag(np.diff(ids, prepend=0))))
            + _ld(8, varints(zigzag(np.diff(lats, prepend=0))))
            + _ld(9, varints(zigzag(np.diff(lons, prepend=0))))
            + _ld(10, varints(kv))
        )
        out.append(_blob("OSMData", st.table() + _ld(2, _ld(2, dense))))
    for chunk in _chunks(ways, BLOCK_ELEMENTS):
        st = _Strings()
        body = []
        for wid, tags, refs in chunk:
            msg = _vint(1, wid)
            if tags:
                msg += _ld(2, varints([st(k) for k in tags]))
                msg += _ld(3, varints([st(v) for v in tags.values()]))
            msg += _ld(8, varints(zigzag_deltas(refs)))
            body.append(_ld(3, msg))
        out.append(_blob("OSMData", st.table() + _ld(2, b"".join(body))))
    tcode = {"node": 0, "way": 1, "relation": 2}
    for chunk in _chunks(relations, BLOCK_ELEMENTS):
        st = _Strings()
        body = []
        for rid, tags, members in chunk:
            msg = _vint(1, rid)
            if tags:
                msg += _ld(2, varints([st(k) for k in tags]))
                msg += _ld(3, varints([st(v) for v in tags.values()]))
            msg += _ld(8, varints([st(m[2]) for m in members]))
            msg += _ld(9, varints(zigzag_deltas([m[1] for m in members])))
            msg += _ld(10, varints([tcode[m[0]] for m in members]))
            body.append(_ld(4, msg))
        out.append(_blob("OSMData", st.table() + _ld(2, b"".join(body))))
    return b"".join(out)
