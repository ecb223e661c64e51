"""A deterministic .osm.pbf writer for tests: dense nodes, delta coding,
per-block string tables and zlib blobs, so the PBF source
(osmzen_spark/sources/osmpbf.py) can be tested without external data.
"""

from __future__ import annotations

import struct
import zlib


def _encode_varint(v: int) -> bytes:
    if v < 0:
        v &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _tag(field: int, wt: int) -> bytes:
    return _encode_varint((field << 3) | wt)


def _ld(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _encode_varint(len(payload)) + payload


def _packed(field: int, ints) -> bytes:
    body = b"".join(_encode_varint(i) for i in ints)
    return _ld(field, body)


def encode_pbf(
    nodes: list[tuple[int, float, float, dict]],
    ways: list[tuple[int, dict, list[int]]],
    relations: list[tuple[int, dict, list[tuple[str, int, str]]]],
    max_group: int = 8000,
    compress: bool = True,
) -> bytes:
    """Encode raw elements into a valid .osm.pbf byte string (dense
    nodes, delta coding, per-block string tables, zlib blobs) —
    deterministic, for tests and synthetic data only."""
    out = bytearray()

    def emit_blob(btype: str, payload: bytes) -> None:
        blob = (
            _ld(3, zlib.compress(payload, 6)) + _tag(2, 0) + _encode_varint(len(payload))
            if compress
            else _ld(1, payload)
        )
        hdr = _ld(1, btype.encode()) + _tag(3, 0) + _encode_varint(len(blob))
        out.extend(struct.pack(">I", len(hdr)))
        out.extend(hdr)
        out.extend(blob)

    emit_blob(
        "OSMHeader",
        _ld(4, b"OsmSchema-V0.6") + _ld(16, b"osmzen_spark.encode_pbf"),
    )

    def chunks(seq, n):
        for i in range(0, len(seq), n):
            yield seq[i : i + n]

    def block(groups_payload: bytes, strings: list[str]) -> bytes:
        st = b"".join(_ld(1, s.encode("utf-8")) for s in strings)
        return _ld(1, st) + groups_payload

    GRAN = 100

    for chunk in chunks(nodes, max_group):
        strings = [""]
        sidx: dict[str, int] = {"": 0}

        def s(v: str) -> int:
            if v not in sidx:
                sidx[v] = len(strings)
                strings.append(v)
            return sidx[v]

        ids, lats, lons, kv = [], [], [], []
        pid = plat = plon = 0
        for nid, lon, lat, tags in chunk:
            rlat = round(lat * 1e9 / GRAN)
            rlon = round(lon * 1e9 / GRAN)
            ids.append(_zigzag(nid - pid))
            lats.append(_zigzag(rlat - plat))
            lons.append(_zigzag(rlon - plon))
            pid, plat, plon = nid, rlat, rlon
            for k, v in tags.items():
                kv.extend((s(k), s(v)))
            kv.append(0)
        dense = _packed(1, ids) + _packed(8, lats) + _packed(9, lons) + _packed(10, kv)
        group = _ld(2, dense)
        emit_blob("OSMData", block(_ld(2, group), strings))

    for chunk in chunks(ways, max_group):
        strings = [""]
        sidx = {"": 0}

        def s(v: str) -> int:  # noqa: F811 - per-block table
            if v not in sidx:
                sidx[v] = len(strings)
                strings.append(v)
            return sidx[v]

        body = b""
        for wid, tags, refs in chunk:
            keys = _packed(2, [s(k) for k in tags]) if tags else b""
            vals = _packed(3, [s(v) for v in tags.values()]) if tags else b""
            deltas = []
            prev = 0
            for r in refs:
                deltas.append(_zigzag(r - prev))
                prev = r
            w = _tag(1, 0) + _encode_varint(wid) + keys + vals + _packed(8, deltas)
            body += _ld(3, w)
        emit_blob("OSMData", block(_ld(2, body), strings))

    for chunk in chunks(relations, max_group):
        strings = [""]
        sidx = {"": 0}

        def s(v: str) -> int:  # noqa: F811
            if v not in sidx:
                sidx[v] = len(strings)
                strings.append(v)
            return sidx[v]

        tcode = {"node": 0, "way": 1, "relation": 2}
        body = b""
        for rid, tags, members in chunk:
            keys = _packed(2, [s(k) for k in tags]) if tags else b""
            vals = _packed(3, [s(v) for v in tags.values()]) if tags else b""
            roles = _packed(8, [s(role) for _, _, role in members])
            deltas = []
            prev = 0
            for _, mid, _ in members:
                deltas.append(_zigzag(mid - prev))
                prev = mid
            memids = _packed(9, deltas)
            types = _packed(10, [tcode[t] for t, _, _ in members])
            r = _tag(1, 0) + _encode_varint(rid) + keys + vals + roles + memids + types
            body += _ld(4, r)
        emit_blob("OSMData", block(_ld(2, body), strings))

    return bytes(out)
