"""Test twins of the MVT sink (sinks/mvt.py), run on the driver.

* a scalar encoder: one feature dict at a time, the byte-parity
  reference for the sink's vectorized per-tile encoder;
* a decoder: parses exactly what the encoders write (plus any
  spec-conformant field order), so round-trip tests check every byte.
"""

from __future__ import annotations

import struct
from typing import Iterable

from osmzen_spark.sinks.mvt import (
    _LEN,
    _VARINT,
    _len_field,
    _mvt_value,
    _tag,
    _varint,
    _zigzag,
)


# ------------------------------------------------------------- encoder

GEOM_TYPES = {"Point": 1, "LineString": 2, "Polygon": 3}


def _commands_point(coords: list[tuple[int, int]]) -> list[int]:
    out = [1 | (len(coords) << 3)]  # MoveTo x n
    px = py = 0
    for x, y in coords:
        out.append(_zigzag(x - px))
        out.append(_zigzag(y - py))
        px, py = x, y
    return out


def _commands_path(rings: list[list[tuple[int, int]]], close: bool) -> list[int]:
    out: list[int] = []
    px = py = 0
    for ring in rings:
        pts = ring[:-1] if close and len(ring) > 1 and ring[0] == ring[-1] else ring
        if len(pts) < 2:
            continue
        x, y = pts[0]
        out += [1 | (1 << 3), _zigzag(x - px), _zigzag(y - py)]  # MoveTo 1
        px, py = x, y
        out.append(2 | ((len(pts) - 1) << 3))  # LineTo n-1
        for x, y in pts[1:]:
            out += [_zigzag(x - px), _zigzag(y - py)]
            px, py = x, y
        if close:
            out.append(7 | (1 << 3))  # ClosePath
    return out


def encode_layer(
    name: str,
    features: Iterable[dict],
    extent: int = 4096,
    version: int = 2,
) -> bytes:
    """One vector_tile.Tile.Layer message.

    Each feature dict: {"id": int|None, "geom_type": str,
    "rings": [[(gx, gy), ...], ...] in INTEGER extent coordinates,
    "properties": {str: str|int|float|bool}}. Keys and values are
    interned per layer in first-seen order (spec requirement)."""
    keys: dict[str, int] = {}
    vals: dict[tuple, int] = {}
    feats = []
    for f in features:
        tags: list[int] = []
        for k, v in f.get("properties", {}).items():
            if v is None:
                continue
            ki = keys.setdefault(k, len(keys))
            vk = (type(v).__name__, v)
            vi = vals.setdefault(vk, len(vals))
            tags += [ki, vi]
        gt = GEOM_TYPES[f["geom_type"]]
        if gt == 1:
            cmds = _commands_point([pt for ring in f["rings"] for pt in ring])
        else:
            cmds = _commands_path(f["rings"], close=(gt == 3))
        body = b""
        if f.get("id") is not None:
            body += _tag(1, _VARINT) + _varint(int(f["id"]))
        body += _len_field(2, b"".join(_varint(t) for t in tags))
        body += _tag(3, _VARINT) + _varint(gt)
        body += _len_field(4, b"".join(_varint(c) for c in cmds))
        feats.append(_len_field(2, body))

    out = bytearray()
    out += _tag(15, _VARINT) + _varint(version)
    out += _len_field(1, name.encode("utf-8"))
    for fe in feats:
        out += fe
    for k in keys:
        out += _len_field(3, k.encode("utf-8"))
    for (_t, v) in vals:
        out += _len_field(4, _mvt_value(v))
    out += _tag(5, _VARINT) + _varint(extent)
    return bytes(out)


def encode_tile(layers: dict[str, list[dict]], extent: int = 4096) -> bytes:
    """vector_tile.Tile: one Layer message per entry."""
    return b"".join(_len_field(3, encode_layer(n, fs, extent)) for n, fs in layers.items())


# ------------------------------------------------------------- decoder

def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    v = 0
    shift = 0
    while True:
        b = data[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7


def _fields(data: bytes):
    pos = 0
    while pos < len(data):
        key, pos = _read_varint(data, pos)
        field, wire = key >> 3, key & 7
        if wire == _VARINT:
            v, pos = _read_varint(data, pos)
        elif wire == 1:
            v, pos = data[pos : pos + 8], pos + 8
        elif wire == _LEN:
            ln, pos = _read_varint(data, pos)
            v, pos = data[pos : pos + ln], pos + ln
        elif wire == 5:
            v, pos = data[pos : pos + 4], pos + 4
        else:
            raise ValueError(f"wire type {wire}")
        yield field, wire, v


def _decode_value(data: bytes):
    for field, _w, v in _fields(data):
        if field == 1:
            return v.decode("utf-8")
        if field == 3:
            return struct.unpack("<d", v)[0]
        if field == 6:
            return _unzigzag(v)
        if field == 7:
            return bool(v)
    raise ValueError("empty Value")


def _decode_geometry(gtype: int, cmds: list[int]) -> list[list[tuple[int, int]]]:
    rings: list[list[tuple[int, int]]] = []
    cur: list[tuple[int, int]] = []
    x = y = 0
    i = 0
    while i < len(cmds):
        cid, count = cmds[i] & 7, cmds[i] >> 3
        i += 1
        if cid == 1:  # MoveTo
            for _ in range(count):
                x += _unzigzag(cmds[i]); y += _unzigzag(cmds[i + 1]); i += 2
                if gtype == 1:
                    rings.append([(x, y)])
                else:
                    if cur:
                        rings.append(cur)
                    cur = [(x, y)]
        elif cid == 2:  # LineTo
            for _ in range(count):
                x += _unzigzag(cmds[i]); y += _unzigzag(cmds[i + 1]); i += 2
                cur.append((x, y))
        elif cid == 7:  # ClosePath
            cur.append(cur[0])
        else:
            raise ValueError(f"geometry command {cid}")
    if cur:
        rings.append(cur)
    return rings


def decode_tile(data: bytes) -> dict[str, dict]:
    """MVT bytes -> {layer: {"extent", "version", "features": [...]}}
    with features carrying id/geom_type/rings/properties."""
    out: dict[str, dict] = {}
    for field, _w, layer_bytes in _fields(data):
        if field != 3:
            continue
        name = ""
        version = extent = 0
        keys: list[str] = []
        values: list = []
        raw_feats: list[bytes] = []
        for f2, _w2, v2 in _fields(layer_bytes):
            if f2 == 1:
                name = v2.decode("utf-8")
            elif f2 == 2:
                raw_feats.append(v2)
            elif f2 == 3:
                keys.append(v2.decode("utf-8"))
            elif f2 == 4:
                values.append(_decode_value(v2))
            elif f2 == 5:
                extent = v2
            elif f2 == 15:
                version = v2
        feats = []
        for fb in raw_feats:
            fid = None
            gtype = 0
            tags: list[int] = []
            cmds: list[int] = []
            for f3, _w3, v3 in _fields(fb):
                if f3 == 1:
                    fid = v3
                elif f3 == 2:
                    pos = 0
                    while pos < len(v3):
                        t, pos = _read_varint(v3, pos)
                        tags.append(t)
                elif f3 == 3:
                    gtype = v3
                elif f3 == 4:
                    pos = 0
                    while pos < len(v3):
                        c, pos = _read_varint(v3, pos)
                        cmds.append(c)
            props = {keys[tags[i]]: values[tags[i + 1]] for i in range(0, len(tags), 2)}
            gname = {1: "Point", 2: "LineString", 3: "Polygon"}[gtype]
            feats.append(
                {
                    "id": fid,
                    "geom_type": gname,
                    "rings": _decode_geometry(gtype, cmds),
                    "properties": props,
                }
            )
        out[name] = {"extent": extent, "version": version, "features": feats}
    return out
