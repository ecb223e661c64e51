"""Output checks that share no code with the engine.

Each check returns a list of failure strings (empty = pass). The MVT
decoder here is a from-scratch protobuf walker, the tile math is
numpy, and payload hashes come from the generated input files read
with pyarrow.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

MAX_LAT = 85.05112877980659
# a centroid this close (in tile units) to a tile edge may round either
# way between JVM and numpy math; it is not counted as a mismatch
EDGE_EPS = 1e-9


def tile_mismatches(clon, clat, tile_x, tile_y, z: int) -> list[str]:
    """Recompute z/x/y of every centroid and compare with the engine's."""
    n = float(1 << z)
    lon = np.asarray(clon, dtype=np.float64)
    lat_r = np.radians(np.clip(np.asarray(clat, dtype=np.float64), -MAX_LAT, MAX_LAT))
    fx = (lon + 180.0) / 360.0 * n
    fy = (1.0 - np.log(np.tan(lat_r) + 1.0 / np.cos(lat_r)) / math.pi) / 2.0 * n
    bad = []
    for f, got, axis in ((fx, tile_x, "x"), (fy, tile_y, "y")):
        want = np.clip(np.floor(f), 0, n - 1).astype(np.int64)
        got = np.asarray(got, dtype=np.int64)
        edge = np.abs(f - np.round(f)) < EDGE_EPS
        wrong = (want != got) & ~edge
        if wrong.any():
            i = int(np.flatnonzero(wrong)[0])
            bad.append(f"tile_{axis} wrong on {int(wrong.sum())} rows (first: got {got[i]}, want {want[i]})")
    return bad


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if b < 0x80:
            return v, pos
        shift += 7


def _fields(buf: bytes):
    """(field, wire, value) of one protobuf message; value is an int
    for varints and a bytes slice for length-delimited fields."""
    pos = 0
    while pos < len(buf):
        key, pos = _varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _varint(buf, pos)
        elif wire == 2:
            ln, pos = _varint(buf, pos)
            v, pos = buf[pos : pos + ln], pos + ln
        elif wire == 1:
            v, pos = buf[pos : pos + 8], pos + 8
        elif wire == 5:
            v, pos = buf[pos : pos + 4], pos + 4
        else:
            raise ValueError(f"wire type {wire}")
        yield field, wire, v


def mvt_feature_count(blob: bytes) -> int:
    """Features in an MVT tile: Tile.layers (3) -> Layer.features (2)."""
    return sum(
        1
        for f, _, layer in _fields(blob) if f == 3
        for f2, _, _ in _fields(layer) if f2 == 2
    )


def mvt_mismatches(blobs: dict, rows_per_tile: dict) -> list[str]:
    """blobs: {(x, y): mvt bytes}; rows_per_tile: {(x, y): rows the
    pipeline produced for that tile}. Every tile with rows has a blob
    whose decoded feature count equals the row count."""
    bad = []
    for key in sorted(set(blobs) | set(rows_per_tile)):
        got = mvt_feature_count(blobs[key]) if key in blobs else 0
        want = rows_per_tile.get(key, 0)
        if got != want:
            bad.append(f"tile {key}: mvt has {got} features, pipeline has {want} rows")
    return bad


def rows_per_tile(tile_x, tile_y) -> dict:
    keys, counts = np.unique(
        np.stack([np.asarray(tile_x, np.int64), np.asarray(tile_y, np.int64)], axis=1),
        axis=0, return_counts=True,
    )
    return {(int(x), int(y)): int(c) for (x, y), c in zip(keys, counts)}


def payload_digest(caption, payload) -> str:
    h = hashlib.blake2b(digest_size=16)
    h.update(b"" if caption is None else caption.encode("utf-8"))
    h.update(b"\x00")
    h.update(b"" if payload is None else bytes(payload))
    return h.hexdigest()


def payload_mismatches(out_ids, out_captions, out_bytes, expected: dict) -> list[str]:
    """Every output row of an image element carries that element's
    caption and bytes unchanged. expected: {element_id: payload_digest}."""
    bad = 0
    first = None
    for eid, cap, b in zip(out_ids, out_captions, out_bytes):
        want = expected.get(eid)
        if want is None:
            continue
        if payload_digest(cap, b) != want:
            bad += 1
            first = first if first is not None else eid
    return [f"caption/bytes changed on {bad} rows (first element {first})"] if bad else []


def digest(rows) -> str:
    """Order-independent sha256 of an iterable of tuples."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)).encode() for r in rows):
        h.update(r)
        h.update(b"\n")
    return h.hexdigest()
