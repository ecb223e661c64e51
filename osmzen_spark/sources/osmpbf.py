"""OSM PBF source: the format planet-scale OSM actually ships in
(planet.osm.pbf ~80 GB ≈ the 100 TB-class input of this engine), read
with a hand-written protobuf decoder the same way `sinks/mvt.py`
hand-writes its encoder — the container has no protobuf lib, and the
wire format (PBF fileformat.proto / osmformat.proto, public spec at
wiki.openstreetmap.org/wiki/PBF_Format) is small enough to implement
exactly.

Why PBF is the RIGHT 100 TB shape (unlike monolithic XML): the file is
a sequence of independently-decodable Blobs (each ≤ 32 MiB
uncompressed, zlib per blob), so one driver-side O(#blobs) header
scan yields a (offset, size) split index and every blob decodes in
parallel with zero coordination — the same split model as Parquet row
groups. The scan reads ~16 bytes per blob (seek + BlobHeader), i.e.
~5 MB of reads to index an 80 GB planet.

Decode is Arrow-batch friendly: packed varint fields (dense-node ids,
lats, lons, way refs, keys_vals) decode via a VECTORIZED numpy varint
kernel (continuation-bit masks + reduceat, no per-byte Python loop),
and delta coding undoes with cumsum. Output is the same raw-table
bundle as the XML source (`OsmTables`), so everything downstream —
assembly, membership, the 556-rule chain — is shared.

The tests synthesize valid PBF without external data through their
own driver-side writer (tests/tests_util_pbf.py); the engine has no
PBF sink (its sinks are parquet/Iceberg-manifest/MVT/GeoJSON).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from osmzen_spark.sources.osmxml import PARSED_SCHEMA, OsmTables, elements_batch, raw_tables

# ------------------------------------------------------------------
# vectorized varint / zigzag kernels
# ------------------------------------------------------------------


def decode_varints(buf: bytes) -> np.ndarray:
    """Packed varint bytes -> uint64 array, fully vectorized.

    Each byte contributes (b & 0x7f) << (7 * position-in-group); group
    boundaries are bytes with the continuation bit clear. Shifts ≥ 64
    would be UB — OSM packed fields are ≤ 10-byte varints whose last
    groups' high bits wrap to two's complement exactly as intended for
    sint64 zigzag, so we mask shifts into [0, 63] and let uint64
    wraparound do the rest (byte 10 of a maximal varint only carries
    sign-extension bits)."""
    if not buf:
        return np.zeros(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    is_end = (b & 0x80) == 0
    n = int(is_end.sum())
    # group index of each byte = number of ends strictly before it
    gidx = np.zeros(len(b), dtype=np.int64)
    gidx[1:] = np.cumsum(is_end[:-1])
    starts = np.zeros(n, dtype=np.int64)
    ends_pos = np.flatnonzero(is_end)
    starts[1:] = ends_pos[:-1] + 1
    pos = np.arange(len(b), dtype=np.int64) - starts[gidx]
    shifts = np.minimum(pos * 7, 63).astype(np.uint64)
    vals = (b & 0x7F).astype(np.uint64) << shifts
    # disjoint bit ranges -> OR-combine per group; reduceat is the
    # C-speed segmented reduction (ufunc.at would be ~50x slower)
    return np.bitwise_or.reduceat(vals, starts)


def unzigzag(u: np.ndarray) -> np.ndarray:
    return ((u >> np.uint64(1)).astype(np.int64)) ^ -(u & np.uint64(1)).astype(np.int64)


# ------------------------------------------------------------------
# minimal protobuf message walker (envelope messages are tiny)
# ------------------------------------------------------------------


def _iter_fields(buf: memoryview):
    """Yield (field_number, wire_type, value) — value is int for
    varint (wt 0), memoryview for length-delimited (wt 2), int for
    fixed32/64."""
    i, n = 0, len(buf)
    while i < n:
        v = 0
        shift = 0
        while True:
            byte = buf[i]
            i += 1
            v |= (byte & 0x7F) << shift
            if byte < 0x80:
                break
            shift += 7
        field, wt = v >> 3, v & 7
        if wt == 0:
            v = 0
            shift = 0
            while True:
                byte = buf[i]
                i += 1
                v |= (byte & 0x7F) << shift
                if byte < 0x80:
                    break
                shift += 7
            yield field, 0, v
        elif wt == 2:
            ln = 0
            shift = 0
            while True:
                byte = buf[i]
                i += 1
                ln |= (byte & 0x7F) << shift
                if byte < 0x80:
                    break
                shift += 7
            yield field, 2, buf[i : i + ln]
            i += ln
        elif wt == 5:
            yield field, 5, int.from_bytes(buf[i : i + 4], "little")
            i += 4
        elif wt == 1:
            yield field, 1, int.from_bytes(buf[i : i + 8], "little")
            i += 8
        else:  # pragma: no cover - groups don't occur in PBF
            raise ValueError(f"unsupported wire type {wt}")


# ------------------------------------------------------------------
# blob index + decode
# ------------------------------------------------------------------


def scan_blob_index(path: str) -> list[tuple[int, int, str]]:
    """O(#blobs) header scan -> [(offset, size, type)] split index.
    offset/size cover the Blob message itself (after its header)."""
    out = []
    with open(path, "rb") as f:
        while True:
            hdr_len_raw = f.read(4)
            if len(hdr_len_raw) < 4:
                break
            hdr_len = struct.unpack(">I", hdr_len_raw)[0]
            hdr = memoryview(f.read(hdr_len))
            btype, datasize = "", 0
            for field, wt, val in _iter_fields(hdr):
                if field == 1 and wt == 2:
                    btype = bytes(val).decode()
                elif field == 3 and wt == 0:
                    datasize = val
            out.append((f.tell(), datasize, btype))
            f.seek(datasize, 1)
    return out


def _blob_payload(raw: memoryview) -> bytes:
    """Blob message -> uncompressed PrimitiveBlock/HeaderBlock bytes."""
    raw_bytes = None
    zlib_bytes = None
    for field, wt, val in _iter_fields(raw):
        if field == 1 and wt == 2:
            raw_bytes = bytes(val)
        elif field == 3 and wt == 2:
            zlib_bytes = bytes(val)
    if raw_bytes is not None:
        return raw_bytes
    if zlib_bytes is not None:
        return zlib.decompress(zlib_bytes)
    raise ValueError("Blob carries no raw/zlib payload (lzma/zstd unsupported)")


def decode_primitive_block(block: bytes):
    """PrimitiveBlock bytes -> list of element tuples in the XML
    source's row shape (type, id, lon, lat, tags, nds, members)."""
    strings: list[str] = []
    groups: list[memoryview] = []
    granularity, lat_off, lon_off = 100, 0, 0
    for field, wt, val in _iter_fields(memoryview(block)):
        if field == 1 and wt == 2:  # stringtable
            for f2, w2, s in _iter_fields(val):
                if f2 == 1 and w2 == 2:
                    strings.append(bytes(s).decode("utf-8"))
        elif field == 2 and wt == 2:
            groups.append(val)
        elif field == 17:
            granularity = val
        elif field == 19:
            lat_off = val
        elif field == 20:
            lon_off = val

    def coord(raw: np.ndarray, off: int) -> np.ndarray:
        return 1e-9 * (off + granularity * raw.astype(np.float64))

    rows = []
    for g in groups:
        dense = None
        for field, wt, val in _iter_fields(g):
            if field == 1 and wt == 2:  # plain Node
                nid = lat = lon = 0
                keys = vals = b""
                for f2, w2, v2 in _iter_fields(val):
                    if f2 == 1:
                        nid = _unzig1(v2)
                    elif f2 == 2 and w2 == 2:
                        keys = bytes(v2)
                    elif f2 == 3 and w2 == 2:
                        vals = bytes(v2)
                    elif f2 == 8:
                        lat = _unzig1(v2)
                    elif f2 == 9:
                        lon = _unzig1(v2)
                tags = _tags_from_packed(keys, vals, strings)
                rows.append(
                    ("node", nid, float(coord(np.array([lon]), lon_off)[0]),
                     float(coord(np.array([lat]), lat_off)[0]), tags, None, None)
                )
            elif field == 2 and wt == 2:
                dense = val
            elif field == 3 and wt == 2:  # Way
                wid = 0
                keys = vals = refs = b""
                for f2, w2, v2 in _iter_fields(val):
                    if f2 == 1:
                        wid = v2
                    elif f2 == 2 and w2 == 2:
                        keys = bytes(v2)
                    elif f2 == 3 and w2 == 2:
                        vals = bytes(v2)
                    elif f2 == 8 and w2 == 2:
                        refs = bytes(v2)
                tags = _tags_from_packed(keys, vals, strings)
                nds = np.cumsum(unzigzag(decode_varints(refs))).tolist()
                rows.append(("way", wid, None, None, tags, nds, None))
            elif field == 4 and wt == 2:  # Relation
                rid = 0
                keys = vals = roles = memids = types = b""
                for f2, w2, v2 in _iter_fields(val):
                    if f2 == 1:
                        rid = v2
                    elif f2 == 2 and w2 == 2:
                        keys = bytes(v2)
                    elif f2 == 3 and w2 == 2:
                        vals = bytes(v2)
                    elif f2 == 8 and w2 == 2:
                        roles = bytes(v2)
                    elif f2 == 9 and w2 == 2:
                        memids = bytes(v2)
                    elif f2 == 10 and w2 == 2:
                        types = bytes(v2)
                tags = _tags_from_packed(keys, vals, strings)
                mids = np.cumsum(unzigzag(decode_varints(memids)))
                mtypes = decode_varints(types)
                mroles = decode_varints(roles)
                tname = ("node", "way", "relation")
                members = [
                    (tname[int(t)], int(m), strings[int(r)])
                    for t, m, r in zip(mtypes, mids, mroles)
                ]
                rows.append(("relation", rid, None, None, tags, None, members))
        if dense is not None:
            ids = lats = lons = np.zeros(0, dtype=np.int64)
            kv = np.zeros(0, dtype=np.int64)
            for f2, w2, v2 in _iter_fields(dense):
                if f2 == 1 and w2 == 2:
                    ids = np.cumsum(unzigzag(decode_varints(bytes(v2))))
                elif f2 == 8 and w2 == 2:
                    lats = np.cumsum(unzigzag(decode_varints(bytes(v2))))
                elif f2 == 9 and w2 == 2:
                    lons = np.cumsum(unzigzag(decode_varints(bytes(v2))))
                elif f2 == 10 and w2 == 2:
                    kv = decode_varints(bytes(v2)).astype(np.int64)
            lons_f = coord(lons, lon_off)
            lats_f = coord(lats, lat_off)
            # keys_vals: k,v index pairs per node, 0-delimited
            tags_per = _dense_tags(kv, len(ids), strings)
            for i in range(len(ids)):
                rows.append(
                    ("node", int(ids[i]), float(lons_f[i]), float(lats_f[i]),
                     tags_per[i], None, None)
                )
    return rows


def _unzig1(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _tags_from_packed(keys: bytes, vals: bytes, strings: list[str]) -> dict:
    ks = decode_varints(keys)
    vs = decode_varints(vals)
    return {strings[int(k)]: strings[int(v)] for k, v in zip(ks, vs)}


def _dense_tags(kv: np.ndarray, n_nodes: int, strings: list[str]) -> list[dict]:
    out: list[dict] = []
    if len(kv) == 0:
        return [{} for _ in range(n_nodes)]
    i = 0
    for _ in range(n_nodes):
        tags: dict = {}
        while i < len(kv) and kv[i] != 0:
            tags[strings[int(kv[i])]] = strings[int(kv[i + 1])]
            i += 2
        i += 1  # the 0 delimiter
        out.append(tags)
    return out


# ------------------------------------------------------------------
# Spark reader
# ------------------------------------------------------------------

def parse_osm_pbf(spark: SparkSession, path: str) -> DataFrame:
    """.osm.pbf file -> parsed element rows, blob-parallel.

    The driver scans the blob index (O(#blobs) tiny reads), then the
    (offset, size) splits decode concurrently across the cluster —
    each task seeks into the file and decodes only its blobs. On a
    real cluster the same pattern runs against any FileSystem that
    supports range reads (HDFS/S3 posix mounts); the split model is
    identical to Parquet row groups."""
    index = [
        (off, size)
        for off, size, btype in scan_blob_index(path)
        if btype == "OSMData"
    ]
    splits = spark.createDataFrame(index, "off long, size long").repartition(
        max(1, min(len(index), spark.sparkContext.defaultParallelism))
    )

    def gen(batches):
        with open(path, "rb") as f:
            for batch in batches:
                rows = []
                for off, size in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
                    f.seek(off)
                    block = _blob_payload(memoryview(f.read(size)))
                    rows.extend(decode_primitive_block(block))
                yield elements_batch(rows)

    return splits.mapInArrow(gen, PARSED_SCHEMA)


def read_osm_pbf(spark: SparkSession, path: str) -> OsmTables:
    """Parse a .osm.pbf into the five raw tables (same bundle as the
    XML source; everything downstream is shared). The single parse is
    materialized before the five tables fan out from it, as in
    `read_osm_xml`, so no consumer re-decodes the blobs."""
    return raw_tables(parse_osm_pbf(spark, path).localCheckpoint(eager=True))


def full_tile(
    spark: SparkSession,
    path: str,
    zoom: int = 16,
    bound: tuple[float, float, float, float] | None = None,
    engine=None,
    **process_kw,
) -> dict:
    """planet.osm.pbf -> every layer's features at `zoom`: the PBF twin
    of sources.osmxml.full_tile (the reference's `Config.Process` end
    to end, ref:process.go:22, fed by the planet-scale input format).
    Blob-parallel decode, then the shared assembly/membership/rule
    pipeline (process_tables)."""
    from osmzen_spark.sources.osmxml import process_tables

    return process_tables(
        read_osm_pbf(spark, path), zoom=zoom, bound=bound, engine=engine, **process_kw
    )
