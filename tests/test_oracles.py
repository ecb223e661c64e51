"""DuckDB oracles for the engine core.

Each entry of ``QUERIES`` runs one slice of the engine on Spark: tile
assignment, membership joins, the buildings rule chain (from elements
and from raw node/way tables), the MVT sink, the three sources and a
payload ride-through.
Its twin in ``ORACLES`` re-derives the same rows in DuckDB SQL straight
from the sf* parquet tables (TESTDATA.md), without the engine.

Both engines must return the same column names, the same non-zero row
count and the same order-insensitive value hash. The hash is strict:
values are compared by their Python repr with no cross-type coercion, and
a DECIMAL or date/time value fails the test, so every query emits
double / bigint / string / bool on both sides.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import os
import tempfile

import duckdb
import pytest
from pyspark.sql import functions as F

from synthetic import (
    SF_SMALL,
    SF_TILING,
    synthetic_elements,
    synthetic_network,
    synthetic_raw_buildings,
)

TABLES = ("customer", "orders", "lineitem")

# tile assignment runs on the larger table
TILING_QUERIES = ("tile_assign",)


# ---------------------------------------------------------------- inputs

def _customer_points(spark, sf_dir):
    """Deterministic lon/lat per customer (same arithmetic as
    CUSTOMER_POINTS_SQL): lon in [-180,180), lat in [-75,75)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    lon = (F.pmod(F.col("c_custkey") * 2654435761, F.lit(360000000)) / 1000000.0 - 180.0).alias("lon")
    lat = (F.pmod(F.col("c_custkey") * 2246822519, F.lit(150000000)) / 1000000.0 - 75.0).alias("lat")
    return c.select(F.col("c_custkey").alias("id"), lon, lat)


CUSTOMER_POINTS_SQL = """
SELECT c_custkey AS id,
       (c_custkey * 2654435761) % 360000000 / 1000000.0 - 180.0 AS lon,
       (c_custkey * 2246822519) % 150000000 / 1000000.0 - 75.0  AS lat
FROM customer
"""

# byte i of an 8x8 RGB payload is pixel (x, y, c) with i = (y*8 + x)*3 + c;
# its value is (seed + 7x + 13y + 29c) mod 256, seed = key*2654435761 mod 2^31
PAYLOAD_W = PAYLOAD_H = 8


def payload_bytes(key: int) -> bytes:
    """The raw payload of one key, byte by byte (the test-side re-derivation)."""
    seed = (key * 2654435761) % 2**31
    return bytes(
        (seed + 7 * x + 13 * y + 29 * c) % 256
        for y in range(PAYLOAD_H)
        for x in range(PAYLOAD_W)
        for c in range(3)
    )


def _payloads(spark, sf_dir):
    """Image+caption payload table, one row per distinct lineitem key, with
    raw RGB bytes built as an Arrow binary array (the shape perfbench/gen.py
    writes). No image codec is involved; the bytes are a closed form of the
    key, so the SQL twin re-derives every byte."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # (l_orderkey, l_linenumber) is not unique in the sf* lineitem, so the
    # keys are deduplicated to keep image_id a key
    keys = li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long").alias("k")
    ).distinct()
    w, h = PAYLOAD_W, PAYLOAD_H

    def build(batches):
        import numpy as np
        import pyarrow as pa

        i = np.arange(w * h * 3)
        pattern = 7 * ((i // 3) % w) + 13 * (i // (3 * w)) + 29 * (i % 3)
        for batch in batches:
            n = batch.num_rows
            ks = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            seeds = (ks * 2654435761) % 2**31
            data = ((seeds[:, None] + pattern[None, :]) % 256).astype(np.uint8)
            offsets = (np.arange(n + 1) * (w * h * 3)).astype(np.int32)
            payload = pa.BinaryArray.from_buffers(
                pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data.tobytes())]
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([f"img-{k}" for k in ks]),
                    payload,
                    pa.array([f"caption for element {k}" for k in ks]),
                    pa.array(ks),
                ],
                names=["image_id", "bytes", "caption", "element_id"],
            )

    return keys.mapInArrow(
        build, "image_id string, bytes binary, caption string, element_id long"
    )


def _buildings(elements):
    """The normalized buildings layer (z20, z10 tiles) of an elements table.
    cache=True stage-cuts the shared eval subtree, so the buildings branch
    and the pois-id build of set_conditional_names read one evaluation."""
    from osmzen_spark.pipeline.normalize import NormalizeEngine

    layers = NormalizeEngine().process(
        elements, zoom=20, tile_zoom=10, layer_names=["buildings", "pois"], cache=True
    )
    return layers["buildings"]


def _building_rows(b):
    return b.select(
        "id",
        "kind",
        "min_zoom",
        F.col("height").cast("double").alias("height"),
        F.col("area").cast("double").alias("area"),
        "tile_x",
        "tile_y",
    ).orderBy("id")


# ---------------------------------------------------------------- queries

def q_tile_assign(spark, sf_dir):
    """z/x/y tile assignment (slippy Web-Mercator math, pure Columns) of
    synthetic customer points, aggregated per tile at z6."""
    from osmzen_spark.tiling.cells import tile_x_col, tile_y_col

    pts = _customer_points(spark, sf_dir)
    z = 6
    return (
        pts.select(
            tile_x_col(F.col("lon"), z).alias("tile_x"),
            tile_y_col(F.col("lat"), z).alias("tile_y"),
        )
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n_points"))
    )


def q_route_networks(spark, sf_dir):
    """Relation-membership joins (ref:filter/functions.go:161-383):
    bicycle-network resolution, bus-route flag, and path-major-route
    min_zoom over the synthetic network tables. The oracle re-derives
    the same values arithmetically from orders keys."""
    from osmzen_spark.pipeline.membership import with_membership_columns

    elements, rels, _ = synthetic_network(spark, sf_dir)
    ways = elements.filter(F.col("element_type") == "way")
    derived = with_membership_columns(ways, relation_members=rels)
    return derived.select(
        F.col("element_id").alias("way_id"),
        F.col("mz_cycling_network").alias("bicycle_network"),
        F.coalesce(F.col("is_bus_route"), F.lit(False)).alias("is_bus_route"),
        F.col("path_major_route_min_zoom").alias("path_zoom"),
    ).orderBy("way_id")


def q_gate_min_zoom(spark, sf_dir):
    """Node->way membership gate zoom (ref:filter/functions.go:120-159)
    through the pois layer rule."""
    from osmzen_spark.pipeline.membership import with_membership_columns

    elements, _, wn = synthetic_network(spark, sf_dir)
    nodes = elements.filter(F.col("element_type") == "node")
    derived = with_membership_columns(nodes, way_nodes=wn)
    return derived.select(
        F.col("element_id").alias("node_id"),
        F.col("gate_min_zoom").alias("gate_min_zoom"),
    ).orderBy("node_id")


def q_normalize_buildings(spark, sf_dir):
    """The rule-engine slice: synthetic building elements -> mercator
    area -> first-match tier -> min_zoom + kind + height + tile
    assignment. The SQL oracle re-derives the identical math (shoelace
    on a square, when-chain)."""
    return _building_rows(_buildings(synthetic_elements(spark, sf_dir)))


def q_assemble_buildings(spark, sf_dir):
    """The OSM->GeoJSON assembly stage end-to-end
    (ref:process.go:301-334): RAW (nodes, way_nodes, ways) tables ->
    way-node join + seq-sorted collect -> osm-polygon-features
    classification -> the same rule/postprocess/tile pipeline as
    normalize_buildings. The raw tables assemble into double-identical
    geometry, so the oracle is the same full SQL re-derivation."""
    from osmzen_spark.pipeline.assembly import assemble_elements

    nodes, way_nodes, ways = synthetic_raw_buildings(spark, sf_dir)
    # cut the assembly output: cache=False layer branches would
    # re-execute the node join + seq-sorted collect once per consumer
    elements = assemble_elements(nodes, way_nodes, ways).localCheckpoint(eager=True)
    return _building_rows(_buildings(elements))


def q_mvt_tiles(spark, sf_dir):
    """MVT sink (sinks/mvt.py): normalized buildings -> one Mapbox
    Vector Tile blob per z10 tile. The blob bytes are checked by a
    byte-level decoder round-trip (tests/test_mvt.py); the oracle
    re-derives the per-tile feature counts through the full rule chain,
    so a dropped or duplicated feature, a tile-assignment bug or a
    group-explosion bug breaks the hash."""
    from osmzen_spark.sinks.mvt import mvt_tiles

    b = _buildings(synthetic_elements(spark, sf_dir)).withColumn("zen_layer", F.lit("buildings"))
    return (
        mvt_tiles(b, zoom=10, property_cols=("kind",))
        .select("tile_x", "tile_y", "n_features")
        .orderBy("tile_x", "tile_y")
    )


def q_geojson_roundtrip(spark, sf_dir):
    """GeoJSON sink+source (sources/geojson.py, ref:process.go:22):
    customer points -> Feature lines (pure-Column JSON build,
    shortest-round-trip double repr) -> JVM-side re-parse. The oracle is
    the identity projection, so any serialization or parse defect (lost
    precision, wrong field, dropped row) breaks the hash."""
    from osmzen_spark.sources.geojson import feature_json, parse_geojson_features

    pts = _customer_points(spark, sf_dir)
    feats = pts.select(
        F.lit("node").alias("element_type"),
        F.col("id").alias("element_id"),
        F.create_map(F.lit("kind"), F.lit("customer")).alias("tags"),
        F.lit("Point").alias("geom_type"),
        F.struct(
            F.array(F.col("lon")).alias("xs"),
            F.array(F.col("lat")).alias("ys"),
            F.array(F.lit(1)).cast("array<int>").alias("ring_lens"),
            F.array(F.lit(0)).cast("array<int>").alias("ring_roles"),
        ).alias("geometry"),
    )
    parsed = parse_geojson_features(feature_json(feats))
    return parsed.select(
        F.col("element_id").alias("id"),
        F.element_at(F.col("tags"), F.lit("kind")).alias("kind"),
        F.element_at(F.col("geometry.xs"), 1).alias("lon"),
        F.element_at(F.col("geometry.ys"), 1).alias("lat"),
    ).orderBy("id")


def q_osmxml_roundtrip(spark, sf_dir):
    """OSM XML source (sources/osmxml.py, ref:benchmarks_test.go:209):
    customer points serialized to OSM XML documents (one per batch, the
    file-as-parallelism-unit contract) and re-parsed by the distributed
    iterparse reader. The oracle is the identity projection: a numeric,
    tag or id parse defect breaks the hash."""
    import pandas as pd

    from osmzen_spark.sources.osmxml import parse_osm_xml_blobs

    pts = _customer_points(spark, sf_dir)

    def to_xml(batches):
        for pdf in batches:
            parts = ['<osm version="0.6">']
            for i, lo, la in zip(
                pdf["id"].tolist(), pdf["lon"].tolist(), pdf["lat"].tolist()
            ):
                parts.append(
                    f'<node id="{int(i)}" lon="{lo!r}" lat="{la!r}">'
                    f'<tag k="kind" v="customer"/></node>'
                )
            parts.append("</osm>")
            yield pd.DataFrame({"content": ["".join(parts)]})

    blobs = pts.mapInPandas(to_xml, "content string")
    parsed = parse_osm_xml_blobs(blobs)
    return parsed.select(
        F.col("element_id").alias("id"),
        F.element_at(F.col("tags"), F.lit("kind")).alias("kind"),
        "lon",
        "lat",
    ).orderBy("id")


def q_osmpbf_roundtrip(spark, sf_dir):
    """OSM PBF source (sources/osmpbf.py): customer points encoded into
    a real .osm.pbf (dense nodes, delta coding, zlib blobs) and read back
    through the blob-parallel reader. The oracle re-applies PBF's
    100-nanodegree coordinate quantization and requires exact values
    otherwise, so a varint, delta, string table or framing defect breaks
    the hash."""
    from osmzen_spark.sources.osmpbf import parse_osm_pbf
    from tests_util_pbf import encode_pbf

    rows = _customer_points(spark, sf_dir).collect()
    nodes = [(r["id"], r["lon"], r["lat"], {"kind": "customer"}) for r in rows]
    path = os.path.join(
        tempfile.gettempdir(), f"osmzen_pbf_roundtrip_{len(nodes)}.osm.pbf"
    )
    with open(path, "wb") as f:
        f.write(encode_pbf(nodes, [], [], max_group=500))
    parsed = parse_osm_pbf(spark, path)
    return parsed.select(
        F.col("element_id").alias("id"),
        F.element_at(F.col("tags"), F.lit("kind")).alias("kind"),
        "lon",
        "lat",
    ).orderBy("id")


def q_payload_normalize_tile(spark, sf_dir):
    """An OSM-tagged image+caption table, normalized and tile-assigned,
    with the payload riding through intact: the payload table joins the
    normalized buildings on element_id, and the caption and an md5 of
    the payload bytes reach the output. The md5 is taken over the
    upper-case hex encoding of the bytes (DuckDB's md5 takes text only).
    The oracle composes the normalize_buildings re-derivation with a
    byte-by-byte re-derivation of every payload, so a rule bug, a tile
    bug, a join bug, a caption mutation or one flipped payload bit breaks
    the hash."""
    imgs = _payloads(spark, sf_dir).select(
        "image_id",
        "element_id",
        "caption",
        F.md5(F.hex("bytes")).alias("payload_md5"),
    )
    b = _buildings(synthetic_elements(spark, sf_dir))
    return (
        b.join(imgs, b["id"] == imgs["element_id"])
        .select(
            "image_id",
            "caption",
            "payload_md5",
            "kind",
            "min_zoom",
            "tile_x",
            "tile_y",
        )
        .orderBy("image_id", "kind")
    )


QUERIES = {
    "tile_assign": q_tile_assign,
    "route_networks": q_route_networks,
    "gate_min_zoom": q_gate_min_zoom,
    "normalize_buildings": q_normalize_buildings,
    "assemble_buildings": q_assemble_buildings,
    "mvt_tiles": q_mvt_tiles,
    "geojson_roundtrip": q_geojson_roundtrip,
    "osmxml_roundtrip": q_osmxml_roundtrip,
    "osmpbf_roundtrip": q_osmpbf_roundtrip,
    "payload_normalize_tile": q_payload_normalize_tile,
}


# ---------------------------------------------------------------- oracles

def _tile_sql(axis: str, n: int, lon: str = "lon", lat: str = "lat") -> str:
    """Slippy-map tile column at n = 2^z tiles per axis, clamped like
    tiling.cells."""
    if axis == "x":
        t = f"FLOOR(({lon} + 180.0) / 360.0 * {n})"
    else:
        c = f"GREATEST(-85.05112877980659, LEAST(85.05112877980659, {lat}))"
        t = f"FLOOR((1.0 - LN(TAN(RADIANS({c})) + 1.0 / COS(RADIANS({c}))) / PI()) / 2.0 * {n})"
    return f"CAST(GREATEST(0, LEAST({n} - 1, CAST({t} AS BIGINT))) AS BIGINT)"


# The rule-engine slice re-derived end-to-end in SQL: synthetic-element
# arithmetic -> Mercator shoelace area (identical op order to
# geom/kernels.py) -> buildings first-match rule chain -> scale_rank
# decision table + clamp_min_zoom -> area-weighted Mercator centroid ->
# z10 slippy tile. Named buildings (cls 0) emit a second label-placement
# point row, exactly like handle_label_placement (set_conditional_names
# strips names from buildings that also match pois, so cls 1/3 get no
# label). The assembly path reconstructs double-identical geometry from
# raw node/way tables, so this is its oracle too.
NORMALIZE_BUILDINGS_SQL = """
WITH e AS (
  SELECT CAST(l_orderkey * 8 + l_linenumber AS BIGINT) AS id,
         ((l_orderkey * 8 + l_linenumber) * 9973) % 360000000 / 1000000.0 - 180.0 AS lon,
         ((l_orderkey * 8 + l_linenumber) * 7919) % 150000000 / 1000000.0 - 75.0  AS lat,
         (l_orderkey * 8 + l_linenumber) % 18 AS cls,
         ((l_orderkey * 8 + l_linenumber) % 25 + 1) * 3 + 2 AS lvl_h,
         CAST((l_orderkey * 8 + l_linenumber) % 140 + 10 AS DOUBLE) AS side
  FROM lineitem
  WHERE (l_orderkey * 8 + l_linenumber) % 18 IN (0, 1, 3, 8, 9)
), poly0 AS (
  SELECT id, cls, lon, lat,
         CASE WHEN cls IN (0, 1) THEN lvl_h ELSE 0 END AS h,
         side / 222640.0 AS dlat,
         side / (222640.0 * COS(lat / 180.0 * PI())) AS dlon
  FROM e WHERE cls IN (0, 1, 3)
), merc AS (
  SELECT id, cls, h,
         6378137.0 * (lon - dlon) * (PI() / 180.0) AS x1,
         6378137.0 * (lon + dlon) * (PI() / 180.0) AS x2,
         6378137.0 * LN(TAN(PI() / 4.0 + (lat - dlat) * (PI() / 180.0) / 2.0)) AS y1,
         6378137.0 * LN(TAN(PI() / 4.0 + (lat + dlat) * (PI() / 180.0) / 2.0)) AS y2
  FROM poly0
), shoe AS (
  -- local-origin translation (first vertex), mirroring
  -- geom/kernels.py exactly: translated vertex lists
  -- Xt=[0,a2,a2,0,0], Yt=[0,0,b2,b2,0] make c0=c3=0 and
  -- c1=c2=a2*b2; op order matches numpy's reduceat chains
  SELECT id, cls, h, x1, y1, (x2 - x1) AS a2, (y2 - y1) AS b2,
         0.5 * ((0.0 + (x2 - x1) * (y2 - y1)) + (x2 - x1) * (y2 - y1) + 0.0) AS signed
  FROM merc
), measured AS (
  SELECT id, cls, h,
         FLOOR(ABS(signed) + 0.5) AS area,
         (CASE WHEN signed < 0 THEN -1.0 ELSE 1.0 END
          * ((0.0 + (a2 + a2) * (a2 * b2)) + a2 * (a2 * b2) + 0.0))
           / (6.0 * (CASE WHEN signed < 0 THEN -1.0 ELSE 1.0 END * signed)) + x1 AS pcx,
         (CASE WHEN signed < 0 THEN -1.0 ELSE 1.0 END
          * ((0.0 + b2 * (a2 * b2)) + (b2 + b2) * (a2 * b2) + 0.0))
           / (6.0 * (CASE WHEN signed < 0 THEN -1.0 ELSE 1.0 END * signed)) + y1 AS pcy
  FROM shoe
), scored AS (
  SELECT id, cls, h, area,
         pcx / 6378137.0 / (PI() / 180.0) AS clon,
         (2.0 * ATAN(EXP(pcy / 6378137.0)) - PI() / 2.0) / (PI() / 180.0) AS clat,
         area * h AS vol,
         CASE WHEN area >= 5000 OR area * h >= 150000 THEN 13.0
              WHEN area >= 500 OR area * h >= 50000 THEN 14.0
              WHEN area >= 20 THEN 15.0
              WHEN area >= 10 THEN 16.0
              ELSE 17.0 END AS rule_mz,
         CASE WHEN area >= 100000 OR h >= 250 OR area * h >= 300000 THEN 1
              WHEN area >= 20000 OR h >= 150 OR area * h >= 150000 THEN 2
              WHEN area >= 5000 OR h >= 100 OR area * h >= 100000 THEN 3
              WHEN area >= 1000 OR area * h >= 50000 THEN 4
              ELSE 5 END AS scale_rank
  FROM measured
), poly_rows AS (
  SELECT id, 'building' AS kind,
         GREATEST(rule_mz, CASE scale_rank WHEN 3 THEN 14.0 WHEN 4 THEN 14.0
                                          WHEN 5 THEN 15.0 ELSE 0.0 END) AS min_zoom,
         CAST(NULLIF(h, 0) AS DOUBLE) AS height, CAST(area AS DOUBLE) AS area, clon, clat,
         CASE WHEN cls = 0 THEN 2 ELSE 1 END AS copies
  FROM scored
), pt_rows AS (
  SELECT id, CASE WHEN cls = 8 THEN 'entrance' ELSE 'address' END AS kind,
         17.0 AS min_zoom, CAST(NULL AS DOUBLE) AS height,
         CAST(NULL AS DOUBLE) AS area, lon AS clon, lat AS clat, 1 AS copies
  FROM e WHERE cls IN (8, 9)
), unioned AS (
  SELECT * FROM poly_rows
  UNION ALL SELECT * FROM pt_rows
)
SELECT id, kind, min_zoom, height, area,
       CAST(GREATEST(0, LEAST(1023, CAST(FLOOR((clon + 180.0) / 360.0 * 1024) AS BIGINT))) AS BIGINT) AS tile_x,
       CAST(GREATEST(0, LEAST(1023, CAST(FLOOR((1.0 - LN(TAN(RADIANS(GREATEST(-85.05112877980659, LEAST(85.05112877980659, clat)))) + 1.0 / COS(RADIANS(GREATEST(-85.05112877980659, LEAST(85.05112877980659, clat))))) / PI()) / 2.0 * 1024) AS BIGINT))) AS BIGINT) AS tile_y
FROM unioned, UNNEST(GENERATE_SERIES(1, copies)) AS g(i)
ORDER BY id
"""

# the sources serialize and re-parse the identical points, so their
# oracle is the identity projection
POINTS_ROUNDTRIP_SQL = f"""
    SELECT id, 'customer' AS kind, lon, lat
    FROM ({CUSTOMER_POINTS_SQL}) ORDER BY id
"""

ORACLES = {
    "tile_assign": f"""
        WITH pts AS ({CUSTOMER_POINTS_SQL})
        SELECT {_tile_sql("x", 64)} AS tile_x,
               {_tile_sql("y", 64)} AS tile_y,
               COUNT(*) AS n_points
        FROM pts GROUP BY 1, 2
    """,
    "route_networks": """
        SELECT o_orderkey + 10000000000 AS way_id,
               CASE WHEN o_orderkey % 3 = 0
                    THEN ['icn','ncn','rcn','lcn'][CAST(o_orderkey % 4 AS INT) + 1]
               END AS bicycle_network,
               (o_orderkey % 5 = 0) AS is_bus_route,
               LEAST(
                 CASE WHEN o_orderkey % 3 = 0 THEN
                   CASE CAST(o_orderkey % 4 AS INT)
                     WHEN 0 THEN 8.0 WHEN 1 THEN 8.0 WHEN 2 THEN 10.0 ELSE 11.0 END
                 ELSE 20.0 END,
                 CASE WHEN o_orderkey % 7 = 0 THEN
                   CASE CAST(o_orderkey % 4 AS INT)
                     WHEN 0 THEN 9.0 WHEN 1 THEN 9.0 WHEN 2 THEN 11.0 ELSE 12.0 END
                 ELSE 20.0 END
               ) AS path_zoom
        FROM orders ORDER BY way_id
    """,
    "gate_min_zoom": """
        SELECT o_orderkey + 20000000000 AS node_id,
               CAST(CASE CAST(o_orderkey % 7 AS INT)
                 WHEN 4 THEN 14.0
                 WHEN 5 THEN 15.0
                 WHEN 0 THEN 17.0
                 ELSE 16.0
               END AS DOUBLE) AS gate_min_zoom
        FROM orders
        WHERE o_orderkey % 2 = 0
        ORDER BY node_id
    """,
    "normalize_buildings": NORMALIZE_BUILDINGS_SQL,
    "assemble_buildings": NORMALIZE_BUILDINGS_SQL,
    "mvt_tiles": f"""
        WITH nb AS ({NORMALIZE_BUILDINGS_SQL})
        SELECT tile_x, tile_y, CAST(COUNT(*) AS INT) AS n_features
        FROM nb
        GROUP BY tile_x, tile_y
        ORDER BY tile_x, tile_y
    """,
    "geojson_roundtrip": POINTS_ROUNDTRIP_SQL,
    "osmxml_roundtrip": POINTS_ROUNDTRIP_SQL,
    # PBF stores coordinates on the 100-nanodegree grid: replay the
    # encoder's rounding, then the decoder's exact 1e-9*(100*raw) math
    "osmpbf_roundtrip": f"""
        SELECT id, 'customer' AS kind,
               1e-9*(100*ROUND(lon*1e9/100)) AS lon,
               1e-9*(100*ROUND(lat*1e9/100)) AS lat
        FROM ({CUSTOMER_POINTS_SQL}) ORDER BY id
    """,
    # captions are re-synthesized from the key and every payload byte is
    # re-derived from it (see payload_bytes), so only a byte-exact
    # pass-through matches
    "payload_normalize_tile": f"""
        WITH nb AS ({NORMALIZE_BUILDINGS_SQL}), keys AS (
          SELECT DISTINCT CAST(l_orderkey * 8 + l_linenumber AS BIGINT) AS k FROM lineitem
        ), payload AS (
          SELECT k,
                 md5(string_agg(
                   printf('%02X', ((k * 2654435761) % 2147483648 + 7 * x + 13 * y + 29 * c) % 256),
                   '' ORDER BY y, x, c)) AS payload_md5
          FROM keys, range({PAYLOAD_H}) AS ty(y), range({PAYLOAD_W}) AS tx(x), range(3) AS tc(c)
          GROUP BY k
        )
        SELECT 'img-' || nb.id AS image_id,
               'caption for element ' || nb.id AS caption,
               payload.payload_md5,
               nb.kind, nb.min_zoom, nb.tile_x, nb.tile_y
        FROM nb JOIN payload ON payload.k = nb.id
        ORDER BY image_id, kind
    """,
}


# ---------------------------------------------------------------- checks

def norm_val(v) -> str:
    """Strict value representation: no cross-type coercion. DECIMAL and
    date/time values are rejected outright, since their repr differs
    between the engines by type, not by value."""
    assert not isinstance(v, (decimal.Decimal, datetime.date, datetime.time)), (
        f"{type(v).__name__} value {v!r}: emit double / bigint / string / bool"
    )
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return repr(v)
    return str(v)


def table_hash(cols, rows):
    """sha256 over the sorted rows (columns in name order), and the rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_val(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest(), lines


@pytest.fixture(scope="module")
def duck():
    """One DuckDB connection per sf dir, with a view per parquet table."""
    cons = {}

    def con(sf_dir):
        if sf_dir not in cons:
            c = duckdb.connect()
            for t in TABLES:
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            cons[sf_dir] = c
        return cons[sf_dir]

    yield con
    for c in cons.values():
        c.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_oracle(spark, duck, name):
    sf_dir = SF_TILING if name in TILING_QUERIES else SF_SMALL
    sdf = QUERIES[name](spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = duck(sf_dir).execute(ORACLES[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert srows, f"{name}: empty result"
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    sh, slines = table_hash(scols, srows)
    oh, olines = table_hash(ocols, orows)
    if sh != oh:
        only_s = sorted(set(slines) - set(olines))[:3]
        only_o = sorted(set(olines) - set(slines))[:3]
        pytest.fail(f"{name}: value hash differs; spark-only {only_s}, oracle-only {only_o}")


def test_payload_normalize_tile_invariants(spark):
    """The payload joins the normalized/tiled features with hash
    exchanges (no nested-loop or cartesian fallback), and captions and
    payload bytes ride through byte-identical."""
    df = q_payload_normalize_tile(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = df.limit(50).collect()
    assert rows
    for r in rows:
        k = int(r["image_id"][4:])
        assert r["caption"] == f"caption for element {k}"
        assert r["payload_md5"] == hashlib.md5(payload_bytes(k).hex().upper().encode()).hexdigest()
