"""MVT sink (sinks/mvt.py): byte-level protobuf round-trips of the
hand-written encoder via the test twins (tests_util_mvt.py),
command-integer semantics, and the Spark per-tile grouped applyInArrow
sink over the normalized buildings slice."""

import numpy as np

from synthetic import SF_SMALL, synthetic_elements
from tests_util_mvt import decode_tile, encode_tile


def test_roundtrip_point_and_properties():
    layers = {
        "pois": [
            {
                "id": 7,
                "geom_type": "Point",
                "rings": [[(100, 200)]],
                "properties": {"kind": "cafe", "min_zoom": 15.0, "open": True, "rank": -3},
            }
        ]
    }
    got = decode_tile(encode_tile(layers))
    assert got["pois"]["extent"] == 4096 and got["pois"]["version"] == 2
    f = got["pois"]["features"][0]
    assert f["id"] == 7
    assert f["rings"] == [[(100, 200)]]
    assert f["properties"] == {"kind": "cafe", "min_zoom": 15.0, "open": True, "rank": -3}


def test_roundtrip_polygon_closepath_and_linestring():
    square = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]
    layers = {
        "buildings": [
            {"id": 1, "geom_type": "Polygon", "rings": [square], "properties": {}},
        ],
        "roads": [
            {
                "id": 2,
                "geom_type": "LineString",
                "rings": [[(5, 5), (50, 5), (50, 80)]],
                "properties": {"kind": "residential"},
            },
        ],
    }
    got = decode_tile(encode_tile(layers))
    # ClosePath re-appends the first vertex on decode
    assert got["buildings"]["features"][0]["rings"] == [square]
    assert got["roads"]["features"][0]["rings"] == [[(5, 5), (50, 5), (50, 80)]]


def test_multi_geometries_and_key_interning():
    two_pts = {
        "id": 1,
        "geom_type": "Point",
        "rings": [[(1, 2)], [(3, 4)]],
        "properties": {"kind": "a"},
    }
    poly2 = {
        "id": 2,
        "geom_type": "Polygon",
        "rings": [
            [(0, 0), (4, 0), (4, 4), (0, 0)],
            [(10, 10), (14, 10), (14, 14), (10, 10)],
        ],
        "properties": {"kind": "a"},  # same value -> same interned slot
    }
    blob = encode_tile({"x": [two_pts, poly2]})
    got = decode_tile(blob)["x"]["features"]
    assert got[0]["rings"] == [[(1, 2)], [(3, 4)]]
    assert got[1]["rings"] == poly2["rings"]
    # interning: one key, one value in the layer tables -> encoding both
    # features' tags costs 4 varints; verify via re-encode stability
    assert encode_tile({"x": [two_pts, poly2]}) == blob


def test_negative_deltas_zigzag():
    f = {
        "id": 1,
        "geom_type": "LineString",
        "rings": [[(100, 100), (2, 98), (150, 3)]],
        "properties": {},
    }
    got = decode_tile(encode_tile({"l": [f]}))["l"]["features"][0]
    assert got["rings"] == f["rings"]


def test_encode_varints_matches_scalar():
    from osmzen_spark.sinks.mvt import _varint, _varints_with_counts

    rng = np.random.default_rng(7)
    vals = np.concatenate(
        [
            np.array([0, 1, 127, 128, 300, 2**31, 2**62], dtype=np.uint64),
            rng.integers(0, 2**62, 500, dtype=np.int64).astype(np.uint64),
        ]
    )
    assert _varints_with_counts(vals)[0] == b"".join(_varint(int(v)) for v in vals)
    assert _varints_with_counts(np.array([], dtype=np.uint64))[0] == b""


def test_encode_commands_batch_matches_per_feature():
    """The whole-batch command encoder must emit the same bytes as a
    per-feature scalar build for every geometry class and edge shape:
    multi-ring chains (cursor never resets), polygon endpoint trim,
    sub-2-point ring drops, an all-rings-dropped feature (empty
    bytes), a zero-point point feature, and a declared ring length
    exceeding the feature's points (silent truncation)."""
    from osmzen_spark.sinks.mvt import _encode_commands_batch, _varints_with_counts
    from tests_util_mvt import _commands_path, _commands_point

    # (gcode name, ring point lists)
    feats = [
        ("Point", [[(5, 7)]]),
        ("Point", [[(1, 2)], [(3, 4)], [(9, 9)]]),  # multipoint via rings
        ("Point", [[]]),  # zero points -> MoveTo 0
        ("LineString", [[(0, 0), (10, 5), (4, 4)]]),
        ("MultiLineString", [[(1, 1), (2, 2)], [(8, 8), (9, 1), (0, 0)]]),
        ("Polygon", [[(0, 0), (4, 0), (4, 4), (0, 0)]]),  # closed -> trimmed
        ("Polygon", [[(0, 0), (4, 0), (4, 4)]]),  # open -> kept as-is
        ("MultiPolygon", [[(1, 1)], [(0, 0), (5, 0), (5, 5), (0, 0)]]),  # 1-pt drop
        ("Polygon", [[(3, 3)]]),  # all rings drop -> empty bytes
    ]
    gx, gy, offs, rl_l, gcodes = [], [], [0], [], []
    for gt, rings in feats:
        pts = [p for r in rings for p in r]
        gx += [p[0] for p in pts]
        gy += [p[1] for p in pts]
        offs.append(offs[-1] + len(pts))
        rl_l.append(np.array([len(r) for r in rings], dtype=np.int64))
        gcodes.append(3 if gt.endswith("Polygon") else 2 if gt.endswith("LineString") else 1)
    # truncation case: declared ring longer than the feature's points
    feats.append(("LineString", [[(2, 2), (6, 6), (1, 9)]]))
    gx += [2, 6, 1]
    gy += [2, 6, 9]
    offs.append(offs[-1] + 3)
    rl_l.append(np.array([5], dtype=np.int64))
    gcodes.append(2)

    got = _encode_commands_batch(
        np.array(gx, dtype=np.int64),
        np.array(gy, dtype=np.int64),
        np.array(offs, dtype=np.int64),
        np.array(gcodes, dtype=np.int8),
        rl_l,
    )

    for i, (gt, rings) in enumerate(feats):
        npts = offs[i + 1] - offs[i]
        fx = gx[offs[i] : offs[i + 1]]
        fy = gy[offs[i] : offs[i + 1]]
        if gcodes[i] == 1:
            cmds = _commands_point(list(zip(fx, fy)))
        else:
            # rebuild rings with the sink's truncation semantics
            cut, roff = [], 0
            for ln in rl_l[i]:
                cut.append(list(zip(fx[roff : roff + ln], fy[roff : roff + ln])))
                roff += ln
            cmds = _commands_path(cut, close=(gcodes[i] == 3))
        want = _varints_with_counts(np.array(cmds, dtype=np.uint64))[0]
        assert got[i] == want, (i, gt)


def test_encode_commands_batch_point_free_batch():
    """Regression: a batch with no points at all whose path features
    still declare rings (degenerate input) must encode each feature to
    empty command bytes, as the per-feature encoder did, instead of
    indexing into the empty point arrays (IndexError)."""
    from osmzen_spark.sinks.mvt import _encode_commands_batch

    empty = np.array([], dtype=np.int64)
    got = _encode_commands_batch(
        empty, empty, np.array([0, 0], dtype=np.int64), np.array([2], dtype=np.int8), [np.array([3])]
    )
    assert got == [b""]
    got = _encode_commands_batch(
        empty,
        empty,
        np.array([0, 0, 0], dtype=np.int64),
        np.array([3, 2], dtype=np.int8),
        [np.array([4]), np.array([2, 0])],
    )
    assert got == [b"", b""]


def test_spark_mvt_sink_byte_parity_with_scalar(spark):
    """The per-tile applyInArrow sink must produce byte-identical
    blobs to the scalar reference (old per-point projection + interned
    encode_tile) over every geometry type, holes, multiparts, ring
    collapse, NaN/None props, negative ids, and multiple layers."""
    import math

    from pyspark.sql import functions as F  # noqa: F401

    from osmzen_spark.sinks.mvt import mvt_tiles

    zoom, extent = 4, 4096
    n_tiles = 1 << zoom
    max_lat = 85.05112877980659
    rng = np.random.default_rng(11)
    rows = []
    fid = 0
    for tx, ty in [(8, 5), (8, 6), (9, 5)]:
        # tile-local lon/lat window
        lon0 = tx / n_tiles * 360.0 - 180.0
        lon1 = (tx + 1) / n_tiles * 360.0 - 180.0

        def lat_of(yn):
            t = math.pi * (1 - 2 * yn / n_tiles)
            return math.degrees(math.atan(math.sinh(t)))

        lat0, lat1 = lat_of(ty + 1), lat_of(ty)
        for layer in ("buildings", "roads"):
            for _ in range(6):
                fid += 1
                kind_g = rng.integers(0, 4)
                lons = lon0 + rng.random(8) * (lon1 - lon0)
                lats = lat0 + rng.random(8) * (lat1 - lat0)
                if kind_g == 0:  # point (possibly multi)
                    npt = int(rng.integers(1, 3))
                    geom = ("Point", lons[:npt], lats[:npt], [1] * npt)
                elif kind_g == 1:  # linestring
                    geom = ("LineString", lons[:4], lats[:4], [4])
                elif kind_g == 2:  # closed polygon with hole
                    xs = np.concatenate([lons[:3], lons[:1], lons[3:6], lons[3:4]])
                    ys = np.concatenate([lats[:3], lats[:1], lats[3:6], lats[3:4]])
                    geom = ("Polygon", xs, ys, [4, 4])
                else:  # degenerate ring (collapses) + a real ring
                    xs = np.concatenate([lons[:1], lons[1:4]])
                    ys = np.concatenate([lats[:1], lats[1:4]])
                    geom = ("MultiPolygon", xs, ys, [1, 3])
                kind = None if fid % 5 == 0 else f"k{int(rng.integers(0, 3))}"
                rows.append(
                    (
                        tx,
                        ty,
                        {
                            "xs": [float(v) for v in geom[1]],
                            "ys": [float(v) for v in geom[2]],
                            "ring_lens": geom[3],
                            "ring_roles": [0] * len(geom[3]),
                        },
                        geom[0],
                        layer,
                        fid if fid % 3 else -fid,
                        kind,
                    )
                )
    df = spark.createDataFrame(
        rows,
        "tile_x long, tile_y long, "
        "geometry struct<xs:array<double>,ys:array<double>,"
        "ring_lens:array<int>,ring_roles:array<int>>, "
        "geom_type string, zen_layer string, id long, kind string",
    ).repartition(5)  # rows of a tile arrive from several partitions

    got = {
        (r["tile_x"], r["tile_y"]): (r["n_features"], bytes(r["mvt"]))
        for r in mvt_tiles(df, zoom=zoom, property_cols=("kind",)).collect()
    }

    # scalar reference: old per-point projection feeding encode_tile
    by_tile: dict = {}
    for tx, ty, geom, gt, layer, rid, kind in rows:
        by_tile.setdefault((tx, ty), []).append((layer, rid, geom, gt, kind))
    want = {}
    for (tx, ty), feats in by_tile.items():
        feats.sort(key=lambda f: (f[0], f[1]))
        layers: dict = {}
        for layer, rid, geom, gt, kind in feats:
            rings, off = [], 0
            for ln in geom["ring_lens"]:
                ring = []
                for i in range(off, off + ln):
                    xn = (geom["xs"][i] + 180.0) / 360.0 * n_tiles - tx
                    lat = max(-max_lat, min(max_lat, geom["ys"][i]))
                    rl = math.radians(lat)
                    yn = (
                        (1.0 - math.log(math.tan(rl) + 1.0 / math.cos(rl)) / math.pi)
                        / 2.0 * n_tiles - ty
                    )
                    ring.append(
                        (
                            max(0, min(extent, int(xn * extent))),
                            max(0, min(extent, int(yn * extent))),
                        )
                    )
                rings.append(ring)
                off += ln
            gname = (
                "Polygon"
                if gt.endswith("Polygon")
                else "LineString"
                if gt.endswith("LineString")
                else "Point"
            )
            layers.setdefault(layer, []).append(
                {
                    "id": abs(rid),
                    "geom_type": gname,
                    "rings": rings,
                    "properties": {} if kind is None else {"kind": kind},
                }
            )
        want[(tx, ty)] = (sum(len(v) for v in layers.values()), encode_tile(layers))
    assert got == want


def test_spark_mvt_sink_buildings(spark):
    """End-to-end: normalized buildings -> per-tile MVT blobs; decode
    every blob and check feature counts and quantized coordinates stay
    inside the extent."""
    from pyspark.sql import functions as F

    from osmzen_spark.pipeline.normalize import NormalizeEngine
    from osmzen_spark.sinks.mvt import mvt_tiles

    elements = synthetic_elements(spark, SF_SMALL)
    engine = NormalizeEngine()
    layers = engine.process(
        elements, zoom=20, tile_zoom=10, layer_names=["buildings", "pois"]
    )
    b = layers["buildings"].withColumn("zen_layer", F.lit("buildings"))
    tiles = mvt_tiles(b, zoom=10, property_cols=("kind",)).collect()
    assert tiles, "no tiles produced"
    total = 0
    for t in tiles[:50]:
        got = decode_tile(bytes(t["mvt"]))
        feats = got["buildings"]["features"]
        assert len(feats) == t["n_features"]
        total += len(feats)
        for f in feats:
            for ring in f["rings"]:
                for gx, gy in ring:
                    assert 0 <= gx <= 4096 and 0 <= gy <= 4096
            assert f["properties"].get("kind") in ("building", "entrance", "address")
    assert total > 0


def test_spark_mvt_sink_deterministic(spark):
    from pyspark.sql import functions as F

    from osmzen_spark.pipeline.normalize import NormalizeEngine
    from osmzen_spark.sinks.mvt import mvt_tiles

    elements = synthetic_elements(spark, SF_SMALL)
    engine = NormalizeEngine()
    layers = engine.process(
        elements, zoom=20, tile_zoom=10, layer_names=["buildings", "pois"]
    )
    b = layers["buildings"].withColumn("zen_layer", F.lit("buildings"))
    one = {(r["tile_x"], r["tile_y"]): bytes(r["mvt"]) for r in mvt_tiles(b, 10).collect()}
    two = {(r["tile_x"], r["tile_y"]): bytes(r["mvt"]) for r in mvt_tiles(b, 10).collect()}
    assert one == two


def test_spark_mvt_sink_tile_spanning_many_batches(spark):
    """A single hot tile spanning many Arrow batches must come out
    identical to the single-batch encoding (the grouped encoder gets
    the whole tile as one Arrow table, however many batches its rows
    arrive in)."""
    from osmzen_spark.sinks.mvt import mvt_tiles

    rows = []
    for fid in range(1, 401):
        tx, ty = (8, 5) if fid <= 350 else (9, 5)  # one hot tile + one small
        rows.append(
            (
                tx,
                ty,
                {
                    "xs": [0.1 * (fid % 7) - 180.0 + tx * 22.5],
                    "ys": [0.05 * (fid % 11) + 40.0],
                    "ring_lens": [1],
                    "ring_roles": [0],
                },
                "Point",
                "pois",
                fid,
                f"k{fid % 3}",
            )
        )
    schema = (
        "tile_x long, tile_y long, "
        "geometry struct<xs:array<double>,ys:array<double>,"
        "ring_lens:array<int>,ring_roles:array<int>>, "
        "geom_type string, zen_layer string, id long, kind string"
    )
    df = spark.createDataFrame(rows, schema)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "16")  # hot tile spans ~22 batches
        small = {
            (r["tile_x"], r["tile_y"]): (r["n_features"], bytes(r["mvt"]))
            for r in mvt_tiles(df, zoom=4, property_cols=("kind",)).collect()
        }
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    big = {
        (r["tile_x"], r["tile_y"]): (r["n_features"], bytes(r["mvt"]))
        for r in mvt_tiles(df, zoom=4, property_cols=("kind",)).collect()
    }
    assert small == big
    assert small[(8, 5)][0] == 350 and small[(9, 5)][0] == 50
