"""Degenerate inputs through the Arrow UDF passes: each gives a
documented result or a clear error, never a task crash."""

import os
import struct

import pytest

from osmzen_spark.sources.osmpbf import read_osm_pbf

from test_assembly import _raw_tables
from tests_util_mvt import decode_tile
from tests_util_pbf import _encode_varint, _ld, _tag, encode_pbf


def test_pbf_without_data_blobs_gives_empty_tables(spark, tmp_path):
    path = os.path.join(tmp_path, "header-only.osm.pbf")
    with open(path, "wb") as f:
        f.write(encode_pbf([], [], []))
    t = read_osm_pbf(spark, path)
    assert [df.count() for df in t] == [0, 0, 0, 0, 0]


@pytest.mark.parametrize("field", [4, 7], ids=["lzma", "zstd"])
def test_pbf_lzma_zstd_blob_is_a_clear_error(spark, tmp_path, field):
    blob = _ld(field, b"\x00" * 16) + _tag(2, 0) + _encode_varint(64)
    hdr = _ld(1, b"OSMData") + _tag(3, 0) + _encode_varint(len(blob))
    path = os.path.join(tmp_path, "packed.osm.pbf")
    with open(path, "wb") as f:
        f.write(encode_pbf([], [], []) + struct.pack(">I", len(hdr)) + hdr + blob)
    with pytest.raises(Exception, match="lzma/zstd unsupported"):
        read_osm_pbf(spark, path)


def test_multipolygon_with_missing_or_short_members(spark):
    """Member ways that are missing, or have fewer than 2 nodes, add no
    ring; a relation left with no usable member becomes no feature, and
    the usable members of any other relation stitch as usual."""
    from osmzen_spark.pipeline.assembly import assemble_elements

    square = [(1, 0.0, 0.0), (2, 0.01, 0.0), (3, 0.01, 0.01), (4, 0.0, 0.01)]
    node_rows = [(i, lon, lat, {}) for i, lon, lat in square] + [(9, 0.5, 0.5, {})]
    way_node_rows = [(101, s, n) for s, n in enumerate([1, 2, 3, 4, 1])] + [(102, 0, 9)]
    way_rows = [(101, {}), (102, {})]
    mp = {"type": "multipolygon", "natural": "water"}
    rel_rows = [(900, mp), (901, mp), (902, mp)]
    rel_member_rows = [
        (900, "way", 999, "outer", 0),  # missing way only
        (901, "way", 102, "outer", 0),  # 1-node way only
        (902, "way", 999, "outer", 0),  # missing + 1-node + one closed way
        (902, "way", 102, "outer", 1),
        (902, "way", 101, "outer", 2),
    ]
    tables = _raw_tables(spark, node_rows, way_node_rows, way_rows, rel_rows, rel_member_rows)
    rows = assemble_elements(*tables).collect()
    assert [r["element_id"] for r in rows] == [902]
    g = rows[0]["geometry"]
    assert rows[0]["geom_type"] == "Polygon"
    assert list(g["ring_lens"]) == [5] and list(g["ring_roles"]) == [0]
    assert list(g["xs"]) == [0.0, 0.01, 0.01, 0.0, 0.0]


def test_mvt_tiles_over_empty_frame(spark):
    from osmzen_spark.sinks.mvt import mvt_tiles

    schema = (
        "tile_x long, tile_y long, "
        "geometry struct<xs:array<double>,ys:array<double>,"
        "ring_lens:array<int>,ring_roles:array<int>>, "
        "geom_type string, zen_layer string, id long, kind string"
    )
    assert mvt_tiles(spark.createDataFrame([], schema), zoom=16).collect() == []


def test_empty_tile_through_the_whole_pipeline(spark):
    """A tile request whose bound holds no element: every layer comes
    out empty, the post-process cuts run on empty frames, and the MVT
    sink over the union returns no rows."""
    from osmzen_spark.pipeline.normalize import NormalizeEngine
    from osmzen_spark.sinks.mvt import mvt_tiles
    from synthetic import SF_SMALL, synthetic_elements, synthetic_network

    net, rels, way_nodes = synthetic_network(spark, SF_SMALL)
    elements = synthetic_elements(spark, SF_SMALL).unionByName(net)
    engine = NormalizeEngine()
    try:
        layers = engine.process(
            elements, zoom=16, bound=(100.0, 10.0, 100.005, 10.005), cache=True,
            relation_members=rels, way_nodes=way_nodes,
        )
        assert {n: df.count() for n, df in layers.items()} == {n: 0 for n in layers}
        dfs = list(layers.values())
        union = dfs[0]
        for df in dfs[1:]:
            union = union.unionByName(df, allowMissingColumns=True)
        assert mvt_tiles(union, zoom=16).collect() == []
    finally:
        engine.release()


def test_ways_with_fewer_than_two_resolved_nodes(spark, tmp_path):
    """PBF -> assembly -> normalize -> MVT over tagged roads whose node
    refs resolve to 0 or 1 node: such a way has no drawable line, so
    it becomes no element, no layer row and no MVT feature, while a
    complete road beside it comes through."""
    from osmzen_spark.pipeline.assembly import assemble_elements
    from osmzen_spark.pipeline.normalize import NormalizeEngine
    from osmzen_spark.sinks.mvt import mvt_tiles
    from osmzen_spark.tiling.cells import tile_bound

    bound = tile_bound(16, 17896, 24450)
    minx, miny, maxx, maxy = bound
    lon = [minx + (maxx - minx) * f for f in (0.2, 0.5, 0.8)]
    lat = (miny + maxy) / 2
    road = {"highway": "residential", "name": "Road"}
    nodes = [(i + 1, lon[i], lat, {}) for i in range(3)]
    ways = [
        (201, road, [1, 2, 3]),  # complete
        (202, road, [1]),  # one node
        (203, road, [2, 998]),  # one of two refs resolves
        (204, road, [998, 999]),  # no ref resolves
        (205, road, []),  # no refs
    ]
    path = os.path.join(tmp_path, "short-ways.osm.pbf")
    with open(path, "wb") as f:
        f.write(encode_pbf(nodes, ways, []))
    t = read_osm_pbf(spark, path)
    elements = assemble_elements(t.nodes, t.way_nodes, t.ways)
    assert sorted(r["element_id"] for r in elements.collect()) == [201]

    engine = NormalizeEngine()
    try:
        layers = engine.process(elements, zoom=16, bound=bound, cache=True)
        rows = [r for df in layers.values() for r in df.select("zen_layer", "id").collect()]
        assert [(r["zen_layer"], r["id"]) for r in rows] == [("roads", 201)]
        dfs = list(layers.values())
        union = dfs[0]
        for df in dfs[1:]:
            union = union.unionByName(df, allowMissingColumns=True)
        tiles = mvt_tiles(union, zoom=16).collect()
    finally:
        engine.release()
    feats = [f for t in tiles for layer in decode_tile(bytes(t["mvt"])).values() for f in layer["features"]]
    assert [f["id"] for f in feats] == [201]
    assert all(f["rings"] for f in feats)


def test_nan_and_out_of_range_coordinates(spark, tmp_path):
    """OSM XML -> assembly -> normalize (world bound) -> MVT with nodes
    at lat="nan" and lat="95": such a node counts as absent at
    assembly, so a tagged one is no feature and a way keeps only its
    valid nodes. Every output vertex is a real position (the MVT sink
    would write such a node at tile row 0 with int64-overflowed vertex
    coordinates)."""
    import math

    from osmzen_spark.pipeline.assembly import assemble_elements
    from osmzen_spark.pipeline.normalize import NormalizeEngine
    from osmzen_spark.sinks.mvt import mvt_tiles
    from osmzen_spark.sources.osmxml import read_osm_xml

    road = '<tag k="highway" v="residential"/>'
    cafe = '<tag k="amenity" v="cafe"/><tag k="name" v="Cafe"/>'
    xml = f"""<?xml version="1.0"?>
<osm version="0.6">
 <node id="1" lat="41.500" lon="-81.690"/>
 <node id="2" lat="41.500" lon="-81.680"/>
 <node id="3" lat="41.510" lon="-81.680"/>
 <node id="4" lat="nan" lon="-81.685"/>
 <node id="5" lat="95" lon="-81.685"/>
 <node id="6" lat="41.505" lon="-81.685">{cafe}</node>
 <node id="7" lat="nan" lon="-81.686">{cafe}</node>
 <node id="8" lat="95" lon="-81.687">{cafe}</node>
 <way id="10"><nd ref="1"/><nd ref="2"/><nd ref="3"/>{road}</way>
 <way id="11"><nd ref="1"/><nd ref="4"/><nd ref="3"/>{road}</way>
 <way id="12"><nd ref="1"/><nd ref="5"/><nd ref="3"/>{road}</way>
 <way id="13"><nd ref="4"/><nd ref="2"/><nd ref="5"/>{road}</way>
 <way id="14"><nd ref="1"/><nd ref="2"/><nd ref="3"/><nd ref="4"/><nd ref="1"/><tag k="building" v="yes"/></way>
</osm>"""
    path = os.path.join(tmp_path, "bad-coords.osm")
    with open(path, "w") as f:
        f.write(xml)
    t = read_osm_xml(spark, path)
    elements = assemble_elements(t.nodes, t.way_nodes, t.ways, t.relations, t.relation_members)
    got = {r["element_id"]: r for r in elements.collect()}
    # 7 and 8 are gone; 11 and 12 keep nodes 1 and 3; 13 keeps only
    # node 2, so it is no line; 14 is still a ring without node 4
    assert sorted(got) == [6, 10, 11, 12, 14]
    assert len(got[11]["geometry"]["xs"]) == len(got[12]["geometry"]["xs"]) == 2
    assert got[14]["geom_type"] == "Polygon" and len(got[14]["geometry"]["xs"]) == 4
    for r in got.values():
        g = r["geometry"]
        assert all(-180 <= x <= 180 for x in g["xs"]) and all(-90 <= y <= 90 for y in g["ys"])

    engine = NormalizeEngine()
    try:
        layers = engine.process(elements, zoom=16)
        rows = {
            (r["zen_layer"], r["id"])
            for df in layers.values()
            for r in df.select("zen_layer", "id").collect()
        }
        assert rows == {("pois", 6), ("roads", 10), ("roads", 11), ("roads", 12), ("buildings", 14)}
        dfs = list(layers.values())
        union = dfs[0]
        for df in dfs[1:]:
            union = union.unionByName(df, allowMissingColumns=True)
        tiles = mvt_tiles(union, zoom=16).collect()
    finally:
        engine.release()
    assert {(t["tile_x"], t["tile_y"]) for t in tiles} <= {
        (x, y) for x in range(17895, 17899) for y in range(24447, 24452)
    }
    feats = [f for t in tiles for layer in decode_tile(bytes(t["mvt"])).values() for f in layer["features"]]
    assert sorted(f["id"] for f in feats) == [6, 10, 11, 12, 14]
    for f in feats:
        assert f["rings"] and all(
            math.isfinite(c) and abs(c) < 2**16 for ring in f["rings"] for pt in ring for c in pt
        )


def test_geojson_vertices_outside_wgs84(spark, tmp_path):
    """GeoJSON features skip assembly, so the source itself applies the
    WGS84 check: a feature with any vertex outside it is dropped whole
    and reaches no layer and no MVT blob (a Point at lat 95 once landed
    in tile row 0)."""
    import json

    from osmzen_spark.pipeline.normalize import NormalizeEngine
    from osmzen_spark.sinks.mvt import mvt_tiles
    from osmzen_spark.sources.geojson import process_geojson, read_geojson_lines

    cafe = {"amenity": "cafe", "name": "Cafe"}
    road = {"highway": "residential"}

    def feature(fid, tags, gtype, coords):
        geometry = {"type": gtype, "coordinates": coords}
        return {"type": "Feature", "id": fid, "properties": tags, "geometry": geometry}

    feats = [
        feature("node/6", cafe, "Point", [-81.685, 41.505]),
        feature("node/8", cafe, "Point", [-81.687, 95.0]),
        feature("node/9", cafe, "Point", [200.0, 41.505]),
        feature("way/10", road, "LineString", [[-81.69, 41.5], [-81.68, 41.5], [-81.68, 41.51]]),
        feature("way/12", road, "LineString", [[-81.69, 41.5], [-81.685, 95.0], [-81.68, 41.51]]),
    ]
    path = os.path.join(tmp_path, "bad-coords.geojsonl")
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(x) for x in feats) + "\n")
    assert sorted(r["element_id"] for r in read_geojson_lines(spark, path).collect()) == [6, 10]

    engine = NormalizeEngine()
    try:
        layers = process_geojson(spark, path, zoom=16, engine=engine)
        dfs = list(layers.values())
        union = dfs[0]
        for df in dfs[1:]:
            union = union.unionByName(df, allowMissingColumns=True)
        rows = {(r["zen_layer"], r["id"]) for r in union.select("zen_layer", "id").collect()}
        assert rows == {("pois", 6), ("roads", 10)}
        tiles = mvt_tiles(union, zoom=16).collect()
    finally:
        engine.release()
    feats = [f for t in tiles for layer in decode_tile(bytes(t["mvt"])).values() for f in layer["features"]]
    assert sorted(f["id"] for f in feats) == [6, 10]
    assert all(t["tile_y"] > 0 for t in tiles)


def test_unclosed_rings_through_the_whole_pipeline(spark, tmp_path):
    """PBF -> assembly -> normalize -> MVT over a building way whose
    last node is not its first and a water multipolygon whose two outer
    ways do not meet. The open building way is a LineString, which the
    buildings layer does not take, so it is no feature. The relation's
    outer cannot be stitched closed, so it gets the reference's patch
    ring, the padded bound (ref:process.go:317-331). A closed building
    beside them comes through, and every polygon ring written is
    closed."""
    from osmzen_spark.pipeline.assembly import assemble_elements
    from osmzen_spark.pipeline.normalize import NormalizeEngine
    from osmzen_spark.sinks.mvt import mvt_tiles
    from osmzen_spark.tiling.cells import tile_bound

    bound = tile_bound(16, 17896, 24450)
    minx, miny, maxx, maxy = bound

    def at(fx, fy):
        return minx + (maxx - minx) * fx, miny + (maxy - miny) * fy

    corners = [(0.2, 0.2), (0.4, 0.2), (0.4, 0.4), (0.2, 0.4)]
    nodes = [(i + 1, *at(fx, fy), {}) for i, (fx, fy) in enumerate(corners)]
    nodes += [(i + 11, *at(fx + 0.4, fy + 0.4), {}) for i, (fx, fy) in enumerate(corners)]
    nodes += [(21, *at(0.1, 0.6), {}), (22, *at(0.3, 0.6), {}), (23, *at(0.3, 0.8), {})]
    nodes += [(24, *at(0.2, 0.9), {}), (25, *at(0.1, 0.9), {})]
    building = {"building": "yes"}
    ways = [
        (301, building, [1, 2, 3, 4]),  # open: last node is not the first
        (302, building, [11, 12, 13, 14, 11]),  # closed
        (401, {}, [21, 22, 23]),
        (402, {}, [24, 25]),  # shares no end node with 401
    ]
    water = {"type": "multipolygon", "natural": "water"}
    relations = [(900, water, [("way", 401, "outer"), ("way", 402, "outer")])]
    path = os.path.join(tmp_path, "unclosed.osm.pbf")
    with open(path, "wb") as f:
        f.write(encode_pbf(nodes, ways, relations))
    t = read_osm_pbf(spark, path)
    elements = assemble_elements(t.nodes, t.way_nodes, t.ways, t.relations, t.relation_members, bound=bound)
    got = {r["element_id"]: r for r in elements.collect()}
    assert {k: r["geom_type"] for k, r in got.items()} == {301: "LineString", 302: "Polygon", 900: "Polygon"}
    patch = got[900]["geometry"]
    assert list(patch["ring_lens"]) == [5] and list(patch["ring_roles"]) == [0]
    assert min(patch["xs"]) < minx and max(patch["ys"]) > maxy  # the padded bound

    engine = NormalizeEngine()
    try:
        layers = engine.process(elements, zoom=16, bound=bound, cache=True)
        dfs = list(layers.values())
        union = dfs[0]
        for df in dfs[1:]:
            union = union.unionByName(df, allowMissingColumns=True)
        rows = union.select("zen_layer", "id", "geom_type", "geometry").collect()
        tiles = mvt_tiles(union, zoom=16).collect()
    finally:
        engine.release()
    assert sorted((r["zen_layer"], r["id"], r["geom_type"]) for r in rows) == [
        ("buildings", 302, "Polygon"),
        ("water", -900, "Polygon"),
    ]
    for r in rows:
        g, start = r["geometry"], 0
        for n in g["ring_lens"]:
            ring = list(zip(g["xs"][start : start + n], g["ys"][start : start + n]))
            assert n >= 4 and ring[0] == ring[-1], (r["id"], ring)
            start += n
    assert [(t["tile_x"], t["tile_y"]) for t in tiles] == [(17896, 24450)]
    feats = [f for t in tiles for layer in decode_tile(bytes(t["mvt"])).values() for f in layer["features"]]
    assert sorted((f["id"], f["geom_type"]) for f in feats) == [(302, "Polygon"), (900, "Polygon")]
    for f in feats:
        assert f["rings"] and all(len(ring) >= 4 and ring[0] == ring[-1] for ring in f["rings"])
