"""GeoJSON source/sink tests: JVM-side parse of every geometry type,
write→read round-trips, FeatureCollection files, and the reference's
{layer: FeatureCollection} output shape (ref:process.go:22,301-334)."""

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from osmzen_spark.sources.geojson import (
    collections_to_lines,
    feature_collections,
    feature_json,
    parse_geojson_features,
    read_feature_collections,
    read_geojson_lines,
    write_geojson_lines,
)

FIXTURE = "/root/reference/testdata/tile-16-17896-24450.xml"
requires_fixture = pytest.mark.skipif(
    not os.path.exists(FIXTURE), reason=f"reference fixture {FIXTURE} is absent"
)

FEATURES = [
    {
        "type": "Feature",
        "id": "node/7",
        "properties": {"amenity": "cafe", "name": "Blue Bottle", "levels": 2},
        "geometry": {"type": "Point", "coordinates": [-122.41, 37.77]},
    },
    {
        "type": "Feature",
        "id": "way/10",
        "properties": {"highway": "residential"},
        "geometry": {
            "type": "LineString",
            "coordinates": [[0.0, 0.0], [1.0, 0.5], [2.0, 0.0]],
        },
    },
    {
        "type": "Feature",
        "id": "way/11",
        "properties": {"building": "yes"},
        "geometry": {
            "type": "Polygon",
            "coordinates": [
                [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]],
                [[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0], [1.0, 1.0]],
            ],
        },
    },
    {
        "type": "Feature",
        "id": "relation/99",
        "properties": {"type": "multipolygon", "natural": "water"},
        "geometry": {
            "type": "MultiPolygon",
            "coordinates": [
                [
                    [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 0.0]],
                    [[0.5, 0.5], [1.0, 0.5], [1.0, 1.0], [0.5, 0.5]],
                ],
                [[[5.0, 5.0], [6.0, 5.0], [6.0, 6.0], [5.0, 5.0]]],
            ],
        },
    },
    {
        "type": "Feature",
        "properties": {"route": "ferry"},
        "geometry": {
            "type": "MultiLineString",
            "coordinates": [[[0.0, 0.0], [1.0, 1.0]], [[2.0, 2.0], [3.0, 3.0]]],
        },
    },
]


@pytest.fixture(scope="module")
def lines_df(spark):
    return spark.createDataFrame(
        [(json.dumps(f),) for f in FEATURES], "value string"
    )


def test_parse_all_geometry_types(spark, lines_df):
    rows = {
        (r["element_type"], r["element_id"]): r
        for r in parse_geojson_features(lines_df).collect()
    }
    pt = rows[("node", 7)]
    assert pt["tags"] == {"amenity": "cafe", "name": "Blue Bottle", "levels": "2"}
    assert pt["geom_type"] == "Point"
    assert list(pt["geometry"]["xs"]) == [-122.41]

    ln = rows[("way", 10)]
    assert list(ln["geometry"]["xs"]) == [0.0, 1.0, 2.0]
    assert list(ln["geometry"]["ring_lens"]) == [3]

    poly = rows[("way", 11)]
    assert list(poly["geometry"]["ring_lens"]) == [5, 5]
    assert list(poly["geometry"]["ring_roles"]) == [0, 1]
    assert len(poly["geometry"]["xs"]) == 10

    mp = rows[("relation", 99)]
    assert list(mp["geometry"]["ring_lens"]) == [4, 4, 4]
    # polygon boundaries restart roles: outer, hole, outer
    assert list(mp["geometry"]["ring_roles"]) == [0, 1, 0]

    # id-less feature -> synthetic stable id
    mls = [r for r in rows.values() if r["geom_type"] == "MultiLineString"][0]
    assert mls["element_type"] == "feature"
    assert list(mls["geometry"]["ring_roles"]) == [0, 0]


def test_write_read_roundtrip(spark, lines_df):
    parsed = parse_geojson_features(lines_df)
    out = feature_json(parsed, property_cols=None)
    reparsed = parse_geojson_features(out)
    # the id-less feature gets a synthetic hash id that (by design)
    # differs between source texts; align on geom_type which is unique
    # in this fixture set
    a = parsed.select("element_type", "element_id", "geom_type", "geometry").orderBy(
        "geom_type"
    ).collect()
    b = reparsed.select("element_type", "element_id", "geom_type", "geometry").orderBy(
        "geom_type"
    ).collect()
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra["element_type"] == rb["element_type"]
        assert ra["geom_type"] == rb["geom_type"]
        # doubles round-trip exactly (shortest-repr serialization)
        assert list(ra["geometry"]["xs"]) == list(rb["geometry"]["xs"])
        assert list(ra["geometry"]["ys"]) == list(rb["geometry"]["ys"])
        assert list(ra["geometry"]["ring_lens"]) == list(rb["geometry"]["ring_lens"])
        assert list(ra["geometry"]["ring_roles"]) == list(rb["geometry"]["ring_roles"])


def test_geometry_json_shape(spark, lines_df):
    parsed = parse_geojson_features(lines_df)
    emitted = {
        json.loads(r["value"])["id"]: json.loads(r["value"])
        for r in feature_json(parsed).collect()
        if "id" in json.loads(r["value"])
    }
    src = {f["id"]: f for f in FEATURES if "id" in f}
    for fid in ("node/7", "way/10", "way/11", "relation/99"):
        assert emitted[fid]["geometry"] == src[fid]["geometry"], fid
        # typed properties survive where they were strings; numeric
        # tags become strings on the parse side by design (tag model)
    assert emitted["node/7"]["properties"]["name"] == "Blue Bottle"


def test_files_roundtrip(spark, tmp_path, lines_df):
    p = os.path.join(tmp_path, "gj")
    parsed = parse_geojson_features(lines_df)
    write_geojson_lines(parsed, p)
    back = read_geojson_lines(spark, p)
    assert back.count() == len(FEATURES)
    assert {r["geom_type"] for r in back.select("geom_type").distinct().collect()} == {
        "Point",
        "LineString",
        "Polygon",
        "MultiPolygon",
        "MultiLineString",
    }


def test_feature_collection_file(spark, tmp_path):
    p = os.path.join(tmp_path, "fc.geojson")
    with open(p, "w") as f:
        json.dump({"type": "FeatureCollection", "features": FEATURES}, f)
    df = read_feature_collections(spark, p)
    assert df.count() == len(FEATURES)
    assert collections_to_lines(spark, p).count() == len(FEATURES)


@requires_fixture
def test_reference_output_shape(spark):
    """full_tile -> feature_collections = the reference's
    Config.Process return type on its own benchmark fixture."""
    from osmzen_spark.sources.osmxml import full_tile
    from osmzen_spark.tiling.cells import tile_bound

    bound = tile_bound(16, 17896, 24450)
    layers = full_tile(
        spark,
        FIXTURE,
        zoom=16,
        bound=bound,
        cache=True,
        layer_names=["buildings"],
    )
    fc = feature_collections(
        {"buildings": layers["buildings"].select(
            "element_type", "element_id", "geom_type", "geometry", "kind", "name", "height"
        )}
    )
    assert fc["buildings"]["type"] == "FeatureCollection"
    names = {
        f["properties"].get("name")
        for f in fc["buildings"]["features"]
        if f["properties"].get("name")
    }
    assert "Terminal Tower" in names
    for f in fc["buildings"]["features"]:
        assert f["geometry"]["type"] in ("Polygon", "MultiPolygon", "Point")
        assert f["properties"]["kind"] == "building" or f["properties"]["kind"]


@requires_fixture
def test_process_geojson_reference_benchmark_shape(spark, tmp_path):
    """BenchmarkProcessGeoJSON's semantics (ref:benchmarks_test.go:233):
    already-assembled GeoJSON features -> filter/transform/postprocess
    only, no OSM assembly. The z16 fixture's assembled elements are
    serialized to Feature lines, read back, and processed; the XML
    full_tile goldens must hold (Terminal Tower kind/height, road
    kinds) — proving the GeoJSON writer/parser round-trips geometry
    and tags faithfully enough for the whole rule chain."""
    from osmzen_spark.pipeline.assembly import assemble_elements
    from osmzen_spark.sources.geojson import process_geojson, write_geojson_lines
    from osmzen_spark.sources.osmxml import read_osm_xml
    from osmzen_spark.tiling.cells import tile_bound

    t = read_osm_xml(spark, FIXTURE)
    bound = tile_bound(16, 17896, 24450)
    elements = assemble_elements(
        t.nodes, t.way_nodes, t.ways, t.relations, t.relation_members, bound=bound
    )
    path = str(tmp_path / "feats")
    write_geojson_lines(elements, path)
    layers = process_geojson(spark, path, zoom=16, bound=bound, cache=True)
    b = {r["name"]: r for r in layers["buildings"].collect()}
    tt = b["Terminal Tower"]
    assert tt["kind"] == "building"
    assert abs(float(tt["height"]) - 158.0) < 1e-6
    kinds = {r["kind"] for r in layers["roads"].select("kind").distinct().collect()}
    assert {"major_road", "path"} & kinds


def test_unsupported_geometry_types_dropped(spark):
    """GeometryCollection (and anything else outside the supported
    six) must be filtered out, not pass through with a NULL geometry
    struct that downstream sinks don't expect."""
    feats = [
        {
            "type": "Feature",
            "id": "node/1",
            "properties": {},
            "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
        },
        {
            "type": "Feature",
            "id": "relation/2",
            "properties": {},
            "geometry": {
                "type": "GeometryCollection",
                "geometries": [{"type": "Point", "coordinates": [0.0, 0.0]}],
            },
        },
        {"type": "Feature", "id": "node/3", "properties": {}, "geometry": None},
    ]
    df = spark.createDataFrame([(json.dumps(f),) for f in feats], "value string")
    rows = parse_geojson_features(df).collect()
    assert [(r["element_type"], r["element_id"]) for r in rows] == [("node", 1)]
    assert all(r["geometry"] is not None for r in rows)


def test_feature_json_null_id_and_empty_multipolygon(spark):
    """A NULL id column must not nullify the whole feature line
    (concat null propagation), and a zero-ring MultiPolygon must
    serialize as [] rather than the malformed ']]'."""
    df = spark.createDataFrame(
        [
            (
                "way",
                None,
                {"building": "yes"},
                "MultiPolygon",
                {"xs": [], "ys": [], "ring_lens": [], "ring_roles": []},
            ),
            (
                "node",
                5,
                {"amenity": "cafe"},
                "Point",
                {"xs": [1.0], "ys": [2.0], "ring_lens": [1], "ring_roles": [0]},
            ),
        ],
        "element_type string, element_id long, "
        "tags map<string,string>, geom_type string, "
        "geometry struct<xs:array<double>,ys:array<double>,"
        "ring_lens:array<int>,ring_roles:array<int>>",
    )
    lines = [r["value"] for r in feature_json(df).collect()]
    assert all(line is not None for line in lines)
    parsed = [json.loads(line) for line in lines]
    by_type = {p["geometry"]["type"]: p for p in parsed}
    assert by_type["MultiPolygon"]["geometry"]["coordinates"] == []
    assert "id" not in by_type["MultiPolygon"]
    assert by_type["Point"]["id"] == "node/5"
