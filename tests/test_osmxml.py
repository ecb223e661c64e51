"""OSM XML source tests: distributed parse of the reference's own
z16 benchmark fixture (ref:testdata/tile-16-17896-24450.xml, the
input of BenchmarkFullTile ref:benchmarks_test.go:209-226) plus a
synthetic relation round-trip.

The parse checks that hold for any OSM XML (a single-pass parse,
way-node sequencing, relation member roles) run on the reference tile
where it exists, and on a generated city (perfbench's ``gen.City``
written as OSM XML) otherwise. The checks tied to the tile's content
(its element counts, node 105526255, the Terminal Tower) skip when
the file is absent."""

import os

import pytest
from pyspark.sql import functions as F

from osmzen_spark.pipeline.normalize import NormalizeEngine
from osmzen_spark.sources.osmxml import full_tile, parse_osm_xml, read_osm_xml
from osmzen_spark.tiling.cells import tile_bound

from conftest import perfbench_gen
from synthetic import write_osm_xml

FIXTURE = "/root/reference/testdata/tile-16-17896-24450.xml"
requires_fixture = pytest.mark.skipif(
    not os.path.exists(FIXTURE), reason=f"reference fixture {FIXTURE} is absent"
)


@pytest.fixture(scope="module")
def xml_path(tmp_path_factory):
    """The reference tile where it exists, else a generated city
    written as OSM XML."""
    if os.path.exists(FIXTURE):
        return FIXTURE
    gen = perfbench_gen()

    city = gen.City(3, n_buildings=80, n_roads=120, n_pois=60, n_routes=3)
    path = str(tmp_path_factory.mktemp("osmxml") / "city.osm")
    write_osm_xml(city, path)
    return path


@pytest.fixture(scope="module")
def tables(spark, xml_path):
    return read_osm_xml(spark, xml_path)


@requires_fixture
def test_fixture_counts(tables):
    # the exact element counts the reference documents for this tile
    # (ref:README.md "1,546 nodes, 215 ways, 41 relations")
    assert tables.nodes.count() == 1546
    assert tables.ways.count() == 215
    assert tables.relations.count() == 41
    assert tables.way_nodes.count() == 1972
    assert tables.relation_members.count() == 4611


@requires_fixture
def test_node_tags_and_coords(tables):
    r = tables.nodes.filter(F.col("node_id") == 105526255).collect()[0]
    assert r["tags"]["highway"] == "traffic_signals"
    assert abs(r["lat"] - 41.501325) < 1e-9
    assert abs(r["lon"] - -81.695163) < 1e-9


def test_way_nodes_sequenced(tables):
    seqs = [
        r["seq"]
        for r in tables.way_nodes.filter(F.col("way_id") == tables.ways.first()["way_id"])
        .orderBy("seq")
        .collect()
    ]
    assert seqs == list(range(len(seqs)))


def test_relation_members_roles(tables):
    roles = {
        r["member_role"]
        for r in tables.relation_members.select("member_role").distinct().collect()
    }
    # OSM route/multipolygon relations carry these roles (the generated
    # city's bus routes: "")
    assert "" in roles or "outer" in roles or "platform" in roles


def test_synthetic_relation_roundtrip(spark, tmp_path):
    xml = """<?xml version="1.0"?>
<osm version="0.6">
 <node id="1" lat="0.0" lon="0.0"/>
 <node id="2" lat="0.0" lon="1.0"/>
 <node id="3" lat="1.0" lon="1.0"/>
 <way id="10">
  <nd ref="1"/><nd ref="2"/><nd ref="3"/><nd ref="1"/>
  <tag k="building" v="yes"/>
 </way>
 <relation id="100">
  <member type="way" ref="10" role="outer"/>
  <member type="node" ref="1" role="admin_centre"/>
  <tag k="type" v="multipolygon"/>
  <tag k="landuse" v="park"/>
 </relation>
</osm>"""
    p = os.path.join(tmp_path, "t.osm")
    with open(p, "w") as f:
        f.write(xml)
    t = read_osm_xml(spark, p)
    assert t.nodes.count() == 3
    # untagged nodes still carry coords (geometry carriers)
    assert t.ways.first()["tags"]["building"] == "yes"
    mem = {
        (r["member_type"], r["member_id"], r["member_role"], r["seq"])
        for r in t.relation_members.collect()
    }
    assert mem == {("way", 10, "outer", 0), ("node", 1, "admin_centre", 1)}


def test_parse_is_single_pass(spark, xml_path):
    # raw_tables derives all five tables from ONE parse: the parsed
    # frame is a localCheckpoint (LogicalRDD scan), so no consumer
    # re-decodes the XML
    t = read_osm_xml(spark, xml_path)
    plan = t.nodes._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan


@requires_fixture
def test_full_tile_reference_benchmark_input(spark):
    """BenchmarkFullTile's input end to end: XML -> assembly -> all 9
    layers at z16 within the tile bound (ref:benchmarks_test.go:209)."""
    bound = tile_bound(16, 17896, 24450)
    layers = full_tile(spark, FIXTURE, zoom=16, bound=bound, cache=True)
    assert set(layers) == {
        "buildings",
        "roads",
        "pois",
        "landuse",
        "water",
        "places",
        "boundaries",
        "transit",
        "earth",
    }
    b = {r["name"]: r for r in layers["buildings"].collect()}
    # Terminal Tower: building=commercial + building:levels=52
    # -> kind=building, height = 52*3+2 (ref:transform/buildings.go
    # height synthesis; engine compiler/context.py levels rule)
    tt = b["Terminal Tower"]
    assert tt["kind"] == "building"
    assert abs(float(tt["height"]) - 158.0) < 1e-6
    roads = layers["roads"]
    kinds = {r["kind"] for r in roads.select("kind").distinct().collect()}
    assert {"major_road", "path"} & kinds
    # downtown Cleveland z16 tile: a dense but bounded feature count
    n_roads = roads.count()
    assert n_roads > 20


def test_full_tile_output_shape(spark, xml_path):
    """full_tile end to end on `xml_path` (the generated city is centred
    on the same z16 tile): every layer is present, tile-assigned at z16
    and clipped (the raw-tags stash dropped), with only supported
    geometry types."""
    geom_types = {
        "Point", "MultiPoint", "LineString", "MultiLineString", "Polygon", "MultiPolygon",
    }
    engine = NormalizeEngine()
    try:
        layers = full_tile(
            spark, xml_path, zoom=16, bound=tile_bound(16, 17896, 24450),
            engine=engine, cache=True,
        )
        assert set(layers) == {
            "buildings", "roads", "pois", "landuse", "water",
            "places", "boundaries", "transit", "earth",
        }
        counts = {}
        for name, df in layers.items():
            assert {"kind", "tile_z", "tile_x", "tile_y", "cell"} <= set(df.columns), name
            assert "tags" not in df.columns, name
            rows = df.groupBy("geom_type", "tile_z").count().collect()
            assert {r["tile_z"] for r in rows} <= {16}, name
            assert {r["geom_type"] for r in rows} <= geom_types, name
            counts[name] = sum(r["count"] for r in rows)
    finally:
        engine.release()
    assert counts["buildings"] > 0
    assert counts["roads"] > 0
