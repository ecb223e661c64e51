"""OSM PBF source tests: vectorized varint kernels, encoder/decoder
round-trip, blob split index, Spark reader parity with the XML source
on the reference's benchmark fixture."""

import os
import random

import numpy as np
import pytest

from osmzen_spark.sources.osmpbf import (
    _blob_payload,
    decode_primitive_block,
    decode_varints,
    parse_osm_pbf,
    read_osm_pbf,
    scan_blob_index,
    unzigzag,
)

from conftest import perfbench_gen
from synthetic import write_osm_xml
from tests_util_pbf import _encode_varint, _zigzag, encode_pbf

FIXTURE = "/root/reference/testdata/tile-16-17896-24450.xml"
requires_fixture = pytest.mark.skipif(
    not os.path.exists(FIXTURE), reason=f"reference fixture {FIXTURE} is absent"
)


def test_varint_kernel_roundtrip():
    rng = random.Random(1)
    values = (
        [0, 1, 127, 128, 300, 2**31, 2**63 - 1]
        + [rng.randrange(0, 2**63) for _ in range(500)]
    )
    buf = b"".join(_encode_varint(v) for v in values)
    got = decode_varints(buf)
    assert got.dtype == np.uint64
    assert [int(x) for x in got] == values


def test_zigzag_roundtrip():
    rng = random.Random(2)
    values = [0, -1, 1, -2, 2, 2**62, -(2**62)] + [
        rng.randrange(-(2**62), 2**62) for _ in range(500)
    ]
    buf = b"".join(_encode_varint(_zigzag(v)) for v in values)
    got = unzigzag(decode_varints(buf))
    assert [int(x) for x in got] == values


NODES = [
    (1, -122.4194155, 37.7749295, {"amenity": "cafe", "name": "Ritual"}),
    (2, -122.4, 37.8, {}),
    (3, 0.0000001, -0.0000001, {"highway": "traffic_signals"}),
    (1000000007, 179.9999999, -85.0, {}),
]
WAYS = [
    (10, {"building": "yes", "name": "Box"}, [1, 2, 3, 1]),
    (11, {"highway": "residential"}, [2, 3]),
    (12, {}, [1, 1000000007]),
]
RELS = [
    (100, {"type": "multipolygon", "landuse": "park"},
     [("way", 10, "outer"), ("way", 11, "inner"), ("node", 1, "")]),
    (101, {"type": "route", "route": "bus", "network": "AC"},
     [("way", 11, ""), ("relation", 100, "sub")]),
]


def test_encode_decode_no_spark():
    blob = encode_pbf(NODES, WAYS, RELS, max_group=2)
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".osm.pbf", delete=False) as f:
        f.write(blob)
        path = f.name
    idx = scan_blob_index(path)
    assert idx[0][2] == "OSMHeader"
    data_blobs = [e for e in idx if e[2] == "OSMData"]
    # 2 dense-node groups (chunked at 2) + 2 way groups + 1 rel group
    assert len(data_blobs) == 5
    rows = []
    with open(path, "rb") as f:
        for off, size, btype in data_blobs:
            f.seek(off)
            rows.extend(decode_primitive_block(_blob_payload(memoryview(f.read(size)))))
    os.unlink(path)

    nodes = {r[1]: r for r in rows if r[0] == "node"}
    assert set(nodes) == {1, 2, 3, 1000000007}
    # coords quantized to the OSM 100-nanodegree grid
    assert abs(nodes[1][2] - -122.4194155) < 5e-8
    assert abs(nodes[1][3] - 37.7749295) < 5e-8
    assert nodes[1][4] == {"amenity": "cafe", "name": "Ritual"}
    assert nodes[2][4] == {}
    ways = {r[1]: r for r in rows if r[0] == "way"}
    assert ways[10][5] == [1, 2, 3, 1]
    assert ways[12][5] == [1, 1000000007]
    assert ways[11][4] == {"highway": "residential"}
    rels = {r[1]: r for r in rows if r[0] == "relation"}
    assert rels[100][6] == [("way", 10, "outer"), ("way", 11, "inner"), ("node", 1, "")]
    assert rels[101][6] == [("way", 11, ""), ("relation", 100, "sub")]
    assert rels[101][4]["network"] == "AC"


def test_uncompressed_blobs():
    blob = encode_pbf(NODES[:2], [], [], compress=False)
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".pbf", delete=False) as f:
        f.write(blob)
        path = f.name
    idx = scan_blob_index(path)
    with open(path, "rb") as f:
        off, size, _ = idx[1]
        f.seek(off)
        rows = decode_primitive_block(_blob_payload(memoryview(f.read(size))))
    os.unlink(path)
    assert {r[1] for r in rows} == {1, 2}


def test_spark_reader(spark, tmp_path):
    p = os.path.join(tmp_path, "mini.osm.pbf")
    with open(p, "wb") as f:
        f.write(encode_pbf(NODES, WAYS, RELS, max_group=2))
    t = read_osm_pbf(spark, p)
    assert t.nodes.count() == 4
    assert t.ways.count() == 3
    assert t.relations.count() == 2
    assert t.way_nodes.count() == 4 + 2 + 2
    assert t.relation_members.count() == 5
    wn = {
        (r["way_id"], r["seq"]): r["node_id"] for r in t.way_nodes.collect()
    }
    assert wn[(10, 0)] == 1 and wn[(10, 3)] == 1


@requires_fixture
def test_pbf_matches_xml_on_reference_fixture(spark):
    """Parity of the two raw-input formats: parse the reference's z16
    XML fixture, re-encode it as PBF, read it back, and require
    identical ids, tags, way refs, and members (coords agree to the
    PBF 100-nanodegree grid)."""
    from osmzen_spark.sources.osmxml import read_osm_xml

    x = read_osm_xml(spark, FIXTURE)
    nodes = [
        (r["node_id"], r["lon"], r["lat"], dict(r["tags"]))
        for r in x.nodes.collect()
    ]
    ways_rows = {r["way_id"]: dict(r["tags"]) for r in x.ways.collect()}
    wn: dict[int, list] = {}
    for r in x.way_nodes.orderBy("way_id", "seq").collect():
        wn.setdefault(r["way_id"], []).append(r["node_id"])
    ways = [(wid, tags, wn.get(wid, [])) for wid, tags in ways_rows.items()]
    rel_rows = {r["relation_id"]: dict(r["tags"]) for r in x.relations.collect()}
    rm: dict[int, list] = {}
    for r in x.relation_members.orderBy("relation_id", "seq").collect():
        rm.setdefault(r["relation_id"], []).append(
            (r["member_type"], r["member_id"], r["member_role"])
        )
    rels = [(rid, tags, rm.get(rid, [])) for rid, tags in rel_rows.items()]

    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".osm.pbf", delete=False) as f:
        f.write(encode_pbf(nodes, ways, rels))
        path = f.name
    p = read_osm_pbf(spark, path)
    assert p.nodes.count() == 1546
    assert p.ways.count() == 215
    assert p.relations.count() == 41
    assert p.way_nodes.count() == 1972
    assert p.relation_members.count() == 4611

    # tags + coords parity on the node table
    a = {r["node_id"]: r for r in x.nodes.collect()}
    b = {r["node_id"]: r for r in p.nodes.collect()}
    assert set(a) == set(b)
    for nid in a:
        assert dict(a[nid]["tags"]) == dict(b[nid]["tags"]), nid
        assert abs(a[nid]["lon"] - b[nid]["lon"]) < 5e-8
        assert abs(a[nid]["lat"] - b[nid]["lat"]) < 5e-8
    os.unlink(path)


@requires_fixture
def test_full_tile_from_pbf(spark, tmp_path):
    """The planet-format user story end to end: the reference's z16
    benchmark fixture re-encoded as .osm.pbf -> blob-parallel decode ->
    assembly -> all 9 layers, with the same goldens the XML full_tile
    test asserts (Terminal Tower kind/height, road kinds). Coordinate
    quantization to the PBF 100-nanodegree grid must not change any
    rule outcome at this tile."""
    from osmzen_spark.sources.osmpbf import full_tile
    from osmzen_spark.sources.osmxml import read_osm_xml
    from osmzen_spark.tiling.cells import tile_bound

    x = read_osm_xml(spark, FIXTURE)
    nodes = [
        (r["node_id"], r["lon"], r["lat"], dict(r["tags"])) for r in x.nodes.collect()
    ]
    ways_rows = {r["way_id"]: dict(r["tags"]) for r in x.ways.collect()}
    wn: dict[int, list] = {}
    for r in x.way_nodes.orderBy("way_id", "seq").collect():
        wn.setdefault(r["way_id"], []).append(r["node_id"])
    ways = [(wid, tags, wn.get(wid, [])) for wid, tags in ways_rows.items()]
    rel_rows = {r["relation_id"]: dict(r["tags"]) for r in x.relations.collect()}
    rm: dict[int, list] = {}
    for r in x.relation_members.orderBy("relation_id", "seq").collect():
        rm.setdefault(r["relation_id"], []).append(
            (r["member_type"], r["member_id"], r["member_role"])
        )
    rels = [(rid, tags, rm.get(rid, [])) for rid, tags in rel_rows.items()]
    p = os.path.join(tmp_path, "tile.osm.pbf")
    with open(p, "wb") as f:
        f.write(encode_pbf(nodes, ways, rels))

    bound = tile_bound(16, 17896, 24450)
    layers = full_tile(spark, p, zoom=16, bound=bound, cache=True)
    assert len(layers) == 9
    b = {r["name"]: r for r in layers["buildings"].collect()}
    tt = b["Terminal Tower"]
    assert tt["kind"] == "building"
    assert abs(float(tt["height"]) - 158.0) < 1e-6
    kinds = {r["kind"] for r in layers["roads"].select("kind").distinct().collect()}
    assert {"major_road", "path"} & kinds


def test_pbf_matches_xml_on_generated_city(spark, tmp_path):
    """PBF and XML of the same generated city parse to identical raw
    tables: ids, tags, way refs and relation members exactly, node
    coordinates on the 1e-7 degree grid both formats carry."""
    from osmzen_spark.sources.osmxml import read_osm_xml

    gen = perfbench_gen()

    city = gen.City(3, n_buildings=80, n_roads=120, n_pois=60, n_routes=3)
    xml_path = os.path.join(tmp_path, "city.osm")
    write_osm_xml(city, xml_path)
    p = read_osm_pbf(spark, gen.city_pbf(city, str(tmp_path)))
    x = read_osm_xml(spark, xml_path)

    def rows(df):
        out = []
        for r in df.collect():
            d = r.asDict()
            if "tags" in d:
                d["tags"] = sorted(d["tags"].items())
            for c in ("lon", "lat"):
                if c in d:
                    d[c] = round(d[c] * 1e7)
            out.append(tuple(sorted(d.items())))
        return sorted(out)

    for name in ("nodes", "ways", "way_nodes", "relations", "relation_members"):
        got, want = rows(getattr(p, name)), rows(getattr(x, name))
        assert got == want, name
    assert len(rows(p.nodes)) == len(city.nodes)
    assert len(rows(p.relation_members)) == sum(len(r[2]) for r in city.relations)
