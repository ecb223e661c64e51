"""OSM->GeoJSON assembly stage (pipeline/assembly.py): way geometry
construction from raw node/way tables, polygon classification,
multipolygon stitching, and the reference's invalid-outer bound patch
(ref:process.go:301-334). The golden test feeds the parking-garage
fixture as RAW tables and reproduces the end-to-end golden that
previously required a hand-built geometry struct."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from osmzen_spark.pipeline.assembly import assemble_elements
from osmzen_spark.pipeline.normalize import NormalizeEngine

from conftest import PARKING_GARAGE_RING, PARKING_GARAGE_TAGS, with_geometry_stats
from synthetic import SF_SMALL


def _raw_tables(spark, node_rows, way_node_rows, way_rows, rel_rows=None, rel_member_rows=None):
    nodes = spark.createDataFrame(node_rows, "node_id long, lon double, lat double, tags map<string,string>")
    way_nodes = spark.createDataFrame(way_node_rows, "way_id long, seq int, node_id long")
    ways = spark.createDataFrame(way_rows, "way_id long, tags map<string,string>")
    rels = members = None
    if rel_rows is not None:
        rels = spark.createDataFrame(rel_rows, "relation_id long, tags map<string,string>")
        members = spark.createDataFrame(
            rel_member_rows,
            "relation_id long, member_type string, member_id long, member_role string, seq int",
        )
    return nodes, way_nodes, ways, rels, members


def _ring_tables(ring, way_id=1, tags=None, close=True):
    """One way from a coordinate ring; nodes ids 1..n, closed by node id."""
    node_rows = [(i + 1, lon, lat, {}) for i, (lon, lat) in enumerate(ring)]
    ids = list(range(1, len(ring) + 1))
    if close:
        ids.append(1)
    way_node_rows = [(way_id, s, nid) for s, nid in enumerate(ids)]
    way_rows = [(way_id, tags or {})]
    return node_rows, way_node_rows, way_rows


def test_parking_garage_from_raw_tables(spark):
    ring = PARKING_GARAGE_RING[:-1]  # last == first; closure is by node id
    node_rows, way_node_rows, way_rows = _ring_tables(
        ring, way_id=22942652, tags=PARKING_GARAGE_TAGS
    )
    nodes, way_nodes, ways, _, _ = _raw_tables(spark, node_rows, way_node_rows, way_rows)
    elements = assemble_elements(nodes, way_nodes, ways)

    rows = elements.collect()
    assert len(rows) == 1  # untagged nodes are geometry carriers only
    el = rows[0]
    assert el["element_type"] == "way"
    assert el["geom_type"] == "Polygon"
    assert len(el["geometry"]["xs"]) == len(ring) + 1  # closed

    engine = NormalizeEngine()
    layers = engine.process(elements, zoom=20)
    b = layers["buildings"].collect()
    assert len(b) == 1
    row = b[0].asDict()
    assert row["area"] == 11528.0
    assert row["height"] == 23.0
    assert row["volume"] == 265144.0
    assert row["min_zoom"] == 13.0
    assert row["kind"] == "building"
    assert row["kind_detail"] == "parking_garage"


def test_open_way_is_linestring(spark):
    node_rows = [(1, 0.0, 0.0, {}), (2, 0.001, 0.0, {}), (3, 0.001, 0.001, {})]
    way_node_rows = [(7, 0, 1), (7, 1, 2), (7, 2, 3)]
    way_rows = [(7, {"highway": "residential", "name": "A St"})]
    nodes, way_nodes, ways, _, _ = _raw_tables(spark, node_rows, way_node_rows, way_rows)
    el = assemble_elements(nodes, way_nodes, ways).collect()[0]
    assert el["geom_type"] == "LineString"


def test_closed_highway_is_line_unless_area(spark):
    ring = [(0.0, 0.0), (0.001, 0.0), (0.001, 0.001), (0.0, 0.001)]
    # closed residential loop: still a line (highway not in whitelist)
    node_rows, way_node_rows, way_rows = _ring_tables(ring, tags={"highway": "residential"})
    nodes, way_nodes, ways, _, _ = _raw_tables(spark, node_rows, way_node_rows, way_rows)
    assert assemble_elements(nodes, way_nodes, ways).collect()[0]["geom_type"] == "LineString"
    # area=yes overrides
    node_rows, way_node_rows, way_rows = _ring_tables(
        ring, tags={"highway": "residential", "area": "yes"}
    )
    nodes, way_nodes, ways, _, _ = _raw_tables(spark, node_rows, way_node_rows, way_rows)
    assert assemble_elements(nodes, way_nodes, ways).collect()[0]["geom_type"] == "Polygon"
    # area=no overrides the building rule
    node_rows, way_node_rows, way_rows = _ring_tables(
        ring, tags={"building": "yes", "area": "no"}
    )
    nodes, way_nodes, ways, _, _ = _raw_tables(spark, node_rows, way_node_rows, way_rows)
    assert assemble_elements(nodes, way_nodes, ways).collect()[0]["geom_type"] == "LineString"


def test_multipolygon_stitch_two_open_outers_plus_hole(spark):
    # outer square split into two open ways (1-2-3 and 3-4-1), inner
    # hole as one closed way; member ways untagged -> only the relation
    # becomes a feature
    node_rows = [
        (1, 0.0, 0.0, {}), (2, 0.01, 0.0, {}), (3, 0.01, 0.01, {}), (4, 0.0, 0.01, {}),
        (5, 0.004, 0.004, {}), (6, 0.006, 0.004, {}), (7, 0.006, 0.006, {}), (8, 0.004, 0.006, {}),
    ]
    way_node_rows = (
        [(101, s, n) for s, n in enumerate([1, 2, 3])]
        + [(102, s, n) for s, n in enumerate([3, 4, 1])]
        + [(103, s, n) for s, n in enumerate([5, 6, 7, 8, 5])]
    )
    way_rows = [(101, {}), (102, {}), (103, {})]
    rel_rows = [(900, {"type": "multipolygon", "natural": "water", "name": "Lake"})]
    rel_member_rows = [
        (900, "way", 101, "outer", 0),
        (900, "way", 102, "outer", 1),
        (900, "way", 103, "inner", 2),
    ]
    nodes, way_nodes, ways, rels, members = _raw_tables(
        spark, node_rows, way_node_rows, way_rows, rel_rows, rel_member_rows
    )
    rows = assemble_elements(nodes, way_nodes, ways, rels, members).collect()
    assert len(rows) == 1
    el = rows[0]
    assert el["element_type"] == "relation"
    assert el["geom_type"] == "Polygon"
    g = el["geometry"]
    assert list(g["ring_roles"]) == [0, 1]
    assert g["ring_lens"][0] == 5  # stitched outer: 4 corners + closure
    assert g["ring_lens"][1] == 5

    # area = outer - hole via the engine's geometry kernel
    stats = with_geometry_stats(spark.createDataFrame([el.asDict()])).collect()[0]
    outer_only = assemble_elements(
        nodes, way_nodes,
        spark.createDataFrame([(101, {})], "way_id long, tags map<string,string>"),
        rels,
        spark.createDataFrame(rel_member_rows[:2],
            "relation_id long, member_type string, member_id long, member_role string, seq int"),
    ).collect()[0]
    outer_stats = with_geometry_stats(spark.createDataFrame([outer_only.asDict()])).collect()[0]
    assert 0 < stats["area"] < outer_stats["area"]


def test_multipolygon_missing_outer_gets_bound_patch(spark):
    # inner-only relation: the reference patches the missing outer with
    # a padded bound ring (ref:process.go:317-331)
    node_rows = [(5, 0.4, 0.4, {}), (6, 0.6, 0.4, {}), (7, 0.6, 0.6, {}), (8, 0.4, 0.6, {})]
    way_node_rows = [(103, s, n) for s, n in enumerate([5, 6, 7, 8, 5])]
    way_rows = [(103, {})]
    rel_rows = [(901, {"type": "multipolygon", "natural": "water"})]
    rel_member_rows = [(901, "way", 103, "inner", 0)]
    nodes, way_nodes, ways, rels, members = _raw_tables(
        spark, node_rows, way_node_rows, way_rows, rel_rows, rel_member_rows
    )
    bound = (0.0, 0.0, 1.0, 1.0)
    el = assemble_elements(nodes, way_nodes, ways, rels, members, bound=bound).collect()[0]
    g = el["geometry"]
    assert list(g["ring_roles"]) == [0, 1]
    # outer is the bound padded by its own width on each side
    assert min(g["xs"][:5]) == -1.0 and max(g["xs"][:5]) == 2.0


def test_assemble_buildings_matches_element_path(spark):
    """The raw->assembled->normalized path produces exactly the same
    buildings-layer rows as the element path (test_oracles checks both
    against the same DuckDB oracle)."""
    from test_oracles import q_assemble_buildings, q_normalize_buildings

    a = q_assemble_buildings(spark, SF_SMALL).collect()
    b = q_normalize_buildings(spark, SF_SMALL).collect()
    assert len(a) == len(b) > 0
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
