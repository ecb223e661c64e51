"""Membership-join derived columns (pipeline.membership): semantics per
ref:filter/functions.go:120-383 (is_bus_route, cycling/hiking network,
rel networks, path-major-route zoom, highway-level gate zoom)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osmzen_spark.geom.derive import geometry_from_rings
from osmzen_spark.pipeline.membership import with_membership_columns
from osmzen_spark.pipeline.normalize import NormalizeEngine

from conftest import make_elements
from synthetic import SF_SMALL, synthetic_network

LINE = [[(0.0, 0.0), (0.01, 0.0)]]

REL_SCHEMA = T.StructType(
    [
        T.StructField("relation_id", T.LongType()),
        T.StructField("member_type", T.StringType()),
        T.StructField("member_id", T.LongType()),
        T.StructField("rel_tags", T.MapType(T.StringType(), T.StringType())),
    ]
)

WAYNODE_SCHEMA = T.StructType(
    [
        T.StructField("way_id", T.LongType()),
        T.StructField("node_id", T.LongType()),
        T.StructField("way_tags", T.MapType(T.StringType(), T.StringType())),
    ]
)


def _rels(spark, rows):
    return spark.createDataFrame(
        [dict(zip(("relation_id", "member_type", "member_id", "rel_tags"), r)) for r in rows],
        schema=REL_SCHEMA,
    )


def _way_nodes(spark, rows):
    return spark.createDataFrame(
        [dict(zip(("way_id", "node_id", "way_tags"), r)) for r in rows], schema=WAYNODE_SCHEMA
    )


def _ways(spark, tags_list):
    geom = geometry_from_rings(LINE, "LineString")
    return make_elements(
        spark, [(i + 1, "way", t, "LineString", geom) for i, t in enumerate(tags_list)]
    )


def _collect(df):
    return {r["element_id"]: r.asDict() for r in df.collect()}


def test_is_bus_route_and_networks(spark):
    ways = _ways(spark, [{"highway": "residential"}, {"highway": "residential"}])
    rels = _rels(
        spark,
        [
            # bus route on way 1 (ref:functions.go:163-180)
            (100, "way", 1, {"type": "route", "route": "bus", "ref": "12"}),
            # non-route relation on way 2 -> not a bus route
            (101, "way", 2, {"type": "multipolygon", "route": "bus"}),
            # triple qualifies: route + ref (network empty)
            (102, "way", 1, {"type": "route", "route": "road", "ref": "A1"}),
            # no network AND no ref -> excluded from mz_networks
            (103, "way", 1, {"type": "route", "route": "road"}),
        ],
    )
    out = _collect(with_membership_columns(ways, relation_members=rels))
    assert out[1]["is_bus_route"] is True
    assert out[2]["is_bus_route"] is None
    nets = [(t["route"], t["network"], t["ref"]) for t in out[1]["mz_networks"]]
    # ascending relation_id order (engine's deterministic ordering)
    assert nets == [("bus", "", "12"), ("road", "", "A1")]
    assert out[2]["mz_networks"] is None


def test_cycling_network_priority_and_tag_fallbacks(spark):
    ways = _ways(
        spark,
        [
            {"highway": "cycleway"},                      # 1: rcn via relation
            {"highway": "cycleway", "icn": "yes"},        # 2: icn tag wins
            {"highway": "cycleway", "ncn_ref": "5"},      # 3: ncn tag fallback beats rcn count
            {"highway": "cycleway"},                      # 4: nothing -> NULL
            {"highway": "cycleway", "lcn": "yes"},        # 5: rcn count beats lcn tag
        ],
    )
    rcn = {"type": "route", "route": "bicycle", "network": "rcn"}
    rels = _rels(
        spark,
        [
            (200, "way", 1, rcn),
            (201, "way", 3, rcn),
            (202, "way", 5, rcn),
            # wrong route type: network ignored (isPathMajorRouteRelation)
            (203, "way", 4, {"type": "route", "route": "road", "network": "icn"}),
        ],
    )
    out = _collect(with_membership_columns(ways, relation_members=rels))
    assert out[1]["mz_cycling_network"] == "rcn"
    assert out[2]["mz_cycling_network"] == "icn"
    assert out[3]["mz_cycling_network"] == "ncn"
    assert out[4]["mz_cycling_network"] is None
    assert out[5]["mz_cycling_network"] == "rcn"


def test_hiking_network_no_tag_fallback(spark):
    ways = _ways(spark, [{"highway": "path", "nwn": "yes"}, {"highway": "path"}])
    rels = _rels(
        spark,
        [
            (300, "way", 2, {"type": "route", "route": "hiking", "network": "rwn"}),
            (301, "way", 2, {"type": "route", "route": "foot", "network": "nwn"}),
        ],
    )
    out = _collect(with_membership_columns(ways, relation_members=rels))
    # tags do NOT feed hiking network (ref:functions.go:182-229)
    assert out[1]["mz_hiking_network"] is None
    assert out[2]["mz_hiking_network"] == "nwn"


def test_path_major_route_min_zoom(spark):
    ways = _ways(spark, [{"highway": "path"}, {"highway": "path"}, {"highway": "path"}])
    rels = _rels(
        spark,
        [
            (400, "way", 1, {"type": "route", "route": "bicycle", "network": "rcn"}),  # 10
            (401, "way", 1, {"type": "route", "route": "hiking", "network": "iwn"}),   # 9
            (402, "way", 2, {"type": "route", "route": "hiking", "network": "lwn"}),   # 12
        ],
    )
    out = _collect(with_membership_columns(ways, relation_members=rels))
    assert out[1]["path_major_route_min_zoom"] == 9.0
    assert out[2]["path_major_route_min_zoom"] == 12.0
    assert out[3]["path_major_route_min_zoom"] == 20.0  # default, no relations


def test_gate_min_zoom_through_pois_layer(spark):
    from osmzen_spark.geom.derive import geometry_from_rings as gfr

    pt = gfr([[(0.0, 0.0)]], "Point")
    nodes = make_elements(
        spark,
        [
            (10, "node", {"barrier": "gate"}, "Point", pt),   # on motorway -> 14
            (11, "node", {"barrier": "gate"}, "Point", pt),   # on secondary+path -> max(15,16)=16
            (12, "node", {"barrier": "gate"}, "Point", pt),   # no ways -> 17
            (13, "node", {"barrier": "stile"}, "Point", pt),  # unknown highway -> 17
        ],
    )
    wn = _way_nodes(
        spark,
        [
            (1, 10, {"highway": "motorway"}),
            (2, 11, {"highway": "secondary"}),
            (3, 11, {"highway": "path"}),
            (4, 13, {"highway": "proposed"}),
        ],
    )
    engine = NormalizeEngine()
    layers = engine.process(nodes, zoom=20, layer_names=["pois"], way_nodes=wn)
    rows = {r["id"]: r.asDict() for r in layers["pois"].collect()}
    assert rows[10]["kind"] == "gate" and rows[10]["min_zoom"] == 14.0
    assert rows[10]["kind_detail"] == "gate"
    assert rows[11]["min_zoom"] == 16.0
    assert rows[12]["min_zoom"] == 17.0
    assert rows[13]["min_zoom"] == 17.0 and rows[13]["kind_detail"] == "stile"


def test_roads_layer_with_memberships(spark):
    """End-to-end: roads rules consume the membership-derived columns
    (bicycle_network output, path min_zoom clamp, is_bus_route)."""
    ways = _ways(
        spark,
        [
            {"highway": "path"},                       # 1: path major route -> low zoom
            {"highway": "path"},                       # 2: plain path
            {"highway": "residential", "name": "X"},   # 3: bus route
        ],
    )
    rels = _rels(
        spark,
        [
            (500, "way", 1, {"type": "route", "route": "bicycle", "network": "icn", "ref": "1"}),
            (501, "way", 3, {"type": "route", "route": "bus", "ref": "7"}),
        ],
    )
    engine = NormalizeEngine()
    layers = engine.process(ways, zoom=20, layer_names=["roads"], relation_members=rels)
    rows = {r["id"]: r.asDict() for r in layers["roads"].collect()}
    assert rows[1]["bicycle_network"] == "icn"
    assert rows[1]["min_zoom"] <= 8.0
    assert rows[2]["bicycle_network"] is None
    assert rows[2]["min_zoom"] > rows[1]["min_zoom"]
    if "is_bus_route" in rows[3]:
        assert rows[3]["is_bus_route"] in (True, None)


def test_synthetic_network_datagen(spark):
    elements, rels, wn = synthetic_network(spark, SF_SMALL)
    assert elements.filter(F.col("element_type") == "node").count() > 0
    assert rels.count() > 0 and wn.count() > 0
    derived = with_membership_columns(
        elements, relation_members=rels, way_nodes=wn
    )
    row = (
        derived.filter(F.col("mz_cycling_network").isNotNull())
        .select("mz_cycling_network")
        .first()
    )
    assert row is not None
