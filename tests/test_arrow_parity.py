"""Parity: the production rule evaluator — ONE fused mapInArrow pass
over the raw elements (compiler/arrow_multilayer.py:
evaluate_all_layers_arrow + split_layer_views) — must produce
row-identical results to the Catalyst Column oracle
(CompiledLayer.evaluate over with_geometry_stats) on a probe corpus
that exercises every condition/expression/function family, with and
without a tile bound."""

from pyspark.sql import functions as F

from osmzen_spark.compiler.arrow_multilayer import evaluate_all_layers_arrow, split_layer_views
from osmzen_spark.geom.derive import STATS_COLS, geometry_from_rings, point_geometry
from osmzen_spark.pipeline.normalize import NormalizeEngine

from conftest import PARKING_GARAGE_RING, PARKING_GARAGE_TAGS, make_elements, with_geometry_stats

SQ = geometry_from_rings([[(0.0, 0.0), (0.01, 0.0), (0.01, 0.01), (0.0, 0.01)]], "Polygon")
BIG = geometry_from_rings([[(0.0, 0.0), (0.3, 0.0), (0.3, 0.3), (0.0, 0.3)]], "Polygon")
LINE = geometry_from_rings([[(0.0, 0.0), (0.01, 0.0), (0.02, 0.001)]], "LineString")
PT = point_geometry(12.3, 45.6)
PT_IN = point_geometry(0.005, 0.005)  # inside BOUND; PT is outside
BOUND = (-0.1, -0.1, 0.5, 0.5)

# layers whose Column-path plan is still cheap enough to build
# (pois/landuse cost minutes of py4j per plan — the reason the Arrow
# path exists; their parity is covered by the fixture goldens + oracle
# checks instead)
LAYERS = ["water", "earth", "places", "roads", "buildings", "boundaries", "transit"]

PROBES = [
    (1, "way", PARKING_GARAGE_TAGS, "Polygon", geometry_from_rings([PARKING_GARAGE_RING], "Polygon")),
    (2, "way", {"building": "yes", "building:levels": "7", "name": "Tower"}, "Polygon", SQ),
    (3, "node", {"amenity": "restaurant", "cuisine": "pizza", "name": "Pizza!"}, "Point", PT_IN),
    (4, "node", {"waterway": "waterfall", "height": "41m", "name": "Falls"}, "Point", PT),
    (5, "way", {"leisure": "park", "name": "Big Park"}, "Polygon", BIG),
    (6, "way", {"highway": "motorway", "name": "M1", "ref": "M 1", "network": "GB:motorway"}, "LineString", LINE),
    (7, "way", {"highway": "residential", "name": "North Main Street", "oneway": "-1"}, "LineString", LINE),
    (8, "node", {"place": "city", "name": "Bigtown", "population": "2000000", "capital": "yes"}, "Point", PT_IN),
    (9, "way", {"natural": "wood", "name": "Forest"}, "Polygon", BIG),
    (10, "node", {"tourism": "hotel", "name": "Inn (closed)"}, "Point", PT),
    (11, "way", {"aeroway": "aerodrome", "name": "Airport", "iata": "abc", "passenger_count": "2000000"}, "Polygon", BIG),
    (12, "node", {"natural": "peak", "ele": "1234", "name": "Peak"}, "Point", PT_IN),
    (13, "way", {"amenity": "parking", "parking": "multi-storey", "building": "yes", "building:levels": "3"}, "Polygon", SQ),
    (14, "node", {"shop": "supermarket", "name": "Shop"}, "Point", PT),
    (15, "way", {"landuse": "military", "military": "danger_area"}, "Polygon", BIG),
    (16, "node", {"highway": "motorway_junction", "ref": "12", "exit_to": "A1"}, "Point", PT_IN),
    (17, "way", {"waterway": "river", "name": "River"}, "LineString", LINE),
    (18, "node", {"place": "country", "name": "Land", "population": "8000000"}, "Point", PT),
    (19, "way", {"boundary": "administrative", "admin_level": "4"}, "Polygon", BIG),
    (20, "relation", {"route": "train", "service": "high_speed", "name": "X"}, "LineString", LINE),
]


def _rows(df):
    out = {}
    for r in df.collect():
        d = r.asDict()
        key = (d["id"], d.get("label_placement"), d.get("match_idx"))
        # normalize floats for comparison
        out[key] = {
            k: (round(v, 9) if isinstance(v, float) else v)
            for k, v in sorted(d.items())
            if k not in ("geometry",)
        }
    return out


def _assert_parity(spark, bound):
    elements = make_elements(spark, PROBES)
    layers = NormalizeEngine().config.layers
    union = evaluate_all_layers_arrow(elements, layers, 20, LAYERS, bound=bound)
    views = split_layer_views(union, layers, elements.columns + list(STATS_COLS), LAYERS)
    derived = with_geometry_stats(elements)
    if bound is not None:
        derived = derived.filter(
            (F.col("geom_type") != "Point") | NormalizeEngine._point_in_bound(bound)
        )
    for name in LAYERS:
        a = _rows(views[name])
        c = _rows(layers[name].evaluate(derived, 20))
        assert set(a) == set(c), f"{name}: row keys differ: {set(a) ^ set(c)}"
        for k in a:
            assert a[k] == c[k], f"{name} row {k}:\n arrow={a[k]}\n column={c[k]}"
    return views


def _ids(views):
    return {r["id"] for df in views.values() for r in df.select("id").collect()}


def test_arrow_column_parity(spark):
    ids = _ids(_assert_parity(spark, None))
    assert {8, 18} <= ids  # both place Points match unbounded


def test_arrow_column_parity_bounded(spark):
    """The bound drops out-of-bound Points inside the fused pass; the
    oracle gets the same filter up front."""
    ids = _ids(_assert_parity(spark, BOUND))
    assert 8 in ids  # in-bound Point kept
    assert 18 not in ids  # out-of-bound Point dropped
    assert {1, 6, 19} <= ids  # non-Points are never bound-filtered
