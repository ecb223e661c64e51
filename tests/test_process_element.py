"""ProcessElement preference-order semantics (ref:process.go:28-69) and
the scale-safety escape hatch of hot-key-bounded dedup."""

import pyspark.sql.functions as F

from osmzen_spark.geom.derive import geometry_from_rings
from osmzen_spark.pipeline.normalize import NormalizeEngine

from conftest import PARKING_GARAGE_RING, PARKING_GARAGE_TAGS, make_elements

SQ = geometry_from_rings([[(0.0, 0.0), (0.01, 0.0), (0.01, 0.01), (0.0, 0.01)]], "Polygon")


def test_process_element_preference_order(spark):
    """An element matching several layers classifies as the FIRST layer
    in pois->roads->buildings->landuse->... order; one row per element,
    never a label twin."""
    elements = make_elements(
        spark,
        [
            # parking garage: matches pois AND buildings -> pois wins
            (1, "way", PARKING_GARAGE_TAGS, "Polygon",
             geometry_from_rings([PARKING_GARAGE_RING], "Polygon")),
            # plain building: buildings only
            (2, "way", {"building": "yes", "building:levels": "3", "name": "T"}, "Polygon", SQ),
            # military landuse polygon: landuse only
            (3, "way", {"landuse": "military", "military": "danger_area"}, "Polygon", SQ),
            # named wood: matches pois (landuse wood rule) and landuse -> pois
            (4, "way", {"landuse": "wood", "name": "Forest"}, "Polygon", SQ),
            # road: roads
            (5, "way", {"highway": "residential", "name": "A St"}, "LineString",
             geometry_from_rings([[(0.0, 0.0), (0.01, 0.001)]], "LineString")),
        ],
    )
    engine = NormalizeEngine()
    out = engine.process_element(elements, zoom=20).collect()
    by_id = {r["id"]: r for r in out}
    assert len(out) == 5  # exactly one row per element
    assert by_id[1]["zen_layer"] == "pois"
    assert by_id[1]["kind"] == "parking_garage"
    assert by_id[2]["zen_layer"] == "buildings"
    assert by_id[3]["zen_layer"] == "landuse"
    assert by_id[4]["zen_layer"] == "pois"
    assert by_id[5]["zen_layer"] == "roads"
    for r in out:
        assert r["label_placement"] is None  # original feature, not the label twin


def test_dedup_hot_key_bounded(spark):
    """A pathological key (many same-name points) is sub-bucketed by
    supercell: no single greedy group holds the whole key, results stay
    deterministic, and nearby duplicates are still dropped."""
    from osmzen_spark.pipeline.postprocess import remove_duplicate_features

    n = 3000  # > hot_key_threshold below
    # min_distance 256px converts to ~52.7m here (the pixel->meter
    # factor derives from the WORLD_BOUND corner at lat -85, a faithful
    # reference quirk); 0.0002 deg ~ 22.2m spacing makes each point
    # conflict with its two predecessors -> greedy keeps every 3rd.
    df = spark.range(n).select(
        F.col("id"),
        F.lit("way").alias("type"),
        F.lit("Point").alias("geom_type"),
        F.lit("Starbucks").alias("name"),
        F.lit("cafe").alias("kind"),
        (F.col("id") * 0.0002).alias("clon"),
        F.lit(0.0).alias("clat"),
    )
    params = {
        "source_layer": "pois",
        "end_zoom": 16,
        "property_keys": ["name", "kind"],
        "geometry_types": ["Point"],
        "min_distance": 256.0,
        "hot_key_threshold": 500,
    }
    out = remove_duplicate_features({"pois": df}, 16, params)["pois"]
    kept = sorted(r["id"] for r in out.collect())
    # deterministic, dropped a large fraction, never empty
    assert 0 < len(kept) < n
    kept2 = sorted(r["id"] for r in remove_duplicate_features({"pois": df}, 16, params)["pois"].collect())
    assert kept == kept2
    # unbounded-exactness reference on a small prefix: greedy over the
    # first 100 ids keeps every 3rd point (22.2m spacing, 52.7m radius)
    small = df.filter(F.col("id") < 100)
    params_small = dict(params, hot_key_threshold=4096)
    kept_small = sorted(
        r["id"] for r in remove_duplicate_features({"pois": small}, 16, params_small)["pois"].collect()
    )
    assert kept_small[0] == 0
    diffs = {b - a for a, b in zip(kept_small, kept_small[1:])}
    assert diffs == {3}, diffs


def test_dedup_cross_layer_first_wins(spark):
    """Cross-layer dedup (ref:queries.yaml:1027, functions.go:510-538):
    ONE shared deduper over source_layers in order — a landuse or
    buildings label point duplicating a pois name within range is
    dropped even though they live in different layers, and the pois
    point wins regardless of id order."""
    from osmzen_spark.pipeline.postprocess import remove_duplicate_features

    def mk(rows):
        return spark.createDataFrame(
            [(i, "node", "Point", n, lon, lat) for i, n, lon, lat in rows],
            "id long, type string, geom_type string, name string, clon double, clat double",
        )

    # pois id 9 deliberately HIGHER than the landuse/buildings ids: the
    # win must come from layer order, not id order
    pois = mk([(9, "Central Park", 0.0, 0.0), (10, "Elsewhere", 10.0, 10.0)])
    landuse = mk([(1, "Central Park", 0.000001, 0.0), (2, "Far Meadow", 20.0, 20.0)])
    buildings = mk([(3, "Central Park", 0.0, 0.000001)])
    params = {
        "source_layers": ["pois", "landuse", "buildings"],
        "end_zoom": 16,
        "property_keys": ["name"],
        "geometry_types": ["Point"],
        "min_distance": 64.0,
    }
    out = remove_duplicate_features(
        {"pois": pois, "landuse": landuse, "buildings": buildings}, 16, params
    )
    assert sorted(r["id"] for r in out["pois"].collect()) == [9, 10]
    assert sorted(r["id"] for r in out["landuse"].collect()) == [2]
    assert out["buildings"].count() == 0


def test_dedup_cross_layer_same_id_keeps_first_layer(spark):
    """One element in two source layers: the pois row and the buildings
    row share (id, type) and name, 0.1 m apart. The dedup drops only
    the later layer's row; an anti-join that ignored the layer rank of
    the dropped row would remove the pois row as well."""
    from osmzen_spark.pipeline.postprocess import remove_duplicate_features

    def mk(lat):
        return spark.createDataFrame(
            [(5, "way", "Point", "Museum", 0.0, lat)],
            "id long, type string, geom_type string, name string, clon double, clat double",
        )

    params = {
        "source_layers": ["pois", "landuse", "buildings"],
        "end_zoom": 16,
        "property_keys": ["name"],
        "geometry_types": ["Point"],
        "min_distance": 64.0,
    }
    # 0.1 m of latitude is ~9e-7 degrees
    out = remove_duplicate_features({"pois": mk(0.0), "buildings": mk(9e-7)}, 16, params)
    assert [(r["id"], r["type"]) for r in out["pois"].collect()] == [(5, "way")]
    assert out["buildings"].count() == 0
