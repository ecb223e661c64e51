"""GeoJSON source & sink — the reference's user-facing feature format.

`Config.Process` returns `map[layer]*geojson.FeatureCollection` and the
filter/transform pipeline consumes GeoJSON features whose properties
are the OSM tags (ref:process.go:22,83-127, ref:process.go:301-334 via
osmgeojson). This module gives the Spark engine the same surface:

* read:  line-delimited GeoJSON (one Feature per line — the layout a
  100 TB corpus actually uses) -> the engine's element schema, parsed
  entirely JVM-side: `get_json_object` lifts the raw coordinates JSON
  out of each line and a per-geometry-type `from_json` + higher-order
  flatten builds the flat (xs, ys, ring_lens, ring_roles) struct. No
  Python touches the hot path. Whole-file FeatureCollections are
  supported by a per-file splitter (`collections_to_lines`) that emits
  one feature-JSON line per row and reuses the same JVM parser.
* write: features -> GeoJSON line strings with typed properties
  (`to_json(struct(...))`, numbers stay numbers), again pure Columns;
  `write_geojson_lines` lands them as text files, and
  `feature_collections` re-assembles the reference's exact return
  shape (a {layer: FeatureCollection dict}) driver-side for
  tile-sized results.

Geometry support: Point, MultiPoint, LineString, MultiLineString,
Polygon, MultiPolygon — holes and multi-parts encoded with the
engine's ring_roles convention (0 = outer/part, 1 = hole; a new
polygon starts at each role-0 ring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from osmzen_spark.geom.mercator import wgs84_position


# ---------------------------------------------------------------- read

def _pairs_geometry(pairs: Column) -> dict[str, Column]:
    """array<array<double>> of [lon,lat] pairs -> single-ring pieces."""
    return {
        "xs": F.transform(pairs, lambda p: p[0]),
        "ys": F.transform(pairs, lambda p: p[1]),
        "lens": F.array(F.size(pairs)),
        "roles": F.array(F.lit(0)),
    }


def _rings_geometry(rings: Column, holes_after_first: bool) -> dict[str, Column]:
    """array of rings (each array<array<double>>) -> flat pieces.
    holes_after_first: Polygon semantics (ring 0 outer, rest holes);
    False: MultiLineString (every part role 0)."""
    flat = F.flatten(rings)
    roles = (
        F.transform(
            F.sequence(F.lit(0), F.size(rings) - 1),
            lambda i: F.when(i == 0, F.lit(0)).otherwise(F.lit(1)),
        )
        if holes_after_first
        else F.transform(rings, lambda _: F.lit(0))
    )
    return {
        "xs": F.transform(flat, lambda p: p[0]),
        "ys": F.transform(flat, lambda p: p[1]),
        "lens": F.transform(rings, lambda r: F.size(r)),
        "roles": roles,
    }


def parse_geojson_features(
    lines: DataFrame, json_col: str = "value"
) -> DataFrame:
    """One GeoJSON Feature JSON string per row -> engine element rows
    (element_id, element_type, tags, geom_type, geometry).

    Feature ids of the osmgeojson form "way/123" split into
    element_type/element_id; other ids hash to a stable synthetic id
    with element_type='feature'. Properties become the tags map with
    JSON scalars coerced to strings (the reference's tag model)."""
    j = F.col(json_col)
    gt = F.get_json_object(j, "$.geometry.type")
    coords = F.get_json_object(j, "$.geometry.coordinates")
    fid = F.get_json_object(j, "$.id")

    point = F.from_json(coords, "array<double>")
    pairs = F.from_json(coords, "array<array<double>>")
    rings = F.from_json(coords, "array<array<array<double>>>")
    polys = F.from_json(coords, "array<array<array<array<double>>>>")

    line = _pairs_geometry(pairs)
    poly = _rings_geometry(rings, holes_after_first=True)
    mline = _rings_geometry(rings, holes_after_first=False)
    # MultiPolygon: flatten one level to rings; roles restart at each
    # polygon's first ring
    mp_rings = F.flatten(polys)
    mpoly = {
        "xs": F.transform(F.flatten(mp_rings), lambda p: p[0]),
        "ys": F.transform(F.flatten(mp_rings), lambda p: p[1]),
        "lens": F.transform(mp_rings, lambda r: F.size(r)),
        "roles": F.flatten(
            F.transform(
                polys,
                lambda pr: F.transform(
                    F.sequence(F.lit(0), F.size(pr) - 1),
                    lambda i: F.when(i == 0, F.lit(0)).otherwise(F.lit(1)),
                ),
            )
        ),
    }

    point_geom = {
        "xs": F.array(point[0]),
        "ys": F.array(point[1]),
        "lens": F.array(F.lit(1)),
        "roles": F.array(F.lit(0)),
    }

    def pick(field: str) -> Column:
        return (
            F.when(gt == "Point", point_geom[field])
            .when(gt.isin("LineString", "MultiPoint"), line[field])
            .when(gt == "Polygon", poly[field])
            .when(gt == "MultiLineString", mline[field])
            .when(gt == "MultiPolygon", mpoly[field])
        )

    supported_types = (
        "Point", "MultiPoint", "LineString", "MultiLineString", "Polygon", "MultiPolygon"
    )

    geometry = F.struct(
        pick("xs").alias("xs"),
        pick("ys").alias("ys"),
        pick("lens").cast("array<int>").alias("ring_lens"),
        pick("roles").cast("array<int>").alias("ring_roles"),
    )

    has_osm_id = fid.rlike("^(node|way|relation)/[0-9]+$")
    element_type = F.when(has_osm_id, F.split(fid, "/")[0]).otherwise(F.lit("feature"))
    element_id = F.when(has_osm_id, F.split(fid, "/")[1].cast("long")).otherwise(
        F.xxhash64(F.coalesce(fid, j))
    )

    return lines.select(
        element_id.alias("element_id"),
        element_type.alias("element_type"),
        F.coalesce(
            F.from_json(F.get_json_object(j, "$.properties"), "map<string,string>"),
            F.from_json(F.lit("{}"), "map<string,string>"),
        ).alias("tags"),
        gt.alias("geom_type"),
        geometry.alias("geometry"),
    ).filter(
        F.col("geom_type").isin(*supported_types)
        # a feature with any vertex outside WGS84 is dropped whole, like
        # an assembly node with no WGS84 position
        & F.forall(F.zip_with("geometry.xs", "geometry.ys", wgs84_position), lambda ok: ok)
    )


def read_geojson_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line-delimited GeoJSON (one Feature per line) -> element rows.
    Text splits give full scan parallelism — this is the 100 TB
    layout; FeatureCollection files go through
    `read_feature_collections`."""
    return parse_geojson_features(spark.read.text(path), "value")


def collections_to_lines(spark: SparkSession, path: str) -> DataFrame:
    """FeatureCollection file(s) -> one Feature JSON string per row.

    A FeatureCollection is a single JSON document, so the file is the
    parallelism unit (same contract as the OSM XML source); the
    per-feature JSON is re-emitted verbatim and all real parsing
    happens JVM-side in `parse_geojson_features`."""
    import json

    import pyarrow as pa

    files = spark.read.format("binaryFile").load(path).select("content")

    def gen(batches):
        for batch in batches:
            out = []
            for blob in batch.column(0).to_pylist():
                doc = json.loads(blob)
                feats = doc["features"] if doc.get("type") == "FeatureCollection" else [doc]
                out.extend(json.dumps(f, separators=(",", ":")) for f in feats)
            yield pa.RecordBatch.from_arrays([pa.array(out, type=pa.string())], names=["value"])

    return files.mapInArrow(gen, "value string")


def read_feature_collections(spark: SparkSession, path: str) -> DataFrame:
    return parse_geojson_features(collections_to_lines(spark, path))


# --------------------------------------------------------------- write

def _num(c: Column) -> Column:
    # Java shortest-round-trip double repr — valid JSON, re-parses to
    # the identical double
    return c.cast("string")


def geometry_json(geom: Column, geom_type: Column) -> Column:
    """(geometry struct, geom_type) -> GeoJSON geometry object text,
    pure Columns (ring slicing via higher-order functions)."""
    xs, ys = geom.getField("xs"), geom.getField("ys")
    lens = geom.getField("ring_lens")
    roles = geom.getField("ring_roles")
    pairs = F.zip_with(xs, ys, lambda x, y: F.concat(F.lit("["), _num(x), F.lit(","), _num(y), F.lit("]")))

    # ring start offsets: sum of prior lens (rings per feature are few,
    # so the O(R^2) prefix sum is noise)
    ring_idx = F.sequence(F.lit(0), F.size(lens) - 1)
    ring_json = F.transform(
        ring_idx,
        lambda i: F.concat(
            F.lit("["),
            F.concat_ws(
                ",",
                F.slice(
                    pairs,
                    F.aggregate(F.slice(lens, 1, i), F.lit(0), lambda a, b: a + b) + 1,
                    F.element_at(lens, i + 1),
                ),
            ),
            F.lit("]"),
        ),
    )

    point = F.element_at(pairs, 1)
    linestring = F.concat(F.lit("["), F.concat_ws(",", pairs), F.lit("]"))
    polygon = F.concat(F.lit("["), F.concat_ws(",", ring_json), F.lit("]"))
    # MultiPolygon: open a new polygon at each role-0 ring
    grouped = F.aggregate(
        F.zip_with(ring_json, roles, lambda r, role: F.struct(r.alias("r"), role.alias("role"))),
        F.lit("").alias("acc"),
        lambda acc, x: F.concat(
            acc,
            F.when(x.getField("role") == 0, F.when(acc == "", F.lit("[")).otherwise(F.lit("],[")))
            .otherwise(F.lit(",")),
            x.getField("r"),
        ),
    )
    # zero rings would otherwise serialize as the malformed "[]]"
    # (grouped is "" so no "[" is ever opened)
    multipolygon = F.when(F.size(lens) == 0, F.lit("[]")).otherwise(
        F.concat(F.lit("["), grouped, F.lit("]"), F.lit("]"))
    )

    body = (
        F.when(geom_type == "Point", point)
        .when(geom_type.isin("LineString", "MultiPoint"), linestring)
        .when(geom_type.isin("Polygon", "MultiLineString"), polygon)
        .when(geom_type == "MultiPolygon", multipolygon)
    )
    return F.concat(
        F.lit('{"type":"'), geom_type, F.lit('","coordinates":'), body, F.lit("}")
    )


def feature_json(
    df: DataFrame,
    property_cols: list[str] | None = None,
    geometry_col: str = "geometry",
    type_col: str = "geom_type",
    id_cols: tuple[str, str] | None = ("element_type", "element_id"),
) -> DataFrame:
    """df -> one `value` column of GeoJSON Feature lines. Properties
    keep their column types (`to_json(struct)`), so ints/doubles stay
    JSON numbers."""
    if property_cols is None and "tags" in df.columns:
        # engine element rows: the tags map IS the properties object
        # (the reference's osmgeojson conversion, ref:process.go:301)
        props = F.coalesce(F.to_json(F.col("tags")), F.lit("{}"))
    else:
        if property_cols is None:
            skip = {geometry_col, type_col}
            if id_cols:
                skip |= set(id_cols)
            property_cols = [c for c in df.columns if c not in skip]
        props = F.to_json(F.struct(*[F.col(c) for c in property_cols]))
    # a NULL in either id column must degrade to "no id", not nullify
    # the whole feature line through concat's null propagation
    id_part = (
        F.when(
            F.col(id_cols[0]).isNotNull() & F.col(id_cols[1]).isNotNull(),
            F.concat(
                F.lit('"id":"'),
                F.col(id_cols[0]),
                F.lit("/"),
                F.col(id_cols[1]).cast("string"),
                F.lit('",'),
            ),
        ).otherwise(F.lit(""))
        if id_cols
        else F.lit("")
    )
    return df.select(
        F.concat(
            F.lit('{"type":"Feature",'),
            id_part,
            F.lit('"properties":'),
            props,
            F.lit(',"geometry":'),
            geometry_json(F.col(geometry_col), F.col(type_col)),
            F.lit("}"),
        ).alias("value")
    )


def process_geojson(
    spark,
    path: str,
    zoom: int = 16,
    bound: tuple[float, float, float, float] | None = None,
    engine=None,
    **process_kw,
):
    """The reference's `Config.ProcessGeoJSON` analog
    (ref:benchmarks_test.go:233 BenchmarkProcessGeoJSON): features that
    are ALREADY assembled GeoJSON — no OSM node/way/relation assembly —
    run straight through every layer's filter/transform/postprocess.
    Input is line-delimited Feature JSON at `path`; returns
    {layer_name: DataFrame}. Way/relation membership context is absent
    in flat GeoJSON (pass relation_members/way_nodes via process_kw if
    you have them from elsewhere)."""
    from osmzen_spark.pipeline.normalize import NormalizeEngine

    elements = read_geojson_lines(spark, path)
    eng = engine or NormalizeEngine()
    return eng.process(elements, zoom=zoom, bound=bound, **process_kw)


def write_geojson_lines(df: DataFrame, path: str, **feature_kw) -> None:
    """Land features as line-delimited GeoJSON text (one file per
    partition — the distributed sink)."""
    feature_json(df, **feature_kw).write.mode("overwrite").text(path)


def feature_collections(layers: dict[str, DataFrame], **feature_kw) -> dict[str, dict]:
    """Driver-side re-assembly of the reference's return type
    (map[layer]*geojson.FeatureCollection, ref:process.go:22). For
    tile-sized results only — this collects; the distributed sink is
    `write_geojson_lines`."""
    import json

    return {
        name: {
            "type": "FeatureCollection",
            "features": [
                json.loads(r["value"]) for r in feature_json(df, **feature_kw).collect()
            ],
        }
        for name, df in layers.items()
    }
