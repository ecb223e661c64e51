"""OSM -> GeoJSON-feature assembly: raw (nodes, way_nodes, ways,
relations, relation_members) tables -> engine-schema elements with
constructed geometries.

The reference converts raw OSM to GeoJSON features before any rule
evaluation (ref:process.go:301-334 via paulmach/osm/osmgeojson with
IncludeInvalidPolygons; missing multipolygon outer rings are patched
with a padded bound ring, ref:process.go:317-331). This module is the
Spark-first equivalent:

* way geometry  = way_nodes |><| node coords, groupBy way_id with a
  sequence-sorted collect_list — one equi-join + one aggregation, both
  shuffling on way_id/node_id only (SURVEY.md §1.1).
* polygon-vs-line classification is the standard osm-polygon-features
  ruleset (closed ring + area-ish tag, with `area=yes/no` override),
  evaluated as pure Columns.
* multipolygon/boundary relations stitch member-way rings in a
  grouped applyInArrow keyed on relation_id (relations are a sliver of
  OSM and members per relation are bounded; the stitch is endpoint
  matching, inherently per-relation sequential). Unclosable outer
  rings get the reference's padded-bound patch ring; unclosable
  inners are dropped. Member ways that are missing, or have fewer
  than 2 nodes, add no ring, and a relation left with no usable
  member becomes no feature. Likewise a tagged way with fewer than 2
  resolvable nodes has no drawable line and becomes no feature (the
  MVT encoder would emit it with empty geometry).
* a node whose coordinate is not a WGS84 position (NaN, infinite,
  |lat| > 90 or |lon| > 180) counts as absent: it is no feature and
  no vertex of its ways, so those ways keep their other nodes under
  the rule above (the MVT sink would write such a node at tile row 0
  with int64-overflowed vertex coordinates).

At 100 TB the two shuffles here (node join, way/relation grouping) are
the natural partitioning of OSM assembly; everything downstream is the
normal engine pipeline.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from osmzen_spark.geom.derive import GEOMETRY_TYPE, _flat
from osmzen_spark.geom.mercator import WORLD_BOUND, wgs84_position

# osm-polygon-features ruleset (the table osmgeojson follows): a closed
# way with one of these tags is a Polygon. True = any value except
# "no"; ("whitelist", [...]) = only these values; ("blacklist", [...])
# = any value except these (and "no").
POLYGON_TAGS: dict[str, object] = {
    "building": True,
    "building:part": True,
    "landuse": True,
    "amenity": True,
    "leisure": True,
    "shop": True,
    "boundary": True,
    "place": True,
    "tourism": True,
    "historic": True,
    "office": True,
    "military": True,
    "public_transport": True,
    "craft": True,
    "golf": True,
    "indoor": True,
    "area:highway": True,
    "ruins": True,
    "highway": ("whitelist", ["services", "rest_area", "escape", "elevator"]),
    "railway": ("whitelist", ["station", "turntable", "roundhouse", "platform"]),
    "waterway": ("whitelist", ["riverbank", "dock", "boatyard", "dam"]),
    "barrier": ("whitelist", ["city_wall", "ditch", "hedge", "retaining_wall", "wall", "spikes"]),
    "power": ("whitelist", ["plant", "substation", "generator", "transformer"]),
    "natural": ("blacklist", ["coastline", "cliff", "ridge", "arete", "tree_row"]),
    "aeroway": ("blacklist", ["taxiway"]),
    "man_made": ("blacklist", ["cutline", "embankment", "pipeline"]),
}


def _is_polygon_tags_col(tags):
    """Boolean Column: do these tags make a closed way a Polygon?"""
    area = F.lower(F.coalesce(F.element_at(tags, F.lit("area")), F.lit("")))
    explicit_yes = area.isin("yes", "true", "1")
    explicit_no = area.isin("no", "false", "0")
    by_key = F.lit(False)
    for key, rule in POLYGON_TAGS.items():
        v = F.element_at(tags, F.lit(key))
        if rule is True:
            hit = v.isNotNull() & (v != "no")
        elif rule[0] == "whitelist":
            hit = v.isin(*rule[1])
        else:
            hit = v.isNotNull() & (v != "no") & ~v.isin(*rule[1])
        by_key = by_key | hit
    return ~explicit_no & (explicit_yes | by_key)


def assemble_way_coords(nodes: DataFrame, way_nodes: DataFrame) -> DataFrame:
    """(way_id, xs, ys, closed): ordered coordinate arrays per way.

    closed is by NODE ID (first member node == last), the OSM notion of
    ring closure, not float coordinate equality."""
    pts = way_nodes.join(
        nodes.select("node_id", "lon", "lat"), on="node_id", how="inner"
    ).select("way_id", "seq", "node_id", "lon", "lat")
    agg = pts.groupBy("way_id").agg(
        F.array_sort(F.collect_list(F.struct("seq", "node_id", "lon", "lat"))).alias("__p")
    )
    return agg.select(
        "way_id",
        F.transform("__p", lambda p: p["lon"]).alias("xs"),
        F.transform("__p", lambda p: p["lat"]).alias("ys"),
        (
            (F.size("__p") >= 4)
            & (F.element_at("__p", 1)["node_id"] == F.element_at("__p", -1)["node_id"])
        ).alias("closed"),
    )


_REL_STITCH_SCHEMA = T.StructType(
    [
        T.StructField("relation_id", T.LongType()),
        T.StructField("geom_type", T.StringType()),
        T.StructField("geometry", GEOMETRY_TYPE),
    ]
)


def _stitch_relation_factory(bound):
    minx, miny, maxx, maxy = bound
    # reference: pad the bound by its own width (ref:process.go:318)
    w, h = maxx - minx, maxy - miny
    patch_ring = (
        [minx - w, maxx + w, maxx + w, minx - w, minx - w],
        [miny - h, miny - h, maxy + h, maxy + h, miny - h],
    )

    arrow_schema = to_arrow_schema(_REL_STITCH_SCHEMA)

    def stitch(table):
        import pyarrow.compute as pc

        rid = table.column("relation_id")[0].as_py()
        if "seq" in table.column_names:
            table = table.take(pc.sort_indices(table, [("seq", "ascending")]))
        xs_all, pt_off = _flat(table.column("xs"))
        ys_all, _ = _flat(table.column("ys"))
        segs = {"outer": [], "inner": []}
        for i, role in enumerate(table.column("member_role").to_pylist()):
            a, b = pt_off[i], pt_off[i + 1]
            if b - a >= 2:
                segs["inner" if role == "inner" else "outer"].append(
                    (xs_all[a:b].tolist(), ys_all[a:b].tolist())
                )

        def close_rings(parts):
            """Endpoint-match open ways into closed rings. Returns
            (rings, leftover_open_count)."""
            rings = []
            open_parts = []
            for xs, ys in parts:
                if len(xs) >= 4 and xs[0] == xs[-1] and ys[0] == ys[-1]:
                    rings.append((xs, ys))
                else:
                    open_parts.append((xs, ys))
            # greedy endpoint matching
            while open_parts:
                cx, cy = open_parts.pop(0)
                progress = True
                while progress and not (cx[0] == cx[-1] and cy[0] == cy[-1]):
                    progress = False
                    for i, (ox, oy) in enumerate(open_parts):
                        if (cx[-1], cy[-1]) == (ox[0], oy[0]):
                            cx, cy = cx + ox[1:], cy + oy[1:]
                        elif (cx[-1], cy[-1]) == (ox[-1], oy[-1]):
                            cx, cy = cx + ox[-2::-1], cy + oy[-2::-1]
                        elif (cx[0], cy[0]) == (ox[-1], oy[-1]):
                            cx, cy = ox + cx[1:], oy + cy[1:]
                        elif (cx[0], cy[0]) == (ox[0], oy[0]):
                            cx, cy = ox[::-1] + cx[1:], oy[::-1] + cy[1:]
                        else:
                            continue
                        open_parts.pop(i)
                        progress = True
                        break
                if len(cx) >= 4 and cx[0] == cx[-1] and cy[0] == cy[-1]:
                    rings.append((cx, cy))
                else:
                    rings.append(None)  # unclosable
            return rings

        outers = close_rings(segs["outer"])
        inners = [r for r in close_rings(segs["inner"]) if r is not None]
        # reference patch: invalid/missing outer ring -> padded bound
        # ring (ref:process.go:317-331); inners without any outer keep
        # the patch as their outer.
        n_bad = sum(1 for r in outers if r is None)
        outers = [r for r in outers if r is not None]
        if n_bad or (not outers and inners):
            outers.append(patch_ring)
        if not outers:
            return arrow_schema.empty_table()

        xs_flat: list[float] = []
        ys_flat: list[float] = []
        lens: list[int] = []
        roles: list[int] = []
        for xs, ys in outers:
            xs_flat += xs
            ys_flat += ys
            lens.append(len(xs))
            roles.append(0)
        for xs, ys in inners:
            xs_flat += xs
            ys_flat += ys
            lens.append(len(xs))
            roles.append(1)
        geometry = {"xs": xs_flat, "ys": ys_flat, "ring_lens": lens, "ring_roles": roles}
        gt = "MultiPolygon" if len(outers) > 1 else "Polygon"
        return pa.Table.from_pylist(
            [{"relation_id": rid, "geom_type": gt, "geometry": geometry}], schema=arrow_schema
        )

    return stitch


def assemble_elements(
    nodes: DataFrame,
    way_nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame | None = None,
    relation_members: DataFrame | None = None,
    bound: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Raw OSM tables -> engine elements schema.

    nodes:            (node_id, lon, lat, tags)
    way_nodes:        (way_id, seq, node_id)
    ways:             (way_id, tags)
    relations:        (relation_id, tags)                       [optional]
    relation_members: (relation_id, member_type, member_id,
                       member_role, seq)                        [optional]

    Only tagged nodes/ways/relations become features (untagged elements
    exist purely as geometry carriers), matching osmgeojson's
    "interesting elements" behavior."""
    # drop nodes with no WGS84 position (module docstring)
    nodes = nodes.filter(wgs84_position(F.col("lon"), F.col("lat")))
    coords = assemble_way_coords(nodes, way_nodes)

    tagged = F.size("tags") > 0

    node_feats = nodes.filter(tagged).select(
        F.col("node_id").alias("element_id"),
        F.lit("node").alias("element_type"),
        "tags",
        F.lit("Point").alias("geom_type"),
        F.struct(
            F.array(F.col("lon")).alias("xs"),
            F.array(F.col("lat")).alias("ys"),
            F.array(F.lit(1)).alias("ring_lens"),
            F.array(F.lit(0)).alias("ring_roles"),
        ).alias("geometry"),
    )

    # a way needs 2 resolved nodes to be a line (module docstring)
    w = ways.filter(tagged).join(coords.filter(F.size("xs") >= 2), on="way_id", how="inner")
    is_poly = F.col("closed") & _is_polygon_tags_col(F.col("tags"))
    way_feats = w.select(
        F.col("way_id").alias("element_id"),
        F.lit("way").alias("element_type"),
        "tags",
        F.when(is_poly, F.lit("Polygon")).otherwise(F.lit("LineString")).alias("geom_type"),
        F.struct(
            F.col("xs"),
            F.col("ys"),
            F.array(F.size("xs")).alias("ring_lens"),
            F.array(F.lit(0)).alias("ring_roles"),
        ).alias("geometry"),
    )

    out = node_feats.unionByName(way_feats)

    if relations is not None and relation_members is not None:
        mp = relations.filter(
            tagged
            & F.element_at(F.col("tags"), F.lit("type")).isin("multipolygon", "boundary")
        )
        mem = (
            relation_members.filter(F.col("member_type") == "way")
            .join(mp.select("relation_id"), on="relation_id", how="left_semi")
            .join(
                coords.select(F.col("way_id").alias("member_id"), "xs", "ys"),
                on="member_id",
                how="inner",
            )
        )
        stitched = mem.groupBy("relation_id").applyInArrow(
            _stitch_relation_factory(bound or WORLD_BOUND), schema=_REL_STITCH_SCHEMA
        )
        rel_feats = mp.join(stitched, on="relation_id", how="inner").select(
            F.col("relation_id").alias("element_id"),
            F.lit("relation").alias("element_type"),
            "tags",
            "geom_type",
            "geometry",
        )
        out = out.unionByName(rel_feats)
    return out
