"""Deterministic synthetic input tables for the tests, derived from
the sf* parquet tables (TESTDATA.md): no external data, pure Column
math (no UDFs, no RNG), reproducible at any scale factor.

* ``synthetic_elements``      — OSM-tagged elements (tags map + polygon/
  line/point geometry) in the FIXTURES.md §1 shape, one per lineitem row.
* ``synthetic_raw_buildings`` — raw (nodes, way_nodes, ways) tables that
  assemble into exactly the building slice of ``synthetic_elements``.
* ``synthetic_network``       — road/path ways, gate nodes and route
  relation memberships, one way per orders row.
* ``write_osm_xml``           — an OSM XML file of a city given as node,
  way and relation tuples (perfbench's ``gen.City``), the XML twin of
  perfbench's PBF writer for the parse tests.

Element classes cycle deterministically (key mod 18): buildings with
levels (polygon), parking garages, parks, schools, restaurants with
cuisine, waterfalls with heights, hotels, supermarkets, entrances,
address points, towns with population, beaches, woods, military areas,
railway stations, admin-boundary relations, water and subway routes —
chosen to exercise every implemented layer.

The module imports nothing from the tests, so ``spark-submit`` can ship
it next to the engine zip (``--py-files dist.zip,tests/synthetic.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the sf* tables of TESTDATA.md
TESTDATA_DIR = "/root/testdata"
SF_SMALL = f"{TESTDATA_DIR}/sf0.001"
SF_TILING = f"{TESTDATA_DIR}/sf0.01"

# meters per degree latitude (approx, only used to size synthetic polygons)
_M_PER_DEG = 111320.0


def _square_geometry(lon, lat, side_m):
    """Axis-aligned closed square (Polygon) around (lon, lat)."""
    dlat = side_m / F.lit(2.0 * _M_PER_DEG)
    dlon = side_m / (F.lit(2.0 * _M_PER_DEG) * F.cos(F.radians(lat)))
    return F.struct(
        F.array(lon - dlon, lon + dlon, lon + dlon, lon - dlon, lon - dlon).alias("xs"),
        F.array(lat - dlat, lat - dlat, lat + dlat, lat + dlat, lat - dlat).alias("ys"),
        F.array(F.lit(5)).alias("ring_lens"),
        F.array(F.lit(0)).alias("ring_roles"),
    )


def _point_geometry(lon, lat):
    return F.struct(
        F.array(lon).alias("xs"),
        F.array(lat).alias("ys"),
        F.array(F.lit(1)).alias("ring_lens"),
        F.array(F.lit(0)).alias("ring_roles"),
    )


def synthetic_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One element per lineitem row; all attributes are deterministic
    functions of (l_orderkey, l_linenumber)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # the sf* inputs are single small parquet files (1-3 splits); spread
    # them across the executor cores up front so the pipeline's
    # parallelism isn't capped by the file count
    li = li.repartition(spark.sparkContext.defaultParallelism)
    key = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")

    df = li.select(
        key.alias("element_id"),
        F.pmod(key * 9973, F.lit(360_000_000)).alias("_lon_m"),
        F.pmod(key * 7919, F.lit(150_000_000)).alias("_lat_m"),
        F.pmod(key, F.lit(18)).cast("int").alias("cls"),
        F.pmod(key, F.lit(25)).cast("int").alias("lvl"),
        (F.pmod(key, F.lit(140)) + 10).cast("int").alias("side"),
    )
    lon = (F.col("_lon_m") / 1_000_000.0 - 180.0).alias("lon")
    lat = (F.col("_lat_m") / 1_000_000.0 - 75.0).alias("lat")
    df = df.select("element_id", "cls", "lvl", "side", lon, lat)

    lon, lat = F.col("lon"), F.col("lat")
    cls = F.col("cls")
    lvl_s = (F.col("lvl") + 1).cast("string")
    side = F.col("side").cast("double")
    name = F.concat(F.lit("feature "), F.col("element_id").cast("string"))

    # polygons: buildings / parking / park / school / beach / wood /
    # military / admin boundary / water; subway routes are lines; the
    # rest are points
    is_polygon = cls.isin(0, 1, 2, 3, 11, 12, 13, 15, 16)
    is_line = cls == 17
    tags = (
        F.when(cls == 0, F.create_map(
            F.lit("building"), F.lit("yes"),
            F.lit("building:levels"), lvl_s,
            F.lit("name"), name,
        ))
        .when(cls == 1, F.create_map(
            F.lit("building"), F.lit("yes"),
            F.lit("amenity"), F.lit("parking"),
            F.lit("parking"), F.lit("multi-storey"),
            F.lit("building:levels"), lvl_s,
        ))
        .when(cls == 2, F.create_map(
            F.lit("leisure"), F.lit("park"),
            F.lit("name"), name,
        ))
        .when(cls == 3, F.create_map(
            F.lit("amenity"), F.lit("school"),
            F.lit("building"), F.lit("yes"),
            F.lit("name"), name,
        ))
        .when(cls == 4, F.create_map(
            F.lit("amenity"), F.lit("restaurant"),
            F.lit("cuisine"), F.lit("pizza"),
            F.lit("name"), name,
        ))
        .when(cls == 5, F.create_map(
            F.lit("waterway"), F.lit("waterfall"),
            F.lit("height"), F.concat((F.col("lvl") * 20 + 1).cast("string"), F.lit("m")),
            F.lit("name"), name,
        ))
        .when(cls == 6, F.create_map(
            F.lit("tourism"), F.lit("hotel"),
            F.lit("name"), name,
        ))
        .when(cls == 7, F.create_map(
            F.lit("shop"), F.lit("supermarket"),
            F.lit("name"), name,
        ))
        .when(cls == 8, F.create_map(
            F.lit("entrance"), F.lit("main"),
        ))
        .when(cls == 9, F.create_map(
            F.lit("addr:housenumber"), lvl_s,
            F.lit("addr:street"), F.lit("Main Street"),
        ))
        .when(cls == 10, F.create_map(
            F.lit("place"), F.lit("town"),
            F.lit("name"), name,
            F.lit("population"), ((F.col("lvl") + 1) * 4000).cast("string"),
        ))
        .when(cls == 11, F.create_map(
            F.lit("natural"), F.lit("beach"),
            F.lit("surface"), F.lit("sand"),
            F.lit("name"), name,
        ))
        .when(cls == 12, F.create_map(
            F.lit("natural"), F.lit("wood"),
            F.lit("name"), name,
        ))
        .when(cls == 13, F.create_map(
            F.lit("landuse"), F.lit("military"),
            F.lit("military"), F.lit("danger_area"),
        ))
        .when(cls == 14, F.create_map(
            F.lit("railway"), F.lit("station"),
            F.lit("name"), name,
        ))
        .when(cls == 15, F.create_map(
            F.lit("boundary"), F.lit("administrative"),
            F.lit("admin_level"), F.lit("4"),
            F.lit("name"), name,
        ))
        .when(cls == 16, F.create_map(
            F.lit("natural"), F.lit("water"),
            F.lit("name"), name,
        ))
        .otherwise(F.create_map(
            F.lit("type"), F.lit("route"),
            F.lit("route"), F.lit("subway"),
            F.lit("name"), name,
            F.lit("colour"), F.lit("#0000ff"),
        ))
    )

    geometry = (
        F.when(is_polygon, _square_geometry(lon, lat, side))
        .when(is_line, _line_geometry(lon, lat, side / F.lit(50_000.0), side / F.lit(80_000.0)))
        .otherwise(_point_geometry(lon, lat))
    )
    geom_type = (
        F.when(is_polygon, F.lit("Polygon"))
        .when(is_line, F.lit("LineString"))
        .otherwise(F.lit("Point"))
    )

    element_type = (
        F.when(cls.isin(15, 17), F.lit("relation"))
        .when(is_polygon, F.lit("way"))
        .otherwise(F.lit("node"))
    )
    return df.select(
        "element_id",
        element_type.alias("element_type"),
        tags.alias("tags"),
        geom_type.alias("geom_type"),
        geometry.alias("geometry"),
        "lon",
        "lat",
    )


def _line_geometry(lon, lat, dlon, dlat):
    """Two-point LineString."""
    return F.struct(
        F.array(lon, lon + dlon).alias("xs"),
        F.array(lat, lat + dlat).alias("ys"),
        F.array(F.lit(2)).alias("ring_lens"),
        F.array(F.lit(0)).alias("ring_roles"),
    )


_CORNER_NODE_BASE = 1_000_000_000_000


def synthetic_raw_buildings(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """RAW OSM tables (nodes, way_nodes, ways) that assemble — via
    pipeline.assembly — into exactly the building-slice elements of
    ``synthetic_elements`` (classes 0/1/3 square building ways and
    8/9 entrance/address nodes). The corner coordinates reuse the very
    same Column expressions as the element generator, so the assembled
    geometry is double-identical and the normalize_buildings DuckDB
    oracle applies unchanged to the raw->assembled->normalized path
    (ref:process.go:301-334 end-to-end).

    nodes:     (node_id, lon, lat, tags) — 4 untagged geometry-carrier
               corners per way + tagged entrance/address point nodes
    way_nodes: (way_id, seq, node_id) — closed ring [0,1,2,3,0]
    ways:      (way_id, tags)
    """
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li = li.repartition(spark.sparkContext.defaultParallelism)
    key = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")
    base = li.select(
        key.alias("k"),
        (F.pmod(key * 9973, F.lit(360_000_000)) / 1_000_000.0 - 180.0).alias("lon"),
        (F.pmod(key * 7919, F.lit(150_000_000)) / 1_000_000.0 - 75.0).alias("lat"),
        F.pmod(key, F.lit(18)).cast("int").alias("cls"),
        F.pmod(key, F.lit(25)).cast("int").alias("lvl"),
        (F.pmod(key, F.lit(140)) + 10).cast("int").alias("side"),
    ).filter(F.col("cls").isin(0, 1, 3, 8, 9))

    lon, lat, cls = F.col("lon"), F.col("lat"), F.col("cls")
    lvl_s = (F.col("lvl") + 1).cast("string")
    side = F.col("side").cast("double")
    name = F.concat(F.lit("feature "), F.col("k").cast("string"))

    b = base.filter(cls.isin(0, 1, 3))
    # identical float ops to _square_geometry
    dlat = side / F.lit(2.0 * _M_PER_DEG)
    dlon = side / (F.lit(2.0 * _M_PER_DEG) * F.cos(F.radians(lat)))
    corners = F.array(
        F.struct(F.lit(0).alias("j"), (lon - dlon).alias("clon"), (lat - dlat).alias("clat")),
        F.struct(F.lit(1).alias("j"), (lon + dlon).alias("clon"), (lat - dlat).alias("clat")),
        F.struct(F.lit(2).alias("j"), (lon + dlon).alias("clon"), (lat + dlat).alias("clat")),
        F.struct(F.lit(3).alias("j"), (lon - dlon).alias("clon"), (lat + dlat).alias("clat")),
    )
    corner_nodes = b.select(F.col("k"), F.explode(corners).alias("c")).select(
        (F.lit(_CORNER_NODE_BASE) + F.col("k") * 4 + F.col("c.j")).alias("node_id"),
        F.col("c.clon").alias("lon"),
        F.col("c.clat").alias("lat"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )

    ring = [(s, j) for s, j in enumerate([0, 1, 2, 3, 0])]
    way_nodes = b.select(
        F.col("k").alias("way_id"),
        F.explode(
            F.array(*[F.struct(F.lit(s).alias("seq"), F.lit(j).alias("j")) for s, j in ring])
        ).alias("m"),
    ).select(
        "way_id",
        F.col("m.seq").alias("seq"),
        (F.lit(_CORNER_NODE_BASE) + F.col("way_id") * 4 + F.col("m.j")).alias("node_id"),
    )

    way_tags = (
        F.when(cls == 0, F.create_map(
            F.lit("building"), F.lit("yes"),
            F.lit("building:levels"), lvl_s,
            F.lit("name"), name,
        ))
        .when(cls == 1, F.create_map(
            F.lit("building"), F.lit("yes"),
            F.lit("amenity"), F.lit("parking"),
            F.lit("parking"), F.lit("multi-storey"),
            F.lit("building:levels"), lvl_s,
        ))
        .otherwise(F.create_map(
            F.lit("amenity"), F.lit("school"),
            F.lit("building"), F.lit("yes"),
            F.lit("name"), name,
        ))
    )
    ways = b.select(F.col("k").alias("way_id"), way_tags.alias("tags"))

    point_tags = F.when(cls == 8, F.create_map(F.lit("entrance"), F.lit("main"))).otherwise(
        F.create_map(
            F.lit("addr:housenumber"), lvl_s,
            F.lit("addr:street"), F.lit("Main Street"),
        )
    )
    point_nodes = base.filter(cls.isin(8, 9)).select(
        F.col("k").alias("node_id"), "lon", "lat", point_tags.alias("tags")
    )
    return corner_nodes.unionByName(point_nodes), way_nodes, ways


_WAY_BASE = 10_000_000_000
_GATE_BASE = 20_000_000_000
_BIKE_REL_BASE = 30_000_000_000
_BUS_REL_BASE = 40_000_000_000
_HIKE_REL_BASE = 50_000_000_000

_BIKE_NETS = ["icn", "ncn", "rcn", "lcn"]
_HIKE_NETS = ["iwn", "nwn", "rwn", "lwn"]


def synthetic_network(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Deterministic road/path elements + membership tables, one way per
    orders row. Exercises the membership-join functions
    (pipeline.membership): bicycle/bus/hiking route relations and gate
    nodes on ways of varying highway class.

    Returns (elements, relation_members, way_nodes):

    * elements — LineString ways (highway classes cycle key%7) plus a
      barrier=gate node on every even-keyed way, in the standard
      elements schema.
    * relation_members — (relation_id, member_type, member_id, rel_tags):
      key%3==0 ways belong to a bicycle route (network cycles
      icn/ncn/rcn/lcn), key%5==0 to a bus route, key%7==0 to a hiking
      route (iwn/nwn/rwn/lwn).
    * way_nodes — (way_id, node_id, way_tags) linking each gate node to
      its containing way.
    """
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o = o.repartition(spark.sparkContext.defaultParallelism)
    key = F.col("o_orderkey").cast("long")
    base = o.select(
        key.alias("k"),
        (F.pmod(key * 6151, F.lit(360_000_000)) / 1_000_000.0 - 180.0).alias("lon"),
        (F.pmod(key * 4271, F.lit(150_000_000)) / 1_000_000.0 - 75.0).alias("lat"),
        F.pmod(key, F.lit(7)).cast("int").alias("cls"),
    )
    return _network_from_base(base)


def _network_from_base(base: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    k, lon, lat, cls = F.col("k"), F.col("lon"), F.col("lat"), F.col("cls")
    hw = F.element_at(
        F.array(*[F.lit(h) for h in
                  ["cycleway", "path", "footway", "residential", "motorway", "secondary", "track"]]),
        cls + 1,
    )
    name = F.concat(F.lit("way "), k.cast("string"))
    way_tags = (
        F.when(cls == 4, F.create_map(
            F.lit("highway"), hw, F.lit("name"), name,
            F.lit("ref"), F.concat(F.lit("I "), F.pmod(k, F.lit(99)).cast("string")),
            F.lit("network"), F.lit("US:I"),
        ))
        .when(cls.isin(3, 5), F.create_map(F.lit("highway"), hw, F.lit("name"), name))
        .otherwise(F.create_map(F.lit("highway"), hw))
    )
    dlon = (F.pmod(k, F.lit(50)) + 5) / 100_000.0
    dlat = (F.pmod(k, F.lit(30)) + 5) / 100_000.0
    ways = base.select(
        (k + F.lit(_WAY_BASE)).alias("element_id"),
        F.lit("way").alias("element_type"),
        way_tags.alias("tags"),
        F.lit("LineString").alias("geom_type"),
        _line_geometry(lon, lat, dlon, dlat).alias("geometry"),
        lon.alias("lon"),
        lat.alias("lat"),
    )

    gates = base.filter(F.pmod(k, F.lit(2)) == 0).select(
        (k + F.lit(_GATE_BASE)).alias("element_id"),
        F.lit("node").alias("element_type"),
        F.create_map(F.lit("barrier"), F.lit("gate")).alias("tags"),
        F.lit("Point").alias("geom_type"),
        _point_geometry(lon, lat).alias("geometry"),
        lon.alias("lon"),
        lat.alias("lat"),
    )
    elements = ways.unionByName(gates)

    way_nodes = base.filter(F.pmod(k, F.lit(2)) == 0).select(
        (k + F.lit(_WAY_BASE)).alias("way_id"),
        (k + F.lit(_GATE_BASE)).alias("node_id"),
        way_tags.alias("way_tags"),
    )

    def rel(filter_mod: int, rel_base: int, tags: F.Column) -> DataFrame:
        return base.filter(F.pmod(k, F.lit(filter_mod)) == 0).select(
            (k + F.lit(rel_base)).alias("relation_id"),
            F.lit("way").alias("member_type"),
            (k + F.lit(_WAY_BASE)).alias("member_id"),
            tags.alias("rel_tags"),
        )

    bike_net = F.element_at(F.array(*[F.lit(n) for n in _BIKE_NETS]), F.pmod(k, F.lit(4)).cast("int") + 1)
    hike_net = F.element_at(F.array(*[F.lit(n) for n in _HIKE_NETS]), F.pmod(k, F.lit(4)).cast("int") + 1)
    bike = rel(3, _BIKE_REL_BASE, F.create_map(
        F.lit("type"), F.lit("route"), F.lit("route"), F.lit("bicycle"),
        F.lit("network"), bike_net,
        F.lit("ref"), F.pmod(k, F.lit(100)).cast("string"),
    ))
    bus = rel(5, _BUS_REL_BASE, F.create_map(
        F.lit("type"), F.lit("route"), F.lit("route"), F.lit("bus"),
        F.lit("ref"), F.pmod(k, F.lit(20)).cast("string"),
    ))
    hike = rel(7, _HIKE_REL_BASE, F.create_map(
        F.lit("type"), F.lit("route"), F.lit("route"), F.lit("hiking"),
        F.lit("network"), hike_net,
        F.lit("ref"), F.pmod(k, F.lit(50)).cast("string"),
    ))
    relation_members = bike.unionByName(bus, allowMissingColumns=False).unionByName(hike)
    return elements, relation_members, way_nodes


def write_osm_xml(city, path: str) -> None:
    """The OSM XML twin of perfbench's PBF writer: ``city.nodes`` as
    ``(id, lon, lat, tags)``, ``city.ways`` as ``(id, tags, refs)`` and
    ``city.relations`` as ``(id, tags, [(type, ref, role)])``."""
    from xml.sax.saxutils import quoteattr

    def tags(t):
        return "".join(f"<tag k={quoteattr(k)} v={quoteattr(v)}/>" for k, v in t.items())

    lines = ['<?xml version="1.0" encoding="UTF-8"?>', '<osm version="0.6">']
    for nid, lon, lat, t in city.nodes:
        lines.append(f'<node id="{nid}" lon="{lon!r}" lat="{lat!r}">{tags(t)}</node>')
    for wid, t, refs in city.ways:
        nds = "".join(f'<nd ref="{r}"/>' for r in refs)
        lines.append(f'<way id="{wid}">{nds}{tags(t)}</way>')
    for rid, t, members in city.relations:
        ms = "".join(
            f'<member type="{mt}" ref="{m}" role={quoteattr(role)}/>' for mt, m, role in members
        )
        lines.append(f'<relation id="{rid}">{ms}{tags(t)}</relation>')
    lines.append("</osm>")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
