"""Per-feature transforms (SURVEY.md §2.F): pure property edits
(ref:transform/transforms.go), expressed as **expression-level**
functions over a property dict: ``fn(props, ctx, zoom)`` mutates
``props`` (name -> Column). No DataFrame ops — ``apply_transforms``
folds a layer's whole transform chain into ONE projection over the
layer frame, so transforms cost zero extra passes/shuffles.

Setting ``props[k] = None``-valued Column (F.lit(None)) == deleting the
property; ``props.pop(k)`` removes the output column entirely (only
safe when no other layer emits k — the engine handles unioning).
"""
from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmzen_spark.compiler.context import EvalContext
from osmzen_spark.compiler.functions import to_float_meters_col, try_double

CARDINALS = {
    "north": 0.0, "n": 0.0, "nne": 22.0, "ne": 45.0, "ene": 67.0,
    "east": 90.0, "e": 90.0, "ese": 112.0, "se": 135.0, "sse": 157.0,
    "south": 180.0, "s": 180.0, "ssw": 202.0, "sw": 225.0, "wsw": 247.0,
    "west": 270.0, "w": 270.0, "wnw": 292.0, "nw": 315.0, "nnw": 337.0,
}

# NB: F.lit() needs an active SparkContext, so NULL columns are built
# lazily inside functions, never at module import time


def _null_s() -> Column:
    return F.lit(None).cast("string")


def _null_d() -> Column:
    return F.lit(None).cast("double")


def _get_s(props, key) -> Column:
    c = props.get(key)
    return c.cast("string") if c is not None else _null_s()


def _get_d(props, key) -> Column:
    c = props.get(key)
    return try_double(c.cast("string")) if c is not None else _null_d()


def t_parse_layer_as_float(props, ctx, zoom):
    """layer -> float else drop (ref:transforms.go:399-410)."""
    if "layer" in props:
        props["layer"] = _get_d(props, "layer")


def t_building_height(props, ctx, zoom):
    """height property from Context.Height(); 0 -> absent
    (ref:transforms.go:95-100)."""
    props["height"] = F.nullif(ctx.height(), F.lit(0.0))


def t_building_min_height(props, ctx, zoom):
    """min_height float, else building_min_levels*3, else absent
    (ref:transforms.go:102-116)."""
    min_h = _get_d(props, "min_height")
    levels = _get_d(props, "building_min_levels")
    from_levels = F.when(levels.isNotNull(), F.greatest(levels, F.lit(0.0)) * 3)
    props["min_height"] = F.coalesce(min_h, from_levels)


def t_synthesize_volume(props, ctx, zoom):
    """floor(area * height) when both present (ref:transforms.go:118-126)."""
    if "area" not in props or "height" not in props:
        return
    area = props["area"].cast("double")
    height = props["height"].cast("double")
    props["volume"] = F.when(
        area.isNotNull() & height.isNotNull(), F.floor(area * height).cast("double")
    )


def t_building_trim_properties(props, ctx, zoom):
    """drop building/building_part/building_levels/building_min_levels
    (ref:transforms.go:128-133)."""
    for c in ("building", "building_part", "building_levels", "building_min_levels"):
        props.pop(c, None)


def t_normalize_tourism_kind(props, ctx, zoom):
    """zoo/attraction tags override kind (ref:transforms.go:485-499)."""
    zoo = _get_s(props, "zoo")
    attr = _get_s(props, "attraction")
    promoted = F.coalesce(zoo, attr)
    if "kind" in props:
        props["kind"] = F.coalesce(promoted, props["kind"])
    if "zoo" in props or "attraction" in props:
        tourism = _get_s(props, "tourism")
        props["tourism"] = F.when(promoted.isNotNull(), F.lit("attraction")).otherwise(tourism)


def t_detect_osm_relation(props, ctx, zoom):
    """type == relation -> osm_relation true (ref:transforms.go:89-93)."""
    props["osm_relation"] = F.when(props["type"] == "relation", F.lit(True))


def t_make_representative_point(props, ctx, zoom):
    """polygon -> centroid point geometry (ref:transforms.go:432-434)."""
    if "geometry" not in props:
        return
    is_poly = props["geom_type"].isin("Polygon", "MultiPolygon")
    point = F.struct(
        F.array(props["clon"]).alias("xs"),
        F.array(props["clat"]).alias("ys"),
        F.array(F.lit(1)).alias("ring_lens"),
        F.array(F.lit(0)).alias("ring_roles"),
    )
    props["geometry"] = F.when(is_poly, point).otherwise(props["geometry"])
    props["geom_type"] = F.when(is_poly, F.lit("Point")).otherwise(props["geom_type"])


def t_height_to_meters(props, ctx, zoom):
    """height TAG parse -> meters else drop the property
    (ref:transforms.go:546-560: reads the original tag stash)."""
    tag = ctx.tag_str("height")
    parsed = to_float_meters_col(tag)
    height_col = props["height"].cast("double") if "height" in props else _null_d()
    props["height"] = F.when(tag == "", height_col).otherwise(parsed)


def t_elevation_to_meters(props, ctx, zoom):
    """elevation property parse -> meters else drop (ref:transforms.go:561-573)."""
    if "elevation" not in props:
        return
    ev = F.coalesce(props["elevation"].cast("string"), F.lit(""))
    props["elevation"] = F.when(ev == "", F.lit(None)).otherwise(to_float_meters_col(ev))


def t_pois_capacity_int(props, ctx, zoom):
    """capacity -> floor(float) else drop (ref:transforms.go:269-287)."""
    if "capacity" in props:
        props["capacity"] = F.floor(_get_d(props, "capacity")).cast("double")


def t_pois_direction_int(props, ctx, zoom):
    """direction string -> degrees (numbers truncated mod 360, cardinal
    names mapped); unparseable -> 0 (faithful to ref:transforms.go:289-299
    + util/utils.go:129-152)."""
    if "direction" not in props:
        return
    raw = props["direction"]
    d = F.lower(F.trim(raw.cast("string")))
    num = try_double(d)
    card = F.element_at(
        F.create_map(*[F.lit(v) for kv in sorted(CARDINALS.items()) for v in kv]), d
    )
    deg = F.coalesce(F.pmod(num.cast("long"), F.lit(360)).cast("double"), card, F.lit(0.0))
    props["direction"] = F.when(raw.isNotNull(), deg)


def t_major_airport_detector(props, ctx, zoom):
    """aerodrome passenger heuristics (ref:transforms.go:238-267)."""
    if "kind" not in props:
        return
    detail = F.coalesce(_get_s(props, "kind_detail"), F.lit(""))
    passengers = F.coalesce(_get_d(props, "passenger_count"), F.lit(0.0))
    is_aero = props["kind"] == "aerodrome"
    props["kind_detail"] = (
        F.when(is_aero & (detail != "international") & (passengers > 1000000), F.lit("international"))
        .when(is_aero & (detail == "") & (passengers > 10000), F.lit("regional"))
        .otherwise(F.nullif(detail, F.lit("")))
    )


def t_place_population_int(props, ctx, zoom):
    """population -> floor(float) else drop (ref:transforms.go:191-198)."""
    if "population" in props:
        props["population"] = F.floor(_get_d(props, "population")).cast("double")


# population_rank 18-break table (ref:transforms.go:200-235)
_POPULATION_BREAKS = [
    1000000000, 100000000, 50000000, 20000000, 10000000, 5000000, 1000000,
    500000, 200000, 100000, 50000, 20000, 10000, 5000, 2000, 1000, 200, 0,
]


def t_population_rank(props, ctx, zoom):
    pop = F.coalesce(_get_d(props, "population"), F.lit(0.0))
    out = None
    for i, b in enumerate(_POPULATION_BREAKS):
        c = pop >= F.lit(float(b))
        v = F.lit(len(_POPULATION_BREAKS) - i)
        out = F.when(c, v) if out is None else out.when(c, v)
    props["population_rank"] = out.otherwise(F.lit(0)).cast("double")


def t_admin_level_as_int(props, ctx, zoom):
    """admin_level -> floor(float) else drop (ref:transforms.go:312-322)."""
    if "admin_level" in props:
        props["admin_level"] = F.floor(_get_d(props, "admin_level")).cast("double")


def t_water_tunnel(props, ctx, zoom):
    """tunnel PROPERTY (non-no) -> is_tunnel, drop tunnel
    (ref:transforms.go:301-310)."""
    tunnel = F.coalesce(_get_s(props, "tunnel"), F.lit(""))
    props["is_tunnel"] = F.when(~tunnel.isin("", "no", "false", "0"), F.lit(True))
    props.pop("tunnel", None)


def t_road_classifier(props, ctx, zoom):
    """_link suffix -> is_link; tunnel/bridge PROPERTY flags
    (ref:transforms.go:135-155 reads properties, not raw tags)."""
    if "kind_detail" in props:
        props["is_link"] = F.when(
            F.coalesce(_get_s(props, "kind_detail"), F.lit("")).endswith("_link"), F.lit(True)
        )
    bridge = F.coalesce(_get_s(props, "bridge"), F.lit(""))
    tunnel = F.coalesce(_get_s(props, "tunnel"), F.lit(""))
    props["is_bridge"] = F.when(bridge.isin("yes", "true"), F.lit(True))
    props["is_tunnel"] = F.when(tunnel.isin("yes", "true"), F.lit(True))


def t_road_trim_properties(props, ctx, zoom):
    for c in ("bridge", "tunnel"):
        props.pop(c, None)


def t_add_iata_code_to_airports(props, ctx, zoom):
    """3-letter IATA uppercased (ref:transforms.go:440-457)."""
    if "iata" not in props:
        return
    code = F.upper(F.trim(_get_s(props, "iata")))
    props["iata"] = F.when(code.rlike("^[A-Z]{3}$"), code)


def t_add_uic_ref(props, ctx, zoom):
    """7-digit uic_ref -> int (ref:transforms.go:462-478)."""
    if "uic_ref" not in props:
        return
    v = F.trim(_get_s(props, "uic_ref"))
    props["uic_ref"] = F.when(v.rlike("^[0-9]{7}$"), v.try_cast("double"))


def t_route_name(props, ctx, zoom):
    """route_name == name or name missing -> promote/drop
    (ref:transforms.go:176-189)."""
    if "route_name" not in props:
        return
    name = _get_s(props, "name")
    rn = props["route_name"]
    props["name"] = F.coalesce(name, rn)
    props["route_name"] = F.when(rn != F.coalesce(name, rn), rn)


def t_normalize_social_kind(props, ctx, zoom):
    """social_facility -> kind; social_facility:for split(';') -> detail
    (ref:transforms.go:510-528)."""
    sf = ctx.tag("social_facility")
    if "kind" in props:
        props["kind"] = F.coalesce(sf, props["kind"])
    sfor = ctx.tag("social_facility:for")
    props["for"] = F.when(sf.isNotNull(), F.split(sfor, ";"))


def t_normalize_medical_kind(props, ctx, zoom):
    """healthcare:speciality split(';') for clinic/doctors/dentist
    (ref:transforms.go:534-542)."""
    if "kind" not in props:
        return
    spec = ctx.tag("healthcare:speciality")
    is_med = props["kind"].isin("clinic", "doctors", "dentist")
    props["speciality"] = F.when(is_med, F.split(spec, ";"))


def t_road_oneway(props, ctx, zoom):
    """-1/reverse -> reverse geometry + oneway=yes; true/1 -> yes;
    false/0 -> no (ref:transforms.go:162-174 + util/utils.go:114-121).
    Geometry reverse = array reverse of the coordinate buffers (only
    line strings are reversed, faithfully to ReverseLineDirection)."""
    if "oneway" not in props:
        return
    ow = F.coalesce(props["oneway"].cast("string"), F.lit(""))
    reverse = ow.isin("-1", "reverse") & (props["geom_type"] == "LineString")
    if "geometry" in props:
        g = props["geometry"]
        reversed_geom = F.struct(
            F.reverse(g["xs"]).alias("xs"),
            F.reverse(g["ys"]).alias("ys"),
            g["ring_lens"].alias("ring_lens"),
            g["ring_roles"].alias("ring_roles"),
        )
        props["geometry"] = F.when(reverse, reversed_geom).otherwise(g)
    props["oneway"] = (
        F.when(reverse, F.lit("yes"))
        .when(ow.isin("true", "1"), F.lit("yes"))
        .when(ow.isin("false", "0"), F.lit("no"))
        .otherwise(props["oneway"])
    )


_DIRECTIONS = {
    "north": "N", "northeast": "NE", "east": "E", "southeast": "SE",
    "south": "S", "southwest": "SW", "west": "W", "northwest": "NW",
    "n": "N", "ne": "NE", "e": "E", "se": "SE",
    "s": "S", "sw": "SW", "w": "W", "nw": "NW",
}
_STREET_TYPES = {
    "ave": "Ave.", "avenue": "Ave.", "blvd": "Blvd.", "boulevard": "Blvd.",
    "court": "Ct.", "ct": "Ct.", "dr": "Dr.", "drive": "Dr.",
    "expressway": "Expwy.", "expwy": "Expwy.", "freeway": "Fwy.", "fwy": "Fwy.",
    "highway": "Hwy.", "hwy": "Hwy.", "lane": "Ln.", "ln": "Ln.",
    "parkway": "Pkwy.", "pkwy": "Pkwy.", "pl": "Pl.", "place": "Pl.",
    "rd": "Rd.", "road": "Rd.", "st": "St.", "street": "St.",
    "ter": "Ter.", "terrace": "Ter.", "tr": "Tr.", "trail": "Tr.",
    "way": "Wy.", "wy": "Wy.",
}


def _lit_map(d: dict[str, str]) -> Column:
    return F.create_map(*[F.lit(x) for kv in sorted(d.items()) for x in kv])


def t_road_abbreviate_name(props, ctx, zoom):
    """US street-name shortener (ref:transforms.go:385-392 +
    util/streetnames/shorten.go:53-77): 'North Herp Derp Road' ->
    'N Herp Derp Rd.' etc."""
    if "name" not in props:
        return
    name = props["name"].cast("string")
    parts = F.split(F.trim(name), r"\s+")
    n = F.size(parts)
    dirs = _lit_map(_DIRECTIONS)
    types = _lit_map(_STREET_TYPES)
    first_dir = F.element_at(dirs, F.lower(F.element_at(parts, 1)))
    last_type = F.element_at(types, F.lower(F.element_at(parts, -1)))
    last_dir = F.element_at(dirs, F.lower(F.element_at(parts, -1)))
    secondlast_type = F.element_at(
        types, F.lower(F.element_at(parts, F.greatest(n - 1, F.lit(1))))
    )
    case1 = (n >= 3) & first_dir.isNotNull() & last_type.isNotNull()
    case2 = (n >= 3) & secondlast_type.isNotNull() & last_dir.isNotNull()
    case3 = (n >= 2) & last_type.isNotNull()
    new_parts = (
        F.when(case1, F.concat(F.array(first_dir), F.slice(parts, 2, n - 2), F.array(last_type)))
        .when(case2, F.concat(F.slice(parts, 1, n - 2), F.array(secondlast_type), F.array(last_dir)))
        .when(case3, F.concat(F.slice(parts, 1, n - 1), F.array(last_type)))
        .otherwise(parts)
    )
    props["name"] = F.when(
        name.isNotNull() & (name != ""), F.array_join(new_parts, " ")
    ).otherwise(props["name"])


def t_normalize_aerialways(props, ctx, zoom):
    """cableway->zip_line, yes->unknown, else drop aerialway
    (ref:transforms.go:412-427)."""
    if "aerialway" not in props:
        return
    a = F.coalesce(props["aerialway"].cast("string"), F.lit(""))
    props["aerialway"] = (
        F.when(a == "cableway", F.lit("zip_line"))
        .when(a == "yes", F.lit("unknown"))
        .otherwise(F.lit(None).cast("string"))
    )


def t_normalize_cycleway(props, ctx, zoom):
    """cycleway_both -> cycleway; left==right -> merge
    (ref:transforms.go:580-603)."""
    cw = F.coalesce(_get_s(props, "cycleway"), F.lit(""))
    left = F.coalesce(_get_s(props, "cycleway_left"), F.lit(""))
    right = F.coalesce(_get_s(props, "cycleway_right"), F.lit(""))
    both = F.coalesce(_get_s(props, "cycleway_both"), F.lit(""))
    props.pop("cycleway_both", None)
    cw_after_both = F.when((both != "") & (cw == ""), both).otherwise(F.nullif(cw, F.lit("")))
    merge = (
        (left != "") & (right != "") & (left == right)
        & (cw_after_both.isNull() | (left == cw_after_both))
    )
    props["cycleway"] = F.when(merge, left).otherwise(cw_after_both)
    props["cycleway_left"] = F.when(merge, F.lit(None)).otherwise(F.nullif(left, F.lit("")))
    props["cycleway_right"] = F.when(merge, F.lit(None)).otherwise(F.nullif(right, F.lit("")))


def t_add_is_bicycle_related(props, ctx, zoom):
    """any bike signal -> is_bicycle_related=true (ref:transforms.go:610-633)."""
    bicycle = F.coalesce(_get_s(props, "bicycle"), F.lit(""))
    ramp = F.coalesce(_get_s(props, "ramp_bicycle"), F.lit(""))
    related = (
        (props["bicycle_network"].isNotNull() if "bicycle_network" in props else F.lit(False))
        | (props["cycleway"].isNotNull() if "cycleway" in props else F.lit(False))
        | (props["cycleway_left"].isNotNull() if "cycleway_left" in props else F.lit(False))
        | (props["cycleway_right"].isNotNull() if "cycleway_right" in props else F.lit(False))
        | (F.coalesce(_get_s(props, "kind_detail"), F.lit("")) == "cycleway")
        | bicycle.isin("yes", "designated")
        | ramp.isin("yes", "left", "right")
    )
    props["is_bicycle_related"] = F.when(related, F.lit(True))


def _one_decimal(x: Column) -> Column:
    """Go util.OneDecimalPoint: %.1f with trailing '.0' trimmed."""
    return F.regexp_replace(F.format_string("%.1f", x), r"\.0$", "")


def t_add_vehicle_restrictions(props, ctx, zoom):
    """maxwidth/len/height/weight/axleload/hazmat -> hgv_restriction +
    shield text; >1 -> 'multiple' (ref:transform/vehicle_restrictions.go:14-76)."""
    from osmzen_spark.compiler.functions import to_float_meters_col

    specs = []  # (restricted Column, kind, shield Column)
    for key, kind in (("maxwidth", "width"), ("maxlength", "length"), ("maxheight", "height")):
        val = F.coalesce(_get_s(props, key), F.lit(""))
        metres = to_float_meters_col(val)
        specs.append(((val != "") & metres.isNotNull(), kind, F.concat(_one_decimal(metres), F.lit("m"))))
    for key, kind in (("maxweight", "weight"), ("maxaxleload", "wpa")):
        val = F.coalesce(_get_s(props, key), F.lit(""))
        tonnes = try_double(val)
        specs.append(((val != "") & tonnes.isNotNull(), kind, F.concat(_one_decimal(tonnes), F.lit("t"))))
    hazmat = F.coalesce(_get_s(props, "hazmat"), F.lit(""))
    specs.append((hazmat == "no", "hazmat", F.lit(None).cast("string")))

    count = None
    for restricted, _, _ in specs:
        c = F.when(restricted, 1).otherwise(0)
        count = c if count is None else count + c
    single_kind = F.coalesce(*[F.when(r, F.lit(k)) for r, k, _ in specs])
    single_shield = F.coalesce(*[F.when(r, s) for r, _, s in specs if s is not None])
    props["hgv_restriction"] = (
        F.when(count == 0, F.lit(None).cast("string"))
        .when(count > 1, F.lit("multiple"))
        .otherwise(single_kind)
    )
    props["hgv_restriction_shield_text"] = F.when(count == 1, single_shield)


# operator alias -> canonical (ref:transforms.go:635-661)
_OPERATOR_ALIASES = {
    "United States National Park Service": [
        "National Park Service",
        "US National Park Service",
        "U.S. National Park Service",
        "US National Park service",
    ],
    "United States Forest Service": [
        "US Forest Service",
        "U.S. Forest Service",
        "USDA Forest Service",
        "United States Department of Agriculture",
        "US National Forest Service",
        "United State Forest Service",
        "U.S. National Forest Service",
    ],
    "National Parks & Wildife Service NSW": [
        "Department of National Parks NSW",
        "Dept of NSW National Parks",
        "Dept of National Parks NSW",
        "NSW National Parks",
        "NSW National Parks & Wildlife Service",
        "NSW National Parks and Wildlife Service",
        "NSW Parks and Wildlife Service",
        "NSW Parks and Wildlife Service (NPWS)",
        "National Parks and Wildlife NSW",
        "National Parks and Wildlife Service NSW",
    ],
}
_OPERATOR_LOOKUP = {alias: canon for canon, aliases in _OPERATOR_ALIASES.items() for alias in aliases}


def t_normalize_operator_values(props, ctx, zoom):
    """Promote canonical operator names (ref:transforms.go:662-690)."""
    if "operator" not in props:
        return
    op = _get_s(props, "operator")
    m = F.create_map(*[F.lit(x) for kv in sorted(_OPERATOR_LOOKUP.items()) for x in kv])
    props["operator"] = F.coalesce(F.element_at(m, op), props["operator"])


# ref:transforms.go:755-765 (also used by collision/drop_names)
_TAG_NAME_ALTERNATES = (
    "int_name",
    "loc_name",
    "nat_name",
    "official_name",
    "old_name",
    "reg_name",
    "short_name",
    "name_left",
    "name_right",
    "name:short",
)


def t_tags_name_i18n(props, ctx, zoom):
    """Copy alternate-name tags to properties when the feature is named
    and the alternate differs from name. The reference's full language
    normalization is deliberately unimplemented there too
    (ref:transforms.go:694-752)."""
    name = ctx.tag_str("name")
    for alt in _TAG_NAME_ALTERNATES:
        v = ctx.tag_str(alt)
        col = F.when((name != "") & (v != "") & (v != name), v)
        existing = props.get(alt)
        props[alt] = F.coalesce(existing, col) if existing is not None else col


TRANSFORMS: dict[str, Callable] = {
    "parse_layer_as_float": t_parse_layer_as_float,
    "building_height": t_building_height,
    "building_min_height": t_building_min_height,
    "synthesize_volume": t_synthesize_volume,
    "building_trim_properties": t_building_trim_properties,
    "normalize_tourism_kind": t_normalize_tourism_kind,
    "detect_osm_relation": t_detect_osm_relation,
    "make_representative_point": t_make_representative_point,
    "height_to_meters": t_height_to_meters,
    "elevation_to_meters": t_elevation_to_meters,
    "pois_capacity_int": t_pois_capacity_int,
    "pois_direction_int": t_pois_direction_int,
    "major_airport_detector": t_major_airport_detector,
    "place_population_int": t_place_population_int,
    "population_rank": t_population_rank,
    "admin_level_as_int": t_admin_level_as_int,
    "water_tunnel": t_water_tunnel,
    "road_classifier": t_road_classifier,
    "road_oneway": t_road_oneway,
    "road_abbreviate_name": t_road_abbreviate_name,
    "normalize_aerialways": t_normalize_aerialways,
    "normalize_cycleway": t_normalize_cycleway,
    "add_is_bicycle_related": t_add_is_bicycle_related,
    "add_vehicle_restrictions": t_add_vehicle_restrictions,
    "road_trim_properties": t_road_trim_properties,
    "add_iata_code_to_airports": t_add_iata_code_to_airports,
    "add_uic_ref": t_add_uic_ref,
    "route_name": t_route_name,
    "normalize_social_kind": t_normalize_social_kind,
    "normalize_medical_kind": t_normalize_medical_kind,
    "tags_name_i18n": t_tags_name_i18n,
    "normalize_operator_values": t_normalize_operator_values,
}


_LAZY = object()


class _LazyProps(dict):
    """props mapping whose untouched entries never materialize a py4j
    Column: every frame column is pre-registered with a sentinel, and
    F.col(name) is created only on first READ by a transform. The
    final projection passes bare name strings for entries still
    untouched — a ~250-column layer with a 5-transform chain pays ~10
    py4j round-trips instead of ~500 (measured: transforms plan build
    7.3 s -> well under 1 s across the 9-layer fan-out)."""

    def __getitem__(self, k):
        v = dict.__getitem__(self, k)
        if v is _LAZY:
            v = F.col(k)
            dict.__setitem__(self, k, v)
        return v

    def get(self, k, default=None):
        try:
            return self[k]
        except KeyError:
            return default

    def pop(self, k, *default):
        v = dict.pop(self, k, *default)
        return F.col(k) if v is _LAZY else v


def apply_transforms(df: DataFrame, names: list[str], zoom: int) -> DataFrame:
    """Apply the named transform chain to a layer frame: builds a
    props dict from the frame's columns, lets each transform rewrite
    it, projects the result."""
    ctx = EvalContext(
        tags="tags",
        geom_type="geom_type",
        derived={"area": F.col("area"), "length": F.col("length")},
        zoom=zoom,
    )
    props = _LazyProps()
    for c in df.columns:
        dict.__setitem__(props, c, _LAZY)
    for name in names:
        fn = TRANSFORMS.get(name)
        if fn is None:
            raise ValueError(f"unknown transform: {name}")
        fn(props, ctx, zoom)
    cols = [
        k if v is _LAZY else v.alias(k) for k, v in dict.items(props)
    ]
    return df.select(*cols)
