"""Named call-functions of the rule language (ref:filter/functions.go:17-37),
each compiled to a pure Column expression (JVM-side; Catalyst evaluates
it interpreted, as it does every engine expression, see session.py).

Membership-join functions (highway-gate min_zoom, path major route)
are *pre-join stages* in the pipeline, surfaced here as derived-column
reads — the rule language sees a column, the physical plan is a
broadcast/shuffle join done once per batch instead of per rule. The
other membership columns (is_bus_route, mz_cycling_network,
mz_networks) are read by rules through ``col:``.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from osmzen_spark.compiler.context import EvalContext


def try_double(c: Column) -> Column:
    """ANSI-safe string->double (Go strconv.ParseFloat semantics:
    invalid -> NULL, not error)."""
    return F.trim(c).try_cast("double")


# ---------------------------------------------------------------- unit parse

_UNIT_RE = r"([+-]?[0-9.]+) *(mi|km|m|nmi|ft)"
_FEET_RE = "([+-]?[0-9.]+)'(?: *([+-]?[0-9.]+)\")?"
_NUM_RE = r"([+-]?[0-9.]+)"

_UNIT_FACTORS = {"mi": 1609.3440, "km": 1000.0, "m": 1.0, "nmi": 1852.0, "ft": 0.3048}
_METERS_PER_INCH = 0.0254


def to_float_meters_col(s: Column) -> Column:
    """Parse '12', '1.5mi', '10ft', '6\\'7"' ... to meters; NULL if
    unparseable (ref:util/utils.go:45-87)."""
    x = F.trim(s)
    plain = try_double(x)

    unit_num = try_double(F.regexp_extract(x, _UNIT_RE, 1))
    unit_name = F.regexp_extract(x, _UNIT_RE, 2)
    factor = F.element_at(
        F.create_map(*[F.lit(v) for kv in _UNIT_FACTORS.items() for v in kv]), unit_name
    )
    with_unit = unit_num * factor

    feet = try_double(F.regexp_extract(x, _FEET_RE, 1))
    inches = try_double(F.regexp_extract(x, _FEET_RE, 2))
    feet_expr = F.when(
        feet.isNotNull() | inches.isNotNull(),
        (F.coalesce(inches, F.lit(0.0)) + F.coalesce(feet, F.lit(0.0)) * 12.0)
        * _METERS_PER_INCH,
    )
    # reference scans the first 5 number-looking substrings and takes the
    # first that parses (ref:util/utils.go:80-85)
    first_num = F.try_element_at(
        F.filter(
            F.transform(F.regexp_extract_all(x, F.lit(_NUM_RE), 1), try_double),
            lambda v: v.isNotNull(),
        ),
        F.lit(1),
    )
    return F.when(x == "", F.lit(None).cast("double")).otherwise(
        F.coalesce(plain, with_unit, feet_expr, first_num)
    )


# -------------------------------------------------------- kind-detail tables
# Transcribed decision tables (ref:filter/functions.go:636-736, originally
# tilezen functions.sql L702-L899): identity values pass through, aliases
# remap, and any other value (the reference's explicit '' list included)
# maps to no detail.

_BUILDING_KIND_IDENTITY = [
    "abandoned", "administrative", "agricultural", "airport", "allotment_house",
    "apartments", "arbour", "bank", "barn", "basilica", "beach_hut", "bell_tower",
    "boathouse", "brewery", "bridge", "bungalow", "bunker", "cabin", "carport",
    "castle", "cathedral", "chapel", "chimney", "church", "civic", "clinic",
    "clubhouse", "collapsed", "college", "commercial", "construction", "container",
    "convent", "cowshed", "dam", "damaged", "depot", "destroyed", "detached",
    "disused", "dormitory", "duplex", "factory", "farm", "farm_auxiliary",
    "fire_station", "garage", "garages", "gazebo", "ger", "glasshouse", "government",
    "grandstand", "greenhouse", "hangar", "healthcare", "hermitage", "hospital",
    "hotel", "house", "houseboat", "hut", "industrial", "kindergarten", "kiosk",
    "library", "mall", "manor", "manufacture", "mobile_home", "monastery",
    "mortuary", "mosque", "museum", "office", "outbuilding", "parking", "pavilion",
    "power", "prison", "proposed", "pub", "public", "residential", "restaurant",
    "retail", "roof", "ruin", "ruins", "school", "semidetached_house", "service",
    "shed", "shelter", "shop", "shrine", "silo", "slurry_tank", "stable", "stadium",
    "static_caravan", "storage", "storage_tank", "store", "substation",
    "summer_cottage", "summer_house", "supermarket", "synagogue", "tank", "temple",
    "terrace", "tower", "train_station", "transformer_tower", "transportation",
    "university", "utility", "veranda", "warehouse", "wayside_shrine", "works",
]
_BUILDING_KIND_ALIAS = {
    "barne": "barn",
    "commercial;residential": "mixed_use",
    "constructie": "construction",
    "dwelling_house": "house",
    "education": "school",
    "greenhouse_horticulture": "greenhouse",
    "apartment": "apartments",
    "flat": "apartments",
    "houses": "residential",
    "residences": "residential",
    "residence": "residential",
    "perumahan permukiman": "residential",
    "residentiel1": "residential",
    "offices": "office",
    "prefab_container": "container",
    "public_building": "public",
    "railway_station": "train_station",
    "roof=permanent": "roof",
    "stables": "stable",
    "static caravan": "static_caravan",
    "station": "transportation",
    "storage tank": "storage_tank",
    "townhome": "terrace",
}

_BUILDING_PART_IDENTITY = [
    "arch", "balcony", "base", "column", "door", "elevator", "entrance", "floor",
    "hall", "main", "passageway", "pillar", "porch", "ramp", "roof", "room",
    "steps", "stilobate", "tier", "tower", "verticalpassage", "wall", "window",
]
_BUILDING_PART_ALIAS = {
    "corridor": "verticalpassage",
    "Corridor": "verticalpassage",
    "vertical": "verticalpassage",
    "verticalpassage": "verticalpassage",
    "stairs": "steps",
    "stairway": "steps",
}


def _kind_map(identity: list[str], alias: dict[str, str]) -> dict[str, str]:
    out = {k: k for k in identity}
    out.update(alias)
    return out


def kind_detail_lookup_col(value: Column, identity: list[str], alias: dict[str, str]) -> Column:
    m = _kind_map(identity, alias)
    map_col = F.create_map(*[F.lit(v) for kv in sorted(m.items()) for v in kv])
    return F.element_at(map_col, F.coalesce(value, F.lit("")))


def is_building_col(ctx: "EvalContext") -> Column:
    """building or building:part present and != 'no' -> true else NULL
    (ref:filter/functions.go:577-599)."""
    b = ctx.tag_str("building")
    bp = ctx.tag_str("building:part")
    cond = ((b != "") & (b != "no")) | ((bp != "") & (bp != "no"))
    return F.when(cond, F.lit(True))


# ---------------------------------------------------------------- registry


def _fn_safe_int(args: list[Column], ctx) -> Column:
    """value, but 0 -> NULL (ref:filter/functions.go:481-524)."""
    return F.nullif(args[0], F.lit(0))


def _fn_tag_str_to_bool(args, ctx):
    return F.when(F.lower(args[0]).isin("yes", "true"), F.lit(True))


def _fn_is_building(args, ctx):
    return is_building_col(ctx)


def _fn_to_float_meters(args, ctx):
    return to_float_meters_col(F.coalesce(args[0].cast("string"), F.lit("")))


def _fn_building_kind_detail(args, ctx):
    return kind_detail_lookup_col(args[0], _BUILDING_KIND_IDENTITY, _BUILDING_KIND_ALIAS)


def _fn_building_part_kind_detail(args, ctx):
    return kind_detail_lookup_col(args[0], _BUILDING_PART_IDENTITY, _BUILDING_PART_ALIAS)


def _fn_calculate_ferry_level(args, ctx):
    """line length -> min_zoom buckets (ref:filter/functions.go:81-118)."""
    length = ctx.length()
    is_line = ctx.geom_type.isin("LineString", "MultiLineString")
    buckets = (
        F.when(length > 1224, 8.0)
        .when(length > 611, 9.0)
        .when(length > 306, 10.0)
        .when(length > 153, 11.0)
        .when(length > 76, 12.0)
        .otherwise(13.0)
    )
    return F.when(is_line, buckets).otherwise(F.lit(0.0))


def _fn_estimate_parking_capacity(args, ctx):
    """capacity tag else area/46 x levels; multi-storey default 2 levels
    (ref:filter/functions.go:385-425). NB reads the `levels` tag (not
    building:levels), faithfully to the reference."""
    capacity = try_double(ctx.tag_str("capacity"))
    levels = F.coalesce(
        try_double(ctx.tag_str("levels")),
        F.when(ctx.tag_str("parking") == "multi-storey", F.lit(2.0)).otherwise(F.lit(1.0)),
    )
    estimated = F.greatest(ctx.area() / 46.0 * levels, F.lit(0.0))
    return F.coalesce(capacity, estimated)


def _suffix_zoom(ctx, suffixes: tuple[str, ...]) -> Column:
    name = F.lower(ctx.tag_str("name"))
    cond = None
    for s in suffixes:
        c = name.endswith(s)
        cond = c if cond is None else (cond | c)
    return F.when(ctx.tag_present("name") & cond, F.lit(13.0)).otherwise(F.lit(17.0))


def _fn_looks_like_service_area(args, ctx):
    return _suffix_zoom(ctx, ("service area", "services", "travel plaza"))


def _fn_looks_like_rest_area(args, ctx):
    return _suffix_zoom(ctx, ("rest area",))


def _fn_gate_min_zoom(args, ctx):
    """node->way highway-class gate zoom (ref:filter/functions.go:120-159);
    pre-joined as `gate_min_zoom`, default 17."""
    return F.coalesce(ctx.derived.get("gate_min_zoom", F.lit(None).cast("double")), F.lit(17.0))


def _fn_path_major_route(args, ctx):
    return F.coalesce(
        ctx.derived.get("path_major_route_min_zoom", F.lit(None).cast("double")), F.lit(20.0)
    )


FUNCTIONS: dict[str, Callable] = {
    "util.safe_int": _fn_safe_int,
    "util.tag_str_to_bool": _fn_tag_str_to_bool,
    "util.is_building": _fn_is_building,
    "mz_to_float_meters": _fn_to_float_meters,
    "mz_building_kind_detail": _fn_building_kind_detail,
    "mz_building_part_kind_detail": _fn_building_part_kind_detail,
    "mz_calculate_ferry_level": _fn_calculate_ferry_level,
    "tz_estimate_parking_capacity": _fn_estimate_parking_capacity,
    "tz_looks_like_service_area": _fn_looks_like_service_area,
    "tz_looks_like_rest_area": _fn_looks_like_rest_area,
    "mz_get_min_zoom_highway_level_gate": _fn_gate_min_zoom,
    "mz_calculate_path_major_route": _fn_path_major_route,
}


def call_function(name: str, args: list[Column], ctx: "EvalContext") -> Column:
    if name not in FUNCTIONS:
        raise ValueError(f"unknown call function: {name}")
    return FUNCTIONS[name](args, ctx)
