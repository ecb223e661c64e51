"""Arrow-batch vectorized rule evaluator — the engine's primary
evaluation path (the north-star architecture: YAML when/min_zoom
condition trees compiled once on the driver to NumPy batch closures,
executed inside ONE ``mapInArrow`` stage; never per-row Python).

Why not Catalyst Column chains for this part: a 279-rule layer compiles
to megabytes of expression tree — measured ~110 s of py4j plan
construction plus ~70 s of Catalyst analysis PER LAYER, and the
generated Java breaches Janino's 64 KB method limit (interpreted
fallback). The batch evaluator's plan is a single mapInArrow node;
rule evaluation happens in vectorized NumPy over dictionary-extracted
tag columns. Catalyst still runs everything downstream (transforms,
post-processors, joins, tiling) where plans are small.

Semantics parity (same citations as compiler/conditions.py /
expressions.py / functions.py):
  * Go map-miss => ""  for comparisons; col: "" => nil for values
  * first-match rule order; nil min_zoom skips; zoom+1 >= min_zoom
  * floor(min_zoom*100)/100
  * numeric results are float64 (Go float64 semantics)

Batch layout: one object-ndarray per referenced tag key, built per
batch from the Arrow map buffers with a single vectorized categorical
pass (no per-row Python).
"""

from __future__ import annotations

import math
import re
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa

# ---------------------------------------------------------------------------
# batch context
# ---------------------------------------------------------------------------

_MZ_AREA_CUTOFF = 5.704
_MZ_MAX = 16.0
_MZ_C = 17.256
_LN4 = math.log(4.0)


class BatchContext:
    """Vectorized evaluation context over one Arrow RecordBatch."""

    def __init__(self, batch: pa.RecordBatch, needed_keys: list[str], zoom: int):
        self.batch = batch
        self.zoom = zoom
        self.names = batch.schema.names
        self.n = batch.num_rows
        self._cols: dict[str, np.ndarray] = {}
        self._derived_cache: dict[str, object] = {}
        self._tag_matrix = None
        self._key_index: dict[str, int] = {}
        self._needed_keys = needed_keys

    # -- raw columns ------------------------------------------------------
    def col(self, name: str) -> np.ndarray:
        if name not in self._cols:
            arr = self.batch.column(self.names.index(name))
            self._cols[name] = np.asarray(arr.to_pandas())
        return self._cols[name]

    # -- tags -------------------------------------------------------------
    def _build_tag_matrix(self):
        keys = self._needed_keys
        self._key_index = {k: i for i, k in enumerate(keys)}
        m = np.full((len(keys), self.n), "", dtype=object)
        tags = self.batch.column(self.names.index("tags"))
        if isinstance(tags, pa.ChunkedArray):
            tags = tags.combine_chunks()
        offsets = tags.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        base = offsets[0]
        flat_keys = tags.keys.to_numpy(zero_copy_only=False)
        flat_vals = tags.items.to_numpy(zero_copy_only=False)
        if base != 0 or offsets[-1] != len(flat_keys):
            flat_keys = flat_keys[base : offsets[-1]]
            flat_vals = flat_vals[base : offsets[-1]]
            offsets = offsets - base
        if len(flat_keys):
            rows = np.repeat(np.arange(self.n), np.diff(offsets))
            codes = pd.Categorical(flat_keys, categories=keys).codes
            sel = codes >= 0
            m[codes[sel], rows[sel]] = flat_vals[sel]
        self._tag_matrix = m

    def tag_str(self, key: str) -> np.ndarray:
        """Comparison form: missing -> '' (Go map-miss)."""
        if self._tag_matrix is None:
            self._build_tag_matrix()
        idx = self._key_index.get(key)
        if idx is None:
            return np.full(self.n, "", dtype=object)
        return self._tag_matrix[idx]

    def tag_present(self, key: str) -> np.ndarray:
        # presence == value non-empty is NOT the same as key-present for
        # empty-valued tags; OSM data never has empty values and the Go
        # port's Tags.Find can't distinguish either (ref:conditions.go:512)
        return self.tag_str(key) != ""

    # -- derived values ----------------------------------------------------
    def area(self) -> np.ndarray:
        return self.col("area").astype(np.float64)

    def length(self) -> np.ndarray:
        return self.col("length").astype(np.float64)

    def geom_type(self) -> np.ndarray:
        return self.col("geom_type")

    def derived(self, name: str):
        """Membership-join columns (NULL-able object/float arrays)."""
        if name in self.names:
            return self.col(name)
        return None

    def height(self) -> np.ndarray:
        """floor(buildingHeight+0.5) (ref:filter/context.go:146-148,
        filter/functions.go:606-634)."""
        if "height" in self._derived_cache:
            return self._derived_cache["height"]
        htag = self.tag_str("height")
        levels = self.tag_str("building:levels")
        out = np.zeros(self.n, dtype=np.float64)
        has_h = htag != ""
        if has_h.any():
            meters = to_float_meters_np(htag[has_h])
            vals = np.where(np.isnan(meters), 1.0e10, meters)
            out[has_h] = vals
        has_l = (~has_h) & (levels != "")
        if has_l.any():
            lv = to_plain_float_np(levels[has_l])
            vals = np.where(np.isnan(lv), 1.0e10, np.maximum(lv, 1.0) * 3 + 2)
            out[has_l] = vals
        out = np.floor(out + 0.5)
        self._derived_cache["height"] = out
        return out

    def volume(self) -> np.ndarray:
        return self.height() * self.area()

    def zoom_pseudo(self) -> np.ndarray:
        """{col: zoom}: min zoom from mercator area
        (ref:filter/context.go:154-181)."""
        a = self.area()
        with np.errstate(divide="ignore", invalid="ignore"):
            formula = np.floor((_MZ_C - np.log(a) / _LN4) * 100) / 100.0
        return np.where(a < _MZ_AREA_CUTOFF, _MZ_MAX, np.minimum(formula, _MZ_MAX))


# ---------------------------------------------------------------------------
# vectorized helpers (Go util parity)
# ---------------------------------------------------------------------------

_NUM_RE = re.compile(r"[-+]?\d*\.?\d+")
_UNIT_RE = re.compile(
    r"^\s*([-+]?\d*\.?\d+)\s*(mi|km|m|nmi|ft|feet|'|st)?\s*$", re.I
)
_FEET_INCHES_RE = re.compile(r"^\s*([-+]?\d*\.?\d+)'\s*([-+]?\d*\.?\d+)\"\s*$")

_UNIT_FACTORS = {
    "mi": 1609.344,
    "km": 1000.0,
    "m": 1.0,
    "nmi": 1852.0,
    "ft": 0.3048,
    "feet": 0.3048,
    "'": 0.3048,
    "st": 1.0,  # 'st' appears in utils.go as a typo'd meters unit
    None: 1.0,
    "": 1.0,
}


def to_float_meters_np(vals: np.ndarray) -> np.ndarray:
    """Vectorized ToFloat64Meters (ref:util/utils.go:45-87): unit parse,
    feet-inches, then first-number fallback; NaN on failure.

    Regex work only touches rows that fail the plain-float fast path.
    """
    out = np.full(len(vals), np.nan, dtype=np.float64)
    s = pd.Series(vals, dtype=object).astype(str)
    plain = pd.to_numeric(s, errors="coerce").to_numpy(dtype=np.float64)
    out = plain.copy()
    todo = np.isnan(plain)
    for i in np.nonzero(todo)[0]:
        v = s.iloc[i].strip().lower()
        m = _FEET_INCHES_RE.match(v)
        if m:
            out[i] = float(m.group(1)) * 0.3048 + float(m.group(2)) * 0.0254
            continue
        m = _UNIT_RE.match(v)
        if m:
            out[i] = float(m.group(1)) * _UNIT_FACTORS.get(m.group(2) or "", 1.0)
            continue
        m = _NUM_RE.search(v)
        if m:
            out[i] = float(m.group(0))
    return out


def to_plain_float_np(vals: np.ndarray) -> np.ndarray:
    s = pd.Series(vals, dtype=object).astype(str).str.strip()
    return pd.to_numeric(s, errors="coerce").to_numpy(dtype=np.float64)


# ---------------------------------------------------------------------------
# condition compiler  (ref:filter/conditions.go — same ops as
# compiler/conditions.py, NumPy bool output)
# ---------------------------------------------------------------------------

_GEOM_EXPAND = {
    "point": ["Point", "MultiPoint"],
    "line": ["LineString", "MultiLineString"],
    "linestring": ["LineString", "MultiLineString"],
    "polygon": ["Polygon", "MultiPolygon"],
    "multipoint": ["MultiPoint"],
    "multilinestring": ["MultiLineString"],
    "multipolygon": ["MultiPolygon"],
}


def compile_condition_np(node, keys: set[str]) -> Callable[[BatchContext], np.ndarray]:
    if isinstance(node, list):
        subs = [compile_condition_np(x, keys) for x in node]
        return lambda b: np.logical_and.reduce([f(b) for f in subs]) if subs else np.ones(b.n, bool)
    if not isinstance(node, dict):
        raise ValueError(f"cannot compile condition: {node!r}")

    parts: list[Callable[[BatchContext], np.ndarray]] = []
    for key, val in node.items():
        parts.append(_compile_entry(key, val, keys))

    if not parts:
        return lambda b: np.ones(b.n, bool)
    if len(parts) == 1:
        return parts[0]
    return lambda b: np.logical_and.reduce([f(b) for f in parts])


def _compile_entry(key, val, keys: set[str]) -> Callable:
    if key == "all":
        return compile_condition_np(val, keys)
    if key == "any":
        if isinstance(val, list):
            subs = [compile_condition_np(x, keys) for x in val]
        else:
            # map form: OR across entries (ref:filter/conditions.go:139-195)
            subs = [_compile_entry(k, v, keys) for k, v in val.items()]
        return lambda b: np.logical_or.reduce([f(b) for f in subs]) if subs else np.zeros(b.n, bool)
    if key == "not":
        sub = compile_condition_np(val, keys)
        return lambda b: ~sub(b)
    if key == "none":
        subs = [compile_condition_np(x, keys) for x in (val if isinstance(val, list) else [val])]
        return lambda b: ~(np.logical_or.reduce([f(b) for f in subs]) if subs else np.zeros(b.n, bool))
    if key == "osm_tags":
        # rule context tags ARE the osm tags (ref:conditions.go:230-252)
        return compile_condition_np(val, keys)
    if key in ("geometry_types", "geom_type"):
        wanted = val if isinstance(val, list) else [val]
        expanded: set[str] = set()
        for w in wanted:
            expanded.update(_GEOM_EXPAND.get(str(w).lower(), [str(w)]))
        exp = sorted(expanded)
        return lambda b: np.isin(b.geom_type(), exp)
    if key == "way_area":
        lo = float(val.get("min", -1.7976931348623157e308))
        hi = float(val.get("max", 1.7976931348623157e308))
        return lambda b: (b.area() >= lo) & (b.area() <= hi)
    if key == "volume":
        lo = float(val.get("min", -1.7976931348623157e308))
        hi = float(val.get("max", 1.7976931348623157e308))
        return lambda b: (b.volume() >= lo) & (b.volume() <= hi)
    if key == "compare":
        left, op, right = val
        if op not in ("lt", "gt", "lte", "gte"):
            raise ValueError(f"unknown compare op: {op!r}")  # compile-time, like the reference
        lf = compile_num_np(left, keys)
        rf = compile_num_np(right, keys)

        def cmp(b):
            lv, lok = lf(b)
            rv, rok = rf(b)
            with np.errstate(invalid="ignore"):
                if op == "lt":
                    r = lv < rv
                elif op == "gt":
                    r = lv > rv
                elif op == "lte":
                    r = lv <= rv
                else:
                    r = lv >= rv
            return r & lok & rok

        return cmp
    if key == "way":  # legacy, explicitly ignored (ref:conditions.go:13-15)
        return lambda b: np.ones(b.n, bool)

    # plain tag conditions
    if isinstance(val, bool):
        keys.add(key)
        if val:
            return lambda b: b.tag_present(key)
        return lambda b: ~b.tag_present(key)
    if isinstance(val, list):
        keys.add(key)
        # values lowercased at COMPILE time; the tag value compared
        # as-is (ref:conditions.go:495-506)
        lowered = [str(x).lower() if x is not None else "" for x in val]
        has_none = any(x is None for x in val)

        def inlist(b):
            s = b.tag_str(key)
            r = np.isin(s.astype(str), lowered)
            if has_none:
                r = r | (s == "")
            return r

        return inlist
    keys.add(key)
    sval = "" if val is None else str(val)
    return lambda b: b.tag_str(key) == sval


# ---------------------------------------------------------------------------
# expression compiler  (ref:filter/expressions.go + lookup_expr.go)
#
# value expressions return object ndarrays (None == nil);
# num expressions return (float64 ndarray, valid bool ndarray).
# ---------------------------------------------------------------------------

def compile_num_np(node, keys: set[str]) -> Callable[[BatchContext], tuple[np.ndarray, np.ndarray]]:
    """Numeric expression -> (values, valid)."""
    if isinstance(node, bool):
        raise ValueError("bool in numeric context")
    if isinstance(node, (int, float)):
        v = float(node)
        return lambda b: (np.full(b.n, v), np.ones(b.n, bool))
    if isinstance(node, str):
        try:
            v = float(node)
            return lambda b: (np.full(b.n, v), np.ones(b.n, bool))
        except ValueError:
            raise ValueError(f"non-numeric literal in numeric context: {node!r}")
    if node is None:
        return lambda b: (np.full(b.n, np.nan), np.zeros(b.n, bool))
    if not isinstance(node, dict):
        raise ValueError(f"cannot compile num expression: {node!r}")

    vf = compile_value_np(node, keys)

    def num(b):
        v = vf(b)
        if v.dtype == object:
            # vectorized C conversion; None/non-numeric -> NaN.
            # (deviation: a bool True would coerce to 1.0 — the YAML
            # type system never routes bools into numeric context)
            out = pd.to_numeric(pd.Series(v, dtype=object), errors="coerce").to_numpy(
                dtype=np.float64
            )
        else:
            out = v.astype(np.float64)
        ok = ~np.isnan(out)
        return out, ok

    return num


def _obj(arr: np.ndarray) -> np.ndarray:
    return arr if arr.dtype == object else arr.astype(object)


def _num_to_obj(vals: np.ndarray, ok: np.ndarray) -> np.ndarray:
    out = np.empty(len(vals), dtype=object)
    out[:] = None
    # fancy-index assignment boxes to np.float64 in C (no Python loop)
    out[ok] = vals[ok]
    return out


def compile_value_np(node, keys: set[str]) -> Callable[[BatchContext], np.ndarray]:
    """Generic expression -> object ndarray (None == nil)."""
    if node is None or node == "":
        return lambda b: np.full(b.n, None, dtype=object)
    if isinstance(node, bool):
        return lambda b: np.full(b.n, node, dtype=object)
    if isinstance(node, (int, float)):
        v = float(node)
        return lambda b: np.full(b.n, v, dtype=object)
    if isinstance(node, str):
        return lambda b: np.full(b.n, node, dtype=object)
    if isinstance(node, list):
        raise ValueError(f"cannot compile list expression: {node!r}")

    if len(node) == 1:
        (op, val), = node.items()
        if op == "col":
            return _compile_col(val, keys)
        if op == "call":
            return _compile_call(val, keys)
        if op == "case":
            return _compile_case(val, keys)
        if op == "clamp":
            lo = compile_num_np(val["min"], keys)
            hi = compile_num_np(val["max"], keys)
            vv = compile_num_np(val["value"], keys)

            def clamp(b):
                lov, look = lo(b)
                hiv, hiok = hi(b)
                v, ok = vv(b)
                out = np.maximum(lov, np.minimum(hiv, v))
                return _num_to_obj(out, ok & look & hiok)

            return clamp
        if op in ("min", "max"):
            subs = [compile_num_np(x, keys) for x in val]
            red = np.minimum if op == "min" else np.maximum

            def minmax(b):
                vals = [f(b) for f in subs]
                # Go semantics: all args evaluated as float64; nil arg
                # invalidates the result (ref:expressions.go:457-516)
                allok = np.logical_and.reduce([o for _, o in vals])
                out = vals[0][0].copy()
                for v, _ in vals[1:]:
                    out = red(out, v)
                return _num_to_obj(out, allok)

            return minmax
        if op in ("sum", "mul"):
            subs = [compile_num_np(x, keys) for x in val]

            def summul(b):
                vals = [f(b) for f in subs]
                out = vals[0][0].copy()
                ok = vals[0][1].copy()
                for v, o in vals[1:]:
                    out = out + v if op == "sum" else out * v
                    ok = ok & o
                return _num_to_obj(out, ok)

            return summul
        if op == "cond":
            cf = compile_condition_np(val, keys)

            def cond(b):
                c = cf(b)
                out = np.empty(b.n, dtype=object)
                out[:] = None
                out[c] = True
                return out

            return cond
        if op == "lookup":
            return _compile_lookup(val, keys)

    raise ValueError(f"cannot compile expression: {node!r}")


def _compile_col(name: str, keys: set[str]) -> Callable:
    if name.startswith("tags->"):
        name = name[len("tags->"):]
    if name == "height":
        return lambda b: _num_to_obj(b.height(), b.height() != 0.0)
    if name == "zoom":
        return lambda b: _num_to_obj(b.zoom_pseudo(), np.ones(b.n, bool))
    if name in ("area", "way_area"):
        return lambda b: _num_to_obj(b.area(), np.ones(b.n, bool))
    if name == "volume":
        return lambda b: _num_to_obj(b.volume(), np.ones(b.n, bool))
    if name == "mz_is_building":
        def isb(b):
            bld = b.tag_str("building")
            prt = b.tag_str("building:part")
            c = ((bld != "") & (bld != "no")) | ((prt != "") & (prt != "no"))
            out = np.empty(b.n, dtype=object)
            out[:] = None
            out[c] = True
            return out
        for k in ("building", "building:part"):
            keys.add(k)
        return isb
    if name in ("is_bus_route", "mz_cycling_network", "mz_hiking_network"):
        def memb(b, _n=name):
            col = b.derived(_n)
            if col is None:
                return np.full(b.n, None, dtype=object)
            return _obj(np.asarray(col))
        return memb
    if name == "mz_networks":
        # array-typed passthrough: handled specially by the evaluator
        # (emit-level); as a value expression it yields the python lists
        def nets(b):
            col = b.derived("mz_networks")
            if col is None:
                return np.full(b.n, None, dtype=object)
            return _obj(np.asarray(col))
        return nets
    if name in ("mz_transit_score", "mz_transit_root_relation_id"):
        return lambda b: np.full(b.n, None, dtype=object)
    if name.startswith("mz_") and name not in ("mz_label_placement", "mz_n_photos"):
        raise ValueError(f"unknown pseudo-column: {name}")
    keys.add(name)

    def tagval(b):
        s = b.tag_str(name)
        out = _obj(s.copy())
        out[s == ""] = None
        return out

    return tagval


def _compile_case(entries, keys: set[str]) -> Callable:
    branches = []
    default = None
    for e in entries:
        if "when" in e:
            branches.append((compile_condition_np(e["when"], keys), compile_value_np(e.get("then"), keys)))
        elif "else" in e:
            default = compile_value_np(e["else"], keys)
        else:
            raise ValueError(f"case entry needs when/then or else: {e!r}")

    def case(b):
        out = np.empty(b.n, dtype=object)
        out[:] = None
        unset = np.ones(b.n, bool)
        for cf, tf in branches:
            c = cf(b) & unset
            if c.any():
                out[c] = tf(b)[c]
            unset = unset & ~c
        if default is not None and unset.any():
            out[unset] = default(b)[unset]
        return out

    return case


def _compile_lookup(val, keys: set[str]) -> Callable:
    keyf = compile_num_np(val["key"], keys)
    op = val.get("op")
    table = [(compile_value_np(t, keys), compile_num_np(v, keys)) for t, v in val["table"]]
    default = compile_value_np(val.get("default"), keys)

    def lookup(b):
        kv, kok = keyf(b)
        out = np.empty(b.n, dtype=object)
        out[:] = None
        unset = np.ones(b.n, bool)
        for tf, vf in table:
            vv, vok = vf(b)
            with np.errstate(invalid="ignore"):
                if op == ">=":
                    c = kv >= vv
                elif op == "<=":
                    c = kv <= vv
                elif op == ">":
                    c = kv > vv
                elif op == "<":
                    c = kv < vv
                elif op == "==":
                    c = kv == vv
                else:
                    raise ValueError(f"unknown lookup op: {op!r}")
            c = c & kok & vok & unset
            if c.any():
                out[c] = tf(b)[c]
            unset = unset & ~c
        if unset.any():
            out[unset] = default(b)[unset]
        return out

    return lookup


# -- call functions (ref:filter/functions.go registry 17-37) ----------------

def _compile_call(val, keys: set[str]) -> Callable:
    func = val["func"]
    args = [compile_value_np(a, keys) for a in val.get("args", [])]

    if func == "util.safe_int":
        af = args[0]

        def safe_int(b):
            v = af(b)
            f = pd.to_numeric(pd.Series(v, dtype=object), errors="coerce").to_numpy(
                dtype=np.float64
            )
            return _num_to_obj(f, ~np.isnan(f) & (f != 0))

        return safe_int
    if func == "util.tag_str_to_bool":
        af = args[0]

        def t2b(b):
            v = af(b)
            s = pd.Series(v, dtype=object).astype(str).str.lower()
            hit = s.isin(("yes", "true")).to_numpy()
            out = np.empty(b.n, dtype=object)
            out[:] = None
            out[hit] = True
            return out

        return t2b
    if func == "util.is_building":
        return _compile_col("mz_is_building", keys)
    if func == "mz_to_float_meters":
        af = args[0]

        def tfm(b):
            v = af(b)
            s = np.array(["" if x is None else str(x) for x in v], dtype=object)
            m = to_float_meters_np(s)
            return _num_to_obj(m, ~np.isnan(m) & (s != ""))

        return tfm
    if func in ("mz_building_kind_detail", "mz_building_part_kind_detail"):
        from osmzen_spark.compiler.functions import (
            _BUILDING_KIND_ALIAS,
            _BUILDING_KIND_IDENTITY,
            _BUILDING_PART_ALIAS,
            _BUILDING_PART_IDENTITY,
            _kind_map,
        )

        table = (
            _kind_map(_BUILDING_KIND_IDENTITY, _BUILDING_KIND_ALIAS)
            if func == "mz_building_kind_detail"
            else _kind_map(_BUILDING_PART_IDENTITY, _BUILDING_PART_ALIAS)
        )
        af = args[0]

        def bkd(b):
            v = af(b)
            mapped = pd.Series(v, dtype=object).map(table)  # vectorized dict lookup
            out = mapped.where(mapped.notna() & (mapped != ""), None).to_numpy(dtype=object)
            return out

        return bkd
    if func == "mz_calculate_ferry_level":
        def ferry(b):
            ln = b.length()
            is_line = np.isin(b.geom_type(), ["LineString", "MultiLineString"])
            z = np.where(
                ln > 1224, 8.0,
                np.where(ln > 611, 9.0,
                np.where(ln > 306, 10.0,
                np.where(ln > 153, 11.0,
                np.where(ln > 76, 12.0, 13.0)))))
            return _num_to_obj(np.where(is_line, z, 0.0), np.ones(b.n, bool))

        return ferry
    if func == "mz_get_min_zoom_highway_level_gate":
        def gate(b):
            col = b.derived("gate_min_zoom")
            if col is None:
                return _num_to_obj(np.full(b.n, 17.0), np.ones(b.n, bool))
            v = np.asarray(pd.Series(col).fillna(17.0), dtype=np.float64)
            return _num_to_obj(v, np.ones(b.n, bool))

        return gate
    if func == "mz_calculate_path_major_route":
        def pmr(b):
            col = b.derived("path_major_route_min_zoom")
            if col is None:
                return _num_to_obj(np.full(b.n, 20.0), np.ones(b.n, bool))
            v = np.asarray(pd.Series(col).fillna(20.0), dtype=np.float64)
            return _num_to_obj(v, np.ones(b.n, bool))

        return pmr
    if func == "tz_estimate_parking_capacity":
        for k in ("capacity", "parking", "building:levels"):
            keys.add(k)

        def parking(b):
            cap = to_plain_float_np(b.tag_str("capacity"))
            levels = to_plain_float_np(b.tag_str("building:levels"))
            is_multi = b.tag_str("parking") == "multi-storey"
            lv = np.where(np.isnan(levels), np.where(is_multi, 2.0, 1.0), np.maximum(levels, 1.0))
            est = np.floor(lv * b.area() / 46.0)
            out = np.where(np.isnan(cap), est, cap)
            return _num_to_obj(out, np.ones(b.n, bool))

        return parking
    if func in ("tz_looks_like_service_area", "tz_looks_like_rest_area"):
        # exact suffix sets per ref:filter/functions.go:442-446,470-472
        suffixes = (
            ("service area", "services", "travel plaza")
            if func == "tz_looks_like_service_area"
            else ("rest area",)
        )
        keys.add("name")

        def srv(b):
            name = np.char.lower(b.tag_str("name").astype(str))
            hit = np.zeros(b.n, bool)
            for suf in suffixes:
                hit |= np.char.endswith(name, suf)
            return _num_to_obj(np.where(hit, 13.0, 17.0), np.ones(b.n, bool))

        return srv

    raise ValueError(f"unknown call function: {func}")
