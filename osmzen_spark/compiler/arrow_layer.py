"""Per-layer compilation for the Arrow-batch vectorized evaluator
(compiler/vectorized.py): a layer's rules become NumPy batch closures
that compiler/arrow_multilayer.py runs for every layer inside one
mapInArrow pass (all NumPy, no per-row Python):
  1. geometry-type gate (np.isin)
  2. first-match: per-rule predicate over still-unmatched rows
     (vectorized; early-exits when every row is matched)
  3. min_zoom: distinct expression nodes evaluated once (hoisting),
     selected per row by match_idx; nil-skip + zoom gate + 2dp floor
     (ref:process.go:192-207)
  4. emits: distinct expression nodes evaluated once, masked-assigned
     into typed output arrays

Array-typed emits (mz_networks passthrough) can't be built in NumPy;
they are projected from the membership column by a Catalyst
`CASE WHEN match_idx IN (...)` after the Arrow stage.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import types as T

from osmzen_spark.compiler.vectorized import (
    compile_condition_np,
    compile_num_np,
    compile_value_np,
)

# ---------------------------------------------------------------------------
# output type inference
# ---------------------------------------------------------------------------

_NUM_FUNCS = {
    "util.safe_int",
    "mz_to_float_meters",
    "mz_calculate_ferry_level",
    "mz_get_min_zoom_highway_level_gate",
    "mz_calculate_path_major_route",
    "tz_estimate_parking_capacity",
    "tz_looks_like_service_area",
    "tz_looks_like_rest_area",
}
_BOOL_FUNCS = {"util.tag_str_to_bool", "util.is_building"}
_NUM_PSEUDO = {"zoom", "area", "way_area", "volume", "height"}


def infer_type(node) -> str:
    """'double' | 'boolean' | 'string' | 'networks' | 'null'."""
    if node is None or node == "":
        return "null"
    if isinstance(node, bool):
        return "boolean"
    if isinstance(node, (int, float)):
        return "double"
    if isinstance(node, str):
        return "string"
    if isinstance(node, dict) and len(node) == 1:
        (op, val), = node.items()
        if op == "col":
            if val in _NUM_PSEUDO:
                return "double"
            if val == "mz_is_building" or val == "is_bus_route":
                return "boolean"
            if val == "mz_networks":
                return "networks"
            return "string"
        if op == "call":
            f = val["func"]
            if f in _NUM_FUNCS:
                return "double"
            if f in _BOOL_FUNCS:
                return "boolean"
            return "string"
        if op == "case":
            ts = set()
            for e in val:
                ts.add(infer_type(e.get("then") if "when" in e else e.get("else")))
            return merge_types(ts)
        if op in ("clamp", "min", "max", "sum", "mul"):
            return "double"
        if op == "cond":
            return "boolean"
        if op == "lookup":
            ts = {infer_type(t) for t, _ in val["table"]}
            ts.add(infer_type(val.get("default")))
            return merge_types(ts)
    return "string"


def merge_types(ts: set[str]) -> str:
    ts = {t for t in ts if t != "null"}
    if not ts:
        return "null"
    if len(ts) == 1:
        return next(iter(ts))
    if ts == {"double", "boolean"}:
        return "string"
    return "string"


_SPARK_TYPES = {
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "string": T.StringType(),
    "null": T.StringType(),
}


def _coerce_to_arrow(obj_arr: np.ndarray, typ: str) -> pa.Array:
    """object ndarray -> typed Arrow array (vectorized; the slow
    per-element stringify path only runs when a column actually mixes
    types, which the YAML essentially never does)."""
    import pandas as pd

    if typ == "double":
        vals = pd.to_numeric(pd.Series(obj_arr, dtype=object), errors="coerce").to_numpy(
            dtype=np.float64
        )
        return pa.array(vals, type=pa.float64(), from_pandas=True)  # NaN -> null
    if typ == "boolean":
        return pa.array(obj_arr, type=pa.bool_(), from_pandas=True)
    try:
        return pa.array(obj_arr, type=pa.string(), from_pandas=True)
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        out = []
        for x in obj_arr:
            if x is None:
                out.append(None)
            elif isinstance(x, str):
                out.append(x)
            elif isinstance(x, bool):
                out.append("true" if x else "false")
            elif isinstance(x, float) and x == int(x):
                out.append(str(int(x)))
            else:
                out.append(str(x))
        return pa.array(out, type=pa.string())


# ---------------------------------------------------------------------------
# layer compilation (driver-side, cached on the CompiledLayer)
# ---------------------------------------------------------------------------


class ArrowLayerPlan:
    def __init__(self, layer):
        from osmzen_spark.compiler.errors import rule_compile

        lname = getattr(layer, "name", "?")
        keys: set[str] = set()
        self.preds = [
            rule_compile(lname, i, "when", r.when, lambda r=r: compile_condition_np(r.when, keys))
            for i, r in enumerate(layer.rules)
        ]

        # hoist distinct min_zoom nodes
        self.mz_of_rule = np.full(len(layer.rules), -1, dtype=np.int64)
        self.mz_fns = []
        mz_ids: dict[str, int] = {}
        for i, r in enumerate(layer.rules):
            if r.min_zoom is None:
                continue
            k = repr(r.min_zoom)
            if k not in mz_ids:
                mz_ids[k] = len(self.mz_fns)
                self.mz_fns.append(
                    rule_compile(
                        lname, i, "min_zoom", r.min_zoom, lambda r=r: compile_num_np(r.min_zoom, keys)
                    )
                )
            self.mz_of_rule[i] = mz_ids[k]

        # hoist distinct emit nodes per output key (array types excluded)
        self.emit_keys: list[tuple[str, str]] = []  # (key, merged type)
        self.emit_plan: dict[str, list[tuple[np.ndarray, int]]] = {}
        self.emit_fns: dict[str, list] = {}
        self.network_keys: dict[str, list[int]] = {}  # key -> rule idxs (Catalyst post-step)
        for key in layer.output_keys:
            if key == "min_zoom":
                continue
            types = set()
            nodes: dict[str, tuple[int, object]] = {}
            rule_to_node = {}
            for i, r in enumerate(layer.rules):
                if key not in r.emit:
                    continue
                node = r.emit[key]
                t = infer_type(node)
                types.add(t)
                k = repr(node)
                if k not in nodes:
                    nodes[k] = (len(nodes), node)
                rule_to_node[i] = nodes[k][0]
            merged = merge_types(types)
            if merged == "networks":
                self.network_keys[key] = sorted(rule_to_node.keys())
                continue
            self.emit_keys.append((key, merged))
            self.emit_fns[key] = [
                rule_compile(
                    lname, None, f"emit.{key}", node, lambda node=node: compile_value_np(node, keys)
                )
                for _, node in sorted(nodes.values(), key=lambda x: x[0])
            ]
            m = np.full(len(layer.rules), -1, dtype=np.int64)
            for i, nid in rule_to_node.items():
                m[i] = nid
            self.emit_plan[key] = m
        self.needed_keys = sorted(keys)
        self.geometry_types = list(layer.geometry_types)
