"""ALL-layers-in-one-pass Arrow evaluation — the engine's rule evaluator.

Every layer is evaluated inside ONE mapInArrow pass over the raw
elements table:

  * one scan, one Arrow exchange: the geometry stats
    (geom.derive.append_geometry_stats — area/length/clon/clat) are
    computed on each batch inside the pass, so the wide rows (tags map,
    geometry arrays, any payload) cross the Python boundary once;
  * a tile bound drops out-of-bound Points right after the stats, before
    any rule runs;
  * one BatchContext per RecordBatch — the tag matrix and derived
    column decodes are shared by all ~556 predicates of all 9 layers;
  * one output RecordBatch per (input batch, matching layer), rows
    tagged with zen_layer — the union that the pipeline checkpoints
    ONCE (a single stage cut instead of nine).

A per-layer pass would pay one Spark job per layer, each with a ~3 s
scheduling/exchange floor that dwarfs the rule compute (measured: water
25 rules = 3.6 s, pois 279 rules = 7.0 s at local[32], 1.65M rows).

Per-layer frames come back as `split_layer_views` — cheap filters +
projections over the materialized union, with per-layer emit columns
aliased back (a key emitted with different types by different layers —
only `bicycle`: roads string vs pois boolean — is stored as typed
variant columns and re-aliased per view).

At 100 TB this is the same shape: one pass over the elements table
produces the layer-tagged union, checkpointed to Iceberg; per-layer
post-processing reads partition-pruned views of that one table.
"""

from __future__ import annotations

import hashlib
import pickle

import numpy as np
import pyarrow as pa

from pyspark import cloudpickle

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osmzen_spark.compiler.arrow_layer import (
    ArrowLayerPlan,
    _SPARK_TYPES,
    _coerce_to_arrow,
)
from osmzen_spark.compiler.vectorized import BatchContext
from osmzen_spark.geom.derive import STATS_COLS, append_geometry_stats

_PA_TYPES = {"string": pa.string(), "double": pa.float64(), "boolean": pa.bool_()}

META = ("id", "type", "zen_layer", "min_zoom", "match_idx")

# Spark SQL types of the membership-derived "network" passthrough keys,
# used for typed NULL placeholders when the input lacks the membership
# tables (NullType can't reach a parquet writer, and an untyped NULL
# breaks downstream coalesce() against array columns).
_NETWORK_KEY_TYPES = {
    "mz_networks": "array<struct<route:string,network:string,ref:string>>",
    "is_bus_route": "boolean",
    "mz_cycling_network": "string",
    "mz_hiking_network": "string",
    "path_major_route_min_zoom": "double",
    "gate_min_zoom": "double",
}


def _plan_of(layer) -> ArrowLayerPlan:
    plan = getattr(layer, "_arrow_plan", None)
    if plan is None:
        plan = ArrowLayerPlan(layer)
        layer._arrow_plan = plan
    return plan


class MultiLayerArrowPlan:
    """Union emit-field layout + per-layer plans."""

    def __init__(self, layers: dict):
        self.layer_names = list(layers)
        self.plans = {n: _plan_of(l) for n, l in layers.items()}
        # union emit fields; a key emitted with >1 distinct type gets
        # one variant field per type
        key_types: dict[str, dict[str, str]] = {}
        for n, p in self.plans.items():
            for k, t in p.emit_keys:
                key_types.setdefault(k, {})[n] = t
        self.field_of: dict[tuple[str, str], str] = {}  # (layer, key) -> union field
        self.fields: list[tuple[str, str]] = []  # (field name, type)
        seen: dict[str, str] = {}
        for k, per_layer in key_types.items():
            types = set(per_layer.values())
            for t in sorted(types):
                fname = f"__emit_{k}" if len(types) == 1 else f"__emit_{k}@{t}"
                if fname not in seen:
                    seen[fname] = t
                    self.fields.append((fname, t))
            for n, t in per_layer.items():
                self.field_of[(n, k)] = f"__emit_{k}" if len(types) == 1 else f"__emit_{k}@{t}"
        self.needed_keys = sorted(set().union(*[set(p.needed_keys) for p in self.plans.values()]))


# Worker-side cache of unpickled rule payloads, keyed by blob digest.
# Python workers are reused across tasks (spark.python.worker.reuse),
# so the 556 compiled rule closures are deserialized once per worker
# process instead of once per task.
_WORKER_PAYLOADS: dict[bytes, tuple] = {}


class _LazyPayload:
    """Pre-pickled mapper captures.

    cloudpickle walking the 556 compiled rule closures costs ~2 s of
    driver time PER mapInArrow plan build (measured at sf0.01, the
    single largest driver fixed cost after py4j round trips). The walk
    is paid once per config here; subsequent plan builds re-serialize
    only the cached byte blob (``__reduce__`` short-circuits pickling
    to a memcpy of the bytes). Workers unpickle the blob lazily and
    memoize by digest across reused worker processes.
    """

    __slots__ = ("_blob", "_digest", "_obj")

    def __init__(self, blob: bytes, digest: bytes, obj: tuple | None = None):
        self._blob = blob
        self._digest = digest
        self._obj = obj

    @classmethod
    def _from_blob(cls, blob: bytes, digest: bytes) -> "_LazyPayload":
        return cls(blob, digest)

    def __reduce__(self):
        return (_LazyPayload._from_blob, (self._blob, self._digest))

    def get(self) -> tuple:
        obj = self._obj
        if obj is None:
            obj = _WORKER_PAYLOADS.get(self._digest)
            if obj is None:
                obj = pickle.loads(self._blob)
                _WORKER_PAYLOADS[self._digest] = obj
            self._obj = obj
        return obj


# (layers-dict id, layer-name subset) -> (layers ref pinning the id,
# MultiLayerArrowPlan, _LazyPayload). Config loading is memoized, so
# in practice this holds one entry per distinct config per session.
_PLAN_CACHE: dict = {}


def _cached_plan(layers: dict, layer_names: list[str] | None):
    key = (id(layers), tuple(layer_names) if layer_names else None)
    ent = _PLAN_CACHE.get(key)
    if ent is not None and ent[0] is layers:
        return ent[1], ent[2]
    use = {n: layers[n] for n in (layer_names or list(layers))}
    mplan = MultiLayerArrowPlan(use)
    captures = (
        mplan.layer_names,
        mplan.plans,
        mplan.fields,
        mplan.field_of,
        mplan.needed_keys,
    )
    blob = cloudpickle.dumps(captures)
    payload = _LazyPayload(blob, hashlib.sha256(blob).digest(), captures)
    if len(_PLAN_CACHE) > 32:  # bound growth under pathological use
        _PLAN_CACHE.clear()
    _PLAN_CACHE[key] = (layers, mplan, payload)
    return mplan, payload


def evaluate_all_layers_arrow(
    df: DataFrame,
    layers: dict,
    zoom: int,
    layer_names: list[str] | None = None,
    bound: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """One mapInArrow pass over the raw elements ``df`` evaluating every
    layer; returns the layer-tagged union with the geometry stats
    (area/length/clon/clat) and variant emit columns (see module doc).
    Use ``split_layer_views`` for per-layer frames.

    ``layers`` should be a long-lived dict (the config's): the compiled
    plan and its pickled payload are cached on its identity.

    With a ``bound`` (minx, miny, maxx, maxy), Point rows whose centroid
    lies outside it are dropped before rule evaluation
    (ref:process.go:146-167)."""
    mplan, payload = _cached_plan(layers, layer_names)

    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(c, T.DoubleType()) for c in STATS_COLS]
        + [
            T.StructField("zen_layer", T.StringType()),
            T.StructField("match_idx", T.IntegerType()),
            T.StructField("__emit_min_zoom", T.DoubleType()),
        ]
        + [T.StructField(f, _SPARK_TYPES[t]) for f, t in mplan.fields]
    )
    zoom_gate = float(zoom + 1)
    if bound is not None:
        minx, miny, maxx, maxy = bound

    def mapper(batches):
        names_order, plans, union_fields, field_of, needed_keys = payload.get()
        for batch in batches:
            batch = append_geometry_stats(batch)
            if bound is not None:
                cols = batch.schema.names
                gtype = np.asarray(batch.column(cols.index("geom_type")).to_pylist(), dtype=object)
                clon = batch.column(cols.index("clon")).to_numpy()
                clat = batch.column(cols.index("clat")).to_numpy()
                inside = (clon >= minx) & (clon <= maxx) & (clat >= miny) & (clat <= maxy)
                batch = batch.filter(pa.array((gtype != "Point") | inside))
            b = BatchContext(batch, needed_keys, zoom)
            n = b.n
            if n == 0:
                continue
            in_names = list(batch.schema.names)
            for lname in names_order:
                plan = plans[lname]
                gmask = np.isin(b.geom_type(), plan.geometry_types)
                if not gmask.any():
                    continue
                match = np.full(n, -1, dtype=np.int64)
                un = gmask.copy()
                n_rules = len(plan.preds)
                for i, pred in enumerate(plan.preds):
                    if not un.any():
                        break
                    hit = un & pred(b)
                    if hit.any():
                        match[hit] = i
                        un &= ~hit
                matched = match >= 0
                if not matched.any():
                    continue
                mz = np.full(n, np.nan)
                mz_ok = np.zeros(n, bool)
                gids = plan.mz_of_rule[np.clip(match, 0, n_rules - 1)]
                gids = np.where(matched, gids, -1)
                for g in np.unique(gids):
                    if g < 0:
                        continue
                    rows = gids == g
                    vals, ok = plan.mz_fns[g](b)
                    mz[rows] = vals[rows]
                    mz_ok[rows] = ok[rows]
                keep = matched & mz_ok & (zoom_gate >= mz)
                if not keep.any():
                    continue
                mz = np.floor(mz * 100) / 100.0  # (ref:process.go:207)

                kept = np.nonzero(keep)[0]
                filtered = batch.filter(pa.array(keep))
                arrays = list(filtered.columns)
                names = list(in_names)
                arrays.append(pa.array([lname] * len(kept), type=pa.string()))
                names.append("zen_layer")
                arrays.append(pa.array(match[kept].astype(np.int32)))
                names.append("match_idx")
                arrays.append(pa.array(mz[kept], type=pa.float64()))
                names.append("__emit_min_zoom")

                for fname, typ in union_fields:
                    key = None
                    for k in plan.emit_plan:
                        if field_of.get((lname, k)) == fname:
                            key = k
                            break
                    if key is None:
                        arrays.append(pa.nulls(len(kept), type=_PA_TYPES[typ]))
                        names.append(fname)
                        continue
                    rule_map = plan.emit_plan[key]
                    nids = rule_map[match[kept]]
                    out = np.empty(len(kept), dtype=object)
                    out[:] = None
                    for g in np.unique(nids):
                        if g < 0:
                            continue
                        rows_local = nids == g
                        vals = plan.emit_fns[key][g](b)
                        out[rows_local] = vals[kept[rows_local]]
                    arrays.append(_coerce_to_arrow(out, typ))
                    names.append(fname)
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    out = df.mapInArrow(mapper, schema=out_schema)
    out = out.withColumn(
        "id",
        F.when(F.col("element_type") == "relation", -F.col("element_id")).otherwise(
            F.col("element_id")
        ),
    ).withColumn("type", F.col("element_type"))
    return out


def _bq(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def split_layer_views(
    union: DataFrame, layers: dict, df_input_cols: list[str], layer_names: list[str] | None = None
) -> dict:
    """Per-layer frames over the (checkpointed) union of
    ``evaluate_all_layers_arrow(df, layers, zoom, layer_names)`` —
    filter + projection, shaped like CompiledLayer.evaluate output
    (id/type/zen_layer/min_zoom/match_idx + emits + the
    ``df_input_cols`` passthrough). Reuses that call's cached plan.

    Built as ONE selectExpr of SQL strings per layer: the old
    per-column F.col/alias/when chain cost ~150 py4j round-trips per
    layer plus a withColumnRenamed re-analysis per network key
    (measured 7.7 s of driver time across 9 layers); string
    expressions are marshalled in a single call and parsed JVM-side,
    producing the identical plan."""
    mplan, _ = _cached_plan(layers, layer_names)
    views = {}
    for lname in mplan.layer_names:
        plan = mplan.plans[lname]
        exprs = [
            "id",
            "type",
            "zen_layer",
            "`__emit_min_zoom` AS min_zoom",
            "match_idx",
        ]
        emit_cols = {k for k, _ in plan.emit_keys}
        for k, _t in plan.emit_keys:
            exprs.append(f"{_bq(mplan.field_of[(lname, k)])} AS {_bq(k)}")
        for k, rule_idxs in plan.network_keys.items():
            if k in df_input_cols:
                idxs = ", ".join(str(int(i)) for i in rule_idxs)
                exprs.append(
                    f"CASE WHEN match_idx IN ({idxs}) THEN {_bq(k)} END AS {_bq(k)}"
                )
            else:
                # typed, not void: NullType columns cannot reach a
                # parquet writer (normalize._stage_cut casts voids, but
                # the eval union is stage-cut BEFORE these views are
                # built), and the type must match what the
                # membership join would have produced so downstream
                # coalesce()/array ops still resolve
                exprs.append(
                    f"CAST(NULL AS {_NETWORK_KEY_TYPES.get(k, 'string')}) AS {_bq(k)}"
                )
        meta = set(META)
        for c in df_input_cols:
            if c not in emit_cols and c not in meta and c not in plan.network_keys:
                exprs.append(_bq(c))
        views[lname] = union.where(f"zen_layer = '{lname}'").selectExpr(*exprs)
    return views
