"""Geometry-derived columns, appended to Arrow batches inside the
engine's ``mapInArrow`` pass (compiler/arrow_multilayer.py).

``mapInArrow`` hands us raw Arrow RecordBatches, so the list columns'
flat value buffers + offsets go straight into the numpy kernels — the
whole batch is measured with a handful of vectorized ops and every
other column (including binary image payloads) passes through
untouched (zero-copy), which preserves the payload byte-equality
invariant.

Derived columns (ref:filter/context.go:109-181):
  area double        -- floor(mercator_area + 0.5)
  length double      -- mercator length (outer ring for polygons)
  clon, clat double  -- centroid, for tile/cell assignment
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import types as T

from osmzen_spark.geom.kernels import geometry_stats

GEOMETRY_TYPE = T.StructType(
    [
        T.StructField("xs", T.ArrayType(T.DoubleType(), False)),
        T.StructField("ys", T.ArrayType(T.DoubleType(), False)),
        T.StructField("ring_lens", T.ArrayType(T.IntegerType(), False)),
        T.StructField("ring_roles", T.ArrayType(T.IntegerType(), False)),
    ]
)

STATS_COLS = ("area", "length", "clon", "clat")


def _flat(list_array: pa.Array):
    """(values ndarray, row_offsets ndarray) for a (possibly sliced) ListArray."""
    if isinstance(list_array, pa.ChunkedArray):
        list_array = list_array.combine_chunks()
    offsets = list_array.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    values = list_array.values.to_numpy(zero_copy_only=False)
    # normalize slice: make offsets start at 0
    base = offsets[0]
    if base != 0:
        values = values[base : offsets[-1]]
        offsets = offsets - base
    else:
        values = values[: offsets[-1]]
    return values, offsets


def compute_batch_stats(geom_col: pa.Array, geom_type: np.ndarray):
    """Run the kernels on one Arrow struct column; returns 4 ndarrays."""
    if isinstance(geom_col, pa.ChunkedArray):
        geom_col = geom_col.combine_chunks()
    xs, pt_off = _flat(geom_col.field("xs"))
    ys, _ = _flat(geom_col.field("ys"))
    ring_lens, ring_off = _flat(geom_col.field("ring_lens"))
    ring_roles, _ = _flat(geom_col.field("ring_roles"))
    return geometry_stats(geom_type, xs, ys, pt_off, ring_lens, ring_off, ring_roles)


def append_geometry_stats(
    batch: pa.RecordBatch, geometry_col: str = "geometry", type_col: str = "geom_type"
) -> pa.RecordBatch:
    """``batch`` with the STATS_COLS doubles appended; every input
    column passes through untouched."""
    names = batch.schema.names
    gtype = np.asarray(batch.column(names.index(type_col)).to_pylist(), dtype=object)
    stats = compute_batch_stats(batch.column(names.index(geometry_col)), gtype)
    return pa.RecordBatch.from_arrays(
        list(batch.columns) + [pa.array(s, type=pa.float64()) for s in stats],
        names=names + list(STATS_COLS),
    )


def geometry_from_rings(rings, geom_type: str | None = None):
    """Driver-side helper: rings = [[(lon,lat), ...], ...] -> geometry dict.

    Closes unclosed polygon rings; first ring is outer, rest are holes.
    """
    is_poly = geom_type in ("Polygon", "MultiPolygon") or geom_type is None
    xs, ys, lens, roles = [], [], [], []
    for i, ring in enumerate(rings):
        pts = list(ring)
        if is_poly and len(pts) >= 3 and pts[0] != pts[-1]:
            pts.append(pts[0])
        xs.extend(p[0] for p in pts)
        ys.extend(p[1] for p in pts)
        lens.append(len(pts))
        roles.append(1 if (is_poly and i > 0) else 0)
    return {"xs": xs, "ys": ys, "ring_lens": lens, "ring_roles": roles}


def point_geometry(lon: float, lat: float):
    return {"xs": [lon], "ys": [lat], "ring_lens": [1], "ring_roles": [0]}
