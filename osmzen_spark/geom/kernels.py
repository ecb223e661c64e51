"""Vectorized geometry kernels over flat coordinate buffers.

The engine's geometry encoding is Arrow-native (no WKB in the hot path):

    geometry: struct<
        xs:         array<double>   -- lon of every vertex, rings concatenated
        ys:         array<double>   -- lat of every vertex
        ring_lens:  array<int>      -- vertex count per ring / part
        ring_roles: array<int>      -- 0 = outer/part, 1 = hole
    >

All kernels operate on FLAT buffers (values + offsets), exactly the
Arrow physical layout, so a whole RecordBatch is processed with numpy
``reduceat`` — no per-row Python (driver ``input_hint`` requirement).

Semantics match the reference measures:
* area  -- Web-Mercator planar shoelace, outer minus holes,
           ``floor(a + 0.5)`` (ref:filter/context.go:120-143, golden
           value 11528 in ref:process_test.go:58)
* length -- Mercator planar length; for polygons the outer-ring length
           (ref:filter/context.go:109-117)
* centroid -- Mercator-plane area-weighted centroid for polygons,
           length-weighted for lines, vertex itself for points; used
           for tile assignment and label placement
           (ref:transform/transforms.go:432-434)
"""

from __future__ import annotations

import numpy as np

from osmzen_spark.geom.mercator import mercator_x, mercator_y, unproject_lat, unproject_lon

POLY_TYPES = ("Polygon", "MultiPolygon")
LINE_TYPES = ("LineString", "MultiLineString")


def geometry_stats(
    geom_type: np.ndarray,
    xs_flat: np.ndarray,
    ys_flat: np.ndarray,
    pt_row_offsets: np.ndarray,  # len n_rows+1 into xs_flat/ys_flat
    ring_lens_flat: np.ndarray,
    ring_row_offsets: np.ndarray,  # len n_rows+1 into ring_lens_flat
    ring_roles_flat: np.ndarray,
):
    """Return (area, length, clon, clat) float64 arrays of len n_rows."""
    n_rows = len(geom_type)
    area = np.zeros(n_rows)
    length = np.zeros(n_rows)
    clon = np.full(n_rows, np.nan)
    clat = np.full(n_rows, np.nan)
    n_pts = len(xs_flat)
    if n_rows == 0 or n_pts == 0:
        return area, length, clon, clat

    geom_type = np.asarray(geom_type, dtype=object)
    xs_flat = np.ascontiguousarray(xs_flat, dtype=np.float64)
    ys_flat = np.ascontiguousarray(ys_flat, dtype=np.float64)
    ring_lens = np.ascontiguousarray(ring_lens_flat, dtype=np.int64)
    ring_roles = np.ascontiguousarray(ring_roles_flat, dtype=np.int64)
    pt_row_offsets = np.ascontiguousarray(pt_row_offsets, dtype=np.int64)
    ring_row_offsets = np.ascontiguousarray(ring_row_offsets, dtype=np.int64)

    n_rings = len(ring_lens)
    ring_starts = np.zeros(n_rings, dtype=np.int64)
    if n_rings > 1:
        np.cumsum(ring_lens[:-1], out=ring_starts[1:])
    ring_ends = ring_starts + ring_lens  # exclusive

    X = mercator_x(xs_flat)
    Y = mercator_y(ys_flat)

    # Translate each row to a local origin (its first vertex) before the
    # shoelace: at full Mercator magnitude (~1e7 m) the cross terms are
    # ~1e14 and cancel down to the polygon area, so a single ulp of
    # libm tan/log noise shows up as ~0.05 m^2 of absolute error —
    # enough to flip floor(a + 0.5) on knife-edge rows and diverge from
    # any independent re-implementation (e.g. the DuckDB oracles).
    # Translation is exact (FP subtraction of nearby values) and drops
    # the error to ~1e-6 m^2. Centroids get the origin added back.
    pt_counts_i = np.diff(pt_row_offsets)
    first_idx = np.minimum(pt_row_offsets[:-1], max(n_pts - 1, 0))
    X0_row = X[first_idx]
    Y0_row = Y[first_idx]
    X0 = np.repeat(X0_row, pt_counts_i)
    Y0 = np.repeat(Y0_row, pt_counts_i)
    X = X - X0
    Y = Y - Y0

    # per-edge terms; edge i pairs vertex i with i+1. Zero the terms that
    # straddle a ring boundary (last vertex of ring k -> first of ring k+1).
    cross = np.zeros(n_pts)
    cross[:-1] = X[:-1] * Y[1:] - X[1:] * Y[:-1]
    seg = np.zeros(n_pts)
    seg[:-1] = np.hypot(np.diff(X), np.diff(Y))
    cx_term = np.zeros(n_pts)
    cx_term[:-1] = (X[:-1] + X[1:]) * cross[:-1]
    cy_term = np.zeros(n_pts)
    cy_term[:-1] = (Y[:-1] + Y[1:]) * cross[:-1]
    mx_term = np.zeros(n_pts)  # length-weighted midpoint numerators (lines)
    mx_term[:-1] = seg[:-1] * 0.5 * (X[:-1] + X[1:])
    my_term = np.zeros(n_pts)
    my_term[:-1] = seg[:-1] * 0.5 * (Y[:-1] + Y[1:])

    boundary = ring_ends - 1
    boundary = boundary[boundary >= 0]
    cross[boundary] = 0.0
    seg[boundary] = 0.0
    cx_term[boundary] = 0.0
    cy_term[boundary] = 0.0
    mx_term[boundary] = 0.0
    my_term[boundary] = 0.0

    def ring_sum(a):
        out = np.add.reduceat(a, ring_starts)
        # reduceat quirk: empty segment (start_k >= start_{k+1}) returns
        # a[start_k]; mask degenerate rings explicitly below.
        out[ring_lens <= 1] = 0.0
        return out

    ring_signed = 0.5 * ring_sum(cross)
    ring_len_m = ring_sum(seg)
    ring_cx = ring_sum(cx_term)
    ring_cy = ring_sum(cy_term)
    ring_mx = ring_sum(mx_term)
    ring_my = ring_sum(my_term)

    # normalize orientation: outers contribute +|A|, holes -|A|
    sgn = np.sign(ring_signed)
    sgn[sgn == 0.0] = 1.0
    role_sign = np.where(ring_roles == 0, 1.0, -1.0)
    f = role_sign * sgn
    ring_area_contrib = f * ring_signed  # == role_sign * |signed|
    ring_cx_contrib = f * ring_cx
    ring_cy_contrib = f * ring_cy
    outer_mask = (ring_roles == 0).astype(np.float64)

    def row_sum(a):
        out = np.add.reduceat(a, ring_row_offsets[:-1])
        counts = np.diff(ring_row_offsets)
        out[counts == 0] = 0.0
        return out

    row_area = row_sum(ring_area_contrib)
    row_cx_num = row_sum(ring_cx_contrib)
    row_cy_num = row_sum(ring_cy_contrib)
    row_len_all = row_sum(ring_len_m)
    row_len_outer = row_sum(ring_len_m * outer_mask)
    row_mx = row_sum(ring_mx)
    row_my = row_sum(ring_my)

    # vertex means (centroid fallback & point centroids) in RAW lon/lat —
    # avoids projection round-trip error on exact point coordinates
    pt_counts = np.diff(pt_row_offsets).astype(np.float64)
    safe_counts = np.maximum(pt_counts, 1.0)
    reduce_idx = np.minimum(pt_row_offsets[:-1], n_pts - 1)
    row_lon_mean = np.add.reduceat(xs_flat, reduce_idx)
    row_lat_mean = np.add.reduceat(ys_flat, reduce_idx)
    row_lon_mean = np.where(pt_counts > 0, row_lon_mean / safe_counts, np.nan)
    row_lat_mean = np.where(pt_counts > 0, row_lat_mean / safe_counts, np.nan)

    is_poly = np.isin(geom_type, POLY_TYPES)
    is_line = np.isin(geom_type, LINE_TYPES)

    area = np.where(is_poly, np.floor(np.abs(row_area) + 0.5), 0.0)
    length = np.where(is_line, row_len_all, np.where(is_poly, row_len_outer, 0.0))

    with np.errstate(divide="ignore", invalid="ignore"):
        poly_cx = row_cx_num / (6.0 * row_area)
        poly_cy = row_cy_num / (6.0 * row_area)
        line_cx = row_mx / row_len_all
        line_cy = row_my / row_len_all

    # translate centroids back to absolute Mercator coordinates
    poly_cx = poly_cx + X0_row
    poly_cy = poly_cy + Y0_row
    line_cx = line_cx + X0_row
    line_cy = line_cy + Y0_row

    use_poly = is_poly & (np.abs(row_area) > 1e-12)
    use_line = (~use_poly) & is_line & (row_len_all > 1e-12)
    with np.errstate(invalid="ignore"):
        clon = np.where(
            use_poly, unproject_lon(poly_cx), np.where(use_line, unproject_lon(line_cx), row_lon_mean)
        )
        clat = np.where(
            use_poly, unproject_lat(poly_cy), np.where(use_line, unproject_lat(line_cy), row_lat_mean)
        )
    return area, length, clon, clat
