"""k-nearest-neighbor join via cell-ring expansion (north-rule operator).

``knn_join``: index both sides on Morton cells at zoom ``z``; each
query expands to the (2r+1)^2 neighbor cells (a literal offset array,
explode — Column-only), equi-joins candidates, computes exact
haversine distance, and keeps the top-k per query with a window.

Correctness envelope: a cell at zoom z spans ~40075km / 2^z; the join
finds all true neighbors within ``ring`` cells. Pick z/ring so the
k-th neighbor distance < ring * cell_size at the data's latitudes
(checked by tests against the brute-force reference).

``knn_bruteforce``: exact reference (broadcast cross join) — the
baseline the scale path is validated against.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from osmzen_spark.tiling.cells import cell_from_xy_col, tile_x_col, tile_y_col

EARTH_RADIUS_M = 6371000.0


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters, pure Column math."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = rlat2 - rlat1
    dlon = F.radians(lon2) - F.radians(lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.least(F.lit(1.0), F.sqrt(a)))


def _prefix(df: DataFrame, prefix: str) -> DataFrame:
    return df.select([F.col(c).alias(f"{prefix}{c}") for c in df.columns])


def knn_bruteforce(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    q_id: str = "id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Exact kNN: broadcast queries x points, window top-k.

    Output: q_<query cols>, p_<point cols>, dist_m, knn_rank.
    """
    q = _prefix(queries, "q_")
    p = _prefix(points, "p_")
    joined = p.crossJoin(F.broadcast(q)).withColumn(
        "dist_m", haversine_m(F.col(f"q_{lon}"), F.col(f"q_{lat}"), F.col(f"p_{lon}"), F.col(f"p_{lat}"))
    )
    w = Window.partitionBy(f"q_{q_id}").orderBy(F.col("dist_m").asc(), F.col(f"p_{q_id}").asc())
    return joined.withColumn("knn_rank", F.row_number().over(w)).filter(F.col("knn_rank") <= k)


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    z: int = 10,
    ring: int = 1,
    q_id: str = "id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Approximate-complete kNN via cell-ring candidate expansion.

    Scale shape: points get ONE cell (narrow); queries explode to
    (2*ring+1)^2 cells; the join is an int64 equi-join (AQE handles
    skew from dense metros). Output as knn_bruteforce.
    """
    p = _prefix(points, "p_").withColumn(
        "cell",
        cell_from_xy_col(tile_x_col(F.col(f"p_{lon}"), z), tile_y_col(F.col(f"p_{lat}"), z), z),
    )
    n = 2**z
    q = (
        _prefix(queries, "q_")
        .withColumn("_qx", tile_x_col(F.col(f"q_{lon}"), z))
        .withColumn("_qy", tile_y_col(F.col(f"q_{lat}"), z))
    )
    # every (dx, dy) within Chebyshev distance ring, the center included
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in range(-ring, ring + 1)
            for dy in range(-ring, ring + 1)
        ]
    )
    q = q.withColumn("_off", F.explode(offsets))
    # wrap x around the antimeridian; clamp y
    qx = F.pmod(F.col("_qx") + F.col("_off.dx"), F.lit(n))
    qy = F.col("_qy") + F.col("_off.dy")
    q = (
        q.filter((qy >= 0) & (qy < n))
        .withColumn("cell", cell_from_xy_col(qx.cast("long"), qy.cast("long"), z))
        .drop("_qx", "_qy", "_off")
    )
    joined = q.join(p, on="cell", how="inner").drop("cell")
    joined = joined.withColumn(
        "dist_m", haversine_m(F.col(f"q_{lon}"), F.col(f"q_{lat}"), F.col(f"p_{lon}"), F.col(f"p_{lat}"))
    )
    w = Window.partitionBy(f"q_{q_id}").orderBy(F.col("dist_m").asc(), F.col(f"p_{q_id}").asc())
    return joined.withColumn("knn_rank", F.row_number().over(w)).filter(F.col("knn_rank") <= k)
