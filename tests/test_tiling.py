"""Tiling core tests: Morton cells and tile math, checked against a
pure-Python Morton oracle."""

from pyspark.sql import functions as F

from osmzen_spark.tiling.cells import tile_x_col, tile_y_col, with_tile


# ------------------------------------------------ pure-Python Morton oracle

def morton(x: int, y: int) -> int:
    def spread(c: int) -> int:
        c &= 0x1FFFFFFF
        c = (c | (c << 16)) & 0x0000FFFF0000FFFF
        c = (c | (c << 8)) & 0x00FF00FF00FF00FF
        c = (c | (c << 4)) & 0x0F0F0F0F0F0F0F0F
        c = (c | (c << 2)) & 0x3333333333333333
        c = (c | (c << 1)) & 0x5555555555555555
        return c

    return spread(x) | (spread(y) << 1)


def _compact_bits(c: int) -> int:
    c &= 0x5555555555555555
    c = (c | (c >> 1)) & 0x3333333333333333
    c = (c | (c >> 2)) & 0x0F0F0F0F0F0F0F0F
    c = (c | (c >> 4)) & 0x00FF00FF00FF00FF
    c = (c | (c >> 8)) & 0x0000FFFF0000FFFF
    c = (c | (c >> 16)) & 0x00000000FFFFFFFF
    return c


def cell_to_zxy(cell: int) -> tuple[int, int, int]:
    z = cell >> 58
    m = cell & ((1 << 58) - 1)
    return z, _compact_bits(m), _compact_bits(m >> 1)


def cell_id(z: int, x: int, y: int) -> int:
    return (z << 58) | morton(x, y)


def test_morton_roundtrip():
    for z, x, y in [(0, 0, 0), (5, 17, 9), (16, 17896, 24450), (29, 2**29 - 1, 12345)]:
        c = cell_id(z, x, y)
        assert cell_to_zxy(c) == (z, x, y)


def test_morton_locality():
    # adjacent cells share high bits more often than distant ones
    assert morton(3, 5) != morton(5, 3)


def test_cell_col_matches_python(spark):
    """with_tile's cell column, the engine's own path, packs the tile
    it assigns exactly as the Python oracle does."""
    df = spark.createDataFrame(
        [(i, -180.0 + i * 37.3, -80.0 + i * 17.1) for i in range(9)], "id long, clon double, clat double"
    )
    rows = with_tile(df, 12).collect()
    assert len({r["cell"] for r in rows}) == len(rows)
    for r in rows:
        assert r["tile_z"] == 12
        assert r["cell"] == cell_id(12, r["tile_x"], r["tile_y"])
        assert cell_to_zxy(r["cell"]) == (12, r["tile_x"], r["tile_y"])


def test_reference_tile_assignment(spark):
    # the reference benchmark tile: z16 x=17896 y=24450
    # (ref:testdata/tile-16-17896-24450.xml); its bound center must map back
    import math

    n = 2**16
    lon = (17896 + 0.5) / n * 360.0 - 180.0
    lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (24450 + 0.5) / n))))
    df = spark.createDataFrame([(lon, lat)], "lon double, lat double")
    row = df.select(
        tile_x_col(F.col("lon"), 16).alias("x"), tile_y_col(F.col("lat"), 16).alias("y")
    ).collect()[0]
    assert (row["x"], row["y"]) == (17896, 24450)


def test_tile_partitioned_sink_prunes_scan(spark, tmp_path):
    """The deployment sink is a tile-partitioned table (Iceberg on a
    cluster; partitioned parquet here): a tile-filtered read must show
    PartitionFilters in the scan — partitions outside the filter are
    never opened — and a narrow projection must prune ReadSchema to
    the requested columns with the residual filter pushed down."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "tiles")
    pts = spark.range(1, 2001).select(
        "id",
        F.pmod("id", F.lit(8)).alias("tile_x"),
        F.pmod(F.col("id") * 7, F.lit(8)).alias("tile_y"),
        (F.col("id") * 2.5).alias("score"),
    )
    pts.write.partitionBy("tile_x").parquet(path)

    rd = spark.read.parquet(path).filter(F.col("tile_x") == 3).filter(F.col("tile_y") >= 4)
    narrow = rd.select("id", "tile_y")
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tile_x" in plan.split("PartitionFilters", 1)[1][:200]
    assert "PushedFilters" in plan and "GreaterThanOrEqual(tile_y,4" in plan
    read_schema = plan.split("ReadSchema", 1)[1][:200]
    assert "score" not in read_schema  # column pruning reached the scan
    got = narrow.count()
    assert got == sum(1 for i in range(1, 2001) if i % 8 == 3 and (7 * i) % 8 >= 4)
