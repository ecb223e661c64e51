import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osmzen_spark.session import get_spark  # noqa: E402

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def perfbench_gen():
    """perfbench/gen.py, the generated-city writer. It imports its
    sibling pbf.py, so perfbench/ is on sys.path only while it loads:
    left there, `tests` would resolve to perfbench/tests/."""
    with pytest.MonkeyPatch.context() as mp:
        mp.syspath_prepend(PERFBENCH)
        import gen
    return gen


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="osmzen-tests", master="local[4]", shuffle_partitions=4)
    yield s


from pyspark.sql import types as T  # noqa: E402

from osmzen_spark.geom.derive import GEOMETRY_TYPE  # noqa: E402

ELEMENTS_SCHEMA = T.StructType(
    [
        T.StructField("element_id", T.LongType()),
        T.StructField("element_type", T.StringType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("geom_type", T.StringType()),
        T.StructField("geometry", GEOMETRY_TYPE),
    ]
)


def with_geometry_stats(df, geometry_col="geometry", type_col="geom_type"):
    """df with area/length/clon/clat appended by the engine's geometry
    kernel (geom.derive.append_geometry_stats) in a mapInArrow pass:
    the derived input of the Column oracle CompiledLayer.evaluate."""
    from osmzen_spark.geom.derive import STATS_COLS

    out_schema = T.StructType(df.schema.fields + [T.StructField(c, T.DoubleType()) for c in STATS_COLS])

    def mapper(batches):
        from osmzen_spark.geom.derive import append_geometry_stats

        for batch in batches:
            yield append_geometry_stats(batch, geometry_col, type_col)

    return df.mapInArrow(mapper, schema=out_schema)


def make_elements(spark, rows):
    """rows: list of (id, type, tags, geom_type, geometry-dict)."""
    data = [
        {
            "element_id": r[0],
            "element_type": r[1],
            "tags": r[2],
            "geom_type": r[3],
            "geometry": r[4],
        }
        for r in rows
    ]
    return spark.createDataFrame(data, schema=ELEMENTS_SCHEMA)


# the reference's golden parking-garage way (ref:process_test.go:15-30)
PARKING_GARAGE_RING = [
    (-122.2565497, 37.8243324),
    (-122.2557092, 37.8249618),
    (-122.2551399, 37.8244875),
    (-122.25593, 37.8238958),
    (-122.2562084, 37.8241277),
    (-122.2562588, 37.82409),
    (-122.2565497, 37.8243324),
]

PARKING_GARAGE_TAGS = {
    "amenity": "parking",
    "building": "yes",
    "building:levels": "7",
    "name": "Kaiser Permanente Medical Center - Parking Garage",
    "parking": "multi-storey",
}
