from osmzen_spark.geom.mercator import (  # noqa: F401
    mercator_x,
    mercator_y,
    unproject_lon,
    unproject_lat,
)
from osmzen_spark.geom.kernels import geometry_stats  # noqa: F401
from osmzen_spark.geom.derive import GEOMETRY_TYPE  # noqa: F401
