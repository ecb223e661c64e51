"""osmzen_spark — a from-scratch PySpark-native normalization + tiling engine.

Re-creates the query/data-processing capabilities of paulmach/osmzen
(Tilezen's OSM -> vector-tile normalization) as an idiomatic Spark engine:

* a YAML rule compiler that turns osmzen-style condition / min_zoom /
  output trees into Spark ``Column`` expressions that Catalyst evaluates
  JVM-side, interpreted (compiling Java for each small but wide request
  plan costs more than it saves; :mod:`osmzen_spark.session`), never
  per-row Python  -- see :mod:`osmzen_spark.compiler`
* Arrow-vectorized geometry kernels (Web-Mercator area / length /
  centroid over flat coordinate buffers)  -- :mod:`osmzen_spark.geom`
* z/x/y tile and Morton cell columns  -- :mod:`osmzen_spark.tiling`
* layer pipelines + cross-layer post-processing (rank matchers,
  backfill joins, conditional names, quantize/clamp)  -- :mod:`osmzen_spark.pipeline`
* sources (OSM PBF / XML, GeoJSON) and the MVT sink  -- :mod:`osmzen_spark.sources`,
  :mod:`osmzen_spark.sinks`

The reference implementation (read-only, for behavior only) lives at
/root/reference; citations in docstrings use ``ref:file:line`` form.
"""

__version__ = "0.1.0"

from osmzen_spark.session import get_spark  # noqa: F401
