"""Metamorphic checks of NormalizeEngine: a bounded process() must give
the same rows whatever the input's row order or partition count. The
perfbench golden digests assume this, and with Catalyst running the
plans interpreted there is no second execution path to compare
against."""

import hashlib
import json

import pytest
from pyspark.sql import functions as F

from osmzen_spark.pipeline.normalize import NormalizeEngine
from synthetic import SF_SMALL, synthetic_elements, synthetic_network

# a 10x10 degree box holding ~420 synthetic elements of all 18 classes
# (~200 of them points) and ~330 road ways
BOUND = (-175.0, -70.0, -165.0, -60.0)


def _inputs(spark):
    net, rels, way_nodes = synthetic_network(spark, SF_SMALL)
    elements = synthetic_elements(spark, SF_SMALL).unionByName(net)
    return elements, rels, way_nodes


def _digest(layers) -> dict:
    """{layer: order-independent digest of its rows}."""
    out = {}
    for name, df in layers.items():
        lines = sorted(
            json.dumps(r.asDict(recursive=True), sort_keys=True, default=repr)
            for r in df.collect()
        )
        out[name] = (len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest())
    return out


def _permuted(df):
    """df with its rows in a hash order of its scalar columns."""
    scalars = [c for c, t in df.dtypes if not t.startswith(("map", "struct", "array"))]
    return df.orderBy(F.xxhash64(*scalars))


def _run(elements, rels, way_nodes):
    engine = NormalizeEngine()
    try:
        return _digest(
            engine.process(
                elements,
                zoom=16,
                bound=BOUND,
                cache=True,
                relation_members=rels,
                way_nodes=way_nodes,
            )
        )
    finally:
        engine.release()


@pytest.fixture(scope="module")
def reference(spark):
    elements, rels, way_nodes = _inputs(spark)
    digest = _run(elements, rels, way_nodes)
    # the fixture exercises more than one layer, or the check is empty
    assert sum(n > 0 for n, _ in digest.values()) >= 4, digest
    return digest


@pytest.mark.parametrize(
    "change",
    [
        pytest.param(_permuted, id="permuted"),
        pytest.param(lambda df: df.repartition(1), id="repartition1"),
        pytest.param(lambda df: df.repartition(4), id="repartition4"),
    ],
)
def test_output_independent_of_row_order_and_partitioning(spark, reference, change):
    elements, rels, way_nodes = _inputs(spark)
    assert _run(change(elements), change(rels), change(way_nodes)) == reference
