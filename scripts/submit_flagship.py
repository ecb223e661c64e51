"""spark-submit entry point (packaging path):

    spark-submit --py-files dist/osmzen_spark.zip,tests/synthetic.py \
        scripts/submit_flagship.py [--sf-dir DIR]

Runs the full normalize+tile pipeline (every layer, z20 features on z14
tiles) over the synthetic elements and road network of --sf-dir, with
the engine imported from the zip and the generators from the shipped
tests/synthetic.py. Writes to the noop sink and prints one JSON line:
status, feature count and pipeline wall time.
"""

from __future__ import annotations

import argparse
import json
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    # import AFTER spark-submit has set up --py-files on sys.path
    from pyspark.sql import SparkSession
    from synthetic import synthetic_elements, synthetic_network

    from osmzen_spark.pipeline.normalize import NormalizeEngine
    from osmzen_spark.session import SQL_CONF

    spark = SparkSession.builder.appName("osmzen-flagship").getOrCreate()
    # The engine's session confs (the ones get_spark sets), applied only
    # where the submitter didn't set them explicitly. The critical one is
    # constraintPropagation=false: Catalyst's constraint inference is
    # super-linear on the 556-rule when-chain projections and OOMs/stalls
    # the driver without it (see session.py).
    submitted = spark.sparkContext.getConf()
    for k, v in SQL_CONF.items():
        if not submitted.contains(k):
            spark.conf.set(k, v)
    t0 = time.time()
    elements = synthetic_elements(spark, args.sf_dir)
    net, rels, way_nodes = synthetic_network(spark, args.sf_dir)
    out = NormalizeEngine().process_unioned(
        elements.unionByName(net),
        zoom=20,
        tile_zoom=14,
        cache=True,
        relation_members=rels,
        way_nodes=way_nodes,
    )
    out.write.format("noop").mode("overwrite").save()
    pipeline_sec = time.time() - t0
    n = out.count()
    print(
        json.dumps(
            {
                "status": "ok",
                "master": spark.sparkContext.master,
                "n_features": n,
                "pipeline_sec": round(pipeline_sec, 3),
                "pipeline_features_per_sec": round(n / pipeline_sec, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
