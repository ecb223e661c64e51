"""Stage checkpointing with per-partition lineage (north rule:
"every stage checkpoints with per-partition lineage rows — cell range,
row count, checksum — so a killed job resumes without recompute").

On a real cluster the sink is an Iceberg table (snapshot isolation,
atomic commit); this container has no Iceberg jars, so the same
semantics are implemented on parquet directories with an atomic
manifest: a stage directory is valid iff `_lineage/` exists and its
totals match a re-aggregation of the data files. The lineage table has
one row per bucket of the stage's partition key:

    stage, bucket, n_rows, checksum (xor of row xxhash64s,
    order-independent), cell_min, cell_max

`run_stage` is the resume entry point: if the checkpoint validates, the
stage is NOT recomputed — the DataFrame is reloaded from the
checkpoint, giving kill-resume at stage granularity.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_DIR = "_lineage"
MANIFEST = "_lineage_manifest.json"


def _hashable_cols(df: DataFrame) -> list[str]:
    return [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() not in ("map", "struct", "array", "binary")
    ]


def lineage_frame(df: DataFrame, bucket_col: str, cell_col: str | None = "cell") -> DataFrame:
    """Per-bucket lineage: row count, order-independent checksum, cell range."""
    cols = _hashable_cols(df)
    row_hash = F.xxhash64(*[F.col(c) for c in cols])
    aggs = [
        F.count("*").alias("n_rows"),
        # xor-fold: order/partitioning independent, cheap map-side partials
        F.bit_xor(row_hash).alias("checksum"),
    ]
    if cell_col and cell_col in df.columns:
        aggs += [F.min(cell_col).alias("cell_min"), F.max(cell_col).alias("cell_max")]
    else:
        aggs += [F.lit(None).cast("long").alias("cell_min"), F.lit(None).cast("long").alias("cell_max")]
    return df.groupBy(F.col(bucket_col).alias("bucket")).agg(*aggs)


def write_stage(
    df: DataFrame,
    path: str,
    stage: str,
    bucket_col: str,
    cell_col: str | None = "cell",
    partition_by: str | None = None,
) -> dict:
    """Checkpoint a stage: data + lineage + manifest (manifest written
    last = commit point). `partition_by` names a column to partition
    the data files by (`data/<col>=<value>/`), so readers that filter
    on it scan one directory."""
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(os.path.join(path, "data"))
    spark = df.sparkSession
    data = spark.read.parquet(os.path.join(path, "data"))
    lin = lineage_frame(data, bucket_col, cell_col)
    lin.write.mode("overwrite").parquet(os.path.join(path, LINEAGE_DIR))
    totals = lin.agg(
        F.sum("n_rows").alias("rows"), F.count("*").alias("buckets")
    ).collect()[0]
    manifest = {
        "stage": stage,
        "bucket_col": bucket_col,
        "cell_col": cell_col if (cell_col and cell_col in data.columns) else None,
        "n_rows": int(totals["rows"] or 0),
        "n_buckets": int(totals["buckets"]),
    }
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(manifest, f)
    return manifest


def validate_stage(
    spark: SparkSession, path: str, bucket_col: str | None = None, deep: bool = False
) -> bool:
    """A checkpoint is resumable iff the manifest exists and the stored
    lineage matches a recount of the data files (detects partial/corrupt
    writes after a kill).

    `deep=True` additionally re-derives the full per-bucket lineage
    (count, xor checksum, cell range) from the data files and compares
    it row-for-row against the stored `_lineage/` table — catches
    corruption that preserves row counts (a torn page, a re-written
    value) at the cost of one extra scan. Cheap relative to the
    recompute it guards, so run_stage always resumes through it."""
    mpath = os.path.join(path, MANIFEST)
    if not os.path.exists(mpath):
        return False
    with open(mpath) as f:
        manifest = json.load(f)
    try:
        data = spark.read.parquet(os.path.join(path, "data"))
        lin = spark.read.parquet(os.path.join(path, LINEAGE_DIR))
    except Exception:
        return False
    n = data.count()
    if n != manifest["n_rows"]:
        return False
    stored = int(lin.agg(F.sum("n_rows")).collect()[0][0] or 0)
    if stored != n:
        return False
    if not deep:
        return True
    fresh = lineage_frame(
        data, manifest.get("bucket_col", bucket_col or "bucket"), manifest.get("cell_col")
    )
    cmp_cols = ["n_rows", "checksum"]
    if "cell_col" in manifest:  # older manifests didn't record it; their
        cmp_cols += ["cell_min", "cell_max"]  # stored ranges can't be re-derived
    # full outer join on bucket: any bucket missing on either side or
    # any mismatching aggregate is corruption
    joined = lin.alias("s").join(fresh.alias("f"), "bucket", "full_outer")
    bad = joined.filter(
        " OR ".join(
            f"(s.{c} IS DISTINCT FROM f.{c})" for c in cmp_cols
        )
    )
    return bad.limit(1).count() == 0


def run_stage(
    spark: SparkSession,
    path: str,
    stage: str,
    bucket_col: str,
    compute,  # () -> DataFrame
    cell_col: str | None = "cell",
    partition_by: str | None = None,
) -> DataFrame:
    """Resume-or-compute: reload a checkpoint that passes deep
    validation, else compute, checkpoint (partitioned by `partition_by`,
    see write_stage), and return the reloaded (pruned-scan-friendly)
    data."""
    if validate_stage(spark, path, deep=True):
        return spark.read.parquet(os.path.join(path, "data"))
    df = compute()
    write_stage(df, path, stage, bucket_col, cell_col, partition_by)
    return spark.read.parquet(os.path.join(path, "data"))
