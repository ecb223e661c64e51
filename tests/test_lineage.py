"""Checkpoint/lineage tests: write, validate, resume-without-recompute,
corruption detection."""

import os

from osmzen_spark.lineage import run_stage, validate_stage, write_stage


def _df(spark, n=100):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 7).alias("bucket_key"),
        (F.col("id") * 31).alias("cell"),
        F.concat(F.lit("v"), F.col("id")).alias("payload"),
    )


def test_write_validate_roundtrip(spark, tmp_path):
    path = str(tmp_path / "stage1")
    manifest = write_stage(_df(spark), path, "stage1", "bucket_key")
    assert manifest["n_rows"] == 100
    assert manifest["n_buckets"] == 7
    assert validate_stage(spark, path)


def test_resume_skips_recompute(spark, tmp_path):
    path = str(tmp_path / "stage2")
    calls = []

    def compute():
        calls.append(1)
        return _df(spark)

    out1 = run_stage(spark, path, "stage2", "bucket_key", compute)
    assert out1.count() == 100 and calls == [1]
    out2 = run_stage(spark, path, "stage2", "bucket_key", compute)
    assert out2.count() == 100 and calls == [1]  # resumed, not recomputed


def test_corruption_detected(spark, tmp_path):
    path = str(tmp_path / "stage3")
    write_stage(_df(spark), path, "stage3", "bucket_key")
    # simulate a partial write after kill: remove a data file
    data_dir = os.path.join(path, "data")
    parts = [f for f in os.listdir(data_dir) if f.endswith(".parquet")]
    os.remove(os.path.join(data_dir, parts[0]))
    assert not validate_stage(spark, path)


def test_missing_manifest_invalid(spark, tmp_path):
    assert not validate_stage(spark, str(tmp_path / "nope"))


def test_deep_validation_catches_same_count_corruption(spark, tmp_path):
    """A torn/rewritten value that preserves row counts passes the
    shallow (count-only) check but must fail the deep per-bucket
    checksum comparison."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "stage4")
    write_stage(_df(spark), path, "stage4", "bucket_key")
    assert validate_stage(spark, path, deep=True)  # clean checkpoint

    data_dir = os.path.join(path, "data")
    part = next(f for f in sorted(os.listdir(data_dir)) if f.endswith(".parquet"))
    fpath = os.path.join(data_dir, part)
    tbl = pq.read_table(fpath)
    col = tbl["payload"].to_pylist()
    col[0] = "corrupted"
    tbl = tbl.set_column(tbl.schema.get_field_index("payload"), "payload", [col])
    pq.write_table(tbl, fpath)
    # drop the Hadoop local-FS CRC sidecar: on the object stores a real
    # deployment writes to there is no sidecar, so the I/O layer cannot
    # catch this — exactly the gap deep validation covers
    crc = os.path.join(data_dir, f".{part}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    assert validate_stage(spark, path)  # row count unchanged: shallow passes
    assert not validate_stage(spark, path, deep=True)  # checksum mismatch


def test_deep_validation_catches_cell_range_drift(spark, tmp_path):
    """Deep validation also re-derives the cell range per bucket."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "stage5")
    write_stage(_df(spark), path, "stage5", "bucket_key")
    data_dir = os.path.join(path, "data")
    part = next(f for f in sorted(os.listdir(data_dir)) if f.endswith(".parquet"))
    fpath = os.path.join(data_dir, part)
    tbl = pq.read_table(fpath)
    col = tbl["cell"].to_pylist()
    col[0] = 10**12  # push the bucket's cell_max past the recorded range
    tbl = tbl.set_column(tbl.schema.get_field_index("cell"), "cell", [col])
    pq.write_table(tbl, fpath)
    crc = os.path.join(data_dir, f".{part}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert validate_stage(spark, path)  # proves the read itself succeeds
    assert not validate_stage(spark, path, deep=True)


def test_engine_lineage_mode_resumes(spark, tmp_path, monkeypatch):
    """OSMZEN_CHECKPOINT_DIR set: the engine's stage cuts write
    per-bucket lineage + manifest, and a second pipeline run with the
    same checkpoint dir RELOADS each validated stage instead of
    recomputing it (stage data files untouched) — the north rule's
    kill-resume at stage granularity, identical output rows. The eval
    union is written partitioned by zen_layer."""
    from conftest import PARKING_GARAGE_RING, PARKING_GARAGE_TAGS, make_elements

    monkeypatch.setenv("OSMZEN_CHECKPOINT_DIR", str(tmp_path))
    from osmzen_spark.pipeline.normalize import NormalizeEngine

    geometry = {
        "xs": [p[0] for p in PARKING_GARAGE_RING],
        "ys": [p[1] for p in PARKING_GARAGE_RING],
        "ring_lens": [len(PARKING_GARAGE_RING)],
        "ring_roles": [0],
    }
    elements = make_elements(
        spark,
        [(1, "way", PARKING_GARAGE_TAGS, "Polygon", geometry)],
    )
    # cache=True cuts the eval union; the membership arg adds its join
    from pyspark.sql import types as T

    rels = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("relation_id", T.LongType()),
                T.StructField("member_type", T.StringType()),
                T.StructField("member_id", T.LongType()),
                T.StructField("member_role", T.StringType()),
                T.StructField("rel_tags", T.MapType(T.StringType(), T.StringType())),
            ]
        ),
    )
    out1 = (
        NormalizeEngine()
        .process_unioned(elements, zoom=16, tile_zoom=14, cache=True, relation_members=rels)
        .select("element_id", "zen_layer", "kind")
        .collect()
    )
    # lineage artifacts exist for every stage directory
    import os

    stages = sorted(os.listdir(tmp_path))
    assert stages, "no stage checkpoints written"
    for s in stages:
        assert os.path.exists(os.path.join(tmp_path, s, "_lineage_manifest.json")), s
    # the eval union is partitioned by layer, like the temp-dir cut, and
    # its partitioned checkpoint validates, also against a re-derived
    # per-bucket lineage
    union = os.path.join(tmp_path, next(s for s in stages if s.endswith("_eval_union")))
    assert "zen_layer=buildings" in os.listdir(os.path.join(union, "data"))
    assert validate_stage(spark, union, deep=True)
    mtimes = {
        s: os.path.getmtime(os.path.join(tmp_path, s, "_lineage_manifest.json"))
        for s in stages
    }
    # second run, fresh engine, same checkpoint dir -> resumes
    out2 = (
        NormalizeEngine()
        .process_unioned(elements, zoom=16, tile_zoom=14, cache=True, relation_members=rels)
        .select("element_id", "zen_layer", "kind")
        .collect()
    )
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    for s in stages:
        assert (
            os.path.getmtime(os.path.join(tmp_path, s, "_lineage_manifest.json"))
            == mtimes[s]
        ), f"stage {s} was recomputed on resume"
