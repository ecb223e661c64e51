"""Per-pixel channel stats (payload.images) and the per-tile feature cap
(postprocess.keep_n_features) on hand-built frames."""

import numpy as np


def test_channel_stats_matches_numpy(spark):
    from osmzen_spark.payload.images import encode_png, with_channel_stats

    rng = np.random.RandomState(7)
    rows = []
    expected = {}
    for i in range(12):
        img = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
        iid = f"t-{i}"
        if i % 2 == 0:
            rows.append((iid, bytearray(encode_png(img)), 8, 8, "png"))
        else:
            rows.append((iid, bytearray(img.tobytes()), 8, 8, "raw"))
        flat = img.reshape(-1, 3).astype(np.int64)
        hist = np.bincount(flat[:, 0] >> 6, minlength=4)
        expected[iid] = (
            int(flat[:, 0].sum()),
            int(flat[:, 1].sum()),
            int(flat[:, 2].sum()),
            tuple(int(x) for x in hist),
        )
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int, fmt string")
    got = with_channel_stats(df).collect()
    assert len(got) == 12
    for r in got:
        sr, sg, sb, hist = expected[r.image_id]
        assert (r.sum_r, r.sum_g, r.sum_b) == (sr, sg, sb)
        assert (r.hist_r0, r.hist_r1, r.hist_r2, r.hist_r3) == hist


def test_keep_n_features_caps_per_tile(spark):
    """Engine-addition post-processor: per-tile top-N by importance
    (the reference registers keep_n_features as a nil no-op)."""
    from osmzen_spark.pipeline.postprocess import keep_n_features

    rows = []
    # two z10 tiles far apart; 5 features each with distinct min_zoom
    for t, (lon, lat) in enumerate([(10.0, 10.0), (-120.0, 45.0)]):
        for i in range(5):
            rows.append((t * 10 + i, float(lon) + i * 1e-4, float(lat), 17.0 - i))
    df = spark.createDataFrame(rows, "id long, clon double, clat double, min_zoom double")
    out = keep_n_features({"pois": df}, zoom=16, params={"source_layer": "pois", "n": 2})["pois"]
    got = sorted((r.id, r.min_zoom) for r in out.collect())
    # lowest min_zoom wins: per tile the two smallest min_zoom rows
    assert got == [(3, 14.0), (4, 13.0), (13, 14.0), (14, 13.0)]
