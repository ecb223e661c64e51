"""The per-tile feature cap (postprocess.keep_n_features) on a
hand-built frame."""


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
