"""Output checks catch the faults they exist for."""

import json
import os
import re

import numpy as np

import checks
import gen
import pbf


def test_tile_mismatches_agree_with_generator_math():
    rng = np.random.default_rng(0)
    lon = rng.uniform(-82, -81, 500)
    lat = rng.uniform(41, 42, 500)
    x, y = gen.tile_xy(lon, lat, 14)
    assert checks.tile_mismatches(lon, lat, x, y, 14) == []
    y2 = y.copy()
    y2[7] += 1
    fails = checks.tile_mismatches(lon, lat, x, y2, 14)
    assert len(fails) == 1 and "tile_y wrong on 1 rows" in fails[0]


def test_tile_mismatches_tolerate_exact_edges():
    z = 16
    minlon, minlat, maxlon, maxlat = gen.tile_bound(z, 17896, 24450)
    # a centroid exactly on the tile's west edge may land on either side
    assert checks.tile_mismatches([minlon], [(minlat + maxlat) / 2], [17895], [24450], z) == []
    assert checks.tile_mismatches([minlon], [(minlat + maxlat) / 2], [17896], [24450], z) == []


def _tile(layers):
    """MVT bytes with {name: n_features} layers (empty geometry)."""
    out = b""
    for name, n in layers.items():
        feats = b"".join(pbf._ld(2, pbf._vint(1, i + 1) + pbf._vint(3, 1)) for i in range(n))
        layer = pbf._vint(15, 2) + pbf._ld(1, name.encode()) + feats + pbf._vint(5, 4096)
        out += pbf._ld(3, layer)
    return out


def test_mvt_feature_count():
    assert checks.mvt_feature_count(_tile({"roads": 3, "pois": 2})) == 5
    assert checks.mvt_feature_count(b"") == 0


def test_mvt_mismatches():
    blobs = {(1, 2): _tile({"roads": 3}), (1, 3): _tile({"pois": 1})}
    assert checks.mvt_mismatches(blobs, {(1, 2): 3, (1, 3): 1}) == []
    fails = checks.mvt_mismatches(blobs, {(1, 2): 4, (1, 3): 1, (9, 9): 2})
    assert len(fails) == 2
    assert "(1, 2)" in fails[0] and "(9, 9)" in fails[1]


def test_rows_per_tile():
    assert checks.rows_per_tile([1, 1, 2], [5, 5, 5]) == {(1, 5): 2, (2, 5): 1}


def test_payload_mismatches():
    expected = {1: checks.payload_digest("a", b"xy"), 2: checks.payload_digest("b", b"z")}
    assert checks.payload_mismatches([1, 2, 3], ["a", "b", None], [b"xy", b"z", None], expected) == []
    fails = checks.payload_mismatches([1, 2], ["a", "b"], [b"xy", b"Z"], expected)
    assert fails == ["caption/bytes changed on 1 rows (first element 2)"]


def test_digest_is_order_independent():
    rows = [("roads", 1, 2.5), ("pois", 2, None)]
    assert checks.digest(rows) == checks.digest(rows[::-1])
    assert checks.digest(rows) != checks.digest(rows[:1])


# seeds whose output digests golden.json stores for every workload
GOLDEN_SEEDS = range(1, 11)


def test_golden_covers_benchmark_workloads():
    """Each workload BENCHMARK.json names has a stored digest for every
    input a run on a default seed requests, so a change that alters or
    drops output features fails the run's checks."""
    bench = os.path.dirname(os.path.abspath(checks.__file__))
    with open(os.path.join(os.path.dirname(bench), "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    with open(os.path.join(bench, "golden.json")) as f:
        golden = json.load(f)
    for name in names:
        for seed in GOLDEN_SEEDS:
            entry = golden.get(name, {}).get(str(seed), {})
            assert entry, f"no golden digest for {name} seed {seed}"
            assert all(re.fullmatch("[0-9a-f]{64}", d) for d in entry.values())
