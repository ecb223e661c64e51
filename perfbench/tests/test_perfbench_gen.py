"""Generators: seeded, deterministic, decodable, and shaped as the
workloads need (dense tiles of 1-2k features, an image+caption table)."""

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import checks
import gen
import pbf


def _sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.fixture(scope="module")
def city():
    return gen.City(7)


def test_varints_roundtrip():
    vals = [0, 1, 127, 128, 300, 2**31, 2**63 - 1, 2**64 - 1] + list(range(40))
    buf = pbf.varints(vals)
    out, pos = [], 0
    while pos < len(buf):
        v, pos = checks._varint(buf, pos)
        out.append(v)
    assert out == vals


def test_zigzag_deltas_match_numpy():
    refs = [5, 3, 10, 10, 2**40, 7]
    assert pbf.zigzag_deltas(refs) == pbf.zigzag(np.diff(np.array(refs), prepend=0))


def test_city_is_seeded(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    pa_ = gen.city_pbf(gen.City(3), str(a))
    pb_ = gen.city_pbf(gen.City(3), str(b))
    assert _sha(pa_) == _sha(pb_)
    c = tmp_path / "c"
    c.mkdir()
    assert _sha(gen.city_pbf(gen.City(4), str(c))) != _sha(pa_)


def test_city_density_falls_off(city):
    counts = city.feature_counts()
    dense = gen.densest_tiles(city, 4)
    # the downtown tile holds 1-2k features, its neighbours far fewer
    assert dense[0] == gen.CORE_TILE
    assert 1000 <= counts[dense[0]] <= 2000
    assert all(counts[t] < counts[dense[0]] / 2 for t in dense[1:])


def test_tile_extract_has_complete_ways(city, tmp_path):
    (x, y), = gen.densest_tiles(city, 1)
    nodes, ways, rels = city.tile_members(x, y)
    ids = {n[0] for n in nodes}
    assert ways and rels
    assert all(r in ids for w in ways for r in w[2])
    x0, y0, path = gen.tile_extracts(city, str(tmp_path), [(x, y)])[0]
    assert (x0, y0) == (x, y) and os.path.getsize(path) > 0


def test_pbf_decodes_with_engine_reader(city, tmp_path):
    from osmzen_spark.sources.osmpbf import _blob_payload, decode_primitive_block, scan_blob_index

    path = gen.city_pbf(city, str(tmp_path))
    rows = []
    with open(path, "rb") as f:
        for off, size, btype in scan_blob_index(path):
            if btype == "OSMData":
                f.seek(off)
                rows += decode_primitive_block(_blob_payload(memoryview(f.read(size))))
    assert len(rows) == len(city.nodes) + len(city.ways) + len(city.relations)
    by_id = {(r[0], r[1]): r for r in rows}
    nid, lon, lat, tags = next(n for n in city.nodes if n[3])
    got = by_id[("node", nid)]
    assert abs(got[2] - lon) < 1e-7 and abs(got[3] - lat) < 1e-7 and got[4] == tags
    wid, wtags, refs = city.ways[0]
    assert by_id[("way", wid)][4] == wtags and by_id[("way", wid)][5] == refs
    rid, rtags, members = city.relations[0]
    assert by_id[("relation", rid)][6] == members


def test_batch_tables(tmp_path):
    paths = gen.batch_tables(5, 300, 60, str(tmp_path))
    el = pq.read_table(paths["elements"])
    for col in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                "element_id", "element_type", "tags", "geom_type", "geometry"):
        assert col in el.column_names
    assert el.num_rows == 300 + 60 + 30
    rows = el.slice(0, 300).to_pylist()
    for r in rows:
        assert len(r["bytes"]) == r["w"] * r["h"] * 3
        head = np.frombuffer(r["bytes"][:64], dtype=np.uint8)
        bits = head > head.mean()
        assert r["phash"] == int(np.sum(bits.astype(np.uint64) << np.arange(64, dtype=np.uint64))) - (
            2**64 if bits[63] else 0
        )
        g = r["geometry"]
        assert len(g["xs"]) == g["ring_lens"][0] == (5 if r["geom_type"] == "Polygon" else 1)
    rm = pq.read_table(paths["relation_members"]).to_pydict()
    wn = pq.read_table(paths["way_nodes"]).to_pydict()
    road_ids = set(el.column("element_id").to_pylist()[300:360])
    assert set(rm["member_id"]) <= road_ids and set(wn["way_id"]) <= road_ids
    other = tmp_path / "again"
    other.mkdir()
    again = gen.batch_tables(5, 300, 60, str(other))
    assert pq.read_table(again["elements"]).equals(el)
