"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical files. Generators write only under the directory they
are given (a temp dir owned by the caller) and import nothing from the
engine, so engine changes cannot change the inputs.

* ``city``: a dense-city OSM extract around a fixed z16 tile block,
  feature density falling off exponentially from a seeded downtown
  core. Buildings are closed ways, roads are open ways carrying bus
  route relations, POIs are tagged nodes. ``city_pbf`` writes the whole
  region; ``tile_extracts`` writes one .osm.pbf per z16 tile,
  holding every element that touches the tile (complete ways), the way
  regional extract tools cut them.
* ``batch``: the OSM-tagged image+caption element table (image_id,
  bytes, w, h, fmt, caption, phash, plus element_id, element_type,
  tags, geom_type, geometry) with a road network and its relation and
  way-node membership tables, written as parquet.
"""

from __future__ import annotations

import math
import os

import numpy as np

from pbf import encode

ZOOM = 16
# the block of z16 tiles the city covers; centred on the tile of the
# reference's full-tile benchmark fixture (16/17896/24450)
BLOCK_X0, BLOCK_Y0, BLOCK_W, BLOCK_H = 17893, 24447, 6, 6
CORE_TILE = (BLOCK_X0 + BLOCK_W // 2, BLOCK_Y0 + BLOCK_H // 2)
M_PER_DEG = 111_320.0

NODE_BASE, WAY_BASE, REL_BASE = 1, 100_000_000, 200_000_000

BUILDING_KINDS = ["yes", "residential", "commercial", "apartments", "retail", "house"]
HIGHWAYS = ["residential", "service", "tertiary", "secondary", "primary", "footway"]
HIGHWAY_P = [0.38, 0.2, 0.14, 0.1, 0.08, 0.1]
POI_TAGS = [
    ("amenity", "restaurant"), ("amenity", "cafe"), ("amenity", "bank"),
    ("amenity", "pharmacy"), ("shop", "supermarket"), ("shop", "bakery"),
    ("tourism", "hotel"), ("amenity", "school"), ("leisure", "park"),
]


def tile_bound(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    """(minlon, minlat, maxlon, maxlat) of Web-Mercator tile z/x/y."""
    n = float(1 << z)

    def lat(yy: float) -> float:
        return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * yy / n))))

    return (x / n * 360.0 - 180.0, lat(y + 1), (x + 1) / n * 360.0 - 180.0, lat(y))


def tile_xy(lon, lat, z: int):
    """numpy z/x/y tile of lon/lat arrays (clamped like the tile scheme)."""
    n = float(1 << z)
    lat_r = np.radians(np.clip(np.asarray(lat, dtype=np.float64), -85.05112877980659, 85.05112877980659))
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n)
    y = np.floor((1.0 - np.log(np.tan(lat_r) + 1.0 / np.cos(lat_r)) / math.pi) / 2.0 * n)
    hi = (1 << z) - 1
    return np.clip(x, 0, hi).astype(np.int64), np.clip(y, 0, hi).astype(np.int64)


class City:
    """Raw OSM elements of one generated city (see module doc)."""

    def __init__(self, seed: int, n_buildings=3600, n_roads=1300, n_pois=1300, n_routes=24):
        rng = np.random.default_rng(seed)
        minlon, _, _, maxlat = tile_bound(ZOOM, BLOCK_X0, BLOCK_Y0)
        _, minlat, maxlon, _ = tile_bound(ZOOM, BLOCK_X0 + BLOCK_W - 1, BLOCK_Y0 + BLOCK_H - 1)
        self.bound = (minlon, minlat, maxlon, maxlat)
        clat = (minlat + maxlat) / 2
        self.m_lat = 1.0 / M_PER_DEG
        self.m_lon = 1.0 / (M_PER_DEG * math.cos(math.radians(clat)))
        # downtown core: seeded, near the centre of the block's central
        # tile, so the densest tile holds a similar count for every seed
        cx0, cy0, cx1, cy1 = tile_bound(ZOOM, *CORE_TILE)
        self.core = (
            cx0 + (cx1 - cx0) * rng.uniform(0.4, 0.6),
            cy0 + (cy1 - cy0) * rng.uniform(0.4, 0.6),
        )
        self.falloff_m = 260.0
        self.nodes: list[tuple[int, float, float, dict]] = []
        self.ways: list[tuple[int, dict, list[int]]] = []
        self.relations: list[tuple[int, dict, list[tuple[str, int, str]]]] = []
        self._next_node = NODE_BASE
        self._buildings(rng, n_buildings)
        road_ids, road_major = self._roads(rng, n_roads)
        self._pois(rng, n_pois)
        self._routes(rng, n_routes, road_ids, road_major)
        self.nodes.sort(key=lambda n: n[0])

    def _points(self, rng, n: int):
        """n points, density falling off exponentially with distance
        from the core, rejected outside the block."""
        minlon, minlat, maxlon, maxlat = self.bound
        out_lon, out_lat = [], []
        have = 0
        while have < n:
            k = 2 * (n - have) + 16
            r = rng.gamma(2.0, self.falloff_m, k)
            th = rng.uniform(0, 2 * math.pi, k)
            lon = self.core[0] + r * np.cos(th) * self.m_lon
            lat = self.core[1] + r * np.sin(th) * self.m_lat
            ok = (lon > minlon) & (lon < maxlon) & (lat > minlat) & (lat < maxlat)
            out_lon.append(lon[ok])
            out_lat.append(lat[ok])
            have += int(ok.sum())
        return np.concatenate(out_lon)[:n], np.concatenate(out_lat)[:n]

    def _node(self, lon: float, lat: float, tags: dict) -> int:
        nid = self._next_node
        self._next_node += 1
        self.nodes.append((nid, round(float(lon), 7), round(float(lat), 7), tags))
        return nid

    def _buildings(self, rng, n: int) -> None:
        lon, lat = self._points(rng, n)
        w = rng.uniform(8, 40, n) * self.m_lon
        h = rng.uniform(8, 40, n) * self.m_lat
        kinds = rng.integers(0, len(BUILDING_KINDS), n)
        levels = rng.integers(1, 12, n)
        named = rng.random(n) < 0.15
        for i in range(n):
            ring = [
                self._node(lon[i] - w[i] / 2, lat[i] - h[i] / 2, {}),
                self._node(lon[i] + w[i] / 2, lat[i] - h[i] / 2, {}),
                self._node(lon[i] + w[i] / 2, lat[i] + h[i] / 2, {}),
                self._node(lon[i] - w[i] / 2, lat[i] + h[i] / 2, {}),
            ]
            tags = {"building": BUILDING_KINDS[kinds[i]], "building:levels": str(levels[i])}
            if named[i]:
                tags["name"] = f"Building {i}"
            self.ways.append((WAY_BASE + len(self.ways), tags, ring + ring[:1]))

    def _roads(self, rng, n: int):
        lon, lat = self._points(rng, n)
        cls = rng.choice(len(HIGHWAYS), n, p=HIGHWAY_P)
        ids, major = [], []
        for i in range(n):
            k = int(rng.integers(2, 6))
            heading = rng.uniform(0, 2 * math.pi)
            steps = rng.uniform(40, 150, k - 1)
            turns = heading + np.cumsum(rng.normal(0, 0.3, k - 1))
            xs = lon[i] + np.concatenate(([0.0], np.cumsum(steps * np.cos(turns)))) * self.m_lon
            ys = lat[i] + np.concatenate(([0.0], np.cumsum(steps * np.sin(turns)))) * self.m_lat
            refs = [self._node(x, y, {}) for x, y in zip(xs, ys)]
            tags = {"highway": HIGHWAYS[cls[i]]}
            if cls[i] in (2, 3, 4) or rng.random() < 0.3:
                tags["name"] = f"Street {i % 400}"
            wid = WAY_BASE + len(self.ways)
            self.ways.append((wid, tags, refs))
            ids.append(wid)
            major.append(2 <= cls[i] <= 4)
        return np.array(ids), np.array(major)

    def _pois(self, rng, n: int) -> None:
        lon, lat = self._points(rng, n)
        kinds = rng.integers(0, len(POI_TAGS), n)
        for i in range(n):
            k, v = POI_TAGS[kinds[i]]
            self._node(lon[i], lat[i], {k: v, "name": f"{v.title()} {i}"})

    def _routes(self, rng, n: int, road_ids, road_major) -> None:
        majors = road_ids[road_major]
        for r in range(n):
            m = rng.choice(majors, int(rng.integers(6, 24)), replace=False)
            tags = {"type": "route", "route": "bus", "ref": str(r + 1), "name": f"Bus {r + 1}"}
            members = [("way", int(w), "") for w in np.sort(m)]
            self.relations.append((REL_BASE + r, tags, members))

    def tile_members(self, x: int, y: int):
        """(nodes, ways, relations) touching z16 tile (x, y): POI nodes
        inside it, complete ways with any node inside, relations with
        any included member."""
        coords = {n[0]: (n[1], n[2]) for n in self.nodes}
        minlon, minlat, maxlon, maxlat = tile_bound(ZOOM, x, y)

        def inside(nid: int) -> bool:
            lon, lat = coords[nid]
            return minlon <= lon <= maxlon and minlat <= lat <= maxlat

        ways = [w for w in self.ways if any(inside(r) for r in w[2])]
        keep = {r for w in ways for r in w[2]}
        nodes = [n for n in self.nodes if n[0] in keep or (n[3] and inside(n[0]))]
        wids = {w[0] for w in ways}
        rels = [r for r in self.relations if any(m[1] in wids for m in r[2])]
        return nodes, ways, rels

    def feature_counts(self) -> dict[tuple[int, int], int]:
        """Tagged elements per z16 tile of the block (a way counts in
        every tile one of its nodes lies in)."""
        coords = {n[0]: (n[1], n[2]) for n in self.nodes}
        counts: dict[tuple[int, int], int] = {}
        for n in self.nodes:
            if n[3]:
                t = tuple(int(a[0]) for a in tile_xy([n[1]], [n[2]], ZOOM))
                counts[t] = counts.get(t, 0) + 1
        for w in self.ways:
            pts = np.array([coords[r] for r in w[2]])
            tx, ty = tile_xy(pts[:, 0], pts[:, 1], ZOOM)
            for t in set(zip(tx.tolist(), ty.tolist())):
                counts[t] = counts.get(t, 0) + 1
        return counts


def city_pbf(city: City, out_dir: str) -> str:
    path = os.path.join(out_dir, "city.osm.pbf")
    with open(path, "wb") as f:
        f.write(encode(city.nodes, city.ways, city.relations))
    return path


def densest_tiles(city: City, n: int) -> list[tuple[int, int]]:
    """The n tiles holding the most features, densest first."""
    counts = city.feature_counts()
    return sorted(counts, key=lambda t: (-counts[t], t))[:n]


def tile_extracts(city: City, out_dir: str, tiles) -> list[tuple[int, int, str]]:
    """One .osm.pbf per z16 tile: [(x, y, path)]."""
    out = []
    for x, y in tiles:
        nodes, ways, rels = city.tile_members(x, y)
        path = os.path.join(out_dir, f"tile-{ZOOM}-{x}-{y}.osm.pbf")
        with open(path, "wb") as f:
            f.write(encode(nodes, ways, rels))
        out.append((x, y, path))
    return out


# ----------------------------------------------------------------- batch

# batch elements are spread over a 1.5 x 1 degree box so they land in
# many z14 tiles (the tile zoom the batch workload assigns)
BATCH_BOX = (-82.2, 41.0, -80.7, 42.0)
BATCH_CLASSES = [
    ({"building": "yes"}, "Polygon"),
    ({"building": "residential"}, "Polygon"),
    ({"amenity": "parking", "building": "yes", "parking": "multi-storey"}, "Polygon"),
    ({"leisure": "park"}, "Polygon"),
    ({"natural": "water"}, "Polygon"),
    ({"amenity": "restaurant", "cuisine": "pizza"}, "Point"),
    ({"shop": "supermarket"}, "Point"),
    ({"tourism": "hotel"}, "Point"),
    ({"amenity": "cafe"}, "Point"),
    ({"railway": "station"}, "Point"),
]
BATCH_ROADS = ["residential", "secondary", "primary", "footway", "cycleway", "track", "service"]
ROAD_ID_BASE, GATE_ID_BASE = 10_000_000_000, 20_000_000_000
BUS_REL_BASE, BIKE_REL_BASE = 30_000_000_000, 40_000_000_000


def _list_array(values, counts, typ):
    """Arrow list array from flat values and per-row lengths."""
    import pyarrow as pa

    offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values, type=typ))


def _geometry(xs, ys, npts):
    """Geometry structs (one ring per row) from flat coordinates."""
    import pyarrow as pa

    n = len(npts)
    one = np.ones(n, dtype=np.int64)
    return pa.StructArray.from_arrays(
        [
            _list_array(xs, npts, pa.float64()),
            _list_array(ys, npts, pa.float64()),
            _list_array(np.asarray(npts, dtype=np.int32), one, pa.int32()),
            _list_array(np.zeros(n, dtype=np.int32), one, pa.int32()),
        ],
        names=["xs", "ys", "ring_lens", "ring_roles"],
    )


def _tags(dicts):
    import pyarrow as pa

    keys = [k for d in dicts for k in d]
    vals = [v for d in dicts for v in d.values()]
    offsets = np.concatenate(([0], np.cumsum([len(d) for d in dicts]))).astype(np.int32)
    return pa.MapArray.from_arrays(pa.array(offsets), pa.array(keys, pa.string()), pa.array(vals, pa.string()))


def _images(rng, n: int):
    """n raw RGB payloads (8x8 or 12x8) as an Arrow binary array, their
    widths and heights, and a 64-bit average hash of the first 64 bytes."""
    import pyarrow as pa

    w = np.where(rng.random(n) < 0.5, 8, 12).astype(np.int32)
    h = np.full(n, 8, dtype=np.int32)
    size = w.astype(np.int64) * h * 3
    offsets = np.concatenate(([0], np.cumsum(size)))
    data = rng.integers(0, 256, int(offsets[-1]), dtype=np.uint8)
    head = data[offsets[:-1, None] + np.arange(64)[None, :]]
    bits = (head > head.mean(axis=1, keepdims=True)).astype(np.uint64)
    phash = (bits << np.arange(64, dtype=np.uint64)).sum(axis=1, dtype=np.uint64).view(np.int64)
    payload = pa.BinaryArray.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)]
    )
    return payload, w, h, phash


def batch_tables(seed: int, n_rows: int, n_roads: int, out_dir: str) -> dict[str, str]:
    """Write elements / relation_members / way_nodes parquet tables;
    returns {name: path}. Element rows are the image elements, then one
    LineString way per road, then a barrier=gate node on every other
    road. Every 5th road is on a bus route, every 3rd on a bicycle
    route; every gate is a way-node of its road."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    minlon, minlat, maxlon, maxlat = BATCH_BOX
    lon = rng.uniform(minlon, maxlon, n_rows)
    lat = rng.uniform(minlat, maxlat, n_rows)
    cls = rng.integers(0, len(BATCH_CLASSES), n_rows)
    side = rng.uniform(10, 120, n_rows)
    ids = np.arange(1, n_rows + 1, dtype=np.int64)
    payload, w, h, phash = _images(rng, n_rows)

    is_poly = np.array([g == "Polygon" for _, g in BATCH_CLASSES])[cls]
    dx = side / (2 * M_PER_DEG * np.cos(np.radians(lat)))
    dy = side / (2 * M_PER_DEG)
    ring_x = np.stack([lon - dx, lon + dx, lon + dx, lon - dx, lon - dx], axis=1)
    ring_y = np.stack([lat - dy, lat - dy, lat + dy, lat + dy, lat - dy], axis=1)
    npts = np.where(is_poly, 5, 1)
    keep = np.arange(5)[None, :] < npts[:, None]
    tags = []
    for i in range(n_rows):
        t = dict(BATCH_CLASSES[cls[i]][0])
        if i % 3 == 0:
            t["name"] = f"Feature {ids[i]}"
        tags.append(t)

    rlon = rng.uniform(minlon, maxlon, n_roads)
    rlat = rng.uniform(minlat, maxlat, n_roads)
    rcls = rng.integers(0, len(BATCH_ROADS), n_roads)
    dlon = rng.uniform(2e-4, 2e-3, n_roads)
    dlat = rng.uniform(-1e-3, 1e-3, n_roads)
    road_ids = ROAD_ID_BASE + np.arange(n_roads, dtype=np.int64)
    gate = np.arange(n_roads) % 2 == 0
    gate_ids = road_ids[gate] - ROAD_ID_BASE + GATE_ID_BASE
    road_tags = []
    for i in range(n_roads):
        t = {"highway": BATCH_ROADS[rcls[i]]}
        if rcls[i] in (1, 2):
            t["name"] = f"Road {i % 500}"
        road_tags.append(t)

    n_gate = len(gate_ids)
    n_other = n_roads + n_gate
    n_all = n_rows + n_other
    none = [None] * n_other
    pad = np.arange(n_all) >= n_rows
    elements = pa.table({
        "element_id": np.concatenate([ids, road_ids, gate_ids]),
        "element_type": pa.array(np.where(is_poly, "way", "node").tolist() + ["way"] * n_roads + ["node"] * n_gate),
        "tags": _tags(tags + road_tags + [{"barrier": "gate"}] * n_gate),
        "geom_type": pa.array(np.where(is_poly, "Polygon", "Point").tolist() + ["LineString"] * n_roads + ["Point"] * n_gate),
        "geometry": _geometry(
            np.concatenate([ring_x[keep], np.stack([rlon, rlon + dlon], 1).ravel(), rlon[gate]]),
            np.concatenate([ring_y[keep], np.stack([rlat, rlat + dlat], 1).ravel(), rlat[gate]]),
            np.concatenate([npts, np.full(n_roads, 2), np.ones(n_gate, dtype=np.int64)]),
        ),
        "image_id": pa.array([f"img-{i}" for i in ids] + none, pa.string()),
        "bytes": pa.concat_arrays([payload, pa.nulls(n_other, pa.binary())]),
        "w": pa.array(np.concatenate([w, np.zeros(n_other, np.int32)]), mask=pad),
        "h": pa.array(np.concatenate([h, np.zeros(n_other, np.int32)]), mask=pad),
        "fmt": pa.array(["raw"] * n_rows + none, pa.string()),
        "caption": pa.array([f"caption {ids[i]}: {tags[i]}" for i in range(n_rows)] + none, pa.string()),
        "phash": pa.array(np.concatenate([phash, np.zeros(n_other, np.int64)]), mask=pad),
    })

    bus = np.flatnonzero(np.arange(n_roads) % 5 == 0)
    bike = np.flatnonzero(np.arange(n_roads) % 3 == 0)
    rel_tags = [{"type": "route", "route": "bus", "ref": str(i // 50)} for i in bus] + [
        {"type": "route", "route": "bicycle", "network": ["icn", "ncn", "rcn", "lcn"][i % 4]} for i in bike
    ]
    relation_members = pa.table({
        "relation_id": np.concatenate([BUS_REL_BASE + bus // 50, BIKE_REL_BASE + bike // 30]).astype(np.int64),
        "member_type": pa.array(["way"] * (len(bus) + len(bike))),
        "member_id": np.concatenate([road_ids[bus], road_ids[bike]]),
        "rel_tags": _tags(rel_tags),
    })
    way_nodes = pa.table({
        "way_id": road_ids[gate],
        "node_id": gate_ids,
        "way_tags": _tags([road_tags[i] for i in np.flatnonzero(gate)]),
    })
    paths = {}
    for name, table in (("elements", elements), ("relation_members", relation_members), ("way_nodes", way_nodes)):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name], row_group_size=max(1, table.num_rows // 8))
    return paths
