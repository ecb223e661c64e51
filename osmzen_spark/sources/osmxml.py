"""OSM XML source: distributed parse of .osm XML files into the raw
(nodes, way_nodes, ways, relations, relation_members) tables that
`pipeline.assembly.assemble_elements` consumes, plus a `full_tile`
convenience that mirrors the reference's end-to-end entry point
`Config.Process(data *osm.OSM, bound, zoom)` (ref:process.go:22-69,
exercised by BenchmarkFullTile, ref:benchmarks_test.go:209-226 over
ref:testdata/tile-16-17896-24450.xml).

Scale shape
-----------
One XML *file* is the unit of parallelism: `spark.read.format
("binaryFile")` gives one row per file and Spark schedules rows
across executors, so a directory of per-region extracts (the way OSM
XML ships in practice — planet dumps are distributed as many regional
.osm files or as PBF) parses fully in parallel with zero shuffle.
Parsing is a streaming `iterparse` inside `mapInArrow`: memory per
task is O(one element), not O(file), so a multi-GB regional extract
is fine as long as it fits the executor's disk-read budget. A single
monolithic planet.xml cannot be split mid-file by any correct parser
(elements span arbitrary byte ranges); the deployment answer is the
same as every other engine's: split upstream or use PBF. The parse
result is stage-cut (localCheckpoint / the cluster's stage
checkpoint) before the five raw tables are derived from it, so the
XML is decoded exactly once, not once per table.
"""

from __future__ import annotations

from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

# one row per OSM element; parallel columns nds/members are NULL for
# the types that lack them
_PARSED_ARROW = pa.schema(
    [
        ("element_type", pa.string()),
        ("element_id", pa.int64()),
        ("lon", pa.float64()),
        ("lat", pa.float64()),
        ("tags", pa.map_(pa.string(), pa.string())),
        ("nds", pa.list_(pa.int64())),
        (
            "members",
            pa.list_(pa.struct([("mtype", pa.string()), ("mref", pa.int64()), ("mrole", pa.string())])),
        ),
    ]
)
PARSED_SCHEMA = from_arrow_schema(_PARSED_ARROW)


def elements_batch(rows: list[tuple]) -> pa.RecordBatch:
    """(type, id, lon, lat, tags, nds, members) element tuples -> one
    Arrow batch of the parsed-elements schema."""
    cols = list(zip(*rows)) if rows else [()] * len(_PARSED_ARROW)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, _PARSED_ARROW)], schema=_PARSED_ARROW
    )


def _iter_osm_elements(data: bytes):
    """Stream (type, id, lon, lat, tags, nds, members) tuples out of
    one OSM XML blob with O(1) memory via iterparse; processed
    top-level elements are dropped from the root as we go."""
    import xml.etree.ElementTree as ET
    from io import BytesIO

    root = None
    for event, el in ET.iterparse(BytesIO(data), events=("start", "end")):
        if event == "start":
            if root is None:
                root = el
            continue
        tag = el.tag
        if tag == "node":
            yield (
                "node",
                int(el.get("id")),
                float(el.get("lon")),
                float(el.get("lat")),
                {c.get("k"): c.get("v") for c in el if c.tag == "tag"},
                None,
                None,
            )
        elif tag == "way":
            nds: list[int] = []
            tags: dict[str, str] = {}
            for c in el:
                if c.tag == "nd":
                    nds.append(int(c.get("ref")))
                elif c.tag == "tag":
                    tags[c.get("k")] = c.get("v")
            yield ("way", int(el.get("id")), None, None, tags, nds, None)
        elif tag == "relation":
            members: list[tuple[str, int, str]] = []
            tags = {}
            for c in el:
                if c.tag == "member":
                    members.append(
                        (c.get("type"), int(c.get("ref")), c.get("role") or "")
                    )
                elif c.tag == "tag":
                    tags[c.get("k")] = c.get("v")
            yield ("relation", int(el.get("id")), None, None, tags, None, members)
        else:
            continue
        # `el` is a completed top-level element: free it and drop the
        # root's reference so a multi-GB file parses in O(1) memory
        el.clear()
        if root is not None and len(root):
            del root[:]


def parse_osm_xml_blobs(blobs: DataFrame, content_col: str = "content") -> DataFrame:
    """DataFrame with one XML document (bytes or str) per row -> parsed
    OSM element rows (`PARSED_SCHEMA`). The document is the
    parallelism unit; parsing streams via iterparse."""

    def gen(batches):
        for batch in batches:
            yield elements_batch(
                [
                    tup
                    for blob in batch.column(0).to_pylist()
                    for tup in _iter_osm_elements(blob.encode() if isinstance(blob, str) else blob)
                ]
            )

    return blobs.select(content_col).mapInArrow(gen, PARSED_SCHEMA)


def parse_osm_xml(spark: SparkSession, path: str) -> DataFrame:
    """path (file, dir, or glob of .osm/.xml files) -> one DataFrame
    of parsed OSM elements (`PARSED_SCHEMA`). One task per file."""
    return parse_osm_xml_blobs(
        spark.read.format("binaryFile").load(path), "content"
    )


class OsmTables(NamedTuple):
    """The raw-table bundle `assemble_elements` consumes."""

    nodes: DataFrame
    way_nodes: DataFrame
    ways: DataFrame
    relations: DataFrame
    relation_members: DataFrame


def raw_tables(parsed: DataFrame) -> OsmTables:
    """Split one parsed-elements frame into the five raw tables.

    Pure projections/explodes over the (ideally stage-cut) parse
    result — no re-parse, no shuffle here; the shuffles happen where
    they belong, in assembly's node join and way grouping."""
    nodes = parsed.filter(F.col("element_type") == "node").select(
        F.col("element_id").alias("node_id"), "lon", "lat", "tags"
    )
    w = parsed.filter(F.col("element_type") == "way")
    ways = w.select(F.col("element_id").alias("way_id"), "tags")
    way_nodes = w.select(
        F.col("element_id").alias("way_id"), F.posexplode("nds").alias("seq", "node_id")
    )
    r = parsed.filter(F.col("element_type") == "relation")
    relations = r.select(F.col("element_id").alias("relation_id"), "tags")
    relation_members = r.select(
        F.col("element_id").alias("relation_id"),
        F.posexplode("members").alias("seq", "m"),
    ).select(
        "relation_id",
        F.col("m.mtype").alias("member_type"),
        F.col("m.mref").alias("member_id"),
        F.col("m.mrole").alias("member_role"),
        "seq",
    )
    return OsmTables(nodes, way_nodes, ways, relations, relation_members)


def read_osm_xml(spark: SparkSession, path: str) -> OsmTables:
    """Parse OSM XML at `path` into the five raw tables.

    The single parse is materialized before the five derived tables fan
    out from it (otherwise each consumer would re-decode the XML — the
    same fan-out rule the engine applies at every multi-consumer
    boundary, BASELINE.md round-1 lesson 3)."""
    return raw_tables(parse_osm_xml(spark, path).localCheckpoint(eager=True))


def process_tables(
    t: OsmTables,
    zoom: int = 16,
    bound: tuple[float, float, float, float] | None = None,
    engine=None,
    **process_kw,
) -> dict[str, DataFrame]:
    """The reference's `Config.Process` from the raw tables onward
    (ref:process.go:22: OSM -> GeoJSON conversion -> every layer's
    filter/transform/postprocess at `zoom`, clipped to `bound`):
    returns {layer_name: DataFrame}. Shared by every input format
    that lands in the `OsmTables` bundle (XML, PBF)."""
    from osmzen_spark.pipeline.assembly import assemble_elements
    from osmzen_spark.pipeline.normalize import NormalizeEngine

    elements = assemble_elements(
        t.nodes, t.way_nodes, t.ways, t.relations, t.relation_members, bound=bound
    ).localCheckpoint(eager=True)
    # membership context (ref:process.go:214-263's relation/way member
    # lookups) wants tags riding along with the member rows
    rel_members = t.relation_members.join(
        t.relations.select("relation_id", F.col("tags").alias("rel_tags")),
        on="relation_id",
    ).select("relation_id", "member_type", "member_id", "rel_tags")
    wn = t.way_nodes.join(
        t.ways.select("way_id", F.col("tags").alias("way_tags")), on="way_id"
    ).select("way_id", "node_id", "way_tags")
    eng = engine or NormalizeEngine()
    return eng.process(
        elements,
        zoom=zoom,
        bound=bound,
        relation_members=rel_members,
        way_nodes=wn,
        **process_kw,
    )


def full_tile(
    spark: SparkSession,
    path: str,
    zoom: int = 16,
    bound: tuple[float, float, float, float] | None = None,
    engine=None,
    **process_kw,
) -> dict[str, DataFrame]:
    """OSM XML file -> every layer's features at `zoom` (the
    reference's `Config.Process` end to end, ref:process.go:22).

    `bound` is (minlon, minlat, maxlon, maxlat); None processes
    unclipped (world bound for multipolygon ring patching)."""
    return process_tables(
        read_osm_xml(spark, path), zoom=zoom, bound=bound, engine=engine, **process_kw
    )
