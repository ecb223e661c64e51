"""Cross-feature / cross-layer post-processors (SURVEY.md §2.G).

Each is ``fn(layers: dict[str, DataFrame], zoom, params) -> layers``.
The reference's nested-loop scans over per-tile feature lists become
joins: id-equality joins are broadcast-friendly (the matched side per
operation is small relative to the fact side) and spatial ones key on
tile cells.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmzen_spark.compiler.conditions import compile_condition
from osmzen_spark.compiler.context import EvalContext
from osmzen_spark.geom.mercator import MAX_LAT, WORLD_BOUND
from osmzen_spark.pipeline.matcher import CSVMatcher


class PropertiesContext(EvalContext):
    """Condition context over feature PROPERTIES, mirroring the
    reference's NewContextFromProperties (ref:filter/context.go:73-99):
    only STRING-typed properties are visible as "tags" (booleans and
    numbers are NOT copied — a faithful quirk: `label_placement: false`
    presence-tests succeed even on rows whose label_placement is bool
    true); `osm_tags` conditions see the raw tag stash."""

    def __init__(self, df: DataFrame, zoom: int):
        derived = {}
        if "tags" in df.columns:
            derived["osm_tags"] = F.col("tags")
        super().__init__(tags="tags", geom_type="geom_type", derived=derived, zoom=zoom)
        self._string_cols = {f.name for f in df.schema.fields if f.dataType.typeName() == "string"}

    def tag(self, key: str):
        if key not in self._string_cols:
            return F.lit(None).cast("string")
        return F.nullif(F.col(key), F.lit(""))

    def tag_str(self, key: str):
        if key not in self._string_cols:
            return F.lit("")
        return F.coalesce(F.col(key), F.lit(""))

    def tag_present(self, key: str):
        if key not in self._string_cols:
            return F.lit(False)
        return F.col(key).isNotNull()


def props_condition(df: DataFrame, node, zoom: int) -> Column:
    return compile_condition(node, PropertiesContext(df, zoom))


def _ids_of(df: DataFrame) -> DataFrame:
    return df.select(F.col("id").alias("__oid"), F.col("type").alias("__otype")).distinct()


def conditional_names_inputs(layers: dict[str, DataFrame]) -> list[str]:
    """The layers set_conditional_names reads: pois, landuse and
    buildings when at least two of them are present (else it changes
    nothing)."""
    present = [n for n in ("pois", "landuse", "buildings") if n in layers]
    return present if len(present) > 1 else []


def set_conditional_names(layers: dict[str, DataFrame], zoom: int, params=None) -> dict[str, DataFrame]:
    """Hard-wired first post-processor (ref:postprocess/functions.go:83-152):

    * building features whose (id,type) also matched pois or landuse:
      name <- addr:housename tag, or dropped;
    * landuse features whose (id,type) also matched pois: name dropped.
    """
    out = dict(layers)
    buildings = out.get("buildings")
    pois = out.get("pois")
    landuse = out.get("landuse")

    if buildings is not None and (pois is not None or landuse is not None):
        srcs = [s for s in (pois, landuse) if s is not None]
        b = buildings
        hit = F.lit(False)
        for i, s in enumerate(srcs):
            m = F.broadcast(
                s.select(F.col("id").alias(f"__oid{i}"), F.col("type").alias(f"__otype{i}")).distinct()
            )
            b = b.join(
                m, (b["id"] == m[f"__oid{i}"]) & (b["type"] == m[f"__otype{i}"]), "left"
            )
            hit = hit | F.col(f"__oid{i}").isNotNull()
        housename = F.nullif(F.element_at(F.col("tags"), F.lit("addr:housename")), F.lit(""))
        name_col = F.col("name") if "name" in b.columns else F.lit(None).cast("string")
        b = b.withColumn("name", F.when(hit, housename).otherwise(name_col))
        b = b.drop(*[c for c in b.columns if c.startswith("__oid") or c.startswith("__otype")])
        out["buildings"] = b

    if landuse is not None and pois is not None:
        m = F.broadcast(_ids_of(pois))
        l = landuse.join(
            m, (landuse["id"] == m["__oid"]) & (landuse["type"] == m["__otype"]), "left"
        )
        if "name" in landuse.columns:
            l = l.withColumn("name", F.when(F.col("__oid").isNotNull(), F.lit(None)).otherwise(F.col("name")))
        out["landuse"] = l.drop("__oid", "__otype")

    return out


def csv_match_properties(layers, zoom, params):
    """First-matching CSV row assigns sort_rank/scale_rank
    (ref:postprocess/functions.go:174-208 + matcher/)."""
    layer = params["source_layer"]
    if layer not in layers:
        return layers
    matcher: CSVMatcher = params["matcher"]
    out = dict(layers)
    out[layer] = matcher.apply(out[layer], zoom)
    return out


def _backfill_inputs(layers, zoom, params) -> list[str]:
    """[layer, other_layer] when both are present and the source has
    other_key, else [] (backfill_from_other_layer changes nothing)."""
    dst_name, src_name = params["layer"], params["other_layer"]
    if dst_name not in layers or src_name not in layers:
        return []
    if params["other_key"] not in layers[src_name].columns:
        return []
    return [dst_name, src_name]


def backfill_from_other_layer(layers, zoom, params):
    """dst[key] <- src[other_key] by feature id, only when dst key absent
    (ref:postprocess/functions.go:822-881). Join on id (reference indexes
    id only), broadcast the source side."""
    if not _backfill_inputs(layers, zoom, params):
        return layers
    dst_name, dst_key = params["layer"], params["layer_key"]
    src_name, src_key = params["other_layer"], params["other_key"]
    src = layers[src_name]
    vals = (
        src.filter(F.col("id") != 0)
        .filter(F.col(src_key).isNotNull())
        .groupBy("id")
        .agg(F.max(F.col(src_key)).alias("__backfill"))
        .withColumnRenamed("id", "__bid")
    )
    dst = layers[dst_name]
    dst_col = F.col(dst_key) if dst_key in dst.columns else F.lit(None).cast("string")
    joined = dst.join(F.broadcast(vals), dst["id"] == vals["__bid"], "left")
    joined = joined.withColumn(dst_key, F.coalesce(dst_col, F.col("__backfill"))).drop(
        "__bid", "__backfill"
    )
    out = dict(layers)
    out[dst_name] = joined
    return out


def quantize_height(layers, zoom, params):
    """z13: 20m steps; z14/15: 10m; val<step -> floor(step)
    (ref:postprocess/quantize_height.go:11-102)."""
    layer = params["source_layer"]
    start = params.get("start_zoom", 0)
    end = params.get("end_zoom", 50)
    if layer not in layers or zoom < start or zoom > end:
        return layers
    step = {13: 20.0, 14: 10.0, 15: 10.0}.get(zoom)
    if step is None:
        return layers
    df = layers[layer]
    if "height" not in df.columns:
        return layers
    h = F.col("height").cast("double")
    q = F.when(h < step, F.floor(F.lit(step)).cast("double")).otherwise(
        F.floor(F.lit(step) * F.round(h / F.lit(step))).cast("double")
    )
    out = dict(layers)
    out[layer] = df.withColumn("height", F.when(h.isNotNull(), q))
    return out


def clamp_min_zoom(layers, zoom, params):
    """min_zoom raised (never lowered) per a property-keyed clamp table
    (ref:postprocess/clamp_min_zoom.go:11-96)."""
    layer = params["layer"]
    start = params.get("start_zoom", 0)
    end = params.get("end_zoom", 50)
    if layer not in layers or zoom < start or zoom > end:
        return layers
    df = layers[layer]
    prop = params["property"]
    if prop not in df.columns:
        return layers
    chain = None
    for k, v in params["clamp"].items():
        cond = F.col(prop).cast("double") == F.lit(float(k))
        val = F.lit(float(v))
        chain = F.when(cond, val) if chain is None else chain.when(cond, val)
    clamped = F.greatest(F.col("min_zoom"), F.coalesce(chain, F.col("min_zoom")))
    out = dict(layers)
    out[layer] = df.withColumn("min_zoom", clamped)
    return out


def numeric_min_filter(layers, zoom, params):
    """Keep feature if any/all per-zoom minima met
    (ref:postprocess/functions.go:350-444)."""
    layer = params["source_layer"]
    if layer not in layers:
        return layers
    filters = params["filters"].get(zoom)
    if filters is None:
        return layers
    df = layers[layer]
    mode = params.get("mode", "all")
    preds = []
    for prop, minimum in filters.items():
        col = F.col(prop).cast("double") if prop in df.columns else F.lit(None).cast("double")
        preds.append(F.coalesce(col, F.lit(0.0)) >= F.lit(float(minimum)))
    combined = preds[0]
    for p in preds[1:]:
        combined = (combined | p) if mode == "any" else (combined & p)
    out = dict(layers)
    out[layer] = df.filter(combined)
    return out


def remap(layers, zoom, params):
    """Value remap for a property on given geometry types
    (ref:postprocess/remap.go:11-115)."""
    layer = params["source_layer"]
    if layer not in layers:
        return layers
    start = params.get("start_zoom", 0)
    end = params.get("end_zoom", 50)
    if zoom < start or zoom > end:
        return layers
    df = layers[layer]
    prop = params.get("property", "kind")
    if prop not in df.columns:
        return layers
    table: dict = params["remap"]
    geom_types = params.get("geom_types")
    map_col = F.create_map(*[F.lit(x) for kv in sorted(table.items()) for x in kv])
    remapped = F.coalesce(F.element_at(map_col, F.col(prop).cast("string")), F.col(prop))
    if geom_types:
        remapped = F.when(F.col("geom_type").isin(*geom_types), remapped).otherwise(F.col(prop))
    out = dict(layers)
    out[layer] = df.withColumn(prop, remapped)
    return out


def drop_names(layers, zoom, params):
    """Null out name-like properties in a zoom range
    (ref:postprocess/functions.go:632-726)."""
    layer = params["source_layer"]
    if layer not in layers:
        return layers
    start = params.get("start_zoom", 0)
    end = params.get("end_zoom", 50)
    if zoom < start or zoom > end:
        return layers
    df = layers[layer]
    name_cols = [c for c in df.columns if c == "name" or c.startswith("name:") or c in ("int_name", "loc_name", "nat_name", "official_name", "old_name", "reg_name", "short_name", "alt_name")]
    out_df = df
    for c in name_cols:
        out_df = out_df.withColumn(c, F.lit(None).cast("string"))
    out = dict(layers)
    out[layer] = out_df
    return out


def handle_label_placement(layers, zoom, params):
    """Append a centroid Point feature (label_placement=true) for rows
    matching label_where whose centroid lies within the clip-padded
    bound (ref:postprocess/functions.go:271-348). The centroid comes
    from the precomputed clon/clat columns; bound defaults to world."""
    start = params.get("start_zoom", 0)
    if zoom < start:
        return layers
    out = dict(layers)
    bound = params.get("bound", WORLD_BOUND)
    for name in params["layers"]:
        df = out.get(name)
        if df is None:
            continue
        factor = params.get("clip_factors", {}).get(name, 1.0)
        minx, miny, maxx, maxy = bound
        # padBoundByFactor pads BOTH dims by height*(factor-1)/2
        # (ref:postprocess/functions.go:921-930, geo.BoundPad)
        pad = (maxy - miny) * (factor - 1.0) / 2.0
        pad_x = pad
        pad_y = pad
        cond = props_condition(df, params["label_where"], zoom)
        in_bound = (
            (F.col("clon") >= minx - pad_x)
            & (F.col("clon") <= maxx + pad_x)
            & (F.col("clat") >= miny - pad_y)
            & (F.col("clat") <= maxy + pad_y)
        )
        make_label = F.coalesce(cond & in_bound & F.col("clon").isNotNull(), F.lit(False))
        # single-subtree append: explode [false] or [false, true] rather
        # than union(df, labels(df)) — a union would duplicate the whole
        # upstream rule-evaluation subtree in the plan and recompute it
        labeled = df.withColumn(
            "__mk", F.explode(F.when(make_label, F.array(F.lit(False), F.lit(True))).otherwise(F.array(F.lit(False))))
        )
        point = F.struct(
            F.array(F.col("clon")).alias("xs"),
            F.array(F.col("clat")).alias("ys"),
            F.array(F.lit(1)).alias("ring_lens"),
            F.array(F.lit(0)).alias("ring_roles"),
        )
        prev_lp = (
            F.col("label_placement").cast("boolean")
            if "label_placement" in df.columns
            else F.lit(None).cast("boolean")
        )
        labeled = labeled.withColumn("label_placement", F.when(F.col("__mk"), F.lit(True)).otherwise(prev_lp))
        if "geometry" in df.columns:
            labeled = labeled.withColumn(
                "geometry", F.when(F.col("__mk"), point).otherwise(F.col("geometry"))
            ).withColumn(
                "geom_type", F.when(F.col("__mk"), F.lit("Point")).otherwise(F.col("geom_type"))
            )
        out[name] = labeled.drop("__mk")
    return out


def drop_features_where(layers, zoom, params):
    """Drop rows where the compiled property-condition is true
    (ref:postprocess/functions.go:574-625; end_zoom is faithfully
    ignored — the Go port only honors start_zoom)."""
    layer = params["source_layer"]
    if layer not in layers or zoom < params.get("start_zoom", 0):
        return layers
    df = layers[layer]
    cond = props_condition(df, params["where"], zoom)
    out = dict(layers)
    out[layer] = df.filter(~F.coalesce(cond, F.lit(False)))
    return out


def update_parenthetical_properties(layers, zoom, params):
    """Any string property ending '(closed)'/'(historical)' -> kind=value,
    min_zoom=target; row dropped when zoom < drop_below_zoom
    (ref:postprocess/functions.go:730-814)."""
    layer = params["source_layer"]
    if layer not in layers:
        return layers
    df = layers[layer]
    values = params["values"]
    target_mz = float(params["target_min_zoom"])
    drop_below = float(params["drop_below_zoom"])
    string_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "string" and f.name not in ("zen_layer", "type", "geom_type")]
    # one SQL expression instead of ~|values| x |string cols| py4j
    # Column calls (~150 string columns here; measured ~1.4 s saved)
    parts = []
    for v in values:
        esc = str(v).replace("\\", "\\\\").replace("'", "\\'")
        if string_cols:
            hits = " or ".join(
                "endswith(coalesce(`{}`, ''), '({})')".format(c.replace("`", "``"), esc)
                for c in string_cols
            )
            parts.append(f"case when {hits} then '{esc}' end")
        else:
            parts.append("cast(null as string)")
    matched_sql = parts[0] if len(parts) == 1 else "coalesce(" + ", ".join(parts) + ")"
    out_df = df.withColumn("__paren", F.expr(matched_sql))
    out_df = out_df.withColumn(
        "kind", F.when(F.col("__paren").isNotNull(), F.col("__paren")).otherwise(F.col("kind"))
    ).withColumn(
        "min_zoom",
        F.when(F.col("__paren").isNotNull(), F.lit(target_mz)).otherwise(F.col("min_zoom")),
    )
    if zoom < drop_below:
        out_df = out_df.filter(F.col("__paren").isNull())
    out = dict(layers)
    out[layer] = out_df.drop("__paren")
    return out


def whitelist(layers, zoom, params):
    """Keep property value if whitelisted, remap else, else drop it
    (ref:postprocess/whitelist.go:11-130)."""
    layer = params["layer"]
    start = params.get("start_zoom", 0)
    end = params.get("end_zoom", 50)
    if layer not in layers or zoom < start or zoom > end:
        return layers
    df = layers[layer]
    prop = params["property"]
    if prop not in df.columns:
        return layers
    val = F.col(prop).cast("string")
    keep = val.isin(*[str(v) for v in params["whitelist"]])
    remap_tbl = params.get("remap")
    if remap_tbl:
        m = F.create_map(*[F.lit(str(x)) for kv in sorted(remap_tbl.items()) for x in kv])
        fallback = F.element_at(m, val)  # NULL when unmapped -> dropped
    else:
        fallback = F.lit(None).cast("string")
    new_val = F.when(keep, val).otherwise(fallback)
    if "where" in params and params["where"] is not None:
        cond = props_condition(df, params["where"], zoom)
        new_val = F.when(cond, new_val).otherwise(val)
    out = dict(layers)
    out[layer] = df.withColumn(prop, F.when(val.isNotNull(), new_val))
    return out


def _dedup_inputs(layers, zoom, params) -> list[str]:
    """The source layers remove_duplicate_features reads at this zoom:
    those present that carry every property key; none past end_zoom."""
    end = params.get("end_zoom", 0)
    if end and zoom > end:
        return []
    keys = params["property_keys"]
    names = params.get("source_layers") or [params["source_layer"]]
    return [n for n in names if n in layers and all(k in layers[n].columns for k in keys)]


def remove_duplicate_features(layers, zoom, params):
    """Greedy first-wins spatial dedup of Points sharing a key tuple
    within min_distance pixels (converted to meters at zoom+8 from the
    bound corner — ref:postprocess/functions.go:446-572). Order matters
    (first kept wins): candidates are processed in deterministic
    (id, type) order per key. Physical shape: tiny multi-candidate
    aggregate -> Arrow-batched greedy scan -> broadcast anti-join of
    the dropped (id, type, layer rank) rows into every source layer
    (see inline comment).

    The step holds no cut of its own: with several source layers it
    reads each of them twice (candidates and anti-join), so
    ``NormalizeEngine.postprocess`` materializes those layers right
    before it runs."""
    active = _dedup_inputs(layers, zoom, params)
    if not active:
        return layers
    keys = params["property_keys"]
    geom_types = params.get("geometry_types", ["Point"])
    min_px = float(params["min_distance"])

    bound = params.get("bound", WORLD_BOUND)
    # pixel -> meters: one tile at zoom+8 == one 256px-tile pixel at zoom
    n = 2.0 ** (zoom + 8)
    lon0, lat0 = bound[0], bound[1]
    # tile x/y of bound corner at zoom+8 (slippy), then step min_px tiles
    import math as _math

    tx = int((lon0 + 180.0) / 360.0 * n)
    lat_r = _math.radians(max(-MAX_LAT, min(MAX_LAT, lat0)))
    ty = int((1 - _math.log(_math.tan(lat_r) + 1 / _math.cos(lat_r)) / _math.pi) / 2.0 * n)

    def tile_center(x, y):
        lon = (x + 0.5) / n * 360.0 - 180.0
        lat = _math.degrees(_math.atan(_math.sinh(_math.pi * (1 - 2 * (y + 0.5) / n))))
        return lon, lat

    def haversine(lon1, lat1, lon2, lat2):
        r = 6371000.0
        p1, p2 = _math.radians(lat1), _math.radians(lat2)
        dp = p2 - p1
        dl = _math.radians(lon2 - lon1)
        a = _math.sin(dp / 2) ** 2 + _math.cos(p1) * _math.cos(p2) * _math.sin(dl / 2) ** 2
        return 2 * r * _math.asin(min(1.0, _math.sqrt(a)))

    c1 = tile_center(tx, ty)
    c2 = tile_center(tx + min_px, ty)
    dist_m = haversine(c1[0], c1[1], c2[0], c2[1])

    source_layers = params.get("source_layers") or [params["source_layer"]]
    # Cross-layer semantics (ref:queries.yaml:1027, functions.go:510-538):
    # ONE shared deduper over the union of all source layers, greedy
    # first-wins in source_layers order (pois beat landuse beat
    # buildings for the same name within min_distance). The layer rank
    # leads the sort tuple so the per-key candidate array is scanned in
    # exactly that order; a single-layer call degenerates to the
    # within-layer (id, type) order.
    super_m = 512.0 * dist_m
    pts_frames = []
    for name in active:
        lrank = source_layers.index(name)
        key_cols = [F.coalesce(F.col(k).cast("string"), F.lit("")) for k in keys]
        eligible = F.col("geom_type").isin(*geom_types)
        for kc in key_cols:
            eligible = eligible & (kc != "")

        # Scale shape: almost every (name, kind) tuple is a singleton,
        # and the greedy scan only matters for keys with >=2 candidates:
        #   1) count candidates per key; keys above HOT_KEY_THRESHOLD
        #      (a planet-scale "Starbucks","cafe" ~ 10^4-10^5 points)
        #      are sub-bucketed by a Mercator supercell of side
        #      512 x dist_m, so no single aggregate row / greedy group
        #      is unbounded. The greedy scan is exact per group; for
        #      hot keys, suppression across a supercell border is not
        #      applied (border pairs are ~dist/S ≈ 0.2% of a hot key,
        #      and the reference never dedups across tiles at all —
        #      its Process() is per-tile, ref:process.go:22-24 — so the
        #      hot-key regime is already beyond-reference semantics).
        #   2) aggregate each group into a SORTED candidate array
        #      (deterministic (id, type) order = the reference's greedy
        #      first-wins order), keeping only multi-candidate groups —
        #      a tiny aggregate;
        #   3) run the order-dependent scan per group in an
        #      Arrow-batched mapInArrow (numpy-vectorized haversine
        #      against the kept set, so a 10^4-candidate group is
        #      ~10^8 SIMD flops, not 10^8 Python trips);
        #   4) ANTI-join the dropped ids back (broadcast) —
        #      the fact table is never reshuffled.
        pts_frames.append(
            layers[name].filter(eligible).select(
                F.concat_ws("-!-", *key_cols).alias("__dk"),
                F.lit(lrank).alias("__lrank"),
                "id",
                "type",
                "clon",
                "clat",
                F.floor(F.lit(6378137.0) * F.radians(F.col("clon")) / F.lit(super_m)).alias("__gx"),
                F.floor(
                    F.lit(6378137.0)
                    * F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(F.col("clat")) / F.lit(2.0)))
                    / F.lit(super_m)
                ).alias("__gy"),
            )
        )
    pts = pts_frames[0]
    for f in pts_frames[1:]:
        pts = pts.unionByName(f)

    hot_threshold = int(params.get("hot_key_threshold", 4096))
    hot = (
        pts.groupBy("__dk")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > hot_threshold)
        .select("__dk")
        .withColumn("__hot", F.lit(True))
    )
    pts = pts.join(F.broadcast(hot), on="__dk", how="left")
    group_key = F.when(
        F.col("__hot").isNotNull(),
        F.concat_ws("@", F.col("__dk"), F.col("__gx"), F.col("__gy")),
    ).otherwise(F.col("__dk"))
    # sort tuple leads with the layer rank: the greedy scan walks pois
    # candidates before landuse before buildings, then (id, type)
    cands = (
        pts.groupBy(group_key.alias("__gk"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct("__lrank", "id", "type", "clon", "clat"))
            ).alias("__pts")
        )
        .filter(F.size("__pts") > 1)
    )

    def drop_ids(batch_iter):
        import numpy as np
        import pyarrow as pa

        r2 = 2.0 * 6371000.0
        for batch in batch_iter:
            # one group's candidates = one slice of the flat struct values
            pts = batch.column(0)
            offs = pts.offsets.to_numpy()
            offs = offs - offs[0]
            flat = pts.flatten()
            lam_all = np.radians(flat.field("clon").to_numpy(zero_copy_only=False))
            phi_all = np.radians(flat.field("clat").to_numpy(zero_copy_only=False))
            dropped: list[int] = []
            for g in range(len(offs) - 1):
                s = int(offs[g])
                n = int(offs[g + 1]) - s
                lam = lam_all[s : s + n]
                phi = phi_all[s : s + n]
                cphi = np.cos(phi)
                kept_idx = np.empty(n, dtype=np.int64)
                n_kept = 0
                for i in range(n):
                    if n_kept:
                        k = kept_idx[:n_kept]
                        a = (
                            np.sin((phi[i] - phi[k]) / 2.0) ** 2
                            + cphi[i] * cphi[k] * np.sin((lam[i] - lam[k]) / 2.0) ** 2
                        )
                        d = r2 * np.arcsin(np.minimum(1.0, np.sqrt(a)))
                        if (d < dist_m).any():
                            dropped.append(s + i)
                            continue
                    kept_idx[n_kept] = i
                    n_kept += 1
            take = pa.array(dropped, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    flat.field("id").take(take).cast(pa.int64()),
                    flat.field("type").take(take).cast(pa.string()),
                    flat.field("__lrank").take(take).cast(pa.int32()),
                ],
                names=["__did", "__dtype", "__dlrank"],
            )

    # every source layer anti-joins the same dropped-row frame; the
    # layer rank in the join condition keeps a pois row from being
    # dropped for a buildings row of the same (id, type)
    dropped = F.broadcast(
        cands.select("__pts").mapInArrow(drop_ids, schema="__did long, __dtype string, __dlrank int")
    )
    out = dict(layers)
    for name in active:
        df = out[name]
        out[name] = df.join(
            dropped,
            (df["id"] == dropped["__did"])
            & (df["type"] == dropped["__dtype"])
            & (dropped["__dlrank"] == source_layers.index(name)),
            "left_anti",
        )
    return out


# ---------------------------------------------------------------------------
# road_networks (ref:postprocess/networks.go:15-525): merge network/ref
# tags into mz_networks triples, extract per-route-type network/shield
# arrays, and choose the most important entry. Entirely JVM-side array
# expressions (transform/filter/array_sort) — no shuffle, no UDF.
# ---------------------------------------------------------------------------

# operator -> country backfill (ref:postprocess/networks.go:57-100)
_NETWORK_OPERATORS = {
    "Highways England": "GB",
    "ASF": "FR",
    "Autopista Litoral Sul": "BR",
    "DNIT": "BR",
    "Εγνατία Οδός": "GR",
    "Αυτοκινητόδρομος Αιγαίου": "GR",
    "Transport Scotland": "GB",
    "The Danish Road Directorate": "DK",
    "Autostrade per l' Italia S.P.A.": "IT",
    "Νέα Οδός": "GR",
    "Autostrada dei Fiori S.P.A.": "IT",
    "S.A.L.T.": "IT",
    "Welsh Government": "GB",
    "Euroscut": "PT",
    "DIRIF": "FR",
    "Administración central": "ES",
    "Αττική Οδός": "GR",
    "Autocamionale della Cisa S.P.A.": "IT",
    "Κεντρική Οδός": "GR",
    "Bundesrepublik Deutschland": "DE",
    "Ecovias": "BR",
    "東日本高速道路": "JP",
    "NovaDutra": "BR",
    "APRR": "FR",
    "Via Solutions Südwest": "DE",
    "Autoroutes du Sud de la France": "FR",
    "Transport for Scotland": "GB",
    "Departamento de Infraestructuras Viarias y Movilidad": "ES",
    "ViaRondon": "BR",
    "DIRNO": "FR",
    "SATAP": "IT",
    "Ολυμπία Οδός": "GR",
    "Midland Expressway Ltd": "GB",
    "autobahnplus A8 GmbH": "DE",
    "Cart": "BR",
    "Μορέας": "GR",
    "Hyderabad Metropolitan Development Authority": "PK",
    "Viapar": "BR",
    "Autostrade Centropadane": "IT",
    "Triângulo do Sol": "BR",
}

_HIKING_NETS = ("iwn", "nwn", "rwn", "lwn")
_BIKE_NETS = ("icn", "ncn", "rcn", "lcn")
_CC_PAT = r"(?i)^([a-z][a-z])[:-](.*)"


def _fixup_network_cc(n: Column) -> Column:
    """aa:/aa- country-code prefixes uppercased; 'roads' suffix
    singularized (ref:postprocess/networks.go:157-173)."""
    cc = F.regexp_extract(n, _CC_PAT, 1)
    suffix = F.regexp_extract(n, _CC_PAT, 2)
    suffix = F.when(F.lower(suffix) == "roads", F.lit("road")).otherwise(suffix)
    return F.when(cc == "", n).otherwise(F.concat(F.upper(cc), F.lit(":"), suffix))


def _guess_type_from_network(n: Column) -> Column:
    """ref:postprocess/networks.go:176-190."""
    return (
        F.when(n.isin(*_HIKING_NETS), F.lit("hiking"))
        .when(n.isin(*_BIKE_NETS), F.lit("bicycle"))
        .otherwise(F.lit("road"))
    )


def _road_shield_text(n: Column, r: Column) -> Column:
    """ref:postprocess/networks.go:460-519 (regex extraction chain)."""
    ua = F.regexp_extract(r, r"(?i)^(\w)-(\d+)-(\d+)$", 0)
    ua_text = F.concat(
        F.regexp_extract(r, r"(?i)^(\w)-(\d+)-(\d+)$", 1),
        F.regexp_extract(r, r"(?i)^(\w)-(\d+)-(\d+)$", 2),
        F.regexp_extract(r, r"(?i)^(\w)-(\d+)-(\d+)$", 3),
    )
    num_front = F.regexp_extract(r, r"^(\d+\w*)", 1)
    letter_front = F.regexp_extract(r, r"^([^\W\d]) *(\d+)", 0)
    letter_front_text = F.concat(
        F.regexp_extract(r, r"^([^\W\d]) *(\d+)", 1),
        F.regexp_extract(r, r"^([^\W\d]) *(\d+)", 2),
    )
    letters_num = F.regexp_extract(r, r"(?i)^[^\d\s_]+[ -]?([\d]+)", 1)
    return (
        F.when(r == "", F.lit(""))
        .when(r == "FI-PI-LI", r)
        .when(n == "US:PA:Belt", r)
        .when(n.startswith("ua:") & (ua != ""), ua_text)
        .when(n.startswith("GR:") | n.startswith("gr:"), r)
        .when(num_front != "", num_front)
        .when(letter_front != "", letter_front_text)
        .when(letters_num != "", letters_num)
        .otherwise(r)
    )


def _atoi(s: Column) -> Column:
    """Go strconv.Atoi: full-string integer parse else failure (NULL)."""
    return F.trim(s).try_cast("int")


def _road_importance(n: Column, shield: Column) -> Column:
    """ref:postprocess/networks.go:350-397 — lower is more important;
    importance is computed on (network, SHIELD text)."""
    nc = (
        F.when((n == "US:I") | n.contains(":national"), F.lit(1))
        .when((n == "US:US") | n.contains("regional"), F.lit(2))
        .otherwise(F.size(F.split(n, ":")) + 3)
    )
    digits = F.regexp_extract(shield, r"[^0-9]*([0-9]+)", 1)
    rc = F.coalesce(_atoi(shield), digits.try_cast("int"), F.lit(0))
    rc = F.least(F.abs(rc), F.lit(9999))
    return F.when(n == "", F.lit(9999)).otherwise(nc * 10000 + rc)


def _generic_importance(n: Column, shield: Column, codes: dict[str, int] | None) -> Column:
    """ref:postprocess/networks.go:399-446."""
    if codes:
        chain = None
        for k, v in codes.items():
            chain = F.when(n == k, v) if chain is None else chain.when(n == k, v)
        code = F.coalesce(chain, F.lit(len(codes)))
    else:
        code = F.lit(0)
    rc = F.greatest(F.coalesce(_atoi(shield), F.lit(0)), F.lit(0))
    rc = F.least(rc, F.lit(9999))
    return F.when(shield == "", code * 10000 + 9999).otherwise(code * 10000 + rc)


_WALKING_CODES = {"iwn": 1, "nwn": 2, "rwn": 3, "lwn": 4}
_BICYCLE_CODES = {"icn": 1, "ncn": 2, "rcn": 3, "lcn": 4}

# (prefix, route values, road-style shield+importance?)
_NETWORK_GROUPS = [
    ("", ("road",), True),
    ("walking_", ("foot", "hiking"), False),
    ("bicycle_", ("bicycle",), False),
    ("bus_", ("bus", "trolleybus"), False),
]


def road_networks(layers, zoom, params):
    """merge -> extract -> choose (ref:postprocess/networks.go:15-525).

    Deviation from the Go port: Go uses an unstable sort over equal
    importance keys; here ties keep first-seen triple order
    (deterministic under distributed execution)."""
    layer = params["layer"]
    if layer not in layers:
        return layers
    df = layers[layer]
    if "mz_networks" not in df.columns and "network" not in df.columns:
        return layers

    def scol(name: str) -> Column:
        return (
            F.coalesce(F.col(name).cast("string"), F.lit(""))
            if name in df.columns
            else F.lit("")
        )

    empty_triples = F.array().cast(
        "array<struct<route:string,network:string,ref:string>>"
    )
    mz = (
        F.coalesce(F.col("mz_networks"), empty_triples)
        if "mz_networks" in df.columns
        else empty_triples
    )
    mz = F.transform(
        mz,
        lambda t: F.struct(
            F.coalesce(t["route"], F.lit("")).alias("route"),
            F.coalesce(t["network"], F.lit("")).alias("network"),
            F.coalesce(t["ref"], F.lit("")).alias("ref"),
        ),
    )

    # -- mergeNetworksFromTags (ref:networks.go:102-153) ------------------
    # in-place pass: country-code fixup on road triples; ';'-refs keep the
    # LAST segment in place...
    part1 = F.transform(
        mz,
        lambda t: F.struct(
            t["route"].alias("route"),
            F.when(
                (t["route"] == "road") & (t["network"] != ""), _fixup_network_cc(t["network"])
            )
            .otherwise(t["network"])
            .alias("network"),
            F.when(
                t["ref"].contains(";"), F.element_at(F.split(t["ref"], ";"), -1)
            )
            .otherwise(t["ref"])
            .alias("ref"),
        ),
    )
    # ...and append the other segments with the ORIGINAL (pre-fixup)
    # network — a faithful Go quirk: the local `n` is read before the
    # in-place fixup (ref:networks.go:124-135)
    part2 = F.flatten(
        F.transform(
            mz,
            lambda t: F.when(
                t["ref"].contains(";"),
                F.transform(
                    F.slice(F.split(t["ref"], ";"), 1, F.size(F.split(t["ref"], ";")) - 1),
                    lambda r: F.struct(
                        t["route"].alias("route"),
                        t["network"].alias("network"),
                        r.alias("ref"),
                    ),
                ),
            ).otherwise(empty_triples),
        )
    )
    merged = F.concat(part1, part2)

    # operator -> network backfill, then move own network+ref into the
    # triple list (ref:networks.go:139-153)
    op_map = F.create_map(*[F.lit(x) for kv in _NETWORK_OPERATORS.items() for x in kv])
    net_tag = scol("network")
    net_eff = F.when(
        net_tag == "", F.coalesce(F.element_at(op_map, scol("operator")), F.lit(""))
    ).otherwise(net_tag)
    ref_tag = scol("ref")
    has_own = (net_eff != "") & (ref_tag != "")
    own = F.struct(
        _guess_type_from_network(net_eff).alias("route"),
        net_eff.alias("network"),
        ref_tag.alias("ref"),
    )
    merged = F.when(has_own, F.concat(merged, F.array(own))).otherwise(merged)

    out_df = df.withColumn("__mzn", merged).withColumn("__has_own", has_own)

    # -- extract + choose per route-type group (ref:networks.go:192-348) --
    new_cols: dict[str, Column] = {}
    for prefix, routes, is_road in _NETWORK_GROUPS:
        def shield(t, _is_road=is_road):
            return (
                _road_shield_text(t["network"], t["ref"]) if _is_road else t["ref"]
            )

        pairs = F.filter(
            F.transform(
                F.col("__mzn"),
                lambda t: F.struct(
                    t["route"].alias("route"),
                    t["network"].alias("network"),
                    shield(t).alias("shield"),
                ),
            ),
            lambda p: p["route"].isin(*routes),
        )
        if is_road:
            imp = lambda p: _road_importance(p["network"], p["shield"])  # noqa: E731
        elif prefix == "walking_":
            imp = lambda p: _generic_importance(p["network"], p["shield"], _WALKING_CODES)  # noqa: E731
        elif prefix == "bicycle_":
            imp = lambda p: _generic_importance(p["network"], p["shield"], _BICYCLE_CODES)  # noqa: E731
        else:
            imp = lambda p: _generic_importance(p["network"], p["shield"], None)  # noqa: E731
        with_imp = F.transform(
            pairs,
            lambda p, i: F.struct(
                imp(p).alias("imp"),
                i.alias("pos"),  # stable tie-break (deterministic)
                p["network"].alias("network"),
                p["shield"].alias("shield"),
            ),
        )
        g = F.array_sort(with_imp)
        gname = f"__g_{prefix or 'road'}"
        out_df = out_df.withColumn(gname, g)
        gc = F.col(gname)
        nonempty = F.size(gc) > 0
        # `network` prop: overwritten by the sorted winner when the group
        # is non-empty; otherwise keeps the tag value unless the merge
        # moved it into the triples (ref:networks.go:146-151,313-340)
        prev_net = F.when(F.col("__has_own"), F.lit(None)).otherwise(
            F.nullif(scol("network"), F.lit("")) if "network" in df.columns else F.lit(None)
        )
        new_cols[f"{prefix}network"] = F.when(
            nonempty, F.element_at(gc, 1)["network"]
        ).otherwise(prev_net if prefix == "" else F.lit(None).cast("string"))
        new_cols[f"{prefix}shield_text"] = F.when(nonempty, F.element_at(gc, 1)["shield"])
        new_cols[f"all_{prefix}networks"] = F.when(
            nonempty, F.transform(gc, lambda e: e["network"])
        )
        new_cols[f"all_{prefix}shield_texts"] = F.when(
            nonempty, F.transform(gc, lambda e: e["shield"])
        )

    if "ref" in df.columns:
        new_cols["ref"] = F.when(F.col("__has_own"), F.lit(None)).otherwise(F.col("ref"))
    out_df = out_df.withColumns(new_cols)
    out_df = out_df.drop("mz_networks", "__mzn", "__has_own", *[f"__g_{p or 'road'}" for p, _, _ in _NETWORK_GROUPS])
    out = dict(layers)
    out[layer] = out_df
    return out


def _add_collision_rank(layers, zoom, params):
    from osmzen_spark.pipeline.collision import add_collision_rank

    return add_collision_rank(layers, zoom, params)


POSTPROCESSORS = {
    "road_networks": road_networks,
    "add_collision_rank": _add_collision_rank,
    "handle_label_placement": handle_label_placement,
    "drop_features_where": drop_features_where,
    "update_parenthetical_properties": update_parenthetical_properties,
    "whitelist": whitelist,
    "remove_duplicate_features": remove_duplicate_features,
    "csv_match_properties": csv_match_properties,
    "backfill_from_other_layer": backfill_from_other_layer,
    "quantize_height": quantize_height,
    "clamp_min_zoom": clamp_min_zoom,
    "numeric_min_filter": numeric_min_filter,
    "remap": remap,
    "drop_names": drop_names,
}

# the configurable steps that read more than one layer: fn name -> the
# layers the step reads at this zoom ([] when it returns early)
CROSS_LAYER_INPUTS = {
    "remove_duplicate_features": _dedup_inputs,
    "backfill_from_other_layer": _backfill_inputs,
}
