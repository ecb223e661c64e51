"""NormalizeEngine: the full osmzen normalization pipeline, Spark-first.

Lifecycle mirrors ref:process.go Process() (SURVEY.md §3) with Spark
stage boundaries:

  1. membership joins on the raw elements (pipeline.membership)
  2. ONE mapInArrow pass (compiler.arrow_multilayer): geometry stats,
     tile-bound Point filter, first-match rule eval of every layer
  3. per-feature transforms (narrow withColumn stages)
  4. SetConditionalNames (broadcast id-joins) + configured
     post-processors in config order
  5. tile/cell assignment of centroids (pure Column math)

Plans are cut in two places. The eval union is a parquet stage cut
(``_stage_cut``). In stage 4, right before each step that reads more
than one layer, ``postprocess`` materializes every layer that step
reads with an eager in-memory cut: otherwise each cross-layer step
embeds the whole plan of every layer it reads, and the final union
re-runs the shared upstream once per embedding.

The per-tile zoom is a compile-time parameter (the reference processes
one tile bound/zoom per call; we process the whole table for a target
zoom in one distributed pass — ProcessElement fixture semantics use
zoom=20, ref:process.go:28-69).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmzen_spark.compiler.arrow_multilayer import evaluate_all_layers_arrow, split_layer_views
from osmzen_spark.compiler.loader import CompiledConfig, load_config
from osmzen_spark.geom.derive import STATS_COLS
from osmzen_spark.pipeline.postprocess import (
    CROSS_LAYER_INPUTS,
    POSTPROCESSORS,
    conditional_names_inputs,
    set_conditional_names,
)
from osmzen_spark.pipeline.transforms import apply_transforms
from osmzen_spark.tiling.cells import with_tile


class NormalizeEngine:
    def __init__(self, config: CompiledConfig | None = None):
        self.config = config or load_config()
        self._ckpt_dir: str | None = None
        self._ckpt_dir_owned = False
        self._ckpt_seq = 0
        self._cuts: list[DataFrame] = []

    def release(self) -> None:
        """Unpersist the post-process cuts and delete the engine-owned
        temp checkpoint dir and every stage in it (a finished run no
        longer needs them). Stages under an explicit
        OSMZEN_CHECKPOINT_DIR are kept: they are the caller's, and a
        later run resumes from them. Idempotent."""
        for df in self._cuts:
            # the LogicalRDD under a localCheckpoint'ed frame holds the
            # persisted RDD; df.unpersist() would not reach it
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        self._cuts = []
        if self._ckpt_dir_owned and self._ckpt_dir is not None:
            import shutil

            shutil.rmtree(self._ckpt_dir, ignore_errors=True)
            self._ckpt_dir = None
            self._ckpt_dir_owned = False
            self._ckpt_seq = 0

    def _stage_cut(self, df: DataFrame, name: str, partition_by: str | None = None) -> DataFrame:
        """Materialize a stage boundary as a parquet write + read and
        truncate the plan there.

        Data leaves the JVM heap (the OS page cache holds snappy
        parquet at ~5-10x compression) and scans come back vectorized;
        heap-held wide rows (an in-memory checkpoint) put the single
        local-mode JVM into GC collapse during the multi-scan
        post-process phase (measured 2.7x slower for the 9-layer
        flagship at sf0.1). This is the cluster design: the Iceberg
        stage checkpoint (lineage.py).

        Where the stages go:

        * OSMZEN_CHECKPOINT_DIR unset: an engine-owned temp dir, deleted
          by ``release()`` (and at interpreter exit).
        * OSMZEN_CHECKPOINT_DIR set: that dir, through lineage.run_stage.
          Each stage directory also gets per-bucket lineage rows (row
          count, order-independent xor checksum, cell range) and an
          atomic manifest. Stage paths are (seq, name)-deterministic, so
          a run that reuses the dir validates each stage and RESUMES
          from it without recompute (kill-resume; on a real cluster the
          manifest is the Iceberg snapshot commit). Costs one extra
          map-side-combinable aggregation per stage, and a resume
          re-derives the checksums and cell ranges before it trusts a
          stage.

        Both write the data partitioned by ``partition_by`` when given.
        """
        # void (all-NULL) emit columns: parquet cannot store NullType; a
        # string NULL behaves exactly like an invisible void column in
        # PropertiesContext (absent -> ''/False)
        void_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "void"]
        if void_cols:
            df = df.withColumns({c: F.col(c).cast("string") for c in void_cols})
        if self._ckpt_dir is None:
            explicit = os.environ.get("OSMZEN_CHECKPOINT_DIR")
            if explicit:
                self._ckpt_dir = explicit
            else:
                import atexit
                import shutil
                import tempfile

                self._ckpt_dir = tempfile.mkdtemp(prefix="osmzen_ckpt_")
                self._ckpt_dir_owned = True
                atexit.register(shutil.rmtree, self._ckpt_dir, ignore_errors=True)
        self._ckpt_seq += 1
        path = f"{self._ckpt_dir}/{self._ckpt_seq:03d}_{name}"
        if partition_by is not None and partition_by not in df.columns:
            partition_by = None
        # partition the checkpoint on the downstream branch key: every
        # consumer filters `partition_by = <value>` (the per-layer views
        # + postprocess join sides — 13 scans for the full config), so
        # directory partition pruning turns 13 full-table reads into 13
        # single-partition reads — the Iceberg partition-pruned stage
        # table of the cluster design
        if not self._ckpt_dir_owned:
            from osmzen_spark.lineage import run_stage

            # deterministic 64-way bucket over the element id: the
            # lineage key a resume validates against
            key = "element_id" if "element_id" in df.columns else df.columns[0]
            bucketed = df.withColumn("__bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(64)))
            out = run_stage(
                df.sparkSession,
                path,
                stage=name,
                bucket_col="__bucket",
                compute=lambda: bucketed,
                cell_col="cell" if "cell" in df.columns else None,
                partition_by=partition_by,
            )
            return out.drop("__bucket")
        writer = df.write.mode("overwrite")
        if partition_by is not None:
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)
        return df.sparkSession.read.parquet(path)

    @staticmethod
    def _point_in_bound(bound, lon_col: str = "clon", lat_col: str = "clat"):
        minx, miny, maxx, maxy = bound
        return (
            (F.col(lon_col) >= minx)
            & (F.col(lon_col) <= maxx)
            & (F.col(lat_col) >= miny)
            & (F.col(lat_col) <= maxy)
        )

    def _cut_inputs(
        self, layers: dict[str, DataFrame], names: list[str], cut_at: dict[str, DataFrame]
    ) -> dict[str, DataFrame]:
        """Materialize each of ``names`` (eager ``localCheckpoint``)
        when a step reads more than one layer. ``cut_at`` holds each
        layer's frame as of its last cut: a layer no step has changed
        since then is not cut again."""
        if len(names) < 2:
            return layers
        out = dict(layers)
        for n in names:
            if cut_at.get(n) is not out[n]:
                out[n] = cut_at[n] = out[n].localCheckpoint(eager=True)
                self._cuts.append(out[n])
        return out

    def postprocess(
        self, layers: dict[str, DataFrame], zoom: int, bound=None
    ) -> dict[str, DataFrame]:
        """Stage 4: cross-feature/cross-layer post-processors.

        This is the one place the post-process plan is cut. Right
        before a step that reads more than one layer
        (``set_conditional_names``, a ``remove_duplicate_features``
        with several ``source_layers``, ``backfill_from_other_layer``),
        each layer it reads is materialized once in memory. Lazy plans
        would embed every read layer's whole upstream into the step's
        output, so the final tile union would re-run the eval union
        once per embedding (27 scans for 9 layers without the cuts). A
        step that returns early at this zoom cuts nothing, and
        ``release()`` unpersists the cuts. The cuts are in memory, not
        a parquet ``_stage_cut``: a write and read per layer measured
        ~1 s per layer slower on a tile."""
        cut_at: dict[str, DataFrame] = {}
        layers = self._cut_inputs(layers, conditional_names_inputs(layers), cut_at)
        layers = set_conditional_names(layers, zoom)
        clip_factors = {name: l.clip_factor for name, l in self.config.layers.items()}
        for step in self.config.postprocess:
            fn = POSTPROCESSORS.get(step.fn)
            if fn is None:
                raise ValueError(f"unknown post-processor: {step.fn}")
            params = dict(step.params)
            if bound is not None:
                params.setdefault("bound", bound)
            if step.fn == "handle_label_placement":
                params.setdefault("clip_factors", clip_factors)
            inputs = CROSS_LAYER_INPUTS.get(step.fn)
            if inputs is not None:
                layers = self._cut_inputs(layers, inputs(layers, zoom, params), cut_at)
            layers = fn(layers, zoom, params)
        return layers

    def process(
        self,
        elements: DataFrame,
        zoom: int = 20,
        tile_zoom: int | None = None,
        layer_names: list[str] | None = None,
        cache: bool = False,
        bound: tuple[float, float, float, float] | None = None,
        relation_members: DataFrame | None = None,
        way_nodes: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        """Full pipeline; returns {layer_name: DataFrame} with tile
        columns (tile_z/tile_x/tile_y/cell) appended.

        One straight-line path:

        1. membership joins on the raw elements (they key on
           element_type/element_id only);
        2. ONE mapInArrow pass (``evaluate_all_layers_arrow``): geometry
           stats, the ``bound`` Point filter, every layer's rules — the
           wide rows cross the Python boundary once;
        3. ``cache=True``: the layer-tagged union is stage-cut, a parquet
           checkpoint partitioned by ``zen_layer`` (see ``_stage_cut``);
           ``cache=False`` with membership tables cuts the joined input
           instead, so the join subtree is not duplicated into every
           layer branch and post-process self-join;
        4. per-layer views, transforms, post-processors, clip to the
           padded ``bound`` (when given), tile assignment at
           ``tile_zoom`` (default ``min(zoom, 16)``).

        With a bound, Point features outside it are dropped before eval
        AND Point outputs (e.g. representative points of big polygons)
        outside it are dropped after transforms (ref:process.go:146-167).
        """
        names = layer_names or list(self.config.layers)
        tz = tile_zoom if tile_zoom is not None else min(zoom, 16)
        derived = elements
        if relation_members is not None or way_nodes is not None:
            from osmzen_spark.pipeline.membership import with_membership_columns

            derived = with_membership_columns(elements, relation_members, way_nodes)
            if not cache:
                derived = self._stage_cut(derived, "derived")
        union = evaluate_all_layers_arrow(derived, self.config.layers, zoom, names, bound=bound)
        if cache:
            union = self._stage_cut(union, "eval_union", partition_by="zen_layer")
        views = split_layer_views(union, self.config.layers, derived.columns + list(STATS_COLS), names)
        layers = {}
        for n in names:
            df = apply_transforms(views[n], self.config.layers[n].transforms, zoom)
            if bound is not None:
                df = df.filter((F.col("geom_type") != "Point") | self._point_in_bound(bound))
            layers[n] = df
        layers = self.postprocess(layers, zoom, bound=bound)
        if bound is not None:
            # hard-wired final step for per-tile runs: clip geometry to
            # the (padded) bound and delete the raw-tags stash
            # (ref:process.go:115-122)
            from osmzen_spark.geom.clip import clip_and_wrap

            clip_factors = {n: l.clip_factor for n, l in self.config.layers.items()}
            layers = clip_and_wrap(layers, bound, clip_factors)
            layers = {n: df.drop("tags") for n, df in layers.items()}
        return {name: with_tile(df, tz) for name, df in layers.items()}

    def process_unioned(self, elements: DataFrame, zoom: int = 20, **kw) -> DataFrame:
        """Union all layers into one DataFrame (zen_layer column marks
        the layer) for sink-style consumption."""
        layers = self.process(elements, zoom, **kw)
        dfs = list(layers.values())
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        return out

    # preferred layer order for single-element classification
    # (ref:process.go:28-39)
    PREFERENCE_ORDER = (
        "pois",
        "roads",
        "buildings",
        "landuse",
        "water",
        "places",
        "boundaries",
        "transit",
        "earth",
    )

    def process_element(self, elements: DataFrame, zoom: int = 20, **kw) -> DataFrame:
        """Batch ProcessElement (ref:process.go:42-69): full pipeline at
        world bound, then for each element keep only its FIRST matching
        layer by the preference order, and within that layer the
        original feature (not an appended label point) — exactly the
        reference's fixture semantics (Features[0] of the first
        non-empty layer). Layers outside the preference list rank after
        it in config order, mirroring the reference's fallback loop."""
        from pyspark.sql import Window

        out = self.process_unioned(elements, zoom=zoom, **kw)
        rank = None
        order = list(self.PREFERENCE_ORDER) + [
            n for n in self.config.layers if n not in self.PREFERENCE_ORDER
        ]
        for i, name in enumerate(order):
            cond = F.col("zen_layer") == name
            rank = F.when(cond, F.lit(i)) if rank is None else rank.when(cond, F.lit(i))
        rank = rank.otherwise(F.lit(len(order)))
        label_last = (
            F.col("label_placement").isNotNull().cast("int")
            if "label_placement" in out.columns
            else F.lit(0)
        )
        # deterministic within-layer tiebreak (the reference returns
        # Features[0] of the first non-empty layer): earliest matching
        # rule, then lowest min_zoom
        tiebreak = [
            F.col(c).asc_nulls_last()
            for c in ("match_idx", "min_zoom")
            if c in out.columns
        ]
        w = Window.partitionBy("id", "type").orderBy(rank.asc(), label_last.asc(), *tiebreak)
        return (
            out.withColumn("__pref", F.row_number().over(w))
            .filter(F.col("__pref") == 1)
            .drop("__pref")
        )
