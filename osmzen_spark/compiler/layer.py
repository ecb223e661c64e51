"""Layer compiler: ordered rule list -> first-match evaluation plan.

The core non-standard operator (SURVEY.md §2.H "first-match
disjunction"): a layer is an ordered list of (when, min_zoom, emit)
rules; the FIRST matching rule supplies min_zoom and the output
properties (ref:process.go:230-238).

Physical strategy: one `when(p0, 0).when(p1, 1)...` chain produces a
`match_idx` column (Catalyst short-circuits the 550-odd predicates
and evaluates them interpreted: compiling Java for chains this wide
costs more than the rows they run on, see session.py); every output
key is then a cheap `when(match_idx == i, expr_i)` chain. Derived
values (area, height, ...) are plain columns computed once per batch
— never recomputed per rule (ref caches them per-feature,
ref:filter/context.go:109-181; Catalyst CSE does the same per-batch).

The engine itself evaluates rules with the Arrow-batch evaluator
(compiler/arrow_multilayer.py); this Column path is its test oracle.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import yaml

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmzen_spark.compiler.conditions import compile_condition
from osmzen_spark.compiler.context import EvalContext
from osmzen_spark.compiler.expressions import compile_expression, compile_num_expression

# output columns added by the engine itself
META_COLS = ("id", "type", "zen_layer", "min_zoom", "match_idx")


@dataclass
class Rule:
    when: object
    min_zoom: object  # expression node or None (None -> feature skipped)
    emit: dict = field(default_factory=dict)


@dataclass
class CompiledLayer:
    name: str
    geometry_types: list[str]
    rules: list[Rule]
    transforms: list[str] = field(default_factory=list)
    clip_factor: float = 1.0

    @property
    def output_keys(self) -> list[str]:
        keys: dict[str, None] = {}
        for r in self.rules:
            for k in r.emit:
                keys[k] = None
        return list(keys)

    def match_idx_col(self, ctx: EvalContext) -> Column:
        from osmzen_spark.compiler.errors import rule_compile

        out = None
        for i, rule in enumerate(self.rules):
            pred = rule_compile(
                self.name, i, "when", rule.when, lambda r=rule: compile_condition(r.when, ctx)
            )
            out = F.when(pred, F.lit(i)) if out is None else out.when(pred, F.lit(i))
        if out is None:
            return F.lit(None).cast("int")
        return out

    @staticmethod
    def _grouped_chain(pairs, match_idx: Column, cast: str | None = None, default=None) -> Column:
        """pairs: [(rule_idx, hoisted_col_name)] -> when chain, with rule
        indices GROUPED by hoisted column (match_idx values are disjoint,
        so branch order within the chain is irrelevant). Shared emit
        anchors collapse 15+ branches into 1-3, keeping both the py4j
        round trips and the plan Catalyst analyzes small."""
        groups: dict[str, list[int]] = {}
        for i, name in pairs:
            groups.setdefault(name, []).append(i)
        out = None
        for name, idxs in groups.items():
            col = F.col(name)
            if cast:
                col = col.cast(cast)
            cond = match_idx.isin(*idxs) if len(idxs) > 1 else (match_idx == F.lit(idxs[0]))
            out = F.when(cond, col) if out is None else out.when(cond, col)
        if out is None:
            return default if default is not None else F.lit(None)
        return out

    def min_zoom_col(self, hoist, match_idx: Column) -> Column:
        pairs = [
            (i, hoist("num", rule.min_zoom))
            for i, rule in enumerate(self.rules)
            if rule.min_zoom is not None  # nil MinZoom -> skip (ref:process.go:192-195)
        ]
        return self._grouped_chain(pairs, match_idx, cast="double", default=F.lit(None).cast("double"))

    def output_col(self, key: str, hoist, match_idx: Column) -> Column:
        pairs = [
            (i, hoist("out", rule.emit[key]))
            for i, rule in enumerate(self.rules)
            if key in rule.emit
        ]
        return self._grouped_chain(pairs, match_idx)

    def evaluate(self, df: DataFrame, zoom: int) -> DataFrame:
        """Run the layer over an elements DataFrame as Catalyst Column
        chains — the reference oracle the production evaluator
        (compiler/arrow_multilayer.py) is parity-tested against
        (tests/test_arrow_parity.py).

        Expects element_id, element_type, tags, geom_type + the derived
        area/length/clon/clat columns (geom.derive.append_geometry_stats);
        returns one row per matching feature with id/type/zen_layer/
        min_zoom/match_idx + emits + every input column passed through.
        """
        base_derived = {"area": F.col("area"), "length": F.col("length")}
        # membership-join derived columns (pipeline.membership) are
        # picked up automatically when the pre-join stage has run
        from osmzen_spark.pipeline.membership import MEMBERSHIP_COLS

        for mc in MEMBERSHIP_COLS:
            if mc in df.columns:
                base_derived[mc] = F.col(mc)
        ctx = EvalContext(tags="tags", geom_type="geom_type", derived=base_derived, zoom=zoom)

        out = df.filter(F.col("geom_type").isin(*self.geometry_types))
        out = out.withColumn("match_idx", self.match_idx_col(ctx))
        out = out.filter(F.col("match_idx").isNotNull())

        # --- expression hoisting -----------------------------------------
        # Distinct emit/min_zoom expressions are computed ONCE as temp
        # columns; the per-rule when-chains then reference the column.
        # Without this, every rule branch inlines its full expression
        # tree (e.g. the 150-entry kind_detail map x 8 rules) and the
        # serialized plan explodes — the manual equivalent of CSE across
        # when-branches, which Catalyst does not do textually.
        hoisted: dict[str, tuple[str, Column]] = {}

        def hoist(kind: str, node) -> str:
            key = f"{kind}:{node!r}"
            if key not in hoisted:
                col = (
                    compile_num_expression(node, ctx)
                    if kind == "num"
                    else compile_expression(node, ctx)
                )
                hoisted[key] = (f"__x{len(hoisted)}", col)
            return hoisted[key][0]

        # pre-walk every rule so all temp columns are known up front
        for rule in self.rules:
            if rule.min_zoom is not None:
                hoist("num", rule.min_zoom)
            for node in rule.emit.values():
                hoist("out", node)
        out = out.withColumns({name: col for name, col in hoisted.values()})

        mi = F.col("match_idx")
        out = out.withColumn("min_zoom", self.min_zoom_col(hoist, mi))
        # nil-MinZoom skip + zoom gate: keep iff zoom+1 >= min_zoom
        # (ref:process.go:192-203)
        out = out.filter(F.col("min_zoom").isNotNull() & (F.lit(float(zoom + 1)) >= F.col("min_zoom")))
        # floor to 2 decimals (ref:process.go:207, context.go:178)
        out = out.withColumn("min_zoom", F.floor(F.col("min_zoom") * 100) / 100.0)

        # compute emits into temp columns so no emit can clobber an input
        # column another emit expression still reads (e.g. `area`);
        # single withColumns call = one analysis pass instead of K
        emit_keys = [k for k in self.output_keys if k != "min_zoom"]
        out = out.withColumns(
            {f"__emit_{key}": self.output_col(key, hoist, mi) for key in emit_keys}
        )

        # relations get negated ids on output (ref:process.go:209-214)
        out = out.withColumn(
            "id",
            F.when(F.col("element_type") == "relation", -F.col("element_id")).otherwise(
                F.col("element_id")
            ),
        )
        out = out.withColumn("type", F.col("element_type"))
        # engine layer marker: named zen_layer because `layer` is a real
        # OSM tag/output property (buildings emit it)
        out = out.withColumn("zen_layer", F.lit(self.name))

        cols = (
            [F.col(c) for c in ("id", "type", "zen_layer", "min_zoom", "match_idx")]
            + [F.col(f"__emit_{k}").alias(k) for k in emit_keys]
            + [F.col(c) for c in df.columns if c not in emit_keys and c not in META_COLS]
        )
        return out.select(*cols)


def load_layer(source: str | dict, name: str | None = None) -> CompiledLayer:
    """Load a layer definition from a YAML string/path or parsed dict.

    Dialect (osmzen_spark's own; semantics per SURVEY.md §2.B/2.C):

        layer: buildings
        geometry: [Polygon, MultiPolygon]
        clip_factor: 3.0
        transform: [building_height, ...]
        rules:
          - when: {building: true}
            min_zoom: 13
            emit: {kind: building, height: {col: height}}
    """
    if isinstance(source, str):
        if "\n" not in source and source.endswith((".yaml", ".yml")):
            from osmzen_spark.confio import read_text

            doc = yaml.safe_load(read_text(source))
        else:
            doc = yaml.safe_load(source)
    else:
        doc = source

    rules = [
        Rule(when=r.get("when", {}), min_zoom=r.get("min_zoom"), emit=r.get("emit", {}) or {})
        for r in doc.get("rules", [])
    ]
    return CompiledLayer(
        name=doc.get("layer", name or "layer"),
        geometry_types=list(doc.get("geometry", ["Point", "MultiPoint", "LineString", "MultiLineString", "Polygon", "MultiPolygon"])),
        rules=rules,
        transforms=list(doc.get("transform", [])),
        clip_factor=float(doc.get("clip_factor", 1.0)),
    )
