"""NormalizeEngine's single evaluation path and stage-cut policy: the
cut is a parquet checkpoint in an engine-owned temp dir that release()
deletes, the post-process plan is cut only by the engine, right before
each cross-layer step, so the final union reads each eval-union layer
at most once and release() frees those cuts too, the compiled rule
payload is built once per engine config,
Catalyst runs the engine's plans interpreted (no generated Java), the
package reads no environment switch beyond the documented ones, every
module of the package is reachable from an engine entry point, every
top-level function, class and method has a caller outside the tests,
and every registry entry is named by the shipped config."""

import ast
import os
import re
from collections import Counter

from osmzen_spark.geom.derive import geometry_from_rings
from osmzen_spark.pipeline.normalize import NormalizeEngine

from conftest import PARKING_GARAGE_RING, PARKING_GARAGE_TAGS, make_elements
from synthetic import SF_SMALL, synthetic_elements

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "osmzen_spark")

# the modules a user or the benchmark imports; everything else in the
# package must be reachable from them
ENTRY_MODULES = (
    "pipeline.normalize",
    "pipeline.assembly",
    "sources.osmpbf",
    "sources.osmxml",
    "sources.geojson",
    "sinks.mvt",
    "compiler.loader",
    "lineage",
    "session",
)

# the code outside the package whose calls count as uses (its tests
# do not)
CALLER_DIRS = ("perfbench", "scripts")

# public entry points that only tests call today: the reference's
# user-facing calls (a full tile from OSM XML or PBF, GeoJSON in and
# out, a tile's bound) and the geometry constructors for
# callers that bring their own rings. The list must stay exact, so
# nothing new joins it unnoticed.
API_ALLOWED = {
    "sources/osmxml.py::full_tile",
    "sources/osmpbf.py::full_tile",
    "sources/geojson.py::process_geojson",
    "sources/geojson.py::read_feature_collections",
    "sources/geojson.py::write_geojson_lines",
    "sources/geojson.py::feature_collections",
    "tiling/cells.py::tile_bound",
    "geom/derive.py::geometry_from_rings",
    "geom/derive.py::point_geometry",
}

# methods that only tests call: the Column when-chain evaluator, the
# test oracle of the Arrow rule pass, and the reference's
# ProcessElement fixture API. Exact, like API_ALLOWED.
METHOD_ALLOWED = {
    "compiler/layer.py::CompiledLayer.evaluate",
    "pipeline/normalize.py::NormalizeEngine.process_element",
}

# the pandas-exchanging UDF entry points: the DataFrame methods and the
# pandas_udf decorator/function, however it is imported
PANDAS_UDF_NAMES = {"mapInPandas", "applyInPandas", "pandas_udf"}

# the engine modules that may import pandas: the rule predicates' tag
# matrix still does (ROADMAP item 6 moves it to pyarrow.compute)
PANDAS_ALLOWED = {"compiler/vectorized.py", "compiler/arrow_layer.py"}

# every OSMZEN_* environment variable the package may read
ALLOWED_ENV = {"OSMZEN_CHECKPOINT_DIR"}


def _garage(spark):
    geometry = geometry_from_rings([PARKING_GARAGE_RING], "Polygon")
    return make_elements(spark, [(1, "way", PARKING_GARAGE_TAGS, "Polygon", geometry)])


def test_stage_cut_is_parquet_in_engine_temp_dir(spark, monkeypatch):
    monkeypatch.delenv("OSMZEN_CHECKPOINT_DIR", raising=False)
    engine = NormalizeEngine()
    out = engine.process(_garage(spark), zoom=16, layer_names=["buildings"], cache=True)
    ckpt = engine._ckpt_dir
    assert ckpt is not None and engine._ckpt_dir_owned
    assert os.listdir(ckpt) == ["001_eval_union"]
    part = os.path.join(ckpt, "001_eval_union", "zen_layer=buildings")
    assert any(f.endswith(".parquet") for f in os.listdir(part))
    assert out["buildings"].count() > 0  # reads back through the cut
    engine.release()
    assert not os.path.exists(ckpt)
    assert engine._ckpt_dir is None


def test_union_reads_each_eval_union_layer_at_most_once(spark):
    """The post-process cuts keep each layer's upstream out of the
    cross-layer steps' plans: in the optimized plan of the union of a
    bounded process() of every layer, each `zen_layer = '<name>'`
    partition filter of the eval union appears at most once. Without
    the cuts, pois appears 12 times, landuse 6 and buildings 3."""
    engine = NormalizeEngine()
    layers = engine.process(
        synthetic_elements(spark, SF_SMALL), zoom=16, bound=(-175.0, -70.0, -165.0, -60.0), cache=True
    )
    dfs = list(layers.values())
    union = dfs[0]
    for df in dfs[1:]:
        union = union.unionByName(df, allowMissingColumns=True)
    plan = union._jdf.queryExecution().optimizedPlan().toString()
    engine.release()
    scans = Counter(re.findall(r"\bzen_layer#\d+ = (\w+)\)", plan))
    assert scans, "no eval-union partition filter found in the plan"
    assert max(scans.values()) == 1, scans


def test_post_processors_hold_no_cut():
    """The engine is the one place the post-process plan is cut: the
    post-processor modules call no localCheckpoint/checkpoint."""
    found = []
    for rel in ("pipeline/postprocess.py", "pipeline/collision.py"):
        path = os.path.join(PACKAGE, rel)
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        found += [
            f"{rel}:{node.lineno} {node.attr}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute) and node.attr in ("localCheckpoint", "checkpoint")
        ]
    assert not found, f"cuts inside post-processors: {found}"


def test_release_frees_post_process_cuts(spark):
    """A bounded run through the cross-layer dedup pins its cuts in the
    block manager until release() unpersists them. The check follows
    the ids of the RDDs process() persisted: cuts that no engine owns
    (a source's parse) may be freed by garbage collection at any time,
    so the session-wide count is not stable during the test."""

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    engine = NormalizeEngine()
    layers = engine.process(
        _garage(spark), zoom=16, bound=(-122.26, 37.82, -122.25, 37.83),
        layer_names=["pois", "landuse", "buildings"],
    )
    assert sum(len(df.collect()) for df in layers.values()) > 0
    added = persisted() - before
    assert added, "process() persisted no cut"
    engine.release()
    assert not added & persisted()


def test_rule_payload_built_once_per_engine(spark, monkeypatch):
    """Two process() calls on one engine reuse the same pickled rule
    payload (the eval pass and the per-layer views both ask for it)."""
    from osmzen_spark.compiler import arrow_multilayer

    seen = []
    real = arrow_multilayer._cached_plan

    def spy(layers, layer_names):
        plan, payload = real(layers, layer_names)
        seen.append(payload)
        return plan, payload

    monkeypatch.setattr(arrow_multilayer, "_cached_plan", spy)
    engine = NormalizeEngine()
    elements = _garage(spark)
    for _ in range(2):
        engine.process(elements, zoom=16, layer_names=["buildings", "roads"])
    assert len(seen) == 4
    assert all(p is seen[0] for p in seen)


def _plan_nodes(plan):
    """Class names of every node of an executed physical plan, inside
    adaptive plans and query stages too."""
    name = plan.getClass().getSimpleName()
    yield name
    if name == "AdaptiveSparkPlanExec":
        children = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        children = [plan.plan()]
    else:
        seq = plan.children()
        children = [seq.apply(i) for i in range(seq.size())]
    for child in children:
        yield from _plan_nodes(child)


def test_plans_run_interpreted(spark):
    """A bounded process() over every layer runs without whole-stage
    codegen and compiles (almost) no Java: the few classes left are
    ones Spark generates with no interpreted twin. With codegen on, the
    same run compiles well over a hundred classes, so this also fails
    if a Spark release renames the internal factoryMode conf."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = metrics.METRIC_COMPILATION_TIME()
    before = compiled.getCount()
    engine = NormalizeEngine()
    layers = engine.process(
        synthetic_elements(spark, SF_SMALL), zoom=16, bound=(-175.0, -70.0, -165.0, -60.0), cache=True
    )
    rows = 0
    for name, df in layers.items():
        rows += len(df.collect())
        nodes = list(_plan_nodes(df._jdf.queryExecution().executedPlan()))
        assert "WholeStageCodegenExec" not in nodes, name
    engine.release()
    assert rows > 0
    assert compiled.getCount() - before < 10


def test_env_switches_are_allow_listed():
    """No OSMZEN_* environment switch outside the allow-list: string
    constants naming one anywhere in the package's code."""
    found = {}
    for root, _dirs, files in os.walk(PACKAGE):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Constant) and isinstance(node.value, str):
                    if re.fullmatch(r"OSMZEN_\w+", node.value):
                        found.setdefault(node.value, []).append(os.path.relpath(path, PACKAGE))
    assert found, "scan found no environment reads at all"
    extra = {k: v for k, v in found.items() if k not in ALLOWED_ENV}
    assert not extra, f"environment switches outside the allow-list: {extra}"


def _module_file(module: str) -> str | None:
    """The .py file behind a dotted osmzen_spark module name, or None."""
    base = os.path.join(os.path.dirname(PACKAGE), *module.split("."))
    if os.path.isfile(os.path.join(base, "__init__.py")):
        return os.path.join(base, "__init__.py")
    if os.path.isfile(base + ".py"):
        return base + ".py"
    return None


def _imports(module: str, path: str):
    """Every dotted name an import statement in the file may load,
    function-level imports included. For `from a import b` both `a` and
    `a.b` are yielded, since b may be a submodule."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    package = module if path.endswith("__init__.py") else module.rpartition(".")[0]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(parent + ([base] if base else []))
            yield base
            yield from (f"{base}.{a.name}" for a in node.names)


def _reachable() -> dict[str, str]:
    """{file path: dotted module} of every package module the entry
    modules import, walked with ast (no Spark). Importing a.b.c also
    runs a and a.b, so parent packages count as reached."""
    reached, todo = {}, [f"osmzen_spark.{m}" for m in ENTRY_MODULES]
    while todo:
        parts = todo.pop().split(".")
        if parts[0] != "osmzen_spark":
            continue
        for i in range(1, len(parts) + 1):
            module = ".".join(parts[:i])
            path = _module_file(module)
            if path is None or path in reached:
                continue
            reached[path] = module
            todo.extend(_imports(module, path))
    return reached


def _py_files(top: str):
    """Every .py file under top, outside tests/ directories."""
    for root, dirs, files in os.walk(top):
        dirs[:] = [d for d in dirs if d not in ("tests", "__pycache__")]
        yield from (os.path.join(root, f) for f in files if f.endswith(".py"))


def _dotted(path: str) -> str:
    """The dotted module name of a file under the repository root."""
    rel = os.path.relpath(path, os.path.dirname(PACKAGE))[: -len(".py")]
    return rel.replace(os.sep, ".").removesuffix(".__init__")


def test_every_package_module_is_reachable():
    """Every .py file under osmzen_spark/ is reached from the entry
    modules."""
    unreached = sorted(os.path.relpath(p, PACKAGE) for p in set(_py_files(PACKAGE)) - set(_reachable()))
    assert not unreached, f"modules no entry point imports: {unreached}"


def _reads(nodes, module: str, bound: dict[str, str]) -> set[str]:
    """Dotted names of what the code in `nodes` reads: a bare name is
    `module.name` unless an import bound it; `m.attr` on an imported
    module is that module's attr. Import statements alone read
    nothing, so an __init__ re-export is no use."""
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                out.add(bound.get(node.id, f"{module}.{node.id}"))
            elif (
                isinstance(node, ast.Attribute)
                and isinstance(node.ctx, ast.Load)
                and isinstance(node.value, ast.Name)
                and node.value.id in bound
            ):
                out.add(f"{bound[node.value.id]}.{node.attr}")
    return out


def _attrs(node) -> Counter:
    """How often each attribute name is read or called under node."""
    return Counter(n.attr for n in ast.walk(node) if isinstance(n, ast.Attribute))


def test_every_definition_has_a_caller():
    """Every top-level function or class of the package is read by
    package code or by CALLER_DIRS, apart from the exact API_ALLOWED
    list; its own body, tests and __init__ re-exports do not count.
    References follow imports, so a same-named function elsewhere is
    not a use. Every method of a package class, dunders aside, is
    read as an attribute of that name outside its own body, apart
    from the exact METHOD_ALLOWED list; methods are matched by name
    only, so any `.name` read counts."""
    root = os.path.dirname(PACKAGE)
    files = list(_py_files(PACKAGE)) + [p for d in CALLER_DIRS for p in _py_files(os.path.join(root, d))]
    trees = {}
    for path in files:
        with open(path) as fh:
            trees[path] = ast.parse(fh.read(), path)
    # what a package __init__ re-exports: "pkg.name" -> "pkg.module.name"
    aliases = {
        f"{_dotted(path)}.{a.asname or a.name}": f"{node.module}.{a.name}"
        for path, tree in trees.items()
        if path.endswith("__init__.py")
        for node in tree.body
        if isinstance(node, ast.ImportFrom)
        for a in node.names
    }

    def resolve(name: str) -> str:
        while name in aliases:
            name = aliases[name]
        return name

    bound = {
        path: {
            a.asname or a.name: resolve(f"{node.module}.{a.name}")
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom) and node.module
            for a in node.names
        }
        for path, tree in trees.items()
    }
    reads = {path: _reads(tree.body, _dotted(path), bound[path]) for path, tree in trees.items()}

    uncalled = set()
    for path in _py_files(PACKAGE):
        module, body = _dotted(path), trees[path].body
        for node in body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            name = f"{module}.{node.name}"
            others = [t for t in body if t is not node]
            if name in _reads(others, module, bound[path]):
                continue
            if not any(name in r for p, r in reads.items() if p != path):
                uncalled.add(f"{os.path.relpath(path, PACKAGE)}::{node.name}")

    attrs = sum((_attrs(tree) for tree in trees.values()), Counter())
    for path in _py_files(PACKAGE):
        for cls in ast.walk(trees[path]):
            if not isinstance(cls, ast.ClassDef):
                continue
            for node in cls.body:
                if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                if node.name.startswith("__") and node.name.endswith("__"):
                    continue
                if attrs[node.name] == _attrs(node)[node.name]:
                    uncalled.add(f"{os.path.relpath(path, PACKAGE)}::{cls.name}.{node.name}")

    allowed = API_ALLOWED | METHOD_ALLOWED
    unexpected = sorted(uncalled - allowed)
    assert not unexpected, f"definitions only tests call: {unexpected}"
    stale = sorted(allowed - uncalled)
    assert not stale, f"API_ALLOWED/METHOD_ALLOWED name called or deleted definitions: {stale}"


def _called_functions(node) -> set[str]:
    """The `call: {func: ...}` names anywhere in a rule tree."""
    if isinstance(node, list):
        return set().union(*map(_called_functions, node))
    if not isinstance(node, dict):
        return set()
    out = set().union(*map(_called_functions, node.values()))
    call = node.get("call")
    if isinstance(call, dict):
        out.add(call["func"])
    return out


def _func_literals(tree) -> set[str]:
    """The string literals `_compile_call` compares `func` against."""
    fn = next(n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == "_compile_call")
    return {
        c.value
        for node in ast.walk(fn)
        if isinstance(node, ast.Compare) and isinstance(node.left, ast.Name) and node.left.id == "func"
        for cmp in node.comparators
        for c in ast.walk(cmp)
        if isinstance(c, ast.Constant) and isinstance(c.value, str)
    }


def test_every_registry_entry_is_configured():
    """Each entry of the name-keyed registries is named by the shipped
    config: a TRANSFORMS key by a layer's `transform:` list, a
    POSTPROCESSORS key by an `fn:` of engine.yaml, a FUNCTIONS key by a
    `call` in some layer rule. The Arrow evaluator's `_compile_call`
    handles exactly the FUNCTIONS keys, so it and its Column oracle
    share one function set, and its type tables name only those."""
    from osmzen_spark.compiler.arrow_layer import _BOOL_FUNCS, _NUM_FUNCS
    from osmzen_spark.compiler.functions import FUNCTIONS
    from osmzen_spark.compiler.loader import load_config
    from osmzen_spark.pipeline.postprocess import POSTPROCESSORS
    from osmzen_spark.pipeline.transforms import TRANSFORMS

    cfg = load_config()
    layers = cfg.layers.values()
    unnamed = set(TRANSFORMS) - {t for layer in layers for t in layer.transforms}
    assert not unnamed, f"transforms no layer names: {sorted(unnamed)}"
    unrun = set(POSTPROCESSORS) - {step.fn for step in cfg.postprocess}
    assert not unrun, f"post-processors engine.yaml never runs: {sorted(unrun)}"
    functions = set(FUNCTIONS)
    uncalled = functions - _called_functions([[r.when, r.min_zoom, r.emit] for l in layers for r in l.rules])
    assert not uncalled, f"functions no rule calls: {sorted(uncalled)}"

    path = os.path.join(PACKAGE, "compiler", "vectorized.py")
    with open(path) as fh:
        literals = _func_literals(ast.parse(fh.read(), path))
    assert literals == functions, ("_compile_call only", literals - functions, "FUNCTIONS only", functions - literals)
    assert _NUM_FUNCS | _BOOL_FUNCS <= functions, sorted((_NUM_FUNCS | _BOOL_FUNCS) - functions)


def _udf_names(node) -> list[str]:
    """The names a node may bind or read a pandas UDF by: `df.mapInPandas`,
    `F.pandas_udf`, a bare `pandas_udf` and `from ... import pandas_udf`."""
    if isinstance(node, ast.Attribute):
        return [node.attr]
    if isinstance(node, ast.Name):
        return [node.id]
    if isinstance(node, ast.ImportFrom):
        return [alias.name for alias in node.names]
    return []


def test_python_boundary_is_arrow():
    """Every Python pass the engine runs exchanges Arrow batches: no
    reachable module calls mapInPandas/applyInPandas or uses pandas_udf,
    and only the exact PANDAS_ALLOWED list imports pandas."""
    pandas_udfs, pandas_importers = [], set()
    for path, module in _reachable().items():
        rel = os.path.relpath(path, PACKAGE)
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        pandas_udfs += [
            f"{rel}:{node.lineno} {name}"
            for node in ast.walk(tree)
            for name in _udf_names(node)
            if name in PANDAS_UDF_NAMES
        ]
        if any(name.split(".")[0] == "pandas" for name in _imports(module, path)):
            pandas_importers.add(rel)
    assert not pandas_udfs, f"pandas UDFs on the engine path: {pandas_udfs}"
    assert pandas_importers == PANDAS_ALLOWED
