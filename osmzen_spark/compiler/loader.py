"""Config loader: reads the engine config directory (layer YAMLs, rank
CSVs, post-process pipeline) into a CompiledConfig — the driver-side
"query compile" step (ref:load.go:53-128; ~10x win in the reference,
free here because Columns are generated once and Catalyst evaluates
them JVM-side; it runs them interpreted, see session.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import yaml

from osmzen_spark.compiler.layer import CompiledLayer, load_layer
from osmzen_spark.pipeline.matcher import CSVMatcher

DEFAULT_CONFIG_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "config")


@dataclass
class PostProcessStep:
    fn: str
    params: dict = field(default_factory=dict)


@dataclass
class CompiledConfig:
    layers: dict[str, CompiledLayer]
    postprocess: list[PostProcessStep]
    config_dir: str

    def layer(self, name: str) -> CompiledLayer:
        return self.layers[name]


# The packaged default config is immutable and its compiled form is
# never mutated downstream (layers/steps are read-only dataclasses, no
# Column/JVM state is built at load time), so one process-wide compile
# serves every engine. ~1.3 s per load; the bench constructs 14 engines
# per run, so this is ~17 s of pure driver fixed cost. Explicit
# config_dir callers (tests with temp configs) bypass the cache.
_DEFAULT_CONFIG_CACHE: CompiledConfig | None = None


def load_config(config_dir: str | None = None) -> CompiledConfig:
    global _DEFAULT_CONFIG_CACHE
    use_cache = config_dir is None
    if use_cache and _DEFAULT_CONFIG_CACHE is not None:
        return _DEFAULT_CONFIG_CACHE
    config_dir = config_dir or DEFAULT_CONFIG_DIR
    from osmzen_spark.confio import read_text

    engine = yaml.safe_load(read_text(os.path.join(config_dir, "engine.yaml")))

    layers: dict[str, CompiledLayer] = {}
    for name in engine["layers"]:
        layers[name] = load_layer(os.path.join(config_dir, "layers", f"{name}.yaml"), name=name)

    steps: list[PostProcessStep] = []
    for entry in engine.get("postprocess", []):
        params = dict(entry.get("params", {}))
        if "csv" in params:
            params["matcher"] = CSVMatcher.from_path(os.path.join(config_dir, params.pop("csv")))
        if "ranker" in params:
            from osmzen_spark.pipeline.collision import CollisionRanker

            params["ranker"] = CollisionRanker.from_path(
                os.path.join(config_dir, params["ranker"])
            )
        steps.append(PostProcessStep(fn=entry["fn"], params=params))

    cfg = CompiledConfig(layers=layers, postprocess=steps, config_dir=config_dir)
    if use_cache:
        _DEFAULT_CONFIG_CACHE = cfg
    return cfg
