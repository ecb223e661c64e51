"""North-rule packaging path: the engine ships as a --py-files zip and
runs via spark-submit with configs loaded from inside the artifact
(confio.read_text zip fallback)."""

import json
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_zip_artifact_contains_code_and_configs(tmp_path):
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import package

    out = package.build(str(tmp_path / "osmzen_spark.zip"))
    names = set(zipfile.ZipFile(out).namelist())
    assert "osmzen_spark/pipeline/normalize.py" in names
    assert "osmzen_spark/config/engine.yaml" in names
    assert "osmzen_spark/config/layers/pois.yaml" in names
    assert not any(n.endswith(".pyc") for n in names)


def test_config_loads_from_zip(tmp_path):
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import package

    out = package.build(str(tmp_path / "osmzen_spark.zip"))
    code = (
        "import sys, yaml\n"
        f"sys.path.insert(0, {out!r})\n"
        "from osmzen_spark.compiler.loader import load_config\n"
        "cfg = load_config()\n"
        "print(len(cfg.layers), len(cfg.postprocess), sum(len(l.rules) for l in cfg.layers.values()))\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120, cwd=str(tmp_path)
    )
    assert r.returncode == 0, r.stderr[-2000:]
    n_layers, n_steps, n_rules = map(int, r.stdout.split())
    assert n_layers == 9 and n_rules >= 550


def test_spark_submit_py_files_smoke(tmp_path):
    """spark-submit --py-files dist.zip,tests/synthetic.py
    scripts/submit_flagship.py runs the full pipeline end-to-end with the
    engine imported ONLY from the artifact."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import package

    zip_path = package.build(str(tmp_path / "osmzen_spark.zip"))
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", PYTHONPATH="")
    r = subprocess.run(
        [
            "spark-submit",
            "--master",
            "local[4]",
            # local-mode driver and executors share one heap; the 1g
            # spark-submit default OOMs under the cached fan-out
            "--driver-memory",
            "4g",
            "--conf",
            "spark.ui.enabled=false",
            "--conf",
            "spark.sql.shuffle.partitions=4",
            "--py-files",
            f"{zip_path},{os.path.join(ROOT, 'tests', 'synthetic.py')}",
            os.path.join(ROOT, "scripts", "submit_flagship.py"),
            "--sf-dir",
            "/root/testdata/sf0.001",
        ],
        capture_output=True,
        text=True,
        timeout=540,
        cwd=str(tmp_path),
        env=env,
    )
    assert r.returncode == 0, (r.stdout[-1500:], r.stderr[-1500:])
    line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
    payload = json.loads(line)
    assert payload["status"] == "ok"
    assert payload["n_features"] > 1000
