"""Build the spark-submit artifact: dist/osmzen_spark.zip with the
whole package (code + YAML configs) importable from --py-files.

    python scripts/package.py
    spark-submit --py-files dist/osmzen_spark.zip,tests/synthetic.py \
        scripts/submit_flagship.py

On a real cluster the same zip ships the engine to every executor; the
YAML rule configs ride inside the zip and load through
importlib.resources-compatible zipimport paths (loader.py reads via
__file__-relative paths, which zipimport serves)."""

from __future__ import annotations

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out_path: str | None = None) -> str:
    out_path = out_path or os.path.join(ROOT, "dist", "osmzen_spark.zip")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    pkg = os.path.join(ROOT, "osmzen_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirnames, filenames in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in sorted(filenames):
                if fn.endswith((".pyc", ".pyo")):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, ROOT)
                z.write(full, rel)
    return out_path


if __name__ == "__main__":
    print(build())
