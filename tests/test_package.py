"""The committed ``dist/paddleocr_spark.zip`` (shipped to executors with
``spark-submit --py-files``) must match the source tree exactly; rebuild it
with ``python -m paddleocr_spark.package`` after any package change."""

from __future__ import annotations

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZIP = os.path.join(ROOT, "dist", "paddleocr_spark.zip")


def _source_modules() -> set[str]:
    pkg = os.path.join(ROOT, "paddleocr_spark")
    return {os.path.relpath(os.path.join(d, f), ROOT).replace(os.sep, "/")
            for d, _, files in os.walk(pkg) if "__pycache__" not in d
            for f in files if f.endswith(".py")}


def test_dist_zip_matches_source_tree():
    with zipfile.ZipFile(ZIP) as zf:
        zipped = {n: zf.read(n) for n in zf.namelist() if n.endswith(".py")}
    source = _source_modules()
    assert sorted(source - zipped.keys()) == [], "modules missing from zip"
    stale = [n for n in sorted(zipped)
             if n not in source
             or open(os.path.join(ROOT, n), "rb").read() != zipped[n]]
    assert stale == [], "stale zip: run python -m paddleocr_spark.package"
