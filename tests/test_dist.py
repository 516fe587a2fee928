"""The spark-submit artifact must carry exactly the source tree.

Executors launched via the documented ``make dist`` then ``spark-submit
--py-files dist/ehr_ner_spark.zip`` contract, or shipped the package by
``pyfiles.ensure_shipped``, import kernels from a zip made by
``pyfiles.build_zip``; if that zip left out, added or changed a file,
workers would run different code than the driver/oracles expect.  This
gate builds the zip afresh and fails whenever it and the package diverge
by one byte.  The zip itself is a build output, not a committed file.
"""

from __future__ import annotations

import os
import zipfile

from ehr_ner_spark.pyfiles import build_zip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "ehr_ner_spark")


def _tree_files() -> dict[str, bytes]:
    out: dict[str, bytes] = {}
    for root, _dirs, files in os.walk(PKG):
        if "__pycache__" in root:
            continue
        for f in files:
            if not f.endswith(".py"):
                continue
            full = os.path.join(root, f)
            rel = os.path.join("ehr_ner_spark", os.path.relpath(full, PKG))
            with open(full, "rb") as fh:
                out[rel] = fh.read()
    return out


def test_dist_zip_matches_tree(tmp_path):
    tree = _tree_files()
    with zipfile.ZipFile(build_zip(str(tmp_path))) as zf:
        zipped = {n: zf.read(n) for n in zf.namelist() if n.endswith(".py")}
    missing = sorted(set(tree) - set(zipped))
    extra = sorted(set(zipped) - set(tree))
    assert not missing, f"files missing from the built zip: {missing}"
    assert not extra, f"files in the built zip but not the tree: {extra}"
    stale = sorted(rel for rel in tree if tree[rel] != zipped[rel])
    assert not stale, f"built zip content differs from tree: {stale}"
