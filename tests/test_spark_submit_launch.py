"""Real ``spark-submit --py-files`` launch of the staged KG pipeline.

The north rule's launch contract is "run via spark-submit --py-files on a
multi-executor cluster"; scripts/package_pyfiles.py + run_pipeline_cluster.py
are the recipe. This test EXECUTES the recipe (the sandbox's maximum): build
the zip, then spark-submit with ``--master local[4]`` from an empty cwd so
the engine is importable ONLY from the shipped zip — a cwd-shadowing repo
checkout would mask a packaging bug (e.g. a module the walk skips).
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.slow


def _spark_submit() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def test_spark_submit_pyfiles_pipeline(tmp_path):
    zip_path = tmp_path / "engine.zip"
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "package_pyfiles.py"),
         str(zip_path)],
        capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr
    assert zip_path.exists()

    workdir = tmp_path / "kg_work"
    cwd = tmp_path / "empty_cwd"  # no repo checkout: zip is the only source
    cwd.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    r = subprocess.run(
        [_spark_submit(), "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--conf", "spark.ui.enabled=false",
         "--py-files", str(zip_path),
         os.path.join(REPO, "scripts", "run_pipeline_cluster.py"),
         "--workdir", str(workdir), "--messages", "3000", "--chunks", "2",
         "--verify-lineage"],
        capture_output=True, text=True, timeout=600, cwd=str(cwd), env=env)
    assert r.returncode == 0, r.stderr[-3000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["messages"] == 3000
    assert summary["triples"] > 0
    assert summary["vendors"] > 0
    # lineage audit ran over all 8 named stages (+ per-chunk dirs) and
    # asserted ok internally; the count lands in the summary
    assert summary.get("lineage_verified", 0) >= 8, summary
    # the stages landed as real checkpoints in the submitted workdir
    assert (workdir / "extract").exists()
    assert (workdir / "triples").exists()


def test_pyfiles_zip_covers_every_module(tmp_path):
    # the zip must ship every .py in the package — a skipped module fails
    # only at executor-import time on a real cluster, the worst place
    import zipfile

    zip_path = tmp_path / "engine.zip"
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "package_pyfiles.py"),
         str(zip_path)],
        capture_output=True, text=True, timeout=120, check=True)
    with zipfile.ZipFile(zip_path) as zf:
        shipped = set(zf.namelist())
    pkg = os.path.join(REPO, "amharic_ecommerce_data_extractor_spark")
    for dirpath, _dirs, files in os.walk(pkg):
        if "__pycache__" in dirpath:
            continue
        for fn in files:
            if fn.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, fn), REPO)
                assert rel in shipped, f"{rel} missing from --py-files zip"
