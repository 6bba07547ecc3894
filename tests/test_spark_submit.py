"""Real `spark-submit --py-files` smoke: the north rule's deployment
mode, exercised end-to-end — the job imports the engine from the
shipped zip only (cwd is a temp dir, no repo on sys.path), encodes
tiles through a lineage-store snapshot commit, and re-reads the commit.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(not os.path.exists(SUBMIT), reason="no spark-submit")
def test_spark_submit_pyfiles_end_to_end(tmp_path):
    zip_path = str(tmp_path / "zellige_spark.zip")
    subprocess.run([sys.executable, "scripts/build_pyfiles.py", zip_path],
                   check=True, cwd="/root/repo", capture_output=True)
    job = str(tmp_path / "job.py")
    shutil.copy("/root/repo/scripts/submit_job.py", job)
    out_store = str(tmp_path / "tilestore")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # only the zip provides the package
    res = subprocess.run(
        [SUBMIT, "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path, job,
         "--sf-dir", "/root/testdata/sf0.001", "--out", out_store],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    line = [l for l in res.stdout.splitlines() if l.startswith("{")][-1]
    result = json.loads(line)
    assert result["ok"] is True
    assert result["tiles_out"] > 0
    assert result["features_out"] > 0
    assert result["s2_distinct_cells"] > 10
    # the snapshot commit is readable back as a manifest + parquet data
    manifest = json.load(open(
        f"{out_store}/manifests/{result['snapshot']}.json"))
    assert manifest["metrics"]["tiles_out"] == result["tiles_out"]
    assert os.path.exists(os.path.join(manifest["data_path"], "_SUCCESS"))
