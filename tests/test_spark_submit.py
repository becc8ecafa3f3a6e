"""End-to-end spark-submit smoke: the north-rule deployment shape
(`spark-submit --py-files biomed_timeseries_preprocessing_spark.zip jobs/rollup_job.py ...`) must work
as shipped — fresh JVM via the real submit launcher, zip artifact
attached for executor distribution, the job on the master spark-submit
gave it, resumable warehouse written and readable."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_py_files_job(tmp_path, synth_lake):
    subprocess.run(["bash", os.path.join(REPO, "jobs", "package.sh")], check=True,
                   capture_output=True)
    zip_path = os.path.join(REPO, "dist", "biomed_timeseries_preprocessing_spark.zip")
    wh = str(tmp_path / "wh")
    # SPARK_GRAFT_CPUS is only the fallback of a plain python process:
    # the job must run on the submitted local[2], not local[3]
    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS="3",
    )
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--py-files", zip_path,
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            os.path.join(REPO, "jobs", "rollup_job.py"),
            "--source", synth_lake(4),
            "--warehouse", wh,
            "--run-id", "submit-smoke",
            "--buckets", "2",
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "'master': 'local[2]'" in out.stdout, out.stdout
    assert "'buckets_run': 2" in out.stdout
    # warehouse is a real snapshot catalog: current.json + data files
    for t in ("rollup_1m", "rollup_1h", "lineage"):
        cur = os.path.join(wh, t, "metadata", "current.json")
        assert os.path.exists(cur), t
        assert json.load(open(cur))["files"]
