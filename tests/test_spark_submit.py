"""North-rule packaging: the pipeline runs under REAL spark-submit
--py-files with the engine imported ONLY from the packaged zip (the
job script is copied outside the repo so the repo itself is not on any
import path) — the exact deployment shape of a multi-executor cluster.
"""

import json
import os
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="no spark-submit on PATH")
def test_spark_submit_py_files_zip_only(tmp_path):
    zip_path = str(tmp_path / "otelspark.zip")
    subprocess.run(["bash", os.path.join(REPO, "scripts", "package.sh"),
                    zip_path], check=True, capture_output=True)
    job = str(tmp_path / "job.py")
    shutil.copy(os.path.join(REPO, "jobs", "run_pages_pipeline.py"), job)
    out = str(tmp_path / "out")
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path,
         job, "--generate", "20000", "--output", out],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    counters = json.load(open(os.path.join(out, "counters.json")))
    # golden values for the deterministic 20k-page table (seed 42)
    assert counters["accepted"] == 20000
    assert counters["refused"] == 439
    assert counters["sent"] == {"sink_errors": 1186, "sink_en_get": 5299,
                                "sink_api": 3257, "sink_default": 10258}


MASTER_JOB = """
import json, sys
from opentelemetry_collector_contrib_spark.session import get_spark
spark = get_spark()
conf = spark.sparkContext.getConf()
with open(sys.argv[1], "w") as f:
    json.dump({"master": spark.sparkContext.master,
               "memory": conf.get("spark.driver.memory")}, f)
spark.stop()
"""


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="no spark-submit on PATH")
def test_spark_submit_master_and_driver_memory_stand(tmp_path):
    """Under spark-submit the JVM is already up: get_spark() sets no
    master or driver memory of its own, so the submitted ones stand."""
    job = tmp_path / "job.py"
    job.write_text(MASTER_JOB)
    out = str(tmp_path / "out.json")
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[3]", "--driver-memory", "1g", str(job), out],
        cwd=str(tmp_path), env=dict(os.environ, PYTHONPATH=REPO),
        capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    with open(out) as f:
        assert json.load(f) == {"master": "local[3]", "memory": "1g"}


def test_workers_get_the_package_root_on_their_path(spark):
    """get_spark hands Python workers the directory that holds the
    package, so an engine UDF unpickles whatever the driver's working
    directory is (under --py-files that directory is the zip)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    import opentelemetry_collector_contrib_spark as pkg

    root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))

    @pandas_udf("string")
    def worker_path(s: pd.Series) -> pd.Series:
        return pd.Series([os.environ.get("PYTHONPATH", "")] * len(s))

    paths = {r[0] for r in spark.range(4).select(worker_path(F.col("id")))
             .distinct().collect()}
    assert spark.conf.get("spark.executorEnv.PYTHONPATH") == root
    assert paths and all(root in p.split(os.pathsep) for p in paths)
