"""The session factory. A second SparkContext cannot share the test
JVM, so ``get_spark`` is called in a fresh Python process."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json
from feature_engineering_spark.session import get_spark
spark = get_spark("fes-session-test", master="local[2,3]")
print(json.dumps({
    "partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "jobs": list(spark.sparkContext.statusTracker().getJobIdsForGroup(None)),
}))
spark.stop()
"""


def test_get_spark_runs_no_job_and_takes_partitions_from_parallelism():
    """``local[N,F]`` (N threads, F task attempts) builds; the shuffle
    partition count is the session's parallelism N; and no Spark job has
    run when ``get_spark`` returns."""
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run([sys.executable, "-c", _PROBE], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"partitions": "2", "jobs": []}


_QUERY_PROBE = """
import json, os, sys
sys.path[:0] = {path!r}
import feature_engineering_spark
from feature_engineering_spark.plans.driver_queries import QUERIES
from feature_engineering_spark.session import get_spark
spark = get_spark("fes-session-query")
rows = len(QUERIES["embed_neardup_lsh"](spark, {sf!r}).collect())
print(json.dumps({{
    "rows": rows,
    "parallelism": spark.sparkContext.defaultParallelism,
    "engine": feature_engineering_spark.__file__,
}}))
spark.stop()
"""


def _run_query_probe(tmp_path, argv_head, path):
    """Run a registry query with a Python stage (the grouped SRP verify)
    from a working directory outside the repository, with PYTHONPATH and
    SPARK_GRAFT_CPUS unset: the workers find the engine only through
    ``get_spark``'s executor env."""
    script = tmp_path / "probe.py"
    script.write_text(_QUERY_PROBE.format(
        path=path, sf=os.path.join(ROOT, "perfbench", "data", "sf0.01")))
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS")}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run([*argv_head, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_query_with_python_stage_runs_from_a_foreign_working_directory(tmp_path):
    got = _run_query_probe(tmp_path, [sys.executable], [ROOT])
    assert got["rows"] == 50
    assert got["engine"].startswith(ROOT + os.sep)
    assert got["parallelism"] == len(os.sched_getaffinity(0))


def test_query_with_python_stage_runs_under_spark_submit_py_files(tmp_path):
    submit = shutil.which("spark-submit")
    if submit is None:
        pytest.skip("spark-submit is not on PATH")
    engine = str(tmp_path / "fes.zip")
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "package.py"),
                    "--out", engine], check=True, capture_output=True, timeout=60)
    got = _run_query_probe(tmp_path, [submit, "--py-files", engine], [])
    assert got["rows"] == 50
    assert got["engine"].startswith(engine + os.sep)
