"""The session factory. A second SparkContext cannot share the test
JVM, so ``get_spark`` is called in a fresh Python process."""

from __future__ import annotations

import json
import os
import subprocess
import sys

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
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run([sys.executable, "-c", _PROBE], cwd=root, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"partitions": "2", "jobs": []}
