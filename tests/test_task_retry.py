"""Task retries do not change answers: a Python stage whose first task
attempt fails is re-run by Spark, and the query's result equals a clean
run's. Runs in a fresh process, because the session needs ``local[N,F]``
(F task attempts) and the test JVM has a single attempt."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json, os, sys
sys.path[:0] = [{root!r}]
from feature_engineering_spark.functions import cosine_kernel
from feature_engineering_spark.operators import windows
from feature_engineering_spark.plans.driver_queries import QUERIES
from feature_engineering_spark.session import get_spark
from tests.oracle import value_hash

SF = {sf!r}
MARKS = {marks!r}


def fail_first_attempt(make, mark):
    # the built one-argument Python function (a mapInPandas mapper or an
    # applyInPandas group function) raises in the one task that creates
    # ``mark``; every other call, and that task's retry, runs it
    def make_failing(*args, **kwargs):
        inner = make(*args, **kwargs)

        def fn(data):
            try:
                os.close(os.open(mark, os.O_CREAT | os.O_EXCL))
            except FileExistsError:
                return inner(data)
            raise RuntimeError("injected failure of a first task attempt")

        return fn

    return make_failing


windows.make_partition_window_mapper = fail_first_attempt(
    windows.make_partition_window_mapper, MARKS["window_features_35"])
cosine_kernel.bucket_verifier = fail_first_attempt(
    cosine_kernel.bucket_verifier, MARKS["embed_neardup_lsh"])

spark = get_spark("fes-task-retry", master="local[4,2]")
out = {{}}
for name, mark in MARKS.items():
    open(mark, "w").close()  # clean run: no attempt fails
    clean = value_hash(QUERIES[name](spark, SF).toPandas())
    os.remove(mark)
    retried = value_hash(QUERIES[name](spark, SF).toPandas())
    out[name] = {{"clean": clean, "retried": retried,
                 "failed_once": os.path.exists(mark)}}
print(json.dumps(out))
spark.stop()
"""


def test_python_stage_retry_gives_the_clean_result(tmp_path):
    marks = {q: str(tmp_path / f"{q}.failed")
             for q in ("window_features_35", "embed_neardup_lsh")}
    script = tmp_path / "probe.py"
    script.write_text(_PROBE.format(
        root=ROOT, sf=os.path.join(ROOT, "perfbench", "data", "sf0.01"),
        marks=marks))
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(got) == set(marks)
    for name, r in got.items():
        assert r["failed_once"], name
        assert r["retried"] == r["clean"], name
