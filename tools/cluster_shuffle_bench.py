"""Real-shuffle-path measurement (round-6, verdict task #1): run the
engine's three load-bearing shuffle shapes under plain ``local[8]`` (the
in-process shuffle bypass every bench number so far used) and under
``local-cluster[2,4,M]`` (2 separate executor JVMs x 4 cores — real
serde, real Netty block fetches, real cross-JVM exchange), SAME input,
and report wall seconds plus actual shuffle read/write bytes per
workload from the monitoring REST API.

Workloads (the exchanges the 100x-scale story leans on):
- ``asof``: the union one-shuffle as-of join on events (operators/asof
  — ONE hash exchange carrying |L|+|R| tagged rows, then a window).
- ``windows``: the window-feature kernel (hash exchange by key, sort,
  mapInPandas — the Python-boundary + exchange composition).
- ``minhash``: the LSH signature+banding+candidate pipeline (explode ->
  wide aggregate exchange -> band-bucket exchange -> self-join).

Run (each master in its own subprocess-fresh session):
    python tools/cluster_shuffle_bench.py [--sf-dir /root/testdata/sf1.0]
        [--masters "local[8];local-cluster[2,4,4096]"] [--repeats 2]

Prints one JSON line per (master, workload, repeat) and a summary.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time, urllib.request
sys.path.insert(0, {repo!r})
master, sf_dir, workload = sys.argv[1], sys.argv[2], sys.argv[3]
from pyspark.sql import functions as F
from feature_engineering_spark.session import get_spark

# the REST API is the metrics source
extra = {{"spark.ui.enabled": "true", "spark.ui.port": "4049"}}
if master.startswith("local-cluster"):
    extra["spark.executor.memory"] = "3g"
spark = get_spark(f"csb-{{workload}}", master, shuffle_partitions=8,
                  extra_confs=extra)
spark.sparkContext.setLogLevel("ERROR")

ev = spark.read.parquet(f"{{sf_dir}}/events.parquet")
ev.count()  # warm FS + JIT the scan

def build():
    if workload == "asof":
        from feature_engineering_spark.operators.asof import asof_join
        clicks = ev.where(F.col("event_type") == "click")
        purchases = ev.where(F.col("event_type") == "purchase")
        return asof_join(clicks, purchases, on="user_id", left_ts="ts",
                         right_cols=["value"])
    if workload == "windows":
        from feature_engineering_spark.operators.windows import (
            sliding_window_features,
        )
        return sliding_window_features(
            ev, key="user_id", ts="ts", signals=("value",),
            window_size=345600.0, step=86400.0, min_points=5,
            order_tiebreak="event_id",
        )
    if workload == "minhash":
        from feature_engineering_spark.operators.dedup import (
            minhash_signatures, _band_signature, _candidates_from_banded,
        )
        docs = spark.read.parquet(f"{{sf_dir}}/documents.parquet")
        docs = docs.repartition(8)
        sig = minhash_signatures(docs, text="text", id_col="doc_id")
        return _candidates_from_banded(_band_signature(sig, 8, 4), 64)
    raise ValueError(workload)

def shuffle_totals():
    app = spark.sparkContext.applicationId
    url = f"http://localhost:4049/api/v1/applications/{{app}}/stages?status=complete"
    stages = json.load(urllib.request.urlopen(url))
    return (sum(s.get("shuffleWriteBytes", 0) for s in stages),
            sum(s.get("shuffleReadBytes", 0) for s in stages),
            sum(s.get("executorRunTime", 0) for s in stages))

w0, r0, c0 = shuffle_totals()
df = build()
t0 = time.monotonic()
df.write.format("noop").mode("overwrite").save()
wall = time.monotonic() - t0
w1, r1, c1 = shuffle_totals()
print(json.dumps({{
    "master": master, "workload": workload, "wall_s": round(wall, 3),
    "shuffle_write_mb": round((w1 - w0) / 1e6, 2),
    "shuffle_read_mb": round((r1 - r0) / 1e6, 2),
    "executor_run_s": round((c1 - c0) / 1e3, 1),
}}))
spark.stop()
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf1.0")
    ap.add_argument("--masters", help="separate with ; (master URLs contain commas)",
                    default="local[8];local-cluster[2,4,4096]")
    ap.add_argument("--workloads", default="asof,windows,minhash")
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()

    child = CHILD.format(repo=REPO)
    results = []
    for rep in range(args.repeats):
        for master in args.masters.split(";"):
            for wl in args.workloads.split(","):
                load = open("/proc/loadavg").read().split()[0]
                p = subprocess.run(
                    [sys.executable, "-c", child, master, args.sf_dir, wl],
                    capture_output=True, text=True, timeout=900,
                )
                line = [l for l in p.stdout.splitlines()
                        if l.startswith("{")]
                if not line:
                    print(json.dumps({"master": master, "workload": wl,
                                      "error": p.stderr[-400:]}))
                    continue
                rec = json.loads(line[-1])
                rec["rep"], rec["load_before"] = rep, float(load)
                results.append(rec)
                print(json.dumps(rec), flush=True)
    # summary: per (workload, master) min wall (min = least-contended run)
    summary: dict = {}
    for r in results:
        k = (r["workload"], r["master"])
        if k not in summary or r["wall_s"] < summary[k]["wall_s"]:
            summary[k] = r
    print(json.dumps({
        "summary": [
            {"workload": wl, "master": m, "wall_s": v["wall_s"],
             "shuffle_write_mb": v["shuffle_write_mb"],
             "shuffle_read_mb": v["shuffle_read_mb"]}
            for (wl, m), v in sorted(summary.items())
        ]
    }))


if __name__ == "__main__":
    main()
