"""Round-6 measurement harness (guide §1): per-query noop-sink timing with
repeats + plan capture, SEPARATE from the frozen bench.py.

Usage:
    python bench_extra.py --sf-dir /root/testdata/sf1.0 \
        --queries minhash_lsh_dedup,sliding_window_agg --repeats 3
    python bench_extra.py --explain-dir plans/r06 --suffix before

Prints one JSON line: {"sf_dir": ..., "load": [...], "queries": {name:
[sec, ...]}}. --explain-dir writes <query>_<suffix>.txt with
explain("formatted") for each selected query (no execution; default:
every registry query), normalized by ``_normalize_plan`` so dumps of two
builds diff only where the plans differ.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402
from feature_engineering_spark.session import get_spark  # noqa: E402


def _normalize_plan(plan: str) -> str:
    """Strip the ids that differ between two builds of the same plan:
    expression ids (``#12``, ``#12L``), lambda-variable suffixes
    (``lambda x_7``) and plan ids (``plan_id=1108``)."""
    plan = re.sub(r"#\d+L?", "", plan)
    plan = re.sub(r"(lambda \w+?)_\d+", r"\1", plan)
    return re.sub(r"plan_id=\d+", "plan_id=", plan)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"))
    ap.add_argument("--queries", default=None,
                    help="comma list; default = bench.py headline set "
                    "(timing) or every registry query (--explain-dir)")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--explain-dir", default=None,
                    help="write explain('formatted') per query, skip timing")
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    load = tuple(float(x) for x in open("/proc/loadavg").read().split()[:3])
    spark = get_spark("fes-bench-extra")

    from feature_engineering_spark.plans.driver_queries import QUERIES

    if args.queries:
        names = args.queries.split(",")
    else:
        names = list(QUERIES) if args.explain_dir else HEADLINE
    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
        for name in names:
            df = QUERIES[name](spark, args.sf_dir)
            path = os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(_normalize_plan(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")))
            print(f"wrote {path}", file=sys.stderr)
        return

    # Warmup identical in spirit to bench.py: python workers + scans JITed.
    spark.range(10000).repartition(32).mapInPandas(
        lambda it: (b for b in it), schema="id long"
    ).write.format("noop").mode("overwrite").save()
    for t in ["events", "orders", "customer", "lineitem", "documents"]:
        p = f"{args.sf_dir}/{t}.parquet"
        if os.path.exists(p):
            spark.read.parquet(p).count()

    timings: dict[str, list[float]] = {n: [] for n in names}
    for r in range(args.repeats):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}:{r}")
            df = QUERIES[name](spark, args.sf_dir)
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            timings[name].append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(None)

    print(json.dumps({
        "sf_dir": args.sf_dir, "load": list(load),
        "queries": timings,
        "load_after": [float(x) for x in
                       open("/proc/loadavg").read().split()[:3]],
    }))


if __name__ == "__main__":
    main()
