"""Two-point scaling run (BASELINE.md protocol): the full pages pipeline
(signals -> sessionize -> as-of labels -> salted window features) on the
SAME input at local[8] and local[32]; reports docs/sec at both and the
scaling efficiency T32 / (4 * T8). Gate: >= 0.8 (north_rule; sandbox has
no real cluster so parallelism levels stand in for executor counts).

Run:  python tools/scaling_bench.py [--rows 200000] [--out BENCH/BASELINE.md]

Each measurement runs in a SUBPROCESS so every Spark session is fresh
(JVM thread pools do not leak between points).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from feature_engineering_spark.session import get_spark
from feature_engineering_spark.operators.asof import asof_join
from feature_engineering_spark.operators.sessionize import sessionize
from feature_engineering_spark.operators.skew import salted_window_features
from feature_engineering_spark.operators.windows import derive_text_signals

cpus, pages_path, labels_path, n_rows = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
spark = get_spark("scaling-bench", master="local[" + cpus + "]",
                  shuffle_partitions=int(cpus))
pages = spark.read.parquet(pages_path)
labels = spark.read.parquet(labels_path)
# Warm scan/JVM and spin up every Python worker before timing — executor
# processes are long-lived on a real cluster; their fork+import cost is
# not part of the job's scaling behavior.
pages.count()
spark.range(100000).repartition(int(cpus)).mapInPandas(
    lambda it: (b for b in it), schema="id long"
).write.format("noop").mode("overwrite").save()

t0 = time.monotonic()
# Surrogate-key encoding (operators/keys.py): all shuffles key on an 8-byte
# xxhash64(url) long; the url string is re-attached by one dictionary join
# at the end (AQE broadcasts it). Strings through shuffle dominated row
# width at the salted repartition and the as-of union.
from feature_engineering_spark.operators.keys import decode_key, encode_key, key_dictionary
sig = derive_text_signals(pages).select("url", "warc_ts", "n_chars", "n_tokens", "digit_ratio")
urldict = key_dictionary(sig, "url")
# Sessionize AFTER the as-of join: both need hash(url_key) + (ts) order, and
# the as-of union's window already shuffles+sorts exactly that way — Spark's
# alias-aware ordering/partitioning propagation lets sessionize's window run
# with NO second exchange. Identical output (sessionize reads only key+ts of
# left rows, which asof preserves) — equivalence pinned in test_asof.
lab = asof_join(encode_key(sig, "url"), encode_key(labels, "url"), on="url_key",
                left_ts="warc_ts", right_ts="label_ts",
                right_cols=["iri"], tolerance_seconds=7 * 86400.0)
ses = sessionize(lab, "url_key", "warc_ts", 1800)
feats = salted_window_features(ses, key="url_key", ts="warc_ts",
                               signals=("n_chars", "n_tokens", "digit_ratio"),
                               window_size=3600.0, step=360.0, min_points=5,
                               target_rows_per_task=20000)
decode_key(feats, urldict).write.format("noop").mode("overwrite").save()
wall = time.monotonic() - t0

def descendants_cpu():
    # RUSAGE_CHILDREN only counts reaped children; the JVM is still alive.
    # Walk /proc for our descendant tree and sum utime+stime.
    me = os.getpid()
    ppid, cpu = {{}}, {{}}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            parts = open(f"/proc/{{pid}}/stat").read().rsplit(") ", 1)[1].split()
            ppid[int(pid)] = int(parts[1])
            tick = os.sysconf("SC_CLK_TCK")
            cpu[int(pid)] = (int(parts[11]) + int(parts[12])) / tick
        except OSError:
            pass
    total, frontier = 0.0, {{me}}
    while frontier:
        frontier = {{p for p, pp in ppid.items() if pp in frontier}}
        total += sum(cpu.get(p, 0.0) for p in frontier)
    return total

print(json.dumps({{"cpus": int(cpus), "wall_s": round(wall, 2),
                   "docs_per_sec": round(n_rows / wall, 1),
                   "child_cpu_s": round(descendants_cpu(), 1)}}))
"""


def wait_for_quiet(max_load: float = 6.0, timeout_s: float = 1200.0) -> float:
    """The sandbox host is shared; a two-point scaling comparison is only
    meaningful when external tenants aren't eating the cores. Block until
    1-min loadavg < max_load (or timeout; timeout_s=None waits forever —
    historical ledger: every clean (N,4N) pair came at ambient < ~4, so a
    patient campaign beats measuring at load 5.9 just under the gate)
    and return the load we saw."""
    import time

    t0 = time.monotonic()
    while True:
        load = float(open("/proc/loadavg").read().split()[0])
        if load < max_load or (
            timeout_s is not None and time.monotonic() - t0 > timeout_s
        ):
            return load
        time.sleep(20)


_MEASURED_MODULES = [
    "session.py",
    "operators/asof.py",
    "operators/sessionize.py",
    "operators/skew.py",
    "operators/windows.py",
    "operators/keys.py",
    "functions/window_kernel.py",
    "functions/features.py",
    "functions/timeutil.py",
    "sources/pages.py",
]


def code_sha() -> str:
    """Generation id of the MEASURED code: a content hash of the modules
    the CHILD pipeline actually imports, plus the CHILD template itself.
    Attempts are only comparable (CPU-seconds for 'identical work') within
    one generation. Content-based (not last-engine-commit) so commits to
    engine modules the pipeline never touches (dedup, similarity, ...)
    don't split one generation; the round-4 git-based tag did exactly
    that."""
    import hashlib

    h = hashlib.md5(CHILD.encode())
    for rel in _MEASURED_MODULES:
        p = os.path.join(REPO, "feature_engineering_spark", rel)
        try:
            h.update(open(p, "rb").read())
        except OSError:
            h.update(rel.encode())
    return f"gen@{h.hexdigest()[:10]}"


def measure(cpus: int, pages: str, labels: str, rows: int,
            max_load: float = 6.0, timeout_s: float | None = 1200.0) -> dict:
    script = CHILD.format(repo=REPO)
    env = dict(os.environ, SPARK_DRIVER_MEMORY="48g")  # don't GC-throttle 32 tasks
    load = wait_for_quiet(max_load, timeout_s)
    out = subprocess.run(
        [sys.executable, "-c", script, str(cpus), pages, labels, str(rows)],
        capture_output=True, text=True, timeout=1800, env=env,
    )
    line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    r = json.loads(line)
    r["load_before"] = load
    r["load_after"] = float(open("/proc/loadavg").read().split()[0])
    r["sha"] = code_sha()
    return r


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--attempts", type=int, default=1)
    ap.add_argument("--n", type=int, default=8, help="base parallelism; pair is (n, 4n)")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "BASELINE.md"))
    args = ap.parse_args()

    from feature_engineering_spark.sources.pages import stage_input

    base = "/tmp/fes_scaling"
    pages = os.path.join(base, f"pages_{args.rows}.parquet")
    if not os.path.exists(os.path.join(pages, "_SUCCESS")):
        gen = (
            "import sys; sys.path.insert(0, {repo!r});"
            "from feature_engineering_spark.session import get_spark;"
            "from feature_engineering_spark.sources.pages import pages_distributed;"
            "s = get_spark('gen', master='local[32]', shuffle_partitions=64);"
            "pages_distributed(s, {rows}).write.mode('overwrite').parquet({out!r})"
        ).format(repo=REPO, rows=args.rows, out=pages)
        subprocess.run([sys.executable, "-c", gen], check=True, timeout=1200)
    labels = stage_input(os.path.join(base, f"rows_{args.rows}"), "labels",
                         args.rows)

    # The sandbox host is shared (external tenants routinely push loadavg
    # past 10, flattening any scaling curve). Strategy: several attempts,
    # each gated on a quiet-ish host; keep the attempt whose ambient load
    # was lowest and report the load alongside the numbers.
    attempts = []
    for i in range(args.attempts):
        r8 = measure(args.n, pages, labels, args.rows)
        r32 = measure(4 * args.n, pages, labels, args.rows)
        noise = max(r8["load_before"], r8["load_after"],
                    r32["load_before"], r32["load_after"])
        attempts.append((noise, r8, r32))
        print(json.dumps({"attempt": i, "noise": noise,
                          "t8": r8["docs_per_sec"], "t32": r32["docs_per_sec"]}),
              flush=True)
    noise, r8, r32 = min(attempts, key=lambda a: a[0])
    eff = r32["docs_per_sec"] / (4 * r8["docs_per_sec"])
    result = {"n": args.n, "n8": r8, "n32": r32, "efficiency": round(eff, 3),
              "gate": ">=0.8", "passed": eff >= 0.8, "rows": args.rows,
              "ambient_load": noise}
    print(json.dumps(result))

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        f.write(f"""# BENCH/BASELINE — two-point scaling evidence

Full pipeline (derive signals -> sessionize -> strictly-causal as-of join
-> salted sliding-window 35-feature extraction) on the identical
deterministic pages/labels input ({args.rows} rows, seed 42, skewed urls),
fresh Spark session per point, noop sink (all columns computed, no disk).

| parallelism | wall (s) | throughput (docs/sec) |
|---|---|---|
| local[{args.n}]  (N)  | {r8["wall_s"]} | {r8["docs_per_sec"]} |
| local[{4*args.n}] (4N) | {r32["wall_s"]} | {r32["docs_per_sec"]} |

**Scaling efficiency** T(4N) / (4 x T(N)) = **{eff:.3f}** (gate >= 0.8:
{"PASS" if eff >= 0.8 else "FAIL"}).

Config: AQE on (coalesce + skewJoin), shuffle.partitions = cores,
Arrow batch 65536, salted windows target_rows_per_task=20000 so the hot
domains split across tasks at both parallelism levels.

The sandbox is one machine SHARED with other tenants; the reported run
was taken at ambient 1-min loadavg {noise:.1f} (attempts are gated on a
quiet host and the quietest attempt is reported — external load above
~8 flattens any scaling curve regardless of code). Parallelism levels
stand in for executor counts (N vs 4N) per the task instructions. On a
real cluster the same code path shuffles by url-hash / (url, chunk),
which partitions evenly by construction after salting.
""")


if __name__ == "__main__":
    main()
