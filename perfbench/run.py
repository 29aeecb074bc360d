"""Benchmark of the feature-engineering engine, measured from outside.

    python3 perfbench/run.py --workload extract|queries --seed N \
        --seconds S --trace 0|1

Run from the repository root. One run is one fresh driver process on
local[nproc]: it stages the workload's inputs from the seed, builds the
session, makes a cold first operation and a few untimed warm-up ones
while the JIT compiles, then measured operations for S seconds (one
client, closed loop), checks every output, and prints one JSON line
last: the end-to-end metrics, medians over the measured operations
(--trace 0), or the per-layer metrics of a separate traced run
(--trace 1). A validity record, and in a traced run the spans, are
written under perfbench/.work/records/. Without the engine's files
beside it the command exits with status 2.
"""

import time

T_START = time.monotonic()  # noqa: E402 — set-up time counts from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170  # the run must end within 180 s
PROGRAM = ("feature_engineering_spark/session.py",
           "feature_engineering_spark/plans/checkpoint.py",
           "feature_engineering_spark/plans/driver_queries.py",
           "jobs/extract_features.py")
END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s"}
# CPU-s the rest of the machine may take during a measured op, as a share
# of the op's wall time, before the op is set aside
INTERFERENCE = 0.2


class Context:
    def __init__(self, args, run_id: str, work: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, args.trace
        self.run_id, self.work = run_id, work
        self.spark = None
        self.tracer = None
        self.jvm = None
        self.record: dict = {}


def _env(work: str) -> None:
    """Deployment envelope of the measured process: all cores, Python-side
    temp files inside the checkout, workers that import the engine from
    this checkout with this interpreter. Driver heap and shuffle
    directory stay what get_spark picks."""
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path[:0] = [ROOT, os.path.join(ROOT, "jobs"), HERE]


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _code_hash(paths: list[str]) -> str:
    h = hashlib.md5()
    for rel in paths:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


def _py_files(*dirs: str) -> list[str]:
    out = []
    for d in dirs:
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.relpath(os.path.join(base, f), ROOT)
                    for f in files if f.endswith(".py")]
    return sorted(out)


def _stop_spark(spark, pids: list[int]) -> None:
    """Stop the session, the JVM and its Python workers, and wait until
    every process this run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — escalate below
            proc.kill()
            proc.wait()
    _reap(pids)


def _reap(pids: list[int]) -> None:
    deadline = time.monotonic() + 15
    live = [p for p in pids if p != os.getpid()]
    while live:
        live = [p for p in live if os.path.exists(f"/proc/{p}")
                and _state(p) != "Z"]
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(") ", 1)[1].split()[0]
    except (OSError, IndexError):
        return "Z"


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S}s")


def run(args) -> dict:
    from pyspark import SparkContext
    from tracing import Jvm, RssSampler, Tracer, host_cpu_s, tree_cpu_s, tree_pids
    from workloads import WORKLOADS

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(WORK, "runs", run_id)
    ctx = Context(args, run_id, work)
    _env(work)
    ctx.tracer = Tracer(run_id, args.trace)
    wl = WORKLOADS[args.workload](ctx)
    rec = ctx.record
    rec.update(run_id=run_id, workload=args.workload, seed=args.seed,
               seconds=args.seconds, trace=args.trace, nproc=os.cpu_count(),
               cpus=len(os.sched_getaffinity(0)), load_before=_loadavg())
    steal0 = host_cpu_s()[1]
    if args.trace:
        wl.instrument()
    try:
        from feature_engineering_spark.session import get_spark

        t0 = time.monotonic()
        wl.stage_inputs()
        sources_s = time.monotonic() - t0
        t0 = time.monotonic()
        with ctx.tracer.span("session.get_spark"):
            ctx.spark = get_spark(f"perfbench-{args.workload}")
        get_spark_s = time.monotonic() - t0
        ctx.tracer.attach(ctx.spark)
        ctx.jvm = Jvm(ctx.spark)
        setup_s = time.monotonic() - T_START
        cpu0 = tree_cpu_s()
        with RssSampler(SparkContext._gateway.proc.pid) as rss:
            rss.reset()
            ops = wl.measure()
            rec["peak_rss_mb"] = rss.take()
        rec["measured_cpu_s"] = tree_cpu_s() - cpu0
        wl.check(ops)
        layer = None
        if args.trace:
            layer = _layer_metrics(ctx, wl, ops, get_spark_s, sources_s)
        conf = ctx.spark.sparkContext.getConf()
        rec.update(master=ctx.spark.sparkContext.master,
                   driver_memory=conf.get("spark.driver.memory"),
                   local_dir=conf.get("spark.local.dir"))
        rec["input"] = wl.input_props()
    finally:
        pids = tree_pids()
        if ctx.spark is not None:
            _stop_spark(ctx.spark, pids)
        else:
            _reap(pids)
        shutil.rmtree(work, ignore_errors=True)

    # medians over the measured ops: host interference comes in bursts and
    # only adds time, so the middle op is one that a burst missed. Ops
    # during which the rest of the machine measurably took CPU (other
    # processes, or the hypervisor's steal) for over a fifth of the op's
    # wall time are set aside while the run has a cleaner one.
    timed_ops = [o for o in ops if o.phase == "warm"
                 and (args.trace or not o.traced)]
    clean = [o for o in timed_ops
             if o.steal_s + max(0.0, o.others_cpu_s) <= INTERFERENCE * o.wall_s]
    rec["set_aside"] = len(timed_ops) - len(clean) if clean else 0
    wall = statistics.median(o.wall_s for o in clean or timed_ops)
    docs = wl.rows if args.workload == "extract" else wl.input_rows
    end_to_end = {
        "setup_s": setup_s,
        "wall_s": wall,
        "docs_per_s": docs / wall,
    }
    attempted = sum(o.attempted for o in ops)
    failed = sum(o.failed for o in ops)
    rec.update(
        load_after=_loadavg(), steal_s=host_cpu_s()[1] - steal0,
        boot_id=_boot_id(),
        code_hash=_code_hash(_py_files("feature_engineering_spark")
                             + ["jobs/extract_features.py"]),
        bench_hash=_code_hash(_py_files("perfbench")),
        end_to_end=end_to_end,
        ops=[{"phase": o.phase, "traced": o.traced, "wall_s": o.wall_s,
              "cpu_s": o.cpu_s, "jit_ms": o.jit_ms, "steal_s": o.steal_s,
              "others_cpu_s": o.others_cpu_s,
              "attempted": o.attempted, "failed": o.failed,
              **{k: v for k, v in o.detail.items() if k != "root"}}
             for o in ops],
        attempted=attempted, failed=failed,
        fail_frac=failed / attempted if attempted else 1.0)
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{run_id}.json"), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    if args.trace:
        rec_spans = ctx.tracer.dump()
        with open(os.path.join(records, f"{run_id}.spans.json"), "w") as f:
            json.dump(rec_spans, f, default=str)
    metrics = layer if args.trace else {
        k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def _boot_id() -> str:
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            return f.read().strip()
    except OSError:
        return ""


def _layer_metrics(ctx, wl, ops, get_spark_s: float, sources_s: float) -> dict:
    """Per-layer metrics of the traced measured op; first-pass JIT and
    wall from the cold op; process-tree CPU of the untraced measured op;
    tracing overhead = traced minus untraced measured wall."""
    from workloads import dir_bytes, subtree

    dumped = ctx.tracer.dump()
    spans = {s["id"]: s for s in dumped}
    traced = [o for o in ops if o.phase == "warm" and o.traced]
    untraced = [o for o in ops if o.phase == "warm" and not o.traced]
    op = traced[0]
    top = spans[op.span_id]
    sub = subtree(dumped, op.span_id) + [top]
    cores = len(os.sched_getaffinity(0))
    run_ms = sum(s.get("run_ms", 0) for s in sub)
    first = ("job.first_run_s" if wl.name == "extract"
             else "query.first_pass_s")
    m = {
        "session.get_spark_s": get_spark_s,
        "jvm.jit_ms": top["jit_ms"],
        "jvm.first_pass_jit_ms": spans[ops[0].span_id]["jit_ms"],
        "jvm.gc_ms": top["gc_ms"],
        "sources.gen_s": sources_s,
        "sources.input_mb": dir_bytes(wl.inputs) / 1e6,
        "spark.jobs": sum(s.get("jobs", 0) for s in sub),
        "spark.stages": sum(s.get("stages", 0) for s in sub),
        "spark.tasks": sum(s.get("tasks", 0) for s in sub),
        "spark.shuffle_write_mb": sum(s.get("shuffle_write_b", 0) for s in sub) / 1e6,
        "spark.shuffle_read_mb": sum(s.get("shuffle_read_b", 0) for s in sub) / 1e6,
        "spark.spill_mb": sum(s.get("spill_b", 0) for s in sub) / 1e6,
        "spark.busy_frac": run_ms / (1000.0 * op.wall_s * cores),
        "jvm.peak_rss_mb": ctx.record["peak_rss_mb"]["jvm"],
        "python.peak_rss_mb": ctx.record["peak_rss_mb"]["python"],
        "trace.overhead_s": traced[0].wall_s
        - sum(o.wall_s for o in untraced) / len(untraced),
        "trace.spans": float(len(spans)),
        "process.cpu_s": untraced[0].cpu_s,
        first: ops[0].wall_s,  # the cold op of the process
    }
    m.update(wl.layer_metrics(ctx.tracer, op))
    units = _layer_units()
    unknown = set(m) - set(units)
    if unknown:
        raise KeyError(f"layer metrics missing from BENCHMARK.json: {unknown}")
    # The result line must carry every per_layer metric; those of the
    # other workload's layers read 0 and are named in the record.
    ctx.record["not_applicable"] = sorted(set(units) - set(m))
    return {k: {"value": float(m.get(k, 0.0)), "unit": u} for k, u in units.items()}


def _layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("extract", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in PROGRAM + ("BENCHMARK.json",)
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    result = run(args)
    signal.alarm(0)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
