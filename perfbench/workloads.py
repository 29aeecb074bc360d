"""The two benchmark workloads. Each stages its inputs from the seed,
runs a cold first operation, untimed warm-up operations and measured
ones in a closed loop (one client, the next operation starts when the
previous one returns), and checks every output after the timers stop. Why these two, and what
each is expected to move, is in WORKLOADS.json."""

from __future__ import annotations

import hashlib
import json
import os
import time

from tracing import host_cpu_s, patch, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")

EXTRACT_ROWS = 30_000
# warm jobs between the cold one and the measured ones: none. The first
# warm job still spends ~15 s compiling (later ones 8-12 s) and runs ~15%
# slower, so it is the slowest of the three measured and the median is
# the next; a warm-up job would add ~10 s to every run, which the
# benchmark's total time budget does not allow
EXTRACT_WARMUP = 0
# 50 rows per url (the generator's default is 200): more keys per shuffle
# partition, so how a seed's urls hash across the cores moves the wall
# time less
EXTRACT_URLS = EXTRACT_ROWS // 50
# the job's own defaults (jobs/extract_features.py main)
WINDOW_S, STEP_S, MIN_POINTS = 3600.0, 360.0, 5
EXTRACT_STAGES = ("pages", "signals", "labeled", "features")
EXTRACT_OPERATORS = ("asof_join", "sessionize", "salted_window_features",
                     "derive_text_signals", "key_dictionary",
                     "verify_injective", "encode_key", "decode_key")

# queries: a byte-identical copy of the sf0.01 driver fixture (seed 42,
# one parquet row group per table) that the registry's DuckDB oracles are
# written against; the seed does not vary it
QUERIES_SF = 0.01
SF_DIR = os.path.join(HERE, "data", "sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
QUERY_LIST = ("asof_join_events", "window_features_35", "embed_neardup_lsh")
# warm passes before the measured ones: a pass's JIT time falls from ~8 s
# to ~2 s over the first six warm passes, and the pass time from ~5.5 s to
# ~4 s with it; the first is the steepest part
QUERIES_WARMUP = 1
# runs only in the traced run, for the operators.graph layer
GRAPH_PROBE = "dedup_clusters"


class Op:
    """One timed operation (a job run or a query pass)."""

    def __init__(self, phase: str, traced: bool):
        self.phase, self.traced = phase, traced
        self.wall_s = self.cpu_s = self.steal_s = self.others_cpu_s = 0.0
        self.jit_ms = 0.0
        self.attempted = self.failed = 0
        self.span_id: int | None = None
        self.detail: dict = {}


# measured ops of a run at least, so that the median is one of three
MIN_MEASURED = 3


def closed_loop(ctx, run_op, warmup: int) -> list[Op]:
    """One client, each op starting when the last returns: a cold op and
    ``warmup`` more, untimed, while the JIT compiles the code the ops run
    (an op's JIT time, and its wall time with it, falls steeply over the
    first ops), then measured ops for ``ctx.seconds`` and at least
    ``MIN_MEASURED`` of them; ``wall_s`` is their median. A traced run
    instead makes, after the warm-up, two measured ops, traced then
    untraced; their difference is the tracing overhead."""
    ops = [run_op(Op("cold", ctx.trace))]
    ops += [run_op(Op("warmup", False)) for _ in range(warmup)]
    if ctx.trace:
        return ops + [run_op(Op("warm", t)) for t in (True, False)]
    t0, n = time.monotonic(), 0
    while n < MIN_MEASURED or time.monotonic() - t0 < ctx.seconds:
        ops.append(run_op(Op("warm", False)))
        n += 1
    return ops


def timed(ctx, op: Op, name: str, fn):
    """Run ``fn`` as ``op``, timing wall, process-tree CPU and JIT time, and
    what the rest of the machine took meanwhile."""
    ctx.tracer.enabled = op.traced
    jit0 = ctx.jvm.times_ms()[0]
    (busy0, steal0), cpu0 = host_cpu_s(), tree_cpu_s()
    t0 = time.monotonic()
    with ctx.tracer.span(name, phase=op.phase) as rec:
        out = fn()
    op.wall_s = time.monotonic() - t0
    op.cpu_s = tree_cpu_s() - cpu0
    busy, steal = host_cpu_s()
    op.steal_s, op.others_cpu_s = steal - steal0, busy - busy0 - op.cpu_s
    op.jit_ms = ctx.jvm.times_ms()[0] - jit0
    op.span_id = rec["id"] if rec else None
    ctx.tracer.enabled = ctx.trace
    return out


def _load_expected() -> dict:
    try:
        with open(EXPECTED) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


# ---------------------------------------------------------------- extract

class Extract:
    """The extract job run again and again in one driver, each time over a
    fresh output root: ``wall_s`` is the median warm job, and the cold
    first job of the process is ``job.first_run_s`` of the traced run."""

    name = "extract"

    def __init__(self, ctx):
        self.ctx = ctx
        self.rows = EXTRACT_ROWS
        self.inputs = os.path.join(ctx.work, "inputs")
        self.ops_root = os.path.join(ctx.work, "ops")

    def input_key(self) -> str:
        """Key of perfbench/expected.json for this input size and core
        count (the features stage's float sums, and so its checksum,
        follow the partitioning, which follows the cores)."""
        cores = len(os.sched_getaffinity(0))
        return f"rows={self.rows},urls={EXTRACT_URLS},cores={cores}"

    def input_props(self) -> dict:
        return {"rows": self.rows, "urls": EXTRACT_URLS,
                "hot_domain_share": 0.6, "seed": self.ctx.seed,
                "window_s": WINDOW_S, "step_s": STEP_S,
                "min_points": MIN_POINTS}

    def stage_inputs(self) -> None:
        """Pages and labels from the engine's generators, written by its
        own parquet writer (the layout the job writes when it generates)."""
        from feature_engineering_spark.sources import pages

        tr, seed = self.ctx.tracer, self.ctx.seed
        with tr.span("sources.generate_pages"):
            pdf = pages.generate_pages(self.rows, seed, n_urls=EXTRACT_URLS)
        with tr.span("sources.write_pages"):
            pages._write_parquet(pdf, os.path.join(self.inputs, "pages.parquet"))
        with tr.span("sources.generate_labels"):
            pdf = pages.generate_labels(self.rows, seed, n_urls=EXTRACT_URLS)
        with tr.span("sources.write_labels"):
            pages._write_parquet(pdf, os.path.join(self.inputs, "labels.parquet"))

    def instrument(self) -> None:
        import extract_features as job

        from feature_engineering_spark.plans import checkpoint

        tr = self.ctx.tracer
        patch(tr, checkpoint.Pipeline, "stage",
              lambda self, name, *a, **k: f"checkpoint.stage.{name}")
        patch(tr, checkpoint.ParquetTableIO, "write", "checkpoint.write")
        patch(tr, checkpoint.ParquetTableIO, "append", "checkpoint.append")
        for fn in EXTRACT_OPERATORS:  # the names the job module looks up
            patch(tr, job, fn, f"operators.{fn}")

    def measure(self) -> list[Op]:
        import extract_features as job

        spark = self.ctx.spark

        count = iter(range(1_000_000))

        def run_op(op: Op) -> Op:
            root = os.path.join(self.ops_root, f"op{next(count)}")
            os.makedirs(os.path.join(root, "_input"))
            for f in ("pages.parquet", "labels.parquet"):
                os.link(os.path.join(self.inputs, f),
                        os.path.join(root, "_input", f))
            op.detail["root"] = root
            op.attempted = 1
            try:
                op.detail["stats"] = timed(
                    self.ctx, op, "job.extract_features.run",
                    lambda: job.run(spark, None, root, self.rows, WINDOW_S,
                                    STEP_S, MIN_POINTS))
            except Exception as exc:  # noqa: BLE001 — a failed op is counted
                op.failed = 1
                op.detail["error"] = repr(exc)
            return op

        return closed_loop(self.ctx, run_op, EXTRACT_WARMUP)

    def check(self, ops: list[Op]) -> None:
        """Each job against its stats dict and its `_ledger` (rows and
        checksum per stage): equal across the run's jobs, equal to the
        values recorded for this seed when there are any, and the first
        job's labeled stage against a pandas as-of/sessionize oracle."""
        spark = self.ctx.spark
        oracle = self._oracle()
        expected = (_load_expected().get("extract", {})
                    .get(self.input_key(), {}).get(str(self.ctx.seed)))
        ledgers = []
        for op in ops:
            if op.failed:
                continue
            errors = []
            try:
                ledger = _ledger(spark, op.detail["root"])
                stats = op.detail["stats"]
                want_rows = {"pages": self.rows, "signals": self.rows,
                             "labeled": self.rows,
                             "features": stats["feature_rows"]}
                for st, n in want_rows.items():
                    if ledger.get(st, [None])[0] != n:
                        errors.append(f"ledger {st} rows {ledger.get(st)} != {n}")
                if stats["pages"] != self.rows or stats["feature_rows"] <= 0:
                    errors.append(f"stats {stats}")
                if expected is not None and ledger != expected:
                    errors.append(f"ledger {ledger} != recorded {expected}")
                if ledgers and ledger != ledgers[0]:
                    errors.append("ledger differs from the run's first job")
                if not ledgers:  # later jobs match its checksums
                    got = _labeled_summary(spark, op.detail["root"])
                    if not _close(got, oracle):
                        errors.append(f"labeled {got} != oracle {oracle}")
                ledgers.append(ledger)
            except Exception as exc:  # noqa: BLE001
                errors.append(repr(exc))
            if errors:
                op.failed = 1
                op.detail["check"] = errors
        self.ctx.record["ledger"] = ledgers[0] if ledgers else None

    def _oracle(self) -> dict:
        """Matched labels, their iri sum and the session count, computed
        with pandas from the staged inputs."""
        import pandas as pd

        pages = pd.read_parquet(os.path.join(self.inputs, "pages.parquet"),
                                columns=["url", "warc_ts"])
        labels = pd.read_parquet(os.path.join(self.inputs, "labels.parquet"),
                                 columns=["url", "label_ts", "iri"])
        pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
        labels["label_ts"] = labels["label_ts"].astype("datetime64[us]")
        m = pd.merge_asof(
            pages.sort_values("warc_ts"), labels.sort_values("label_ts"),
            left_on="warc_ts", right_on="label_ts", by="url",
            direction="backward", tolerance=pd.Timedelta(days=7))
        p = pages.sort_values(["url", "warc_ts"])
        gap = p.groupby("url")["warc_ts"].diff().dt.total_seconds()
        sessions = int((gap.isna() | (gap > 1800)).sum())
        return {"matched": int(m["iri"].notna().sum()),
                "iri_sum": float(m["iri"].sum()), "sessions": sessions}

    def layer_metrics(self, tracer, op: Op) -> dict:
        spans = tracer.dump()
        sub = subtree(spans, op.span_id)
        stages = [s for s in sub if s["name"].startswith("checkpoint.stage.")]
        out = {f"checkpoint.{st}_s": _sum(stages, f"checkpoint.stage.{st}")
               for st in EXTRACT_STAGES}
        out["checkpoint.write_s"] = _sum(sub, "checkpoint.write")
        overhead = 0.0
        for s in stages:
            kids = [k for k in sub if k["parent"] == s["id"]]
            overhead += s["dur_s"] - sum(
                k["dur_s"] for k in kids if k["name"] == "checkpoint.write"
                or k["name"].startswith("operators."))
        out["checkpoint.overhead_s"] = overhead
        top = [s for s in stages if s["parent"] == op.span_id]
        out["checkpoint.outside_s"] = op.wall_s - sum(s["dur_s"] for s in top)
        out["checkpoint.bytes_mb"] = dir_bytes(op.detail["root"],
                                               skip="_input") / 1e6
        for fn in ("salted_window_features", "verify_injective"):
            out[f"operators.{fn}_s"] = _sum(sub, f"operators.{fn}")
        return out



def _ledger(spark, root: str) -> dict:
    """stage -> [rows, checksum]; the partition checksums (each a sum of
    row hashes mod 2^63-1) add up mod 2^63-1 to a layout-free value."""
    rows = spark.read.parquet(os.path.join(root, "_ledger")).select(
        "stage", "row_count", "checksum").collect()
    out: dict = {}
    for r in rows:
        n, c = out.get(r["stage"], [0, 0])
        out[r["stage"]] = [n + r["row_count"], (c + r["checksum"]) % (2**63 - 1)]
    return out


def _labeled_summary(spark, root: str) -> dict:
    from pyspark.sql import functions as F

    lab = spark.read.parquet(os.path.join(root, "labeled"))
    r = lab.agg(F.count("iri").alias("m"), F.sum("iri").alias("s")).first()
    sessions = lab.groupBy("url_key").agg(
        (F.max("session_id") + 1).alias("n")).agg(F.sum("n")).first()[0]
    return {"matched": int(r["m"]), "iri_sum": float(r["s"] or 0.0),
            "sessions": int(sessions)}


def _close(got: dict, want: dict) -> bool:
    return (got["matched"] == want["matched"]
            and got["sessions"] == want["sessions"]
            and abs(got["iri_sum"] - want["iri_sum"])
            <= 1e-9 * max(1.0, abs(want["iri_sum"])))


def dir_bytes(root: str, skip: str | None = None) -> int:
    """Bytes of the files under ``root``, leaving out directories named
    ``skip`` (a job's staged ``_input``)."""
    total = 0
    for base, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d != skip]
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


# ---------------------------------------------------------------- queries

class Queries:
    """One long-lived session: ``wall_s`` is a warm pass over the query
    list, ``query.first_pass_s`` (traced run) the cold one."""

    name = "queries"

    def __init__(self, ctx):
        self.ctx = ctx
        self.inputs = SF_DIR
        self.table_rows: dict[str, int] = {}
        self.built: dict = {}  # query -> its DataFrame from the last pass
        self.results: dict = {}  # query -> result collected for the check

    def input_props(self) -> dict:
        return {"sf": QUERIES_SF, "seed": self.ctx.seed,
                "rows": self.table_rows, "queries": list(QUERY_LIST),
                "layout": "one parquet row group per table"}

    def stage_inputs(self) -> None:
        import pyarrow.parquet as pq

        with self.ctx.tracer.span("sources.read_sf_metadata"):
            self.table_rows = {
                t: pq.ParquetFile(os.path.join(self.inputs, f"{t}.parquet"))
                .metadata.num_rows for t in TABLES}

    def instrument(self) -> None:
        from feature_engineering_spark.operators import graph

        patch(self.ctx.tracer, graph, "connected_components",
              "operators.connected_components")

    def measure(self) -> list[Op]:
        """Every pass, cold and warm, builds each query and runs it to the
        noop sink, as bench.py does; results are collected for the check
        afterwards, outside every timer."""
        from feature_engineering_spark.plans.driver_queries import QUERIES

        spark, tr = self.ctx.spark, self.ctx.tracer

        def execute(q: str) -> list[float]:
            t0 = time.monotonic()
            with tr.span(f"query.{q}.build"):
                df = self.built[q] = QUERIES[q](spark, self.inputs)
            t1 = time.monotonic()
            with tr.span(f"query.{q}.run"):
                df.write.format("noop").mode("overwrite").save()
            return [t1 - t0, time.monotonic() - t1]

        def one_pass(names) -> dict:
            times = {}
            for q in names:
                try:
                    times[q] = execute(q)
                except Exception as exc:  # noqa: BLE001 — counted as failed
                    times[q] = repr(exc)
            return times

        def run_op(op: Op) -> Op:
            op.detail["queries"] = timed(self.ctx, op, "queries.pass",
                                         lambda: one_pass(QUERY_LIST))
            op.attempted = len(QUERY_LIST)
            return op

        ops = closed_loop(self.ctx, run_op, QUERIES_WARMUP)
        if self.ctx.trace:
            op = Op("probe", True)
            op.detail["queries"] = timed(self.ctx, op, f"probe.{GRAPH_PROBE}",
                                         lambda: one_pass([GRAPH_PROBE]))
            op.attempted = 1
            ops.append(op)
        return ops

    def _collect(self) -> None:
        """Each query's result from its last build, untraced and untimed
        (results are at most a few thousand rows)."""
        enabled, self.ctx.tracer.enabled = self.ctx.tracer.enabled, False
        try:
            for q, df in self.built.items():
                try:
                    self.results[q] = df.toPandas()
                except Exception:  # noqa: BLE001 — fails the query below
                    pass
        finally:
            self.ctx.tracer.enabled = enabled

    def check(self, ops: list[Op]) -> None:
        """Every result against its oracle SQL in DuckDB with driver_sim's
        strict value hash. A query that raised, or whose result fails the
        check, fails each of its executions."""
        import duckdb

        from feature_engineering_spark.plans.driver_queries import ORACLE_SQL

        self._collect()
        bad = {}
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.inputs}/{t}.parquet'")
            for q, got in self.results.items():
                exp = con.execute(ORACLE_SQL[q]).fetch_df()
                if not (len(got) == len(exp) > 0
                        and sorted(got.columns) == sorted(exp.columns)
                        and value_hash(got) == value_hash(exp)):
                    bad[q] = f"rows {len(got)} vs oracle {len(exp)}"
        finally:
            con.close()
        for op in ops:
            op.failed = sum(q in bad or isinstance(v, str) or q not in self.results
                            for q, v in op.detail["queries"].items())
        self.input_rows = sum(self._input_rows(self.built[q])
                              for q in QUERY_LIST if q in self.built)
        self.ctx.record["check_failures"] = bad

    def _input_rows(self, df) -> int:
        """Rows of the fixture tables the query scans."""
        files = {os.path.basename(f.rstrip("/")) for f in df.inputFiles()}
        return sum(n for t, n in self.table_rows.items()
                   if f"{t}.parquet" in files)

    def layer_metrics(self, tracer, op: Op) -> dict:
        spans = tracer.dump()
        sub = subtree(spans, op.span_id)
        out = {}
        for q in QUERY_LIST:
            out[f"query.{q}.build_s"] = _sum(sub, f"query.{q}.build")
            out[f"query.{q}.run_s"] = _sum(sub, f"query.{q}.run")
        out["operators.connected_components_s"] = _sum(
            spans, "operators.connected_components")
        cc = [s for s in spans if s["name"] == "operators.connected_components"]
        out["operators.connected_components_jobs"] = float(sum(
            s.get("jobs", 0) + sum(k.get("jobs", 0) for k in subtree(spans, s["id"]))
            for s in cc))
        return out


def value_hash(pdf) -> str:
    """The strict comparator of tools/driver_sim.py (which runs on import,
    so it is repeated here): columns sorted, floats rounded to 6 places,
    every value as text, rows sorted, sha256."""
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
        pdf[c] = pdf[c].astype(str)
    lines = sorted("|".join(r) for r in pdf.itertuples(index=False))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


# ---------------------------------------------------------------- shared

def subtree(spans: list[dict], sid: int | None) -> list[dict]:
    """Every span below ``sid``."""
    out, frontier = [], {sid}
    while frontier:
        kids = [s for s in spans if s["parent"] in frontier]
        out.extend(kids)
        frontier = {s["id"] for s in kids}
    return out


def _sum(spans: list[dict], name: str) -> float:
    """Total duration of the spans called ``name``. A layer metric of the
    workload with no such span is an error, not a zero: the patch no
    longer matches the name the program calls."""
    durs = [s["dur_s"] for s in spans if s["name"] == name]
    if not durs:
        raise LookupError(f"no span {name!r} in the traced operation")
    return sum(durs)


WORKLOADS = {"extract": Extract, "queries": Queries}
