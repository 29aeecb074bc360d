"""Resumability: killed-after-stage-k rerun loads committed tables, never
recomputes, and the final output + ledger are identical (SURVEY §5.6)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from feature_engineering_spark.plans.checkpoint import (
    IcebergTableIO,
    ParquetTableIO,
    Pipeline,
    TableIO,
    iceberg_available,
    table_exists,
)


def _ledger_rows(p, stage):
    return p.ledger().where(F.col("stage") == stage).agg(
        F.sum("row_count")
    ).first()[0]


def test_stage_commit_and_resume(spark, pages_df, tmp_path):
    root = str(tmp_path / "run")
    calls = {"a": 0, "b": 0}

    def build_a():
        calls["a"] += 1
        return pages_df.select("url", "warc_ts")

    def build_b(a_df):
        calls["b"] += 1
        return a_df.groupBy("url").count()

    p = Pipeline(spark, root)
    a = p.stage("a", build_a, ts_col="warc_ts")
    b = p.stage("b", lambda: build_b(a))
    n_b = b.count()
    assert calls == {"a": 1, "b": 1}
    assert table_exists(os.path.join(root, "a"))
    # rows: observed by the write, equal to the lineage it committed
    assert p.rows("a") == pages_df.count() == _ledger_rows(p, "a")
    assert p.rows("b") == n_b == _ledger_rows(p, "b")

    # resume: fresh Pipeline over the same root — nothing recomputes
    p2 = Pipeline(spark, root)
    a2 = p2.stage("a", build_a, ts_col="warc_ts")
    b2 = p2.stage("b", lambda: build_b(a2))
    assert calls == {"a": 1, "b": 1}
    assert b2.count() == n_b
    assert (p2.rows("a"), p2.rows("b")) == (p.rows("a"), n_b)

    # the metrics record of every stage carries its rows, both times
    with open(os.path.join(root, "_metrics.jsonl")) as f:
        events = [json.loads(line) for line in f]
    assert [(e["stage"], e["status"], e["rows"]) for e in events] == [
        ("a", "committed", p.rows("a")), ("b", "committed", n_b),
        ("a", "skipped_existing", p.rows("a")), ("b", "skipped_existing", n_b),
    ]


def test_stage_commit_runs_one_write_and_one_lineage_pass(spark, pages_df, tmp_path):
    """A commit of a flat plan launches exactly three Spark jobs: the
    write (which also counts the rows), and the lineage's exchange and
    append. No footer job infers the schema it just wrote, and no job
    counts the table again."""
    sc = spark.sparkContext
    p = Pipeline(spark, str(tmp_path / "jobs"))
    group = f"fes-commit-{id(p)}"
    sc.setJobGroup(group, "one stage commit")
    try:
        p.stage("a", lambda: pages_df.select("url", "warc_ts"), ts_col="warc_ts")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
    assert p.rows("a") == pages_df.count()


def test_empty_stage_rows(spark, tmp_path):
    """An empty stage commits, counts 0 (the observation completes with
    no rows to see) and resumes at 0, though its lineage has no rows."""
    root = str(tmp_path / "empty")
    build = lambda: spark.createDataFrame([], "id long, warc_ts timestamp")  # noqa: E731
    p = Pipeline(spark, root)
    assert p.stage("e", build, ts_col="warc_ts").count() == 0
    assert p.rows("e") == 0
    # a plan that only turns out empty at run time, after a shuffle
    gone = lambda: spark.range(100).groupBy("id").count().where("count > 1")  # noqa: E731
    p.stage("g", gone)
    assert p.rows("g") == 0
    p2 = Pipeline(spark, root)
    p2.stage("e", build, ts_col="warc_ts")
    p2.stage("g", gone)
    assert (p2.rows("e"), p2.rows("g")) == (0, 0)


def test_partial_failure_resume(spark, pages_df, tmp_path):
    """Simulate a crash between stage a and b: only a committed; rerun
    recomputes b but loads a."""
    root = str(tmp_path / "run2")
    calls = {"a": 0, "b": 0}

    def build_a():
        calls["a"] += 1
        return pages_df.select("url", "warc_ts")

    p = Pipeline(spark, root)
    p.stage("a", build_a, ts_col="warc_ts")
    assert calls["a"] == 1
    # crash here — b never ran. New process:
    p2 = Pipeline(spark, root)
    a2 = p2.stage("a", build_a, ts_col="warc_ts")

    def build_b():
        calls["b"] += 1
        return a2.groupBy("url").count()

    b = p2.stage("b", build_b)
    assert calls == {"a": 1, "b": 1}
    assert b.count() > 0


class _AppendFailsOnce(ParquetTableIO):
    """Parquet IO whose first ``append`` raises — a job killed after a
    stage's table committed but before its lineage reached the ledger."""

    def __init__(self):
        self.failed = False

    def append(self, spark, df, loc):
        if not self.failed:
            self.failed = True
            raise RuntimeError("killed before the ledger append")
        super().append(spark, df, loc)


def test_resume_appends_lineage_lost_after_commit(spark, pages_df, tmp_path):
    """The resume that skips a committed stage with no ledger rows appends
    its lineage from the committed table: the stage's per-partition
    [rows, checksum] equal a clean run's, and a later resume adds none."""

    def build_a():
        return pages_df.select("url", "warc_ts")

    def run(root, io=None):
        p = Pipeline(spark, root, io=io)
        a = p.stage("a", build_a, ts_col="warc_ts")
        p.stage("b", lambda: a.groupBy("url").count())
        return p

    def lineage(p, stage):
        led = p.ledger().where(f"stage = '{stage}'")
        return sorted(
            tuple(r) for r in led.select("partition_id", "row_count", "checksum").collect()
        )

    killed = str(tmp_path / "killed")
    with pytest.raises(RuntimeError, match="killed"):
        run(killed, io=_AppendFailsOnce())
    assert table_exists(os.path.join(killed, "a"))
    resumed = run(killed)
    clean = run(str(tmp_path / "clean"))
    assert lineage(clean, "a")
    assert lineage(resumed, "a") == lineage(clean, "a")
    assert lineage(resumed, "b") == lineage(clean, "b")
    # the resumed stage's rows come from the lineage it just wrote
    for stage in ("a", "b"):
        assert resumed.rows(stage) == clean.rows(stage) == _ledger_rows(clean, stage)
    again = run(killed)
    assert lineage(again, "a") == lineage(clean, "a")
    assert again.rows("a") == clean.rows("a")


def test_ledger_contents(spark, pages_df, tmp_path):
    root = str(tmp_path / "run3")
    p = Pipeline(spark, root)
    p.stage("pages", lambda: pages_df.repartition(4), ts_col="warc_ts")
    led = p.ledger().toPandas()
    assert set(led.columns) == {
        "stage", "partition_id", "row_count", "checksum", "min_ts", "max_ts"
    }
    assert led["row_count"].sum() == pages_df.count()
    assert (led["stage"] == "pages").all()
    assert led["min_ts"].notna().all()
    # determinism: the same data committed under another partitioning
    # yields the same global checksum (the per-partition checksums are
    # sums mod 2^63-1, so their sum mod 2^63-1 is partitioning-independent)
    p2 = Pipeline(spark, str(tmp_path / "run4"))
    p2.stage("pages", lambda: pages_df.repartition(3), ts_col="warc_ts")
    led2 = p2.ledger().toPandas()
    assert len(led) == 4 and len(led2) == 3
    total = lambda s: sum(int(v) for v in s) % (2**63 - 1)  # noqa: E731
    assert total(led["checksum"]) == total(led2["checksum"])


class _MemoryTableIO(TableIO):
    """Test double standing in for IcebergTableIO: commits whole tables to
    an in-memory dict keyed by 'namespace.table' identifiers (no paths, no
    _SUCCESS files) — proves Pipeline runs entirely through the TableIO
    seam, so a real Iceberg writer slots in without touching Pipeline."""

    def __init__(self):
        self.tables: dict[str, tuple] = {}
        self.calls: list[tuple[str, str]] = []

    def locate(self, root, name):
        return f"{root}.{name.strip('_')}"

    def exists(self, spark, loc):
        self.calls.append(("exists", loc))
        return loc in self.tables

    def write(self, spark, df, loc):
        self.calls.append(("write", loc))
        self.tables[loc] = (df.schema, df.collect())

    def append(self, spark, df, loc):
        self.calls.append(("append", loc))
        schema, rows = self.tables.get(loc, (df.schema, []))
        self.tables[loc] = (schema, rows + df.collect())

    def read(self, spark, loc, schema=None):
        schema, rows = self.tables[loc]
        return spark.createDataFrame(rows, schema)


def test_pipeline_runs_through_tableio_seam(spark, pages_df, tmp_path):
    """Pipeline with a non-filesystem TableIO: stages commit, resume skips
    recompute, and the ledger accrues — with ZERO parquet directories
    created under the root (identifier-based, like an Iceberg catalog)."""
    io = _MemoryTableIO()
    calls = {"a": 0}

    def build_a():
        calls["a"] += 1
        return pages_df.select("url", "warc_ts")

    p = Pipeline(spark, "lake.db", io=io)
    a = p.stage("a", build_a, ts_col="warc_ts")
    n = a.count()
    assert calls["a"] == 1 and n > 0
    assert "lake.db.a" in io.tables and "lake.db.ledger" in io.tables
    assert not os.path.exists("lake.db")  # nothing touched the filesystem
    # the observation completed inside the double's own write
    assert p.rows("a") == n == _ledger_rows(p, "a")

    p2 = Pipeline(spark, "lake.db", io=io)
    a2 = p2.stage("a", build_a, ts_col="warc_ts")
    assert calls["a"] == 1  # resume loaded the committed table
    assert a2.count() == n
    assert p2.ledger().count() > 0
    assert p2.rows("a") == n


def test_iceberg_tableio_guard(spark):
    """Without the iceberg-spark-runtime jar the Iceberg impl must fail
    LOUDLY at construction (no silent parquet fallback); with it, a real
    pipeline round-trips. The sandbox ships no jar, so this exercises the
    guard there and the real path on an Iceberg-enabled cluster."""
    if not iceberg_available(spark):
        with pytest.raises(RuntimeError, match="iceberg"):
            IcebergTableIO(spark)
        return
    io = IcebergTableIO(spark)
    p = Pipeline(spark, "default", io=io)
    out = p.stage("t_fes_iceberg_smoke", lambda: spark.range(5).toDF("id"))
    assert out.count() == 5


def test_parquet_tableio_is_default(spark, pages_df, tmp_path):
    root = str(tmp_path / "runp")
    p = Pipeline(spark, root)
    assert isinstance(p.io, ParquetTableIO)
    p.stage("a", lambda: pages_df.select("url"))
    assert table_exists(os.path.join(root, "a"))


def test_iceberg_locate_reserves_internal_names():
    """A user stage named 'ledger' must NOT alias the internal '_ledger'
    lineage table (pre-fix, strip('_') folded them together and silently
    interleaved lineage rows with stage data). locate() needs no Iceberg
    runtime, so the naming contract is testable in this sandbox."""
    import pytest

    from feature_engineering_spark.plans.checkpoint import IcebergTableIO

    io = object.__new__(IcebergTableIO)  # bypass the runtime-jar guard
    assert io.locate("lake.db", "_ledger") == "lake.db.zz_sys_ledger"
    assert io.locate("lake.db", "ledger") == "lake.db.ledger"
    assert io.locate("lake.db", "features") == "lake.db.features"
    for bad in ("ledger_", "zz_sys_ledger", "zz_sys_x"):
        with pytest.raises(ValueError, match="reserved"):
            io.locate("lake.db", bad)
