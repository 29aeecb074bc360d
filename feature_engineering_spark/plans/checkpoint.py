"""Resumable stage execution with a lineage/metrics ledger (SURVEY.md S5,
§4 "Materialization").

The reference caches every expensive stage as a pickle and re-loads it if
the file exists (/root/reference/utils/analysis.py:160-163, 287-296;
get_features.py:47-48). This module is that semantics made transactional
for a Spark pipeline:

- a **stage** = (name, fn: DataFrame plan) writing one table through a
  ``TableIO`` implementation — ``ParquetTableIO`` (the sandbox default:
  path + _SUCCESS sentinel) or ``IcebergTableIO`` (catalog identifiers,
  snapshot commits; requires the iceberg-spark-runtime jar, which this
  sandbox does not ship — the implementation is import-guarded and its
  Pipeline integration is pinned by a test double);
- re-running a pipeline skips stages whose output table already committed
  (load-if-exists / snapshot-exists), so a killed job resumes at the
  first missing stage;
- every commit appends one **ledger** row per partition: stage, partition
  id, row count, min/max event time, a value checksum — the north_rule's
  "per-partition lineage rows ... metrics emitted to a ledger table".

A commit is one write plus one lineage pass, and nothing else: the plan
carries an ``Observation`` that counts its rows inside the write job
(``Pipeline.rows``), and the table is read back with the schema just
written, so no footer job infers it again. The ledger's per-partition
rows come from that read-back, so they describe the committed table.

The ledger is itself a table through the same TableIO; checksums are
order-insensitive (sum of per-row xxhash-style int64 hashes) so they are
stable across shuffle nondeterminism.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _success(path: str) -> str:
    return os.path.join(path, "_SUCCESS")


def table_exists(path: str) -> bool:
    return os.path.exists(_success(path))


class TableIO:
    """Table-format seam: how a pipeline stage names, commits, tests and
    re-reads one table. Implementations must make ``write`` atomic-enough
    that ``exists`` only turns true once the table is fully committed
    (Parquet: the _SUCCESS sentinel; Iceberg: the snapshot commit)."""

    def locate(self, root: str, name: str) -> str:
        """Map (pipeline root, stage name) to this format's table locator
        (a filesystem path, a catalog identifier, ...)."""
        raise NotImplementedError

    def prepare_root(self, root: str) -> None:
        """One-time setup for a pipeline root (default: nothing)."""

    def exists(self, spark: SparkSession, loc: str) -> bool:
        raise NotImplementedError

    def write(self, spark: SparkSession, df: DataFrame, loc: str) -> None:
        """Commit ``df`` as the table's new contents (overwrite). Must
        execute ``df`` itself, once: it carries the ``Observation`` that
        counts the stage's rows, which completes only when ``df`` runs."""
        raise NotImplementedError

    def append(self, spark: SparkSession, df: DataFrame, loc: str) -> None:
        raise NotImplementedError

    def read(
        self, spark: SparkSession, loc: str, schema: StructType | None = None
    ) -> DataFrame:
        """The committed table. ``schema``, when given, is the schema the
        table was just written with; a format may use it instead of
        reading it back from storage, or ignore it."""
        raise NotImplementedError

    def metrics_sink(self, root: str) -> str | None:
        """Driver-local jsonl path for run metrics, or None to skip."""
        return None


class ParquetTableIO(TableIO):
    """Sandbox default: one Parquet directory per stage under ``root``;
    committed == Spark's _SUCCESS sentinel exists."""

    def locate(self, root: str, name: str) -> str:
        return os.path.join(root, name)

    def prepare_root(self, root: str) -> None:
        os.makedirs(root, exist_ok=True)

    def exists(self, spark: SparkSession, loc: str) -> bool:
        return table_exists(loc)

    def write(self, spark: SparkSession, df: DataFrame, loc: str) -> None:
        df.write.mode("overwrite").parquet(loc)

    def append(self, spark: SparkSession, df: DataFrame, loc: str) -> None:
        df.write.mode("append").parquet(loc)

    def read(
        self, spark: SparkSession, loc: str, schema: StructType | None = None
    ) -> DataFrame:
        # without a schema, Spark infers it from the footers in a job
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(loc)

    def metrics_sink(self, root: str) -> str | None:
        return os.path.join(root, "_metrics.jsonl")


def iceberg_available(spark: SparkSession) -> bool:
    """True when the iceberg-spark-runtime jar is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 — Py4J raises several wrapper types
        return False


class IcebergTableIO(TableIO):
    """Iceberg-backed stages: ``root`` is a catalog namespace (e.g.
    ``lake.db``), each stage one table in it; committed == the table has a
    snapshot. Requires a configured Iceberg catalog + runtime jar
    (``iceberg_available``) — construction fails loudly without it so a
    misconfigured cluster can't silently fall back to a weaker format."""

    def __init__(self, spark: SparkSession):
        if not iceberg_available(spark):
            raise RuntimeError(
                "IcebergTableIO needs the iceberg-spark-runtime jar and a "
                "configured catalog (spark.sql.catalog.<name>=...)"
            )

    _SYS_PREFIX = "zz_sys_"  # reserved namespace for internal tables

    def locate(self, root: str, name: str) -> str:
        # Internal tables (leading underscore, e.g. the '_ledger') map into
        # a reserved prefix and user stage names may not enter it — so a
        # user stage named 'ledger' can NEVER alias the lineage table
        # (pre-fix, strip('_') folded '_ledger' and 'ledger' together and
        # silently interleaved lineage rows with stage data).
        # MIGRATION NOTE: catalogs committed under the pre-fix layout hold
        # their lineage at '<root>.ledger'; this release reads only
        # '<root>.zz_sys_ledger', so such a deployment resumes with an
        # empty ledger (stages re-run, a fresh lineage table is appended).
        # Rename the legacy table to zz_sys_ledger before upgrading.
        if name.startswith("_"):
            return f"{root}.{self._SYS_PREFIX}{name.strip('_')}"
        if name.strip("_") != name or name.startswith(self._SYS_PREFIX):
            raise ValueError(
                f"stage name {name!r} is reserved: leading/trailing "
                f"underscores and the {self._SYS_PREFIX!r} prefix are for "
                "internal tables"
            )
        return f"{root}.{name}"

    def exists(self, spark: SparkSession, loc: str) -> bool:
        return spark.catalog.tableExists(loc)

    def write(self, spark: SparkSession, df: DataFrame, loc: str) -> None:
        df.writeTo(loc).using("iceberg").createOrReplace()

    def append(self, spark: SparkSession, df: DataFrame, loc: str) -> None:
        # First-append races are benign, not silent: if two writers both
        # see a missing table, one create() commits and the loser's raises
        # (Iceberg catalog commits are atomic), after which the loser
        # appends — every row lands exactly once either way.
        if not self.exists(spark, loc):
            try:
                df.writeTo(loc).using("iceberg").create()
                return
            except Exception:  # noqa: BLE001 — concurrent creator won
                pass
        df.writeTo(loc).append()

    def read(
        self, spark: SparkSession, loc: str, schema: StructType | None = None
    ) -> DataFrame:
        return spark.read.table(loc)  # the catalog holds the schema


def _lineage_rows(df: DataFrame, stage: str, ts_col: str | None) -> DataFrame:
    """One row per output partition: counts, event-time bounds, checksum."""
    # backtick-quote — feature names contain dots/spaces. One SQL string,
    # not one F.col per column: each F.col is a Py4J round trip, and the
    # features stage has over a hundred columns
    quoted = ", ".join("`" + c.replace("`", "``") + "`" for c in df.columns)
    h = F.expr(f"xxhash64({quoted})")
    # Order-insensitive SUM of per-row hashes (not XOR: XOR cancels pairs,
    # so a whole duplicated table would leave the checksum unchanged).
    # Summed in decimal(38,0) then wrapped mod 2^63-1 to avoid overflow.
    wrap = (F.sum(h.cast("decimal(38,0)")) % F.lit(2**63 - 1)).cast("long")
    agg = [
        F.count(F.lit(1)).alias("row_count"),
        wrap.alias("checksum"),
    ]
    if ts_col and ts_col in df.columns:
        agg += [
            F.min(ts_col).cast("string").alias("min_ts"),
            F.max(ts_col).cast("string").alias("max_ts"),
        ]
    else:
        agg += [F.lit(None).cast("string").alias("min_ts"),
                F.lit(None).cast("string").alias("max_ts")]
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(*agg).select(
        F.lit(stage).alias("stage"), "partition_id", "row_count",
        "checksum", "min_ts", "max_ts",
    )


class Pipeline:
    """Checkpointed multi-stage job.

    >>> p = Pipeline(spark, root="/data/run1")
    >>> pages = p.stage("pages", lambda: load(...), ts_col="warc_ts")
    >>> feats = p.stage("features", lambda: build(pages), ts_col=None)
    >>> p.rows("pages")

    Each ``stage`` returns a DataFrame reading the committed table; if the
    table exists the plan function is never invoked (resume path).
    ``rows(name)`` is the stage's row count without a count job: observed
    during the write on commit, the ledger's sum on resume.
    """

    def __init__(self, spark: SparkSession, root: str, io: TableIO | None = None):
        self.spark = spark
        self.root = root
        self.io = io or ParquetTableIO()
        self.ledger_path = self.io.locate(root, "_ledger")
        self.metrics_path = self.io.metrics_sink(root)
        self.io.prepare_root(root)
        self._rows: dict[str, int] = {}

    def _table(self, name: str) -> str:
        return self.io.locate(self.root, name)

    def stage(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        ts_col: str | None = None,
    ) -> DataFrame:
        loc = self._table(name)
        if self.io.exists(self.spark, loc):
            out = self.io.read(self.spark, loc)
            rows = self._ledger_rows(name)
            # a kill between the table commit and its ledger append leaves
            # a committed stage with no lineage: write it from the table
            if rows is None:
                lineage = _lineage_rows(out, name, ts_col)
                self.io.append(self.spark, lineage, self.ledger_path)
                rows = self._ledger_rows(name) or 0  # an empty table has none
            self._rows[name] = rows
            self._emit_metric(name, "skipped_existing", secs=0.0, rows=rows)
            return out
        t0 = time.monotonic()
        df = fn()
        obs = Observation()
        self.io.write(
            self.spark, df.observe(obs, F.count(F.lit(1)).alias("rows")), loc
        )
        self._rows[name] = obs.get["rows"]
        out = self.io.read(self.spark, loc, schema=df.schema)
        lineage = _lineage_rows(out, name, ts_col)
        self.io.append(self.spark, lineage, self.ledger_path)
        secs = round(time.monotonic() - t0, 3)
        self._emit_metric(name, "committed", secs=secs, rows=self._rows[name])
        return out

    def rows(self, name: str) -> int:
        """Row count of a stage this pipeline committed or resumed."""
        return self._rows[name]

    def _ledger_rows(self, name: str) -> int | None:
        """The stage's ``row_count`` sum, None when it has no lineage."""
        if not self.io.exists(self.spark, self.ledger_path):
            return None
        led = self.ledger().where(F.col("stage") == name)
        return led.agg(F.sum("row_count")).first()[0]

    def event(self, stage: str, event: str, **fields) -> None:
        """Record a guard-rail event (a cap that discarded rows, ...) in
        the run's metrics, next to the stage records."""
        self._emit_metric(stage, "event", event=event, **fields)

    def _emit_metric(self, stage: str, status: str, **fields) -> None:
        if self.metrics_path is None:
            return
        rec = {"stage": stage, "status": status, **fields, "wall": time.time()}
        with open(self.metrics_path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def ledger(self) -> DataFrame:
        return self.io.read(self.spark, self.ledger_path)
