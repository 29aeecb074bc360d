"""Source/sink layer (SURVEY.md S4-S6).

- glob source with per-file provenance (S4: the reference discovers pickle
  files per trip via glob.glob, get_features.py:197-205; Spark globs
  natively and input_file_name() carries provenance)
- CSV/JSON sinks (S6: reference exports selected features to
  csv/excel/json/latex, get_features.py:437-455 — excel/latex are report
  artifacts, out of engine scope)

Table-format IO (Parquet-with-_SUCCESS / Iceberg) lives in
plans/checkpoint.TableIO — the ONE format seam in the codebase.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_glob_with_provenance(
    spark: SparkSession, pattern: str, fmt: str = "parquet"
) -> DataFrame:
    """Read a file glob and attach each row's source file (S4)."""
    df = spark.read.format(fmt).load(pattern)
    return df.withColumn("source_file", F.input_file_name())


def write_csv(df: DataFrame, path: str, header: bool = True) -> str:
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)
    return path


def write_json(df: DataFrame, path: str) -> str:
    df.write.mode("overwrite").json(path)
    return path


# ---------------------------------------------------------------- S1: JDBC
def jdbc_pushdown_subquery(
    table: str,
    columns: list[str] | None = None,
    predicates: list[str] | None = None,
) -> str:
    """Build the pushed-down JDBC source subquery (S1 — reference
    data_loaders.py:211-287 composes column lists and WHERE clauses into
    the Postgres SQL it sends). Column pruning and row predicates travel
    TO THE DATABASE inside ``dbtable``, so the network carries only what
    the query needs — Catalyst's own JDBC pushdown covers simple
    filters, but an explicit subquery also pushes projections and
    arbitrary SQL predicates. Pure function so the pushdown text is
    testable without a live database."""
    proj = ", ".join(columns) if columns else "*"
    where = f" WHERE {' AND '.join(f'({p})' for p in predicates)}" if predicates else ""
    return f"(SELECT {proj} FROM {table}{where}) AS src"


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    columns: list[str] | None = None,
    predicates: list[str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """JDBC source with pushdown + parallel range reads (S1).

    At scale the partition options matter as much as pushdown: without
    ``partition_column``/bounds/``num_partitions`` the whole table streams
    through ONE task. With them, Spark issues ``num_partitions`` range
    queries in parallel. Tested against Derby's embedded driver, which
    ships in pyspark's jars, with an in-memory database
    (``jdbc:derby:memory:<name>;create=true``): the pushdown subquery and a
    range-partitioned read (tests/test_sources.py)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", jdbc_pushdown_subquery(table, columns, predicates))
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()
