"""Simulate the spark-graft driver: import __spark_entry__ by path from a
clean process, smoke entry(), then run every queries() entry at sf0.01 and
compare to oracle_sql() via DuckDB with the order-insensitive value hash
of tests/oracle.py."""
import importlib.util
import json
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from tests.oracle import value_hash  # noqa: E402

SF = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

from pyspark.sql import SparkSession  # noqa: E402

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

# --- smoke: entry() twice, stable schema, rows > 0
df1 = mod.entry(spark)
rows = df1.collect()
df2 = mod.entry(spark)
assert df1.schema == df2.schema, "entry() schema unstable"
print(f"entry: {len(rows)} rows, schema={[f.name for f in df1.schema]}")
assert len(rows) > 0

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")


qs, oracles = mod.queries(), mod.oracle_sql()
report = {}
ok = True
for name, fn in sorted(qs.items()):
    got = fn(spark, SF).toPandas()
    if name not in oracles:
        report[name] = {"rows": len(got), "oracle": None}
        continue
    exp = con.execute(oracles[name]).fetch_df()
    match = (len(got) == len(exp)
             and sorted(got.columns) == sorted(exp.columns)
             and value_hash(got) == value_hash(exp))
    report[name] = {"rows": len(got), "exp_rows": len(exp), "match": match}
    ok = ok and match
print(json.dumps(report, indent=1))
print("ALL MATCH" if ok else "MISMATCH")
sys.exit(0 if ok else 1)
