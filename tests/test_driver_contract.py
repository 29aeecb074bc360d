"""Local simulation of the driver's correctness gate: run every
``queries()`` entry on /root/testdata/sf0.01 and compare with the matching
``oracle_sql()`` in DuckDB — row count, column names, and the strict
order-insensitive ``value_hash`` that tools/driver_sim.py applies."""

from __future__ import annotations

import importlib.util

import duckdb
import pandas as pd
import pytest

from tests.oracle import value_hash

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _load_entry():
    spec = importlib.util.spec_from_file_location("entry_mod", "/root/repo/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def entry_mod():
    return _load_entry()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _assert_frames_match(got: pd.DataFrame, exp: pd.DataFrame, name: str):
    assert len(got) == len(exp), f"{name}: rows {len(got)} != {len(exp)}"
    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: cols {sorted(got.columns)} != {sorted(exp.columns)}"
    )
    assert value_hash(got) == value_hash(exp), (
        f"{name}: values differ\n{got.dtypes}\n{got.head()}\nvs\n{exp.dtypes}\n{exp.head()}"
    )


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.schema) > 0


def test_every_query_has_oracle_or_note(entry_mod):
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 10


@pytest.mark.parametrize("name", sorted(_load_entry().queries().keys()))
def test_query_vs_oracle(spark, ddb, entry_mod, name):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    got = qs[name](spark, SF_DIR).toPandas()
    if name not in oracles:
        assert len(got) >= 0  # rows-only check, like the driver's weak path
        return
    exp = ddb.execute(oracles[name]).fetch_df()
    _assert_frames_match(got, exp, name)


def test_group_topstats_keeps_all_null_quantity_group(spark, tmp_path):
    """A (returnflag, linestatus) group whose l_quantity is all NULL has
    no p90 candidate; DuckDB keeps the group with p90_qty NULL, and so
    must the Spark plan."""
    from feature_engineering_spark.plans.driver_queries import (
        SQL_GROUP_TOPSTATS,
        q_group_topstats,
    )

    li = pd.DataFrame({
        "l_returnflag": ["A", "A", "A", "N", "N", "R"],
        "l_linestatus": ["F", "F", "F", "O", "O", "F"],
        "l_quantity": [1.0, 7.0, 3.0, None, None, 5.0],
        "l_extendedprice": [10.0, 20.0, 30.0, 40.0, 50.0, 60.0],
        "l_discount": [0.0, 0.1, 0.05, 0.0, 0.02, 0.1],
    })
    li.to_parquet(tmp_path / "lineitem.parquet", index=False)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet'"
    )
    exp = con.execute(SQL_GROUP_TOPSTATS).fetch_df()
    got = q_group_topstats(spark, str(tmp_path)).toPandas()
    assert len(exp) == 3
    _assert_frames_match(got, exp, "group_topstats_all_null")
    null_group = got[got["l_returnflag"] == "N"]
    assert null_group["p90_qty"].isna().all() and (null_group["n"] == 2).all()
