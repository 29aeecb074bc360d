"""The session factory's JIT warmup: runs once per session, is
env-disableable, and never touches input data (it must stay a pure
framework warmup — no result precomputation, per the bench rules)."""

from __future__ import annotations

import inspect

import pytest

from feature_engineering_spark.session import _warmup, get_spark


def test_warmup_runs_once_per_session(spark, monkeypatch):
    # The shared fixture session came from get_spark, so it is already
    # marked; a second get_spark must reuse it and not re-warm.
    s2 = get_spark("fes-tests")
    assert s2 is spark
    assert getattr(s2, "_fes_warmed", False)


def test_warmup_env_optout(spark, monkeypatch):
    # Runs on the shared fixture session (so it passes alone or in any
    # order) with its marker removed: an unmarked session seen with the
    # opt-out must stay unwarmed AND get marked.
    monkeypatch.delattr(spark, "_fes_warmed")
    monkeypatch.setenv("SPARK_GRAFT_WARMUP", "0")
    calls = []
    import feature_engineering_spark.session as S

    monkeypatch.setattr(S, "_warmup", lambda sp: calls.append(1))
    s = get_spark("fes-tests")
    assert s is spark
    assert calls == []  # opted out
    assert getattr(s, "_fes_warmed", False)
    monkeypatch.delenv("SPARK_GRAFT_WARMUP")
    # marker already set on the live session -> still no re-warm
    get_spark("fes-tests")
    assert calls == []
    assert getattr(s, "_fes_warmed", False)


def test_warmup_completes_and_reads_no_input(spark):
    # Re-running the warmup body is idempotent and cheap at local[4];
    # its source must not reference any table/parquet input — it may
    # only synthesize data via spark.range.
    src = inspect.getsource(_warmup)
    assert ".read" not in src
    assert "parquet" not in src
    assert "testdata" not in src
    assert ".cache" not in src and ".persist" not in src
    _warmup(spark)  # must not raise


def test_warmup_failure_clears_job_description(spark, monkeypatch):
    # A warmup action that raises must not leave its label on the jobs
    # the caller runs next.
    from pyspark.sql.readwriter import DataFrameWriter

    def boom(self, *a, **k):
        raise RuntimeError("warmup write failed")

    monkeypatch.setattr(DataFrameWriter, "save", boom)
    with pytest.raises(RuntimeError, match="warmup write failed"):
        _warmup(spark)
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
