"""As-of join engine vs pandas merge_asof (the published reference
semantics for backward/forward/tolerance matching)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from feature_engineering_spark.operators.asof import asof_join, backfill_asof


def _oracle_asof(pages, labels, direction="backward", tol=None):
    out = []
    for url, lg in pages.sort_values(["url", "warc_ts"], kind="stable").groupby("url"):
        rg = labels[labels["url"] == url].sort_values("label_ts", kind="stable")
        rg = rg.rename(columns={"label_ts": "matched_ts"})
        kw = {"tolerance": pd.Timedelta(seconds=tol)} if tol else {}
        m = pd.merge_asof(
            lg, rg[["matched_ts", "iri"]].assign(__t=rg["matched_ts"]),
            left_on="warc_ts", right_on="__t", direction=direction, **kw,
        )
        out.append(m.drop(columns="__t"))
    return pd.concat(out, ignore_index=True)


# the ids name the union/window plan that every case runs through
@pytest.mark.parametrize("direction,tol", [
    pytest.param("backward", None, id="backward-None-union"),
    pytest.param("forward", None, id="forward-None-union"),
    pytest.param("backward", 3600.0, id="backward-3600.0-union"),
])
def test_asof_matches_merge_asof(spark, pages_pdf, labels_pdf, pages_df, labels_df,
                                 direction, tol):
    got = (
        asof_join(
            pages_df, labels_df, on="url", left_ts="warc_ts", right_ts="label_ts",
            direction=direction, tolerance_seconds=tol, right_cols=["iri"],
        )
        .select("url", "warc_ts", "matched_ts", "iri")
        .toPandas()
        .sort_values(["url", "warc_ts"], kind="stable")
        .reset_index(drop=True)
    )
    exp = _oracle_asof(pages_pdf, labels_pdf, direction, tol)[
        ["url", "warc_ts", "matched_ts", "iri"]
    ].reset_index(drop=True)
    assert len(got) == len(exp) == len(pages_pdf)
    assert (got["url"] == exp["url"]).all()
    assert got["matched_ts"].isna().equals(exp["matched_ts"].isna())
    both = got["matched_ts"].notna()
    assert (got.loc[both, "matched_ts"].to_numpy()
            == exp.loc[both, "matched_ts"].to_numpy()).all()
    assert np.allclose(got["iri"], exp["iri"], equal_nan=True)


def test_asof_exact_ts_match_included(spark):
    """Exact-timestamp right rows match in BOTH directions (merge_asof
    allow_exact_matches=True semantics)."""
    left = pd.DataFrame({
        "url": ["u", "u"],
        "warc_ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 12:00"]),
    })
    right = pd.DataFrame({
        "url": ["u", "u"],
        "label_ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 13:00"]),
        "iri": [1.0, 2.0],
    })
    for direction, exp in [("backward", [1.0, 1.0]), ("forward", [1.0, 2.0])]:
        got = (
            asof_join(spark.createDataFrame(left), spark.createDataFrame(right),
                      right_ts="label_ts", direction=direction, right_cols=["iri"])
            .orderBy("warc_ts").toPandas()
        )
        assert got["iri"].tolist() == exp, direction


def test_asof_dup_right_ts_tiebreak(spark):
    """Duplicate right timestamps with right_tiebreak: the max-tiebreak row
    wins for backward and the min-tiebreak row for forward, as merge_asof
    picks from a right side sorted by (ts, tiebreak); deterministic across
    partitionings."""
    right = pd.DataFrame({
        "url": ["u"] * 3,
        "label_ts": pd.to_datetime(["2024-01-01 10:00"] * 3),
        "rid": [2, 0, 1],
        "iri": [20.0, 0.0, 10.0],
    })
    for direction, left_ts, exp in [
        ("backward", "2024-01-01 12:00", 20.0),  # rid=2 wins
        ("forward", "2024-01-01 09:00", 0.0),  # rid=0 wins
    ]:
        left = pd.DataFrame({"url": ["u"], "warc_ts": pd.to_datetime([left_ts])})
        out = asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="url", left_ts="warc_ts", right_ts="label_ts", direction=direction,
            right_cols=["iri"], right_tiebreak="rid",
        ).collect()[0]
        assert out["iri"] == exp, direction
        oracle = pd.merge_asof(
            left, right.sort_values(["label_ts", "rid"]), left_on="warc_ts",
            right_on="label_ts", by="url", direction=direction,
        )
        assert oracle["iri"].tolist() == [exp], direction


def test_asof_no_label_urls_null(spark, pages_df, labels_df, labels_pdf):
    got = asof_join(pages_df, labels_df, right_ts="label_ts", right_cols=["iri"])
    unlabeled = got.where(~got["url"].isin(list(labels_pdf["url"].unique())))
    n = unlabeled.count()
    assert n > 0
    assert unlabeled.where(unlabeled["iri"].isNotNull()).count() == 0


def test_backfill_interpolation(spark):
    left = pd.DataFrame({
        "url": ["u"] * 3,
        "warc_ts": pd.to_datetime(
            ["2024-01-01 10:30", "2024-01-01 09:00", "2024-01-01 23:00"]
        ),
    })
    right = pd.DataFrame({
        "url": ["u", "u"],
        "label_ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 11:00"]),
        "iri": [1.0, 3.0],
    })
    got = (
        backfill_asof(spark.createDataFrame(left), spark.createDataFrame(right),
                      right_ts="label_ts", value="iri")
        .orderBy("warc_ts").toPandas()
    )
    # 09:00 → before all labels: bfill to 1.0; 10:30 → halfway: 2.0;
    # 23:00 → after all labels: ffill to 3.0
    assert np.allclose(got["iri_interp"].tolist(), [1.0, 2.0, 3.0])
    assert got.loc[0, "prev_ts"] is pd.NaT or pd.isna(got.loc[0, "prev_ts"])
    assert pd.isna(got.loc[2, "next_ts"])


def test_asof_strictly_causal_leakage_probe(spark, pages_pdf, labels_pdf):
    """Zero-leakage gate (north_rule): mutate every label strictly after a
    cutoff T; backward as-of results at ts <= T must be bit-identical."""
    cutoff = pd.Timestamp("2024-01-15")
    mutated = labels_pdf.copy()
    after = mutated["label_ts"] > cutoff
    mutated.loc[after, "iri"] = mutated.loc[after, "iri"] * 1000 + 7
    base_df = spark.createDataFrame(pages_pdf)
    a = asof_join(base_df, spark.createDataFrame(labels_pdf),
                  right_ts="label_ts", right_cols=["iri"])
    b = asof_join(base_df, spark.createDataFrame(mutated),
                  right_ts="label_ts", right_cols=["iri"])
    pa = a.where(a["warc_ts"] <= pd.Timestamp(cutoff)).toPandas().sort_values(
        ["url", "warc_ts"]).reset_index(drop=True)
    pb = b.where(b["warc_ts"] <= pd.Timestamp(cutoff)).toPandas().sort_values(
        ["url", "warc_ts"]).reset_index(drop=True)
    assert len(pa) > 100
    assert pa["iri"].equals(pb["iri"])  # bit-identical, not allclose


def test_bucketed_range_join_equals_theta_join(spark):
    """Bucketed equi-join + verify gives exactly the theta-join result,
    and the physical plan contains NO BroadcastNestedLoopJoin."""
    import pandas as pd

    from pyspark.sql import functions as F

    from feature_engineering_spark.operators.rangejoin import bucketed_range_join

    facts = spark.createDataFrame(
        pd.DataFrame({
            "k": ["a"] * 5 + ["b"] * 3,
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta([0, 30, 90, 150, 600, 10, 70, 200], unit="m"),
            "v": list(range(8)),
        })
    )
    iv = spark.createDataFrame(
        pd.DataFrame({
            "k": ["a", "a", "b"],
            "iid": [1, 2, 3],
            "lo": [pd.Timestamp("2024-01-01 00:00").timestamp(),
                   pd.Timestamp("2024-01-01 01:00").timestamp(),
                   pd.Timestamp("2024-01-01 00:30").timestamp()],
            "hi": [pd.Timestamp("2024-01-01 01:00").timestamp(),
                   pd.Timestamp("2024-01-01 04:00").timestamp(),
                   pd.Timestamp("2024-01-01 03:00").timestamp()],
        })
    )
    got = bucketed_range_join(
        facts, iv, on="k", fact_ts="ts", lo="lo", hi="hi", bucket_width=1800.0
    )
    assert "BroadcastNestedLoop" not in got._jdf.queryExecution().executedPlan().toString()
    gp = got.select("k", "iid", "v").toPandas().sort_values(["iid", "v"])

    from feature_engineering_spark.functions.timeutil import epoch_seconds
    t = epoch_seconds("ts")
    exp = (
        facts.join(iv.withColumnRenamed("k", "k2"),
                   (F.col("k") == F.col("k2")) & (t >= F.col("lo")) & (t <= F.col("hi")))
        .select("k", "iid", "v").toPandas().sort_values(["iid", "v"])
    )
    pd.testing.assert_frame_equal(gp.reset_index(drop=True), exp.reset_index(drop=True))


def test_bucketed_range_join_guards(spark):
    """Non-inner `how` raises (the exact-range verify filter would silently
    degrade outer joins to inner); inverted intervals (hi < lo) are dropped
    instead of exploding downward-counting buckets."""
    import pytest
    from pyspark.sql import functions as F

    from feature_engineering_spark.operators.rangejoin import bucketed_range_join

    facts = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00")], "k int, ts string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    epoch0 = facts.select(F.unix_timestamp("ts").cast("double").alias("e")).collect()[0]["e"]
    iv = spark.createDataFrame(
        [(1, epoch0 - 60.0, epoch0 + 60.0, "ok"),
         (1, epoch0 + 9e6, epoch0 - 9e6, "inverted")],
        "k int, lo double, hi double, tag string",
    )
    with pytest.raises(ValueError, match="inner"):
        bucketed_range_join(facts, iv, on="k", fact_ts="ts", lo="lo", hi="hi", how="left")
    got = bucketed_range_join(facts, iv, on="k", fact_ts="ts", lo="lo", hi="hi").toPandas()
    assert got["tag"].tolist() == ["ok"]


def test_sessionize_commutes_with_asof(spark, pages_df, labels_df):
    """sessionize(asof(L, R)) == asof(sessionize(L), R): the session index
    depends only on (key, ts) of left rows, which the as-of enrich
    preserves — the fused order (asof first, reusing its shuffle) is a pure
    physical optimization."""
    from feature_engineering_spark.operators.sessionize import sessionize

    kw = dict(on="url", left_ts="warc_ts", right_ts="label_ts",
              right_cols=["iri"], tolerance_seconds=7 * 86400.0)
    a = sessionize(asof_join(pages_df, labels_df, **kw), "url", "warc_ts", 1800)
    b = asof_join(sessionize(pages_df, "url", "warc_ts", 1800), labels_df, **kw)
    cols = sorted(a.columns)
    assert cols == sorted(b.columns)
    pa = a.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    pb = b.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(pa, pb)
