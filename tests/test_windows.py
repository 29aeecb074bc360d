"""Sliding-window feature operator vs the pandas oracle + reference-quirk
pins (inclusive boundaries, exclusive-end slice, min-points drop) and the
window-coverage property."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from feature_engineering_spark.operators.skew import salted_window_features
from feature_engineering_spark.operators.windows import (
    derive_text_signals,
    sliding_window_features,
)
from tests.oracle import oracle_text_signals, oracle_window_features

# pages inter-arrivals average ~300s → a 3600s window holds ~12 points,
# matching the reference's 100m-window/10m-step overlap shape (10x).
PARAMS = dict(window_size=3600.0, step=360.0, min_points=5)


def _sorted(pdf):
    return pdf.sort_values(["url", "win_start"], kind="stable").reset_index(drop=True)


def test_window_features_match_oracle(spark, pages_pdf, pages_df):
    sig = ("n_chars", "n_tokens")
    got = _sorted(
        sliding_window_features(
            derive_text_signals(pages_df), signals=sig, **PARAMS
        ).toPandas()
    )
    exp = _sorted(oracle_window_features(oracle_text_signals(pages_pdf), signals=sig, **PARAMS))
    assert len(got) == len(exp) > 50
    assert (got["url"] == exp["url"]).all()
    assert np.allclose(got["win_start"], exp["win_start"])
    assert (got["n_points"] == exp["n_points"]).all()
    feat_cols = [c for c in exp.columns if "-0_" in c]
    assert feat_cols and set(feat_cols) <= set(got.columns)
    for c in feat_cols:
        assert np.allclose(
            got[c], exp[c], rtol=1e-9, atol=1e-12, equal_nan=True
        ), f"feature mismatch: {c}"


def test_text_signals_match_oracle(spark, pages_pdf, pages_df):
    got = (
        derive_text_signals(pages_df)
        .select("url", "warc_ts", "n_chars", "n_tokens", "digit_ratio")
        .toPandas()
        .sort_values(["url", "warc_ts"], kind="stable")
        .reset_index(drop=True)
    )
    exp = oracle_text_signals(pages_pdf).sort_values(
        ["url", "warc_ts"], kind="stable"
    ).reset_index(drop=True)
    for c in ["n_chars", "n_tokens", "digit_ratio"]:
        assert np.allclose(got[c], exp[c]), c


def test_inclusive_boundary_double_count(spark):
    """A row exactly on a grid boundary belongs to BOTH adjacent windows
    (reference `between` semantics, data_loaders.py:470-471)."""
    n = 13
    ts = pd.to_datetime(np.arange(n) * 50.0 + 1_000_000, unit="s")  # 50s apart
    pdf = pd.DataFrame({"url": "u", "warc_ts": ts, "v": np.arange(n, dtype="float64")})
    got = sliding_window_features(
        spark.createDataFrame(pdf), signals=("v",),
        window_size=600.0, step=600.0, min_points=1, exclusive_end=False,
    ).toPandas().sort_values("win_start").reset_index(drop=True)
    # rows at t=1000000 (multiple of 600... check): grid starts floor(min/600)*600
    # row t = 1000200 sits exactly on the boundary of [999600,1000200] and
    # [1000200,1000800] → counted in both.
    total = got["n_points"].sum()
    assert total > n  # double-counted boundary rows exist


def test_exclusive_end_slice(spark):
    """Window stats exclude the last in-window row (`[:-1]`,
    data_loaders.py:483): mean of [0..5] window is mean of first n-1."""
    ts = pd.to_datetime([0, 100, 200, 300, 400, 500], unit="s")
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 100.0]
    pdf = pd.DataFrame({"url": "u", "warc_ts": ts, "v": vals})
    got = sliding_window_features(
        spark.createDataFrame(pdf), signals=("v",),
        window_size=600.0, step=600.0, min_points=1, exclusive_end=True,
    ).toPandas()
    first = got.sort_values("win_start").iloc[0]
    assert first["n_points"] == 5
    assert np.isclose(first["v-0_Mean"], np.mean(vals[:5]))  # 100.0 excluded


def test_min_points_drop(spark):
    ts = pd.to_datetime([0, 100, 200], unit="s")
    pdf = pd.DataFrame({"url": "u", "warc_ts": ts, "v": [1.0, 2.0, 3.0]})
    got = sliding_window_features(
        spark.createDataFrame(pdf), signals=("v",),
        window_size=600.0, step=600.0, min_points=10,
    ).toPandas()
    assert len(got) == 0


def test_include_sequences(spark):
    """include_sequences carries each window's in-window signal (after the
    exclusive-end slice) as ``<signal>_seq``, one value per counted point."""
    ts = pd.to_datetime(np.arange(12) * 60.0, unit="s")
    pdf = pd.DataFrame({"url": "u", "warc_ts": ts, "x": np.arange(12, dtype="float64")})
    got = sliding_window_features(
        spark.createDataFrame(pdf), signals=("x",),
        window_size=600.0, step=600.0, min_points=1, include_sequences=True,
    ).toPandas().sort_values("win_start").reset_index(drop=True)
    assert [list(s) for s in got["x_seq"]] == [
        [float(i) for i in range(10)], [10.0]
    ]
    assert (got["n_points"] == got["x_seq"].map(len)).all()


@pytest.mark.parametrize(
    "op", [sliding_window_features, salted_window_features], ids=["sliding", "salted"]
)
@pytest.mark.parametrize("bad", [
    dict(min_points=0), dict(step=0.0), dict(step=-60.0),
], ids=["min_points=0", "step=0", "step=-60"])
def test_window_geometry_checked_on_driver(spark, op, bad):
    """A window geometry that cannot yield windows raises when the plan is
    built, before any action reaches a Python worker."""
    pdf = pd.DataFrame({
        "url": "u", "warc_ts": pd.to_datetime([0, 100], unit="s"), "v": [1.0, 2.0],
    })
    kw = dict(signals=("v",), window_size=600.0, step=60.0, min_points=1)
    with pytest.raises(ValueError, match="min_points|step"):
        op(spark.createDataFrame(pdf), **{**kw, **bad})


def test_window_leakage_probe(spark, pages_pdf):
    """edge_future_probe (FIXTURES.md F4): scramble every row after cutoff
    T; all window features for windows ending at or before T must be
    BIT-identical (zero temporal leakage, north_rule)."""
    cutoff = pd.Timestamp("2024-01-12")
    cutoff_s = (cutoff - pd.Timestamp("1970-01-01")).total_seconds()
    mutated = pages_pdf.copy()
    after = mutated["warc_ts"] > cutoff
    assert after.any() and (~after).any()
    mutated.loc[after, "text"] = mutated.loc[after, "text"] + " xxxxxxxxxxxxxxxx 99999"
    sig = ("n_chars",)

    def run(pdf):
        df = derive_text_signals(spark.createDataFrame(pdf))
        out = sliding_window_features(df, signals=sig, **PARAMS).toPandas()
        out = out[out["win_end"] <= cutoff_s]
        return _sorted(out)

    a, b = run(pages_pdf), run(mutated)
    assert len(a) > 20
    pd.testing.assert_frame_equal(a, b)  # bit-identical


def test_window_coverage_property(spark, pages_df):
    """Away from stream edges every row appears in window_size/step
    consecutive grid windows (SURVEY §5 property 5) — checked via total
    point mass: sum(n_points) ≈ rows x overlap factor."""
    df = derive_text_signals(pages_df)
    got = sliding_window_features(
        df, signals=("n_chars",), window_size=600.0, step=60.0,
        min_points=1, exclusive_end=False,
    ).toPandas()
    n_rows = pages_df_count = df.count()
    overlap = 600.0 / 60.0
    ratio = got["n_points"].sum() / (n_rows * overlap)
    assert 0.9 < ratio < 1.15, ratio


def _kernel_fixture(seed=7, keys=(3, 5, 11, 42)):
    rng = np.random.default_rng(seed)
    rows, t0 = [], 1_000_000.0
    for key in keys:  # already sorted, as the shuffle guarantees
        n = int(rng.integers(30, 120))
        ts = t0 + np.cumsum(rng.exponential(300.0, n))
        for t, v in zip(ts, rng.normal(0.0, 1.0, n)):
            rows.append((key, float(t), float(v)))
    return pd.DataFrame(rows, columns=["k", "__t", "x"])


def _run_mapper(pdf, batch_sizes, bounds_cols=None):
    from feature_engineering_spark.functions.features import feature_columns
    from feature_engineering_spark.functions.window_kernel import (
        make_partition_window_mapper,
    )

    out_cols = ["k", "win_start", "win_end", "n_points"] + feature_columns("x")
    mapper = make_partition_window_mapper(
        "k", ["x"], out_cols, 3600.0, 360.0, 5, True, False,
        bounds_cols=bounds_cols,
    )
    pieces, i = [], 0
    for s in batch_sizes:
        pieces.append(pdf.iloc[i : i + s])
        i += s
    assert i == len(pdf)
    outs = list(mapper(iter(pieces)))
    return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(columns=out_cols)


def _awkward_splits(n):
    """1-row batches, a mid-group cut, an EMPTY batch, small pieces."""
    sizes = [1, 1, 17, 0]
    left = n - 19
    sizes += [23] * (left // 23) + ([left % 23] if left % 23 else [])
    return sizes


def test_kernel_streams_batches_identically():
    """The streaming mapper (carry-the-open-group) must produce
    bit-identical output whether a partition arrives as ONE batch or as
    many arbitrary Arrow slices with groups split mid-batch."""
    pdf = _kernel_fixture()
    whole = _run_mapper(pdf, [len(pdf)])
    split = _run_mapper(pdf, _awkward_splits(len(pdf)))
    assert len(whole) > 50
    pd.testing.assert_frame_equal(whole, split)


def test_kernel_streams_salted_bounds_identically():
    """Same property through the salted (bounds_cols) code path: per-group
    grid bounds are read from the FIRST row of each group, which must
    survive group-spanning batch boundaries."""
    pdf = _kernel_fixture(seed=11)
    pdf["__chunk"] = 0
    g = pdf.groupby("k")["__t"]
    step = 360.0
    pdf["b0"] = np.floor(g.transform("min") / step) * step
    pdf["b1"] = g.transform("max")
    pdf["b2"] = 1e9  # one chunk spans the whole key
    whole = _run_mapper(pdf, [len(pdf)], bounds_cols=("b0", "b1", "b2"))
    split = _run_mapper(pdf, _awkward_splits(len(pdf)), bounds_cols=("b0", "b1", "b2"))
    assert len(whole) > 50
    pd.testing.assert_frame_equal(whole, split)
