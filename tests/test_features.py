"""35-feature kernel: hand-computed fixed vectors (formula pins) and
Spark-vs-oracle window parity."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from feature_engineering_spark.functions.features import (
    FEATURE_NAMES,
    FEATURE_REGISTRY,
    compute_features,
)

X = np.array([1.0, 2.0, 4.0, 7.0])

# Hand-computed expectations for x = [1, 2, 4, 7] (see derivations in the
# test-plan; population moments, fs=100, tsfel-0.1.3 semantics).
HAND = {
    "Mean": 3.5,
    "Median": 3.0,
    "Max": 7.0,
    "Min": 1.0,
    "Maxmin diff": 6.0,
    "Standard deviation": math.sqrt(5.25),
    "Variance": 5.25,
    "Root mean square": math.sqrt(17.5),
    "Mean absolute deviation": 2.0,
    "Median absolute deviation": 1.5,
    "Interquartile range": 3.0,
    "Skewness": 6.0 / 5.25**1.5,
    "Kurtosis": (194.25 / 4) / 5.25**2 - 3.0,
    "Absolute energy": 70.0,
    "Autocorrelation": 70.0,
    "Total energy": 70.0 / 0.03,
    "Area under the curve": 0.1,
    "Centroid": 1.83 / 70.0,
    "Entropy": 1.0,
    "Mean diff": 2.0,
    "Median diff": 2.0,
    "Mean absolute diff": 2.0,
    "Median absolute diff": 2.0,
    "Sum absolute diff": 6.0,
    "Signal distance": math.sqrt(2) + math.sqrt(5) + math.sqrt(10),
    "Slope": 2.0,  # polyfit([0,1,2,3],[1,2,4,7],1): num=10, denom=sum(tc^2)=5
    "Zero crossing rate": 0.0,
    "Positive turning points": 0.0,
    "Negative turning points": 0.0,
    "Neighbourhood peaks": 0.0,
    "Peak to peak distance": 6.0,
}


@pytest.mark.parametrize("name", sorted(HAND))
def test_hand_computed(name):
    got = FEATURE_REGISTRY[name](X)
    assert np.isclose(got, HAND[name], rtol=1e-12), (name, got, HAND[name])


def test_ecdf_gate_and_values():
    short = np.arange(20, dtype="float64") + 1
    for p in ["0.05", "0.1", "0.2", "0.8"]:
        assert math.isnan(FEATURE_REGISTRY[f"ECDF Percentile {p}"](short))
    x25 = np.arange(25, dtype="float64") + 1  # 1..25
    assert FEATURE_REGISTRY["ECDF Percentile 0.05"](x25) == 2.0
    assert FEATURE_REGISTRY["ECDF Percentile 0.1"](x25) == 3.0
    assert FEATURE_REGISTRY["ECDF Percentile 0.2"](x25) == 5.0
    assert FEATURE_REGISTRY["ECDF Percentile 0.8"](x25) == 20.0


def test_sign_features():
    assert FEATURE_REGISTRY["Zero crossing rate"](np.array([1.0, -1.0, 2.0, -2.0])) == 3.0
    x = np.array([0.0, 2.0, 1.0, 3.0, 0.0, 4.0])
    assert FEATURE_REGISTRY["Positive turning points"](x) == 2.0
    assert FEATURE_REGISTRY["Negative turning points"](x) == 2.0
    assert FEATURE_REGISTRY["Entropy"](np.array([1.0, 1.0, 2.0, 2.0])) == 0.5


def test_neighbourhood_peaks():
    x = np.zeros(30)
    x[15] = 5.0  # one clear peak with 10 flat neighbours each side
    assert FEATURE_REGISTRY["Neighbourhood peaks"](x) == 1.0
    assert FEATURE_REGISTRY["Neighbourhood peaks"](np.zeros(30)) == 0.0


def test_registry_is_the_35_name_contract():
    assert len(FEATURE_NAMES) == 35
    # exact vocabulary from get_features.py:311
    expected = {
        "Neighbourhood peaks", "Entropy", "Mean absolute diff",
        "Area under the curve", "ECDF Percentile 0.8", "ECDF Percentile 0.2",
        "Interquartile range", "Median absolute deviation", "Mean diff",
        "Zero crossing rate", "Variance", "Root mean square", "Skewness",
        "Centroid", "Signal distance", "Negative turning points", "Max",
        "Absolute energy", "Min", "Sum absolute diff", "ECDF Percentile 0.05",
        "Mean absolute deviation", "Autocorrelation", "Peak to peak distance",
        "Maxmin diff", "Median", "Positive turning points", "Kurtosis",
        "ECDF Percentile 0.1", "Slope", "Median absolute diff", "Median diff",
        "Total energy", "Mean", "Standard deviation",
    }
    assert set(FEATURE_NAMES) == expected


def test_compute_features_order():
    vals = compute_features(X)
    assert len(vals) == 35
    assert vals[FEATURE_NAMES.index("Mean")] == 3.5


def test_batch_equals_single():
    """compute_features_batch (2-D stacks, grouped by length) is
    allclose-equal to the registry across mixed lengths/values."""
    from feature_engineering_spark.functions.features import compute_features_batch

    rng = np.random.default_rng(11)
    vals = np.concatenate([
        rng.normal(0, 3, 400),
        rng.integers(0, 3, 300).astype("float64"),
        np.full(100, 1.5),
    ])
    lo = rng.integers(0, 700, 250)
    lengths = rng.choice([1, 2, 3, 6, 21, 25, 40, 80], 250)
    got = compute_features_batch(vals, lo, lengths)
    for i in range(250):
        exp = np.array(compute_features(vals[lo[i] : lo[i] + lengths[i]]))
        assert np.allclose(got[i], exp, rtol=1e-9, atol=1e-12, equal_nan=True), (
            i, lengths[i],
            [FEATURE_NAMES[j] for j in range(35)
             if not np.allclose(got[i, j], exp[j], rtol=1e-9, atol=1e-12, equal_nan=True)],
        )


@pytest.mark.parametrize("n", [1, 2, 3, 5, 20, 21, 25, 40, 100, 997])
@pytest.mark.parametrize("kind", ["cont", "disc", "const", "signed"])
def test_fast_equals_registry(n, kind):
    """The production fast path, compute_features_batch, matches the
    registry dispatch on one window of each length and value kind."""
    from feature_engineering_spark.functions.features import compute_features_batch

    rng = np.random.default_rng(n * 1000 + hash(kind) % 97)
    if kind == "cont":
        x = rng.normal(5, 3, n)
    elif kind == "disc":
        x = rng.integers(0, 4, n).astype("float64")
    elif kind == "const":
        x = np.full(n, 2.5)
    else:
        x = rng.normal(0, 1, n)
    fast = compute_features_batch(x, np.array([0]), np.array([n]))[0]
    slow = np.array(compute_features(x))
    mism = [
        FEATURE_NAMES[i]
        for i in range(35)
        if not np.allclose(fast[i], slow[i], rtol=1e-9, atol=1e-12, equal_nan=True)
    ]
    assert not mism, mism
