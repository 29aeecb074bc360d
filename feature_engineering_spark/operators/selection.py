"""Forward feature selection on the window-feature matrix (SURVEY.md E3).

Reference: find_optimal_subset (/root/reference/utils/analysis.py:275-460)
— zero-variance prune, then sklearn SequentialFeatureSelector with a
RandomForest and a causal holdout. As SURVEY §3/E3 notes, SFS is
O(features^2 x fits) of MODEL fits, not a data-scale problem: the engine's
job is producing the matrix and the causal split at scale; selection runs
as a driver-orchestrated loop of Spark ML fits.

This module keeps the reference's semantics: strictly causal
train/valid/test (positional by time), R^2 scored on the untouched valid
slice, greedy forward adds until fmax or no improvement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_engineering_spark.operators.split import (
    causal_split,
    clean_nan_columns,
    variance_prune,
)


def _r2(pred: DataFrame, label: str = "y", p: str = "prediction") -> float:
    row = pred.agg(
        F.avg(label).alias("m"),
        F.sum((F.col(label) - F.col(p)) ** 2).alias("ss_res"),
    ).collect()[0]
    ss_tot = pred.agg(
        F.sum((F.col(label) - F.lit(row["m"])) ** 2)
    ).collect()[0][0]
    return 1.0 - row["ss_res"] / ss_tot if ss_tot else 0.0


def _fit_r2(
    fit_on: DataFrame, score_on: DataFrame, cols: list[str], model: str,
    label: str,
) -> float:
    """Fit the one regressor every selection step uses on ``fit_on`` over
    ``cols`` and return its R^2 on ``score_on``: a 50-tree depth-5 random
    forest (seed 42) for ``model='rf'``, else a ridge-regularized linear
    fit."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression, RandomForestRegressor

    va = VectorAssembler(inputCols=cols, outputCol="features")
    est = (
        RandomForestRegressor(labelCol=label, numTrees=50, maxDepth=5, seed=42)
        if model == "rf" else LinearRegression(labelCol=label, regParam=0.01)
    )
    fitted = est.fit(va.transform(fit_on))
    return _r2(fitted.transform(va.transform(score_on)), label)


def preselect_by_correlation(
    df: DataFrame, feature_cols: list[str], label: str, top: int = 20
) -> list[str]:
    """|pearson corr| screening (A8) to bound the SFS candidate pool —
    one aggregate pass over the matrix."""
    aggs = [F.abs(F.corr(F.col(f"`{c}`"), F.col(label))).alias(c) for c in feature_cols]
    row = df.agg(*aggs).collect()[0]
    scored = [(c, row[c]) for c in feature_cols if row[c] is not None]
    return [c for c, _ in sorted(scored, key=lambda t: -t[1])[:top]]


def forward_select(
    df: DataFrame,
    feature_cols: list[str],
    label: str = "y",
    fmax: int = 5,
    model: str = "lr",
) -> tuple[list[str], list[dict]]:
    """Greedy forward selection: at each step add the candidate that
    maximizes holdout R^2; stop at fmax or when nothing improves.
    Returns (selected, per-step metric history)."""
    train = df.where(F.col("split") == "train")
    valid = df.where(F.col("split") == "valid")
    selected: list[str] = []
    history: list[dict] = []
    best_r2 = float("-inf")
    pool = list(feature_cols)
    try:
        train.cache().count()
        valid.cache().count()
        while pool and len(selected) < fmax:
            scores = [
                (_fit_r2(train, valid, selected + [c], model, label), c)
                for c in pool
            ]
            step_r2, step_c = max(scores)
            if step_r2 <= best_r2 + 1e-9:
                break
            selected.append(step_c)
            pool.remove(step_c)
            best_r2 = step_r2
            history.append({"step": len(selected), "added": step_c,
                            "valid_r2": round(step_r2, 6)})
    finally:
        train.unpersist()
        valid.unpersist()
    return selected, history


def select_features_pipeline(
    matrix: DataFrame,
    feature_cols: list[str],
    label: str,
    key: str = "url",
    ts: str = "win_start",
    fmax: int = 5,
    top_pool: int = 20,
    model: str = "lr",
) -> dict:
    """The full E3 flow: NaN-column hygiene -> zero-variance prune ->
    causal split -> corr preselect -> forward SFS -> test R^2."""
    m = matrix.where(F.col(label).isNotNull())
    m, nan_dropped = clean_nan_columns(m, feature_cols)
    remaining = [c for c in feature_cols if c not in nan_dropped]
    m, var_dropped = variance_prune(m, remaining)
    remaining = [c for c in remaining if c not in var_dropped]
    m = causal_split(m, key, ts, fracs=(0.6, 0.8)).withColumnRenamed(label, "y")
    pool = preselect_by_correlation(
        m.where(F.col("split") == "train"), remaining, "y", top_pool
    )
    selected, history = forward_select(m, pool, "y", fmax, model)

    test_r2 = _fit_r2(
        m.where(F.col("split") != "test"), m.where(F.col("split") == "test"),
        selected, model, "y",
    )
    return {
        "selected": selected,
        "history": history,
        "test_r2": round(test_r2, 6),
        "nan_dropped": len(nan_dropped),
        "var_dropped": len(var_dropped),
        "pool": pool,
    }
