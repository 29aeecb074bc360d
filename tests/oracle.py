"""Pure pandas/numpy oracle for the sliding-window feature pipeline,
written in the reference's row-wise loop style (mirrors
/root/reference/utils/data_loaders.py:450-502 semantics: inclusive
``between`` membership, ``[:-1]`` exclusive-end slice, min-points drop,
grid snapped to step). Used by pytest to validate the Spark engine via
np.allclose per entity x window (FIXTURES.md F3).

Also home of ``value_hash``, the one strict query-vs-oracle comparator:
``tools/driver_sim.py`` and ``tests/test_driver_contract.py`` both use it."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from feature_engineering_spark.functions.features import (
    FEATURE_NAMES,
    compute_features,
)


def oracle_window_features(
    pdf: pd.DataFrame,
    key: str = "url",
    ts_col: str = "warc_ts",
    signals: tuple[str, ...] = ("n_chars",),
    window_size: float = 600.0,
    step: float = 60.0,
    min_points: int = 10,
    exclusive_end: bool = True,
) -> pd.DataFrame:
    out_rows = []
    for k, g in pdf.groupby(key, sort=True):
        g = g.sort_values(ts_col, kind="stable")
        t = (g[ts_col] - pd.Timestamp("1970-01-01")).dt.total_seconds().to_numpy()
        if len(t) == 0:
            continue
        w = np.floor(t[0] / step) * step
        while w <= t[-1] + 1e-9:
            mask = (t >= w - 1e-9) & (t <= w + window_size + 1e-9)  # inclusive
            sub = g[mask]
            end = len(sub) - 1 if exclusive_end else len(sub)
            if end >= min_points:
                row = {key: k, "win_start": float(w),
                       "win_end": float(w + window_size), "n_points": end}
                for s in signals:
                    seq = sub[s].to_numpy(dtype="float64")[:end]
                    vals = compute_features(seq)
                    for name, v in zip(FEATURE_NAMES, vals):
                        row[f"{s}-0_{name}"] = v
                out_rows.append(row)
            w += step
    return pd.DataFrame(out_rows)


def oracle_text_signals(pdf: pd.DataFrame) -> pd.DataFrame:
    import re

    t = pdf["text"]
    n_tokens = t.str.strip().map(lambda s: len(re.split(r"\s+", s)) if s else 1)
    n_digits = t.map(lambda s: sum(ch.isdigit() for ch in s))
    return pdf.assign(
        n_chars=t.str.len().astype("float64"),
        n_tokens=n_tokens.astype("float64"),
        digit_ratio=np.where(t.str.len() > 0, n_digits / t.str.len(), 0.0),
    )


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive value hash of a result frame: columns sorted,
    floats rounded to 6 places, every value as text, rows sorted, sha256.
    Dtype drift between engines (e.g. a HUGEINT sum, a float32 similarity)
    changes the text and so the hash."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
        pdf[c] = pdf[c].astype(str)
    lines = sorted("|".join(r) for r in pdf.itertuples(index=False))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
