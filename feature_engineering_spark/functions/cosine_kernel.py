"""Worker-side cosine verify of one SRP-LSH bucket — imports ONLY numpy/
pandas (the rule for anything an applyInPandas worker unpickles: a
pyspark import per Python worker is a measured anti-scaling floor, see
window_kernel.py).

The scores are bit-identical to ``operators/similarity._cosine_sql``.
Each dot product and each squared norm is a left fold over the
dimensions, ``acc = 0.0; acc += a[k] * b[k]``: the same IEEE operation
sequence as Spark's ``aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D,
(x, y) -> x + y)``. The denominator is ``sqrt(|a|^2) * sqrt(|b|^2)``, and
a zero denominator gives no row, as ``try_divide``'s NULL passes no
threshold. The threshold compare follows Spark's NaN ordering: NaN sorts
above every double, so a NaN cosine passes any threshold but NaN, and a
NaN threshold passes only NaN.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# Rows of the upper triangle scored per step: a 4096-row bucket holds
# BLOCK_ROWS x 4096 doubles per work array (~8 MB) instead of 4096^2.
BLOCK_ROWS = 256


def cosine_upper_pairs(
    m: np.ndarray, threshold: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(i, j, cosine) for every row pair i < j of the (n, d) matrix ``m``,
    n >= 2, whose cosine passes ``threshold``, row-major in (i, j). The
    triangle is scored in blocks of BLOCK_ROWS rows against every later
    row."""
    n, d = m.shape
    mt = np.ascontiguousarray(m.T)
    sq = np.zeros(n)
    for k in range(d):
        sq += mt[k] * mt[k]
    norm = np.sqrt(sq)
    parts = []
    for r0 in range(0, n - 1, BLOCK_ROWS):
        r1, c0 = min(r0 + BLOCK_ROWS, n - 1), r0 + 1
        dot = np.zeros((r1 - r0, n - c0))
        prod = np.empty_like(dot)
        for k in range(d):
            np.multiply(mt[k, r0:r1, None], mt[k, None, c0:], out=prod)
            dot += prod
        den = norm[r0:r1, None] * norm[None, c0:]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dot / den
        # block column c is row c0 + c, so it lies above the diagonal of
        # block row r (row r0 + r) when c >= r
        upper = np.arange(n - c0)[None, :] >= np.arange(r1 - r0)[:, None]
        keep = upper & (den != 0) & (np.isnan(cos) | (cos >= threshold))
        i, j = np.nonzero(keep)
        parts.append((i + r0, j + c0, cos[i, j]))
    return tuple(np.concatenate(p) for p in zip(*parts))


def bucket_verifier(threshold: float):
    """The applyInPandas function of one SRP-LSH bucket: (id, v) rows in,
    (a, b, cosine) rows out for every pair a < b whose cosine passes
    ``threshold``. Vectors of different lengths never pair (Spark's
    ``zip_with`` pads the shorter with NULL). Rows with a NULL id or
    vector must be filtered out before."""

    def verify(pdf):
        pdf = pdf.sort_values("id", kind="stable")
        ids = pdf["id"].to_numpy()
        vecs = pdf["v"].to_numpy()
        lens = np.fromiter(map(len, vecs), np.int64, len(vecs))
        out = []
        for d in np.unique(lens):
            sel = np.flatnonzero(lens == d)
            if len(sel) < 2:
                continue
            i, j, cos = cosine_upper_pairs(
                np.stack(vecs[sel]).reshape(len(sel), d), threshold
            )
            a, b = ids[sel[i]], ids[sel[j]]
            ne = a != b  # pairs are strictly a < b: equal ids never pair
            out.append((a[ne], b[ne], cos[ne]))
        a, b, cos = (
            (np.concatenate(c) for c in zip(*out)) if out
            else (ids[:0], ids[:0], np.zeros(0))
        )
        # a NaN cosine must reach Spark as NaN: the Arrow conversion of a
        # float64 column makes NaN NULL, of a masked array only masked rows
        cos = pd.arrays.FloatingArray(cos, np.zeros(len(cos), bool))
        return pd.DataFrame({"a": a, "b": b, "cosine": cos})

    return verify
