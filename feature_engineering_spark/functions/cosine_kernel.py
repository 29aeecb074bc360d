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
    m: np.ndarray, threshold: float, first: int = 0
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(i, j, cosine) for every row pair i < j of the (n, d) matrix ``m``,
    n >= 2, with j >= ``first``, whose cosine passes ``threshold``,
    row-major in (i, j). Rows before ``first`` are old and the rest new,
    so old x old pairs are never scored; ``first=0`` is the whole upper
    triangle. Rows are scored in blocks of BLOCK_ROWS against every
    later new row."""
    n, d = m.shape
    mt = np.ascontiguousarray(m.T)
    sq = np.zeros(n)
    for k in range(d):
        sq += mt[k] * mt[k]
    norm = np.sqrt(sq)
    parts = []
    for r0 in range(0, n - 1, BLOCK_ROWS):
        r1, c0 = min(r0 + BLOCK_ROWS, n - 1), max(r0 + 1, first)
        dot = np.zeros((r1 - r0, n - c0))
        prod = np.empty_like(dot)
        for k in range(d):
            np.multiply(mt[k, r0:r1, None], mt[k, None, c0:], out=prod)
            dot += prod
        den = norm[r0:r1, None] * norm[None, c0:]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dot / den
        upper = np.arange(c0, n)[None, :] > np.arange(r0, r1)[:, None]
        keep = upper & (den != 0) & (np.isnan(cos) | (cos >= threshold))
        i, j = np.nonzero(keep)
        parts.append((i + r0, j + c0, cos[i, j]))
    return tuple(np.concatenate(p) for p in zip(*parts))


def bucket_verifier(threshold: float):
    """The applyInPandas function of one SRP-LSH bucket: (id, v, __new)
    rows in, (a, b, cosine) rows out for every pair whose cosine passes
    ``threshold``, where b is new and a is old or new with a < b (the
    pair rule of ``operators/dedup._key_pairs``). Vectors of different
    lengths never pair (Spark's ``zip_with`` pads the shorter with NULL).
    Rows with a NULL id or vector must be filtered out before."""

    def verify(pdf):
        # old rows first, so each length group's new rows start at `first`
        pdf = pdf.sort_values(["__new", "id"], kind="stable")
        ids = pdf["id"].to_numpy()
        new = pdf["__new"].to_numpy(bool)
        vecs = pdf["v"].to_numpy()
        lens = np.fromiter(map(len, vecs), np.int64, len(vecs))
        out = []
        for d in np.unique(lens):
            sel = np.flatnonzero(lens == d)
            first = len(sel) - int(new[sel].sum())
            if len(sel) < 2 or first == len(sel):
                continue
            i, j, cos = cosine_upper_pairs(
                np.stack(vecs[sel]).reshape(len(sel), d), threshold, first
            )
            a, b = ids[sel[i]], ids[sel[j]]
            ne = a != b  # a pair joins two distinct ids
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
