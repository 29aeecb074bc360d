"""Worker-side SRP-LSH kernels: the signature of each vector and the
cosine verify of one bucket. Imports ONLY numpy/pandas/pyarrow (the rule
for anything a Python worker unpickles: a pyspark import per Python
worker is a measured anti-scaling floor, see window_kernel.py).

Both reproduce Spark's fold ``aggregate(zip_with(a, b, (x, y) -> x * y),
0.0D, (x, y) -> x + y)`` bit for bit: each dot product and each squared
norm is a left fold over the dimensions, ``acc = 0.0; acc += a[k] *
b[k]``, the same IEEE operation sequence.

The signature bits are ``operators/similarity._dot_sql(v, h) > 0`` under
Spark's NaN ordering: NaN sorts above every double, so a NaN dot product
sets its bit. A NULL vector, a NULL component or a length other than the
hyperplanes' gives a NULL fold and a 0 bit.

The scores are bit-identical to ``operators/similarity._cosine_sql``.
The denominator is ``sqrt(|a|^2) * sqrt(|b|^2)``, and a zero denominator
gives no row, as ``try_divide``'s NULL passes no threshold. The
threshold compare follows the same NaN ordering: a NaN cosine passes any
threshold but NaN, and a NaN threshold passes only NaN.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

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


def srp_signer(planes, bands: int):
    """The mapInArrow function of the SRP signature: record batches with
    an array<double> column ``v`` in, the same batches with
    ``bucket0..bucket{bands-1}`` appended out; every input column passes
    through untouched, so a NaN component stays NaN (a pandas round trip
    would make it NULL). Bit j is the sign of ``v . planes[j]``, band b
    holds bits b*r .. b*r + r - 1 with weights 1, 2, 4, ..., and r =
    nbits / bands. A bucket is int32 for r <= 31 and int64 above, the
    types Spark gives the SQL sum of those weights."""
    h = np.asarray(planes, dtype=np.float64)
    nbits, dim = h.shape
    rows = nbits // bands
    dtype = np.int32 if rows <= 31 else np.int64
    weights = np.left_shift(1, np.arange(rows, dtype=np.int64))[None, :, None]
    names = [f"bucket{b}" for b in range(bands)]

    def sign(batches):
        for batch in batches:
            v = batch.column("v")
            off = v.offsets.to_numpy()
            ok = np.diff(off) == dim
            if v.null_count:
                ok &= v.is_valid().to_numpy(zero_copy_only=False)
            sel = np.flatnonzero(ok)
            idx = off[sel][None, :] + np.arange(dim)[:, None]  # (dim, m)
            vals = v.values
            if vals.null_count:
                keep = ~vals.is_null().to_numpy(zero_copy_only=False)[idx].any(axis=0)
                sel, idx = sel[keep], idx[:, keep]
            vt = vals.to_numpy(zero_copy_only=False)[idx]
            acc = np.zeros((nbits, len(sel)))
            prod = np.empty_like(acc)
            for k in range(dim):
                np.multiply(h[:, k, None], vt[k, None, :], out=prod)
                acc += prod
            bits = (acc > 0) | np.isnan(acc)
            buckets = np.zeros((bands, len(v)), dtype)
            buckets[:, sel] = (bits.reshape(bands, rows, -1) * weights).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, *buckets],
                names=[*batch.schema.names, *names],
            )

    return sign
