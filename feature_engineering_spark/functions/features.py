"""The 35-statistic per-window feature registry (SURVEY.md §2.6).

Output vocabulary is the reference's contract — the exact 35 names printed
at /root/reference/get_features.py:311 (``<signal>-0_<Feature Name>``):
30 tsfel-0.1.3 features (statistical + temporal domains, with Histogram /
ECDF / ECDF Percentile / ECDF Percentile Count removed and spectral deleted,
per /root/reference/utils/analysis.py:168-179) plus the reference's customs:
``Maxmin diff`` (analysis.py:191) and ``ECDF Percentile {0.05,0.1,0.2,0.8}``
gated to sequences longer than 20 points (analysis.py:195-198).

Every kernel is a self-contained numpy re-implementation of the published
tsfel==0.1.3 formula (github.com/fraunhoferportugal/tsfel @ v0.1.3; MIT) —
no tsfel import, no code copied. Deliberate semantic pins:
- Standard deviation / Variance are POPULATION moments (numpy ddof=0), not
  pandas ddof=1.
- Skewness / Kurtosis are Fisher, biased (scipy.stats.skew/kurtosis
  defaults): g1 = m3/m2^1.5, g2 = m4/m2^2 - 3.
- Entropy is Shannon entropy of the value-count distribution normalized by
  log2(n) (tsfel 'standard' prob mode).
- Autocorrelation is np.correlate(x, x, 'valid') = sum(x^2) — tsfel 0.1.3's
  actual (degenerate) definition; kept for parity.
- fs-dependent features (Total energy, Area under the curve, Centroid) use
  fs=100 Hz: the reference passes fs=None (analysis.py:137) which makes
  tsfel fall back to the features.json default of 100.
- ECDF Percentile p = min sorted value whose empirical CDF >= p
  (x_sorted[ceil(p*n)-1]); returns nan when n <= 20 (the reference's gate).

All kernels take a 1-D float64 array (len >= 1) and return a python float;
nan is the null sentinel. They run inside Arrow-batched applyInPandas —
never per-row Spark Python UDFs.
"""

from __future__ import annotations

import numpy as np

_FS = 100.0  # tsfel features.json default; reference passes fs=None


# ---- statistical -----------------------------------------------------------

def f_mean(x): return float(np.mean(x))
def f_median(x): return float(np.median(x))
def f_max(x): return float(np.max(x))
def f_min(x): return float(np.min(x))
def f_std(x): return float(np.std(x))          # ddof=0
def f_var(x): return float(np.var(x))          # ddof=0
def f_rms(x): return float(np.sqrt(np.sum(x * x) / len(x)))


def f_mean_abs_dev(x):
    return float(np.mean(np.abs(x - np.mean(x))))


def f_median_abs_dev(x):
    return float(np.median(np.abs(x - np.median(x))))


def f_iqr(x):
    return float(np.percentile(x, 75) - np.percentile(x, 25))


def _moments(x):
    m = np.mean(x)
    d = x - m
    m2 = np.mean(d * d)
    return d, m2


def f_skewness(x):
    d, m2 = _moments(x)
    if m2 == 0:
        return 0.0
    return float(np.mean(d ** 3) / m2 ** 1.5)


def f_kurtosis(x):
    d, m2 = _moments(x)
    if m2 == 0:
        return -3.0  # scipy fisher kurtosis of a constant: 0/0 -> nan; tsfel
        # windows are non-constant in practice; pin -3 (= fisher of flat)
    return float(np.mean(d ** 4) / (m2 * m2) - 3.0)


def f_maxmin_diff(x):
    return float(np.max(x) - np.min(x))


def _ecdf_percentile(x, p):
    if len(x) <= 20:
        return float("nan")
    xs = np.sort(x)
    y = np.arange(1, len(xs) + 1) / len(xs)
    return float(xs[y >= p][0])


# ---- temporal --------------------------------------------------------------

def f_abs_energy(x): return float(np.sum(x * x))


def f_total_energy(x):
    # sum(x^2) / (t[-1] - t[0]) with t = arange(n)/fs
    if len(x) < 2:
        return float("nan")
    return float(np.sum(x * x) / ((len(x) - 1) / _FS))


def f_auc(x):
    # trapezoid over t = arange(n)/fs with |sum| per tsfel 0.1.3
    if len(x) < 2:
        return float("nan")
    dt = 1.0 / _FS
    return float(np.sum(0.5 * dt * np.abs(x[:-1] + x[1:])))


def f_autocorr(x):
    return float(np.correlate(x, x, mode="valid")[0])


def f_centroid(x):
    t = np.arange(len(x)) / _FS
    e = x * x
    s = np.sum(e)
    te = float(np.dot(t, e))
    if s == 0 or te == 0:
        return 0.0
    return float(te / s)


def f_entropy(x):
    _, counts = np.unique(x, return_counts=True)
    p = counts / counts.sum()
    p = p[p != 0]
    n = len(x)
    if n <= 1 or np.log2(n) == 0 or len(p) == 1:
        return 0.0
    return float(-np.sum(p * np.log2(p)) / np.log2(n))


def f_mean_diff(x): return float(np.mean(np.diff(x))) if len(x) > 1 else float("nan")
def f_median_diff(x): return float(np.median(np.diff(x))) if len(x) > 1 else float("nan")
def f_mean_abs_diff(x): return float(np.mean(np.abs(np.diff(x)))) if len(x) > 1 else float("nan")
def f_median_abs_diff(x): return float(np.median(np.abs(np.diff(x)))) if len(x) > 1 else float("nan")
def f_sum_abs_diff(x): return float(np.sum(np.abs(np.diff(x)))) if len(x) > 1 else float("nan")


def f_signal_distance(x):
    if len(x) < 2:
        return float("nan")
    d = np.diff(x)
    return float(np.sum(np.sqrt(1.0 + d * d)))


def f_slope(x):
    # least-squares slope of x against index — closed form
    n = len(x)
    if n < 2:
        return float("nan")
    t = np.arange(n, dtype="float64")
    tc = t - t.mean()
    denom = np.sum(tc * tc)
    return float(np.sum(tc * (x - x.mean())) / denom)


def f_zero_cross(x):
    return float(len(np.where(np.diff(np.sign(x)))[0]))


def f_positive_turning(x):
    # peaks: diff > 0 followed by diff < 0
    if len(x) < 3:
        return 0.0
    d = np.diff(x)
    return float(np.sum((d[:-1] > 0) & (d[1:] < 0)))


def f_negative_turning(x):
    # valleys: diff < 0 followed by diff > 0
    if len(x) < 3:
        return 0.0
    d = np.diff(x)
    return float(np.sum((d[:-1] < 0) & (d[1:] > 0)))


def f_neighbourhood_peaks(x, n=10):
    # points strictly greater than their n neighbours on each side
    if len(x) <= 2 * n:
        return 0.0
    sub = x[n:-n]
    peaks = np.ones(len(sub), dtype=bool)
    for i in range(1, n + 1):
        peaks &= sub > np.roll(x, i)[n:-n]
        peaks &= sub > np.roll(x, -i)[n:-n]
    return float(np.sum(peaks))


def f_pk_pk_distance(x):
    return float(np.abs(np.max(x) - np.min(x)))


# ---- registry: exact output-contract names (get_features.py:311) ----------

FEATURE_REGISTRY = {
    "Mean": f_mean,
    "Median": f_median,
    "Max": f_max,
    "Min": f_min,
    "Maxmin diff": f_maxmin_diff,
    "Standard deviation": f_std,
    "Variance": f_var,
    "Root mean square": f_rms,
    "Mean absolute deviation": f_mean_abs_dev,
    "Median absolute deviation": f_median_abs_dev,
    "Interquartile range": f_iqr,
    "Skewness": f_skewness,
    "Kurtosis": f_kurtosis,
    "ECDF Percentile 0.05": lambda x: _ecdf_percentile(x, 0.05),
    "ECDF Percentile 0.1": lambda x: _ecdf_percentile(x, 0.10),
    "ECDF Percentile 0.2": lambda x: _ecdf_percentile(x, 0.20),
    "ECDF Percentile 0.8": lambda x: _ecdf_percentile(x, 0.80),
    "Absolute energy": f_abs_energy,
    "Total energy": f_total_energy,
    "Area under the curve": f_auc,
    "Autocorrelation": f_autocorr,
    "Centroid": f_centroid,
    "Entropy": f_entropy,
    "Mean diff": f_mean_diff,
    "Median diff": f_median_diff,
    "Mean absolute diff": f_mean_abs_diff,
    "Median absolute diff": f_median_abs_diff,
    "Sum absolute diff": f_sum_abs_diff,
    "Signal distance": f_signal_distance,
    "Slope": f_slope,
    "Zero crossing rate": f_zero_cross,
    "Positive turning points": f_positive_turning,
    "Negative turning points": f_negative_turning,
    "Neighbourhood peaks": f_neighbourhood_peaks,
    "Peak to peak distance": f_pk_pk_distance,
}

FEATURE_NAMES = list(FEATURE_REGISTRY)
assert len(FEATURE_NAMES) == 35


def feature_columns(signal: str) -> list[str]:
    """Output column names for one signal: ``<signal>-0_<Feature Name>``."""
    return [f"{signal}-0_{name}" for name in FEATURE_NAMES]


def compute_features(x: np.ndarray) -> list[float]:
    """All 35 features of one window in FEATURE_NAMES order, by registry
    dispatch — the readable definition. Tests and the pandas oracle use it
    as the reference for ``compute_features_batch``, the production path."""
    x = np.asarray(x, dtype="float64")
    return [FEATURE_REGISTRY[name](x) for name in FEATURE_NAMES]


def _features_matrix(X: np.ndarray) -> np.ndarray:
    """All 35 features for a stack of same-length windows, vectorized along
    axis 1. X is (g, n) float64, n >= 1. Returns (g, 35) in FEATURE_NAMES
    order. allclose-equivalent to the per-window registry (summation order
    may differ in the last ulp for reductions)."""
    g, n = X.shape
    nanv = np.full(g, np.nan)
    zero = np.zeros(g)

    s = np.sort(X, axis=1)
    mn, mx = s[:, 0], s[:, -1]
    mean = X.mean(axis=1)
    median = s[:, n // 2] if n % 2 == 1 else 0.5 * (s[:, n // 2 - 1] + s[:, n // 2])

    dvec = X - mean[:, None]
    d2 = dvec * dvec
    m2 = d2.mean(axis=1)
    std = np.sqrt(m2)
    e = X * X
    abs_energy = e.sum(axis=1)
    rms = np.sqrt(abs_energy / n)
    mean_ad = np.abs(dvec).mean(axis=1)
    med_ad = np.median(np.abs(X - median[:, None]), axis=1)
    q = np.percentile(X, [25, 75], axis=1)
    iqr = q[1] - q[0]
    with np.errstate(divide="ignore", invalid="ignore"):
        skew = np.where(m2 == 0, 0.0, np.mean(dvec ** 3, axis=1) / m2 ** 1.5)
        kurt = np.where(m2 == 0, -3.0, np.mean(dvec ** 4, axis=1) / (m2 * m2) - 3.0)

    if n > 20:
        y = np.arange(1, n + 1) / n
        iis = [int(np.searchsorted(y, p, side="left")) for p in (0.05, 0.10, 0.20, 0.80)]
        e005, e01, e02, e08 = (s[:, i] for i in iis)
    else:
        e005 = e01 = e02 = e08 = nanv

    total_energy = abs_energy / ((n - 1) / _FS) if n >= 2 else nanv
    if n >= 2:
        dif = np.diff(X, axis=1)
        adif = np.abs(dif)
        auc = np.sum(0.5 * (1.0 / _FS) * np.abs(X[:, :-1] + X[:, 1:]), axis=1)
        mean_diff = dif.mean(axis=1)
        median_diff = np.median(dif, axis=1)
        mean_abs_diff = adif.mean(axis=1)
        median_abs_diff = np.median(adif, axis=1)
        sum_abs_diff = adif.sum(axis=1)
        signal_dist = np.sum(np.sqrt(1.0 + dif * dif), axis=1)
        t = np.arange(n, dtype="float64")
        tc = t - t.mean()
        slope = np.sum(tc * dvec, axis=1) / np.sum(tc * tc)
        if n >= 3:
            pos_turn = np.sum((dif[:, :-1] > 0) & (dif[:, 1:] < 0), axis=1).astype("float64")
            neg_turn = np.sum((dif[:, :-1] < 0) & (dif[:, 1:] > 0), axis=1).astype("float64")
        else:
            pos_turn = neg_turn = zero
    else:
        auc = mean_diff = median_diff = mean_abs_diff = nanv
        median_abs_diff = sum_abs_diff = signal_dist = slope = nanv
        pos_turn = neg_turn = zero

    autocorr = np.einsum("ij,ij->i", X, X)
    te = e @ (np.arange(n, dtype="float64") / _FS)
    with np.errstate(divide="ignore", invalid="ignore"):
        centroid = np.where((abs_energy == 0) | (te == 0), 0.0, te / abs_energy)

    # entropy via per-element run counts on the sorted rows:
    #   H = -(1/n) * sum_j log2(c(x_j)/n) / log2(n); 0 if single value or n<=1
    if n > 1:
        idx = np.arange(n)
        is_start = np.concatenate(
            [np.ones((g, 1), dtype=bool), s[:, 1:] != s[:, :-1]], axis=1
        )
        run_start = np.maximum.accumulate(np.where(is_start, idx, 0), axis=1)
        is_end = np.concatenate(
            [s[:, 1:] != s[:, :-1], np.ones((g, 1), dtype=bool)], axis=1
        )
        rev = np.where(is_end, idx, n - 1)[:, ::-1]
        run_end = np.minimum.accumulate(rev, axis=1)[:, ::-1]
        c = (run_end - run_start + 1).astype("float64")
        single = c[:, 0] == n  # one run == one distinct value
        ent = -np.sum(np.log2(c / n), axis=1) / n / np.log2(n)
        entropy = np.where(single, 0.0, ent)
    else:
        entropy = zero

    zcr = np.count_nonzero(np.diff(np.sign(X), axis=1), axis=1).astype("float64")

    if n > 2 * _NPEAKS_N:
        sub = X[:, _NPEAKS_N:-_NPEAKS_N]
        peaks = np.ones(sub.shape, dtype=bool)
        for i in range(1, _NPEAKS_N + 1):
            peaks &= sub > np.roll(X, i, axis=1)[:, _NPEAKS_N:-_NPEAKS_N]
            peaks &= sub > np.roll(X, -i, axis=1)[:, _NPEAKS_N:-_NPEAKS_N]
        npeaks = peaks.sum(axis=1).astype("float64")
    else:
        npeaks = zero

    pkpk = np.abs(mx - mn)

    return np.column_stack([
        mean, median, mx, mn, mx - mn, std, m2, rms, mean_ad, med_ad, iqr,
        skew, kurt, e005, e01, e02, e08, abs_energy, total_energy, auc,
        autocorr, centroid, entropy, mean_diff, median_diff, mean_abs_diff,
        median_abs_diff, sum_abs_diff, signal_dist, slope, zcr,
        pos_turn, neg_turn, npeaks, pkpk,
    ])


_NPEAKS_N = 10


def compute_features_batch(
    vals: np.ndarray, lo: np.ndarray, lengths: np.ndarray
) -> np.ndarray:
    """Features for many windows sliced out of one signal array.

    ``vals`` is the key's full signal; window i is ``vals[lo[i]:lo[i]+
    lengths[i]]``. Windows are grouped by length and computed as 2-D
    stacks — numpy call overhead is amortized across the whole group
    instead of paid 35x per window. Returns (m, 35)."""
    m = len(lo)
    out = np.empty((m, 35), dtype="float64")
    for n in np.unique(lengths):
        sel = np.flatnonzero(lengths == n)
        gather = lo[sel][:, None] + np.arange(int(n))[None, :]
        out[sel] = _features_matrix(vals[gather])
    return out

