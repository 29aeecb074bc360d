"""Worker-side window kernel — deliberately imports ONLY numpy/pandas.

This module is what mapInPandas workers unpickle. Keeping pyspark out of
its import graph matters operationally: a Python worker's first task pays
the closure module's import cost, and importing pyspark (~3-4 s) times 32
workers under CPU contention was measured to add a ~15 s anti-scaling
floor to the whole job. numpy/pandas are already loaded by the Arrow
serializer, so first-use cost here is ~0.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from feature_engineering_spark.functions.features import (
    compute_features_batch,
    feature_columns,
)


def make_partition_window_mapper(
    key: str,
    signals: list[str],
    out_cols: list[str],
    window_size: float,
    step: float,
    min_points: int,
    exclusive_end: bool,
    include_sequences: bool,
    bounds_cols: tuple[str, str, str] | None = None,
):
    """Build the per-partition mapper for mapInPandas.

    Input partitions are sorted by (key[, __chunk], __t). Grid construction
    is cheap per-group numpy (arange + searchsorted on the group's slice);
    all windows in the partition then flow through ONE
    compute_features_batch call per signal and ONE output frame — Python
    and Arrow overhead is per-partition, not per-group.

    ``bounds_cols`` (salted path) = (t0s, t1, span) column names: per-group
    grid-range overrides; the chunk ownership window [chunk_lo, chunk_hi)
    is derived here as t0s + chunk*span (same double arithmetic the JVM
    side used to ship as two extra per-row columns — deriving it in the
    kernel saves 16 bytes/row through the salted shuffle).

    The mapper STREAMS Arrow batches: complete groups are processed as
    soon as a batch closes them; only the trailing (possibly incomplete)
    group is carried across batches. The previous implementation
    pd.concat-ed the whole partition up front — at 2M rows/partition that
    is an ~80 MB copy plus every later pass re-streaming it from DRAM,
    measured as part of the single-socket bandwidth ceiling that bounds
    thread-scaling (BENCH/ANALYSIS.md). Working set per piece is now one
    Arrow batch + the open group, which stays cache-resident. Numerics
    are unchanged: windows never cross group boundaries, and every group
    is processed whole.

    Raises ``ValueError`` on the driver for ``step <= 0`` or
    ``min_points < 1``: the grid would be empty or unbounded, or a window
    of zero points would reach the kernel, and either would only fail
    (or silently yield nothing) inside a Python worker.
    """
    if step <= 0:
        raise ValueError(f"step must be > 0, got {step}")
    if min_points < 1:
        raise ValueError(f"min_points must be >= 1, got {min_points}")
    group_cols = [key] if bounds_cols is None else [key, "__chunk"]

    def _process(pdf):
        """Feature rows for a frame whose groups are all COMPLETE."""
        t = pdf["__t"].to_numpy(dtype="float64")
        gkeys = [pdf[c].to_numpy() for c in group_cols]
        new_grp = np.zeros(len(pdf), dtype=bool)
        new_grp[0] = True
        for gk in gkeys:
            new_grp[1:] |= gk[1:] != gk[:-1]
        g_lo = np.flatnonzero(new_grp)
        g_hi = np.r_[g_lo[1:], len(pdf)]

        all_starts, all_lo, all_ends, all_grp = [], [], [], []
        for gi, (a, b) in enumerate(zip(g_lo, g_hi)):
            tg = t[a:b]
            if bounds_cols is None:
                first = np.floor(tg[0] / step) * step
                starts = np.arange(first, tg[-1] + 1e-9, step)
            else:
                t0s = pdf[bounds_cols[0]].iat[a]
                t1 = pdf[bounds_cols[1]].iat[a]
                span = pdf[bounds_cols[2]].iat[a]
                c_lo = t0s + gkeys[1][a] * span
                c_hi = c_lo + span
                starts = np.arange(t0s, t1 + 1e-9, step)
                starts = starts[(starts >= c_lo - 1e-9) & (starts < c_hi - 1e-9)]
            if len(starts) == 0:
                continue
            lo = a + np.searchsorted(tg, starts - 1e-9, side="left")
            hi = a + np.searchsorted(tg, starts + window_size + 1e-9, side="right")
            ends = (hi - lo) - (1 if exclusive_end else 0)
            keep = ends >= min_points
            if not keep.any():
                continue
            all_starts.append(starts[keep])
            all_lo.append(lo[keep])
            all_ends.append(ends[keep])
            all_grp.append(np.full(int(keep.sum()), gi))
        if not all_starts:
            return None
        starts = np.concatenate(all_starts)
        lo = np.concatenate(all_lo)
        ends = np.concatenate(all_ends)
        grp = np.concatenate(all_grp)
        key_vals = gkeys[0][g_lo[grp]]
        data: dict = {
            key: key_vals,
            "win_start": starts,
            "win_end": starts + window_size,
            "n_points": ends.astype("int64"),
        }
        for s in signals:
            vals = pdf[s].to_numpy(dtype="float64")
            if include_sequences:
                data[f"{s}_seq"] = [
                    vals[i0 : i0 + n].tolist() for i0, n in zip(lo, ends)
                ]
            feats = compute_features_batch(vals, lo, ends)
            for j, c in enumerate(feature_columns(s)):
                data[c] = feats[:, j]
        return pd.DataFrame(data, columns=out_cols)

    def _concat(pieces):
        if len(pieces) == 1:
            return pieces[0]
        return pd.concat(pieces, ignore_index=True)

    def mapper(batches):
        tail: list = []           # pieces of the open (trailing) group
        prev_last: tuple | None = None  # group-col values of the last row seen
        for b in batches:
            if not len(b):
                continue
            gvals = [b[c].to_numpy() for c in group_cols]
            bs = np.zeros(len(b), dtype=bool)
            for gv in gvals:
                bs[1:] |= gv[1:] != gv[:-1]
            if prev_last is None or any(
                gv[0] != pl for gv, pl in zip(gvals, prev_last)
            ):
                bs[0] = True
            prev_last = tuple(gv[-1] for gv in gvals)
            starts = np.flatnonzero(bs)
            if len(starts) == 0:  # whole batch continues the open group
                tail.append(b)
                continue
            last = int(starts[-1])  # start of the batch's final group
            closed = tail + ([b.iloc[:last]] if last else [])
            if closed:
                out = _process(_concat(closed))
                if out is not None:
                    yield out
            tail = [b.iloc[last:]]
        if tail:
            out = _process(_concat(tail))
            if out is not None:
                yield out

    return mapper
