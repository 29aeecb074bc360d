"""Positional causal split vs a pure-Python oracle: per key, rows ordered
by (ts, tiebreak); the first floor(n*f) rows per cut get each label."""

from __future__ import annotations

import math
import random

import pytest

from feature_engineering_spark.operators.split import causal_split


def _oracle(rows, fracs):
    """(eid -> label, number of cuts that fall between two rows sharing
    a timestamp)."""
    labels = ("train", "test") if len(fracs) == 1 else ("train", "valid", "test")
    by_key: dict[str, list] = {}
    for key, ts, eid in rows:
        by_key.setdefault(key, []).append((ts, eid))
    want, tied_cuts = {}, 0
    for evs in by_key.values():
        evs.sort()
        n = len(evs)
        cuts = [math.floor(n * f) for f in fracs]
        tied_cuts += sum(0 < c < n and evs[c - 1][0] == evs[c][0] for c in cuts)
        for pos, (_, eid) in enumerate(evs, start=1):
            want[eid] = next(
                (lab for lab, c in zip(labels, cuts) if pos <= c), labels[-1]
            )
    return want, tied_cuts


@pytest.mark.parametrize("fracs", [(0.8,), (0.6, 0.8)])
def test_causal_split_cuts_with_tiebreak(spark, fracs):
    rng = random.Random(7)
    rows = []
    eid = 0
    # key sizes straddle the cuts (1 row: floor(n*f) = 0, all test);
    # timestamps repeat in runs of up to 3, so only the tiebreak orders
    # rows that share a timestamp across a cut
    for key, n in (("a", 10), ("b", 7), ("c", 1), ("d", 23)):
        ts = 0
        for _ in range(n):
            ts += rng.choice((0, 0, 1))
            eid += 1
            rows.append((key, ts, eid * 37 % 101))
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k string, ts long, eid long")

    out = causal_split(df, key="k", ts="ts", fracs=fracs, tiebreak="eid")
    got = {r["eid"]: r["split"] for r in out.collect()}
    want, tied_cuts = _oracle(rows, fracs)
    assert out.columns == ["k", "ts", "eid", "split"]
    assert got == want
    # the tiebreak decides at least one cut, and every label occurs
    assert tied_cuts > 0
    assert set(got.values()) == ({"train", "test"} if len(fracs) == 1
                                 else {"train", "valid", "test"})


@pytest.mark.parametrize("fails", [False, True])
def test_forward_select_leaves_no_cache(spark, monkeypatch, fails):
    """``forward_select`` caches its train and valid splits across the
    fits and unpersists both on the way out, also when a fit raises."""
    from feature_engineering_spark.operators import selection

    rng = random.Random(3)
    rows = []
    for i in range(60):
        a, b = rng.random(), rng.random()
        rows.append(("train" if i % 3 else "valid", a, b, 2 * a + 0.1 * rng.random()))
    df = spark.createDataFrame(rows, "split string, a double, b double, y double")
    if fails:
        def boom(*args, **kwargs):
            raise RuntimeError("fit failed")

        monkeypatch.setattr(selection, "_fit_r2", boom)
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    if fails:
        with pytest.raises(RuntimeError, match="fit failed"):
            selection.forward_select(df, ["a", "b"], fmax=1)
    else:
        selected, _ = selection.forward_select(df, ["a", "b"], fmax=1)
        assert selected == ["a"]
    assert cache.isEmpty()
