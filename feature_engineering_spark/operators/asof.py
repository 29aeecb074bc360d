"""Point-in-time / as-of join (SURVEY.md §2.3 J3/J4/J5 — the heart of the
engine).

Reference semantics being generalized:
- J3: pick the reference row at/bebefore a boundary
  (/root/reference/utils/data_transforms.py:52-53)
- J4: kNN matching with a max-distance reject (matching.pyc
  ``do_kNN_matching``; ``max_distance`` ≙ our ``tolerance``)
- J5: backward match at window start + forward match at window end — the
  backfill primitive (matching.pyc ``align_DRD_GM``).

Our key is equality on the entity (``url``) plus time as-of on ``warc_ts``
(north_rule). Matching is strictly causal for ``direction='backward'``: a
left row at time T never reads a right row with ts > T.

One physical plan (pure JVM, no Python): tag and union both inputs,
hash-shuffle once on the key, sort each partition by (ts, tag), and carry
the most recent right-side row to each left row with
``last(ignorenulls=True)`` over a running window (``first`` over the
following window for ``direction='forward'``). Cost: ONE shuffle of
|L|+|R| rows, no join node, no Python worker. AQE handles partition
coalescing. This is the co-partitioned, time-ordered evaluation the
temporal-join literature argues for: sort-merge-like locality without
materializing a join.

Tie semantics match ``pd.merge_asof`` / DuckDB ``ASOF JOIN``:
backward = latest right with rts <= lts (exact match allowed);
forward = earliest right with rts >= lts. Duplicate right timestamps are
broken by ``right_tiebreak``: for ``backward`` the row with the largest
tiebreak wins, for ``forward`` the smallest — what ``merge_asof`` picks
from a right side sorted by (ts, tiebreak). Without ``right_tiebreak``
the winner among duplicates depends on partition order.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_engineering_spark.functions.timeutil import epoch_seconds


def _as_list(x: str | Iterable[str]) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def _quote(name: str) -> str:
    """A column name as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] = "url",
    left_ts: str = "warc_ts",
    right_ts: str | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    right_cols: list[str] | None = None,
    suffix: str = "_r",
    right_tiebreak: str | None = None,
) -> DataFrame:
    """Left as-of join: every left row, plus the matched right row's columns
    (suffixed on collision) and ``matched_ts`` (null when no match / outside
    tolerance).

    ``right_cols`` limits which right columns are carried (default: all
    non-key, non-ts). Column pruning matters: the carried struct is shuffled.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    keys = _as_list(on)
    rts = right_ts or left_ts
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in keys and c != rts]
    out_names = [c + suffix if c in left.columns else c for c in right_cols]

    backward = direction == "backward"
    # Tag order at equal ts: backward wants the right row to sort BEFORE the
    # left row (so an exact-ts match is visible in the trailing frame);
    # forward wants it AFTER (visible in the leading frame).
    ltag, rtag = (1, 0) if backward else (0, 1)

    # The projections and the window are SQL text, one selectExpr each:
    # every Column builder is a Py4J round trip or several (see
    # operators/similarity), and these projections grow with the schemas.
    # The other side's payload is an untyped NULL; the union widens it to
    # that payload's type.
    q = _quote
    ts = f"CAST({q(rts)} AS TIMESTAMP)"
    payload = ", ".join([
        f"{ts} AS __rts",
        *([f"{q(right_tiebreak)} AS __tb"] if right_tiebreak else []),
        *[f"{q(c)} AS v{i}" for i, c in enumerate(right_cols)],
    ])
    r2 = right.selectExpr(
        *map(q, keys), f"{ts} AS __ts", f"{rtag} AS __tag",
        f"struct({payload}) AS __r", "NULL AS __l",
    )
    # Left payload: ONE nullable struct of the non-key left columns (keys
    # stay top-level for the hash partitioning). An UnsafeRow reserves a
    # fixed 8-byte slot per top-level field even when it is null, so the
    # old per-column `__l_*` padding made every RIGHT row pay ~8B x |left
    # schema| of dead weight through the union's shuffle; a null struct
    # costs one slot.
    lcols = [c for c in left.columns if c not in keys]
    lstruct = ", ".join(f"{q(c)} AS {q(c)}" for c in lcols)
    l2 = left.selectExpr(
        *map(q, keys), f"CAST({q(left_ts)} AS TIMESTAMP) AS __ts",
        f"{ltag} AS __tag", "NULL AS __r", f"struct({lstruct}) AS __l",
    )
    u = l2.unionByName(r2)

    # Duplicate right timestamps: without a tiebreak, "which right row
    # wins" is partition-order-dependent. Callers with dup-ts right sides
    # pass right_tiebreak (carried inside the payload struct) to pin it.
    order = ["__ts", "__tag"]
    if right_tiebreak is not None:
        u = u.selectExpr("*", "__r.__tb AS __tb")
        order.append("__tb")
    over = f"PARTITION BY {', '.join(map(q, keys))} ORDER BY {', '.join(order)}"
    if backward:
        frame = "UNBOUNDED PRECEDING AND CURRENT ROW"
        matched = f"last(__r, true) OVER ({over} ROWS BETWEEN {frame})"
    else:
        frame = "CURRENT ROW AND UNBOUNDED FOLLOWING"
        matched = f"first(__r, true) OVER ({over} ROWS BETWEEN {frame})"

    res = u.selectExpr("*", f"{matched} AS __m").where(f"__tag = {ltag}")
    if tolerance_seconds is not None:
        dt = epoch_seconds(F.col("__ts")) - epoch_seconds(F.col("__m.__rts"))
        in_tol = (F.abs(dt) <= F.lit(float(tolerance_seconds)))
        res = res.withColumn("__m", F.when(in_tol, F.col("__m")))
    out_left = [
        f"{q(c)} AS {q(c)}" if c in keys else f"__l.{q(c)} AS {q(c)}"
        for c in left.columns
    ]
    return res.selectExpr(
        *out_left,
        "__m.__rts AS matched_ts",
        *[f"__m.v{i} AS {q(n)}" for i, n in enumerate(out_names)],
    )


def backfill_asof(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] = "url",
    left_ts: str = "warc_ts",
    right_ts: str | None = None,
    value: str = "iri",
    tolerance_seconds: float | None = None,
    right_tiebreak: str | None = None,
) -> DataFrame:
    """Backward + forward as-of in one pass with linear interpolation —
    the reference's start/end alignment + GPS interpolation (J5 + W8,
    matching.pyc ``align_DRD_GM`` / ``interpolate_trip``).

    Adds: ``{value}_prev, prev_ts, {value}_next, next_ts, {value}_interp``.
    ``_interp`` is the time-weighted linear blend when both sides exist,
    else whichever side exists (ffill/bfill), else null.
    """
    b = asof_join(
        left, right, on, left_ts, right_ts, "backward",
        tolerance_seconds, [value], right_tiebreak=right_tiebreak,
    ).withColumnRenamed("matched_ts", "prev_ts").withColumnRenamed(
        value if value not in left.columns else value + "_r", f"{value}_prev"
    )
    f_ = asof_join(
        b, right, on, left_ts, right_ts, "forward",
        tolerance_seconds, [value], right_tiebreak=right_tiebreak,
    ).withColumnRenamed("matched_ts", "next_ts").withColumnRenamed(
        value if value not in b.columns else value + "_r", f"{value}_next"
    )
    t = epoch_seconds(F.col(left_ts))
    t0, t1 = epoch_seconds(F.col("prev_ts")), epoch_seconds(F.col("next_ts"))
    v0, v1 = F.col(f"{value}_prev"), F.col(f"{value}_next")
    frac = (t - t0) / (t1 - t0)
    interp = (
        F.when(v0.isNotNull() & v1.isNotNull() & (t1 != t0), v0 + (v1 - v0) * frac)
        .when(v0.isNotNull() & v1.isNotNull(), v0)  # degenerate t1 == t0
        .when(v0.isNotNull(), v0)
        .otherwise(v1)
    )
    return f_.withColumn(f"{value}_interp", interp)
