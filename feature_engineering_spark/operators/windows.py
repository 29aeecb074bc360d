"""Sliding-window segmentation + per-window feature extraction
(SURVEY.md W1-W3 + §2.6).

Reference semantics reproduced deliberately (each is pinned by a test):
- window membership is INCLUSIVE on both ends (``between`` —
  /root/reference/utils/data_loaders.py:470-471), so boundary rows belong
  to two adjacent grid windows;
- per-window statistics and the stored sequence EXCLUDE the last row of
  the window (``[:-1]`` — data_loaders.py:483,492-493);
- windows with fewer than ``min_points`` samples (post-slice) are dropped
  (data_transforms.py:56-58 uses 10);
- the grid snaps to multiples of ``step`` (data_transforms.py:30-31);
- ECDF Percentile features are null for sequences of <= 20 points
  (analysis.py:195-198).

Physical plan: ONE hash shuffle on the entity key, then a single
``applyInPandas`` per key group does grid construction (searchsorted over
the sorted timestamps — windows are contiguous slices) and the 35-feature
kernel per signal. No second shuffle for the window group-by, no exploded
row blow-up (the naive explode(sequence) expansion multiplies rows by
window_size/step — 10x at defaults — before aggregating; this operator
never materializes that).

Scale: a single url group must fit one Python worker's memory. Page
streams per url are bounded in practice (even a crawl revisiting a url
hourly for 10 years is ~90k rows); truly pathological keys go through
operators/skew.salted_window_features which range-splits hot keys with a
``window_size`` halo so every window stays complete.
"""

from __future__ import annotations

from typing import Iterable

import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_engineering_spark.functions import text as TX
from feature_engineering_spark.functions.features import feature_columns
from feature_engineering_spark.functions.timeutil import epoch_seconds
from feature_engineering_spark.functions.window_kernel import (
    make_partition_window_mapper,
)


def window_feature_schema(
    key: str,
    signals: Iterable[str],
    include_sequences: bool = False,
    key_type: T.DataType | None = None,
) -> T.StructType:
    fields = [
        T.StructField(key, key_type or T.StringType(), False),
        T.StructField("win_start", T.DoubleType(), False),
        T.StructField("win_end", T.DoubleType(), False),
        T.StructField("n_points", T.LongType(), False),
    ]
    for s in signals:
        if include_sequences:
            fields.append(T.StructField(f"{s}_seq", T.ArrayType(T.DoubleType()), True))
        fields.extend(T.StructField(c, T.DoubleType(), True) for c in feature_columns(s))
    return T.StructType(fields)


def sliding_window_features(
    df: DataFrame,
    key: str = "url",
    ts: str = "warc_ts",
    signals: Iterable[str] = ("n_chars",),
    window_size: float = 600.0,
    step: float = 60.0,
    min_points: int = 10,
    exclusive_end: bool = True,
    include_sequences: bool = False,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """One row per (key, grid window) with 35 features per signal.

    ``win_start``/``win_end`` are epoch seconds of the grid boundaries
    (window = [win_start, win_start + window_size], inclusive).

    ``order_tiebreak``: unique column pinning the in-window order of rows
    with equal timestamps. Without it, duplicate-ts rows sort arbitrarily —
    the exclusive-end ``[:-1]`` drop and every order-sensitive statistic
    (diffs, slope, turning points) become nondeterministic on dup-ts data.
    """
    signals = list(signals)
    schema = window_feature_schema(
        key, signals, include_sequences, key_type=df.schema[key].dataType
    )
    tb = [order_tiebreak] if order_tiebreak else []
    prepared = df.select(
        F.col(key),
        epoch_seconds(ts).alias("__t"),
        *[F.col(c) for c in tb],
        *[F.col(s).cast("double").alias(s) for s in signals],
    )
    n_parts = prepared.sparkSession.conf.get("spark.sql.shuffle.partitions")
    part = prepared.repartition(int(n_parts), key).sortWithinPartitions(
        key, "__t", *tb
    )
    mapper = make_partition_window_mapper(
        key, signals, [f.name for f in schema.fields], window_size, step,
        min_points, exclusive_end, include_sequences,
    )
    return part.mapInPandas(mapper, schema=schema)


def direction_filter(
    df: DataFrame, seq_col: str = "seq", direction: str = "increasing"
) -> DataFrame:
    """P8 (reference data_transforms.py:66: keep segments whose time runs
    forward, ``Time[-1] - Time[0] > 0``): sequence-level filter comparing a
    sequence's last element to its first. ``direction='increasing'`` keeps
    strictly-forward sequences, ``'decreasing'`` strictly-backward ones.
    Pure JVM element_at — no shuffle beyond whatever built the sequences."""
    first = F.element_at(seq_col, 1)
    last = F.element_at(seq_col, -1)
    if direction == "increasing":
        return df.where(last > first)
    if direction == "decreasing":
        return df.where(last < first)
    raise ValueError(f"direction must be increasing|decreasing, got {direction}")


def derive_text_signals(df: DataFrame, text: str = "text") -> DataFrame:
    """Numeric per-page signals derived from text — the web-page analog of
    the reference's sensor channels (get_features.py:109-124). Pure JVM
    column expressions; the text column itself passes through untouched
    (byte-identity invariant)."""
    t = F.col(text)
    return (
        df.withColumn("n_chars", F.length(t).cast("double"))
        .withColumn("n_tokens", TX.ws_run_count(t).cast("double"))
        .withColumn("digit_ratio", TX.digit_ratio(t))
    )
