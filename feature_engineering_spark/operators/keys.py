"""Surrogate-key dictionary encoding for wide string keys (url).

Why: every stage of the flagship pipeline shuffles on `url` — sessionize's
window partition, the as-of union, the salted (key, chunk) repartition.
Common-Crawl urls are 40-200 bytes; hashing them down to an 8-byte long
before the first shuffle cuts shuffle row width by ~half and removes
string comparison from every sort key. The url string itself crosses the
wire ZERO times in the middle stages: it is re-attached at the end by a
dictionary join (one row per DISTINCT url — map-side partial distinct
keeps the dictionary build's shuffle tiny, and AQE broadcasts the join
when the dictionary is small).

Collision math (why a hash instead of a dense id assignment): xxhash64 is
a uniform 64-bit hash, so P(any collision among n urls) ~ n^2 / 2^65 —
5e-9 at n = 10^7, 0.027 at n = 10^9. A collision silently merges two
urls' event streams, so:
- ``verify_injective`` (cheap: two counts over the dictionary) turns the
  risk into a loud failure;
- ``bits=128`` (two independent xxhash64 seeds packed into a struct)
  drops the any-collision probability to ~n^2/2^129 (~1e-20 at 10^9) for
  16 bytes/row, still far narrower than the string;
- at true 10^12 scale the right answer is a persistent dictionary
  assigned at ingest (monotonic ids per new url against the dictionary
  table); this module is the in-job variant for pipelines without one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _key_expr(col: str, bits: int):
    if bits == 64:
        return F.xxhash64(F.col(col))
    if bits == 128:
        return F.struct(
            F.xxhash64(F.col(col)).alias("h1"),
            F.xxhash64(F.lit(1), F.col(col)).alias("h2"),
        )
    raise ValueError(f"bits must be 64 or 128, got {bits}")


def encode_key(
    df: DataFrame, col: str = "url", key_col: str = "url_key", bits: int = 64
) -> DataFrame:
    """Add the surrogate key column and DROP the string key (the point is
    that the string never enters a downstream shuffle)."""
    return df.withColumn(key_col, _key_expr(col, bits)).drop(col)


def key_dictionary(
    df: DataFrame, col: str = "url", key_col: str = "url_key", bits: int = 64
) -> DataFrame:
    """(key_col, col) with one row per distinct string key. The distinct is
    a map-side-combined aggregation: each task emits only its local
    distinct pairs, so shuffle volume is O(tasks x distinct), not O(rows)."""
    return df.select(
        _key_expr(col, bits).alias(key_col), F.col(col)
    ).distinct()


def verify_injective(dictionary: DataFrame, key_col: str = "url_key") -> int:
    """Raise if two distinct strings collided into one surrogate key.
    Returns the dictionary size. Two aggregate counts over the (small)
    dictionary — run it at job start so a collision fails loudly instead
    of silently merging two keys' histories."""
    row = dictionary.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(key_col).alias("k"),
    ).collect()[0]
    if row["n"] != row["k"]:
        raise ValueError(
            f"surrogate key collision: {row['n']} distinct strings -> "
            f"{row['k']} keys; use bits=128 or a persistent ingest dictionary"
        )
    return int(row["n"])


def decode_key(
    out: DataFrame,
    dictionary: DataFrame,
    key_col: str = "url_key",
) -> DataFrame:
    """Re-attach the string key to a keyed output frame. Plain equi-join:
    AQE broadcasts the dictionary when it is small; at dictionary sizes
    beyond broadcast this is ONE wide shuffle at the end instead of
    carrying the string through every intermediate shuffle."""
    return out.join(dictionary, key_col, "left").drop(key_col)
