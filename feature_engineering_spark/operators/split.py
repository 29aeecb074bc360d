"""Causal splits, variance pruning, NaN hygiene, composite targets — the
feature-selection support layer (SURVEY.md O6, A7, P9, A10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feature_engineering_spark.functions.text import token_hash64


def causal_split(
    df: DataFrame,
    key: str = "url",
    ts: str = "warc_ts",
    fracs: tuple[float, ...] = (0.8,),
    tiebreak: str | None = None,
) -> DataFrame:
    """Strictly causal positional split per key into a ``split`` column,
    rows ordered by (ts, tiebreak). One cut ``(f,)``: the first
    floor(n*f) of each key's n rows are train, the rest test (reference:
    positional 80/20 split, /root/reference/get_features.py:252-264).
    Two cuts ``(f1, f2)``: the first floor(n*f1) are train, the rows up
    to floor(n*f2) valid, the rest test (the reference's holdout of the
    train+valid tail, get_features.py:339-346). Later rows NEVER inform
    earlier ones."""
    labels = {1: ("train", "test"), 2: ("train", "valid", "test")}[len(fracs)]
    order = [ts] + ([tiebreak] if tiebreak else [])
    rn = F.row_number().over(Window.partitionBy(key).orderBy(*order))
    n = F.count(F.lit(1)).over(Window.partitionBy(key))
    label = F.when(rn <= F.floor(n * F.lit(fracs[0])), F.lit(labels[0]))
    for frac, name in zip(fracs[1:], labels[1:]):
        label = label.when(rn <= F.floor(n * F.lit(frac)), F.lit(name))
    return df.withColumn("split", label.otherwise(F.lit(labels[-1])))


def variance_prune(df: DataFrame, cols: list[str]) -> tuple[DataFrame, list[str]]:
    """Drop zero-variance feature columns (reference:
    /root/reference/utils/analysis.py:306-311). One aggregate row collected
    to the driver (cheap: one row), then a select."""
    aggs = [F.var_pop(F.col(f"`{c}`")).alias(c) for c in cols]
    row = df.agg(*aggs).collect()[0]
    keep = [c for c in cols if row[c] is not None and row[c] > 0]
    dropped = [c for c in cols if c not in keep]
    others = [c for c in df.columns if c not in cols]
    return df.select(*[F.col(f"`{c}`") for c in others + keep]), dropped


def clean_nan_columns(df: DataFrame, candidate_cols: list[str]) -> tuple[DataFrame, list[str]]:
    """The reference's clean_nans drops ANY column containing a NaN/inf
    (/root/reference/utils/analysis.py:115-134 — deliberate quirk, column-
    not row-wise). Two-pass: one aggregate of per-column bad-flags (single
    collected row), then a select of survivors."""
    def bad(c):
        col = F.col(f"`{c}`")
        return F.max(
            (F.isnan(col) | col.isNull() | (F.abs(col) == float("inf"))).cast("int")
        ).alias(c)

    row = df.agg(*[bad(c) for c in candidate_cols]).collect()[0]
    dropped = [c for c in candidate_cols if row[c] == 1]
    keep = [c for c in df.columns if c not in dropped]
    return df.select(*[F.col(f"`{c}`") for c in keep]), dropped


def composite_target(
    df: DataFrame,
    count_cols: list[str],
    weights: list[float],
    powers: list[float],
    base_col: str | None = None,
    out_col: str = "di",
) -> DataFrame:
    """Weighted-power composite of defect-count columns — the DI/KPI shape
    (reference: compute_di_aran/compute_kpi_aran,
    /root/reference/utils/analysis.py:463-483; KPI = DI + IRI_mean).
    Pure column expressions."""
    expr = F.lit(0.0)
    for c, w, p in zip(count_cols, weights, powers):
        expr = expr + F.lit(w) * F.pow(F.coalesce(F.col(c), F.lit(0.0)), F.lit(p))
    out = df.withColumn(out_col, expr)
    if base_col:
        out = out.withColumn(f"{out_col}_kpi", F.col(out_col) + F.col(base_col))
    return out


def drop_duplicate_columns(df: DataFrame, verify_values: bool = False) -> DataFrame:
    """P11 (reference data_loaders.py:26-31: duplicated columns from a DB
    error are dropped keeping the first occurrence). Spark can't address
    duplicate names directly, so rename positionally via toDF, then drop
    the renamed extras. No-op (same plan) when names are already unique.

    Semantics note (deliberate deviation from the reference): the reference
    dedups by column VALUES (DRD_data.T.drop_duplicates().T), this operator
    dedups by NAME — the failure mode it targets is the same-name duplicate
    a join/DB error produces, and a value-based transpose is not expressible
    at 10^12 rows. Two consequences, both intentional: differently-named
    columns with identical content are KEPT, and same-named columns are
    assumed to carry identical content. ``verify_values=True`` checks that
    second assumption (one aggregate pass computing an order-insensitive
    value hash per duplicate pair) and raises instead of silently dropping
    a same-named column whose content differs."""
    seen: set[str] = set()
    names: list[str] = []
    drops: list[str] = []
    dup_of: list[tuple[str, str]] = []  # (kept name, dropped alias)
    for i, c in enumerate(df.columns):
        if c in seen:
            alias = f"__dup{i}__{c}"
            names.append(alias)
            drops.append(alias)
            dup_of.append((c, alias))
        else:
            seen.add(c)
            names.append(c)
    if not drops:
        return df
    renamed = df.toDF(*names)
    if verify_values:
        def col_hash(c: str):
            return F.sum(
                F.xxhash64(F.col(f"`{c}`").cast("string")).cast("decimal(38,0)")
            )

        checks = renamed.agg(
            *[col_hash(k).alias(f"k{i}") for i, (k, _) in enumerate(dup_of)],
            *[col_hash(d).alias(f"d{i}") for i, (_, d) in enumerate(dup_of)],
        ).collect()[0]
        for i, (k, d) in enumerate(dup_of):
            if checks[f"k{i}"] != checks[f"d{i}"]:
                raise ValueError(
                    f"duplicate-named column {k!r} has DIFFERENT content than "
                    "the first occurrence — refusing to drop it "
                    "(verify_values=True)"
                )
    return renamed.drop(*drops)


def _key_bucket(key: str, salt: str) -> Column:
    """md5-60 hash of ``salt:key`` mod 10^6 — the content-addressed
    membership bucket of both samplers (exact DuckDB twin)."""
    return token_hash64(F.concat_ws(":", F.lit(salt), F.col(key))) % F.lit(1_000_000)


def deterministic_sample(
    df: DataFrame,
    rate: float,
    key: str = "doc_id",
    salt: str = "s0",
) -> DataFrame:
    """Content-addressed Bernoulli sample: keep a row iff
    md5(salt:key) mod 10^6 < rate*10^6. Unlike df.sample(), membership is
    a pure function of the key — stable across runs, partitionings, and
    engines (exact DuckDB twin), so a 1% corpus sample is reproducible
    and JOINABLE with itself downstream. Per-stratum rates compose by
    calling this per partition-of-interest with different rates."""
    return df.where(_key_bucket(key, salt) < int(rate * 1_000_000))


def domain_mix_sample(
    df: DataFrame,
    weights: dict[str, float],
    domain_col: str = "lang",
    key: str = "doc_id",
    salt: str = "mix0",
) -> DataFrame:
    """Deterministic data MIXING: downsample each domain so the output
    follows the target proportions ``weights`` (DoReMi / The Pile style
    domain reweighting), at the largest corpus size the observed counts
    allow. With observed counts n_d and targets pi_d, the feasible output
    size is S = min_d(n_d / pi_d); each domain keeps rate_d =
    (pi_d * S) / n_d of its rows via the same content-addressed md5
    bucket as deterministic_sample, so membership is a pure function of
    the key and the mix is reproducible across runs and engines. Domains
    absent from ``weights`` are dropped (weight zero).

    Returns the sampled rows (all original columns). Scale shape: the
    per-domain counts are ONE map-side-combined groupBy (|domains| rows);
    targets and the single-row S ride in as broadcasts; the acceptance
    test is a scan-side expression — no second shuffle of the data, no
    driver-side collect.

    Cross-engine exactness: rate_d is computed as (pi_d * S) / n_d in
    that exact operation order, then FLOOR(rate * 1e6) — every step is
    an IEEE double op both engines perform identically, so the integer
    thresholds match bit-for-bit (no ROUND anywhere).
    """
    spark = df.sparkSession
    w = spark.createDataFrame(
        [(d, float(p)) for d, p in sorted(weights.items())],
        f"{domain_col} string, pi double",
    )
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n_d"))
    per_dom = counts.join(F.broadcast(w), domain_col)
    s = per_dom.agg(
        F.min(F.col("n_d") / F.col("pi")).alias("s_max")
    )
    rates = per_dom.crossJoin(F.broadcast(s)).select(
        domain_col,
        F.floor(
            F.least(F.lit(1.0), (F.col("pi") * F.col("s_max")) / F.col("n_d"))
            * F.lit(1_000_000.0)
        ).alias("thr"),
    )
    return (
        df.withColumn("__b", _key_bucket(key, salt))
        .join(F.broadcast(rates), domain_col)
        .where(F.col("__b") < F.col("thr"))
        .drop("__b", "thr")
    )
