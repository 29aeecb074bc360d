"""Remaining SURVEY §2 operator queries: year filter (P5), histogram (A9),
correlation (A8), class binning (A11), haversine (J7), URL canonicalization
(S8), resample-to-grid (W7). Same oracle conventions as driver_queries.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_engineering_spark.functions.timeutil import epoch_micros
from feature_engineering_spark.plans.data_queries import _t


# ---------------------------------------------------------------- P5
def q_year_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.where(F.year("o_orderdate") == 1996)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 6).alias("sum_price"))
    )


SQL_YEAR_FILTER = """
SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 6) AS sum_price
FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
"""


# ---------------------------------------------------------------- A9
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of lineitem quantity (reference:
    get_normalized_hist, plotting.py:774-835) via width_bucket."""
    li = _t(spark, sf_dir, "lineitem")
    b = F.width_bucket(F.col("l_quantity"), F.lit(0.0), F.lit(50.0), F.lit(10))
    return (
        li.withColumn("bucket", b)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# DuckDB 1.0 has no width_bucket — inline the SQL-standard semantics
# (bucket 0 below min, n+1 at/above max, else floor((q-min)/w)+1).
SQL_HISTOGRAM = """
SELECT CASE WHEN l_quantity < 0.0 THEN 0
            WHEN l_quantity >= 50.0 THEN 11
            ELSE CAST(FLOOR((l_quantity - 0.0) / 5.0) AS BIGINT) + 1 END AS bucket,
       COUNT(*) AS n
FROM lineitem GROUP BY 1
"""


# ---------------------------------------------------------------- A8
def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlations between lineitem numerics (reference:
    df.corr(method='pearson'), plotting.py:151-152)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("q_price"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("q_disc"),
        F.round(F.corr("l_extendedprice", "l_tax"), 6).alias("price_tax"),
    )


SQL_CORR = """
SELECT ROUND(corr(l_quantity, l_extendedprice), 6) AS q_price,
       ROUND(corr(l_quantity, l_discount), 6) AS q_disc,
       ROUND(corr(l_extendedprice, l_tax), 6) AS price_tax
FROM lineitem
"""


# ---------------------------------------------------------------- A11
def q_class_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class binning of a continuous target (reference set_class:
    pd.cut(y, [0,2,5,50]) -> int8 labels, analysis.py:102-106).
    Bin edges (0,2,5,50], right-closed like pd.cut."""
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    label = (
        F.when((v > 0) & (v <= 2), 0)
        .when((v > 2) & (v <= 5), 1)
        .when((v > 5) & (v <= 50), 2)
        .otherwise(-1)
    )
    return (
        ev.withColumn("class", label.cast("int"))
        .groupBy("class")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("value"), 6).alias("avg_value"))
    )


SQL_CLASS_BIN = """
SELECT CASE WHEN value > 0 AND value <= 2 THEN 0
            WHEN value > 2 AND value <= 5 THEN 1
            WHEN value > 5 AND value <= 50 THEN 2
            ELSE -1 END AS class,
       COUNT(*) AS n, ROUND(AVG(value), 6) AS avg_value
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------- J7
def q_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haversine distances between derived point pairs (reference:
    matching.pyc haversine_distance). Points derived deterministically
    from events.value — same construction in the oracle."""
    from feature_engineering_spark.functions.geo import haversine_km

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 1000)
    lat1 = F.col("value") % 90 - 45
    lon1 = (F.col("value") * 3) % 360 - 180
    lat2 = (F.col("value") + 7) % 90 - 45
    lon2 = (F.col("value") * 5 + 11) % 360 - 180
    return ev.select(
        "event_id",
        F.round(haversine_km(lat1, lon1, lat2, lon2), 6).alias("dist_km"),
    )


SQL_HAVERSINE = """
WITH p AS (
  SELECT event_id,
         value % 90 - 45 AS lat1, (value * 3) % 360 - 180 AS lon1,
         (value + 7) % 90 - 45 AS lat2, (value * 5 + 11) % 360 - 180 AS lon2
  FROM events WHERE event_id < 1000
)
SELECT event_id,
       ROUND(2.0 * 6371.0 * asin(sqrt(
         sin(radians(lat2 - lat1) / 2) ^ 2
         + cos(radians(lat1)) * cos(radians(lat2)) * sin(radians(lon2 - lon1) / 2) ^ 2
       )), 6) AS dist_km
FROM p
"""


# ---------------------------------------------------------------- S8
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic URL canonicalization over constructed messy URLs."""
    from feature_engineering_spark.functions.geo import canonicalize_url

    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTP://Example"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(F.lit(":8080")),
        F.lit("/Path/"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return d.select("doc_id", canonicalize_url(url).alias("canon_url"))


SQL_URL_CANON = """
WITH u AS (
  SELECT doc_id,
         'HTTP://Example' || (doc_id % 7)::VARCHAR || '.COM'
         || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':8080' END)
         || '/Path/' || doc_id::VARCHAR
         || (CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END) AS url
  FROM documents
), s AS (
  SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM u
), parts AS (
  SELECT doc_id,
         lower(regexp_extract(u, '^([a-zA-Z]+)://', 1)) AS scheme,
         lower(regexp_extract(u, '^[a-zA-Z]+://([^/:?]+)', 1)) AS host,
         regexp_extract(u, '^[a-zA-Z]+://[^/:?]+:([0-9]+)', 1) AS port,
         regexp_extract(u, '^[a-zA-Z]+://[^/?]+([/?].*)$', 1) AS rest
  FROM s
)
SELECT doc_id,
       scheme || '://' || host
       || (CASE WHEN port != '' AND NOT ((scheme = 'http' AND port = '80')
                                      OR (scheme = 'https' AND port = '443'))
                THEN ':' || port ELSE '' END)
       || (CASE WHEN rest = '/' THEN '' ELSE rest END) AS canon_url
FROM parts
"""


# ---------------------------------------------------------------- domains
def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain rollup over canonicalized URLs — the web
    pipeline's 'group by site' primitive (hot domains are exactly the
    skew the salted window path splits). URLs constructed like
    url_canonicalize's fixture; host extracted post-canonicalization."""
    from feature_engineering_spark.functions.geo import canonicalize_url

    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTP://Example"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(F.lit(":8080")),
        F.lit("/Path/"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    canon = canonicalize_url(url)
    host = F.regexp_extract(canon, r"^[a-z]+://([^/:]+)", 1)
    return (
        d.select(host.alias("domain"), "n_chars")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


SQL_DOMAIN_STATS = """
WITH u AS (
  SELECT doc_id, n_chars,
         'example' || (doc_id % 7)::VARCHAR || '.com' AS domain
  FROM documents
)
SELECT domain, COUNT(*) AS n_pages,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(AVG(n_chars), 6) AS avg_chars
FROM u GROUP BY domain
"""


# ---------------------------------------------------------------- W7
def q_resample_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resample with causal ffill (as-of composition)."""
    from feature_engineering_spark.operators.resample import resample_to_grid

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = resample_to_grid(
        ev, key="user_id", ts="ts", values=["value"], step=86400.0,
        tolerance_seconds=7 * 86400.0,
    )
    return out.select(
        "user_id",
        F.col("grid_ts_s").alias("grid_s"),
        epoch_micros(F.col("matched_ts")).alias("obs_ts_us"),
        F.col("value").alias("value"),
    )


SQL_RESAMPLE = """
WITH bounds AS (
  SELECT user_id, CAST(ceil(min(epoch(ts)) / 86400.0) * 86400 AS BIGINT) AS g0,
         CAST(FLOOR(max(epoch(ts))) AS BIGINT) AS t1
  FROM events GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(g0, t1, 86400)) AS grid_s
  FROM bounds
), matched AS (
  SELECT g.user_id, g.grid_s, e.ts AS obs_ts, e.value
  FROM grid g ASOF LEFT JOIN events e
    ON g.user_id = e.user_id AND g.grid_s >= epoch(e.ts)
)
SELECT user_id, grid_s,
       CASE WHEN grid_s - epoch(obs_ts) <= 604800.0 THEN epoch_us(obs_ts) END AS obs_ts_us,
       CASE WHEN grid_s - epoch(obs_ts) <= 604800.0 THEN value END AS value
FROM matched
"""


# ---------------------------------------------------------------- A10
def q_composite_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-power composite target (DI/KPI shape — reference
    compute_di_aran: DI = sum w_i * count_i^p_i, analysis.py:463-483;
    KPI = DI + base). Reproduces the reference's always-computed behavior
    (truthy bug get_features.py:331: `if target_name=='DI' or 'KPI'`) by
    emitting BOTH di and kpi regardless."""
    from feature_engineering_spark.operators.split import composite_target

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 5000)
    out = composite_target(
        li,
        count_cols=["l_quantity", "l_discount", "l_tax"],
        weights=[0.3, 11.0, 7.0],
        powers=[0.3, 2.0, 1.5],
        base_col="l_extendedprice",
        out_col="di",
    )
    return out.select(
        "l_orderkey", "l_linenumber",
        F.round("di", 6).alias("di"),
        F.round("di_kpi", 6).alias("kpi"),
    )


SQL_COMPOSITE = """
SELECT l_orderkey, l_linenumber,
       ROUND(0.3 * POW(l_quantity, 0.3) + 11.0 * POW(l_discount, 2.0)
             + 7.0 * POW(l_tax, 1.5), 6) AS di,
       ROUND(0.3 * POW(l_quantity, 0.3) + 11.0 * POW(l_discount, 2.0)
             + 7.0 * POW(l_tax, 1.5) + l_extendedprice, 6) AS kpi
FROM lineitem WHERE l_orderkey < 5000
"""


# ---------------------------------------------------------------- A6
def q_nan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null counting (reference check_nans,
    data_loaders.py:201-209). Nulls constructed deterministically
    (value<1 -> null) since the synthetic tables are null-free."""
    ev = _t(spark, sf_dir, "events")
    v = F.when(F.col("value") >= 1.0, F.col("value"))
    p = F.when(F.col("event_type") != "error", F.col("props"))
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(v.isNull().cast("long")).alias("null_value"),
        F.sum(p.isNull().cast("long")).alias("null_props"),
    )


SQL_NAN_AUDIT = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN (CASE WHEN value >= 1.0 THEN value END) IS NULL
           THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
       CAST(SUM(CASE WHEN (CASE WHEN event_type != 'error' THEN props END) IS NULL
           THEN 1 ELSE 0 END) AS BIGINT) AS null_props
FROM events
"""


# ---------------------------------------------------------------- O5
def q_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct("user_id", "event_type").alias("n_user_types"),
    )


SQL_DISTINCT = """
SELECT COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT event_type) AS n_types,
       COUNT(DISTINCT (user_id, event_type)) AS n_user_types
FROM events
"""


# ---------------------------------------------------------------- P7
def q_seq_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length filter on collected arrays (reference drops
    sequences shorter than 10 points, data_transforms.py:56-58)."""
    ev = _t(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id", "event_type").agg(
        F.collect_list("value").alias("seq")
    )
    return seqs.where(F.size("seq") >= 10).select(
        "user_id", "event_type", F.size("seq").alias("seq_len")
    )


SQL_SEQ_LEN = """
SELECT user_id, event_type, CAST(COUNT(*) AS INT) AS seq_len
FROM events GROUP BY user_id, event_type HAVING COUNT(*) >= 10
"""


# ---------------------------------------------------------------- range join
def q_range_join_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join at scale: clicks joined to 2-hour windows after
    each purchase via bucketed equi-join (operators/rangejoin — never a
    BroadcastNestedLoopJoin), then per-interval aggregates."""
    from feature_engineering_spark.functions.timeutil import epoch_seconds
    from feature_engineering_spark.operators.rangejoin import bucketed_range_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    iv = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("interval_id"),
        epoch_seconds("ts").alias("lo"),
        (epoch_seconds("ts") + F.lit(7200.0)).alias("hi"),
    )
    j = bucketed_range_join(
        clicks, iv, on="user_id", fact_ts="ts", lo="lo", hi="hi",
        bucket_width=3600.0,
    )
    return j.groupBy("interval_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


SQL_RANGE_JOIN = """
WITH iv AS (
  SELECT user_id, event_id AS interval_id,
         epoch(ts) AS lo, epoch(ts) + 7200.0 AS hi
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'click'
)
SELECT iv.interval_id, COUNT(*) AS n_clicks, ROUND(SUM(c.value), 6) AS sum_value
FROM iv JOIN c ON iv.user_id = c.user_id
  AND epoch(c.ts) >= iv.lo AND epoch(c.ts) <= iv.hi
GROUP BY iv.interval_id
"""


# ---------------------------------------------------------------- scaler
def q_zscore_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key standardization (z-score within user) — the feature-matrix
    scaler of the selection stage (reference fits sklearn scalers per
    split, analysis.py) expressed as window aggregates: one hash shuffle,
    no Python, no collect."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    m = F.avg("value").over(w)
    sd = F.stddev_pop("value").over(w)
    z = F.when(sd > 0, (F.col("value") - m) / sd).otherwise(F.lit(0.0))
    return ev.select("event_id", "user_id", F.round(z, 6).alias("z"))


SQL_ZSCORE = """
SELECT event_id, user_id,
       ROUND(CASE WHEN STDDEV_POP(value) OVER w > 0
             THEN (value - AVG(value) OVER w) / (STDDEV_POP(value) OVER w)
             ELSE 0.0 END, 6) AS z
FROM events WINDOW w AS (PARTITION BY user_id)
"""


# ---------------------------------------------------------------- P8
def q_direction_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direction filter on built sequences (reference keeps segments whose
    time runs forward): keep (user, event_type) sequences whose last value
    exceeds the first, in (ts, event_id) order."""
    from feature_engineering_spark.operators.windows import direction_filter

    ev = _t(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id", "event_type").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))).alias(
            "rows"
        )
    )
    seqs = seqs.select(
        "user_id", "event_type", F.col("rows.value").alias("seq")
    )
    out = direction_filter(seqs, "seq", "increasing")
    return out.select(
        "user_id", "event_type",
        F.size("seq").alias("seq_len"),
        F.element_at("seq", 1).alias("first_value"),
        F.element_at("seq", -1).alias("last_value"),
    )


SQL_DIRECTION_FILTER = """
WITH o AS (
  SELECT user_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_d,
         COUNT(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
), fl AS (
  SELECT user_id, event_type, CAST(n AS INT) AS seq_len,
         MAX(CASE WHEN rn_a = 1 THEN value END) AS first_value,
         MAX(CASE WHEN rn_d = 1 THEN value END) AS last_value
  FROM o GROUP BY user_id, event_type, n
)
SELECT * FROM fl WHERE last_value > first_value
"""


# ---------------------------------------------------------------- top-k/group
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per user (row_number window — the canonical
    OLAP top-k-per-group)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("user_id", "rk", "event_id", "value")
    )


SQL_TOPK = """
SELECT user_id, CAST(rk AS INT) AS rk, event_id, value FROM (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rk
  FROM events
) WHERE rk <= 3
"""


# ---------------------------------------------------------------- pivot
def q_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    p = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.round(F.sum("value"), 6))
    )
    return p.select(
        "user_id", *[F.col(t).alias(f"sum_{t}") for t in types]
    )


SQL_PIVOT = """
SELECT user_id,
       ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 6) AS sum_click,
       ROUND(SUM(CASE WHEN event_type = 'view' THEN value END), 6) AS sum_view,
       ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 6) AS sum_purchase,
       ROUND(SUM(CASE WHEN event_type = 'signup' THEN value END), 6) AS sum_signup,
       ROUND(SUM(CASE WHEN event_type = 'error' THEN value END), 6) AS sum_error
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------- rollup
def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 6).alias("sum_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n", "sum_price",
        )
    )


SQL_ROLLUP = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n, ROUND(SUM(o_totalprice), 6) AS sum_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


# ------------------------------------------------------- latest snapshot
def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest row per entity — the canonical Common-Crawl "keep the
    newest crawl of each url" dedup, over events as (user -> latest
    event). Scale path: ONE map-side-combined max-of-structs aggregate
    (struct compares (ts, event_id, ...) left-to-right; event_id is
    unique, so the pick is total-ordered) — no window, no shuffle+sort
    of the full table, unlike row_number-based top-k. The oracle derives
    the same rows via ORDER BY ts DESC, event_id DESC row_number. value
    travels INSIDE the struct (selected, never aggregated), so the
    double is bit-identical cross-engine raw."""
    ev = _t(spark, sf_dir, "events")
    m = F.max(F.struct(F.col("ts"), F.col("event_id"), F.col("value")))
    return ev.groupBy("user_id").agg(m.alias("m")).select(
        "user_id",
        epoch_micros(F.col("m.ts")).alias("last_ts_us"),
        F.col("m.event_id").alias("last_event_id"),
        F.col("m.value").alias("last_value"),
    )


SQL_LATEST_SNAPSHOT = """
WITH r AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, epoch_us(ts) AS last_ts_us,
       event_id AS last_event_id, value AS last_value
FROM r WHERE rn = 1
"""


MISC_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "latest_snapshot": q_latest_snapshot,
    "composite_target": q_composite_target,
    "pivot_event_types": q_pivot_event_types,
    "rollup_orders": q_rollup_orders,
    "nan_audit": q_nan_audit,
    "distinct_stats": q_distinct_stats,
    "seq_length_filter": q_seq_length_filter,
    "direction_filter": q_direction_filter,
    "zscore_per_user": q_zscore_per_user,
    "range_join_count": q_range_join_count,
    "domain_stats": q_domain_stats,
    "topk_per_group": q_topk_per_group,
    "year_filter": q_year_filter,
    "histogram": q_histogram,
    "corr_stats": q_corr_stats,
    "class_bin": q_class_bin,
    "haversine": q_haversine,
    "url_canonicalize": q_url_canonicalize,
    "resample_grid": q_resample_grid,
}

MISC_ORACLE_SQL: dict[str, str] = {
    "latest_snapshot": SQL_LATEST_SNAPSHOT,
    "composite_target": SQL_COMPOSITE,
    "pivot_event_types": SQL_PIVOT,
    "rollup_orders": SQL_ROLLUP,
    "nan_audit": SQL_NAN_AUDIT,
    "distinct_stats": SQL_DISTINCT,
    "seq_length_filter": SQL_SEQ_LEN,
    "direction_filter": SQL_DIRECTION_FILTER,
    "zscore_per_user": SQL_ZSCORE,
    "range_join_count": SQL_RANGE_JOIN,
    "domain_stats": SQL_DOMAIN_STATS,
    "topk_per_group": SQL_TOPK,
    "year_filter": SQL_YEAR_FILTER,
    "histogram": SQL_HISTOGRAM,
    "corr_stats": SQL_CORR,
    "class_bin": SQL_CLASS_BIN,
    "haversine": SQL_HAVERSINE,
    "url_canonicalize": SQL_URL_CANON,
    "resample_grid": SQL_RESAMPLE,
}
