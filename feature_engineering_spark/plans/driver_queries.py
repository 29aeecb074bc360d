"""Driver-contract queries: each key maps an operator from SURVEY.md §2 to a
(spark, sf_dir) -> DataFrame callable plus a DuckDB oracle SQL string.

Conventions that keep the driver's order-insensitive value-hash stable:
- every computed column is aliased identically in Spark and SQL;
- timestamps are emitted as epoch microseconds (bigint) — exact integers,
  no timezone ambiguity between Spark (session-TZ) and DuckDB (naive);
- order-dependent float aggregates (sum/avg/stddev/var) are rounded to 6
  decimals on BOTH sides so summation order can't flip the hash;
- window orderings always carry a unique tiebreak column (event_id).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feature_engineering_spark.functions.timeutil import epoch_micros, epoch_seconds
from feature_engineering_spark.operators.lagging import (
    lag_lead_delta,
    rolling_causal_stats,
)
from feature_engineering_spark.operators.sessionize import sessionize
from feature_engineering_spark.operators.split import causal_split
from feature_engineering_spark.plans.data_queries import _t


def _r6(c):
    return F.round(c, 6)


# ---------------------------------------------------------------- W5
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, key="user_id", ts="ts", gap_seconds=1800,
                   order_tiebreak="event_id")
    return s.groupBy("user_id", "session_id").agg(
        epoch_micros(F.min("ts")).alias("session_start_us"),
        epoch_micros(F.max("ts")).alias("session_end_us"),
        F.count(F.lit(1)).alias("n_rows"),
        _r6(F.sum("value")).alias("sum_value"),
    )


SQL_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts)) AS session_end_us,
       COUNT(*) AS n_rows,
       ROUND(SUM(value), 6) AS sum_value
FROM numbered GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------- W6
def q_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = lag_lead_delta(ev, key="user_id", ts="ts", value="value",
                         order_tiebreak="event_id")
    return out.select(
        "event_id", "user_id",
        _r6(F.col("prev_value")).alias("prev_value"),
        _r6(F.col("next_value")).alias("next_value"),
        _r6(F.col("delta_prev")).alias("delta_prev"),
        _r6(F.col("delta_next")).alias("delta_next"),
        _r6(F.col("dt_prev_s")).alias("dt_prev_s"),
    )


SQL_LAG_LEAD = """
SELECT event_id, user_id,
       ROUND(LAG(value) OVER w, 6) AS prev_value,
       ROUND(LEAD(value) OVER w, 6) AS next_value,
       ROUND(value - LAG(value) OVER w, 6) AS delta_prev,
       ROUND(LEAD(value) OVER w - value, 6) AS delta_next,
       ROUND(epoch(ts) - epoch(LAG(ts) OVER w), 6) AS dt_prev_s
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------------------- §2.6 subset
def q_rolling_causal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = rolling_causal_stats(ev, key="user_id", ts="ts", value="value",
                               k=10, order_tiebreak="event_id")
    return out.select(
        "event_id", "user_id",
        _r6(F.col("roll_mean")).alias("roll_mean"),
        _r6(F.col("roll_std")).alias("roll_std"),
        F.col("roll_min").alias("roll_min"),
        F.col("roll_max").alias("roll_max"),
        F.col("roll_cnt").alias("roll_cnt"),
    )


SQL_ROLLING = """
SELECT event_id, user_id,
       ROUND(AVG(value) OVER w, 6) AS roll_mean,
       ROUND(STDDEV_POP(value) OVER w, 6) AS roll_std,
       MIN(value) OVER w AS roll_min,
       MAX(value) OVER w AS roll_max,
       COUNT(value) OVER w AS roll_cnt
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------- J1
def q_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    # customer is the dimension side — broadcast it explicitly.
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner")
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _r6(F.sum("o_totalprice")).alias("sum_price"),
        _r6(F.avg("c_acctbal")).alias("avg_acctbal"),
    )


SQL_JOIN_OC = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 6) AS sum_price,
       ROUND(AVG(c_acctbal), 6) AS avg_acctbal
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------- A1-A5 suite
def q_group_topstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag", "l_linestatus").agg(
        _r6(F.sum("l_quantity")).alias("sum_qty"),
        _r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
        _r6(F.avg("l_quantity")).alias("avg_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count(F.lit(1)).alias("n"),
    )
    # p90 exact-from-counts (r6, guide §1.2 "per-task work"): l_quantity is
    # low-cardinality (50 distinct values), so percentile_approx(.., 1e6)
    # was paying a 1e6-compression QuantileSummaries insert per row —
    # measured ~70% of the query at sf1.0 — to compute what a value-counts
    # aggregate derives exactly. Both engines return the sorted-multiset
    # element at 1-indexed rank ceil(0.9*n) (probed across n where the
    # candidate rank formulas differ; DuckDB quantile_disc == Spark
    # percentile_approx at full accuracy); (9*n + 9) div 10 is that rank in
    # exact integer arithmetic. The counts pass shuffles ~|groups x
    # distinct| tiny rows; the float aggregates keep their original
    # single-pass computation, bit-identical to round 5.
    cnts = (
        li.where(F.col("l_quantity").isNotNull())
        .groupBy("l_returnflag", "l_linestatus", "l_quantity")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    grp = Window.partitionBy("l_returnflag", "l_linestatus")
    cum = grp.orderBy("l_quantity").rowsBetween(Window.unboundedPreceding, 0)
    ranked = cnts.withColumn("__cum", F.sum("__c").over(cum)).withColumn(
        "__n", F.sum("__c").over(grp)
    )
    p90 = (
        ranked.where(F.col("__cum") >= F.expr("(9 * __n + 9) div 10"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(_r6(F.min("l_quantity")).alias("p90_qty"))
    )
    # left join: a group whose l_quantity is all NULL has no counts rows,
    # hence no p90 row; it keeps its stats with p90_qty NULL, like
    # quantile_disc over an all-NULL group
    return stats.join(p90, ["l_returnflag", "l_linestatus"], "left").select(
        "l_returnflag", "l_linestatus", "sum_qty", "revenue", "avg_qty",
        "min_qty", "max_qty", "n", "p90_qty",
    )


# NOTE p90: percentile_approx with high accuracy == exact discrete
# percentile on this data; DuckDB quantile_disc matches (both pick an
# actual data value at the 0.9 position over sorted input).
SQL_GROUP_TOPSTATS = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 6) AS sum_qty,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty,
       COUNT(*) AS n,
       ROUND(quantile_disc(l_quantity, 0.9), 6) AS p90_qty
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------- O6
def q_causal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = causal_split(ev, key="user_id", ts="ts", tiebreak="event_id")
    return out.groupBy("user_id", "split").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_eid"),
        F.max("event_id").alias("max_eid"),
    )


SQL_CAUSAL_SPLIT = """
WITH r AS (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_user
  FROM events
)
SELECT user_id,
       CASE WHEN rn <= CAST(FLOOR(n_user * 0.8) AS BIGINT) THEN 'train' ELSE 'test' END AS split,
       COUNT(*) AS n, MIN(event_id) AS min_eid, MAX(event_id) AS max_eid
FROM r GROUP BY 1, 2
"""


# ---------------------------------------------------------------- P3
def q_filter_array_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference speed-filter semantics (get_features.py:217-222): keep a
    group only if NO element of its value sequence is below the threshold —
    expressed on ArrayType via array_min over the collected sequence."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    seqs = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))).alias("rows")
    )
    seqs = seqs.select(
        "user_id",
        F.col("rows.value").alias("seq"),
    )
    return seqs.where(F.array_min("seq") >= F.lit(1.0)).select(
        "user_id",
        F.size("seq").alias("n_events"),
        F.array_min("seq").alias("min_value"),
    )


SQL_FILTER_ARRAY_MIN = """
SELECT user_id, CAST(COUNT(*) AS INT) AS n_events, MIN(value) AS min_value
FROM events WHERE event_type = 'purchase'
GROUP BY user_id HAVING MIN(value) >= 1.0
"""


# ---------------------------------------------------------------- P12
def q_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_JSON_EXTRACT = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------- J2
def q_bucket_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment → O(n) bucket id (data_transforms.py:37-61
    loop replaced by floor-division: no theta join at any scale)."""
    ev = _t(spark, sf_dir, "events")
    b = F.floor(epoch_seconds("ts") / F.lit(600.0))
    return (
        ev.withColumn("bucket", b)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r6(F.avg("value")).alias("avg_value"),
        )
    )


SQL_BUCKET_ASSIGN = """
SELECT CAST(FLOOR(epoch(ts) / 600.0) AS BIGINT) AS bucket,
       COUNT(*) AS n, ROUND(AVG(value), 6) AS avg_value
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------- A7
def q_variance_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-variance detection (analysis.py:306-311) as one aggregate row
    per column — long format (col_name, var_pop, keep)."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = [F.round(F.var_pop(c), 4).alias(c) for c in cols]
    wide = li.agg(*aggs)
    stack = ", ".join(f"'{c}', {c}" for c in cols)
    long = wide.selectExpr(f"stack({len(cols)}, {stack}) as (col_name, var_pop)")
    return long.withColumn("keep", (F.col("var_pop") > 0).cast("int"))


SQL_VARIANCE_PRUNE = """
WITH w AS (
  SELECT ROUND(VAR_POP(l_quantity), 4) AS l_quantity,
         ROUND(VAR_POP(l_extendedprice), 4) AS l_extendedprice,
         ROUND(VAR_POP(l_discount), 4) AS l_discount,
         ROUND(VAR_POP(l_tax), 4) AS l_tax
  FROM lineitem
)
SELECT col_name, var_pop, CAST(var_pop > 0 AS INT) AS keep
FROM (
  SELECT 'l_quantity' AS col_name, l_quantity AS var_pop FROM w
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM w
  UNION ALL SELECT 'l_discount', l_discount FROM w
  UNION ALL SELECT 'l_tax', l_tax FROM w
)
"""


# ---------------------------------------------------------------- J3/J4
def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of: each click joined to the user's latest purchase at or
    before it (strictly causal). Union+window plan — one shuffle."""
    from feature_engineering_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    j = asof_join(
        clicks, purchases, on="user_id", left_ts="ts",
        right_cols=["value"], direction="backward",
        right_tiebreak="event_id",
    )
    return j.select(
        "event_id", "user_id",
        epoch_micros(F.col("ts")).alias("ts_us"),
        epoch_micros(F.col("matched_ts")).alias("matched_ts_us"),
        F.col("value_r").alias("purchase_value"),
    )


SQL_ASOF = """
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       epoch_us(r.ts) AS matched_ts_us, r.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of with a max-staleness reject — the reference's max_distance
    filter (matching.pyc do_kNN_matching, 10 m ≙ 600 s here)."""
    from feature_engineering_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    j = asof_join(
        clicks, purchases, on="user_id", left_ts="ts",
        right_cols=["value"], direction="backward",
        tolerance_seconds=600.0, right_tiebreak="event_id",
    )
    return j.select(
        "event_id", "user_id",
        epoch_micros(F.col("matched_ts")).alias("matched_ts_us"),
        F.col("value_r").alias("purchase_value"),
    )


SQL_ASOF_TOL = """
SELECT l.event_id, l.user_id,
       CASE WHEN epoch(l.ts) - epoch(r.ts) <= 600.0 THEN epoch_us(r.ts) END
         AS matched_ts_us,
       CASE WHEN epoch(l.ts) - epoch(r.ts) <= 600.0 THEN r.value END
         AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_backfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward+forward as-of with linear interpolation (J5+W8 backfill)."""
    from feature_engineering_spark.operators.asof import backfill_asof

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("label_ts"), F.col("value").alias("sig")
    )
    b = backfill_asof(clicks, errors, on="user_id", left_ts="ts",
                      right_ts="label_ts", value="sig")
    return b.select(
        "event_id", "user_id",
        epoch_micros(F.col("prev_ts")).alias("prev_ts_us"),
        epoch_micros(F.col("next_ts")).alias("next_ts_us"),
        _r6(F.col("sig_interp")).alias("sig_interp"),
    )


SQL_BACKFILL = """
WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
     errs AS (SELECT user_id, ts AS label_ts, value AS sig FROM events
              WHERE event_type = 'error'),
     b AS (
       SELECT c.event_id, c.user_id, c.ts, r.label_ts AS prev_ts, r.sig AS sig_prev
       FROM clicks c ASOF LEFT JOIN errs r
         ON c.user_id = r.user_id AND c.ts >= r.label_ts
     ),
     f AS (
       SELECT b.*, r.label_ts AS next_ts, r.sig AS sig_next
       FROM b ASOF LEFT JOIN errs r
         ON b.user_id = r.user_id AND b.ts <= r.label_ts
     )
SELECT event_id, user_id,
       epoch_us(prev_ts) AS prev_ts_us,
       epoch_us(next_ts) AS next_ts_us,
       ROUND(CASE
         WHEN sig_prev IS NOT NULL AND sig_next IS NOT NULL
              AND epoch(next_ts) != epoch(prev_ts)
           THEN sig_prev + (sig_next - sig_prev)
                * (epoch(ts) - epoch(prev_ts)) / (epoch(next_ts) - epoch(prev_ts))
         WHEN sig_prev IS NOT NULL THEN sig_prev
         ELSE sig_next END, 6) AS sig_interp
FROM f
"""


# ---------------------------------------------------------------- W1/W2
def q_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding grid windows (size 600s, step 60s, left-closed right-open)
    via window-id expansion: explode(sequence(...)) then one groupBy — no
    theta/range join at any scale (replaces data_loaders.py:467-496 loop)."""
    # Shuffle the NARROW input by user_id BEFORE the 10x explode (guide
    # §3.3: explode multiplies the shuffle). HashPartitioning(user_id)
    # satisfies the (user_id, win_id) clustering, so the groupBy needs no
    # second exchange: the wire carries 1M 4-column rows instead of ~10M
    # exploded partial-aggregate states (events are ~1 per user-minute, so
    # map-side partial aggregation cannot reduce the exploded set). Also
    # parallelizes the explode itself past the fixture's one row group.
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    ).repartition(F.col("user_id"))
    t = epoch_seconds("ts")
    lo = (F.floor((t - F.lit(600.0)) / F.lit(60.0)) + F.lit(1)).cast("long")
    hi = F.floor(t / F.lit(60.0)).cast("long")
    win = ev.withColumn("win_id", F.explode(F.sequence(lo, hi)))
    return (
        win.groupBy("user_id", "win_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r6(F.avg("value")).alias("avg_value"),
            F.min("event_id").alias("first_eid"),
            F.max("event_id").alias("last_eid"),
        )
    )


SQL_SLIDING = """
WITH expanded AS (
  SELECT user_id, event_id, value,
         unnest(generate_series(
           CAST(FLOOR((epoch(ts) - 600.0) / 60.0) AS BIGINT) + 1,
           CAST(FLOOR(epoch(ts) / 60.0) AS BIGINT)
         )) AS win_id
  FROM events
)
SELECT user_id, win_id, COUNT(*) AS n, ROUND(AVG(value), 6) AS avg_value,
       MIN(event_id) AS first_eid, MAX(event_id) AS last_eid
FROM expanded GROUP BY user_id, win_id
"""


# ---------------------------------------------------------------- W1-W3 + §2.6
# events at sf0.01 average one event per user every ~10.7h over 30 days →
# 4-day windows stepping 1 day hold ~9 points each (non-vacuous at sf0.01,
# denser at sf0.1); overlap factor 4 exercises the boundary semantics.
_WSIZE, _WSTEP, _WMIN = 345600.0, 86400.0, 5


def q_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-checkable subset of the window kernel: grid windows with the
    reference's inclusive-boundary + exclusive-end `[:-1]` semantics
    (data_loaders.py:470-483), stats mean/std(pop)/min/max/count."""
    from feature_engineering_spark.operators.windows import sliding_window_features

    ev = _t(spark, sf_dir, "events")
    w = sliding_window_features(
        ev, key="user_id", ts="ts", signals=("value",),
        window_size=_WSIZE, step=_WSTEP, min_points=_WMIN,
        order_tiebreak="event_id",
    )
    return w.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("win_start"),
        F.col("n_points"),
        _r6(F.col("`value-0_Mean`")).alias("w_mean"),
        _r6(F.col("`value-0_Standard deviation`")).alias("w_std"),
        F.col("`value-0_Min`").alias("w_min"),
        F.col("`value-0_Max`").alias("w_max"),
    )


SQL_WINDOW_STATS = f"""
WITH bounds AS (
  SELECT user_id, MIN(epoch(ts)) AS t0 FROM events GROUP BY user_id
), expanded AS (
  SELECT e.user_id, e.ts, e.event_id, e.value,
         unnest(generate_series(
           GREATEST(CAST(CEIL((epoch(e.ts) - {_WSIZE}) / {_WSTEP}) AS BIGINT),
                    CAST(FLOOR(b.t0 / {_WSTEP}) AS BIGINT)),
           CAST(FLOOR(epoch(e.ts) / {_WSTEP}) AS BIGINT)
         )) AS win_idx
  FROM events e JOIN bounds b USING (user_id)
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, win_idx
                               ORDER BY ts DESC, event_id DESC) AS rn_desc
  FROM expanded
)
SELECT user_id, win_idx * {_WSTEP} AS win_start,
       COUNT(*) AS n_points,
       ROUND(AVG(value), 6) AS w_mean,
       ROUND(STDDEV_POP(value), 6) AS w_std,
       MIN(value) AS w_min, MAX(value) AS w_max
FROM ranked WHERE rn_desc > 1
GROUP BY user_id, win_idx HAVING COUNT(*) >= {_WMIN}
"""


def q_window_features_35(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 35-feature matrix per (user_id, window) — the reference's
    feature_extraction stage (analysis.py:153-219) at the original window
    geometry (4-day windows, 1-day step, min 5 points).

    Fully oracle-checked since round 3. The trick that makes the
    full-fidelity signal hashable cross-engine: events.value is exactly
    2-decimal, so ROUND(value*100) is a LOSSLESS integerization — the
    kernel runs on the integer 'centivalue' signal (every linear statistic
    becomes an exact double, bit-identical in Spark and DuckDB) and the
    emission descales each statistic back to original value units by its
    homogeneity degree (var by 100^2, mean by 100, skew by 100^0, ...).
    Emission discipline (see _wf_sql for the measured rationale): all
    statistics RAW; variance/std re-derived from the exact integer identity
    (n*abs_energy - S^2)/n^2 so they carry no summation-order term at all;
    only f_signal_dist (irrational values, not scale-homogeneous — stays in
    centivalue units) pre-rounds at 4 decimals."""
    from feature_engineering_spark.operators.windows import sliding_window_features

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100, 0).cast("double").alias("value"),
    )
    w = sliding_window_features(
        ev, key="user_id", ts="ts", signals=("value",),
        window_size=_WSIZE, step=_WSTEP, min_points=_WMIN,
        order_tiebreak="event_id",
    )

    # the 35 emissions are SQL text in one selectExpr: built as Columns
    # they cost ~2,000 Py4J round trips per query build
    n = "CAST(n_points AS DOUBLE)"
    energy = "`value-0_Absolute energy`"
    # exact recovery of the integer window sum from the kernel's mean:
    # |round(mean*n) - S| < n*ulp(S) << 0.5, so round lands exactly on S
    s_exact = f"round(`value-0_Mean` * {n}, 0)"
    var_scaled = f"(({n} * {energy} - {s_exact} * {s_exact}) / ({n} * {n}))"

    def emit(name: str, alias: str, _rnd: bool) -> str:
        raw = f"`value-0_{name}`"
        if alias == "f_var":
            out = f"{var_scaled} / 10000.0D"
        elif alias == "f_std":
            out = f"sqrt({var_scaled}) / 100.0D"
        elif alias == "f_signal_dist":
            out = f"round({raw}, 4)"
        else:
            k = _F35_SCALE_POW[alias]
            out = f"{raw} / {float(100 ** k)!r}D" if k else raw
        return f"CASE WHEN isnan({raw}) THEN NULL ELSE {out} END AS {alias}"

    return w.selectExpr(
        "CAST(user_id AS BIGINT) AS user_id",
        "win_start",
        "n_points",
        *[emit(name, alias, rnd) for name, alias, rnd in _F35_ALIASES],
    )


# Homogeneity degree of each statistic in the signal unit: descaling a
# stat of the x100 centivalue signal back to value units divides by 100^k.
# k=0 entries are unitless (skew, kurt, entropy, centroid, counts) or
# deliberately left in centivalue units (f_signal_dist: sqrt(1+d^2) is not
# scale-homogeneous).
_F35_SCALE_POW = {
    "f_mean": 1, "f_median": 1, "f_max": 1, "f_min": 1, "f_maxmin": 1,
    "f_std": 1, "f_var": 2, "f_rms": 1, "f_mad": 1, "f_medad": 1,
    "f_iqr": 1, "f_skew": 0, "f_kurt": 0,
    "f_ecdf05": 1, "f_ecdf10": 1, "f_ecdf20": 1, "f_ecdf80": 1,
    "f_abs_energy": 2, "f_total_energy": 2, "f_auc": 1, "f_autocorr": 2,
    "f_centroid": 0, "f_entropy": 0,
    "f_mean_diff": 1, "f_median_diff": 1, "f_mean_abs_diff": 1,
    "f_median_abs_diff": 1, "f_sum_abs_diff": 1,
    "f_signal_dist": 0, "f_slope": 1,
    "f_zcr": 0, "f_pos_turn": 0, "f_neg_turn": 0, "f_npeaks": 0,
    "f_pkpk": 1,
}


# ---------------------------------------------------------------- §2.6 full
# The hash-verified twin of window_features_35: ALL 35 statistics of the
# kernel (functions/features.py, reference analysis.py:153-219) re-derived
# independently in DuckDB SQL over the same window expansion. Bigger windows
# (12d / 2d step) so sf0.01 windows hold ~25-30 points — the n>20 ECDF gate
# is exercised on BOTH branches.
#
# Cross-engine float discipline (the hash must match bit-for-bit):
# - The signal is made INTEGER-valued identically on both sides
#   (FLOOR(value) - 40; the shift puts both signs in play so zero-crossing
#   and turning-point features are non-vacuous). With integer inputs every
#   linear statistic (sums, means, medians, quartiles, extrema, energies)
#   is an exact double — bit-identical across engines — and is emitted RAW.
# - Only the genuinely float-noisy statistics (central moments, sqrt/log
#   compositions) carry ROUND(6); with integer inputs their values sit at
#   generic positions, never exactly on .xxxxxx5 rounding boundaries where
#   Spark's BigDecimal-exact rounding and DuckDB's multiply-based rounding
#   legitimately disagree (measured: 2-decimal inputs put window means
#   exactly on those boundaries).
# - Spark NaN is mapped to NULL (the kernel's nan sentinel ≙ SQL NULL).
_W2SIZE, _W2STEP, _W2MIN = 1036800.0, 172800.0, 5

# (kernel output column suffix, contract alias, round to 6dp?)
_F35_ALIASES = [
    ("Mean", "f_mean", False), ("Median", "f_median", False),
    ("Max", "f_max", False), ("Min", "f_min", False),
    ("Maxmin diff", "f_maxmin", False),
    ("Standard deviation", "f_std", True), ("Variance", "f_var", True),
    ("Root mean square", "f_rms", False),
    ("Mean absolute deviation", "f_mad", True),
    ("Median absolute deviation", "f_medad", False),
    ("Interquartile range", "f_iqr", False), ("Skewness", "f_skew", True),
    ("Kurtosis", "f_kurt", True), ("ECDF Percentile 0.05", "f_ecdf05", False),
    ("ECDF Percentile 0.1", "f_ecdf10", False),
    ("ECDF Percentile 0.2", "f_ecdf20", False),
    ("ECDF Percentile 0.8", "f_ecdf80", False),
    ("Absolute energy", "f_abs_energy", False),
    ("Total energy", "f_total_energy", False),
    ("Area under the curve", "f_auc", True),
    ("Autocorrelation", "f_autocorr", False),
    ("Centroid", "f_centroid", True), ("Entropy", "f_entropy", True),
    ("Mean diff", "f_mean_diff", False),
    ("Median diff", "f_median_diff", False),
    ("Mean absolute diff", "f_mean_abs_diff", False),
    ("Median absolute diff", "f_median_abs_diff", False),
    ("Sum absolute diff", "f_sum_abs_diff", False),
    ("Signal distance", "f_signal_dist", True), ("Slope", "f_slope", True),
    ("Zero crossing rate", "f_zcr", False),
    ("Positive turning points", "f_pos_turn", False),
    ("Negative turning points", "f_neg_turn", False),
    ("Neighbourhood peaks", "f_npeaks", False),
    ("Peak to peak distance", "f_pkpk", False),
]


def q_window_features_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_engineering_spark.operators.windows import sliding_window_features

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        (F.floor("value") - F.lit(40)).cast("double").alias("value"),
    )
    w = sliding_window_features(
        ev, key="user_id", ts="ts", signals=("value",),
        window_size=_W2SIZE, step=_W2STEP, min_points=_W2MIN,
        order_tiebreak="event_id",
    )

    def emit(name: str, alias: str, rnd: bool):
        c = F.col(f"`value-0_{name}`")
        out = F.round(c, 6) if rnd else c
        return F.when(F.isnan(c), F.lit(None)).otherwise(out).alias(alias)

    return w.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("win_start"),
        F.col("n_points"),
        *[emit(name, alias, rnd) for name, alias, rnd in _F35_ALIASES],
    )


def _wf_sql(size: float, step: float, mn: int, signal_sql: str, s: int = 1) -> str:
    """DuckDB re-derivation of all 35 window statistics, templated over the
    window geometry, the signal expression, and the signal scale ``s``.

    s=1 keeps the round-2 emission verbatim (ROUND(6) on noisy stats).
    s!=1 (the lossless x100 integerized signal of window_features_35) uses
    the round-3 emission discipline derived from measured cross-engine
    boundary behavior:
    - quantized-rational statistics (means, medians, diffs, AUC, slope,
      MAD) are emitted RAW, descaled by homogeneity degree — in-query
      ROUND is what breaks them (their exact decimal values land on
      .xxx5 rounding boundaries where Spark's BigDecimal-exact and
      DuckDB's multiply-first ROUND legitimately disagree), while the
      driver's own pandas round(6) is applied by ONE library to both
      frames and their summation-order deltas (~1e-11 descaled) sit far
      from any 6-decimal midpoint;
    - variance/std are re-derived from the exact integer identity
      (n*sum(v^2) - S^2) / n^2 — bit-identical in both engines, no
      summation-order term at all;
    - the only pre-ROUND survivor is signal_dist (irrational values,
      never exactly on a boundary, but raw deltas ~1e-9 would straddle
      pandas' 6-decimal grid too often)."""
    d1 = f" / {float(s)}" if s != 1 else ""
    d2 = f" / {float(s) ** 2}" if s != 1 else ""
    if s == 1:
        f_std = "ROUND(SQRT(d.m2), 6)"
        f_var = "ROUND(d.m2, 6)"
        f_mad = "ROUND(d.mean_ad, 6)"
        f_auc = "ROUND(b.auc, 6)"
        f_slope = "ROUND(d.sxy / (b.n * (b.n * b.n - 1) / 12.0), 6)"
        r0, r1, sdrd = "ROUND(", ", 6)", 6
    else:
        # exact integer identity: bit-identical cross-engine, no
        # summation-order term (v are exact integers, all products and the
        # numerator stay < 2^53)
        vexact = "(b.n * b.abs_energy - b.sv * b.sv) / (b.n * b.n)"
        f_std = f"SQRT({vexact}){d1}"
        f_var = f"{vexact}{d2}"
        f_mad = f"d.mean_ad{d1}"  # raw: quantized-rational, pre-ROUND unsafe
        f_auc = f"b.auc{d1}"  # raw: exact multiples of 0.005/s, grid-aligned
        f_slope = f"d.sxy / (b.n * (b.n * b.n - 1) / 12.0){d1}"  # raw
        r0, r1, sdrd = "", "", 4  # skew/kurt/centroid/entropy raw
    return f"""
WITH bounds AS (
  SELECT user_id, MIN(epoch(ts)) AS t0 FROM events GROUP BY user_id
), expanded AS (
  SELECT e.user_id, e.ts, e.event_id,
         {signal_sql} AS value,
         unnest(generate_series(
           GREATEST(CAST(CEIL((epoch(e.ts) - {size}) / {step}) AS BIGINT),
                    CAST(FLOOR(b.t0 / {step}) AS BIGINT)),
           CAST(FLOOR(epoch(e.ts) / {step}) AS BIGINT)
         )) AS win_idx
  FROM events e JOIN bounds b USING (user_id)
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, win_idx
                               ORDER BY ts DESC, event_id DESC) AS rn_desc
  FROM expanded
), w AS (  -- exclusive-end [:-1]: drop the max-(ts,event_id) row per window
  SELECT user_id, win_idx, ts, event_id, value
  FROM ranked WHERE rn_desc > 1
), pos AS (  -- per-row positional context within the window ordering
  SELECT user_id, win_idx, value,
         ROW_NUMBER() OVER wo - 1 AS idx,
         LEAD(value) OVER wo AS nxt,
         LEAD(value, 2) OVER wo AS nxt2,
         COUNT(*) OVER wp AS n,
         CASE WHEN ROW_NUMBER() OVER wo - 1 >= 10
                   AND ROW_NUMBER() OVER wo - 1 < COUNT(*) OVER wp - 10
                   AND value > MAX(value)
                       OVER (wo ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
                   AND value > MAX(value)
                       OVER (wo ROWS BETWEEN 1 FOLLOWING AND 10 FOLLOWING)
              THEN 1 ELSE 0 END AS is_npeak
  FROM w
  WINDOW wo AS (PARTITION BY user_id, win_idx ORDER BY ts, event_id),
         wp AS (PARTITION BY user_id, win_idx)
), base AS (
  SELECT user_id, win_idx,
    COUNT(*) AS n,
    AVG(value) AS m,
    SUM(value) AS sv,
    MIN(value) AS mn, MAX(value) AS mx,
    SUM(value * value) AS abs_energy,
    quantile_cont(value, 0.5) AS med,
    quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr,
    SUM((idx / 100.0) * value * value) AS te,
    AVG(nxt - value) AS mean_diff,
    quantile_cont(nxt - value, 0.5) AS median_diff,
    AVG(ABS(nxt - value)) AS mean_abs_diff,
    quantile_cont(ABS(nxt - value), 0.5) AS median_abs_diff,
    SUM(ABS(nxt - value)) AS sum_abs_diff,
    SUM(SQRT(1.0 + (nxt - value) * (nxt - value))) AS signal_dist,
    SUM(0.5 * (1.0 / 100.0) * ABS(value + nxt)) AS auc,
    SUM(CASE WHEN nxt IS NOT NULL AND SIGN(value) != SIGN(nxt)
             THEN 1 ELSE 0 END)::DOUBLE AS zcr,
    SUM(CASE WHEN nxt2 IS NOT NULL AND nxt - value > 0 AND nxt2 - nxt < 0
             THEN 1 ELSE 0 END)::DOUBLE AS pos_turn,
    SUM(CASE WHEN nxt2 IS NOT NULL AND nxt - value < 0 AND nxt2 - nxt > 0
             THEN 1 ELSE 0 END)::DOUBLE AS neg_turn,
    SUM(is_npeak)::DOUBLE AS npeaks
  FROM pos GROUP BY user_id, win_idx
  HAVING COUNT(*) >= {mn}
), dev AS (  -- second pass: central moments need the window mean/median
  SELECT p.user_id, p.win_idx,
    AVG(ABS(p.value - b.m)) AS mean_ad,
    quantile_cont(ABS(p.value - b.med), 0.5) AS med_ad,
    AVG((p.value - b.m) * (p.value - b.m)) AS m2,
    AVG(POW(p.value - b.m, 3.0)) AS m3,
    AVG(POW(p.value - b.m, 4.0)) AS m4,
    SUM((p.idx - (b.n - 1) / 2.0) * (p.value - b.m)) AS sxy
  FROM pos p JOIN base b USING (user_id, win_idx)
  GROUP BY p.user_id, p.win_idx
), vc AS (
  SELECT user_id, win_idx, value, COUNT(*) AS c
  FROM w GROUP BY user_id, win_idx, value
), ent AS (
  SELECT v.user_id, v.win_idx,
    COUNT(*) AS n_distinct,
    SUM((v.c::DOUBLE / b.n) * LOG2(v.c::DOUBLE / b.n)) AS plogp
  FROM vc v JOIN base b USING (user_id, win_idx)
  GROUP BY v.user_id, v.win_idx
), ec AS (  -- ECDF percentile: smallest sorted value with (i+1)/n >= p
  SELECT user_id, win_idx,
    MIN(CASE WHEN rn_asc::DOUBLE / n >= 0.05 THEN value END) AS e005,
    MIN(CASE WHEN rn_asc::DOUBLE / n >= 0.1  THEN value END) AS e010,
    MIN(CASE WHEN rn_asc::DOUBLE / n >= 0.2  THEN value END) AS e020,
    MIN(CASE WHEN rn_asc::DOUBLE / n >= 0.8  THEN value END) AS e080
  FROM (
    SELECT user_id, win_idx, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, win_idx ORDER BY value) AS rn_asc,
           COUNT(*) OVER (PARTITION BY user_id, win_idx) AS n
    FROM w
  ) GROUP BY user_id, win_idx
)
SELECT b.user_id,
  b.win_idx * {step} AS win_start,
  b.n AS n_points,
  b.m{d1} AS f_mean,
  b.med{d1} AS f_median,
  b.mx{d1} AS f_max,
  b.mn{d1} AS f_min,
  (b.mx - b.mn){d1} AS f_maxmin,
  {f_std} AS f_std,
  {f_var} AS f_var,
  SQRT(b.abs_energy / b.n){d1} AS f_rms,
  {f_mad} AS f_mad,
  d.med_ad{d1} AS f_medad,
  b.iqr{d1} AS f_iqr,
  {r0}CASE WHEN d.m2 = 0 THEN 0.0 ELSE d.m3 / POW(d.m2, 1.5) END{r1} AS f_skew,
  {r0}CASE WHEN d.m2 = 0 THEN -3.0 ELSE d.m4 / (d.m2 * d.m2) - 3.0 END{r1} AS f_kurt,
  CASE WHEN b.n > 20 THEN ec.e005{d1} END AS f_ecdf05,
  CASE WHEN b.n > 20 THEN ec.e010{d1} END AS f_ecdf10,
  CASE WHEN b.n > 20 THEN ec.e020{d1} END AS f_ecdf20,
  CASE WHEN b.n > 20 THEN ec.e080{d1} END AS f_ecdf80,
  b.abs_energy{d2} AS f_abs_energy,
  CASE WHEN b.n >= 2 THEN b.abs_energy / ((b.n - 1) / 100.0){d2} END
    AS f_total_energy,
  {f_auc} AS f_auc,
  b.abs_energy{d2} AS f_autocorr,
  {r0}CASE WHEN b.abs_energy = 0 OR b.te = 0 THEN 0.0
             ELSE b.te / b.abs_energy END{r1} AS f_centroid,
  {r0}CASE WHEN b.n <= 1 OR e.n_distinct = 1 THEN 0.0
             ELSE -e.plogp / LOG2(b.n) END{r1} AS f_entropy,
  b.mean_diff{d1} AS f_mean_diff,
  b.median_diff{d1} AS f_median_diff,
  b.mean_abs_diff{d1} AS f_mean_abs_diff,
  b.median_abs_diff{d1} AS f_median_abs_diff,
  b.sum_abs_diff{d1} AS f_sum_abs_diff,
  ROUND(b.signal_dist, {sdrd}) AS f_signal_dist,
  {f_slope} AS f_slope,
  b.zcr AS f_zcr,
  b.pos_turn AS f_pos_turn,
  b.neg_turn AS f_neg_turn,
  b.npeaks AS f_npeaks,
  ABS(b.mx - b.mn){d1} AS f_pkpk
FROM base b
JOIN dev d USING (user_id, win_idx)
JOIN ent e USING (user_id, win_idx)
JOIN ec USING (user_id, win_idx)
"""


SQL_WINDOW_FEATURES = _wf_sql(
    _W2SIZE, _W2STEP, _W2MIN, "CAST(FLOOR(e.value) - 40 AS DOUBLE)", s=1
)
SQL_WINDOW_F35 = _wf_sql(
    _WSIZE, _WSTEP, _WMIN, "CAST(ROUND(e.value * 100, 0) AS DOUBLE)", s=100
)


from feature_engineering_spark.plans.data_queries import (  # noqa: E402
    DATA_ORACLE_SQL,
    DATA_QUERIES,
)
from feature_engineering_spark.plans.misc_queries import (  # noqa: E402
    MISC_ORACLE_SQL,
    MISC_QUERIES,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    **DATA_QUERIES,
    **MISC_QUERIES,
    "window_stats": q_window_stats,
    "window_features_35": q_window_features_35,
    "window_features_sql": q_window_features_sql,
    "asof_join_events": q_asof_join_events,
    "asof_join_tolerance": q_asof_join_tolerance,
    "backfill_interp": q_backfill_interp,
    "sliding_window_agg": q_sliding_window_agg,
    "sessionize_events": q_sessionize_events,
    "lag_lead_delta": q_lag_lead_delta,
    "rolling_causal_stats": q_rolling_causal_stats,
    "join_orders_customer": q_join_orders_customer,
    "group_topstats": q_group_topstats,
    "causal_split": q_causal_split,
    "filter_array_min": q_filter_array_min,
    "json_extract_props": q_json_extract_props,
    "bucket_assign": q_bucket_assign,
    "variance_prune": q_variance_prune,
}

ORACLE_SQL: dict[str, str] = {
    **DATA_ORACLE_SQL,
    **MISC_ORACLE_SQL,
    "window_stats": SQL_WINDOW_STATS,
    "window_features_35": SQL_WINDOW_F35,
    "window_features_sql": SQL_WINDOW_FEATURES,
    "asof_join_events": SQL_ASOF,
    "asof_join_tolerance": SQL_ASOF_TOL,
    "backfill_interp": SQL_BACKFILL,
    "sliding_window_agg": SQL_SLIDING,
    "sessionize_events": SQL_SESSIONIZE,
    "lag_lead_delta": SQL_LAG_LEAD,
    "rolling_causal_stats": SQL_ROLLING,
    "join_orders_customer": SQL_JOIN_OC,
    "group_topstats": SQL_GROUP_TOPSTATS,
    "causal_split": SQL_CAUSAL_SPLIT,
    "filter_array_min": SQL_FILTER_ARRAY_MIN,
    "json_extract_props": SQL_JSON_EXTRACT,
    "bucket_assign": SQL_BUCKET_ASSIGN,
    "variance_prune": SQL_VARIANCE_PRUNE,
}
