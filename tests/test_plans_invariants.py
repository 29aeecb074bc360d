"""Physical-plan audits (the plans we'd want at 100 TB, asserted) and the
north-rule invariants: byte-identical text, zero leakage in rolling stats.
"""

from __future__ import annotations

import itertools
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_projection_pushdown(spark):
    """Filter + 2-column projection must reach the parquet scan."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") < "1996-01-01").select("l_orderkey", "l_quantity")
    plan = _plan(q)
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in rs and "l_quantity" in rs and "l_extendedprice" not in rs
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters:")[1][:200]


def test_join_orders_customer_broadcasts(spark):
    from feature_engineering_spark.plans.driver_queries import QUERIES

    plan = _plan(QUERIES["join_orders_customer"](spark, SF))
    assert "BroadcastHashJoin" in plan  # dimension side broadcast, no SMJ shuffle


def test_asof_union_is_single_shuffle_no_join(spark):
    """The union as-of strategy: exactly one Exchange, zero join nodes."""
    from feature_engineering_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    j = asof_join(clicks, purchases, on="user_id", left_ts="ts", right_cols=["value"])
    plan = _plan(j)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan.replace("BroadcastNestedLoopJoin", "")  # no join node
    assert "Window" in plan


def test_window_features_single_shuffle(spark):
    from feature_engineering_spark.operators.windows import sliding_window_features

    ev = spark.read.parquet(f"{SF}/events.parquet")
    w = sliding_window_features(ev, key="user_id", ts="ts", signals=("value",),
                                window_size=345600.0, step=86400.0, min_points=5)
    plan = _plan(w)
    assert plan.count("Exchange") == 1  # one hash repartition, then mapInPandas
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in rs  # unused wide column pruned from the scan


def test_whole_stage_codegen_on_scan_agg(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    q.collect()  # AQE only finalizes codegen stages after execution
    plan = _plan(q)
    assert "isFinalPlan=true" in plan
    assert "*(1)" in plan  # whole-stage-codegen span markers


def test_text_byte_identity_through_pipeline(spark, pages_df):
    """north_rule: extracted text per url is byte-identical through the
    engine — hash at ingest == hash after signals+sessionize+asof chain."""
    from feature_engineering_spark.operators.sessionize import sessionize
    from feature_engineering_spark.operators.windows import derive_text_signals

    ingest = pages_df.select(
        "url", "warc_ts", F.sha2(F.col("text"), 256).alias("h_in")
    )
    piped = sessionize(derive_text_signals(pages_df))
    out = piped.select("url", "warc_ts", F.sha2(F.col("text"), 256).alias("h_out"))
    joined = ingest.join(out, ["url", "warc_ts"])
    assert joined.count() == pages_df.count()
    assert joined.where(F.col("h_in") != F.col("h_out")).count() == 0


def test_rolling_stats_zero_leakage(spark, pages_pdf):
    """Mutate values strictly after cutoff T; every rolling stat at rows
    with ts <= T is bit-identical (trailing frames never read forward)."""
    from feature_engineering_spark.operators.lagging import rolling_causal_stats

    cutoff = pd.Timestamp("2024-01-12")
    base = pages_pdf.assign(value=pages_pdf["text"].str.len().astype("float64"))
    mut = base.copy()
    after = mut["warc_ts"] > cutoff
    assert after.any()
    mut.loc[after, "value"] = mut.loc[after, "value"] * 977 + 13

    def run(pdf):
        out = rolling_causal_stats(spark.createDataFrame(pdf), k=8).toPandas()
        out = out[out["warc_ts"] <= cutoff]
        return out.sort_values(["url", "warc_ts"]).reset_index(drop=True)[
            ["url", "warc_ts", "roll_mean", "roll_std", "roll_min", "roll_max"]
        ]

    a, b = run(base), run(mut)
    assert len(a) > 100
    pd.testing.assert_frame_equal(a, b)


def test_sessionize_after_asof_reuses_exchange(spark):
    """Sessionize composed AFTER the union as-of join must NOT add a second
    Exchange: both windows need hash(key) distribution + ts order, and the
    as-of union already shuffled+sorted exactly that way (alias-aware
    partitioning/ordering propagation). This is the fused flagship-pipeline
    shape (jobs/extract_features, tools/scaling_bench)."""
    from feature_engineering_spark.operators.asof import asof_join
    from feature_engineering_spark.operators.sessionize import sessionize

    ev = spark.read.parquet(f"{SF}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    j = asof_join(clicks, purchases, on="user_id", left_ts="ts", right_cols=["value"])
    fused = sessionize(j, "user_id", "ts", 1800)
    plan = _plan(fused)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_winnow_pairs_plan_no_nlj(spark):
    """The winnow overlap self-join must be a hash equi-join on the
    fingerprint value — never a nested-loop/cartesian product — and the
    fingerprint computation must stay scan-side (no Python eval)."""
    from feature_engineering_spark.operators.dedup import winnow_overlap_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(winnow_overlap_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


def test_embed_neardup_lsh_plan_no_nlj(spark):
    """The SRP-LSH verify is one grouped map over (band, bucket) on the
    cap's exchange — no join of any kind, so no candidate self-join and
    no join back to the vectors — and signing is one Arrow map over the
    scan (no per-row Python eval)."""
    from feature_engineering_spark.operators.dedup import embedding_neardup_lsh

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(embedding_neardup_lsh(emb, dim=64))
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the cap's window exchange and the distinct of the verified pairs
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("FileScan") == 1, plan


_GROUPS = itertools.count()


def _jobs_of(spark, fn) -> int:
    """Spark jobs that ``fn()`` launches, counted through a job group."""
    sc = spark.sparkContext
    group = f"fes-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_table_reads_infer_each_schema_once(spark, tmp_path):
    """``_t`` infers a local file's parquet schema once per process: the
    first read runs the footer job, a second read of the same file runs
    none and has the inferred schema; a rewritten file with another
    schema is inferred again; a directory is read as before, with a
    footer job each time."""
    from feature_engineering_spark.plans import data_queries as DQ

    path = tmp_path / "t.parquet"
    pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}).to_parquet(path)
    got = []

    def read():
        got.append(DQ._t(spark, str(tmp_path), "t"))

    assert _jobs_of(spark, read) == 1
    assert _jobs_of(spark, read) == 0
    assert got[1].schema == got[0].schema == spark.read.parquet(str(path)).schema
    assert got[1].count() == 2

    pd.DataFrame({"a": [1.5], "c": [True], "d": [3]}).to_parquet(path)
    assert _jobs_of(spark, read) == 1
    assert got[2].schema == spark.read.parquet(str(path)).schema
    assert got[2].columns == ["a", "c", "d"]

    d = tmp_path / "dir"
    spark.createDataFrame(pd.DataFrame({"a": [1]})).write.parquet(str(d / "u.parquet"))
    plain = _jobs_of(spark, lambda: spark.read.parquet(str(d / "u.parquet")))
    assert plain >= 1
    for _ in range(2):
        got = []
        assert _jobs_of(spark, lambda: got.append(DQ._t(spark, str(d), "u"))) == plain
        assert got[0].columns == ["a"]


def test_query_builds_launch_no_job_after_the_first(spark):
    """A query build is planning only: once each table's schema is known,
    building the benchmark's three queries launches no Spark job (each
    build ran a schema-inference job per table before)."""
    from feature_engineering_spark.plans.driver_queries import QUERIES

    for name in ("asof_join_events", "window_features_35", "embed_neardup_lsh"):
        QUERIES[name](spark, SF)
        assert _jobs_of(spark, lambda: QUERIES[name](spark, SF)) == 0, name


def _node_counts(df) -> dict:
    """Node-name counts of the formatted physical plan."""
    import collections
    import re

    s = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return collections.Counter(re.findall(r"^\(\d+\) (\w+)", s, re.M))


@pytest.mark.parametrize("op, generate, scans, joins", [
    ("winnow", 4, 6, 3),
    ("minhash", 8, 9, 6),
    ("embed", 2, 4, 2),
])
def test_incremental_plan_shape(spark, tmp_path, op, generate, scans, joins):
    """Each incremental operator finds its index-vs-batch and in-batch
    pairs in one step over hit ∪ batch rows: Generate, scan and join
    counts on a parquet-committed index (as the ingest job reads it) are
    pinned, and no plan reads a cache. The two-arm plans they replace had
    12/17/15 (winnow), 12/13/10 (minhash) and 5/9/7 (embed); minhash had
    10 scans while it persisted the batch shingles (4 file scans, 6
    InMemoryTableScans)."""
    from feature_engineering_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    corpus, batch = docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ecorp, ebatch = emb.where("vec_id % 2 = 0"), emb.where("vec_id % 2 = 1")

    def commit(df):
        df.write.parquet(str(tmp_path / "index"))
        return spark.read.parquet(str(tmp_path / "index"))

    if op == "winnow":
        index = commit(D.winnow_fingerprints(corpus))
        out = D.winnow_overlap_incremental(batch, index)[0]
    elif op == "minhash":
        index = commit(D.minhash_banded(corpus))
        out = D.minhash_lsh_incremental(batch, corpus, index)
    else:
        index = commit(D.srp_banded(ecorp, 64))
        out = D.embedding_lsh_incremental(ebatch, ecorp, index, dim=64)
    c = _node_counts(out)
    got = (
        c["Generate"],
        sum(n for k, n in c.items() if "Scan" in k),
        sum(n for k, n in c.items() if k.endswith("Join")),
    )
    assert got == (generate, scans, joins), c
    assert c["InMemoryRelation"] == 0, c
    if op == "embed":
        assert c["FlatMapGroupsInPandas"] == 1, c
        assert c["BroadcastNestedLoopJoin"] == c["CartesianProduct"] == 0, c


def test_trim_plan_no_nlj_semi_probe(spark):
    """Excision's source probe is a (broadcast) hash semi-join on the
    gram hash — no nested loops, no Python."""
    from feature_engineering_spark.operators.dedup import trim_contained_runs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = docs.where(F.col("doc_id") % 7 == 0)
    plan = _plan(trim_contained_runs(docs, src))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


def test_text_builders_tokenize_once(spark):
    """Each functions/text builder splits the text once in the optimized
    plan: the staged token array is read as an attribute, never
    re-derived per reference (interpreted HOFs have no subexpression
    elimination)."""
    from feature_engineering_spark.functions.text import text_scores
    from feature_engineering_spark.operators.contamination import (
        contamination_report,
    )
    from feature_engineering_spark.operators.dedup import (
        minhash_banded,
        winnow_fingerprints,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    probes = docs.where(F.col("doc_id") < 5)
    assert _optimized(minhash_banded(docs)).count("split(") == 1
    # one split feeding the gram array, one md5 per gram
    fps = _optimized(winnow_fingerprints(docs))
    assert fps.count("split(") == 1
    assert fps.count("md5(") == 1
    # one split per side: the probe n-grams and the corpus n-grams
    assert _optimized(contamination_report(docs, probes)).count("split(") == 2
    # the lower-cased token array plus the raw single-space token count
    scored = _optimized(text_scores(docs).select("quality", "lang_guess"))
    assert scored.count("split(") <= 2
    assert scored.count("lower(") == 1


def test_lm_perplexity_tokenizes_once(spark):
    """lm_perplexity's LM counts derive from its term-frequency frame, so
    after execution AQE's final plan scans and tokenizes documents once
    (stage reuse shares the rest). The plan string prints the final plan
    first, then the initial one, so count only the final part."""
    from feature_engineering_spark.plans.driver_queries import QUERIES

    df = QUERIES["lm_perplexity"](spark, SF)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("Generate") == 1, final
    assert final.count("FileScan") == 1, final


def _round_trips(monkeypatch, build) -> int:
    """Py4J commands this thread sends while ``build()`` runs. Py4J's
    finalizer thread deletes the proxies earlier tests freed on its own
    schedule, so commands from other threads are not counted."""
    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    me, sent = threading.get_ident(), [0]
    for conn in (ClientServerConnection, GatewayConnection):
        def counted(self, command, *args, _send=conn.send_command, **kwargs):
            sent[0] += threading.get_ident() == me
            return _send(self, command, *args, **kwargs)

        monkeypatch.setattr(conn, "send_command", counted)
    build()
    return sent[0]


def test_query_builds_stay_within_round_trip_budget(spark, monkeypatch):
    """Loop-generated expressions reach Spark as SQL text: a Column-API
    build pays 3-16 Py4J round trips per literal and operator. Built as
    Columns, the SRP signature (16 planes x 64 literals) took ~6,400
    round trips, a window_features_35 build ~2,400 and an
    asof_join_events build 1,037."""
    from feature_engineering_spark.operators.dedup import srp_banded
    from feature_engineering_spark.plans.driver_queries import QUERIES

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    srp = _round_trips(
        monkeypatch, lambda: srp_banded(emb, dim=64, nbits=16, bands=4)
    )
    assert srp <= 50, srp
    # measured: 329, 224 and 392 (645 with the candidate self-join)
    budgets = {
        "window_features_35": 500, "asof_join_events": 300,
        "embed_neardup_lsh": 500,
    }
    for name, budget in budgets.items():
        QUERIES[name](spark, SF)  # first build lists the files
        n = _round_trips(monkeypatch, lambda: QUERIES[name](spark, SF))
        assert n <= budget, (name, n)
