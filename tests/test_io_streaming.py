"""Glob source + provenance, CSV/JSON sinks, TableIO, and a REAL
Structured Streaming run (parquet readStream -> session_window -> memory
sink, driven to completion)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from feature_engineering_spark.sources.io import (
    read_glob_with_provenance,
    write_csv,
    write_json,
)


def test_glob_source_with_provenance(spark, pages_df, tmp_path):
    for i in range(3):
        pages_df.limit(100).write.parquet(str(tmp_path / f"part{i}.parquet"))
    got = read_glob_with_provenance(spark, str(tmp_path / "part*.parquet"))
    assert got.count() == 300
    files = {os.path.basename(r[0].replace("file://", "")).split("/")[0]
             for r in got.select(F.regexp_extract("source_file", r"(part\d+\.parquet)", 1)).collect()}
    assert files == {"part0.parquet", "part1.parquet", "part2.parquet"}


def test_csv_json_sinks_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, v double"
    )
    cpath = write_csv(df, str(tmp_path / "out_csv"))
    jpath = write_json(df, str(tmp_path / "out_json"))
    c = spark.read.option("header", "true").csv(cpath)
    j = spark.read.json(jpath)
    assert c.count() == 2 and j.count() == 2
    assert {r["name"] for r in j.collect()} == {"a", "b"}


def test_tableio(spark, pages_df, tmp_path):
    """The ONE table-format seam (plans/checkpoint.TableIO): Parquet impl
    commit/exists/read round-trip through format-agnostic locators."""
    from feature_engineering_spark.plans.checkpoint import ParquetTableIO

    io = ParquetTableIO()
    loc = io.locate(str(tmp_path), "pages")
    assert not io.exists(spark, loc)
    io.write(spark, pages_df.limit(50), loc)
    assert io.exists(spark, loc)
    assert io.read(spark, loc).count() == 50


def test_streaming_stateful_running_stats(spark, pages_df, tmp_path):
    """applyInPandasWithState end-to-end: two micro-batches, state carries
    counts across them; final totals equal the batch aggregate."""
    from feature_engineering_spark.operators.windows import derive_text_signals
    from feature_engineering_spark.streaming.stream_ops import streaming_running_stats

    sig = derive_text_signals(pages_df).select("url", "warc_ts", "n_chars")
    url = sig.select("url").first()[0]
    one = sig.where(F.col("url") == url)
    src = str(tmp_path / "state_src")
    # two files → two micro-batches with maxFilesPerTrigger=1
    one.limit(40).coalesce(1).write.parquet(src + "/b1")
    one.coalesce(1).write.mode("overwrite").parquet(src + "/b2")
    stream = (
        spark.readStream.schema(one.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/b*")
    )
    q = (
        streaming_running_stats(stream, key="url", value="n_chars")
        .writeStream.outputMode("update")
        .format("memory").queryName("state_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql(
        "SELECT * FROM state_out ORDER BY n DESC LIMIT 1"
    ).collect()[0]
    exp = one.agg(
        F.count("n_chars"), F.sum("n_chars"), F.min("n_chars"), F.max("n_chars")
    ).collect()[0]
    assert got["n"] == exp[0] + 40  # state accumulated across both batches
    assert got["max"] == exp[3]


def test_structured_streaming_sessionize(spark, pages_df, tmp_path):
    """Drive the streaming sessionizer end-to-end: parquet stream source ->
    session_window agg -> memory sink, processAllAvailable."""
    from feature_engineering_spark.operators.sessionize import session_bounds
    from feature_engineering_spark.streaming.stream_ops import streaming_sessionize

    src = str(tmp_path / "stream_src")
    one_url = pages_df.where(
        F.col("url") == pages_df.select("url").first()[0]
    )
    one_url.write.parquet(src)
    schema = one_url.schema
    stream = spark.readStream.schema(schema).parquet(src)
    assert stream.isStreaming
    agg = streaming_sessionize(stream, key="url", ts="warc_ts")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM sess_out")
    n_stream = got.count()
    # same session count as the batch operator (session_window gap
    # semantics == lag/cumsum sessionizer for gap-separated streams)
    n_batch = session_bounds(one_url).count()
    assert n_stream == n_batch > 0


def test_streaming_asof_enrich(spark, tmp_path):
    """Stream of clicks enriched per micro-batch with the latest prior
    label per url — must equal the batch as-of join on the same data."""
    import pandas as pd

    from feature_engineering_spark.operators.asof import asof_join
    from feature_engineering_spark.streaming.stream_ops import (
        streaming_asof_enrich,
    )

    left = pd.DataFrame({
        "url": ["a", "a", "b", "b"],
        "warc_ts": pd.to_datetime(
            ["2024-01-01 00:10", "2024-01-01 01:00",
             "2024-01-01 00:30", "2024-01-01 02:00"]),
        "event_id": [1, 2, 3, 4],
    })
    right = pd.DataFrame({
        "url": ["a", "a", "b"],
        "label_ts": pd.to_datetime(
            ["2024-01-01 00:00", "2024-01-01 00:45", "2024-01-01 01:00"]),
        "iri": [1.0, 2.0, 3.0],
    })
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    src = str(tmp_path / "stream_src")
    ldf.repartition(1).write.parquet(src)

    stream = spark.readStream.schema(ldf.schema).parquet(src)
    collected = []
    feb = streaming_asof_enrich(
        rdf, on="url", left_ts="warc_ts", right_ts="label_ts",
        right_cols=["iri"],
    )(lambda df, bid: collected.append(df.toPandas()))
    q = stream.writeStream.foreachBatch(feb).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = (
        pd.concat(collected)
        .sort_values("event_id")
        .reset_index(drop=True)[["event_id", "iri"]]
    )
    exp = (
        asof_join(ldf, rdf, on="url", left_ts="warc_ts", right_ts="label_ts",
                  right_cols=["iri"]).toPandas()
        .sort_values("event_id").reset_index(drop=True)[["event_id", "iri"]]
    )
    pd.testing.assert_frame_equal(got, exp)


def test_streaming_exact_dedup(spark, tmp_path):
    import pandas as pd

    from feature_engineering_spark.streaming.stream_ops import (
        streaming_exact_dedup,
    )

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": ["aa", "bb", "aa", "cc", "bb"],
        "warc_ts": pd.to_datetime(["2024-01-01 00:00"] * 5)
        + pd.to_timedelta(range(5), unit="m"),
    })
    df = spark.createDataFrame(pdf)
    src = str(tmp_path / "dedup_src")
    df.repartition(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    out = streaming_exact_dedup(stream, text="text", ts="warc_ts")
    q = (
        out.writeStream.format("memory").queryName("dedup_sink")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT text FROM dedup_sink").toPandas()
    assert sorted(got["text"]) == ["aa", "bb", "cc"]


def test_streaming_neardup_filter(spark, tmp_path):
    """A micro-batch streamed through the near-dup filter must keep/drop
    exactly what the batch dedup-against-corpus operator decides: corpus
    near-dups drop with reason corpus_dup, in-batch copies keep one
    survivor, fresh docs pass."""
    import pandas as pd

    from feature_engineering_spark.operators.dedup import minhash_banded
    from feature_engineering_spark.streaming.stream_ops import (
        streaming_neardup_filter,
    )

    vocab = [f"w{i}" for i in range(30)]
    t_corp = " ".join(vocab)
    t_fresh = " ".join(reversed(vocab[:15])) + " x1 x2 x3 x4 x5 x6 x7 x8 x9 y1 y2 y3 y4 y5 y6"
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [t_corp]})
    )
    index = minhash_banded(corpus)

    batch = pd.DataFrame({
        "doc_id": [100, 101, 102, 103],
        "text": [t_corp + " zz",      # near-dup of corpus -> corpus_dup
                 t_fresh,             # fresh -> survives
                 t_fresh + " qq",     # in-batch near-dup of 101 -> batch_dup
                 " ".join(vocab[::2]) + " z9 z8 z7 z6 z5 z4 z3 z2 z1 a b c d e f"],
    })
    src = str(tmp_path / "nd_src")
    spark.createDataFrame(batch).repartition(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)

    kept, dropped = [], []
    feb = streaming_neardup_filter(corpus, index, threshold=0.5)(
        lambda s, d, bid: (kept.append(s.toPandas()), dropped.append(d.toPandas()))
    )
    q = stream.writeStream.foreachBatch(feb).trigger(availableNow=True).start()
    q.awaitTermination(120)

    kept_ids = set(pd.concat(kept)["doc_id"])
    drops = {r.doc_id: r.reason for r in pd.concat(dropped).itertuples()}
    assert drops[100] == "corpus_dup"
    assert drops[102] == "batch_dup"
    assert kept_ids == {101, 103}


def test_streaming_contamination_filter(spark, tmp_path):
    """A micro-batch streamed through the contamination filter must
    keep/drop exactly what the batch operators decide: docs with >=
    min_hits distinct probe n-grams drop (with per-doc hit accounting in
    the report), the rest pass."""
    import pandas as pd

    from feature_engineering_spark.streaming.stream_ops import (
        streaming_contamination_filter,
    )

    probes = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    batch = pd.DataFrame({
        "doc_id": [10, 11, 12, 13],
        "text": [
            "alpha beta gamma delta epsilon zeta",  # 3 hits -> drop
            "x y alpha beta gamma z",               # 1 hit  -> keep
            "unrelated words only here today",      # 0      -> keep
            "beta gamma delta epsilon q",           # 2 hits -> drop
        ],
    })
    src = str(tmp_path / "contam_src")
    spark.createDataFrame(batch).repartition(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)

    kept, reports = [], []
    feb = streaming_contamination_filter(probes, n=3, min_hits=2)(
        lambda c, r, bid: (kept.append(c.toPandas()), reports.append(r.toPandas()))
    )
    q = stream.writeStream.foreachBatch(feb).trigger(availableNow=True).start()
    q.awaitTermination(120)

    kept_ids = set(pd.concat(kept)["doc_id"])
    rep = pd.concat(reports).set_index("doc_id")
    assert kept_ids == {11, 12}
    assert set(rep.index) == {10, 13}
    assert rep.loc[10, "n_hits"] == 3 and rep.loc[13, "n_hits"] == 2
    assert rep.loc[10, "first_hit"] == "alpha beta gamma"


def test_streaming_line_dedup_filter(spark, tmp_path):
    """A micro-batch streamed through the line-dedup filter must strip
    exactly what the batch incremental operator strips: lines whose
    committed-index + batch cumulative count reaches min_count; the sink
    also receives the batch's raw counts for committing."""
    import pandas as pd

    from feature_engineering_spark.operators.dedup import line_counts
    from feature_engineering_spark.streaming.stream_ops import (
        streaming_line_dedup_filter,
    )

    corpus = spark.createDataFrame(
        [(1, "nav\nalpha"), (2, "nav\nbeta")], "doc_id long, text string"
    )
    index = line_counts(corpus)  # nav:2

    batch = pd.DataFrame({
        "doc_id": [10, 11, 12],
        "text": [
            "nav\ndelta",   # nav: 2 + 1 = 3 -> stripped
            "x\nepsilon",   # below threshold -> intact
            "nav",          # all lines stripped -> doc drops out
        ],
    })
    src = str(tmp_path / "ld_src")
    spark.createDataFrame(batch).repartition(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)

    cleaned, counts = [], []
    feb = streaming_line_dedup_filter(index, min_count=3)(
        lambda c, cb, bid: (cleaned.append(c.toPandas()), counts.append(cb.toPandas()))
    )
    q = stream.writeStream.foreachBatch(feb).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = {r.doc_id: r for r in pd.concat(cleaned).itertuples()}
    assert set(got) == {10, 11}
    assert got[10].text == "delta" and got[10].n_lines_removed == 1
    assert got[11].text == "x\nepsilon" and got[11].n_lines_removed == 0
    # raw counts (stripped lines still counted) come back for the index
    cb = {r.line: r.c for r in pd.concat(counts).itertuples()}
    assert cb["nav"] == 2 and cb["x"] == 1


def test_streaming_overlap_trim(spark, tmp_path):
    """A micro-batch streamed through the overlap-trim filter must
    detect quotes of committed content (cross pairs vs the index) and
    excise exactly the quoted run; unflagged docs pass untouched with
    zero-removal accounting."""
    import pandas as pd

    from feature_engineering_spark.operators.dedup import winnow_fingerprints
    from feature_engineering_spark.streaming.stream_ops import (
        streaming_overlap_trim,
    )

    src = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"  # 12 tokens
    corpus = spark.createDataFrame(
        [(1, src)], "doc_id long, text string"
    )
    index = winnow_fingerprints(corpus)

    batch = pd.DataFrame({
        "doc_id": [10, 11],
        "text": [
            "u1 u2 u3 " + src + " u4 u5",   # quotes corpus -> trimmed
            "v1 v2 v3 v4 v5 v6 v7 v8",      # fresh -> untouched
        ],
    })
    srcdir = str(tmp_path / "ot_src")
    spark.createDataFrame(batch).repartition(1).write.parquet(srcdir)
    stream = spark.readStream.schema("doc_id long, text string").parquet(srcdir)

    outs, reports, fps = [], [], []
    feb = streaming_overlap_trim(corpus, index, min_shared=2)(
        lambda t, p, f, bid: (
            outs.append(t.toPandas()),
            reports.append(p.toPandas()),
            fps.append(f.toPandas()),
        )
    )
    q = stream.writeStream.foreachBatch(feb).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = {r.doc_id: r for r in pd.concat(outs).itertuples()}
    assert got[10].text == "u1 u2 u3 u4 u5" and got[10].n_tokens_removed == 12
    assert got[11].n_tokens_removed == 0 and got[11].text.startswith("v1")
    rep = pd.concat(reports)
    assert set(map(tuple, rep[["a", "b"]].to_numpy())) == {(1, 10)}
    # fingerprints for committing cover the whole batch
    assert set(pd.concat(fps)["doc_id"]) == {10, 11}
