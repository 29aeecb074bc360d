"""Structured Streaming lifts of the batch operators (SURVEY.md §2.9).

The reference is batch-only; these are the streaming-shaped analogs for
when the pages table is a live feed instead of a snapshot:
- sessionization W5  -> ``session_window(ts, gap)``
- grid windows W1/W2 -> ``window(ts, size, step)`` sliding windows
- causality          -> watermarks (late rows beyond the watermark are
  dropped rather than leaking into closed windows — the streaming face of
  the zero-leakage invariant)

Batch remains the primary engine (resumable checkpoints, plans/checkpoint
.py); these run the same logical aggregations incrementally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_sessionize(
    events: DataFrame,
    key: str = "url",
    ts: str = "warc_ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-(key, session) bounds + counts over a stream. Equivalent batch
    operator: operators/sessionize.session_bounds (same gap semantics)."""
    return (
        events.withWatermark(ts, watermark)
        .groupBy(key, F.session_window(F.col(ts), gap).alias("session"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(ts).alias("session_start"),
            F.max(ts).alias("session_end"),
        )
        .select(key, "session.start", "session.end", "n_rows",
                "session_start", "session_end")
    )


def streaming_running_stats(
    events: DataFrame,
    key: str = "url",
    value: str = "n_chars",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key running
    (count, sum, min, max) carried in GroupState across micro-batches —
    the streaming analog of the batch rolling/cumulative stats, and the
    engine's example of state Spark's built-in aggs can't shape (the state
    here is tiny and explicit; arbitrary sketches would ride the same
    slot). Emits one row per key per micro-batch."""
    import pandas as pd

    out_schema = (
        f"{key} string, n bigint, sum double, min double, max double"
    )
    state_schema = "n bigint, sum double, min double, max double"

    def fn(kv, pdfs, state):
        n, s, mn, mx = (
            state.get if state.exists else (0, 0.0, float("inf"), float("-inf"))
        )
        for pdf in pdfs:
            col = pdf[value].astype("float64")
            n += len(col)
            s += float(col.sum())
            if len(col):
                mn = min(mn, float(col.min()))
                mx = max(mx, float(col.max()))
        state.update((n, s, mn, mx))
        yield pd.DataFrame(
            [[kv[0], n, s, mn, mx]], columns=[key, "n", "sum", "min", "max"]
        )

    return (
        events.groupBy(key)
        .applyInPandasWithState(fn, out_schema, state_schema, "update", timeout)
    )


def streaming_window_stats(
    events: DataFrame,
    key: str = "url",
    ts: str = "warc_ts",
    value: str = "n_chars",
    size: str = "10 minutes",
    step: str = "1 minute",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding windowed stats (mean/std_pop/min/max/count) per key — the
    incremental face of W1/W2 (boundary semantics differ deliberately:
    Spark streaming windows are [start, end) half-open; the batch engine
    pins the reference's inclusive-[:-1] quirks)."""
    v = F.col(value)
    return (
        events.withWatermark(ts, watermark)
        .groupBy(key, F.window(F.col(ts), size, step).alias("w"))
        .agg(
            F.avg(v).alias("w_mean"),
            F.stddev_pop(v).alias("w_std"),
            F.min(v).alias("w_min"),
            F.max(v).alias("w_max"),
            F.count(v).alias("n"),
        )
        .select(key, "w.start", "w.end", "w_mean", "w_std", "w_min", "w_max", "n")
    )


def streaming_asof_enrich(
    static_right: DataFrame,
    on: str = "url",
    left_ts: str = "warc_ts",
    right_ts: str | None = None,
    right_cols: list[str] | None = None,
    tolerance_seconds: float | None = None,
    right_tiebreak: str | None = None,
):
    """Streaming face of the engine's core operator: strictly-causal
    backward as-of enrichment of a stream against a static (slowly-updated)
    reference table.

    Spark has no native stream-static ASOF join, so the idiomatic lift is
    per-micro-batch: ``foreachBatch`` hands each micro-batch to the SAME
    batch ``asof_join`` (union+window plan, one shuffle of
    |batch|+|right|), preserving the batch operator's exact semantics —
    including tolerance and tiebreak — instead of re-implementing them.
    Returns a function for ``writeStream.foreachBatch`` that enriches and
    forwards each batch to ``sink_fn(enriched_df, batch_id)``.

    Scale: the static side is re-read per micro-batch (cheap for dims;
    snapshot-pinned for Iceberg). Event-time ordering ACROSS micro-batches
    is the source's concern (a replayable log partitioned by key keeps
    per-key order); within a batch the as-of is exact.
    """
    from feature_engineering_spark.operators.asof import asof_join

    def enrich(batch_df: DataFrame, batch_id: int, sink_fn):
        out = asof_join(
            batch_df, static_right, on=on, left_ts=left_ts,
            right_ts=right_ts, right_cols=right_cols,
            direction="backward", tolerance_seconds=tolerance_seconds,
            right_tiebreak=right_tiebreak,
        )
        sink_fn(out, batch_id)

    def for_each_batch(sink_fn):
        return lambda batch_df, batch_id: enrich(batch_df, batch_id, sink_fn)

    return for_each_batch


def streaming_neardup_filter(
    corpus: DataFrame,
    corpus_banded: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    **dedup_kwargs,
):
    """Streaming face of the incremental near-dup dedup: each micro-batch
    is deduped against the committed corpus LSH index — and within itself
    — by the SAME batch operator (operators/dedup.dedup_batch_against_
    corpus), so semantics (verified Jaccard, transitive cluster closure,
    corpus-anchored drops) are identical to the batch ingest job.

    Like streaming_asof_enrich, this returns a factory for
    ``writeStream.foreachBatch``: ``for_each_batch(sink_fn)`` where
    ``sink_fn(survivors_df, drops_df, batch_id)`` receives the kept rows
    and the (doc_id, reason) drop list per micro-batch. The sink is the
    natural place to append survivors + their banding to the corpus/index
    tables (jobs/ingest_increment.py does exactly that per batch).

    Cross-micro-batch dups: a doc can only near-dup an EARLIER micro-batch
    if the sink committed that batch's survivors to the index the next
    probe reads — the same contract as the batch ingest job; within a
    micro-batch the in-batch self-join catches everything."""
    from feature_engineering_spark.operators.dedup import (
        dedup_batch_against_corpus,
    )

    def for_each_batch(sink_fn):
        def fn(batch_df: DataFrame, batch_id: int):
            survivors, drops = dedup_batch_against_corpus(
                batch_df, corpus, corpus_banded, text=text, id_col=id_col,
                threshold=threshold,
                # e.g. shingle_unit='char', or emb/emb_banded/emb_dim for
                # the multi-signal embedding probe
                **dedup_kwargs,
            )
            sink_fn(survivors, drops, batch_id)

        return fn

    return for_each_batch


def streaming_contamination_filter(
    probes: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_hits: int = 2,
):
    """Streaming face of benchmark decontamination: each micro-batch is
    screened against the (static, tiny) benchmark probe set by the SAME
    batch operators (operators/contamination.contamination_report /
    decontaminate), so semantics — distinct word n-gram hits, the
    ``min_hits`` floor — are identical to the batch pass. The probe
    n-grams broadcast into every micro-batch scan; only hit rows shuffle.

    Like streaming_neardup_filter, returns a factory for
    ``writeStream.foreachBatch``: ``for_each_batch(sink_fn)`` where
    ``sink_fn(clean_df, report_df, batch_id)`` receives the kept rows and
    the per-doc contamination report (doc_id, n_hits, first_hit) — the
    drop accounting — per micro-batch. The report is computed ONCE per
    batch and the clean side anti-joins against it (broadcast — the
    report is one row per contaminated doc, a vanishing fraction)."""
    from feature_engineering_spark.operators.contamination import (
        contamination_report,
    )

    def for_each_batch(sink_fn):
        def fn(batch_df: DataFrame, batch_id: int):
            report = contamination_report(
                batch_df, probes, text=text, id_col=id_col, n=n,
                min_hits=min_hits,
            )
            clean = batch_df.join(
                F.broadcast(report.select(id_col)), id_col, "left_anti"
            )
            sink_fn(clean, report, batch_id)

        return fn

    return for_each_batch


def streaming_line_dedup_filter(
    line_index: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_count: int = 3,
    sep: str = "\n",
):
    """Streaming face of the incremental corpus-level line dedup: each
    micro-batch is stripped of boilerplate lines whose CUMULATIVE count —
    committed (line, c) index plus this batch — reaches ``min_count``, by
    the SAME batch operator (operators/dedup.line_dedup_batch_against_
    index), so semantics (raw-count accounting, ordered rebuild,
    empty-doc discard) are identical to the batch ingest job.

    Returns a factory for ``writeStream.foreachBatch``:
    ``for_each_batch(sink_fn)`` where ``sink_fn(cleaned_df,
    batch_counts_df, batch_id)`` receives the rebuilt documents and the
    batch's RAW line counts per micro-batch. The sink commits the counts
    alongside the cleaned rows; if ``line_index`` is a lazy read of the
    committed index table, the NEXT micro-batch's probe sees them — the
    same grow-the-index contract as streaming_neardup_filter. A line
    only starts being stripped once its cumulative count crosses the
    threshold; re-cleaning earlier batches is the batch compaction job
    (line_corpus_dedup)'s business."""
    from feature_engineering_spark.operators.dedup import (
        line_dedup_batch_against_index,
    )

    def for_each_batch(sink_fn):
        def fn(batch_df: DataFrame, batch_id: int):
            cleaned, counts_b = line_dedup_batch_against_index(
                batch_df, line_index, text=text, id_col=id_col,
                min_count=min_count, sep=sep,
            )
            sink_fn(cleaned, counts_b, batch_id)

        return fn

    return for_each_batch


def streaming_overlap_trim(
    corpus: DataFrame,
    fp_index: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
):
    """Streaming face of partial-overlap handling: each micro-batch is
    probed against the committed winnow fingerprint index by the SAME
    batch operator (operators/dedup.winnow_overlap_incremental), then
    flagged docs have their quoted runs excised against their pair
    partners (operators/dedup.trim_contained_runs) — detect AND act per
    micro-batch, semantics identical to the ingest job's stages 5-6.

    Returns a factory for ``writeStream.foreachBatch``:
    ``for_each_batch(sink_fn)`` where ``sink_fn(trimmed_df, pairs_df,
    batch_fps_df, batch_id)`` receives the publish-ready rows (flagged
    docs trimmed, unflagged untouched, per-doc token accounting), the
    overlap report, and the batch's fingerprints for committing — if
    ``fp_index``/``corpus`` are lazy reads of committed tables, the NEXT
    micro-batch probes this one's content (the grow-the-index contract
    of the other streaming filters)."""
    from feature_engineering_spark.operators.dedup import (
        excise_overlaps,
        winnow_overlap_incremental,
    )

    def for_each_batch(sink_fn):
        def fn(batch_df: DataFrame, batch_id: int):
            pairs, fps_b = winnow_overlap_incremental(
                batch_df, fp_index, text=text, id_col=id_col, k=k, w=w,
                min_shared=min_shared,
            )
            sources = corpus.unionByName(batch_df.select(*corpus.columns))
            trimmed = excise_overlaps(
                batch_df, sources, pairs, text=text, id_col=id_col, k=k
            )
            sink_fn(trimmed, pairs, fps_b, batch_id)

        return fn

    return for_each_batch


def streaming_exact_dedup(
    stream: DataFrame,
    text: str = "text",
    ts: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming face of dedup_exact: content-hash dedup over a live feed
    via ``dropDuplicatesWithinWatermark`` — state holds one md5 per
    distinct text and is EVICTED once the watermark passes it. Unbounded
    dropDuplicates state is the classic 10^12-doc streaming failure mode;
    the watermark bounds state to the horizon, and the batch dedup_exact
    owns anything older (backfill batch + live tail split)."""
    return (
        stream.withColumn("text_md5", F.md5(F.col(text)))
        .withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["text_md5"])
    )
