"""Benchmark/test-set contamination detection: which corpus documents
contain any word n-gram of a (small) probe set — the decontamination
pass every serious training-data pipeline runs before training, so that
evaluation benchmarks don't leak into the training corpus.

Scale shape (10^12-doc corpus, 10^4-10^6 probe n-grams):
- the probe set explodes into DISTINCT n-grams driver-free and
  BROADCASTS — probes are benchmarks, i.e. tiny next to the corpus;
- the corpus side is a scan + flatMap (explode of per-doc n-grams — row
  inflation is map-side only, no shuffle of the expansion) into a
  broadcast hash join, then a map-side-combined groupBy(doc) — the only
  shuffle carries one row per CONTAMINATED doc, a vanishing fraction;
- n-grams come from functions/text.shingle_frame, so the tokenization is
  the exact one the dedup operators use (and the DuckDB oracle mirrors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_engineering_spark.functions.text import shingle_frame


def probe_ngrams(
    probes: DataFrame, text: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-grams of the probe/benchmark set: one column
    ``ngram``. Small by construction — broadcast it into the corpus scan."""
    return (
        shingle_frame(probes, text, None, n)
        .select(F.explode("sh").alias("ngram"))
        .distinct()
    )


def contamination_report(
    docs: DataFrame,
    probes: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """One row per contaminated document: (id_col, n_hits = distinct probe
    n-grams found in it, first_hit = the lexicographically smallest such
    n-gram, for auditability). Documents with fewer than ``min_hits``
    distinct probe n-grams are not reported (single-shingle collisions on
    boilerplate phrases are common; real contamination hits many)."""
    grams = probe_ngrams(probes, text, n)
    doc_grams = shingle_frame(docs, text, id_col, n).select(
        F.col("id").alias(id_col), F.explode("sh").alias("ngram")
    )
    hits = doc_grams.join(F.broadcast(grams), "ngram")
    # count_distinct partial-aggregates map-side; only HIT rows reach the
    # shuffle (shingles are already per-doc distinct, so a doc can't
    # double-count one n-gram anyway)
    return (
        hits.groupBy(id_col)
        .agg(
            F.count_distinct("ngram").alias("n_hits"),
            F.min("ngram").alias("first_hit"),
        )
        .where(F.col("n_hits") >= min_hits)
    )


def decontaminate(
    docs: DataFrame,
    probes: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_hits: int = 2,
) -> DataFrame:
    """Corpus minus contaminated docs (anti-join on the report). The
    report's one-row-per-contaminated-doc output is tiny, so the anti
    join broadcasts at any corpus scale."""
    bad = contamination_report(docs, probes, text, id_col, n, min_hits)
    return docs.join(bad.select(id_col), id_col, "left_anti")
