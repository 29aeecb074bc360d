"""Language-model quality scoring — the CCNet-style perplexity filter,
Spark-first.

CCNet ranks Common-Crawl documents by the perplexity of a small LM
trained on a clean reference corpus and keeps the low-perplexity head;
here the same shape is expressed with a unigram LM whose counts come
straight out of the corpus (or any reference DataFrame) as one
map-side-combined aggregation, so the whole scorer is three shuffles
bounded by |distinct terms| and never leaves the JVM.

Reference analog: the per-segment signal scoring in the reference's
preprocessing (matching.pyc derives per-window summary signals before
selection); generalized here to corpus-hygiene scoring per SURVEY §2.7.

Scale shape (10^12 docs): term frequencies and document term counts are
two groupBys with map-side combine (shuffle bounded by distinct (doc,
term) / distinct term); the LM table is JOINED on `term`, deliberately
NOT broadcast — an open-vocabulary web corpus has billions of distinct
terms, so the dictionary is itself big; AQE still broadcasts it at
runtime when it turns out tiny (same reasoning as tfidf_terms). The
corpus totals (token count, vocab size) ride along as a single-row lazy
aggregate via a broadcast cross join — no driver action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_engineering_spark.functions.text import term_frame


def unigram_nll(
    docs: DataFrame,
    reference: DataFrame | None = None,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average negative log-likelihood under an add-one-
    smoothed unigram LM: nll(d) = -(1/|d|) * sum_t tf(t,d) * ln p(t),
    p(t) = (c(t) + 1) / (T + V) with corpus token count T and vocab size
    V. Lower = more "ordinary" text; boilerplate/gibberish scores high.

    ``reference`` is the LM training corpus (defaults to ``docs`` itself
    — self-scoring, the common bootstrap); any doc term absent from the
    reference falls back to the unseen mass 1/(T+V) via a left join +
    coalesce, so out-of-vocabulary text is scored, not dropped.

    Returns (id_col, n_tok, avg_nll) with avg_nll ROUND(6) — the
    per-term ln() values are order-summed per doc, so the raw double is
    not cross-engine stable; 6dp is (tfidf_terms precedent).
    """
    dt = term_frame(docs, text, id_col)
    tf = dt.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    if reference is None:
        # Self-scoring (the common bootstrap): the LM counts are a pure
        # roll-up of the per-doc term frequencies — c(t) = sum_d tf(t,d),
        # exactly the count a second tokenization pass would produce — so
        # derive them from ``tf`` instead of re-tokenizing the corpus. At
        # corpus scale the tokenize+explode is the dominant scan cost and
        # this halves it (the shared tf subtree is one exchange, reused).
        lm = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    else:
        rt = term_frame(reference, text, id_col)
        lm = rt.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    totals = lm.agg(
        F.sum("c").alias("t_tok"), F.count(F.lit(1)).alias("v_size")
    )
    # ln p(t) = ln(c + 1) - ln(T + V); unseen terms: ln(1) - ln(T + V)
    scored = (
        tf.join(lm, "term", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.col("tf"),
            (
                F.log(F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                - F.log((F.col("t_tok") + F.col("v_size")).cast("double"))
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("tf").alias("n_tok"),
        F.round(-F.sum(F.col("tf") * F.col("lp")) / F.sum("tf"), 6).alias(
            "avg_nll"
        ),
    )


def filter_by_nll(
    docs: DataFrame,
    max_nll: float,
    reference: DataFrame | None = None,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet head-selection: keep documents whose unigram avg_nll is at
    most ``max_nll`` (the clean head of the perplexity ranking). Join
    back on id so the survivor keeps every original column; docs with
    zero tokens have no score row and are dropped (unscoreable)."""
    keep = (
        unigram_nll(docs, reference, text=text, id_col=id_col)
        .where(F.col("avg_nll") <= max_nll)
        .select(id_col)
    )
    return docs.join(keep, id_col, "left_semi")
