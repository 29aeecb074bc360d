"""End-to-end corpus CURATION pipeline — the full publish path a webtext
training-data team runs, composing every hygiene family in this repo in
the order a real pipeline applies them, checkpointed and resumable with
per-stage drop accounting:

  1. text signals: quality score + language ID + PII counts (one scan,
     pure JVM — reference analog: the per-segment signal derivation in
     matching.pyc's preprocessing, generalized to corpus hygiene)
  2. quality gate            (drops low-quality docs)
  3. repetition gates        (Gopher word/n-gram AND duplicate-line
                              families — boilerplate/scraper loops)
  4. exact dedup             (content-hash groupBy, min-id keeper)
  5. MinHash+LSH near-dup    (verified Jaccard, transitive closure,
                              min-id survivor)
  6. decontamination         (probe n-gram broadcast — benchmark text
                              must not leak into training data)
  7. substring dedup         (winnow detect -> excise quoted runs from
                              the longer side of each flagged pair —
                              AFTER the byte audit, since trimming
                              legitimately rewrites text)
  8. PII scrub + publish     (masking is the LAST step so dedup/audits
                              run on ingest bytes; byte-identity of
                              surviving text is asserted JUST BEFORE
                              trim/scrub rewrite it)

Every stage is a Pipeline table (plans/checkpoint.py): a re-run skips
committed stages, and the returned stats double as the drop ledger
(rows in/out per gate — no silent drops anywhere).

    python jobs/curate_corpus.py --rows 50000 --out /tmp/fes_curate
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from feature_engineering_spark.functions.text import text_scores, ws_token_count  # noqa: E402
from feature_engineering_spark.operators.contamination import decontaminate  # noqa: E402
from feature_engineering_spark.operators.dedup import (  # noqa: E402
    dedup_exact,
    excise_overlaps,
    lsh_dropped_bucket_stats,
    minhash_banded,
    minhash_lsh_dedup,
    winnow_overlap_pairs,
)
from feature_engineering_spark.operators.graph import dedup_keep_canonical  # noqa: E402
from feature_engineering_spark.operators.lm_score import filter_by_nll  # noqa: E402
from feature_engineering_spark.operators.packing import pack_chunks  # noqa: E402
from feature_engineering_spark.operators.pii import pii_total, scrub_pii  # noqa: E402
from feature_engineering_spark.operators.repetition import (  # noqa: E402
    filter_repetitive,
    filter_repetitive_lines,
)
from feature_engineering_spark.operators.split import domain_mix_sample  # noqa: E402
from feature_engineering_spark.plans.checkpoint import Pipeline  # noqa: E402
from feature_engineering_spark.session import get_spark  # noqa: E402
from feature_engineering_spark.sources.pages import stage_input  # noqa: E402

# Benchmark probe sentences (stand-in for a real eval set's documents).
# Deliberately multi-word so 3-gram probes are specific, not boilerplate.
PROBE_TEXTS = (
    "the quick probe benchmark sentence about gradient descent",
    "a held out evaluation question concerning spark shuffles",
)


def synth_input(spark, out_root: str, n_rows: int):
    """Deterministic corpus with PLANTED artifacts for every gate, so the
    job demonstrably removes what each stage exists to remove. Layers are
    keyed off a content hash (stable across runs/parallelism):
      h%100 in [0,5)   -> exact copy appended         (exact dedup)
      h%100 in [5,10)  -> near copy (one-token edit)  (near-dup)
      h%100 in [10,12) -> text replaced by a repeated phrase (repetition)
      h%100 in [12,14) -> a probe sentence appended   (decontamination)
      h%100 in [14,17) -> an email + phone appended   (PII scrub)
      h%100 in [17,20) -> text replaced by 120 globally-unique tokens
                          (gibberish: passes the quality heuristic but
                          scores extreme unigram NLL -> LM gate)
      h%100 in [20,23) -> base text quoted inside fresh md5 soup
                          (passes EVERY drop gate by construction ->
                          winnow substring pass must excise the quote)
    """
    df = spark.read.parquet(stage_input(out_root, "pages", n_rows)).select(
        "url", "warc_ts", "text", "lang"
    )
    h = F.pmod(F.xxhash64("url", "warc_ts"), F.lit(100))

    base = df.withColumn("__layer", F.lit(0))
    exact = df.where(h < 5).withColumn("__layer", F.lit(1))
    near = (
        df.where((h >= 5) & (h < 10))
        .withColumn("text", F.concat(F.col("text"), F.lit(" zz")))
        .withColumn("__layer", F.lit(2))
    )
    rep = df.where((h >= 10) & (h < 12)).withColumn(
        "text",
        F.concat_ws(" ", F.array_repeat(F.lit("buy cheap widgets now"), 40)),
    ).withColumn("__layer", F.lit(3))
    contam = df.where((h >= 12) & (h < 14)).withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" " + " ".join(PROBE_TEXTS))),
    ).withColumn("__layer", F.lit(4))
    pii = df.where((h >= 14) & (h < 17)).withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" contact bob@site.example.com +4915123456789")),
    ).withColumn("__layer", F.lit(5))
    gibberish = df.where((h >= 17) & (h < 20)).withColumn(
        "text",
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(120)),
                lambda i: F.concat(
                    F.lit("zq"),
                    F.conv(
                        F.abs(F.xxhash64(F.col("url"), F.col("warc_ts"), i)),
                        10, 36,
                    ),
                ),
            ),
        ),
    ).withColumn("__layer", F.lit(7))
    # quote plant: the base row's FULL text inside ~15 fresh md5-soup
    # tokens per side — passes quality, repetition, LM, exact AND
    # near-dup (Jaccard vs the base lands well under 0.6 for short
    # docs), so only the winnow substring pass can catch and excise it
    soup = lambda tag: F.concat_ws(  # noqa: E731
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(15)),
            lambda i: F.substring(
                F.md5(F.concat(F.col("url"), F.lit(tag), i.cast("string"))),
                1, 10,
            ),
        ),
    )
    quote = df.where((h >= 20) & (h < 23)).withColumn(
        "text", F.concat_ws(" ", soup("qp"), F.col("text"), soup("qs"))
    ).withColumn("__layer", F.lit(6))

    allrows = base
    for extra in (exact, near, rep, contam, pii, gibberish, quote):
        allrows = allrows.unionByName(extra)
    # content-derived id: survivor sets are a pure function of the corpus
    # (jobs/dedup_corpus.py precedent; r3 verdict fix)
    return allrows.withColumn(
        "doc_id", F.xxhash64("url", "warc_ts", "text", "__layer")
    ).drop("__layer").withColumn("ingest_sha", F.sha2("text", 256))


def run(spark, out_root: str, n_rows: int, min_quality: float = 0.3,
        jaccard: float = 0.6, max_nll: float = 8.0,
        mix: dict[str, float] | None = None) -> dict:
    p = Pipeline(spark, out_root)
    probes = spark.createDataFrame(
        [(i, t) for i, t in enumerate(PROBE_TEXTS)], "probe_id long, text string"
    )

    pages = p.stage("pages", lambda: synth_input(spark, out_root, n_rows),
                    ts_col="warc_ts")
    n0 = p.rows("pages")

    def build_scored():
        return text_scores(pages).select(
            *pages.columns, "quality", "lang_guess",
            pii_total(F.col("text")).alias("n_pii"),
        )

    scored = p.stage("scored", build_scored, ts_col="warc_ts")

    quality_ok = p.stage(
        "quality_gate",
        lambda: scored.where(F.col("quality") >= min_quality),
        ts_col="warc_ts",
    )
    n1 = p.rows("quality_gate")

    def build_rep_gate():
        # word/n-gram family (Gopher per-n char-coverage + dup-word gates)
        # then the duplicate-line family over synthesized line structure
        kept = filter_repetitive(
            quality_ok, max_dup_word_frac=0.6,
            max_top_char_frac={2: 0.20, 3: 0.18, 4: 0.16},
        )
        return filter_repetitive_lines(kept)

    rep_ok = p.stage("repetition_gate", build_rep_gate, ts_col="warc_ts")
    n2 = p.rows("repetition_gate")

    # CCNet-style perplexity head: gibberish passes the surface-quality
    # heuristic (long, alpha-heavy) but its globally-unique tokens give
    # it an extreme unigram NLL; common text sits far below max_nll
    lm_ok = p.stage(
        "lm_gate",
        lambda: filter_by_nll(rep_ok, max_nll=max_nll, id_col="doc_id"),
        ts_col="warc_ts",
    )
    n2b = p.rows("lm_gate")

    def build_exact():
        keep = dedup_exact(lm_ok, text="text", id_col="doc_id").select(
            F.col("keep_id").alias("doc_id")
        )
        return lm_ok.join(keep, "doc_id", "left_semi")

    exact = p.stage("exact_dedup", build_exact, ts_col="warc_ts")
    n3 = p.rows("exact_dedup")

    # the banding the near-dup stage computes, cached for the cap audit:
    # the operator's identical banding subplan reads it from the cache,
    # so the audit below takes no second signature pass
    banded = minhash_banded(exact, text="text", id_col="doc_id").persist()
    fresh = False

    def build_neardup():
        nonlocal fresh
        fresh = True
        pairs = minhash_lsh_dedup(
            exact, text="text", id_col="doc_id", threshold=jaccard
        )
        return dedup_keep_canonical(exact, pairs, id_col="doc_id")

    deduped = p.stage("neardup_dedup", build_neardup, ts_col="warc_ts")
    n4 = p.rows("neardup_dedup")

    # no-silent-caps: what did the LSH bucket cap discard (a resume
    # skipped the stage, so nothing to audit — the committed run already
    # reported it)
    if fresh:
        drop_row = lsh_dropped_bucket_stats(
            banded, max_bucket_size=64
        ).collect()[0]
        p.event("neardup_dedup", "lsh_bucket_cap", max_bucket_size=64,
                **drop_row.asDict())
        lsh_dropped = {
            "lsh_dropped_buckets": int(drop_row["n_dropped_buckets"] or 0),
            "lsh_dropped_rows": int(drop_row["n_dropped_rows"] or 0),
        }
    else:
        lsh_dropped = {}
    banded.unpersist()

    decontam = p.stage(
        "decontaminated",
        lambda: decontaminate(deduped, probes, n=3, min_hits=2),
        ts_col="warc_ts",
    )
    n5 = p.rows("decontaminated")

    # byte-identity audit of everything that SURVIVED, on ingest bytes,
    # immediately before the scrub legitimately rewrites them
    corrupted = decontam.where(
        F.sha2("text", 256) != F.col("ingest_sha")
    ).count()

    # substring dedup (winnow detect -> excise): AFTER the byte audit —
    # trimming legitimately rewrites text, same as the scrub below. Per
    # pair, the LONGER doc is trimmed (it embeds the shared span amid
    # its own content; the shorter is closer to the canonical source),
    # tie -> the larger id: each pair is oriented so that b is the side
    # to trim, and excise_overlaps trims every b against the pairs'
    # untrimmed a sides — targeted slivers, never corpus x corpus.
    def build_trimmed():
        pairs = winnow_overlap_pairs(decontam, min_shared=2)
        nt = decontam.select("doc_id", ws_token_count(F.col("text")).alias("__nt"))
        p2 = pairs.join(
            nt.withColumnRenamed("doc_id", "a").withColumnRenamed("__nt", "na"),
            "a",
        ).join(
            nt.withColumnRenamed("doc_id", "b").withColumnRenamed("__nt", "nb"),
            "b",
        )
        longer = F.col("na") > F.col("nb")
        oriented = p2.select(
            F.when(longer, F.col("b")).otherwise(F.col("a")).alias("a"),
            F.when(longer, F.col("a")).otherwise(F.col("b")).alias("b"),
        )
        trimmed = excise_overlaps(decontam, decontam, oriented)
        return decontam.drop("text").join(
            trimmed.select("doc_id", "text", "n_tokens_removed"), "doc_id"
        ).select(*decontam.columns, "n_tokens_removed")

    trimmed = p.stage("substring_trimmed", build_trimmed, ts_col="warc_ts")
    docs_trimmed = trimmed.where(F.col("n_tokens_removed") > 0).count()
    tokens_trimmed = int(
        trimmed.agg(F.sum("n_tokens_removed")).collect()[0][0] or 0
    )

    def build_published():
        return (
            scrub_pii(trimmed)
            .withColumn("published_sha", F.sha2("text", 256))
            .drop("ingest_sha", "n_tokens_removed")
        )

    published = p.stage("published", build_published, ts_col="warc_ts")
    n6 = p.rows("published")
    masked = published.where(F.col("n_pii") > 0).count()
    # the scrub must leave NOTHING matching the PII patterns
    residual = published.where(pii_total(F.col("text")) > 0).count()

    # domain reweighting to the target language mix (largest feasible
    # size), then fixed-token-budget packing — the tokenizer-facing
    # artifact a pretraining run consumes
    target_mix = mix or {"en": 0.4, "de": 0.3, "da": 0.2, "fr": 0.1}
    mixed = p.stage(
        "mixed",
        lambda: domain_mix_sample(
            published, target_mix, domain_col="lang", key="doc_id"
        ),
        ts_col="warc_ts",
    )
    n7 = p.rows("mixed")

    packed = p.stage(
        "packed",
        lambda: pack_chunks(mixed, max_tokens=1024, n_shards=32),
        ts_col=None,
    )
    n_chunks = packed.select("chunk_id").distinct().count()

    stats = {
        "input": n0,
        "after_quality": n1,
        "after_repetition": n2,
        "after_lm": n2b,
        "after_exact": n3,
        "after_neardup": n4,
        "after_decontam": n5,
        "published": n6,
        "mixed": n7,
        "n_chunks": n_chunks,
        "dropped_quality": n0 - n1,
        "dropped_repetition": n1 - n2,
        "dropped_lm": n2 - n2b,
        "dropped_exact": n2b - n3,
        "dropped_neardup": n3 - n4,
        "dropped_contaminated": n4 - n5,
        "dropped_mix": n6 - n7,
        "pii_docs_masked": masked,
        "pii_residual_docs": residual,
        "byte_identity_violations": corrupted,
        "docs_trimmed": docs_trimmed,
        "tokens_trimmed": tokens_trimmed,
        **lsh_dropped,
    }
    assert corrupted == 0
    assert residual == 0
    return stats


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=50_000)
    ap.add_argument("--out", default="/tmp/fes_curate")
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--jaccard", type=float, default=0.6)
    ap.add_argument("--max-nll", type=float, default=8.0)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    spark = get_spark("curate_corpus", master=args.master)
    print(json.dumps(run(spark, args.out, args.rows,
                         args.min_quality, args.jaccard, args.max_nll)))


if __name__ == "__main__":
    main()
