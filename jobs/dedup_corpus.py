"""Corpus-cleaning pipeline — the canonical training-data preparation flow
over the pages table, checkpointed and resumable:

  1. text signals + quality scoring + language ID (scan-side JVM)
  2. quality/lang filter
  3. exact dedup (content-hash groupBy, min-id keeper)
  4. MinHash+LSH near-dup removal (verified Jaccard >= threshold, pairs
     closed into transitive clusters via connected components; the MIN id
     of each cluster survives)
  5. byte-identity audit: surviving text hashes unchanged from ingest

    python jobs/dedup_corpus.py --rows 50000 --out /tmp/fes_dedup
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from feature_engineering_spark.functions.text import text_scores  # noqa: E402
from feature_engineering_spark.operators.dedup import (  # noqa: E402
    dedup_exact,
    lsh_dropped_bucket_stats,
    minhash_banded,
    minhash_lsh_dedup,
)
from feature_engineering_spark.plans.checkpoint import Pipeline  # noqa: E402
from feature_engineering_spark.session import get_spark  # noqa: E402
from feature_engineering_spark.sources.pages import stage_input  # noqa: E402


def run(spark, out_root: str, n_rows: int, min_quality: float = 0.4,
        jaccard: float = 0.6) -> dict:
    p = Pipeline(spark, out_root)

    def load_pages():
        df = spark.read.parquet(stage_input(out_root, "pages", n_rows))
        # the synthetic fixture has no duplicates — inject a deterministic
        # dup layer so the dedup stages demonstrably remove rows: ~5% exact
        # copies and ~5% near-copies (one appended token)
        frac = F.pmod(F.xxhash64("url", "warc_ts"), F.lit(100))
        base = df.withColumn("__dup_layer", F.lit(0))
        exact_copies = df.where(frac < 5).withColumn("__dup_layer", F.lit(1))
        near_copies = (
            df.where((frac >= 5) & (frac < 10))
            .withColumn("text", F.concat(F.col("text"), F.lit(" zz")))
            .withColumn("__dup_layer", F.lit(2))
        )
        df = base.unionByName(exact_copies).unionByName(near_copies)
        # doc_id is a pure function of CONTENT (url, ts, text, dup layer) —
        # same convention as the flagship job's xxhash64 surrogate keys
        # (jobs/extract_features.py). The dedup survivor is "min doc_id per
        # cluster", so a partition-layout-dependent id (the old
        # monotonically_increasing_id) made two fresh runs at different
        # parallelism keep DIFFERENT physical rows; content-derived ids
        # make the survivor set a pure function of the corpus
        # (tests/test_checkpoint.py pins this).
        return df.withColumn(
            "doc_id", F.xxhash64("url", "warc_ts", "text", "__dup_layer")
        ).drop("__dup_layer").withColumn("ingest_sha", F.sha2("text", 256))

    pages = p.stage("pages", load_pages, ts_col="warc_ts")
    n0 = p.rows("pages")

    scored = p.stage(
        "scored",
        lambda: text_scores(pages).select(*pages.columns, "quality", "lang_guess"),
        ts_col="warc_ts",
    )

    filtered = p.stage(
        "filtered",
        lambda: scored.where(F.col("quality") >= min_quality),
        ts_col="warc_ts",
    )
    n1 = p.rows("filtered")

    def build_exact():
        keep = dedup_exact(filtered, text="text", id_col="doc_id").select(
            F.col("keep_id").alias("doc_id")
        )
        return filtered.join(keep, "doc_id", "left_semi")

    exact = p.stage("exact_dedup", build_exact, ts_col="warc_ts")
    n2 = p.rows("exact_dedup")

    # the banding the near-dup stage computes, cached for the cap audit:
    # the operator's identical banding subplan reads it from the cache,
    # so a fresh run's audit takes no second signature pass
    banded = minhash_banded(exact, text="text", id_col="doc_id").persist()

    def build_neardup():
        from feature_engineering_spark.operators.graph import dedup_keep_canonical

        pairs = minhash_lsh_dedup(
            exact, text="text", id_col="doc_id", threshold=jaccard
        )
        # transitive cluster closure, ONE survivor (min id) per cluster —
        # pairwise greatest(a,b) dropping under-deletes on chains (pairs
        # (A,C),(B,C) would keep both A and B despite sharing a cluster)
        return dedup_keep_canonical(exact, pairs, id_col="doc_id")

    clean = p.stage("neardup_dedup", build_neardup, ts_col="warc_ts")
    n3 = p.rows("neardup_dedup")

    # no-silent-caps: report what the LSH bucket cap discarded (oversized
    # buckets are assumed to be exact-dup boilerplate clusters already
    # handled by the exact pass — this row makes that assumption auditable)
    drop_row = lsh_dropped_bucket_stats(banded, max_bucket_size=64).collect()[0]
    banded.unpersist()
    p.event("neardup_dedup", "lsh_bucket_cap", max_bucket_size=64,
            **drop_row.asDict())

    corrupted = clean.where(F.sha2("text", 256) != F.col("ingest_sha")).count()
    stats = {
        "input": n0, "after_quality": n1, "after_exact": n2,
        "after_neardup": n3, "byte_identity_violations": corrupted,
        "lsh_dropped_buckets": int(drop_row["n_dropped_buckets"] or 0),
        "lsh_dropped_rows": int(drop_row["n_dropped_rows"] or 0),
        "lsh_max_bucket_seen": int(drop_row["max_bucket_size_seen"] or 0),
    }
    assert corrupted == 0
    return stats


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=50_000)
    ap.add_argument("--out", default="/tmp/fes_dedup")
    ap.add_argument("--min-quality", type=float, default=0.4)
    ap.add_argument("--jaccard", type=float, default=0.6)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    spark = get_spark("dedup_corpus", master=args.master)
    print(json.dumps(run(spark, args.out, args.rows,
                         args.min_quality, args.jaccard)))


if __name__ == "__main__":
    main()
