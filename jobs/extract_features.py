"""End-to-end feature-extraction job — the engine's flagship pipeline,
runnable via spark-submit (north_rule):

    spark-submit --master local[32] --py-files fes.zip jobs/extract_features.py \
        --pages /path/pages.parquet --out /path/run --rows 200000

Pipeline (the generalization of /root/reference/get_features.py E1 + the
matching.pyc alignment stage E0):
  1. pages scan (or synthesize the deterministic fixture if --rows given)
  2. derive numeric text signals (n_chars, n_tokens, digit_ratio)
  3. as-of join labels (strictly causal backward match + tolerance)
  4. sessionize (30-min gap on warc_ts per url; runs after the as-of join
     to reuse its hash(url_key)+ts shuffle order — zero extra exchange)
  5. salted sliding-window 35-feature extraction
Each stage is checkpointed with lineage rows (resume = rerun the command).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from feature_engineering_spark.operators.asof import asof_join  # noqa: E402
from feature_engineering_spark.operators.keys import (  # noqa: E402
    decode_key,
    encode_key,
    key_dictionary,
    verify_injective,
)
from feature_engineering_spark.operators.sessionize import sessionize  # noqa: E402
from feature_engineering_spark.operators.skew import salted_window_features  # noqa: E402
from feature_engineering_spark.operators.windows import derive_text_signals  # noqa: E402
from feature_engineering_spark.plans.checkpoint import Pipeline  # noqa: E402
from feature_engineering_spark.session import get_spark  # noqa: E402
from feature_engineering_spark.sources.pages import stage_input  # noqa: E402


def run(spark, pages_path: str | None, out_root: str, n_rows: int,
        window_size: float, step: float, min_points: int) -> dict:
    p = Pipeline(spark, out_root)
    t_start = time.monotonic()

    def load_pages():
        return spark.read.parquet(
            pages_path or stage_input(out_root, "pages", n_rows)
        )

    pages = p.stage("pages", load_pages, ts_col="warc_ts")
    n_pages = p.rows("pages")

    # row_key: deterministic unique-ish tiebreak derived from row CONTENT
    # (not monotonically_increasing_id, which depends on the physical
    # partitioning) — pins duplicate-warc_ts ordering so the whole pipeline
    # is reproducible run-to-run; rows identical in (url, ts, text) tie, but
    # such rows are interchangeable so every downstream stat is unaffected.
    signals = p.stage(
        "signals",
        lambda: derive_text_signals(pages).select(
            "url", "warc_ts", "n_chars", "n_tokens", "digit_ratio",
            F.xxhash64("url", "warc_ts", "text").alias("row_key"),
        ),
        ts_col="warc_ts",
    )

    # Surrogate-key encoding (operators/keys.py): every downstream shuffle
    # (sessionize window, as-of union, salted repartition) keys on an 8-byte
    # url_key instead of the 40-200 byte url string; the string is
    # re-attached by a dictionary join only at the end. verify_injective
    # makes a 64-bit collision (would silently merge two urls' histories)
    # a loud failure instead.
    urldict = key_dictionary(signals, "url")
    verify_injective(urldict)

    # ONE stage for as-of enrich + sessionize, asof FIRST: both need
    # hash(url_key) distribution + warc_ts order, and the as-of union's
    # window already shuffles+sorts exactly that way, so sessionize's window
    # adds no exchange (alias-aware partitioning propagation; pinned in
    # test_asof + test_plans_invariants). Sessionize reads only key+ts of
    # left rows, which asof preserves — output identical to the old
    # sessions->labeled order, with one fewer 8M-row shuffle and one fewer
    # checkpoint materialization.
    def build_enriched():
        labels = spark.read.parquet(
            stage_input(out_root, "labels", n_rows)
        ).withColumn(
            "lab_key", F.xxhash64("url", "label_ts", "iri")
        )
        lab = asof_join(
            encode_key(signals, "url"), encode_key(labels, "url"),
            on="url_key", left_ts="warc_ts", right_ts="label_ts",
            right_cols=["iri"], direction="backward",
            tolerance_seconds=7 * 86400.0, right_tiebreak="lab_key",
        )
        return sessionize(lab, "url_key", "warc_ts", 1800,
                          order_tiebreak="row_key")

    labeled = p.stage("labeled", build_enriched, ts_col="warc_ts")

    features = p.stage(
        "features",
        lambda: decode_key(
            salted_window_features(
                labeled, key="url_key", ts="warc_ts",
                signals=("n_chars", "n_tokens", "digit_ratio"),
                window_size=window_size, step=step, min_points=min_points,
                target_rows_per_task=100_000,
                order_tiebreak="row_key",
            ),
            urldict,
        ),
    )
    n_feat = p.rows("features")
    wall = time.monotonic() - t_start
    return {
        "pages": n_pages,
        "feature_rows": n_feat,
        "wall_s": round(wall, 2),
        "docs_per_sec": round(n_pages / wall, 1),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", default=None, help="input pages parquet (else synthesize)")
    ap.add_argument("--out", default="/tmp/fes_run")
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--window", type=float, default=3600.0)
    ap.add_argument("--step", type=float, default=360.0)
    ap.add_argument("--min-points", type=int, default=5)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    spark = get_spark("extract_features", master=args.master)
    stats = run(spark, args.pages, args.out, args.rows,
                args.window, args.step, args.min_points)
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
