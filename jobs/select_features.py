"""End-to-end feature-selection job (reference E1 steps 5-6 + E3):
window-feature matrix with an as-of label target -> causal split ->
variance/NaN pruning -> correlation preselect -> forward selection ->
test R^2 + selected-feature JSON export (reference exports selected
features to JSON/CSV, get_features.py:437-455).

    python jobs/select_features.py --rows 50000 --out /tmp/fes_select
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from feature_engineering_spark.functions.features import feature_columns  # noqa: E402
from feature_engineering_spark.operators.asof import asof_join  # noqa: E402
from feature_engineering_spark.operators.selection import (  # noqa: E402
    select_features_pipeline,
)
from feature_engineering_spark.operators.skew import salted_window_features  # noqa: E402
from feature_engineering_spark.operators.windows import derive_text_signals  # noqa: E402
from feature_engineering_spark.session import get_spark  # noqa: E402
from feature_engineering_spark.sources.pages import stage_input  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=50_000)
    ap.add_argument("--out", default="/tmp/fes_select")
    ap.add_argument("--fmax", type=int, default=5)
    ap.add_argument("--model", default="lr", choices=["lr", "rf"])
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    spark = get_spark("select_features", master=args.master)

    pages = spark.read.parquet(stage_input(args.out, "pages", args.rows))
    labels = spark.read.parquet(stage_input(args.out, "labels", args.rows))

    sig = derive_text_signals(pages).select(
        "url", "warc_ts", "n_chars", "n_tokens", "digit_ratio"
    )
    lab = asof_join(
        sig, labels, on="url", left_ts="warc_ts", right_ts="label_ts",
        right_cols=["iri"], tolerance_seconds=14 * 86400.0,
    )
    # one pass builds X (3 signals x 35) AND the target (iri window mean)
    matrix = salted_window_features(
        lab, key="url", ts="warc_ts",
        signals=("n_chars", "n_tokens", "digit_ratio", "iri"),
        window_size=3600.0, step=360.0, min_points=5,
    )
    x_cols = (
        feature_columns("n_chars")
        + feature_columns("n_tokens")
        + feature_columns("digit_ratio")
    )
    result = select_features_pipeline(
        matrix, x_cols, label="iri-0_Mean", fmax=args.fmax, model=args.model
    )
    with open(os.path.join(args.out, "selected_features.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
