"""Continuous-ingest dedup: maintain a deduplicated corpus AND its MinHash
LSH index across arriving batches — the incremental counterpart of
jobs/dedup_corpus.py (which re-processes a whole corpus).

Per batch k (all stages checkpointed/resumable through plans/checkpoint):

  1. commit the raw arrivals (``arrivals_k``);
  1b. corpus-level line dedup (``cleaned_k`` + ``lines_k``): boilerplate
     lines whose cumulative count across the committed line index ∪ this
     batch reaches the threshold are stripped BEFORE signing, so MinHash
     signatures cover content, not scraper chrome; the batch's raw line
     counts are committed so later batches probe them too;
  2. near-dup the batch against the corpus via the COMMITTED index tables
     — TWO signals, both index-probed with a broadcast of the batch's
     buckets, only the batch signed:
     text (operators/dedup.minhash_lsh_incremental, MinHash LSH index)
     and embeddings (operators/dedup.embedding_lsh_incremental, SRP
     index) — the latter catches paraphrase/semantic dups whose rewritten
     text shares no shingles with the committed original;
  3. close ALL pairs from BOTH signals (cross + in-batch) into one graph
     (operators/graph): a batch doc is dropped if its cluster contains
     any corpus doc (it duplicates committed data, possibly transitively
     through another arrival, possibly through a mixed text+embedding
     chain) or if it is not its cluster's minimum batch id (in-batch
     dup);
  4. commit the survivors (``survivors_k``) and BOTH their bandings
     (``index_k`` MinHash, ``eindex_k`` SRP) so the next batch dedups
     against them too;
  5. partial-overlap REPORT (``overlap_k`` + ``windex_k``): survivors are
     probed against the committed winnow fingerprint index
     (operators/dedup.winnow_overlap_incremental) — docs that QUOTE
     committed content below the near-dup threshold are flagged as
     (a, b, n_shared) pairs, not dropped; survivor fingerprints are
     committed for later batches;
  6. EXCISION (``trimmed_k``): the publish-ready view — every flagged
     doc has its quoted runs removed by operators/dedup.
     trim_contained_runs against its pair partners (targeted semi-join
     slivers), unflagged survivors pass through; per-doc token
     accounting. The committed corpus/indexes keep the untrimmed text
     (ids/signatures stay pure functions of what arrived).

Corpus = corpus_000 ∪ survivors_*; index = index_000 ∪ index_*;
eindex = eindex_000 ∪ eindex_* — on a real deployment these are three
Iceberg tables the job appends to (plans/checkpoint.TableIO); the
per-stage parquet tables here are the sandbox stand-in with identical
resume semantics.

The sandbox fixture has no model embeddings, so the job derives a
deterministic per-row stand-in embedding from (url, warc_ts) hashes —
IDENTICAL for a paraphrase of the same capture, independent for
everything else — which exercises exactly the semantic-dup shape the SRP
path exists for. On a real deployment the embedding column comes from
the encoder; everything downstream is identical.

    python jobs/ingest_increment.py --rows 20000 --batches 2 --out /tmp/fes_ingest
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from feature_engineering_spark.operators.dedup import (  # noqa: E402
    dedup_batch_against_corpus as dedup_batch,
    excise_overlaps,
    line_counts,
    line_dedup_batch_against_index,
    minhash_banded,
    srp_banded,
    winnow_fingerprints,
    winnow_overlap_incremental,
)

BOILER = "follow us on social media today"

EMB_DIM = 16
from feature_engineering_spark.plans.checkpoint import Pipeline  # noqa: E402
from feature_engineering_spark.session import get_spark  # noqa: E402
from feature_engineering_spark.sources.pages import stage_input  # noqa: E402


def _union(parts: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), parts)


def _with_embedding(df: DataFrame) -> DataFrame:
    """Deterministic stand-in embedding, a pure function of the CAPTURE
    (url, warc_ts) — not of the text — so a paraphrased re-crawl of the
    same capture keeps its vector (cosine 1.0: the semantic-dup analog)
    while distinct captures get independent centered hash vectors
    (16-dim, P(cos >= 0.9) negligible). Scan-side JVM projection."""
    comps = [
        (
            F.pmod(F.xxhash64("url", "warc_ts", F.lit(k)), F.lit(2000))
            / F.lit(1000.0)
            - F.lit(1.0)
        )
        for k in range(EMB_DIM)
    ]
    return df.withColumn("embedding", F.array(*comps))


def _paraphrase(df: DataFrame) -> DataFrame:
    """Rewrite text as md5-derived token soup unique to the row's url —
    ZERO shingle overlap with the original (and with other paraphrases),
    so MinHash is provably blind to it; only the embedding signal (which
    rides (url, warc_ts), untouched here) can catch the dup."""
    toks = [
        F.substring(F.md5(F.concat(F.col("url"), F.lit(str(k)))), 1, 12)
        for k in range(15)
    ]
    return df.withColumn("text", F.concat_ws(" ", F.array(*toks)))


def _quote(df: DataFrame, salt: int) -> DataFrame:
    """Embed the row's FULL text inside ~15 fresh md5-soup tokens on each
    side: for short-to-medium docs the whole-doc 3-gram Jaccard vs the
    original sits under the 0.6 near-dup threshold (so MinHash keeps it
    — long docs legitimately cross it and drop as near-dups), and the
    url is mutated + the stand-in embedding recomputed so the SRP signal
    is independent too — only the winnow partial-overlap probe can see
    the contained run. ``salt`` (the batch number) keeps each batch's
    quote text/url distinct, otherwise batch k's quotes would be EXACT
    copies of batch k-1's committed quote survivors and drop as
    corpus_dup before ever reaching the report."""
    pre = [
        F.substring(
            F.md5(F.concat(F.col("url"), F.lit(f"p{j}:{salt}"))), 1, 10
        )
        for j in range(15)
    ]
    suf = [
        F.substring(
            F.md5(F.concat(F.col("url"), F.lit(f"s{j}:{salt}"))), 1, 10
        )
        for j in range(15)
    ]
    out = df.withColumn(
        "text",
        F.concat_ws(
            " ",
            F.concat_ws(" ", *pre),
            F.col("text"),
            F.concat_ws(" ", *suf),
        ),
    ).withColumn("url", F.concat(F.col("url"), F.lit(f"#q{salt}")))
    return _with_embedding(out)


def _with_doc_id(df: DataFrame, layer) -> DataFrame:
    """Content-derived id (same convention as jobs/dedup_corpus.py): the
    survivor set stays a pure function of the corpus, independent of
    partition layout."""
    return df.withColumn(
        "doc_id", F.xxhash64("url", "warc_ts", "text", F.lit(layer))
    )


def run(spark, out_root: str, n_rows: int, n_batches: int = 2,
        threshold: float = 0.6) -> dict:
    p = Pipeline(spark, out_root)

    pages = _with_embedding(
        spark.read.parquet(stage_input(out_root, "pages", n_rows))
    )
    # one 100-way hash split drives the corpus/batch partition: slots
    # [0, 60) are the initial corpus, [60, 100) arrive in batches
    slot = F.pmod(F.xxhash64("url", "warc_ts"), F.lit(100))

    # initial corpus: 60% of the fixture, committed once with its banding
    corpus0 = p.stage(
        "corpus_000",
        lambda: _with_doc_id(pages.where(slot < 60), 0),
        ts_col="warc_ts",
    )
    index0 = p.stage(
        "index_000", lambda: minhash_banded(corpus0), ts_col=None
    )
    eindex0 = p.stage(
        "eindex_000",
        lambda: srp_banded(corpus0, EMB_DIM, emb="embedding", id_col="doc_id"),
        ts_col=None,
    )
    lines0 = p.stage("lines_000", lambda: line_counts(corpus0), ts_col=None)
    windex0 = p.stage(
        "windex_000", lambda: winnow_fingerprints(corpus0), ts_col=None
    )
    corpus_parts, index_parts, eindex_parts = [corpus0], [index0], [eindex0]
    lines_parts, windex_parts = [lines0], [windex0]
    stats: dict = {"corpus_initial": p.rows("corpus_000"), "batches": []}

    # fresh rows: slots [60, 100) split into n_batches equal ranges —
    # works for ANY n_batches <= 40 (the old fixed-width 2-slot-of-10
    # windows silently emptied from batch 3 on)
    for k in range(1, n_batches + 1):
        lo = 60 + (40 * (k - 1)) // n_batches
        hi = 60 + (40 * k) // n_batches
        if lo == hi:
            raise ValueError(f"n_batches={n_batches} too large for the "
                             "fixture's 40% fresh share (max 40)")

        def build_arrivals(lo=lo, hi=hi, k=k):
            # plant scraper boilerplate: ~15% of fresh rows carry the
            # same trailing line -> its per-batch count crosses the
            # line-index threshold and the strip stage must remove it
            raw = pages.where((slot >= lo) & (slot < hi)).withColumn(
                "text",
                F.when(
                    F.pmod(F.xxhash64("url", "warc_ts", F.lit(7)), F.lit(100))
                    < 15,
                    F.concat(F.col("text"), F.lit("\n" + BOILER)),
                ).otherwise(F.col("text")),
            )
            fresh = _with_doc_id(raw, 0)
            # planted dups: exact + near copies of COMMITTED corpus rows,
            # and an in-batch near-pair, so every drop path is exercised
            seed = pages.where(slot < 60)
            cfrac = F.pmod(F.xxhash64("url"), F.lit(100))
            exact_vs_corpus = _with_doc_id(seed.where(cfrac < 3), 10 + k)
            near_vs_corpus = _with_doc_id(
                seed.where((cfrac >= 3) & (cfrac < 6)).withColumn(
                    "text", F.concat("text", F.lit(" zz"))
                ),
                20 + k,
            )
            near_in_batch = _with_doc_id(
                fresh.where(F.pmod(F.xxhash64("url"), F.lit(100)) < 5)
                .withColumn("text", F.concat("text", F.lit(" qq"))),
                30 + k,
            )
            # paraphrase dups: text fully rewritten (MinHash-blind), the
            # (url, warc_ts)-derived embedding untouched — only the SRP
            # index probe can catch these
            para_vs_corpus = _with_doc_id(
                _paraphrase(seed.where((cfrac >= 6) & (cfrac < 9))), 40 + k
            )
            para_in_batch = _with_doc_id(
                _paraphrase(fresh.where((cfrac >= 5) & (cfrac < 8))), 50 + k
            )
            # partial-overlap plants: committed corpus text quoted inside
            # fresh soup — passes BOTH dedup signals by construction, so
            # it must surface in the winnow overlap REPORT, not the drops
            quote_vs_corpus = _with_doc_id(
                _quote(seed.where((cfrac >= 9) & (cfrac < 12)), k), 60 + k
            )
            return (
                fresh.unionByName(exact_vs_corpus)
                .unionByName(near_vs_corpus)
                .unionByName(near_in_batch)
                .unionByName(para_vs_corpus)
                .unionByName(para_in_batch)
                .unionByName(quote_vs_corpus)
            )

        arrivals = p.stage(f"arrivals_{k:03d}", build_arrivals, ts_col="warc_ts")

        # corpus-level boilerplate strip BEFORE near-dup (so signatures
        # are over content, not scraper chrome): cumulative line counts
        # = committed index ∪ this batch; the raw batch counts are
        # committed so the NEXT batch probes them too
        lines_idx = _union(lines_parts)

        def build_cleaned(arrivals=arrivals, lines_idx=lines_idx):
            cleaned, _ = line_dedup_batch_against_index(
                arrivals, lines_idx, min_count=3
            )
            return arrivals.drop("text").join(
                cleaned.select("doc_id", "text", "n_lines_removed"), "doc_id"
            )

        cleaned = p.stage(f"cleaned_{k:03d}", build_cleaned, ts_col="warc_ts")
        lines_k = p.stage(
            f"lines_{k:03d}", lambda a=arrivals: line_counts(a), ts_col=None
        )
        lines_parts.append(lines_k)

        corpus = _union(corpus_parts)
        index = _union(index_parts)
        eindex = _union(eindex_parts)
        out: dict = {}

        def build_survivors(arrivals=cleaned.drop("n_lines_removed"),
                            corpus=corpus, index=index,
                            eindex=eindex, out=out):
            survivors, drops = dedup_batch(
                arrivals, corpus, index, threshold=threshold,
                intermediates=out,
                emb="embedding", emb_banded=eindex, emb_dim=EMB_DIM,
                emb_threshold=0.9,
            )
            out["drops"] = drops
            return survivors

        survivors = p.stage(
            f"survivors_{k:03d}", build_survivors, ts_col="warc_ts"
        )
        index_k = p.stage(
            f"index_{k:03d}", lambda s=survivors: minhash_banded(s), ts_col=None
        )
        eindex_k = p.stage(
            f"eindex_{k:03d}",
            lambda s=survivors: srp_banded(
                s, EMB_DIM, emb="embedding", id_col="doc_id"
            ),
            ts_col=None,
        )
        # partial-overlap REPORT (not a drop): probe the committed winnow
        # fingerprint index with the batch's SURVIVORS — whole-doc dups
        # are already gone, so every pair here is a doc quoting/embedding
        # committed (or sibling-survivor) content below the near-dup
        # threshold; downstream consumers trim or down-weight, they don't
        # discard. Survivor fingerprints are committed so later batches
        # probe them too.
        windex = _union(windex_parts)

        def build_overlap(s=survivors, windex=windex):
            pairs, _ = winnow_overlap_incremental(s, windex, min_shared=2)
            return pairs

        overlap_k = p.stage(f"overlap_{k:03d}", build_overlap, ts_col=None)
        windex_k = p.stage(
            f"windex_{k:03d}",
            lambda s=survivors: winnow_fingerprints(s),
            ts_col=None,
        )
        windex_parts.append(windex_k)

        # publish-ready text: EXCISE the flagged quoted runs (trim the
        # b side of every reported pair against its a-side partners —
        # targeted semi-join slivers, never corpus x corpus); unflagged
        # survivors pass through untouched. The committed corpus/indexes
        # keep the untrimmed survivors (ids and signatures stay pure
        # functions of what arrived); trimmed_k is the downstream
        # training-data view, with per-doc token accounting.
        trimmed_k = p.stage(
            f"trimmed_{k:03d}",
            lambda s=survivors, pairs=overlap_k, corpus=corpus: excise_overlaps(
                s, corpus.unionByName(s.select(*corpus.columns)), pairs
            ),
            ts_col=None,
        )

        corpus_parts.append(survivors)
        index_parts.append(index_k)
        eindex_parts.append(eindex_k)

        b = {"batch": k, "arrivals": p.rows(f"arrivals_{k:03d}"),
             "survivors": p.rows(f"survivors_{k:03d}")}
        b["dropped_total"] = b["arrivals"] - b["survivors"]
        b["boiler_lines_removed"] = int(
            cleaned.agg(F.sum("n_lines_removed")).collect()[0][0] or 0
        )
        b["docs_emptied_by_line_dedup"] = (
            b["arrivals"] - p.rows(f"cleaned_{k:03d}")
        )
        b["overlap_pairs"] = p.rows(f"overlap_{k:03d}")
        # cross pairs carry a = corpus id (a is NOT a batch survivor)
        b["overlap_pairs_cross"] = overlap_k.join(
            survivors.select(F.col("doc_id").alias("a")), "a", "left_anti"
        ).count()
        b["tokens_trimmed"] = int(
            trimmed_k.agg(F.sum("n_tokens_removed")).collect()[0][0] or 0
        )
        if "drops" in out:  # fresh run: reasons are in hand
            reasons = {
                r["reason"]: r["count"]
                for r in out["drops"].groupBy("reason").count().collect()
            }
            b["dropped_vs_corpus"] = int(reasons.get("corpus_dup", 0))
            b["dropped_in_batch"] = int(reasons.get("batch_dup", 0))
            # no-silent-caps: what the LSH bucket guards discarded, for
            # BOTH caps (batch-side banding + matched corpus-index rows)
            from feature_engineering_spark.operators.dedup import (
                lsh_dropped_bucket_stats,
            )

            b["pairs_text"] = out["pairs_text"].count()
            b["pairs_embed"] = out["pairs_embed"].count()
            # audits use each signal's OWN cap (text 64, SRP 4096 — the
            # operators' defaults)
            for tag, frame, cap in (("batch", out["banded_new"], 64),
                                    ("index_hit", out["hit"], 64),
                                    ("embed_batch", out["emb"]["banded_new"], 4096),
                                    ("embed_index_hit", out["emb"]["hit"], 4096)):
                row = lsh_dropped_bucket_stats(
                    frame, max_bucket_size=cap
                ).collect()[0]
                p.event(f"survivors_{k:03d}", "lsh_bucket_cap", frame=tag,
                        max_bucket_size=cap, **row.asDict())
                b[f"lsh_{tag}_dropped_buckets"] = int(
                    row["n_dropped_buckets"] or 0
                )
                b[f"lsh_{tag}_dropped_rows"] = int(row["n_dropped_rows"] or 0)
        stats["batches"].append(b)

    stats["corpus_final"] = stats["corpus_initial"] + sum(
        b["survivors"] for b in stats["batches"]
    )
    return stats


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=20_000)
    ap.add_argument("--batches", type=int, default=2)
    ap.add_argument("--out", default="/tmp/fes_ingest")
    ap.add_argument("--threshold", type=float, default=0.6)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    spark = get_spark("ingest_increment", master=args.master)
    print(json.dumps(run(spark, args.out, args.rows, args.batches,
                         args.threshold)))


if __name__ == "__main__":
    main()
