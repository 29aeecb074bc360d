"""End-to-end curation job (jobs/curate_corpus.py): every planted
artifact family is removed by the stage built to remove it, the
published corpus is PII-free and byte-faithful, and a resume replays
nothing (all stages load from committed tables)."""

from __future__ import annotations

from pyspark.sql import functions as F

from jobs.curate_corpus import PROBE_TEXTS, run


def test_curate_end_to_end_and_resume(spark, tmp_path):
    root = str(tmp_path / "curate")
    stats = run(spark, root, n_rows=3000, min_quality=0.3)

    # the synthetic layers inflate the input beyond n_rows
    assert stats["input"] > 3000
    # each gate with a planted family must account for real drops
    assert stats["dropped_repetition"] > 0      # planted repeated-phrase docs
    assert stats["dropped_lm"] > 0              # planted unique-token gibberish
    assert stats["dropped_exact"] > 0           # planted exact copies
    assert stats["dropped_neardup"] > 0         # planted one-token edits
    assert stats["dropped_contaminated"] > 0    # planted probe sentences
    assert stats["pii_docs_masked"] > 0         # planted emails/phones
    # publish-side invariants (also asserted inside run)
    assert stats["pii_residual_docs"] == 0
    assert stats["byte_identity_violations"] == 0
    assert stats["published"] == stats["after_decontam"]
    # planted quote docs (base text inside fresh soup) pass every drop
    # gate by construction; the substring pass must excise their quoted
    # runs (>= k tokens each: a shared winnow fp IS a shared k-gram)
    # without dropping any row
    assert stats["docs_trimmed"] > 0
    assert stats["tokens_trimmed"] >= 5 * stats["docs_trimmed"]
    # mixing keeps a nonempty subset; packing emits full chunks
    assert 0 < stats["mixed"] <= stats["published"]
    assert stats["n_chunks"] > 0
    # monotone funnel
    funnel = [stats[k] for k in (
        "input", "after_quality", "after_repetition", "after_lm",
        "after_exact", "after_neardup", "after_decontam",
    )]
    assert funnel == sorted(funnel, reverse=True)

    # published corpus carries no probe contamination (min_hits=2 level)
    from feature_engineering_spark.operators.contamination import (
        contamination_report,
    )

    published = spark.read.parquet(f"{root}/published")
    probes = spark.createDataFrame(
        [(i, t) for i, t in enumerate(PROBE_TEXTS)],
        "probe_id long, text string",
    )
    assert contamination_report(
        published, probes, min_hits=2
    ).count() == 0
    # masking actually rewrote the planted PII text
    assert published.where(F.col("text").contains("<EMAIL>")).count() > 0
    assert published.where(
        F.col("text").contains("bob@site.example.com")
    ).count() == 0

    # resume: identical stats except the LSH bucket audit (only a fresh
    # neardup build can audit the banding it actually used), and the
    # metrics ledger gains only skipped_existing rows on the second run
    again = run(spark, root, n_rows=3000, min_quality=0.3)
    drop_keys = {"lsh_dropped_buckets", "lsh_dropped_rows"}
    assert again == {k: v for k, v in stats.items() if k not in drop_keys}

    import json

    events = [json.loads(l) for l in open(f"{root}/_metrics.jsonl")]
    committed = [e for e in events if e["status"] == "committed"]
    skipped = [e for e in events if e["status"] == "skipped_existing"]
    # 12 stages built exactly once, then all 12 skipped on resume
    assert len(committed) == 12 and len(skipped) == 12
    # a skipped stage reports the rows it committed
    assert [e["rows"] for e in skipped] == [e["rows"] for e in committed]
    # the fresh run's LSH bucket-cap audit is a guard-rail event
    caps = [e for e in events if e["status"] == "event"]
    assert [(e["stage"], e["event"]) for e in caps] == [
        ("neardup_dedup", "lsh_bucket_cap")
    ]
    assert caps[0]["max_bucket_size"] == 64
    assert caps[0]["n_dropped_rows"] == stats["lsh_dropped_rows"]

    # the mix respects the target ordering: en is the largest bucket
    mixed = spark.read.parquet(f"{root}/mixed")
    by_lang = {r["lang"]: r["n"] for r in
               mixed.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(by_lang) <= {"en", "de", "da", "fr"}
    assert by_lang["en"] == max(by_lang.values())

    # packing: offsets inside the budget, chunk ids shard-consistent
    packed = spark.read.parquet(f"{root}/packed")
    assert packed.where((F.col("chunk_offset") < 0)
                        | (F.col("chunk_offset") >= 1024)).count() == 0
    assert packed.where(
        F.expr("chunk_id div 4294967296") != F.col("shard")
    ).count() == 0
