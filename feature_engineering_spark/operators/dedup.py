"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design notes (the point of each operator is its shuffle shape):
- exact: one hash-shuffle groupBy on the content hash; map-side combine
  makes it cheap even at 10^12 docs.
- minhash LSH: per-doc signatures are computed scan-side (one pass, JVM
  hash functions); the only shuffle is the band-bucket self-join, whose
  size is controlled by (bands, rows) — candidates are verified with an
  exact Jaccard before being reported. Never an all-pairs product.
- simhash: signature scan-side; bucketing by signature prefix bounds the
  candidate join the same way.
- embedding near-dup: signed-random-projection LSH (embedding_neardup_lsh)
  is the scale path — hyperplane sign bits in one Arrow map over the
  scan (bit-identical to the JVM dot-product fold), the band rows carry
  their vectors through one (band, bucket) exchange, and a grouped-map
  numpy verify scores each bucket's pairs exactly (bit-identical to the
  JVM cosine fold); the all-pairs operator is the recall oracle for tests
  only.
- all LSH candidate generators cap bucket sizes: near-identical
  mega-clusters are the exact-dedup pass's responsibility, never a
  quadratic join. The shared LSH guard and pair machinery live in one
  place each: ``_cap_buckets`` (the cap), ``_key_pairs`` (the one pair
  rule over a flagged (id, *keys, __new) frame: b new, a old or new with
  a < b — every batch row is new, an incremental operator's hit index
  rows are old; used by ``_candidates_from_banded``, the MinHash and
  winnow operators), ``_probe_index`` (the incremental operators'
  broadcast probe of a committed index and its cap), ``_verify_pairs``
  (the exact verify of joined candidates, scored by ``_jaccard_sql`` or
  similarity's ``_cosine_sql``) and ``_srp_bucket_pairs`` (the SRP
  within-bucket verify under the same pair rule, for
  embedding_neardup_lsh and embedding_lsh_incremental). An incremental
  operator finds its index-vs-batch and in-batch pairs in one step (a
  ``_key_pairs`` self-join or the SRP grouped verify), verifies once and
  unions no arms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feature_engineering_spark.functions.text import (
    gram_frame,
    hamming64,
    lines,
    shingle_frame,
    simhash_frame,
    token_hash64,
    word_ngrams,
    ws_token_count,
    ws_tokens,
)
from feature_engineering_spark.operators.similarity import _cosine_sql


def dedup_exact(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on content hash: one row per distinct text with the
    smallest id as the keeper and the duplicate count
    (reference analog: filename dedup via set(), get_features.py:205)."""
    return (
        df.groupBy(F.md5(F.col(text)).alias("text_md5"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _guard_all_pairs(df: DataFrame, max_rows: int, op: str) -> None:
    """Loud ceiling for the two documented all-pairs recall oracles: an
    O(N^2) operator pointed at an unbounded corpus must fail fast, not
    melt the cluster (same philosophy as keys.verify_injective and the
    IcebergTableIO guard). limit(max_rows + 1).count() stops the scan at
    the ceiling instead of counting the whole input."""
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"{op} is an all-pairs recall oracle (O(N^2)); input exceeds "
            f"max_rows={max_rows}. Use the LSH-bucketed scale path "
            "(minhash_lsh_dedup / embedding_neardup_lsh) or raise max_rows "
            "explicitly for a bounded subset."
        )


def _jaccard_sql(a: str, b: str) -> str:
    """Exact set Jaccard of two shingle arrays, as SQL text over two SQL
    operands (0.0 when both are empty)."""
    union = f"size(array_union({a}, {b}))"
    return (
        f"CASE WHEN {union} > 0 THEN size(array_intersect({a}, {b})) / {union} "
        "ELSE 0.0D END"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_rows: int = 100_000,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for all id-ordered pairs.

    All-pairs (O(N^2)) — the exactness baseline that minhash_lsh_dedup
    approximates; bounded subsets only, enforced by ``max_rows`` (raises
    above it). Returns (a, b, jaccard)."""
    _guard_all_pairs(df, max_rows, "ngram_jaccard_pairs")
    g = shingle_frame(df, text, id_col, n)
    a, b = g.alias("a"), g.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id"))
    jac = F.expr(_jaccard_sql("a.sh", "b.sh"))
    return (
        pairs.select(
            F.col("a.id").alias("a"), F.col("b.id").alias("b"), jac.alias("jaccard")
        )
        .where(F.col("jaccard") >= threshold)
    )


_MH_P = 2147483647  # Mersenne prime 2^31-1: a*x+b stays < 2^63, no overflow


def minhash_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the affine universal hash family
    h_i(x) = (a_i*x + b_i) mod p — derived from md5 so any engine can
    reproduce the exact same constants."""
    import hashlib

    def _h(tag: str) -> int:
        return int(hashlib.md5(f"{seed}:{tag}".encode()).hexdigest()[:8], 16)

    return [
        (_h(f"a:{i}") % (_MH_P - 1) + 1, _h(f"b:{i}") % _MH_P)
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 7,
    shingle_unit: str = "word",
) -> DataFrame:
    """Per-doc MinHash signature: minhash_i = min over shingles of
    h_i(x) = (a_i*x + b_i) mod (2^31-1), where x is ONE md5-derived 60-bit
    shingle hash reduced mod p. Cross-engine exact (md5 + integer
    arithmetic are bit-identical in Spark and DuckDB — murmur/xxhash seeds
    are not), and cheap: one digest per shingle, then ``num_hashes``
    multiply-add-mods instead of ``num_hashes`` digests (measured 3x+
    faster than per-salt md5 calls at sf0.1).

    Shape: explode shingles once, one md5+conv projection, groupBy(doc)
    with ``num_hashes`` min() aggregates — whole-stage codegen with
    map-side partial mins (measured ~4x faster than per-hash
    transform+array_min array traversals). Docs with no shingles get no
    signature row (they cannot near-dup by shingles)."""
    g = shingle_frame(df, text, id_col, shingle_n, shingle_unit)
    return _signatures_from_shingles(g, num_hashes, seed)


def _signatures_from_shingles(
    g: DataFrame, num_hashes: int, seed: int = 7
) -> DataFrame:
    """Signatures from a pre-shingled (id, sh: array<string>) frame — lets
    minhash_lsh_incremental build the batch's shingle frame ONCE for both
    the signature pass and the exact-Jaccard verify join."""
    exploded = g.select("id", F.explode("sh").alias("shingle"))
    x = token_hash64(F.col("shingle")) % F.lit(_MH_P)
    proj = exploded.select("id", x.alias("x"))
    mins = [
        F.min((F.col("x") * F.lit(a) + F.lit(b)) % F.lit(_MH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes, seed))
    ]
    return proj.groupBy("id").agg(*mins)


def _band_signature(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bucket) from a minhash signature frame. ONE pass: stack()
    unpivots the band keys from a single signature computation (a per-band
    union would recompute the minhash aggregates once per branch — measured
    8x slower), and downstream self-joins shuffle both sides identically so
    AQE reuses the exchange. Band key = md5-derived 60-bit hash of the
    comma-joined band values (cross-engine twin in DuckDB SQL, unlike
    Spark's hash())."""
    band_keys = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_keys += [F.lit(b), token_hash64(F.concat_ws(",", *cols))]
    return sig.select("id", F.stack(F.lit(bands), *band_keys).alias("band", "bucket"))


def lsh_dropped_bucket_stats(
    banded: DataFrame, max_bucket_size: int, bucket_cols: tuple[str, ...] = ("band", "bucket")
) -> DataFrame:
    """No-silent-caps companion for every LSH bucket cap in this module:
    one row — (n_dropped_buckets, n_dropped_rows, max_bucket_size_seen) —
    describing what a ``max_bucket_size`` guard discards from ``banded``
    (any (id, *bucket_cols) frame). Jobs emit this next to their pair
    counts so a cap that silently ate genuine near-dups (e.g. a shared-
    boilerplate band) is visible in the ledger rather than inferred.
    Cost: one map-side-combined groupBy over the banded rows."""
    sizes = banded.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("__bc"))
    return sizes.agg(
        F.sum((F.col("__bc") > max_bucket_size).cast("long")).alias(
            "n_dropped_buckets"
        ),
        F.sum(
            F.when(F.col("__bc") > max_bucket_size, F.col("__bc")).otherwise(0)
        ).alias("n_dropped_rows"),
        F.max("__bc").alias("max_bucket_size_seen"),
    )


def minhash_banded(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    shingle_unit: str = "word",
) -> DataFrame:
    """(id, band, bucket) rows for the MinHash LSH: the banding
    ``minhash_lsh_dedup`` builds, exposed so jobs can compute
    lsh_dropped_bucket_stats on exactly the banding the dedup uses."""
    sig = minhash_signatures(df, text, id_col, num_hashes, shingle_n,
                             shingle_unit=shingle_unit)
    return _band_signature(sig, bands, num_hashes // bands)


def _cap_buckets(
    banded: DataFrame,
    max_bucket_size: int | None,
    bucket_cols: tuple[str, ...] = ("band", "bucket"),
) -> DataFrame:
    """Drop rows of buckets larger than ``max_bucket_size`` — THE cap
    policy every LSH operator and its DuckDB oracle mirror (<=, window
    count over the bucket key); keep exactly one implementation so the
    operators and oracles cannot drift apart."""
    if max_bucket_size is None:
        return banded
    w = Window.partitionBy(*bucket_cols)
    return (
        banded.withColumn("__bc", F.count(F.lit(1)).over(w))
        .where(F.col("__bc") <= max_bucket_size)
        .drop("__bc")
    )


def _flag(df: DataFrame, new: bool) -> DataFrame:
    """``df`` plus the constant ``__new`` flag that ``_key_pairs`` reads."""
    return df.withColumn("__new", F.lit(new))


def _key_pairs(flagged: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """THE pair rule of the MinHash and winnow operators: (a, b) for every
    two rows of an (id, *keys, __new) frame that share ``keys``, where b
    is new and a is either old or new with a < b — one row per shared key
    (callers take ``distinct`` or count them). Batch operators flag every
    row new, and the literal folds out of the join condition, leaving
    ``l.id < r.id``; incremental operators flag the index rows their batch
    hit old, so one self-join gives the index-vs-batch (a = index id) and
    the in-batch pairs. ``cosine_kernel.cosine_upper_pairs`` applies the
    same rule inside an SRP bucket; ``simhash_neardup_pairs`` keeps its
    own self-join, whose verify reads both signatures inside the join."""
    l, r = flagged.alias("l"), flagged.alias("r")
    rule = F.col("r.__new") & (~F.col("l.__new") | (F.col("l.id") < F.col("r.id")))
    return l.join(
        r, [*(F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys), rule]
    ).select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))


def _candidates_from_banded(
    banded: DataFrame, max_bucket_size: int | None = 64
) -> DataFrame:
    """Candidate pairs from an (id, band, bucket) frame: cap oversized
    buckets, then self-join on (band, bucket) — docs sharing ANY full
    band become candidates; the band-key join is the only shuffle.

    ``max_bucket_size`` guards the degenerate case: a bucket of B
    near-identical docs emits B^2/2 candidate pairs, so ONE mega-cluster
    of boilerplate makes the join quadratic. Buckets above the cap are
    dropped entirely — their members are (near-)identical clusters that
    the EXACT dedup pass upstream is responsible for (jobs/dedup_corpus.py
    runs exact dedup first and EMITS the drop counts via
    lsh_dropped_bucket_stats — no silent caps)."""
    banded = _flag(_cap_buckets(banded, max_bucket_size), True)
    return _key_pairs(banded, ("band", "bucket")).distinct()


def _probe_index(
    new: DataFrame,
    index: DataFrame,
    keys: tuple[str, ...],
    max_bucket_size: int | None = None,
    intermediates: dict | None = None,
) -> DataFrame:
    """The rows of a committed ``index`` that share ``keys`` with the
    batch frame ``new``, capped: the batch's distinct keys broadcast into
    one scan of the index (never shuffled), then ``_cap_buckets`` on the
    matched rows only — a bucket's population within the matched subset
    equals its full-index population, so this is exactly the full-index
    cap. Fills ``intermediates['hit']`` with the matched rows BEFORE
    their cap."""
    probe = new.select(*keys).distinct()
    hit = index.join(F.broadcast(probe), list(keys))
    if intermediates is not None:
        intermediates["hit"] = hit
    return _cap_buckets(hit, max_bucket_size, keys)


def _verify_pairs(
    cand: DataFrame,
    ga: DataFrame,
    gb: DataFrame,
    col: str,
    score,
    name: str,
    threshold: float,
) -> DataFrame:
    """The exact verify of every LSH operator: join each candidate (a, b)
    to its ``col`` payload in the (id, col) frames ``ga`` (a side) and
    ``gb`` (b side), score the pair with the SQL text builder ``score``
    (``_jaccard_sql`` or ``_cosine_sql``) and keep (a, b, name) rows
    scoring >= ``threshold``."""
    ca, cb = f"{col}a", f"{col}b"
    j = (
        cand.join(ga.withColumnRenamed("id", "a").withColumnRenamed(col, ca), "a")
        .join(gb.withColumnRenamed("id", "b").withColumnRenamed(col, cb), "b")
    )
    return j.select("a", "b", F.expr(score(ca, cb)).alias(name)).where(
        F.col(name) >= threshold
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = 64,
    shingle_unit: str = "word",
) -> DataFrame:
    """Full near-dup pipeline: signatures -> LSH candidates -> exact
    Jaccard verify >= threshold. Returns verified (a, b, jaccard).

    Round-6 shape (guide §2.3 "shuffle keys and metadata instead of
    payloads" + §3.1): the corpus-sized pass (tokenize, shingle, md5,
    32 min-aggregates) produces the tiny signature frame (N x 33 longs);
    no shingle array travels through a shuffle. The candidate-pair frame
    feeds both the id-prune and the verify join, and its two identical
    subtrees share their exchanges, so the signature pass runs once. The
    exact-Jaccard verify re-shingles ONLY the candidate docs (a broadcast
    semi-join on the long-typed candidate id set prunes the scan), so the
    string arrays it compares exist only for the handful of docs that
    reached a pair: identical values, since inner joins on cand ids never
    touched any other row.

    Nothing is cached: the banding is ``minhash_banded``'s plan, so a
    caller that audits it with ``lsh_dropped_bucket_stats`` persists
    ``minhash_banded(df, ...)`` before running this frame, and Spark's
    plan-based cache lookup serves the banding from that cache (the
    curation jobs do this and unpersist it after the audit)."""
    banded = minhash_banded(df, text, id_col, num_hashes, bands, shingle_n,
                            shingle_unit)
    cand = _candidates_from_banded(banded, max_bucket_size)
    ids = (
        cand.select(F.col("a").alias("id"))
        .unionByName(cand.select(F.col("b").alias("id")))
        .distinct()
    )
    gc = shingle_frame(
        df.join(F.broadcast(ids), df[id_col] == ids["id"], "left_semi"),
        text, id_col, shingle_n, shingle_unit,
    )
    return _verify_pairs(cand, gc, gc, "sh", _jaccard_sql, "jaccard", threshold)


def minhash_lsh_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    corpus_banded: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = 64,
    intermediates: dict | None = None,
    shingle_unit: str = "word",
) -> DataFrame:
    """Incremental near-dup dedup: verified pairs (a, b, jaccard) of a NEW
    batch against an already-indexed corpus, plus pairs within the batch —
    the arrival path of a continuously-ingesting training-data pipeline.
    Cross pairs carry (a = corpus id, b = new id); in-batch pairs a < b.
    Ids must be globally unique across corpus and batch.

    Only the new batch is tokenized/signed. The corpus contributes
    ``corpus_banded`` — its committed (id, band, bucket) LSH index
    (``minhash_banded`` output, persisted as a table by the ingest job;
    MUST use the same num_hashes/bands/shingle_n) — and its ``corpus``
    text is re-read only for the candidate ids (semi-join pruned).

    Scale shape (10^12-doc corpus, 10^6-doc batch):
    - ``_probe_index`` broadcasts the batch's (band, bucket) probe set
      into one scan of the index — the index is never shuffled — and
      caps the matched rows; the batch banding keeps its own cap;
    - one ``_key_pairs`` self-join over hit (old) ∪ batch (new) rows
      gives the cross and the in-batch candidates, and one
      ``_verify_pairs`` scores them all: its a side is the hit corpus
      rows' shingles ∪ the batch's, its b side the batch's.

    ``intermediates``: optional dict the operator fills with
    ``banded_new`` (the batch banding BEFORE its cap) and ``hit`` (the
    matched corpus index rows BEFORE their cap) so callers can emit
    ``lsh_dropped_bucket_stats`` for both caps — no silent caps."""
    rows_per_band = num_hashes // bands
    g_new = shingle_frame(new_docs, text, id_col, shingle_n, shingle_unit)
    sig_new = _signatures_from_shingles(g_new, num_hashes)
    banded_new = _band_signature(sig_new, bands, rows_per_band)
    if intermediates is not None:
        intermediates["banded_new"] = banded_new
    keys = ("band", "bucket")
    banded_new = _cap_buckets(banded_new, max_bucket_size)
    hit = _probe_index(banded_new, corpus_banded, keys, max_bucket_size, intermediates)
    cand = _key_pairs(
        _flag(hit.select("id", *keys), False).unionByName(_flag(banded_new, True)),
        keys,
    ).distinct()

    # --- exact verify: shingle ONLY the hit corpus rows; each shares a
    # bucket with a capped batch row, so each is the a side of a candidate
    g_corp = shingle_frame(
        corpus.join(
            hit.select(F.col("id").alias(id_col)).distinct(), id_col, "left_semi"
        ),
        text, id_col, shingle_n, shingle_unit,
    )
    return _verify_pairs(
        cand, g_corp.unionByName(g_new), g_new, "sh", _jaccard_sql, "jaccard",
        threshold,
    )


def dedup_batch_against_corpus(
    batch: DataFrame,
    corpus: DataFrame,
    corpus_banded: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    intermediates: dict | None = None,
    shingle_unit: str = "word",
    emb: str | None = None,
    emb_banded: DataFrame | None = None,
    emb_dim: int | None = None,
    emb_threshold: float = 0.95,
    emb_nbits: int = 16,
    emb_bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """(survivors, drops) of an arriving ``batch`` against a committed
    corpus + its LSH index — the keep/drop policy layered on
    ``minhash_lsh_incremental``'s verified pairs.

    MULTI-SIGNAL: pass ``emb`` (embedding column name) + ``emb_banded``
    (the corpus's committed SRP index, ``srp_banded`` output) +
    ``emb_dim`` to ALSO probe the embedding index
    (``embedding_lsh_incremental``) — the paraphrase/semantic-dup signal
    text shingles are blind to. Both signals' verified pairs merge into
    ONE graph before closure, so a batch doc that chains to committed
    data through EITHER signal (or a mix: text-near to an arrival that
    is embedding-near to the corpus) drops as ``corpus_dup``. Embedding
    intermediates land under ``intermediates['emb']`` (same keys as the
    text side); ``intermediates['pairs_text'/'pairs_embed']`` expose the
    per-signal verified pair frames for drop accounting.

    Drop policy is TRANSITIVE: all pairs (batch↔corpus and batch↔batch)
    form one graph and close into clusters (operators/graph); a batch doc
    whose cluster contains any corpus doc duplicates committed data —
    possibly through a chain of other arrivals — and drops with reason
    ``corpus_dup``; clusters entirely inside the batch keep their minimum
    ``id_col`` and drop the rest as ``batch_dup``. Consumed by
    jobs/ingest_increment.py (checkpointed ingest) and
    streaming/stream_ops.streaming_neardup_filter (micro-batch lift).

    Exact re-arrivals: with content-derived ids (xxhash64 of the content
    columns, jobs/ingest_increment._with_doc_id) re-ingesting identical
    content produces the SAME id as its committed corpus row. Such rows
    are dropped up front with reason ``corpus_dup`` — via one corpus scan
    probed by a broadcast of the (tiny) batch id set — because inside the
    pair graph they would become self-loops (a == b), making the cluster
    look batch-only and letting the duplicate re-commit under an id the
    corpus already holds. Same-id rows WITHIN the batch are collapsed to
    one representative first (identical ids mean identical content under
    the convention), so survivors are always id-distinct; collapsed rows
    show in ``arrivals - survivors - len(drops)`` but get no drop row (no
    id distinguishes them from their surviving twin)."""
    from feature_engineering_spark.operators.graph import dedup_clusters

    batch = batch.dropDuplicates([id_col])
    resend_ids = corpus.join(
        F.broadcast(batch.select(id_col)), id_col, "left_semi"
    ).select(F.col(id_col).alias("doc_id"))
    drop_resend = resend_ids.select(
        "doc_id", F.lit("corpus_dup").alias("reason")
    )
    batch = batch.join(
        F.broadcast(resend_ids.select(F.col("doc_id").alias(id_col))),
        id_col, "left_anti",
    )

    pairs_text = minhash_lsh_incremental(
        batch, corpus, corpus_banded, text=text, id_col=id_col,
        threshold=threshold, intermediates=intermediates,
        shingle_unit=shingle_unit,
    )
    pairs = pairs_text.select("a", "b")
    if emb is not None:
        if emb_banded is None or emb_dim is None:
            raise ValueError(
                "multi-signal dedup needs emb_banded (committed SRP index) "
                "and emb_dim alongside emb"
            )
        eint: dict = {}
        pairs_embed = embedding_lsh_incremental(
            batch, corpus, emb_banded, dim=emb_dim, emb=emb, id_col=id_col,
            threshold=emb_threshold, nbits=emb_nbits, bands=emb_bands,
            intermediates=eint,
        )
        if intermediates is not None:
            intermediates["emb"] = eint
            intermediates["pairs_text"] = pairs_text
            intermediates["pairs_embed"] = pairs_embed
        pairs = pairs.unionByName(pairs_embed.select("a", "b"))
    clusters = dedup_clusters(pairs)  # (doc_id, canonical_id), all nodes
    batch_ids = batch.select(F.col(id_col).alias("doc_id"))
    anchored = (
        clusters.join(batch_ids, "doc_id", "left_anti")
        .select("canonical_id")
        .distinct()
    )
    bc = clusters.join(batch_ids, "doc_id", "left_semi")
    drop_vs_corpus = bc.join(anchored, "canonical_id", "left_semi").select(
        "doc_id", F.lit("corpus_dup").alias("reason")
    )
    rest = bc.join(anchored, "canonical_id", "left_anti")
    keep = rest.groupBy("canonical_id").agg(F.min("doc_id").alias("__keep"))
    drop_in_batch = (
        rest.join(keep, "canonical_id")
        .where(F.col("doc_id") != F.col("__keep"))
        .select("doc_id", F.lit("batch_dup").alias("reason"))
    )
    drops = drop_resend.unionByName(drop_vs_corpus).unionByName(drop_in_batch)
    survivors = batch.join(
        drops.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )
    return survivors, drops


def simhash_neardup_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    prefix_bits: int = 12,
    nbits: int = 60,
    max_bucket_size: int | None = 64,
) -> DataFrame:
    """SimHash near-dup: signature scan-side, candidates bucketed by the
    top ``prefix_bits`` of the signature (near-dups with differing prefixes
    are missed — the standard trade; production rotates the signature over
    several permutations), verified by Hamming distance.

    ``max_bucket_size`` drops degenerate buckets (near-identical clusters
    belong to the exact-dedup pass) — same guard and rationale as
    _candidates_from_banded."""
    s = simhash_frame(df, text, nbits, "sh").select(F.col(id_col).alias("id"), "sh")
    s = s.withColumn("bucket", F.shiftright("sh", nbits - prefix_bits))
    s = _cap_buckets(s, max_bucket_size, ("bucket",))
    l, r = s.alias("l"), s.alias("r")
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            hamming64(F.col("l.sh"), F.col("r.sh")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    emb: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    max_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-dup, all-pairs verify — the EXACTNESS BASELINE
    and recall oracle for ``embedding_neardup_lsh`` (the bucketed scale
    path below). O(N^2): bounded subsets only, enforced by ``max_rows``
    (raises above it). Returns (a, b, cosine)."""
    _guard_all_pairs(df, max_rows, "embedding_neardup_pairs")
    v = df.select(
        F.col(id_col).alias("id"),
        F.col(emb).cast("array<double>").alias("v"),
    )
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id"))
    cos = F.expr(_cosine_sql("a.v", "b.v"))
    return pairs.select(
        F.col("a.id").alias("a"), F.col("b.id").alias("b"), cos.alias("cosine")
    ).where(F.col("cosine") >= threshold)


# ---------------------------------------------------------------- SRP LSH
def srp_hyperplanes(dim: int, nbits: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes derived from md5 — the same
    numbers are reproducible in any engine/language (no RNG dependency), so
    the LSH bucketing itself is oracle-checkable. Component (j, k) is
    uniform-ish in [-1, 1): md5("{seed}:{j}:{k}") first 8 hex digits scaled."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{seed}:{j}:{k}".encode()).hexdigest()[:8], 16)
            / 2.0**31
            - 1.0
            for k in range(dim)
        ]
        for j in range(nbits)
    ]


def embedding_neardup_lsh(
    df: DataFrame,
    dim: int,
    emb: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    nbits: int = 16,
    bands: int = 4,
    seed: int = 7,
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """Embedding near-dup PAIRS at scale: signed-random-projection LSH.

    Shuffle shape: one Arrow map over the scan signs each vector once; its
    band rows carry the vector through ONE hash exchange on (band,
    bucket), which both the bucket cap's window and the grouped verify
    (``_srp_bucket_pairs``) read; a second, small exchange takes the
    ``distinct`` of the VERIFIED pairs (a pair colliding in several bands
    is verified once per band). No candidate self-join, no join back to
    the vectors. Never an all-pairs product — this replaces
    ``embedding_neardup_pairs`` (kept as the recall oracle in tests;
    property-tested recall >= 0.9 on near-dup fixtures).

    Sizing at scale: a band of r bits collides random vectors at ~2^-r, so
    choose r ≈ log2(N / target_bucket_size) (e.g. 10^9 vectors, 1k-row
    buckets → r=20, bands=4 → nbits=80) and keep the recall budget via more
    bands. ``max_bucket_size`` drops degenerate buckets (identical-vector
    clusters belong to exact dedup) — same guard as the text LSH operators,
    and the bound on a verify group's size.

    P(bit agree) = 1 - angle/pi (Goemans-Williamson); P(candidate) =
    1 - (1 - p^r)^bands.
    """
    sig = _srp_signature(df, dim, emb, id_col, nbits, bands, seed)
    banded = _cap_buckets(_stack_bands(sig, bands, "v"), max_bucket_size)
    return _srp_bucket_pairs(_flag(banded, True), threshold)


def _srp_vectors(df: DataFrame, emb: str, id_col: str) -> DataFrame:
    """(id, v): each vector as array<double>, NULL when a component is
    NULL. The cosine fold of such a vector is NULL and never passes a
    threshold, but Arrow hands the verify a NULL component as NaN, which
    would."""
    v = f"CAST({emb} AS ARRAY<DOUBLE>)"
    return df.selectExpr(
        f"{id_col} AS id",
        f"CASE WHEN exists({v}, x -> x IS NULL) THEN NULL ELSE {v} END AS v",
    )


def _srp_signature(
    df: DataFrame,
    dim: int,
    emb: str,
    id_col: str,
    nbits: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """(id, v, bucket0..bucket{bands-1}): the SRP signature of each vector,
    computed once, next to the vector ``v`` of ``_srp_vectors``.

    Bit j of the signature = [dot(v, h_j) > 0] over the ``nbits``
    ``srp_hyperplanes``; ``bands`` groups of nbits/bands consecutive bits
    form the bucket keys. The dot products are left-associated sequential
    folds, the SAME IEEE operation sequence as ``_dot_sql`` and as the
    literal add chain emitted in the DuckDB oracle, so the sign bits match
    exactly; a NaN dot product sets its bit (Spark orders NaN above every
    double) and a NULL vector, or one of another length, sets none.

    Two steps: the JVM projection of ``_srp_vectors``, then one
    ``mapInArrow`` (``functions/cosine_kernel.srp_signer``) that passes
    ``id`` and ``v`` through and appends the buckets, folding every
    hyperplane over a whole Arrow batch in numpy. Not SQL: a
    ``selectExpr`` of nbits ``CASE WHEN aggregate(zip_with(v, h, ...))``
    folds carries nbits x dim double literals (24 KB of SQL at dim 64,
    nbits 16) that every build parses, analyses and optimises, and every
    row evaluates as interpreted folds. A mapInPandas would turn a NaN
    component of ``v`` into NULL on the way back."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from feature_engineering_spark.functions.cosine_kernel import srp_signer

    if nbits % bands:
        raise ValueError("nbits must be divisible by bands")
    if nbits // bands > 63:
        raise ValueError("a band holds at most 63 bits")
    vecs = _srp_vectors(df, emb, id_col)
    bucket = IntegerType() if nbits // bands <= 31 else LongType()
    schema = StructType(
        vecs.schema.fields
        + [StructField(f"bucket{b}", bucket, False) for b in range(bands)]
    )
    return vecs.mapInArrow(
        srp_signer(srp_hyperplanes(dim, nbits, seed), bands), schema
    )


def _stack_bands(sig: DataFrame, bands: int, *carry: str) -> DataFrame:
    """(id, *carry, band, bucket): one row per band of an SRP signature."""
    stack = ", ".join(f"{b}, bucket{b}" for b in range(bands))
    return sig.selectExpr(
        "id", *carry, f"stack({bands}, {stack}) as (band, bucket)"
    )


def _srp_bucket_pairs(banded: DataFrame, threshold: float) -> DataFrame:
    """Distinct verified (a, b, cosine) pairs of an (id, v, band, bucket,
    __new) frame: every pair sharing a bucket under ``_key_pairs``' rule
    (b new, a old or new with a < b) with cosine >= threshold.

    One ``applyInPandas`` per (band, bucket) scores the bucket's pairs in
    numpy (``functions/cosine_kernel.bucket_verifier``, values
    bit-identical to ``similarity._cosine_sql``); old x old pairs are
    never scored. On a frame the bucket cap's window produced, its
    ClusteredDistribution(band, bucket) is already there, so the verify
    adds no exchange. A candidate self-join instead materializes every
    candidate row, joins it back to both vectors, and takes any filter on
    the cosine into its join condition, which folds the cosine once per
    conjunct. Rows with a NULL id or vector never pair and are dropped
    after the cap counted them."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from feature_engineering_spark.functions.cosine_kernel import bucket_verifier

    id_type = banded.schema["id"].dataType
    schema = StructType([
        StructField("a", id_type), StructField("b", id_type),
        StructField("cosine", DoubleType()),
    ])
    return (
        banded.where("id IS NOT NULL AND v IS NOT NULL")
        .groupBy("band", "bucket")
        .applyInPandas(bucket_verifier(float(threshold)), schema)
        .distinct()
    )


def srp_banded(
    df: DataFrame,
    dim: int,
    emb: str = "embedding",
    id_col: str = "vec_id",
    nbits: int = 16,
    bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """(id, band, bucket) SRP-LSH index rows for an embedding frame — the
    embedding twin of ``minhash_banded``: exposed so ingest jobs can
    PERSIST the banding of committed vectors as an index table and so
    callers can compute ``lsh_dropped_bucket_stats`` on exactly the
    banding the dedup uses. The signature is ``_srp_signature``'s."""
    return _stack_bands(
        _srp_signature(df, dim, emb, id_col, nbits, bands, seed), bands
    )


def embedding_lsh_incremental(
    new_vecs: DataFrame,
    corpus: DataFrame,
    corpus_banded: DataFrame,
    dim: int,
    emb: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    nbits: int = 16,
    bands: int = 4,
    seed: int = 7,
    max_bucket_size: int | None = 4096,
    intermediates: dict | None = None,
) -> DataFrame:
    """Incremental embedding near-dup: verified pairs (a, b, cosine) of a
    NEW batch of vectors against an already-indexed corpus, plus pairs
    within the batch — the embedding twin of ``minhash_lsh_incremental``
    (same probe protocol, cosine verify instead of Jaccard). Cross pairs
    carry (a = corpus id, b = new id); in-batch pairs a < b. Ids must be
    globally unique across corpus and batch.

    Only the batch is signed. The corpus contributes ``corpus_banded`` —
    its committed (id, band, bucket) SRP index (``srp_banded`` output,
    persisted as a table by the ingest job; MUST use the same
    dim/nbits/bands/seed) — and its vectors are read only for the hit
    index rows.

    Scale shape (10^9-vector corpus, 10^6-vector batch):
    - ``_probe_index`` broadcasts the batch's distinct (band, bucket)
      probe set into one scan of the index — the index is never
      shuffled — and caps the matched rows; the batch banding keeps its
      own cap, as in ``embedding_neardup_lsh``;
    - the capped hit rows (old) take their vectors from one join to the
      corpus (the committed index holds no vectors; ``_srp_vectors``'
      NULL rule applies), the capped batch band rows (new) carry theirs,
      and ``_srp_bucket_pairs`` verifies both in one grouped pass: the
      batch is scanned once.

    ``intermediates``: optional dict filled with ``banded_new`` (batch
    banding BEFORE its cap) and ``hit`` (matched corpus index rows BEFORE
    their cap) for ``lsh_dropped_bucket_stats`` — no silent caps.

    Without this operator a continuously-ingested corpus accumulates
    embedding-near duplicates that the batch ``embedding_neardup_lsh``
    would have caught (round-4 verdict, "What's missing" #2)."""
    banded_new = _stack_bands(
        _srp_signature(new_vecs, dim, emb, id_col, nbits, bands, seed), bands, "v"
    )
    if intermediates is not None:
        intermediates["banded_new"] = banded_new.drop("v")
    keys = ("band", "bucket")
    banded_new = _cap_buckets(banded_new, max_bucket_size)
    hit = _probe_index(banded_new, corpus_banded, keys, max_bucket_size, intermediates)
    old = hit.select("id", *keys).join(_srp_vectors(corpus, emb, id_col), "id")
    return _srp_bucket_pairs(
        _flag(old, False).unionByName(_flag(banded_new, True)), threshold
    )


def line_corpus_dedup(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_count: int = 3,
    sep: str = "\n",
) -> DataFrame:
    """C4-style CORPUS-level line deduplication: any non-empty line whose
    exact text occurs ``min_count``+ times across the WHOLE corpus is
    removed from every document; documents are rebuilt with their
    surviving lines in original order. (C4 removed any three-sentence-
    or-line boilerplate this way — cookie banners, nav bars, legal
    footers — which per-document dedup can never see.)

    Returns (id_col, text, n_lines_kept, n_lines_removed); documents
    whose every line was removed drop out, like C4's empty-doc discard
    (an all-empty-lines document survives — empty lines are structure,
    not content, and are never counted or removed).

    Scale shape (10^12 docs): split is scan-side; posexplode inflates
    map-side only; the line-frequency count is ONE map-side-combined
    groupBy(line) whose shuffle is bounded by DISTINCT lines; membership
    is a shuffle join on the line value (NOT a broadcast — the blocklist
    of a web corpus is itself huge), and the rebuild is one
    groupBy(doc) whose collect_list carries (pos, line) structs that
    array_sort restores to document order. Empty lines are structural
    (never counted, never removed) so surviving text keeps its shape.
    Cross-engine: the ``line_dedup`` query's DuckDB oracle mirrors the
    split / count / anti-join / ordered string_agg exactly.
    """
    rows = _split_lines(docs, text, id_col, sep)
    bad = (
        line_counts(docs, text=text, sep=sep)
        .where(F.col("c") >= min_count)
        .select("line")
    )
    return _rebuild_docs(docs, rows, bad, text, id_col, sep)


def _split_lines(
    docs: DataFrame, text: str, id_col: str, sep: str
) -> DataFrame:
    """(id, pos, line) — one row per separator-delimited line."""
    return docs.select(
        F.col(id_col), F.posexplode(lines(F.col(text), sep)).alias("pos", "line")
    )


def line_counts(
    docs: DataFrame, text: str = "text", sep: str = "\n"
) -> DataFrame:
    """(line, c) frequency table of NON-empty lines — the committable
    boilerplate index for incremental corpus-level line dedup (one
    map-side-combined groupBy bounded by distinct lines)."""
    return (
        docs.select(F.explode(lines(F.col(text), sep)).alias("line"))
        .where(F.length("line") > 0)
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _rebuild_docs(
    docs: DataFrame,
    rows: DataFrame,
    bad: DataFrame,
    text: str,
    id_col: str,
    sep: str,
) -> DataFrame:
    """Drop ``bad`` lines from the (id, pos, line) ``rows`` and reassemble
    documents in original order; emits (id, text, n_lines_kept,
    n_lines_removed), omitting docs whose every line was removed."""
    kept = rows.join(bad, "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("pos"), F.col("line")))
        ).alias("__ls"),
    )
    out = rebuilt.select(
        F.col(id_col),
        F.concat_ws(sep, F.transform("__ls", lambda s: s["line"])).alias(text),
        F.size("__ls").alias("n_lines_kept"),
    )
    n_orig = docs.select(F.col(id_col), F.size(lines(F.col(text), sep)).alias("__n0"))
    return (
        out.join(n_orig, id_col)
        .select(
            id_col,
            text,
            "n_lines_kept",
            (F.col("__n0") - F.col("n_lines_kept")).alias("n_lines_removed"),
        )
    )


def line_dedup_batch_against_index(
    batch: DataFrame,
    index: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_count: int = 3,
    sep: str = "\n",
) -> tuple[DataFrame, DataFrame]:
    """Incremental corpus-level line dedup: strip from an arriving batch
    every non-empty line whose CUMULATIVE occurrence count — committed
    ``index`` (a (line, c) table from line_counts) plus this batch —
    reaches ``min_count``; documents are rebuilt in original order
    (all-lines-removed docs drop out).

    Returns (cleaned_batch, batch_line_counts). The caller commits
    batch_line_counts alongside the corpus so the NEXT batch probes
    index ∪ batch_counts — the same grow-the-index contract as the
    MinHash/SRP incremental paths. Counts are of RAW arriving lines
    (including ones stripped here): boilerplate stays counted however
    often it re-arrives, exactly like C4's corpus-wide counting.

    Scale shape: only the BATCH is split/counted; the committed index —
    billions of distinct lines for a web corpus — is probed by a join
    against the batch's distinct lines (broadcast when the batch is
    small; the index itself is scanned once and never shuffled), so
    per-batch cost is O(batch) + one index scan, never O(corpus
    re-split). Early batches can't know future counts — a line only
    starts being stripped once its cumulative count crosses the
    threshold; re-cleaning already-committed docs is the batch job
    (line_corpus_dedup)'s business, run at compaction time.
    """
    counts_b = line_counts(batch, text=text, sep=sep)
    probe = index.join(
        F.broadcast(counts_b.select("line")), "line", "left_semi"
    ).groupBy("line").agg(F.sum("c").alias("c_idx"))
    bad = (
        counts_b.join(probe, "line", "left")
        .where(
            F.col("c") + F.coalesce(F.col("c_idx"), F.lit(0)) >= min_count
        )
        .select("line")
    )
    rows = _split_lines(batch, text, id_col, sep)
    return _rebuild_docs(batch, rows, bad, text, id_col, sep), counts_b


# ------------------------------------------------------- winnowing
# Partial-overlap detection: MinHash sees WHOLE-document similarity and
# line dedup sees EXACT line repeats; neither catches one document
# embedding a paragraph of another inside otherwise-different text (the
# case suffix-array substring dedup targets). Winnowing (the MOSS
# document-fingerprinting scheme) is the bucketable approximation: any
# shared token run of >= w + k - 1 tokens is GUARANTEED to contribute at
# least one common selected fingerprint, so substring containment
# becomes a plain equi-join on fingerprint values.


def winnow_fingerprints(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    unit: str = "word",
) -> DataFrame:
    """(id_col, fp) — distinct winnowed fingerprints per document.

    k-gram hashes h_1..h_G (md5-derived 60-bit integers, exact in any
    engine) are reduced by min over every sliding window of ``w``
    consecutive hashes; the distinct window minima are the document's
    fingerprints. Documents with fewer than ``w`` k-grams contribute
    their single global minimum (the degenerate window); documents with
    no k-gram (shorter than ``k`` units) contribute nothing.

    ``unit='word'`` (default, web prose) grams over the single-space
    tokenization; ``unit='char'`` grams over characters — the standard
    choice for short documents and scripts without whitespace word
    boundaries (CJK-ish text), same dichotomy as the MinHash family's
    ``shingle_unit``. Probes against a committed index MUST use the
    same (k, w, unit) the index was built with.

    All scan-side JVM array expressions (split -> transform/slice ->
    array_min), zero shuffle, zero Python — the selection keeps ~1/w of
    positions, so the exploded output is a bounded fraction of the
    token stream. Guarantee: any shared run of >= w + k - 1 units
    yields >= 1 shared fingerprint (Schleimer et al., SIGMOD'03).

    r6 shape note: each intermediate array (tokens, gram hashes) is
    materialized in its OWN projection. Higher-order functions are
    evaluated interpreted (no codegen subexpression elimination), so the
    round-5 single-projection form re-evaluated ``hs`` — and through it
    the full gram build and the text split — once per REFERENCE
    (few/wins/size guards: 4-5x per row, measured as the dominant cost
    of the whole winnow family at sf1.0). CollapseProject keeps the
    stages separate because the aliases are referenced more than once
    and are not cheap (same discipline as trim_contained_runs'
    intermediate materialization). Values are identical.
    """
    g = gram_frame(df, text, [F.col(id_col)], k, unit)
    hashed = g.select(
        F.col(id_col), F.transform("__grams", token_hash64).alias("__hs")
    )
    hsa = F.col("__hs")
    few = F.array(F.array_min(hsa))  # G <= w: one degenerate window
    wins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(hsa) - w + 1),
            lambda j: F.array_min(F.slice(hsa, j, w)),
        )
    )
    # no gram (shorter than k units): no fingerprint, never array_min([])'s
    # [null]
    fps = F.when(F.size(hsa) == 0, F.array().cast("array<long>")).when(
        F.size(hsa) <= w, few
    ).otherwise(wins)
    return hashed.select(F.col(id_col), F.explode(fps).alias("fp"))


def winnow_overlap_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    fp_doc_cap: int = 64,
    unit: str = "word",
) -> DataFrame:
    """(a, b, n_shared) — unordered document pairs sharing at least
    ``min_shared`` winnowed fingerprints (a < b).

    Scale shape: fingerprints ARE the buckets, same as LSH banding, and
    the one hash exchange on fingerprint value serves both the cap's
    window count and the self-join. Fingerprints shared by more than
    ``fp_doc_cap`` documents are boilerplate k-gram runs (nav bars,
    licence blocks — corpus-level line dedup's business) and would
    quadratically blow the self-join, so ``_cap_buckets`` drops them;
    ``lsh_dropped_bucket_stats(winnow_fingerprints(...), fp_doc_cap,
    ("fp",))`` accounts for what it dropped — the same no-silent-caps
    contract as the LSH bucket cap."""
    fps = winnow_fingerprints(
        df, text=text, id_col=id_col, k=k, w=w, unit=unit
    )
    return _shared_fp_pairs(
        _cap_buckets(_flag(fps, True), fp_doc_cap, ("fp",)), id_col, min_shared
    )


def _shared_fp_pairs(fps: DataFrame, id_col: str, min_shared: int) -> DataFrame:
    """(a, b, n_shared) for the documents of a flagged (id_col, fp, __new)
    frame that ``_key_pairs`` pairs on at least ``min_shared``
    fingerprints: the fingerprint self-join and its per-pair count."""
    return (
        _key_pairs(fps.withColumnRenamed(id_col, "id"), ("fp",))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def winnow_overlap_incremental(
    batch: DataFrame,
    fp_index: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    fp_doc_cap: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Incremental winnowing overlap: (pairs, batch_fps) of an arriving
    batch against a committed corpus fingerprint index — the fourth
    index-backed incremental signal next to MinHash LSH, SRP embeddings,
    and line counts. Cross pairs carry (a = corpus id, b = batch id);
    in-batch pairs a < b. Ids must be globally unique.

    ``fp_index`` is the committed (id_col, fp) table (winnow_fingerprints
    output, persisted by the ingest job; MUST use the same k/w). Only the
    BATCH is tokenized/fingerprinted; the index is probed with a
    broadcast of the batch's distinct fingerprints — scanned once, never
    shuffled, exactly the minhash_lsh_incremental contract. Sizing note:
    fingerprints are denser than MinHash band-buckets (~tokens/w per doc
    vs ``bands`` per doc), so the broadcast bounds the batch at roughly
    10^5-10^6 docs (~50 fps/doc × 8 bytes ≈ 40-400 MB); for larger
    arrivals, split the batch — the incremental contract composes
    (probe, commit, probe) and the property test covers multi-part
    arrivals via the grow-the-index path.

    The hot-fingerprint cap is exact, not approximate: one
    ``_cap_buckets`` over hit index rows ∪ batch fingerprints counts, per
    fingerprint, its corpus population (the probe is a semi-join on fp,
    so a fingerprint's population within the probed subset equals its
    full-index population) plus its batch occurrences — the full-run cap
    for every fingerprint the batch can touch. Fingerprints absent from
    the batch cannot form batch-touching pairs, so the restriction loses
    nothing — the property test pins incremental == full
    winnow_overlap_pairs restricted to batch-touching pairs. One
    ``_key_pairs`` self-join over the capped rows (hit rows old, batch
    rows new) gives the cross and the in-batch pairs.

    The caller commits ``batch_fps`` alongside the batch's surviving
    rows so the NEXT batch probes them too (grow-the-index contract of
    jobs/ingest_increment.py)."""
    fps_b = winnow_fingerprints(batch, text=text, id_col=id_col, k=k, w=w)
    hit = _probe_index(fps_b, fp_index, ("fp",)).select(id_col, "fp")
    flagged = _flag(hit, False).unionByName(_flag(fps_b, True))
    capped = _cap_buckets(flagged, fp_doc_cap, ("fp",))
    return _shared_fp_pairs(capped, id_col, min_shared), fps_b


def overlap_partner_ids(pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Partner (source) id set for overlap excision: the a-side ids of the
    reported pairs MINUS the flagged b-side ids. A doc that is itself
    being trimmed must never serve as a source — it would match its own
    grams in trim_contained_runs and excise its ENTIRE text (overlap
    chains A<B<C over one shared paragraph make B both a b-side and an
    a-side; the shared content is still excised via the chain's pure
    a-side partner A). One distinct + one anti-join on bare ids."""
    a = pairs.select(F.col("a").alias(id_col)).distinct()
    b = pairs.select(F.col("b").alias(id_col)).distinct()
    return a.join(b, id_col, "left_anti")


def trim_contained_runs(
    docs: DataFrame,
    sources: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Exact-substring dedup ACTION: remove from each doc every token
    covered by a token k-gram that also occurs in ANY source document —
    the excision step of duplicate-substring removal (the suffix-array
    practice: drop repeated spans, keep the rest of the document). A
    contained run of T >= k source tokens matches T-k+1 consecutive
    grams whose [pos, pos+k) cover exactly the whole run, so quoted
    passages are excised precisely; runs shorter than k never match
    (below the definition of "duplicated span").

    Emits (id_col, text, n_tokens_kept, n_tokens_removed) for EVERY
    input doc, including fully-excised ones (empty text) — unlike line
    dedup, discarding empties is left to the quality gate, because a
    trimmed doc's remainder is legitimate content.

    Scale shape: this is the TARGETED action after winnow_overlap_pairs
    / winnow_overlap_incremental has flagged pairs — ``docs`` is the
    flagged quoting docs and ``sources`` their matched partners (both
    semi-join-pruned slivers of the corpus), so the gram join is tiny.
    Pointing it at a whole corpus on both sides is the all-pairs-gram
    join it exists to avoid. All JVM: md5-derived gram hashes, one
    left-semi join on hash, one groupBy(doc) collect of matched
    positions, then a scan-side filter/transform rebuild."""
    toks = ws_tokens(F.col(text))
    # token arrays staged in their own projections (r6 root cause #4):
    # the gram builder references the split 3x (guard, sequence bound,
    # slice source) and interpreted HOFs recompute per reference
    gram_arr = F.transform(word_ngrams(F.col("__toks"), k), token_hash64)
    src_hashes = (
        sources.select(toks.alias("__toks"))
        .select(F.explode(gram_arr).alias("h"))
        .distinct()
    )
    d_grams = docs.select(F.col(id_col), toks.alias("__toks")).select(
        F.col(id_col),
        F.posexplode(gram_arr).alias("pos", "h"),
    )
    covered = (
        d_grams.join(src_hashes, "h", "left_semi")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("pos")).alias("__starts"))
    )
    out = docs.join(covered, id_col, "left").withColumn(
        "__starts",
        F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
    )
    # Merge the sorted covered starts into disjoint [lo, hi) intervals
    # BEFORE the keep-filter (r6): the per-token probe was
    # exists(__starts, ...) — O(m*s) for m tokens and s covered starts,
    # quadratic for a long heavily-quoted doc where s ~ m. Consecutive
    # run starts collapse into one interval, so the probe drops to
    # O(m * #distinct-quoted-spans). starts ascend, so an overlapping or
    # touching start (s <= last.hi) always extends the last interval to
    # s + k (>= last.hi since starts are increasing).
    starts = F.col("__starts")
    iv = F.aggregate(
        starts,
        F.array().cast("array<struct<lo:int,hi:int>>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= F.element_at(acc, -1)["hi"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["lo"].alias("lo"),
                        (s + F.lit(k)).alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(F.struct(s.alias("lo"), (s + F.lit(k)).alias("hi"))),
            )
        ),
    )
    out = out.select(
        F.col(id_col), iv.alias("__iv"), toks.alias("__dtoks")
    )
    ivc = F.col("__iv")
    dt = F.col("__dtoks")
    m = F.size(dt)
    # (word, index) structs filtered against the merged ranges; built
    # with zip_with (not element_at over a filtered index list — Spark
    # 4's subexpression elimination mis-binds the nested-lambda variable
    # there), over the STAGED token attribute (the zip source and the
    # sequence bound would otherwise re-split the text), and materialized
    # ONCE in an intermediate projection so the three outputs don't
    # re-evaluate it
    pairs = F.zip_with(
        dt,
        F.sequence(F.lit(0), m - 1),
        lambda w, i: F.struct(w.alias("w"), i.alias("i")),
    )
    kept = F.filter(
        pairs,
        lambda p: ~F.exists(
            ivc, lambda v: (v["lo"] <= p["i"]) & (p["i"] < v["hi"])
        ),
    )
    staged = out.select(
        F.col(id_col), kept.alias("__kept"), m.alias("__m")
    )
    return staged.select(
        F.col(id_col),
        F.concat_ws(
            " ", F.transform(F.col("__kept"), lambda p: p["w"])
        ).alias(text),
        F.size("__kept").cast("long").alias("n_tokens_kept"),
        (F.col("__m") - F.size("__kept")).cast("long").alias(
            "n_tokens_removed"
        ),
    )


def excise_overlaps(
    docs: DataFrame,
    sources: DataFrame,
    pairs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Publish-ready ``docs`` after partial-overlap excision: each b-side
    doc of the (a, b) overlap ``pairs`` has its quoted runs trimmed
    (``trim_contained_runs``) against its partners — the ``sources`` rows
    (every frame an a side can come from, e.g. corpus ∪ docs) semi-joined
    on ``overlap_partner_ids``, so a doc that is itself trimmed never
    serves as a source. Docs no pair flags pass through untouched with
    ``n_tokens_removed`` 0. Same output columns as
    ``trim_contained_runs``. Shared by the curation and ingest jobs'
    trimmed stages and the streaming overlap trim."""
    b_ids = pairs.select(F.col("b").alias(id_col)).distinct()
    flagged = docs.join(b_ids, id_col, "left_semi")
    partners = sources.join(overlap_partner_ids(pairs, id_col), id_col, "left_semi")
    trimmed = trim_contained_runs(flagged, partners, text=text, id_col=id_col, k=k)
    untouched = docs.join(b_ids, id_col, "left_anti").select(
        id_col,
        text,
        ws_token_count(F.col(text)).cast("long").alias("n_tokens_kept"),
        F.lit(0).cast("long").alias("n_tokens_removed"),
    )
    return trimmed.unionByName(untouched)
