"""Driver-contract queries for the training-data pipeline operators:
text analysis, dedup family, similarity search. Same conventions as
driver_queries.py (aliases match oracles, floats rounded, deterministic
constructions).

The synthetic documents table has NO natural duplicates (all 500 texts
distinct, max 3-gram Jaccard 0.03, max cosine 0.40) — dedup queries
construct duplicates in-query with the IDENTICAL construction in Spark
and SQL (union a mutated copy with shifted ids), so the checks are
non-vacuous and still oracle-verified.
"""

from __future__ import annotations

import os
import stat
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from feature_engineering_spark.functions import text as TX


# (realpath, st_mtime_ns, st_size) of a local parquet file -> the schema
# Spark inferred for it in this process. The parquet inference confs
# (binaryAsString, int96AsTimestamp, inferTimestampNTZ) are left at their
# defaults by every session this engine builds.
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The one table reader every plans/ module uses.

    Inferring a parquet schema is a one-task Spark job that reads the
    footer. A local regular file whose schema this process has already
    inferred is read with that schema, which launches no job; a
    rewritten file has a new mtime or size and is inferred again. A
    first read, a directory, or a path that Hadoop resolves to a
    non-local file system is read as is."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode) or not _local_fs(spark):
        return spark.read.parquet(path)
    key = (os.path.realpath(path), st.st_mtime_ns, st.st_size)
    if key in _SCHEMAS:
        return spark.read.schema(_SCHEMAS[key]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def _local_fs(spark: SparkSession) -> bool:
    """Whether a path without a scheme names a local file."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return conf.get("fs.defaultFS", "file:///").startswith("file:")


def _spread(df: DataFrame) -> DataFrame:
    """Parallelism guard for single-row-group parquet inputs (guide §2.5:
    input skew — "one huge unsplittable file … repartition immediately
    after the read"). The driver-generated fixtures write ONE parquet row
    group per table (sf1.0 documents: 50k rows, 1 row group), so the scan
    yields one effective task no matter the split size and every scan-side
    computation (regex, shingling, md5) serializes on a single core —
    measured 16s of the 28s minhash_lsh_dedup wall at sf1.0/local[32].
    Spread to the session's shuffle parallelism only when the source is
    under-partitioned; with a properly laid-out many-file table this is a
    no-op, so it does not add a shuffle at cluster scale."""
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def _docs_with_dupes(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    """documents ∪ mutated copy of doc_id<60 (id+10000, ' qq zz' appended).

    ``spread=False`` skips the parallelism repartition for consumers whose
    FIRST operation is already a full shuffle with cheap map-side work
    (dedup_exact: one md5 per doc, then groupBy — the spread exchange
    would just move the same rows twice)."""
    d = _t(spark, sf_dir, "documents")
    if spread:
        d = _spread(d)
    mut = d.where(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq zz")).alias("text"),
        "lang", "source", "n_chars",
    )
    exact = d.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 20000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return d.unionByName(mut).unionByName(exact)


SQL_DOCS_WITH_DUPES = """
SELECT * FROM documents
UNION ALL
SELECT doc_id + 10000 AS doc_id, text || ' qq zz' AS text, lang, source, n_chars
FROM documents WHERE doc_id < 60
UNION ALL
SELECT doc_id + 20000 AS doc_id, text, lang, source, n_chars
FROM documents WHERE doc_id < 20
"""


# ---------------------------------------------------------------- text
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TX.text_scores' ratios and quality, ROUND(6), plus the BPE-ish
    token count (the builder stages the token split, so its references
    do not re-split per row)."""
    d = _spread(_t(spark, sf_dir, "documents"))
    return TX.text_scores(d).select(
        "doc_id",
        "ws_tokens",
        TX.bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
        *[
            F.round(F.col(c), 6).alias(c)
            for c in ("punct_ratio", "digit_ratio", "stopword_ratio", "quality")
        ],
    )


_EN = ", ".join(f"'{w}'" for w in TX.STOPWORDS["en"])
SQL_TEXT_QUALITY = f"""
WITH b AS (
  SELECT doc_id, text,
         len(string_split(text, ' ')) AS ws_tokens,
         len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')) AS bpe_tokens,
         CASE WHEN len(text) > 0 THEN
           (len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / len(text)
         ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(text) > 0 THEN
           (len(text) - len(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / len(text)
         ELSE 0.0 END AS digit_ratio,
         CASE WHEN len(string_split(text,' ')) > 0 THEN
           len(list_filter(string_split(lower(text),' '), t -> list_contains([{_EN}], t)))::DOUBLE
             / len(string_split(text,' '))
         ELSE 0.0 END AS stopword_ratio
  FROM documents
)
SELECT doc_id, CAST(ws_tokens AS INT) AS ws_tokens, CAST(bpe_tokens AS INT) AS bpe_tokens,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(digit_ratio, 6) AS digit_ratio,
       ROUND(stopword_ratio, 6) AS stopword_ratio,
       ROUND(0.4 * LEAST(1.0, ws_tokens / 100.0) + 0.3 * stopword_ratio
             + 0.15 * (1.0 - digit_ratio) + 0.15 * (1.0 - punct_ratio), 6) AS quality
FROM b
"""


def q_lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document count per TX.text_scores lang_guess."""
    d = _spread(_t(spark, sf_dir, "documents"))
    return (
        TX.text_scores(d)
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in TX.STOPWORDS[lang])
    return (
        "len(list_intersect(list_distinct(string_split(lower(text), ' ')), "
        f"[{words}]))"
    )


_LANG_CASE = " ".join(
    f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'"
    for lang in TX._LANG_ORDER
)
SQL_LANG_ID = f"""
WITH s AS (
  SELECT doc_id,
         {', '.join(f'{_lang_score_sql(lang)} AS s_{lang}' for lang in TX._LANG_ORDER)}
  FROM documents
), b AS (
  SELECT doc_id, GREATEST(s_en, s_de, s_es, s_fr, s_zh) AS best, *
  FROM s
)
SELECT CASE {_LANG_CASE} ELSE 'und' END AS lang_guess, COUNT(*) AS n
FROM b GROUP BY 1
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5, rolling hash and a 16-bit TX.simhash_frame per document."""
    d = _spread(_t(spark, sf_dir, "documents"))
    t = F.col("text")
    return TX.simhash_frame(d, nbits=16, name="simhash16").select(
        "doc_id",
        TX.md5_fingerprint(t).alias("md5_fp"),
        TX.rolling_hash(t).alias("roll_fp"),
        "simhash16",
    )


def _simhash_sql(nbits: int = 16) -> str:
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {2**b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(nbits)
    )
    return bits


SQL_DOC_FINGERPRINT = f"""
WITH h AS (
  SELECT doc_id, text,
         list_transform(string_split(text, ' '),
           s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)) AS hs
  FROM documents
)
SELECT doc_id, md5(text) AS md5_fp,
       list_reduce(list_prepend(0::BIGINT,
         list_transform(string_split(text, ''), c -> ascii(c))),
         (acc, x) -> (acc * 31 + x) % 2147483647) AS roll_fp,
       ({_simhash_sql(16)}) AS simhash16
FROM h
"""


# ---------------------------------------------------------------- dedup
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_engineering_spark.operators.dedup import dedup_exact

    return dedup_exact(_docs_with_dupes(spark, sf_dir, spread=False))


SQL_DEDUP_EXACT = f"""
WITH d AS ({SQL_DOCS_WITH_DUPES})
SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM d GROUP BY 1
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_engineering_spark.operators.dedup import ngram_jaccard_pairs

    d = _docs_with_dupes(spark, sf_dir).where(
        (F.col("doc_id") < 60) | (F.col("doc_id") >= 10000)
    )
    out = ngram_jaccard_pairs(d, threshold=0.3)
    # FLOOR(j*1e6)/1e6, not ROUND(j,6): the raw double inter/union is
    # bit-identical cross-engine (same two ints, one IEEE division), and
    # floor-of-x*1e6 keeps it so — ROUND's half-way cases diverge
    # (Spark BigDecimal-exact vs DuckDB multiply-first; CLAUDE.md)
    return out.select(
        "a", "b",
        (F.floor(F.col("jaccard") * F.lit(1000000.0)) / F.lit(1e6)).alias(
            "jaccard"
        ),
    )


SQL_NGRAM_JACCARD = f"""
WITH d AS ({SQL_DOCS_WITH_DUPES}),
sub AS (SELECT * FROM d WHERE doc_id < 60 OR doc_id >= 10000),
g AS (
  SELECT doc_id AS id,
         CASE WHEN len(string_split(text,' ')) >= 3 THEN
           list_distinct([concat(parts[i], ' ', parts[i+1], ' ', parts[i+2])
                          for i in range(1, len(parts) - 1)])
         ELSE [] END AS sh
  FROM (SELECT doc_id, text, string_split(text, ' ') AS parts FROM sub)
)
SELECT a.id AS a, b.id AS b,
       FLOOR(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(a.sh || b.sh)) * 1000000) / 1e6 AS jaccard
FROM g a JOIN g b ON a.id < b.id
WHERE len(list_distinct(a.sh || b.sh)) > 0
  AND len(list_intersect(a.sh, b.sh))::DOUBLE
      / len(list_distinct(a.sh || b.sh)) >= 0.3
"""


def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup — fully oracle-checked: the md5-derived minhash
    values, band keys, bucket-size guard, LSH self-join, and exact-Jaccard
    verify all have DuckDB twins below. Recall/precision additionally
    property-tested in tests/test_text_dedup.py."""
    from feature_engineering_spark.operators.dedup import minhash_lsh_dedup

    d = _docs_with_dupes(spark, sf_dir)
    out = minhash_lsh_dedup(d, threshold=0.5)
    # FLOOR(j*1e6)/1e6, not ROUND(j,6): the raw double inter/union is
    # bit-identical cross-engine (same two ints, one IEEE division), and
    # floor-of-x*1e6 keeps it so — ROUND's half-way cases diverge
    # (Spark BigDecimal-exact vs DuckDB multiply-first; CLAUDE.md)
    return out.select(
        "a", "b",
        (F.floor(F.col("jaccard") * F.lit(1000000.0)) / F.lit(1e6)).alias(
            "jaccard"
        ),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive cluster closure of the MinHash near-dup pairs
    (operators/graph.connected_components, frontier-pruned hash-min label
    propagation with pointer jumping + per-round lineage checkpoints):
    (doc_id, canonical_id) where
    canonical_id = min doc id of the doc's cluster. The oracle closes the
    SAME hash-verified edge set with a DuckDB recursive CTE — the closure
    of an exact set is unique, so the iterative Spark path must match it
    exactly. 133 pairs at sf0.01 close into 77 clusters (up to size 4):
    chained near-dups A~B~C really occur, so pairwise dropping would
    either under-delete or double-delete without this step."""
    from feature_engineering_spark.operators.dedup import minhash_lsh_dedup
    from feature_engineering_spark.operators.graph import dedup_clusters

    d = _docs_with_dupes(spark, sf_dir)
    pairs = minhash_lsh_dedup(d, threshold=0.5)
    return dedup_clusters(pairs).orderBy("doc_id")


def _minhash_sql_parts(num_hashes: int = 32, bands: int = 8) -> tuple[str, str]:
    """The 32 affine-minhash MIN aggregates and 8 band-key expressions,
    generated from the SAME constants the Spark operator uses."""
    from feature_engineering_spark.operators.dedup import _MH_P, minhash_params

    params = minhash_params(num_hashes)
    mins = ",\n         ".join(
        f"MIN((x * {a} + {b}) % {_MH_P}) AS mh{i}"
        for i, (a, b) in enumerate(params)
    )
    rows_per_band = num_hashes // bands
    keys = []
    for b in range(bands):
        cols = ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        keys.append(
            f"SELECT id, {b} AS band, CAST(concat('0x', "
            f"substr(md5(concat_ws(',', {cols})), 1, 15)) AS BIGINT) AS bucket"
            " FROM sig"
        )
    return mins, "\n  UNION ALL ".join(keys)


_MH_MINS, _MH_BANDKEYS = _minhash_sql_parts()

SQL_MINHASH_LSH = f"""
WITH d AS ({SQL_DOCS_WITH_DUPES}),
g AS (
  SELECT doc_id AS id,
         CASE WHEN len(parts) >= 3 THEN
           list_distinct([concat(parts[i], ' ', parts[i+1], ' ', parts[i+2])
                          for i in range(1, len(parts) - 1)])
         ELSE [] END AS sh
  FROM (SELECT doc_id, text, string_split(text, ' ') AS parts FROM d)
),
ex AS (SELECT id, unnest(sh) AS s FROM g),
hx AS (  -- one md5 per shingle -> 60-bit x mod p; minhashes are affine maps of x
  SELECT id, CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS x
  FROM ex
),
sig AS (
  SELECT id,
         {_MH_MINS}
  FROM hx GROUP BY id
),
bandkey AS (
  {_MH_BANDKEYS}
),
guarded AS (  -- bucket-size cap 64: mega-clusters belong to exact dedup
  SELECT id, band, bucket FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS bc FROM bandkey
  ) WHERE bc <= 64
),
cand AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM guarded l JOIN guarded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
)
SELECT c.a, c.b,
       FLOOR(len(list_intersect(ga.sh, gb.sh))::DOUBLE
             / len(list_distinct(ga.sh || gb.sh)) * 1000000) / 1e6 AS jaccard
FROM cand c JOIN g ga ON ga.id = c.a JOIN g gb ON gb.id = c.b
WHERE len(list_distinct(ga.sh || gb.sh)) > 0
  AND len(list_intersect(ga.sh, gb.sh))::DOUBLE
      / len(list_distinct(ga.sh || gb.sh)) >= 0.5
"""


# Transitive closure of the hash-verified MinHash edge set: a recursive
# CTE computes every (src, reachable dst) pair, then MIN(dst) per src is
# the canonical label — the unique closure the distributed hash-min
# propagation (operators/graph.py) must reproduce exactly.
SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE edges AS (SELECT a, b FROM ({SQL_MINHASH_LSH}) e),
sym AS (
  SELECT a AS u, b AS v FROM edges
  UNION SELECT b, a FROM edges
  UNION SELECT a, a FROM edges
  UNION SELECT b, b FROM edges
),
reach(src, dst) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym) n
  UNION
  SELECT r.src, s.v FROM reach r JOIN sym s ON r.dst = s.u
)
SELECT src AS doc_id, MIN(dst) AS canonical_id
FROM reach GROUP BY src ORDER BY doc_id
"""


def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup (operators/dedup.minhash_lsh_incremental):
    the base documents table plays the committed corpus (its LSH banding is
    the persisted index) and the injected dup layers (+10000 near-copies,
    +20000 exact copies) play an arriving batch. Only the batch is signed;
    the corpus index is probed with a broadcast of the batch's buckets and
    corpus text is re-shingled for candidate ids only. The oracle derives
    both sides' signatures with the same md5-affine constants and mirrors
    the per-side bucket caps, the cross probe, and the in-batch self-join."""
    from feature_engineering_spark.operators.dedup import (
        minhash_banded,
        minhash_lsh_incremental,
    )

    corpus = _spread(_t(spark, sf_dir, "documents"))
    d = _docs_with_dupes(spark, sf_dir)
    batch = d.where(F.col("doc_id") >= 10000)
    index = minhash_banded(corpus)
    out = minhash_lsh_incremental(batch, corpus, index, threshold=0.5)
    # FLOOR(j*1e6)/1e6, not ROUND(j,6): the raw double inter/union is
    # bit-identical cross-engine (same two ints, one IEEE division), and
    # floor-of-x*1e6 keeps it so — ROUND's half-way cases diverge
    # (Spark BigDecimal-exact vs DuckDB multiply-first; CLAUDE.md)
    return out.select(
        "a", "b",
        (F.floor(F.col("jaccard") * F.lit(1000000.0)) / F.lit(1e6)).alias(
            "jaccard"
        ),
    )


SQL_MINHASH_INCREMENTAL = f"""
WITH d AS ({SQL_DOCS_WITH_DUPES}),
g AS (
  SELECT doc_id AS id,
         CASE WHEN len(parts) >= 3 THEN
           list_distinct([concat(parts[i], ' ', parts[i+1], ' ', parts[i+2])
                          for i in range(1, len(parts) - 1)])
         ELSE [] END AS sh
  FROM (SELECT doc_id, text, string_split(text, ' ') AS parts FROM d)
),
ex AS (SELECT id, unnest(sh) AS s FROM g),
hx AS (
  SELECT id, CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS x
  FROM ex
),
sig AS (
  SELECT id,
         {_MH_MINS}
  FROM hx GROUP BY id
),
bandkey AS (
  {_MH_BANDKEYS}
),
-- corpus side (ids < 10000) and batch side, each capped INDEPENDENTLY at 64
gc AS (
  SELECT id, band, bucket FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS bc
    FROM bandkey WHERE id < 10000
  ) WHERE bc <= 64
),
gb AS (
  SELECT id, band, bucket FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS bc
    FROM bandkey WHERE id >= 10000
  ) WHERE bc <= 64
),
cand AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM gc l JOIN gb r ON l.band = r.band AND l.bucket = r.bucket
  UNION ALL
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM gb l JOIN gb r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
)
SELECT c.a, c.b,
       FLOOR(len(list_intersect(ga.sh, gb.sh))::DOUBLE
             / len(list_distinct(ga.sh || gb.sh)) * 1000000) / 1e6 AS jaccard
FROM cand c JOIN g ga ON ga.id = c.a JOIN g gb ON gb.id = c.b
WHERE len(list_distinct(ga.sh || gb.sh)) > 0
  AND len(list_intersect(ga.sh, gb.sh))::DOUBLE
      / len(list_distinct(ga.sh || gb.sh)) >= 0.5
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination report (operators/contamination): docs of
    the dup-injected corpus sharing >= 2 distinct word 3-grams with a
    5-doc probe set (the probe docs themselves, their injected exact and
    near copies, plus any boilerplate overlap). Probe n-grams broadcast;
    only hit rows shuffle. Oracle mirrors the same single-space word
    3-gram construction in DuckDB."""
    from feature_engineering_spark.operators.contamination import (
        contamination_report,
    )

    d = _docs_with_dupes(spark, sf_dir)
    probes = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 5)
    return contamination_report(d, probes, n=3, min_hits=2)


SQL_CONTAMINATION = f"""
WITH d AS ({SQL_DOCS_WITH_DUPES}),
probes AS (SELECT * FROM documents WHERE doc_id < 5),
pg AS (
  SELECT DISTINCT unnest(sh) AS ngram FROM (
    SELECT CASE WHEN len(parts) >= 3 THEN
             list_distinct([concat(parts[i], ' ', parts[i+1], ' ', parts[i+2])
                            for i in range(1, len(parts) - 1)])
           ELSE [] END AS sh
    FROM (SELECT string_split(text, ' ') AS parts FROM probes)
  )
),
dg AS (
  SELECT doc_id, unnest(sh) AS ngram FROM (
    SELECT doc_id,
           CASE WHEN len(parts) >= 3 THEN
             list_distinct([concat(parts[i], ' ', parts[i+1], ' ', parts[i+2])
                            for i in range(1, len(parts) - 1)])
           ELSE [] END AS sh
    FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM d)
  )
)
SELECT dg.doc_id, COUNT(DISTINCT dg.ngram) AS n_hits, MIN(dg.ngram) AS first_hit
FROM dg JOIN pg USING (ngram)
GROUP BY dg.doc_id
HAVING COUNT(DISTINCT dg.ngram) >= 2
"""


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition signals (operators/repetition):
    dup-word fraction, most frequent word 2-gram + its character
    coverage, dup-2-gram fraction. Oracle mirrors the single-space
    tokenization, the (count DESC, gram ASC) tie-break, the
    replace-based non-space char counts, and the millionth-quantized
    integer-division fractions (ROUND(p/q, 6) half-way cases diverge
    cross-engine — CLAUDE.md)."""
    from feature_engineering_spark.operators.repetition import (
        repetition_signals,
    )

    return repetition_signals(_spread(_t(spark, sf_dir, "documents")))


def _repetition_sql(ns: tuple[int, ...] = (2, 3, 4)) -> str:
    """DuckDB twin of operators/repetition.repetition_signals for the same
    ``ns``: per-n gram CTEs mirror the single-space tokenization, the
    (count DESC, gram ASC) tie-break, the replace-based non-space char
    counts, and the millionth-quantized integer-division fractions
    (ROUND(p/q, 6) half-way cases diverge cross-engine — CLAUDE.md)."""
    per_n_ctes, per_n_cols, joins = [], [], []
    for n in ns:
        gram = "concat_ws(' ', " + ", ".join(
            f"parts[i+{k}]" if k else "parts[i]" for k in range(n)
        ) + ")"
        per_n_ctes.append(f"""
gocc{n} AS (
  SELECT doc_id,
         unnest(CASE WHEN len(parts) >= {n} THEN
                  [{gram} for i in range(1, len(parts) - {n} + 2)]
                ELSE [] END) AS g
  FROM toks
),
gcnt{n} AS (SELECT doc_id, g, COUNT(*) AS c FROM gocc{n} GROUP BY 1, 2),
gagg{n} AS (
  SELECT doc_id, SUM(c) AS ng,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupg,
         MAX(c) AS mx
  FROM gcnt{n} GROUP BY 1
),
top{n} AS (
  SELECT g.doc_id, MIN(g.g) AS topg, a.mx AS topc
  FROM gcnt{n} g JOIN gagg{n} a ON g.doc_id = a.doc_id AND g.c = a.mx
  GROUP BY 1, a.mx
)""")
        per_n_cols.append(f"""
       t{n}.topg AS top_{n}gram,
       CAST(t{n}.topc AS BIGINT) AS top_{n}gram_count,
       COALESCE(CASE WHEN k.nschars > 0 THEN
           (t{n}.topc * length(replace(t{n}.topg, ' ', '')) * 1000000)
           // k.nschars END, 0) / 1e6 AS top_{n}gram_char_frac,
       COALESCE((g{n}.dupg * 1000000) // g{n}.ng, 0) / 1e6 AS dup_{n}gram_frac""")
        joins.append(f"LEFT JOIN gagg{n} g{n} USING (doc_id)\n"
                     f"LEFT JOIN top{n} t{n} USING (doc_id)")
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS parts,
         length(replace(text, ' ', '')) AS nschars
  FROM documents
),
wocc AS (SELECT doc_id, unnest(parts) AS w FROM toks),
wcnt AS (SELECT doc_id, w, COUNT(*) AS c FROM wocc GROUP BY 1, 2),
wagg AS (
  SELECT doc_id, SUM(c) AS n_words,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupw
  FROM wcnt GROUP BY 1
),{','.join(per_n_ctes)}
SELECT w.doc_id,
       CAST(w.n_words AS BIGINT) AS n_words,
       -- fractions quantized to millionths via INTEGER division (exact
       -- in both engines), then one IEEE division by 1e6 — never
       -- ROUND(p/q, 6), whose half-way cases diverge cross-engine
       ((w.dupw * 1000000) // w.n_words) / 1e6 AS dup_word_frac,{','.join(per_n_cols)}
FROM wagg w
{chr(10).join(joins)}
JOIN toks k USING (doc_id)
"""


SQL_REPETITION = _repetition_sql()


def q_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's duplicate-line signals (operators/repetition.
    line_repetition_signals). The fixture documents are single-line, so
    BOTH sides synthesize line breaks in-query the same way (the
    pii_scrub precedent): every ' a ' becomes a newline — replace() is
    left-to-right non-overlapping in Spark and DuckDB alike."""
    from feature_engineering_spark.operators.repetition import (
        line_repetition_signals,
    )

    docs = _spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.expr("replace(text, ' a ', chr(10))").alias("text")
    )
    return line_repetition_signals(docs)


SQL_LINE_REPETITION = """
WITH d AS (
  SELECT doc_id, replace(text, ' a ', chr(10)) AS text FROM documents
),
occ AS (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM d
),
cnt AS (
  SELECT doc_id, line, COUNT(*) AS c,
         length(replace(line, ' ', '')) AS nsc
  FROM occ WHERE length(line) > 0 GROUP BY doc_id, line
),
agg AS (
  SELECT doc_id, SUM(c) AS n_lines,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
         SUM(c * nsc) AS chars,
         SUM(CASE WHEN c > 1 THEN c * nsc ELSE 0 END) AS dupchars
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
       -- millionth-quantized integer division (exact in both engines),
       -- then one IEEE division by 1e6 — never ROUND(p/q, 6)
       ((dup * 1000000) // n_lines) / 1e6 AS dup_line_frac,
       COALESCE(CASE WHEN chars > 0
                THEN (dupchars * 1000000) // chars END, 0) / 1e6
         AS dup_line_char_frac
FROM agg
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level line dedup (operators/dedup.
    line_corpus_dedup): lines occurring >= 3 times across the corpus are
    removed from every document, documents rebuilt in original order.
    Line breaks synthesized in-query on both sides (line_repetition
    precedent)."""
    from feature_engineering_spark.operators.dedup import line_corpus_dedup

    docs = _spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.expr("replace(text, ' a ', chr(10))").alias("text")
    )
    out = line_corpus_dedup(docs, min_count=3)
    return out.select(
        "doc_id",
        "text",
        F.col("n_lines_kept").cast("long").alias("n_lines_kept"),
        F.col("n_lines_removed").cast("long").alias("n_lines_removed"),
    )


SQL_LINE_DEDUP = """
WITH d AS (
  SELECT doc_id, replace(text, ' a ', chr(10)) AS text FROM documents
),
l AS (
  -- parallel unnests zip elementwise: (line, 1-based pos)
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos
  FROM d
),
bad AS (
  SELECT line FROM l WHERE length(line) > 0
  GROUP BY line HAVING COUNT(*) >= 3
),
keep AS (
  SELECT l.doc_id, l.pos, l.line
  FROM l LEFT JOIN bad b USING (line) WHERE b.line IS NULL
),
n0 AS (
  SELECT doc_id, len(string_split(text, chr(10))) AS n_orig FROM d
)
SELECT k.doc_id,
       string_agg(k.line, chr(10) ORDER BY k.pos) AS text,
       CAST(COUNT(*) AS BIGINT) AS n_lines_kept,
       CAST(ANY_VALUE(n0.n_orig) - COUNT(*) AS BIGINT) AS n_lines_removed
FROM keep k JOIN n0 USING (doc_id)
GROUP BY k.doc_id
"""


def q_line_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus-level line dedup (operators/dedup.
    line_dedup_batch_against_index): docs with doc_id % 3 != 0 play the
    committed corpus (their line_counts table is the persisted index),
    the % 3 == 0 docs an arriving batch. A batch line is stripped exactly
    when committed + batch counts reach 3; docs rebuilt in original
    order. The oracle mirrors the cumulative-count probe, the strip, and
    the ordered string_agg rebuild."""
    from feature_engineering_spark.operators.dedup import (
        line_counts,
        line_dedup_batch_against_index,
    )

    docs = _spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.expr("replace(text, ' a ', chr(10))").alias("text")
    )
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    cleaned, _counts = line_dedup_batch_against_index(
        batch, line_counts(corpus), min_count=3
    )
    return cleaned.select(
        "doc_id",
        "text",
        F.col("n_lines_kept").cast("long").alias("n_lines_kept"),
        F.col("n_lines_removed").cast("long").alias("n_lines_removed"),
    )


SQL_LINE_DEDUP_INCREMENTAL = """
WITH d AS (
  SELECT doc_id, replace(text, ' a ', chr(10)) AS text FROM documents
),
c AS (SELECT * FROM d WHERE doc_id % 3 <> 0),
b AS (SELECT * FROM d WHERE doc_id % 3 = 0),
idx AS (
  SELECT line, COUNT(*) AS c FROM (
    SELECT unnest(string_split(text, chr(10))) AS line FROM c
  ) WHERE length(line) > 0 GROUP BY line
),
cb AS (
  SELECT line, COUNT(*) AS c FROM (
    SELECT unnest(string_split(text, chr(10))) AS line FROM b
  ) WHERE length(line) > 0 GROUP BY line
),
bad AS (
  SELECT cb.line FROM cb LEFT JOIN idx USING (line)
  WHERE cb.c + COALESCE(idx.c, 0) >= 3
),
l AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos
  FROM b
),
keep AS (
  SELECT l.doc_id, l.pos, l.line
  FROM l LEFT JOIN bad USING (line) WHERE bad.line IS NULL
),
n0 AS (
  SELECT doc_id, len(string_split(text, chr(10))) AS n_orig FROM b
)
SELECT k.doc_id,
       string_agg(k.line, chr(10) ORDER BY k.pos) AS text,
       CAST(COUNT(*) AS BIGINT) AS n_lines_kept,
       CAST(ANY_VALUE(n0.n_orig) - COUNT(*) AS BIGINT) AS n_lines_removed
FROM keep k JOIN n0 USING (doc_id)
GROUP BY k.doc_id
"""


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) partial-overlap pairs — fully oracle-checked: the
    md5-derived k-gram hashes, sliding-window minima selection, hot-
    fingerprint cap, and pair count all have DuckDB twins. Overlap is
    planted in-query: every 4th doc gets a derived copy (id+1000000)
    sharing its first 160 characters inside otherwise-new text, the
    substring-containment case MinHash (whole-doc) misses."""
    from feature_engineering_spark.operators.dedup import winnow_overlap_pairs

    d = _spread(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    derived = d.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring(F.col("text"), 1, 160),
            F.lit(" zz "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    base = d.unionByName(derived)
    pairs = winnow_overlap_pairs(
        base, k=5, w=4, min_shared=2, fp_doc_cap=64
    )
    return pairs.select(
        "a", "b", F.col("n_shared").cast("long").alias("n_shared")
    )


SQL_WINNOW_OVERLAP = """
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         substr(text, 1, 160) || ' zz ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents WHERE doc_id % 4 = 0
),
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM base),
h AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(toks) - 5 + 1),
           i -> CAST(concat('0x', substr(md5(
                  array_to_string(toks[i:i+4], ' ')), 1, 15)) AS BIGINT)
         ) AS hs
  FROM t WHERE len(toks) >= 5
),
f AS (
  SELECT doc_id,
         CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
              ELSE list_distinct(list_transform(
                     generate_series(1, len(hs) - 4 + 1),
                     j -> list_min(hs[j:j+3])))
         END AS fps
  FROM h
),
e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
cold AS (SELECT fp FROM e GROUP BY fp HAVING COUNT(*) <= 64),
ee AS (SELECT e.doc_id, e.fp FROM e JOIN cold USING (fp))
SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM ee x JOIN ee y ON x.fp = y.fp AND x.doc_id < y.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


def q_winnow_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental winnow overlap vs a committed fingerprint index —
    documents play the committed corpus (their winnow_fingerprints table
    is the persisted index), derived every-4th-doc copies (id+1000000,
    first 160 chars shared) an arriving batch. The oracle is the FULL
    winnowing run over corpus ∪ batch restricted to batch-touching pairs
    — the equivalence the property test pins (only the batch is
    fingerprinted on the Spark side; the index is probed by a broadcast
    of the batch's fingerprints)."""
    from feature_engineering_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_overlap_incremental,
    )

    d = _spread(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    batch = d.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring(F.col("text"), 1, 160),
            F.lit(" zz "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    index = winnow_fingerprints(d, k=5, w=4)
    pairs, _fps = winnow_overlap_incremental(
        batch, index, k=5, w=4, min_shared=2, fp_doc_cap=64
    )
    return pairs.select(
        "a", "b", F.col("n_shared").cast("long").alias("n_shared")
    )


SQL_WINNOW_INCREMENTAL = (
    SQL_WINNOW_OVERLAP.rstrip()
    + " AND y.doc_id >= 1000000\n"
)


def q_winnow_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-unit winnowing overlap on spaceless (CJK-ish) text — the
    word-unit operator is structurally blind here (each doc is one
    token). Text is de-spaced in-query on both engines; every 4th doc
    gets a derived copy sharing its first 80 characters."""
    from feature_engineering_spark.operators.dedup import winnow_overlap_pairs

    d = _spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.replace(F.col("text"), F.lit(" "), F.lit("")).alias("s")
    )
    derived = d.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring(F.col("s"), 1, 80),
            F.lit("ZZ"),
            F.col("doc_id").cast("string"),
        ).alias("s"),
    )
    base = d.unionByName(derived)
    # char params are WIDER than word params: a 20-char gram (~4 words)
    # is a meaningful substring; 5-char grams on web text are near-
    # universal and would pair everything (measured 101k pairs on this
    # fixture vs 160 at k=20/w=12/cap=8, with planted recall 125/125
    # in both)
    pairs = winnow_overlap_pairs(
        base, text="s", k=20, w=12, min_shared=2, fp_doc_cap=8, unit="char"
    )
    return pairs.select(
        "a", "b", F.col("n_shared").cast("long").alias("n_shared")
    )


SQL_WINNOW_CHAR = """
WITH base AS (
  SELECT doc_id, replace(text, ' ', '') AS s FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         substr(replace(text, ' ', ''), 1, 80) || 'ZZ' ||
         CAST(doc_id AS VARCHAR) AS s
  FROM documents WHERE doc_id % 4 = 0
),
h AS (
  SELECT doc_id,
         list_transform(generate_series(1, length(s) - 20 + 1),
           i -> CAST(concat('0x', substr(md5(substr(s, i, 20)), 1, 15))
                AS BIGINT)) AS hs
  FROM base WHERE length(s) >= 20
),
f AS (
  SELECT doc_id,
         CASE WHEN len(hs) <= 12 THEN [list_min(hs)]
              ELSE list_distinct(list_transform(
                     generate_series(1, len(hs) - 12 + 1),
                     j -> list_min(hs[j:j+11])))
         END AS fps
  FROM h
),
e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
cold AS (SELECT fp FROM e GROUP BY fp HAVING COUNT(*) <= 8),
ee AS (SELECT e.doc_id, e.fp FROM e JOIN cold USING (fp))
SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM ee x JOIN ee y ON x.fp = y.fp AND x.doc_id < y.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


def q_trim_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-substring excision — fully oracle-checked: the derived
    quote docs (winnow_overlap's construction) are trimmed against the
    base documents; the rebuilt text, kept and removed token counts all
    have DuckDB twins (gram-hash semi-join -> covered starts -> zip/
    filter rebuild)."""
    from feature_engineering_spark.operators.dedup import trim_contained_runs

    d = _spread(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    derived = d.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring(F.col("text"), 1, 160),
            F.lit(" zz "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return trim_contained_runs(derived, d, k=5)


SQL_TRIM_OVERLAP = """
WITH b AS (
  SELECT doc_id + 1000000 AS doc_id,
         substr(text, 1, 160) || ' zz ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents WHERE doc_id % 4 = 0
),
st AS (SELECT string_split(text, ' ') AS toks FROM documents),
sg AS (
  SELECT DISTINCT unnest(list_transform(generate_series(1, len(toks) - 4),
    i -> CAST(concat('0x', substr(md5(
           array_to_string(toks[i:i+4], ' ')), 1, 15)) AS BIGINT))) AS h
  FROM st WHERE len(toks) >= 5
),
d AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM b),
dg AS (
  SELECT doc_id,
         unnest(generate_series(0, len(toks) - 5)) AS pos,
         unnest(list_transform(generate_series(1, len(toks) - 4),
           i -> CAST(concat('0x', substr(md5(
                  array_to_string(toks[i:i+4], ' ')), 1, 15)) AS BIGINT))) AS h
  FROM d WHERE len(toks) >= 5
),
cov AS (
  SELECT dg.doc_id, list_sort(list(DISTINCT dg.pos)) AS starts
  FROM dg JOIN sg USING (h) GROUP BY dg.doc_id
),
o AS (
  SELECT d.doc_id, d.toks, COALESCE(cov.starts, []) AS starts
  FROM d LEFT JOIN cov USING (doc_id)
),
kk AS (
  SELECT doc_id, len(toks) AS m,
         list_filter(list_zip(toks, generate_series(0, len(toks) - 1)),
           p -> len(list_filter(starts,
                  s -> s <= p[2] AND p[2] < s + 5)) = 0) AS kept
  FROM o
)
SELECT doc_id,
       array_to_string(list_transform(kept, p -> p[1]), ' ') AS text,
       CAST(len(kept) AS BIGINT) AS n_tokens_kept,
       CAST(m - len(kept) AS BIGINT) AS n_tokens_removed
FROM kk
"""


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — fully oracle-checked: the md5-derived
    signature, prefix bucketing, and Hamming verify all have DuckDB twins."""
    from feature_engineering_spark.operators.dedup import simhash_neardup_pairs

    d = _docs_with_dupes(spark, sf_dir)
    return simhash_neardup_pairs(d, max_hamming=8, prefix_bits=8, nbits=60)


SQL_SIMHASH_NEARDUP = f"""
WITH d AS ({SQL_DOCS_WITH_DUPES}),
h AS (
  SELECT doc_id, list_transform(string_split(text, ' '),
           s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)) AS hs
  FROM d
), s AS (
  SELECT doc_id, ({{simhash_bits}}) AS sh FROM h
), b AS (  -- bucket-size cap 64 mirrors the operator's degenerate-cluster guard
  SELECT doc_id, sh, bucket FROM (
    SELECT doc_id, sh, sh >> 52 AS bucket,
           COUNT(*) OVER (PARTITION BY sh >> 52) AS bc
    FROM s
  ) WHERE bc <= 64
)
SELECT l.doc_id AS a, r.doc_id AS b,
       CAST(bit_count(xor(l.sh, r.sh)) AS INT) AS hamming
FROM b l JOIN b r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
WHERE bit_count(xor(l.sh, r.sh)) <= 8
"""
SQL_SIMHASH_NEARDUP = SQL_SIMHASH_NEARDUP.replace(
    "{simhash_bits}", _simhash_sql(60)
)


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_engineering_spark.operators.dedup import embedding_neardup_pairs

    out = embedding_neardup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.0)
    return out.select(
        "a", "b", F.round("cosine", 4).alias("cosine")
    ).where(F.round("cosine", 4) >= 0.3)


SQL_EMBED_NEARDUP = """
SELECT a.vec_id AS a, b.vec_id AS b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 4) >= 0.3
"""


def q_embed_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH embedding near-dup (the 100-TB scale path; all-pairs
    embed_neardup is its exactness baseline). Near-dups constructed
    in-query (scaled+shifted copies of vec_id<50, id+10000) with the
    identical construction in SQL. Fully oracle-checked: the md5-derived
    hyperplanes are literals, so bucketing, guard, candidate join, and
    cosine verify all replicate in DuckDB."""
    from feature_engineering_spark.operators.dedup import embedding_neardup_lsh

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    mut = e.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.02) + F.lit(0.03)).alias(
            "embedding"
        ),
    )
    d = e.unionByName(mut)
    out = embedding_neardup_lsh(d, dim=64, threshold=-1.0, nbits=16, bands=4)
    return out.select("a", "b", F.round("cosine", 4).alias("cosine")).where(
        F.round("cosine", 4) >= 0.8
    )


def _srp_bucket_sql() -> str:
    """bucket0..bucket3 select-list of the dim-64, nbits-16, 4-band SRP
    oracles."""
    from feature_engineering_spark.operators.dedup import srp_hyperplanes

    planes = srp_hyperplanes(64, 16, 7)
    # identical left-associated add chains as the Spark operator emits —
    # same IEEE op sequence, bit-identical dot products, identical sign bits
    bits = [
        "(CASE WHEN 0.0 + "
        + " + ".join(f"v[{k + 1}] * ({w!r})" for k, w in enumerate(h))
        + " > 0 THEN 1 ELSE 0 END)"
        for h in planes
    ]
    buckets = []
    for b in range(4):
        terms = " + ".join(f"{bits[4 * b + r]} * {2 ** r}" for r in range(4))
        buckets.append(f"0 + {terms} AS bucket{b}")
    return ",\n         ".join(buckets)


def _srp_sql() -> str:
    bucket_sql = _srp_bucket_sql()
    return f"""
WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d AS (
  SELECT vec_id, v FROM e0
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, list_transform(v, x -> x * 1.02 + 0.03) AS v
  FROM e0 WHERE vec_id < 50
),
sig AS (
  SELECT vec_id,
         {bucket_sql}
  FROM d
),
banded AS (
  SELECT vec_id, 0 AS band, bucket0 AS bucket FROM sig
  UNION ALL SELECT vec_id, 1, bucket1 FROM sig
  UNION ALL SELECT vec_id, 2, bucket2 FROM sig
  UNION ALL SELECT vec_id, 3, bucket3 FROM sig
),
guarded AS (
  SELECT vec_id, band, bucket FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS bc FROM banded
  ) WHERE bc <= 4096
),
cand AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM guarded l JOIN guarded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id
)
SELECT c.a, c.b, ROUND(list_cosine_similarity(da.v, db.v), 4) AS cosine
FROM cand c JOIN d da ON da.vec_id = c.a JOIN d db ON db.vec_id = c.b
WHERE ROUND(list_cosine_similarity(da.v, db.v), 4) >= 0.8
"""


SQL_EMBED_NEARDUP_LSH = _srp_sql()


def q_embed_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-backed incremental embedding near-dup (operators/dedup.
    embedding_lsh_incremental): the embeddings table plays the committed
    corpus (its SRP banding is the persisted index, srp_banded) and two
    in-query mutation layers play an arriving batch — vec_id+10000
    (v*1.02+0.03, near-dups of the corpus) and vec_id+20000
    (v*0.98+0.05 of vec_id<25, near-dup of BOTH the corpus and the first
    layer, so the in-batch self-join path is exercised too). Only the
    batch is signed; the corpus index is probed with a broadcast of the
    batch's buckets and corpus vectors are fetched for candidate ids
    only. The oracle replicates the md5-derived hyperplanes as literals
    with the operator's exact left-associated fold order, the per-side
    bucket caps, the cross probe, and the in-batch self-join."""
    from feature_engineering_spark.operators.dedup import (
        embedding_lsh_incremental,
        srp_banded,
    )

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    b1 = e.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.02) + F.lit(0.03)).alias(
            "embedding"
        ),
    )
    b2 = e.where(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 20000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.98) + F.lit(0.05)).alias(
            "embedding"
        ),
    )
    batch = b1.unionByName(b2)
    index = srp_banded(e, dim=64, nbits=16, bands=4)
    out = embedding_lsh_incremental(
        batch, e, index, dim=64, threshold=-1.0, nbits=16, bands=4
    )
    return out.select("a", "b", F.round("cosine", 4).alias("cosine")).where(
        F.round("cosine", 4) >= 0.8
    )


def _srp_incremental_sql() -> str:
    bucket_sql = _srp_bucket_sql()
    return f"""
WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
batch AS (
  SELECT vec_id + 10000 AS vec_id, list_transform(v, x -> x * 1.02 + 0.03) AS v
  FROM e0 WHERE vec_id < 50
  UNION ALL
  SELECT vec_id + 20000 AS vec_id, list_transform(v, x -> x * 0.98 + 0.05) AS v
  FROM e0 WHERE vec_id < 25
),
allv AS (SELECT * FROM e0 UNION ALL SELECT * FROM batch),
sigc AS (
  SELECT vec_id,
         {bucket_sql}
  FROM e0
),
sigb AS (
  SELECT vec_id,
         {bucket_sql}
  FROM batch
),
bandc AS (
  SELECT vec_id, 0 AS band, bucket0 AS bucket FROM sigc
  UNION ALL SELECT vec_id, 1, bucket1 FROM sigc
  UNION ALL SELECT vec_id, 2, bucket2 FROM sigc
  UNION ALL SELECT vec_id, 3, bucket3 FROM sigc
),
bandb AS (
  SELECT vec_id, 0 AS band, bucket0 AS bucket FROM sigb
  UNION ALL SELECT vec_id, 1, bucket1 FROM sigb
  UNION ALL SELECT vec_id, 2, bucket2 FROM sigb
  UNION ALL SELECT vec_id, 3, bucket3 FROM sigb
),
-- per-side caps mirror the operator: corpus-index rows and batch banding
-- are guarded INDEPENDENTLY at 4096
gc AS (
  SELECT vec_id, band, bucket FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS bc FROM bandc
  ) WHERE bc <= 4096
),
gb AS (
  SELECT vec_id, band, bucket FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS bc FROM bandb
  ) WHERE bc <= 4096
),
cand AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM gc l JOIN gb r ON l.band = r.band AND l.bucket = r.bucket
  UNION ALL
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM gb l JOIN gb r
    ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id
)
SELECT c.a, c.b, ROUND(list_cosine_similarity(da.v, db.v), 4) AS cosine
FROM cand c JOIN allv da ON da.vec_id = c.a JOIN allv db ON db.vec_id = c.b
WHERE ROUND(list_cosine_similarity(da.v, db.v), 4) >= 0.8
"""


SQL_EMBED_INCREMENTAL = _srp_incremental_sql()


# ---------------------------------------------------------------- similarity
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_engineering_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = brute_force_topk(emb.where(F.col("vec_id") != 0), list(query), k=20)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


SQL_ANN_TOPK = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 4) AS cosine
FROM embeddings, q WHERE vec_id != 0
ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) DESC, vec_id ASC
LIMIT 20
"""


SQL_ANN_IVF = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id < 16),
probe AS (SELECT cid FROM cents, q
          ORDER BY list_cosine_similarity(cv, qv) DESC, cid LIMIT 4),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
                      c.cid DESC) AS rn
    FROM embeddings e, cents c
  ) WHERE rn = 1
)
SELECT e.vec_id,
       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cosine
FROM embeddings e
JOIN assigned a ON e.vec_id = a.vec_id, q
WHERE a.cid IN (SELECT cid FROM probe) AND e.vec_id != 0
ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) DESC, e.vec_id
LIMIT 20
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN — oracle-checked (centroid assignment, probe
    selection, and in-bucket top-k all replicated in SQL); recall vs brute
    force additionally property-tested in tests."""
    from feature_engineering_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.where(F.col("vec_id") < 16).collect()
    ]
    query = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = ivf_topk(emb.where(F.col("vec_id") != 0), list(query), cents, k=20, nprobe=4)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


# ------------------------------------------------------------ corpus hygiene
def q_clean_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text-normalization pass, fingerprinted so the oracle
    verifies BYTE-identical normalized output (the input_hint's
    byte-identity invariant applied to the cleaning stage)."""
    d = _spread(_t(spark, sf_dir, "documents"))
    norm = TX.normalize_text(F.col("text"))
    return d.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).alias("norm_len"),
    )


SQL_CLEAN_TEXT = """
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
                               '\\s+', ' ', 'g'))) AS norm_md5,
       CAST(len(trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
                                    '\\s+', ' ', 'g'))) AS INT) AS norm_len
FROM documents
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking pass (operators/pii): synthetic emails / IPv4s / phone
    numbers are injected into every 7th document IN-QUERY (identical
    construction in the oracle — the fixture corpus itself is PII-free),
    then per-doc counts + the md5 of the masked text are emitted. The
    byte-identity check holds because the patterns stay inside the regex
    subset where Java regex and RE2 agree (operators/pii docstring)."""
    from feature_engineering_spark.operators.pii import pii_signals, scrub_text

    d = _spread(_t(spark, sf_dir, "documents")).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact bob"),
                (F.col("doc_id") % 100).cast("string"),
                F.lit("@mail.site.example.com or admin@10.20.30.40 from 10."),
                (F.col("doc_id") % 250).cast("string"),
                F.lit(".2.3 call +1202555014"),
                (F.col("doc_id") % 10).cast("string"),
            ),
        ).otherwise(F.col("text")),
    )
    sig = pii_signals(d)
    masked = d.select("doc_id", F.md5(scrub_text(F.col("text"))).alias("scrub_md5"))
    return sig.join(masked, "doc_id").where(F.col("has_pii"))


SQL_PII_SCRUB = r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN
           text || ' contact bob' || CAST(doc_id % 100 AS VARCHAR)
                || '@mail.site.example.com or admin@10.20.30.40 from 10.'
                || CAST(doc_id % 250 AS VARCHAR) || '.2.3 call +1202555014'
                || CAST(doc_id % 10 AS VARCHAR)
         ELSE text END AS text
  FROM documents
),
sig AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
         CAST(len(regexp_extract_all(text,
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
         CAST(len(regexp_extract_all(text, '\+\d{7,15}')) AS INT) AS n_phone,
         md5(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
               '\+\d{7,15}', '<PHONE>', 'g')) AS scrub_md5
  FROM d
)
SELECT doc_id, n_email, n_ipv4, n_phone,
       (n_email + n_ipv4 + n_phone) > 0 AS has_pii, scrub_md5
FROM sig WHERE (n_email + n_ipv4 + n_phone) > 0
"""


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: token -> corpus frequency over normalized text,
    top 500 by (count desc, token). One explode + one map-side-combined
    groupBy + TakeOrdered — the word-count shape that stays one shuffle at
    any corpus size."""
    d = _spread(_t(spark, sf_dir, "documents"))
    return (
        TX.term_frame(d, id_col=None, name="token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(500)
    )


SQL_VOCAB_TOPK = """
WITH norm AS (
  SELECT trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
                             '\\s+', ' ', 'g')) AS t
  FROM documents
), tok AS (
  SELECT unnest(string_split(t, ' ')) AS token FROM norm
)
SELECT token, COUNT(*) AS n FROM tok WHERE token != ''
GROUP BY token ORDER BY n DESC, token LIMIT 500
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed stratified downsampling (the common-language
    rebalance step of a training-data pipeline): en docs kept at 10%,
    everything else at 50% — membership a pure function of doc_id, so the
    sample is reproducible across runs/engines and the oracle is exact."""
    from feature_engineering_spark.operators.split import deterministic_sample

    d = _spread(_t(spark, sf_dir, "documents"))
    en = deterministic_sample(d.where(F.col("lang") == "en"), 0.10, key="doc_id")
    rest = deterministic_sample(d.where(F.col("lang") != "en"), 0.50, key="doc_id")
    return en.unionByName(rest).select("doc_id", "lang", "n_chars")


SQL_STRATIFIED_SAMPLE = """
WITH b AS (
  SELECT doc_id, lang, n_chars,
         CAST(concat('0x', substr(md5(concat('s0', ':', doc_id)), 1, 15)) AS BIGINT)
           % 1000000 AS bucket
  FROM documents
)
SELECT doc_id, lang, n_chars FROM b
WHERE (lang = 'en' AND bucket < 100000) OR (lang != 'en' AND bucket < 500000)
"""


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF over normalized tokens: tf = in-doc count, idf =
    ln((N+1)/(df+1)) + 1 (smoothed). Two map-side-combined aggregations
    plus one shuffled join on `term` — no all-pairs, no Python. Emits terms
    with tfidf >= 2, rounded.

    Scale notes: the df-side is deliberately NOT broadcast — an
    open-vocabulary web corpus has billions of distinct terms, so the term
    dictionary is itself a big table; a plain shuffled hash join on `term`
    co-partitions tf and df and AQE will still broadcast it at runtime if
    the dictionary turns out tiny. N (doc count) joins in lazily as a
    single-row broadcast cross join instead of a separate driver action."""
    d = _spread(_t(spark, sf_dir, "documents"))
    tok = TX.term_frame(d)
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)) + F.lit(1.0)
    scored = tf.join(df_, "term").crossJoin(F.broadcast(nd)).select(
        "doc_id", "term",
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )
    return scored.where(F.col("tfidf") >= 2.0)


SQL_TFIDF = """
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
                             '\\s+', ' ', 'g')) AS t
  FROM documents
), tok AS (
  SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM norm
), tok2 AS (
  SELECT doc_id, term FROM tok WHERE term != ''
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok2 GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tok2)
  GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term,
       ROUND(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1)) + 1.0), 6) AS tfidf
FROM tf JOIN dfreq USING (term), n
WHERE ROUND(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1)) + 1.0), 6) >= 2.0
"""


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (operators/lm_score.unigram_nll):
    per-doc average negative log-likelihood under an add-one unigram LM
    trained on the corpus itself. Lower = more ordinary text. The oracle
    re-derives the LM table, totals, and per-doc average in SQL; avg_nll
    is ROUND(6) on both sides (order-summed ln terms, tfidf precedent)."""
    from feature_engineering_spark.operators.lm_score import unigram_nll

    d = _spread(_t(spark, sf_dir, "documents"))
    return unigram_nll(d).select(
        "doc_id", F.col("n_tok").cast("long").alias("n_tok"), "avg_nll"
    )


SQL_LM_PERPLEXITY = """
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
                             '\\s+', ' ', 'g')) AS t
  FROM documents
), tok AS (
  SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM norm
), tok2 AS (
  SELECT doc_id, term FROM tok WHERE term != ''
), lm AS (
  SELECT term, COUNT(*) AS c FROM tok2 GROUP BY term
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t_tok, COUNT(*) AS v_size FROM lm
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok2 GROUP BY doc_id, term
), scored AS (
  SELECT tf.doc_id, tf.tf,
         ln(lm.c + 1.0) - ln(CAST(tot.t_tok + tot.v_size AS DOUBLE)) AS lp
  FROM tf JOIN lm USING (term), tot
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
       ROUND(-SUM(tf * lp) / SUM(tf), 6) AS avg_nll
FROM scored GROUP BY doc_id
"""


def q_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup survivor selection (operators/graph.
    cluster_representatives): close the hash-verified MinHash pair set
    into clusters, then keep each cluster's LONGEST member (ties ->
    smallest id) instead of the minimum id — the RefinedWeb-style "keep
    the cleanest variant" policy. One min-of-structs aggregate, no
    window. The oracle closes the same edge set recursively and picks
    representatives with a row_number."""
    from feature_engineering_spark.operators.dedup import minhash_lsh_dedup
    from feature_engineering_spark.operators.graph import (
        cluster_representatives,
        dedup_clusters,
    )

    d = _docs_with_dupes(spark, sf_dir)
    pairs = minhash_lsh_dedup(d, threshold=0.5)
    clusters = dedup_clusters(pairs)
    docs_q = d.select("doc_id", F.length("text").alias("q"))
    return cluster_representatives(clusters, docs_q, "q").select(
        "canonical_id",
        "rep_doc_id",
        F.col("rep_quality").cast("long").alias("rep_quality"),
        F.col("n_members").cast("long").alias("n_members"),
    )


SQL_CLUSTER_REPS = f"""
WITH clus AS ({SQL_DEDUP_CLUSTERS}),
d AS ({SQL_DOCS_WITH_DUPES}),
j AS (
  SELECT c.canonical_id, c.doc_id, length(d.text) AS q
  FROM clus c JOIN d USING (doc_id)
),
r AS (
  SELECT canonical_id, doc_id, q,
         row_number() OVER (PARTITION BY canonical_id
                            ORDER BY q DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY canonical_id) AS n_members
  FROM j
)
SELECT canonical_id, doc_id AS rep_doc_id, CAST(q AS BIGINT) AS rep_quality,
       CAST(n_members AS BIGINT) AS n_members
FROM r WHERE rn = 1
"""


_MIX_WEIGHTS = {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.1, "fr": 0.1}


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain reweighting (operators/split.
    domain_mix_sample): downsample languages to the DoReMi-style target
    mix at the largest feasible corpus size, membership a pure function
    of doc_id (md5 bucket). The oracle recomputes counts, the feasible
    size S = min(n_d/pi_d), and the per-domain thresholds with the same
    IEEE operation order — integer thresholds match bit-for-bit."""
    from feature_engineering_spark.operators.split import domain_mix_sample

    d = _spread(_t(spark, sf_dir, "documents"))
    return domain_mix_sample(d, _MIX_WEIGHTS).select("doc_id", "lang", "n_chars")


SQL_DOMAIN_MIX = """
WITH w(lang, pi) AS (
  VALUES ('de', 0.1), ('en', 0.4), ('es', 0.2), ('fr', 0.1), ('zh', 0.2)
),
c AS (SELECT lang, COUNT(*) AS n_d FROM documents GROUP BY lang),
pd AS (SELECT c.lang, c.n_d, w.pi FROM c JOIN w USING (lang)),
s AS (SELECT MIN(n_d / pi) AS s_max FROM pd),
r AS (
  SELECT lang,
         FLOOR(LEAST(1.0, (pi * s_max) / n_d) * 1000000.0) AS thr
  FROM pd, s
),
b AS (
  SELECT doc_id, lang, n_chars,
         CAST(concat('0x', substr(md5(concat('mix0', ':', doc_id)), 1, 15)) AS BIGINT)
           % 1000000 AS bucket
  FROM documents
)
SELECT doc_id, lang, n_chars FROM b JOIN r USING (lang) WHERE bucket < thr
"""


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.pack_chunks): docs in
    content-hash order are concatenated per shard and cut every 512
    tokens; each doc reports the chunk its first token lands in and the
    offset inside it. Pure integer arithmetic (integer `div`), so the
    oracle's window cumsum matches bit-for-bit."""
    from feature_engineering_spark.operators.packing import pack_chunks

    d = _spread(_t(spark, sf_dir, "documents"))
    return pack_chunks(d, max_tokens=512, n_shards=8)


SQL_PACK_CHUNKS = """
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(concat('pack0', ':', doc_id)), 1, 15)) AS BIGINT)
           AS hv,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, hv % 8 AS shard, n_tok,
         CAST(SUM(n_tok) OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id)
              - n_tok AS BIGINT) AS ce
  FROM h
)
SELECT doc_id, shard, n_tok,
       CAST(shard * 4294967296 + ce // 512 AS BIGINT) AS chunk_id,
       ce % 512 AS chunk_offset
FROM c
"""


# ---------------------------------------------------------------- multimodal
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end check of the multimodal path: deterministic FMM1
    containers are synthesized from doc ids (every byte a closed-form
    function of the id), then the REAL media_features operator parses
    headers from the bytes, samples frames (stride 2), resizes, and
    aggregates — while the DuckDB oracle re-derives the same numbers by
    direct arithmetic over generate_series, never touching a blob. The
    decode stub boundary (media_features' use_real_codecs) stays
    documented; everything around it is hash-verified."""
    from feature_engineering_spark.operators.multimodal import (
        media_features,
        synthesize_media_from_ids,
    )

    d = _spread(_t(spark, sf_dir, "documents"))
    media = synthesize_media_from_ids(d, id_col="doc_id")
    out = media_features(media, frame_stride=2)
    return out.select(
        "media_id", "media_type", "width", "height", "n_frames",
        "sampled_frames",
        F.col("mean_intensity"),  # exact integer sum / n — bit-identical
        F.round("std_intensity", 6).alias("std_intensity"),
        "resized_checksum",
    )


SQL_MEDIA_FEATURES = """
WITH ids AS (
  SELECT doc_id AS media_id,
         (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
         4 + doc_id % 13 AS w,
         4 + (doc_id * 3) % 13 AS h,
         1 + doc_id % 5 AS nf
  FROM documents
), frames AS (  -- sampled frames: stride 2
  SELECT media_id, w, h, nf, unnest(generate_series(0, nf - 1, 2)) AS f FROM ids
), pix AS (
  SELECT media_id, w, h, f, unnest(generate_series(0, w * h - 1)) AS j FROM frames
), vals AS (  -- pixel[i] = (id*31 + i*7) % 256 at global index i = f*w*h + j
  SELECT media_id,
         CAST((media_id * 31 + (f * w * h + j) * 7) % 256 AS DOUBLE) AS v
  FROM pix
), m1 AS (
  SELECT media_id, COUNT(*) AS n, AVG(v) AS m FROM vals GROUP BY media_id
), m2 AS (  -- numpy two-pass std: sqrt(mean((x - m)^2))
  SELECT v.media_id, SQRT(AVG((v.v - m1.m) * (v.v - m1.m))) AS sd
  FROM vals v JOIN m1 USING (media_id) GROUP BY v.media_id
), yrows AS (
  SELECT media_id, w, h, unnest(generate_series(0, 7)) AS yi FROM ids
), xrows AS (
  SELECT media_id, w, h, yi, unnest(generate_series(0, 7)) AS xi FROM yrows
), rs AS (  -- 8x8 nearest-neighbour resize of frame 0: ys=(yi*h)//8, xs=(xi*w)//8
  SELECT media_id,
         CAST(SUM((media_id * 31 + (((yi * h) // 8) * w + ((xi * w) // 8)) * 7)
                  % 256) AS BIGINT) AS resized_checksum
  FROM xrows GROUP BY media_id
)
SELECT i.media_id, i.media_type,
       CAST(i.w AS INT) AS width, CAST(i.h AS INT) AS height,
       CAST(i.nf AS INT) AS n_frames,
       CAST((i.nf + 1) // 2 AS INT) AS sampled_frames,
       m1.m AS mean_intensity,
       ROUND(m2.sd, 6) AS std_intensity,
       rs.resized_checksum
FROM ids i JOIN m1 USING (media_id) JOIN m2 USING (media_id)
JOIN rs USING (media_id)
"""


DATA_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "text_quality": q_text_quality,
    "lang_id_counts": q_lang_id_counts,
    "doc_fingerprint": q_doc_fingerprint,
    "dedup_exact": q_dedup_exact,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_lsh_dedup": q_minhash_lsh_dedup,
    "dedup_clusters": q_dedup_clusters,
    "minhash_incremental": q_minhash_incremental,
    "contamination": q_contamination,
    "repetition_signals": q_repetition_signals,
    "line_repetition": q_line_repetition,
    "line_dedup": q_line_dedup,
    "line_dedup_incremental": q_line_dedup_incremental,
    "winnow_overlap": q_winnow_overlap,
    "winnow_incremental": q_winnow_incremental,
    "trim_overlap": q_trim_overlap,
    "winnow_char": q_winnow_char,
    "lm_perplexity": q_lm_perplexity,
    "cluster_reps": q_cluster_reps,
    "domain_mix": q_domain_mix,
    "pack_chunks": q_pack_chunks,
    "simhash_neardup": q_simhash_neardup,
    "embed_neardup": q_embed_neardup,
    "embed_neardup_lsh": q_embed_neardup_lsh,
    "embed_incremental": q_embed_incremental,
    "ann_topk": q_ann_topk,
    "ann_ivf": q_ann_ivf,
    "media_features": q_media_features,
    "clean_text_normalize": q_clean_text_normalize,
    "pii_scrub": q_pii_scrub,
    "vocab_topk": q_vocab_topk,
    "stratified_sample": q_stratified_sample,
    "tfidf_terms": q_tfidf_terms,
}

DATA_ORACLE_SQL: dict[str, str] = {
    "text_quality": SQL_TEXT_QUALITY,
    "lang_id_counts": SQL_LANG_ID,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "dedup_exact": SQL_DEDUP_EXACT,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "minhash_lsh_dedup": SQL_MINHASH_LSH,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "minhash_incremental": SQL_MINHASH_INCREMENTAL,
    "contamination": SQL_CONTAMINATION,
    "repetition_signals": SQL_REPETITION,
    "line_repetition": SQL_LINE_REPETITION,
    "line_dedup": SQL_LINE_DEDUP,
    "line_dedup_incremental": SQL_LINE_DEDUP_INCREMENTAL,
    "winnow_overlap": SQL_WINNOW_OVERLAP,
    "winnow_incremental": SQL_WINNOW_INCREMENTAL,
    "trim_overlap": SQL_TRIM_OVERLAP,
    "winnow_char": SQL_WINNOW_CHAR,
    "lm_perplexity": SQL_LM_PERPLEXITY,
    "cluster_reps": SQL_CLUSTER_REPS,
    "domain_mix": SQL_DOMAIN_MIX,
    "pack_chunks": SQL_PACK_CHUNKS,
    "embed_neardup": SQL_EMBED_NEARDUP,
    "embed_neardup_lsh": SQL_EMBED_NEARDUP_LSH,
    "embed_incremental": SQL_EMBED_INCREMENTAL,
    "ann_topk": SQL_ANN_TOPK,
    "ann_ivf": SQL_ANN_IVF,
    "simhash_neardup": SQL_SIMHASH_NEARDUP,
    "media_features": SQL_MEDIA_FEATURES,
    "clean_text_normalize": SQL_CLEAN_TEXT,
    "pii_scrub": SQL_PII_SCRUB,
    "vocab_topk": SQL_VOCAB_TOPK,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "tfidf_terms": SQL_TFIDF,
}
