"""Text-analysis functions for web-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting,
shingling.

This is the only module that spells out a text primitive. Every
operator, query and job that needs one calls it from here, so the
Spark expression and its DuckDB twin are written once:

- ``ws_tokens`` / ``ws_token_count``: the single-space split and its
  size; ``ws_run_count``: whitespace-run tokens of the trimmed text;
- ``lines``: the split on a literal line separator;
- ``token_hash64``: md5 -> 60-bit integer hash;
- ``word_ngrams`` / ``char_ngrams``: every n-gram in order (multiset),
  ``[]`` below n units; shingles are their ``array_distinct``;
- ``gram_frame``: the one word/char gram dispatch, staged;
- ``term_frame``: one row per non-empty normalized term.

It is also the only module that defines a text signal and the only one
that stages one. Higher-order functions (transform/filter/aggregate) run
interpreted with no subexpression elimination, so a Column that
references a derived token array N times re-derives it N times per row.
A primitive therefore takes the STAGED array attribute and never
re-splits. The frame builders project each derived array ONCE in its own
select and read the attribute afterwards (CollapseProject keeps such a
stage because its alias is non-cheap and multiply-referenced):

- ``shingle_frame``: (id, sh) word or char shingles — MinHash, n-gram
  Jaccard and contamination all shingle through it;
- ``text_scores``: quality, lang_guess and the ratios quality is built
  from, over one lower-cased token array;
- ``simhash_frame``: the SimHash over one token-hash array.

All pure JVM column expressions (whole-stage codegen, no Python) — these
run per page over the full corpus, so they must live on the scan side of
the first shuffle. The scored signals have exact DuckDB-SQL twins in
plans/data_queries.py (SQL_TEXT_QUALITY, SQL_LANG_ID,
SQL_DOC_FINGERPRINT); cross-engine-stable primitives only (md5, conv,
regexp with ASCII classes, single-space split).

The reference analog is the JSON-message flatten + derived scalar layer
(the reference's utils/data_loaders.py:178-199, 382) — the per-row scalar
function surface of the engine, generalized to text.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists (public common-word lists, truncated).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "un", "une", "dans"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "这", "他"],
}
_LANG_ORDER = ["en", "de", "es", "fr", "zh"]  # deterministic tiebreak

# BPE-ish tokenization: letter runs | single digits | single punctuation.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def ws_tokens(text: Column) -> Column:
    """Single-space split (cross-engine identical, keeps empty strings)."""
    return F.split(text, " ")


def ws_token_count(text: Column) -> Column:
    return F.size(ws_tokens(text))


def ws_run_count(text: Column) -> Column:
    """Tokens of the trimmed text split on whitespace RUNS (no empties
    between repeated spaces; an empty text still counts 1). split+size is
    the fast path, measured: regexp_replace(\\s+ -> ' ') + length
    arithmetic benched 3x SLOWER at local[8]/8M pages (regex replace
    builds a new string; split only scans)."""
    return F.size(F.split(F.trim(text), r"\s+"))


def lines(text: Column, sep: str) -> Column:
    """Split on the literal separator ``sep`` (regex-escaped), keeping
    empty lines — the line unit of line dedup and line repetition."""
    return F.split(text, re.escape(sep))


def bpe_ish_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    stripped = F.length(F.regexp_replace(text, "[.,!?;:]", ""))
    return F.when(n > 0, (n - stripped) / n).otherwise(F.lit(0.0))


def digit_ratio(text: Column) -> Column:
    n = F.length(text)
    stripped = F.length(F.regexp_replace(text, "[0-9]", ""))
    return F.when(n > 0, (n - stripped) / n).otherwise(F.lit(0.0))


def _words(words: list[str]) -> Column:
    return F.array(*[F.lit(w) for w in words])


def text_scores(df: DataFrame, text: str = "text") -> DataFrame:
    """``df``'s columns followed by the scored signals of ``text``:

    - ``ws_tokens``: single-space token count;
    - ``punct_ratio``, ``digit_ratio``: share of [.,!?;:] / [0-9] chars;
    - ``stopword_ratio``: share of lower-cased tokens in the English
      stopword list;
    - ``quality``: composite [0,1] heuristic — enough tokens, some
      stopwords, not digit/punct-heavy (0.4 / 0.3 / 0.15 / 0.15 weights);
    - ``lang_guess``: argmax stopword-hit language over the distinct
      lower-cased tokens, 'und' when no hits; ties go to the first
      language of ``_LANG_ORDER``.

    The ratios are unrounded. The exact formulas are the contract
    (oracle-matched), not a claim of linguistic truth. Staged: the
    lower-cased token array, then the ratios and the distinct token set,
    then the five per-language hit counts, then their maximum, then
    quality and the argmax read off those attributes."""
    t = F.col(text)
    keep = [F.col(f"`{c}`") for c in df.columns]
    toks = df.select(*keep, ws_tokens(F.lower(t)).alias("__ltoks"))
    lt = F.col("__ltoks")
    stop = _words(STOPWORDS["en"])
    hits = F.size(F.filter(lt, lambda x: F.array_contains(stop, x)))
    ratios = toks.select(
        *keep,
        ws_token_count(t).alias("ws_tokens"),
        punct_ratio(t).alias("punct_ratio"),
        digit_ratio(t).alias("digit_ratio"),
        F.when(F.size(lt) > 0, hits / F.size(lt))
        .otherwise(F.lit(0.0))
        .alias("stopword_ratio"),
        F.array_distinct(lt).alias("__dtoks"),
    )
    out = [*keep, "ws_tokens", "punct_ratio", "digit_ratio", "stopword_ratio"]
    scores = ratios.select(
        *out,
        *[
            F.size(F.array_intersect(F.col("__dtoks"), _words(words))).alias(
                f"__s_{lang}"
            )
            for lang, words in STOPWORDS.items()
        ],
    )
    s = {lang: F.col(f"__s_{lang}") for lang in _LANG_ORDER}
    ranked = scores.select("*", F.greatest(*s.values()).alias("__best"))
    best = F.col("__best")
    lang = F.lit("und")
    for code in reversed(_LANG_ORDER):
        lang = F.when((s[code] == best) & (best > 0), F.lit(code)).otherwise(lang)
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), F.col("ws_tokens") / F.lit(100.0))
        + F.lit(0.3) * F.col("stopword_ratio")
        + F.lit(0.15) * (F.lit(1.0) - F.col("digit_ratio"))
        + F.lit(0.15) * (F.lit(1.0) - F.col("punct_ratio"))
    )
    return ranked.select(*out, quality.alias("quality"), lang.alias("lang_guess"))


def md5_fingerprint(text: Column) -> Column:
    return F.md5(text)


def token_hash64(tok: Column) -> Column:
    """60-bit integer hash of a token via md5 — identical in Spark and
    DuckDB (unlike murmur/xxhash whose seeds differ across engines)."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def rolling_hash(text: Column) -> Column:
    """Polynomial rolling hash over character codes (Rabin-Karp shape):
    acc = (acc * 31 + ascii(ch)) % (2^31 - 1). aggregate() keeps it
    JVM-side."""
    chars = F.split(text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % 2147483647,
    )


def simhash_frame(
    df: DataFrame, text: str = "text", nbits: int = 60, name: str = "simhash"
) -> DataFrame:
    """``df``'s columns followed by ``name``: the SimHash of ``text`` over
    whitespace tokens with md5-derived 60-bit token hashes — bit b is 1
    iff the sum over tokens of (+1 if token-hash bit b is set else -1) is
    > 0. Pure JVM (aggregate over a per-bit vote).

    Staged: the ``nbits`` per-bit aggregates each read the token-hash
    array, so it is projected once first — inline, the md5 transform
    would re-run per bit."""
    keep = [F.col(f"`{c}`") for c in df.columns]
    staged = df.select(
        *keep, F.transform(ws_tokens(F.col(text)), token_hash64).alias("__th")
    )
    hashes = F.col("__th")

    def _vote(b: int):
        # closure factory: pyspark higher-order lambdas must take exactly
        # (acc, x) — a default-arg third parameter breaks introspection
        def merge(acc, h):
            bit = F.shiftright(h, b).bitwiseAND(F.lit(1))
            return acc + F.when(bit == 1, 1).otherwise(-1)

        return merge

    bit_votes = [
        F.aggregate(hashes, F.lit(0).cast("long"), _vote(b)) for b in range(nbits)
    ]
    out = F.lit(0).cast("long")
    for b, vote in enumerate(bit_votes):
        out = out + F.when(vote > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
    return staged.select(*keep, out.alias(name))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def word_ngrams(toks: Column, n: int) -> Column:
    """Every word n-gram of the token array ``toks`` in order (multiset:
    repeats kept), each the single-space join of ``n`` tokens; ``[]``
    when ``toks`` has fewer than ``n`` tokens. ``toks`` is referenced
    three times (size guard, sequence bound, slice source), so pass the
    staged token attribute, not a split expression."""
    m = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), m - n), lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    # guard m < n: sequence(0, negative) would DESCEND, not be empty
    return F.when(m >= n, grams).otherwise(F.array().cast("array<string>"))


def char_ngrams(text: Column, n: int) -> Column:
    """Every CHARACTER n-gram of ``text`` in order (multiset); ``[]``
    when ``text`` is shorter than ``n`` characters. JVM scan-side:
    transform over a sequence of start offsets with Column.substr."""
    m = F.length(text)
    grams = F.transform(
        F.sequence(F.lit(1), m - n + 1), lambda i: text.substr(i, F.lit(n))
    )
    # guard m < n: sequence(1, non-positive) would DESCEND, not be empty
    return F.when(m >= n, grams).otherwise(F.array().cast("array<string>"))


def gram_frame(df: DataFrame, text: str, keep: list[Column], n: int, unit: str) -> DataFrame:
    """``keep`` followed by ``__grams``: every ``n``-gram of ``text`` in
    order — ``unit='word'`` grams over the single-space tokens (split
    once, in its own projection, and read as an attribute), ``unit='char'``
    grams over characters. The one word/char dispatch of the shingling
    and winnowing families."""
    if unit == "word":
        units, ngrams = ws_tokens(F.col(text)), word_ngrams
    elif unit == "char":
        units, ngrams = F.col(text), char_ngrams
    else:
        raise ValueError(f"shingle_unit must be 'word' or 'char', got {unit!r}")
    staged = df.select(*keep, units.alias("__toks"))
    return staged.select(
        "*", ngrams(F.col("__toks"), n).alias("__grams")
    ).drop("__toks")


def shingle_frame(
    df: DataFrame,
    text: str = "text",
    id_col: str | None = "doc_id",
    n: int = 3,
    unit: str = "word",
) -> DataFrame:
    """(id, sh): the distinct n-gram shingles (set semantics) of each
    row's ``text``; just (sh) when ``id_col`` is None. The one shingling
    every MinHash, n-gram Jaccard and contamination operator routes
    through: ``unit='word'`` (default, web prose: single-space tokens) or
    ``unit='char'`` (short documents and scripts without whitespace word
    boundaries, CJK-ish text, where word 3-grams are too sparse to
    near-dup on), via ``gram_frame``.
    Incremental probes MUST use the same (n, unit) the committed index
    was built with."""
    ids = [F.col(id_col).alias("id")] if id_col else []
    g = gram_frame(df, text, ids, n, unit)
    return g.withColumn("sh", F.array_distinct("__grams")).drop("__grams")


def normalize_text(text: Column) -> Column:
    """Canonical cleaning pass (the per-page normalize step of a corpus
    pipeline): lowercase, strip [.,!?;:] punctuation, collapse whitespace
    runs, trim. Deterministic and cross-engine exact (same regexes in the
    DuckDB twin), so normalized text stays byte-comparable."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[.,!?;:]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def term_frame(
    df: DataFrame, text: str = "text", id_col: str | None = "doc_id", name: str = "term"
) -> DataFrame:
    """(id_col, ``name``): one row per non-empty single-space token of
    ``normalize_text(text)``; just (``name``) when ``id_col`` is None —
    the term stream of vocabulary, TF-IDF and unigram-LM scoring."""
    ids = [F.col(id_col)] if id_col else []
    term = F.explode(ws_tokens(normalize_text(F.col(text)))).alias(name)
    return df.select(*ids, term).where(F.col(name) != "")
