"""Within-document repetition signals — the Gopher/RefinedWeb-style
quality heuristics a webtext pipeline filters on before training:
heavily repetitive documents (boilerplate, keyword stuffing, scraper
loops) are low-value and skew n-gram statistics.

Per document (Gopher uses n = 2..4 for both families; ``ns`` selects):
- ``n_words``          total whitespace tokens;
- ``dup_word_frac``    fraction of word OCCURRENCES that are repeats
                       (1 - distinct/total — 0 for all-unique text);
- ``top_{n}gram``      the most frequent word n-gram (ties: smallest
                       gram — deterministic), and its
                       ``top_{n}gram_count``;
- ``top_{n}gram_char_frac`` non-space characters covered by occurrences
                       of that n-gram / non-space characters of the doc —
                       Gopher's "fraction of characters in the most
                       common n-gram";
- ``dup_{n}gram_frac`` fraction of n-gram occurrences whose gram occurs
                       more than once.

Scale shape: the words chain plus ONE shared gram chain for ALL n —
per-doc n-gram occurrences for every n are tagged (n, gram) structs in a
single scan-side flatten, exploded once, and partial-aggregate map-side
before the one (doc, n, gram) shuffle; the per-(doc, n) rows then pivot
to wide columns in a final map-side-combined groupBy(doc). Adding n=3,4
therefore adds ZERO extra shuffles over the round-4 2-gram operator —
only wider (still distinct-bounded) shuffle rows. All expressions are
cross-engine exact (single-space split, replace-based char counts,
integer-quantized fractions) and mirrored by the DuckDB oracle of the
``repetition_signals`` query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_engineering_spark.functions.text import lines, word_ngrams, ws_tokens


def repetition_signals(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3, 4),
) -> DataFrame:
    t = F.col(text)
    toks = ws_tokens(t)

    # one scan-side flatten of (n, gram) structs for every n (word_ngrams:
    # ALL occurrences, multiset — counts matter here) — the gram
    # chain is shared across all n (one explode, one shuffle). NB: the
    # tag lambda must be UNARY — pyspark gives a 2-arg transform lambda
    # (element, index), which would silently shadow an `n=n` default.
    def _tag(n: int):
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

    # stage the split FIRST (r6): the tagged gram chain references the
    # token array 2x per n (size bound + slice source) — interpreted HOFs
    # recompute per reference, so building grams from the raw split expr
    # re-split the text ~7x per row; from the staged attribute each
    # reference is a cheap array read
    staged = docs.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.length(F.expr(f"replace({text}, ' ', '')")).alias("__nschars"),
    )
    ta = F.col("__toks")
    tagged = F.flatten(
        F.array(*[F.transform(word_ngrams(ta, n), _tag(n)) for n in ns])
    )
    base = staged.select(
        F.col(id_col), ta, tagged.alias("__grams"), F.col("__nschars")
    )

    words = (
        base.select(id_col, F.explode("__toks").alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("__dupw"),
        )
    )

    per_n = (
        base.select(id_col, F.explode("__grams").alias("t"))
        .groupBy(id_col, F.col("t.n").alias("n"), F.col("t.g").alias("g"))
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col, "n")
        .agg(
            F.sum("c").alias("__ng"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("__dupg"),
            # (count DESC, gram ASC) argmax in ONE aggregate: min of
            # (-count, gram) structs — no second pass, no window
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("g").alias("g"))).alias(
                "__top"
            ),
        )
    )
    # pivot the (doc, n) rows to wide columns: exactly one source row per
    # (doc, n), so min(when(n == k, ...)) just relocates it
    grams = per_n.groupBy(id_col).agg(
        *[
            a
            for n in ns
            for a in (
                F.min(F.when(F.col("n") == n, F.col("__ng"))).alias(f"__ng{n}"),
                F.min(F.when(F.col("n") == n, F.col("__dupg"))).alias(f"__dupg{n}"),
                F.min(F.when(F.col("n") == n, F.col("__top"))).alias(f"__top{n}"),
            )
        ]
    )

    chars = base.select(id_col, "__nschars")
    # Fractions are quantized to millionths via INTEGER arithmetic
    # (a * 1e6 div b) and only then divided by 1e6: ratios of small
    # integers land exactly on .xxxxxx5 boundaries where Spark's
    # BigDecimal ROUND and DuckDB's multiply-first ROUND can disagree
    # (CLAUDE.md, window_features precedent) — integer div is
    # bit-identical in both engines and int/1e6 is one deterministic
    # IEEE division, so the doubles match exactly.
    per_n_cols = []
    for n in ns:
        per_n_cols += [
            F.col(f"__top{n}.g").alias(f"top_{n}gram"),
            (-F.col(f"__top{n}.nc")).cast("long").alias(f"top_{n}gram_count"),
            (
                F.coalesce(
                    F.when(
                        F.col("__nschars") > 0,
                        F.expr(
                            f"((-__top{n}.nc) * length(replace(__top{n}.g, ' ', ''))"
                            f" * 1000000) div __nschars"
                        ),
                    ),
                    F.lit(0).cast("long"),
                )
                / F.lit(1e6)
            ).alias(f"top_{n}gram_char_frac"),
            (
                F.coalesce(
                    F.expr(f"(__dupg{n} * 1000000) div __ng{n}"),
                    F.lit(0).cast("long"),
                )
                / F.lit(1e6)
            ).alias(f"dup_{n}gram_frac"),
        ]
    out = (
        words.join(grams, id_col, "left")
        .join(chars, id_col)
        .select(
            id_col,
            "n_words",
            (F.expr("(__dupw * 1000000) div n_words") / F.lit(1e6)).alias(
                "dup_word_frac"
            ),
            *per_n_cols,
        )
    )
    return out


def filter_repetitive(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    max_dup_word_frac: float = 0.6,
    max_top_char_frac: dict[int, float] | None = None,
    max_dup_frac: dict[int, float] | None = None,
) -> DataFrame:
    """Corpus minus documents over the repetition thresholds (Gopher-style
    quality gate), with per-n thresholds:

    - ``max_top_char_frac``: {n: ceiling} on ``top_{n}gram_char_frac``
      (Gopher: {2: 0.20, 3: 0.18, 4: 0.16});
    - ``max_dup_frac``: {n: ceiling} on ``dup_{n}gram_frac`` (optional).

    BEHAVIOR CHANGE (round 5): the no-args default is Gopher's full
    {2: 0.20, 3: 0.18, 4: 0.16} gate, not the round-4 single 2-gram
    threshold — default-calling pipelines drop strictly MORE documents
    than they did in round 4. Downstream corpus counts shifting across
    that upgrade is this intentional default change, not a regression;
    pass ``max_top_char_frac={2: 0.20}`` to reproduce the old gate.

    The signals frame is one row per doc; the anti-join side carries only
    the ids of rejected docs."""
    if max_top_char_frac is None:
        max_top_char_frac = {2: 0.20, 3: 0.18, 4: 0.16}
    ns = tuple(sorted(set(max_top_char_frac) | set(max_dup_frac or {})))
    sig = repetition_signals(docs, text, id_col, ns=ns)
    cond = F.col("dup_word_frac") > max_dup_word_frac
    for n, thr in max_top_char_frac.items():
        cond = cond | (F.col(f"top_{n}gram_char_frac") > thr)
    for n, thr in (max_dup_frac or {}).items():
        cond = cond | (F.col(f"dup_{n}gram_frac") > thr)
    bad = sig.where(cond).select(id_col)
    return docs.join(bad, id_col, "left_anti")


def line_repetition_signals(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Gopher's duplicate-LINE family (``sep='\\n'``; pass ``'\\n\\n'``
    for the duplicate-paragraph variant) — the structural complement of
    the word/n-gram signals above: scraper templates and boilerplate
    repeat whole lines that n-gram statistics dilute.

    Per document (docs with zero non-empty lines are omitted):
    - ``n_lines``             non-empty line occurrences;
    - ``dup_line_frac``       fraction of line OCCURRENCES whose exact
                              line appears more than once (Gopher's
                              "duplicate line fraction", gate 0.30);
    - ``dup_line_char_frac``  non-space characters inside repeated-line
                              occurrences / non-space characters across
                              all lines (Gopher's "duplicate line
                              character fraction", gate 0.20).

    Scale shape: split is scan-side, the explode inflates rows map-side
    only, ONE map-side-combined (doc, line) shuffle bounded by distinct
    lines, then a map-side-combined groupBy(doc). Fractions are
    integer-quantized to millionths (cross-engine exact — the
    ``line_repetition`` query hash-verifies vs DuckDB)."""
    occ = docs.select(
        F.col(id_col), F.explode(lines(F.col(text), sep)).alias("line")
    ).where(F.length("line") > 0)
    cnt = (
        occ.groupBy(id_col, "line")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            id_col,
            "c",
            F.length(F.expr("replace(line, ' ', '')")).alias("nsc"),
        )
    )
    agg = cnt.groupBy(id_col).agg(
        F.sum("c").alias("n_lines"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("__dup"),
        F.sum(F.col("c") * F.col("nsc")).alias("__chars"),
        F.sum(
            F.when(F.col("c") > 1, F.col("c") * F.col("nsc")).otherwise(0)
        ).alias("__dupchars"),
    )
    return agg.select(
        id_col,
        "n_lines",
        # millionth-quantized integer division, then ONE IEEE division —
        # never ROUND(p/q, 6), whose half-way cases diverge cross-engine
        (F.expr("(__dup * 1000000) div n_lines") / F.lit(1e6)).alias(
            "dup_line_frac"
        ),
        (
            F.coalesce(
                F.when(
                    F.col("__chars") > 0,
                    F.expr("(__dupchars * 1000000) div __chars"),
                ),
                F.lit(0).cast("long"),
            )
            / F.lit(1e6)
        ).alias("dup_line_char_frac"),
    )


def filter_repetitive_lines(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
) -> DataFrame:
    """Corpus minus documents over the duplicate-line thresholds
    (Gopher gates: dup-line fraction 0.30, dup-line char fraction 0.20).
    Anti-join side carries only rejected ids."""
    sig = line_repetition_signals(docs, text, id_col, sep=sep)
    bad = sig.where(
        (F.col("dup_line_frac") > max_dup_line_frac)
        | (F.col("dup_line_char_frac") > max_dup_line_char_frac)
    ).select(id_col)
    return docs.join(bad, id_col, "left_anti")
