"""PII detection / masking — the redaction pass a webtext training-data
pipeline runs before publishing a corpus (emails, IPv4 addresses, phone
numbers → typed placeholders), plus per-doc counts for curation stats.

Scale shape: pure JVM scan-side regexp projections — zero shuffle, zero
Python; at 10^12 docs this pass rides the same scan as the other text
signals. The patterns deliberately use only the regex subset whose
semantics agree between Java regex (Spark) and RE2 (DuckDB): character
classes, bounded quantifiers, ASCII \\d and \\b — no backreferences, no
lookaround, no alternation whose leftmost-first (Java) vs
leftmost-longest (RE2) resolution could differ — so the masked text is
byte-identical cross-engine and the ``pii_scrub`` query hash-verifies.

Masking order is fixed (email → ipv4 → phone) and mirrored by the
oracle. Note: an address like user@10.1.2.3 does NOT match EMAIL_RE
(the pattern requires an alphabetic TLD), so the embedded IP masks
instead and the result is user@<IP> — test_pii.py pins exactly this.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
# international-format numbers; domestic formats vary too much for an
# engine-portable pattern, normalize upstream
PHONE_RE = r"\+\d{7,15}"

_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", EMAIL_RE, "<EMAIL>"),
    ("ipv4", IPV4_RE, "<IP>"),
    ("phone", PHONE_RE, "<PHONE>"),
)


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-pattern match counts for one text column."""
    return {name: F.regexp_count(text, F.lit(pat)) for name, pat, _ in _PATTERNS}


def pii_total(text: Column) -> Column:
    """Matches of every pattern in one text column (email + ipv4 +
    phone): the per-doc PII count the curation ledger and its
    residual check read."""
    c = pii_counts(text)
    return c["email"] + c["ipv4"] + c["phone"]


def pii_signals(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per doc: (id, n_email, n_ipv4, n_phone, has_pii) — the
    curation-ledger side of the scrub (what fraction of the corpus
    carries PII, which docs to audit)."""
    c = pii_counts(F.col(text))
    return docs.select(
        F.col(id_col),
        *[cnt.alias(f"n_{name}") for name, cnt in c.items()],
        (pii_total(F.col(text)) > 0).alias("has_pii"),
    )


def scrub_text(text: Column) -> Column:
    """Masked text column: every pattern replaced by its placeholder, in
    the fixed email → ipv4 → phone order."""
    out = text
    for _, pat, rep in _PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def scrub_pii(docs: DataFrame, text: str = "text") -> DataFrame:
    """The corpus with ``text`` masked in place — schema otherwise
    unchanged, so the scrub drops into any point of a pipeline."""
    return docs.withColumn(text, scrub_text(F.col(text)))
