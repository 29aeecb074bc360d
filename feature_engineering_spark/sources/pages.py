"""Deterministic synthetic Common-Crawl-style pages + labels tables.

Schema per BASELINE.json ``input_hint``:
    pages(url string, warc_ts timestamp, html binary, text string, lang string)
    labels(url string, label_ts timestamp, iri double, defect_counts array<double>)

Everything is a pure function of (seed, n_rows): one ``numpy`` Generator
seeded once, all draws vectorized, no wall clock, no unordered iteration.
The url distribution is skewed — two hot domains own ~60% of rows — so the
salted-key skew path is exercised by construction (FIXTURES.md F1).

The per-url ``warc_ts`` sequence is strictly increasing with inter-arrival
gaps mostly in [30s, 10min] and ~5% gaps > 30min, giving known session
boundaries for the sessionizer (reference analog: trip/pass segmentation,
/root/reference/utils/data_loaders.py:166-176).

This module is test/bench fixture infrastructure. At production scale the
input is an existing Iceberg table; the engine never generates data.

Module-level imports are os, numpy and pandas only: ``plan_mapper``'s
function is unpickled inside mapInPandas workers, which must not import
pyspark (see functions/window_kernel.py).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

_EPOCH0 = np.datetime64("2024-01-01T00:00:00", "us")

_VOCAB = np.array(
    [
        "the", "web", "page", "crawl", "data", "spark", "feature", "window",
        "join", "session", "table", "index", "query", "stream", "batch",
        "vector", "text", "token", "hash", "shuffle", "partition", "key",
        "value", "row", "column", "scan", "filter", "group", "sort", "merge",
    ]
)

_LANGS = np.array(["en", "de", "da", "fr"])


def _make_urls(rng: np.random.Generator, n_urls: int) -> tuple[np.ndarray, np.ndarray]:
    """Return (urls, weights). Two hot domains own ~60% of row mass."""
    n_domains = 12
    domains = np.array([f"site{d:02d}.example.com" for d in range(n_domains)])
    dom_of_url = rng.integers(0, n_domains, size=n_urls)
    # Force the first two urls onto the two hot domains so they always exist.
    dom_of_url[0], dom_of_url[1] = 0, 1
    urls = np.array(
        [f"https://{domains[dom_of_url[i]]}/p/{i:05d}" for i in range(n_urls)]
    )
    w = rng.uniform(0.5, 1.5, size=n_urls)
    hot = (dom_of_url == 0) | (dom_of_url == 1)
    # Rescale so hot-domain urls carry 60% of total mass.
    w_hot, w_cold = w[hot].sum(), w[~hot].sum()
    w = np.where(hot, w * (0.6 / w_hot), w * (0.4 / w_cold))
    return urls, w / w.sum()


def generate_pages(n_rows: int, seed: int = 42, n_urls: int | None = None) -> pd.DataFrame:
    """Pages table as a pandas DataFrame, sorted by (url, warc_ts)."""
    rng = np.random.default_rng(seed)
    if n_urls is None:
        n_urls = max(50, n_rows // 200)
    urls, weights = _make_urls(rng, n_urls)

    url_idx = rng.choice(n_urls, size=n_rows, p=weights)
    url_idx.sort(kind="stable")  # url-major layout for segmented cumsum

    # Inter-arrival gaps per url: mostly 30s..10min, ~5% > 30min (sessions).
    gaps = rng.uniform(30.0, 600.0, size=n_rows)
    big = rng.random(n_rows) < 0.05
    gaps[big] = rng.uniform(1900.0, 7200.0, size=int(big.sum()))
    # Segmented cumulative sum: global cumsum minus the offset at each
    # url's first row, plus a per-url start offset.
    starts = np.flatnonzero(np.r_[True, url_idx[1:] != url_idx[:-1]])
    csum = np.cumsum(gaps)
    seg_base = np.repeat(csum[starts] - gaps[starts], np.diff(np.r_[starts, n_rows]))
    url_t0 = rng.uniform(0, 86400.0 * 30, size=n_urls)  # spread over 30 days
    rel = csum - seg_base + url_t0[url_idx]
    warc_ts = _EPOCH0 + (rel * 1e6).astype("int64").astype("timedelta64[us]")

    # Text: variable-length token sequences (5..120 tokens), seed-derived.
    n_tok = rng.integers(5, 121, size=n_rows)
    all_tok = rng.integers(0, len(_VOCAB), size=int(n_tok.sum()))
    bounds = np.r_[0, np.cumsum(n_tok)]
    words = _VOCAB[all_tok]
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n_rows)]
    htmls = [f"<html><body>{t}</body></html>".encode() for t in texts]

    lang_of_url = _LANGS[rng.integers(0, len(_LANGS), size=n_urls)]
    return pd.DataFrame(
        {
            "url": urls[url_idx],
            "warc_ts": pd.Series(warc_ts),
            "html": htmls,
            "text": texts,
            "lang": lang_of_url[url_idx],
        }
    )


def generate_labels(n_rows: int, seed: int = 42, n_urls: int | None = None) -> pd.DataFrame:
    """Label stream (as-of right side). ~70% of urls get labels; label
    timestamps are sparse/irregular, some before/after all page rows so the
    no-match and backfill paths are exercised (FIXTURES.md F2)."""
    rng = np.random.default_rng(seed + 1)
    if n_urls is None:
        n_urls = max(50, n_rows // 200)
    # Same url universe as pages — regenerate with the pages rng stream.
    urls, _ = _make_urls(np.random.default_rng(seed), n_urls)
    labeled = rng.random(n_urls) < 0.7
    lab_urls = urls[labeled]
    n_lab = max(1, n_rows // 10)
    which = rng.integers(0, len(lab_urls), size=n_lab)
    rel = np.sort(rng.uniform(-3600.0, 86400.0 * 31, size=n_lab))
    ts = _EPOCH0 + (rel * 1e6).astype("int64").astype("timedelta64[us]")
    iri = rng.uniform(0.5, 5.0, size=n_lab)
    counts = rng.poisson(0.4, size=(n_lab, 15)).astype("float64")
    return pd.DataFrame(
        {
            "url": lab_urls[which],
            "label_ts": pd.Series(ts),
            "iri": iri,
            "defect_counts": list(counts),
        }
    ).sort_values(["url", "label_ts"], kind="stable").reset_index(drop=True)


def _write_parquet(pdf: pd.DataFrame, path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    # Small row groups: Spark parallelizes a parquet FILE by row group —
    # one giant row group would serialize the whole scan onto one task.
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), path,
        row_group_size=32768,
    )
    return path


def stage_input(root: str, table: str, n_rows: int) -> str:
    """Path of ``<root>/_input/<table>.parquet`` (``table`` is "pages" or
    "labels"), written from the generator (``n_rows``, seed 42) only when
    no file is there yet: a re-run, or a harness that placed its own
    pre-written inputs there, reads the existing file as it is."""
    path = os.path.join(root, "_input", f"{table}.parquet")
    if not os.path.exists(path):
        generate = {"pages": generate_pages, "labels": generate_labels}[table]
        _write_parquet(generate(n_rows, seed=42), path)
    return path


def url_plan(n_rows: int, seed: int = 42, n_urls: int | None = None) -> pd.DataFrame:
    """Driver-side plan for the distributed generator: one row per url with
    its deterministic row count (multinomial over the skewed weights),
    start offset and lang. Tiny (n_urls rows)."""
    rng = np.random.default_rng(seed)
    if n_urls is None:
        n_urls = max(50, n_rows // 200)
    urls, weights = _make_urls(rng, n_urls)
    counts = rng.multinomial(n_rows, weights)
    t0 = rng.uniform(0, 86400.0 * 30, size=n_urls)
    langs = _LANGS[rng.integers(0, len(_LANGS), size=n_urls)]
    return pd.DataFrame(
        {
            "url": urls,
            "url_id": np.arange(n_urls, dtype="int64"),
            "lang": langs,
            "n_rows_url": counts.astype("int64"),
            "t0": t0,
        }
    )


def build_url_rows(
    url: str, url_id: int, lang: str, n: int, t0: float, seed: int
) -> pd.DataFrame:
    """One url's page rows for the distributed generator, drawn from
    ``default_rng([seed, url_id])``: a pure function of the plan row,
    independent of which Spark partition builds it."""
    rng = np.random.default_rng([seed, url_id])
    gaps = rng.uniform(30.0, 600.0, size=n)
    big = rng.random(n) < 0.05
    gaps[big] = rng.uniform(1900.0, 7200.0, size=int(big.sum()))
    rel = np.cumsum(gaps) + t0
    warc_ts = _EPOCH0 + (rel * 1e6).astype("int64").astype("timedelta64[us]")
    n_tok = rng.integers(5, 121, size=n)
    all_tok = rng.integers(0, len(_VOCAB), size=int(n_tok.sum()))
    bounds = np.r_[0, np.cumsum(n_tok)]
    words = _VOCAB[all_tok]
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    htmls = [f"<html><body>{t}</body></html>".encode() for t in texts]
    return pd.DataFrame(
        {
            "url": url,
            "warc_ts": pd.Series(warc_ts),
            "html": htmls,
            "text": texts,
            "lang": lang,
        }
    )


def plan_mapper(seed: int):
    """mapInPandas fn: plan rows (url, url_id, lang, n_rows_url, t0) →
    page rows."""

    def fn(batches):
        for b in batches:
            for row in b.itertuples(index=False):
                yield build_url_rows(
                    row.url, int(row.url_id), row.lang,
                    int(row.n_rows_url), float(row.t0), seed,
                )

    return fn


def pages_distributed(spark, n_rows: int, seed: int = 42, n_urls: int | None = None):
    """Pages table built in parallel on the cluster: the tiny url plan is
    parallelized and each worker synthesizes its urls' rows from
    rng([seed, url_id]) — deterministic regardless of partitioning. Same
    SCHEMA and distribution shape as generate_pages (not row-identical:
    different rng stream consumption). Use for bench-scale inputs."""
    plan = url_plan(n_rows, seed, n_urls)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    plan_df = spark.createDataFrame(plan).repartition(n_parts)
    schema = (
        "url string, warc_ts timestamp_ntz, html binary, text string, lang string"
    )
    return plan_df.mapInPandas(plan_mapper(seed), schema=schema)
