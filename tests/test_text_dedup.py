"""Text functions + dedup operators: hand-pinned semantics and the
LSH recall/precision properties."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feature_engineering_spark.functions.text import (
    bpe_ish_token_count,
    hamming64,
    rolling_hash,
    shingle_frame,
    simhash_frame,
    text_scores,
    word_ngrams,
    ws_token_count,
    ws_tokens,
)
from feature_engineering_spark.operators.dedup import (
    dedup_exact,
    embedding_neardup_lsh,
    embedding_neardup_pairs,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """10 base docs, each with a near-dup (one word changed) and one exact
    dup; plus unrelated docs."""
    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    did = 0
    for b in range(10):
        words = list(rng.choice(vocab, 30))
        base = " ".join(words)
        mutated = " ".join(words[:-1] + ["zzz"])
        rows += [(did, base), (did + 1, mutated), (did + 2, base)]
        did += 3
    for _ in range(10):
        rows.append((did, " ".join(rng.choice(vocab, 30))))
        did += 1
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_lang_id_hand_rows(spark):
    rows = [
        ("the cat and the dog of it is that", "en"),
        ("der hund und die katze ist nicht ein", "de"),
        ("el perro y la casa de los que", "es"),
        ("le chien et la maison de les dans", "fr"),
        ("xyzzy qwerty plugh", "und"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "text string")
    got = [r[0] for r in text_scores(df).select("lang_guess").collect()]
    assert got == [lang for _, lang in rows]


def test_quality_and_tokens_hand(spark):
    df = spark.createDataFrame([("the cat sat",)], "text string")
    r = text_scores(df).select(
        ws_token_count(F.col("text")).alias("n"),
        F.round("quality", 6).alias("q"),
    ).collect()[0]
    assert r["n"] == 3
    # 0.4*min(1, 3/100) + 0.3*(1/3) + 0.15*1 + 0.15*1 = 0.012 + 0.1 + 0.3
    assert np.isclose(r["q"], 0.412)


def test_rolling_hash_matches_python(spark):
    texts = ["hello", "a b c", ""]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r[0] for r in df.select(rolling_hash(F.col("text"))).collect()]

    def py_roll(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % 2147483647
        return acc

    assert got == [py_roll(t) for t in texts]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    got = [r[0] for r in shingle_frame(df, "text", None, 3).collect()]
    assert sorted(got[0]) == ["a b c", "b c d"]
    assert got[1] == []

    # word_ngrams keeps every occurrence in order; shingles are distinct
    df = spark.createDataFrame([("a b a b",), ("a b",), ("a",)], "text string")
    toks = df.select(ws_tokens(F.col("text")).alias("t"))
    grams = [r[0] for r in toks.select(word_ngrams(F.col("t"), 2)).collect()]
    assert grams == [["a b", "b a", "a b"], ["a b"], []]
    got = [r[0] for r in shingle_frame(df, "text", None, 2).collect()]
    assert [sorted(g) for g in got] == [["a b", "b a"], ["a b"], []]


def test_bpe_ish_token_count_reads_its_argument(spark):
    """The count is of the column passed in, not of a column named
    ``text``: letter runs, single digits and single punctuation marks."""
    body = spark.createDataFrame([("hi there",)], "body string")
    assert body.select(bpe_ish_token_count(F.col("body"))).collect()[0][0] == 2
    both = spark.createDataFrame([("hi!", "ab 12 c.")], "body string, text string")
    r = both.select(
        bpe_ish_token_count(F.col("body")).alias("b"),
        bpe_ish_token_count(F.col("text")).alias("t"),
    ).collect()[0]
    assert (r["b"], r["t"]) == (2, 5)


def test_simhash_similarity_structure(spark, near_dup_docs):
    """Near-identical docs have small simhash Hamming distance; unrelated
    docs (disjoint-ish vocab draws) have larger."""
    s = simhash_frame(near_dup_docs, "text", 60, "sh").select(
        "doc_id", "sh"
    ).toPandas().set_index("doc_id")["sh"]
    ham = lambda a, b: bin(int(s[a]) ^ int(s[b])).count("1")  # noqa: E731
    near = [ham(3 * b, 3 * b + 1) for b in range(10)]   # one-word edits
    exact = [ham(3 * b, 3 * b + 2) for b in range(10)]  # exact dups
    assert all(h == 0 for h in exact)
    assert np.mean(near) < 8


def test_dedup_exact(spark, near_dup_docs):
    out = dedup_exact(near_dup_docs).toPandas()
    dups = out[out["n_copies"] > 1]
    assert len(dups) == 10  # each base text appears twice (doc_id, doc_id+2)
    assert (dups["n_copies"] == 2).all()
    assert (dups["keep_id"] % 3 == 0).all()  # keeper is the smaller id


def test_ngram_jaccard_finds_near_dups(spark, near_dup_docs):
    out = ngram_jaccard_pairs(near_dup_docs, threshold=0.5).toPandas()
    pairs = set(map(tuple, out[["a", "b"]].to_numpy()))
    for b in range(10):
        assert (3 * b, 3 * b + 2) in pairs  # exact dups: jaccard 1.0
        assert (3 * b, 3 * b + 1) in pairs  # one-word edit: high jaccard


def test_minhash_lsh_recall_and_precision(spark, near_dup_docs):
    """Every reported pair really has jaccard >= threshold (verify step),
    and high-similarity pairs (>=0.85) are recalled (s-curve: P(miss) at
    j=0.85 with 8 bands x 4 rows is ~(1-0.85^4)^8 ~ 0.8%/pair)."""
    got = minhash_lsh_dedup(near_dup_docs, threshold=0.5).toPandas()
    brute = ngram_jaccard_pairs(near_dup_docs, threshold=0.0).toPandas()
    bmap = {(r.a, r.b): r.jaccard for r in brute.itertuples()}
    for r in got.itertuples():
        assert bmap.get((r.a, r.b), 0.0) >= 0.5  # no false positives
    high = {(r.a, r.b) for r in brute.itertuples() if r.jaccard >= 0.85}
    found = set(map(tuple, got[["a", "b"]].to_numpy()))
    recall = len(high & found) / max(1, len(high))
    assert recall >= 0.9, (recall, len(high))


def test_simhash_neardup_pairs(spark, near_dup_docs):
    out = simhash_neardup_pairs(
        near_dup_docs, max_hamming=8, prefix_bits=4, nbits=60
    ).toPandas()
    pairs = set(map(tuple, out[["a", "b"]].to_numpy()))
    # exact dups always collide (hamming 0, same bucket)
    hits = sum((3 * b, 3 * b + 2) in pairs for b in range(10))
    assert hits == 10


def test_embedding_neardup(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = embedding_neardup_pairs(df, threshold=0.95).toPandas()
    assert set(map(tuple, out[["a", "b"]].to_numpy())) == {(0, 1)}


def test_minhash_bucket_guard_caps_mega_cluster(spark):
    """A 1k-identical-doc boilerplate cluster must NOT go quadratic: its
    buckets exceed max_bucket_size and are dropped (identical clusters are
    the exact-dedup pass's job), while genuine near-dup pairs outside the
    cluster are still found. Candidate count stays O(cluster), not
    O(cluster^2)."""
    rng = np.random.default_rng(9)
    vocab = [f"w{i}" for i in range(50)]
    boiler = " ".join(rng.choice(vocab, 30))
    rows = [(i, boiler) for i in range(1000)]
    expected_pairs = set()
    did = 2000
    for _ in range(3):
        words = list(rng.choice(vocab, 30))
        rows += [(did, " ".join(words)), (did + 1, " ".join(words[:-1] + ["qqq"]))]
        expected_pairs.add((did, did + 1))
        did += 2
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = minhash_lsh_dedup(df, threshold=0.5, max_bucket_size=64).toPandas()
    got_pairs = set(map(tuple, got[["a", "b"]].to_numpy()))
    assert not any(a < 1000 and b < 1000 for a, b in got_pairs), (
        "mega-cluster pairs leaked through the bucket guard"
    )
    assert got_pairs == expected_pairs
    # ungated control on a small slice: identical docs DO pair when under cap
    small = spark.createDataFrame(
        pd.DataFrame([(0, boiler), (1, boiler)], columns=["doc_id", "text"])
    )
    ungated = minhash_lsh_dedup(small, threshold=0.5).toPandas()
    assert set(map(tuple, ungated[["a", "b"]].to_numpy())) == {(0, 1)}


def test_srp_banded_matches_sequential_fold(spark):
    """srp_banded's bucket of each band equals a numpy left-to-right fold
    over srp_hyperplanes: bit j = [cumsum(v * h_j)[-1] > 0], bucket = sum
    of the band's bits times 2**r. A zero vector has no positive dot
    product, so it lands in bucket 0 of every band."""
    from feature_engineering_spark.operators.dedup import srp_banded, srp_hyperplanes

    dim, nbits, bands = 64, 16, 4
    rng = np.random.default_rng(3)
    M = rng.normal(size=(40, dim))
    M[0] = 0.0
    df = spark.createDataFrame(
        [(i, M[i].tolist()) for i in range(len(M))],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.id, r.band): r.bucket
        for r in srp_banded(df, dim, nbits=nbits, bands=bands).collect()
    }
    H = np.asarray(srp_hyperplanes(dim, nbits, 7))
    # cumsum accumulates in order (np.sum would sum pairwise)
    bits = np.cumsum(M[:, None, :] * H[None, :, :], axis=2)[:, :, -1] > 0
    rpb = nbits // bands
    exp = {
        (i, b): sum(int(bits[i, b * rpb + r]) << r for r in range(rpb))
        for i in range(len(M))
        for b in range(bands)
    }
    assert got == exp
    assert [got[(0, b)] for b in range(bands)] == [0] * bands
    assert len(set(got.values())) > 4  # the fixture spreads over buckets


def _srp_signature_sql(df, dim, emb, id_col, nbits, bands, seed):
    """The SRP signature as one JVM ``selectExpr``: each bit a ``CASE WHEN``
    over the ``_dot_sql`` fold against a hyperplane literal. The Arrow
    signer must reproduce it bit for bit."""
    from feature_engineering_spark.operators.dedup import srp_hyperplanes
    from feature_engineering_spark.operators.similarity import _dot_sql, _vector_sql

    rows_per_band = nbits // bands
    v = f"CAST({emb} AS ARRAY<DOUBLE>)"
    bits = [
        f"CASE WHEN {_dot_sql(v, _vector_sql(h))} > 0 THEN 1 ELSE 0 END"
        for h in srp_hyperplanes(dim, nbits, seed)
    ]
    buckets = []
    for b in range(bands):
        expr = "0"
        for r in range(rows_per_band):
            expr = f"({expr} + ({bits[b * rows_per_band + r]}) * {2**r})"
        buckets.append(f"{expr} AS bucket{b}")
    return df.selectExpr(
        f"{id_col} AS id",
        f"CASE WHEN exists({v}, x -> x IS NULL) THEN NULL ELSE {v} END AS v",
        *buckets,
    )


def _signature_bits(df) -> list:
    """Sorted rows with every double as its bit pattern (NaN included)."""
    import struct

    def bits(x):
        return x if x is None else struct.pack(f"<{len(x)}d", *x)

    return sorted(
        (tuple(bits(x) if isinstance(x, list) else x for x in r) for r in df.collect()),
        key=repr,
    )


@pytest.mark.parametrize("elem, batch_rows", [
    ("double", 10000), ("double", 3), ("float", 7),
])
def test_srp_arrow_signer_matches_sql_signature(spark, elem, batch_rows):
    """The Arrow signer gives the SQL signature's schema and bits: random
    vectors; a NaN component (every bit set: Spark orders NaN above
    every double); a NULL component, a NULL vector and lengths 0, 3 and
    65 (a NULL fold: every bit clear); +-0.0, +-inf and 1e-200
    components; array<float> input; several Arrow batches per task."""
    from feature_engineering_spark.operators.dedup import (
        _srp_signature,
        _stack_bands,
        srp_banded,
    )

    dim, nbits, bands = 64, 16, 4
    rng = np.random.default_rng(31)
    M = rng.normal(size=(30, dim))
    rows = [(i, M[i].tolist()) for i in range(len(M))]
    nan_row, null_row = M[0].tolist(), M[1].tolist()
    nan_row[7], null_row[9] = float("nan"), None
    edge = [
        nan_row, null_row, None, [], [1.0, 2.0, 3.0], M[2].tolist() + [1.0],
        [0.0] * dim, [-0.0] * dim, [1e-200] * dim, [-1e-200] * dim,
        [float("inf")] + [0.0] * (dim - 1), [float("-inf")] + [1.0] * (dim - 1),
        [float("inf"), float("-inf")] + [0.0] * (dim - 2),
    ]
    rows += [(100 + i, v) for i, v in enumerate(edge)] + [(None, M[3].tolist())]
    df = spark.createDataFrame(rows, f"vec_id long, embedding array<{elem}>")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_rows))
    try:
        args = (df, dim, "embedding", "vec_id", nbits, bands, 7)
        got, exp = _srp_signature(*args), _srp_signature_sql(*args)
        assert got.schema == exp.schema
        got_rows = _signature_bits(got)
        assert got_rows == _signature_bits(exp)
        banded = srp_banded(df, dim, nbits=nbits, bands=bands)
        assert banded.schema == _stack_bands(exp, bands).schema
        assert _signature_bits(banded) == _signature_bits(_stack_bands(exp, bands))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    buckets = {r[0]: r[2:] for r in got_rows}
    assert buckets[100] == (15,) * bands
    for i in (101, 102, 103, 104, 105):
        assert buckets[i] == (0,) * bands, i
    assert len(set(buckets.values())) > 10  # the fixture spreads over buckets


def test_srp_signer_on_sliced_and_empty_batches():
    """The signer reads a sliced ListArray through its offsets (which do
    not start at 0), passes the input columns through unchanged, and maps
    an empty batch to an empty batch with the bucket columns."""
    import pyarrow as pa

    from feature_engineering_spark.functions.cosine_kernel import srp_signer

    rng = np.random.default_rng(5)
    dim, nbits, bands = 5, 6, 2
    H = rng.normal(size=(nbits, dim))
    vecs = [rng.normal(size=dim).tolist() for _ in range(8)]
    vecs[3], vecs[5] = None, [1.0, None, 2.0, 3.0, 4.0]
    vecs[6] = [float("nan")] + vecs[6][1:]
    vecs.insert(2, [1.0, 2.0])
    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(len(vecs)), pa.int64()),
         pa.array(vecs, pa.list_(pa.float64()))],
        names=["id", "v"],
    )

    def ref(v):
        if v is None or len(v) != dim or None in v:
            return (0,) * bands
        bits = []
        for h in H:
            acc = 0.0
            for x, y in zip(v, h):
                acc += x * y
            bits.append(acc > 0 or acc != acc)
        r = nbits // bands
        return tuple(sum(bits[b * r + k] << k for k in range(r)) for b in range(bands))

    sign = srp_signer(H.tolist(), bands)
    sliced = batch.slice(3, 5)
    assert sliced.column("v").offsets[0].as_py() > 0
    (out,) = sign(iter([sliced]))
    assert out.schema.names == ["id", "v", "bucket0", "bucket1"]
    for name in ("id", "v"):  # the same buffers at the same offset: no copy
        a, b = out.column(name), sliced.column(name)
        assert a.offset == b.offset
        assert [x and x.address for x in a.buffers()] == [
            x and x.address for x in b.buffers()]
    assert out.schema.field("bucket0").type == pa.int32()
    got = list(zip(*(out.column(f"bucket{b}").to_pylist() for b in range(bands))))
    assert got == [ref(v) for v in vecs[3:8]]
    assert got[1] == got[3] == (0, 0)  # a NULL vector, a NULL component
    assert got[4] == (2**(nbits // bands) - 1,) * bands  # the NaN row
    (empty,) = sign(iter([batch.slice(0, 0)]))
    assert empty.num_rows == 0
    assert empty.schema.names == ["id", "v", "bucket0", "bucket1"]


def test_embedding_lsh_recall_vs_allpairs(spark):
    """SRP-LSH pairs vs the all-pairs exactness baseline: the verify step
    admits no false positives, and recall >= 0.9 on a near-dup fixture."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=(40, 16))
    rows = [(i, base[i].tolist()) for i in range(40)]
    for i in range(12):  # perturbed copies -> cosine ~0.999 near-dups
        v = base[i] + rng.normal(scale=0.05, size=16)
        rows.append((100 + i, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = embedding_neardup_pairs(df, threshold=0.9).toPandas()
    lsh = embedding_neardup_lsh(
        df, dim=16, threshold=0.9, nbits=16, bands=4
    ).toPandas()
    exact_pairs = set(map(tuple, exact[["a", "b"]].to_numpy()))
    lsh_pairs = set(map(tuple, lsh[["a", "b"]].to_numpy()))
    assert lsh_pairs <= exact_pairs, "verify step leaked a false positive"
    assert len(exact_pairs) >= 12
    assert len(lsh_pairs) >= 0.9 * len(exact_pairs)


def test_embedding_lsh_bucket_guard(spark):
    """An identical-vector mega-cluster is dropped by the bucket cap while
    an outside near-dup pair survives."""
    rng = np.random.default_rng(3)
    v0 = rng.normal(size=16)
    rows = [(i, v0.tolist()) for i in range(200)]
    a = rng.normal(size=16)
    rows += [(500, a.tolist()), (501, (a + rng.normal(scale=0.03, size=16)).tolist())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = embedding_neardup_lsh(
        df, dim=16, threshold=0.9, nbits=16, bands=4, max_bucket_size=64
    ).toPandas()
    pairs = set(map(tuple, got[["a", "b"]].to_numpy()))
    assert not any(x < 200 and y < 200 for x, y in pairs)
    assert (500, 501) in pairs


def _joined_srp_lsh(df, dim, threshold, max_bucket_size):
    """The candidate-join SRP pipeline: band-bucket self-join, distinct,
    join back to both vectors, ``_cosine_sql`` fold per pair — the
    reference the grouped verify must reproduce bit for bit."""
    from feature_engineering_spark.operators.dedup import (
        _candidates_from_banded,
        _verify_pairs,
        srp_banded,
    )
    from feature_engineering_spark.operators.similarity import _cosine_sql

    cand = _candidates_from_banded(
        srp_banded(df, dim, nbits=16, bands=4), max_bucket_size
    )
    vv = df.select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    )
    return _verify_pairs(cand, vv, vv, "v", _cosine_sql, "cosine", threshold)


def _pair_bits(df) -> dict:
    """{(a, b): cosine bits}, every NaN one key; each pair exactly once."""
    import struct

    rows = df.collect()
    out = {
        (r.a, r.b): "nan" if r.cosine != r.cosine else struct.pack("<d", r.cosine)
        for r in rows
    }
    assert len(out) == len(rows), "a pair was emitted twice"
    return out


@pytest.mark.parametrize("threshold", [-1.0, 0.9])
@pytest.mark.parametrize("max_bucket_size", [4096, 8])
def test_embedding_lsh_grouped_verify_matches_joined_verify(
    spark, threshold, max_bucket_size
):
    """The grouped numpy verify emits exactly the candidate join's rows
    with the same float bits: random vectors and near-dups, a zero row
    and a 1e-200 row (zero norm product: no row), a NaN component (NaN
    cosine passes every threshold), a NULL component and a NULL vector
    (never pair), two 3-dim vectors (pair with each other only),
    identical vectors colliding in all 4 bands (one row), and a 10-vector
    identical cluster that a cap of 8 drops."""
    dim = 16
    rng = np.random.default_rng(23)
    base = rng.normal(size=(60, dim))
    rows = [(i, base[i].tolist()) for i in range(60)]
    rows += [(100 + i, (base[i] + rng.normal(scale=0.05, size=dim)).tolist())
             for i in range(15)]
    twin = rng.normal(size=dim).tolist()
    rows += [(200, twin), (201, twin)]
    cluster = rng.normal(size=dim).tolist()
    rows += [(300 + i, cluster) for i in range(10)]
    nan_row = base[0].tolist()
    nan_row[3] = float("nan")
    null_row = base[1].tolist()
    null_row[5] = None
    rows += [
        (400, [0.0] * dim), (401, [1e-200] * dim), (402, nan_row),
        (403, null_row), (404, None), (405, [1.0, 2.0, 3.0]),
        (406, [1.0, 2.0, 3.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = _pair_bits(embedding_neardup_lsh(
        df, dim=dim, threshold=threshold, nbits=16, bands=4,
        max_bucket_size=max_bucket_size,
    ))
    exp = _pair_bits(_joined_srp_lsh(df, dim, threshold, max_bucket_size))
    assert got == exp
    assert not any(403 in p or 404 in p for p in got)
    # a zero norm product scores NULL, but 0 * NaN is NaN: the zero-norm
    # rows pair only with the NaN row, and every NaN-row pair scores NaN
    assert all(402 in p for p in got if 400 in p or 401 in p)
    assert all(got[p] == "nan" for p in got if 402 in p)
    if max_bucket_size == 4096:
        assert any(402 in p for p in got)
        assert (200, 201) in got and (300, 301) in got
        assert (405, 406) in got and not any(405 in p for p in got if p != (405, 406))
    else:
        assert (200, 201) in got and not any(300 <= p[0] < 310 for p in got)
    if threshold == -1.0:
        assert len(got) > 100


def test_cosine_kernel_blocks_leave_output_unchanged(monkeypatch):
    """Scoring in blocks of BLOCK_ROWS rows emits, for every ``first``
    (the first new row), exactly the brute-force old x new pairs plus the
    new-row triangle, in row-major order, and each cosine is the left
    fold over the dimensions."""
    from feature_engineering_spark.functions import cosine_kernel

    rng = np.random.default_rng(7)
    m = rng.normal(size=(37, 5))
    m[4] = 0.0
    m[9, 2] = np.nan
    n = len(m)
    ref = {}
    for a in range(n):
        for b in range(a + 1, n):
            dot = na = nb = 0.0
            for x, y in zip(m[a], m[b]):
                dot, na, nb = dot + x * y, na + x * x, nb + y * y
            den = np.sqrt(na) * np.sqrt(nb)
            if den != 0 and (np.isnan(dot / den) or dot / den >= 0.1):
                ref[(a, b)] = dot / den
    for first in (0, 1, n // 2, n - 1, n):
        exp = [(a, b, c) for (a, b), c in sorted(ref.items()) if b >= first]
        for block in (1, 3, 8, 36, 256):
            monkeypatch.setattr(cosine_kernel, "BLOCK_ROWS", block)
            i, j, cos = cosine_kernel.cosine_upper_pairs(m, 0.1, first)
            assert list(zip(i.tolist(), j.tolist())) == [(a, b) for a, b, _ in exp]
            np.testing.assert_array_equal(cos, [c for _, _, c in exp])
    i, j, cos = cosine_kernel.cosine_upper_pairs(m, 0.1)
    assert set(j[i == 4]) | set(i[j == 4]) == {9}  # zero norm: NaN pairs only
    assert np.isnan(cos[(i == 9) | (j == 9)]).all()


def test_lsh_dropped_bucket_stats_reports_cap(spark):
    """No-silent-caps: the drop-stats companion reports exactly what the
    mega-cluster guard discards (and zero when nothing exceeds the cap)."""
    import pandas as pd

    from feature_engineering_spark.operators.dedup import (
        lsh_dropped_bucket_stats,
        minhash_banded,
    )

    boiler = " ".join(f"w{i}" for i in range(30))
    rows = [(i, boiler) for i in range(200)] + [
        (1000, "alpha beta gamma delta epsilon zeta"),
        (1001, "alpha beta gamma delta epsilon eta"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    banded = minhash_banded(df, text="text", id_col="doc_id")
    row = lsh_dropped_bucket_stats(banded, max_bucket_size=64).collect()[0]
    # the 200-identical cluster shares every band bucket -> 8 dropped buckets
    assert row["n_dropped_buckets"] == 8
    assert row["n_dropped_rows"] == 8 * 200
    assert row["max_bucket_size_seen"] == 200
    quiet = lsh_dropped_bucket_stats(banded, max_bucket_size=500).collect()[0]
    assert quiet["n_dropped_buckets"] == 0 and quiet["n_dropped_rows"] == 0


def test_minhash_incremental_matches_full_dedup(spark, near_dup_docs):
    """Incremental (batch vs committed corpus index + in-batch) must find
    exactly the pairs the FULL corpus-wide dedup finds, restricted to
    pairs touching the batch — on fixtures far from the bucket caps the
    two cap policies (combined vs per-side counts) coincide, so the pair
    sets and jaccard values are identical. Only the batch is re-signed;
    corpus text is shingled for candidate ids only."""
    from feature_engineering_spark.operators.dedup import (
        minhash_banded,
        minhash_lsh_incremental,
    )

    # batch = every doc_id % 3 == 1 (the mutated near-dups), corpus = rest
    corpus = near_dup_docs.where(F.col("doc_id") % 3 != 1)
    batch = near_dup_docs.where(F.col("doc_id") % 3 == 1)
    index = minhash_banded(corpus)

    inc = minhash_lsh_incremental(batch, corpus, index, threshold=0.5)
    got = {(r["a"], r["b"]): round(r["jaccard"], 9) for r in inc.collect()}

    full = minhash_lsh_dedup(near_dup_docs, threshold=0.5).collect()
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    exp = {}
    for r in full:
        a, b = r["a"], r["b"]
        if a in batch_ids and b in batch_ids:
            exp[(min(a, b), max(a, b))] = round(r["jaccard"], 9)
        elif b in batch_ids:
            exp[(a, b)] = round(r["jaccard"], 9)
        elif a in batch_ids:
            exp[(b, a)] = round(r["jaccard"], 9)
    assert len(got) > 0
    assert got == exp
    # every base doc's near-dup is recovered against the corpus
    cross = {a for (a, b) in got if a not in batch_ids}
    assert len(cross) >= 8  # 10 mutated docs, LSH recall is high at j~0.93


def test_contamination_report_and_decontaminate(spark):
    """Docs sharing >=min_hits word n-grams with the probe set are
    reported with exact hit counts; decontaminate drops exactly those;
    the probe side is broadcast (no shuffle of the corpus expansion)."""
    from feature_engineering_spark.operators.contamination import (
        contamination_report,
        decontaminate,
    )

    probes = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),  # 3 probe 3-grams
            (11, "x y alpha beta gamma z"),               # exactly 1
            (12, "unrelated words only here today"),      # 0
            (13, "beta gamma delta epsilon q"),           # 2
        ],
        "doc_id long, text string",
    )
    rep = {r["doc_id"]: (r["n_hits"], r["first_hit"])
           for r in contamination_report(docs, probes, min_hits=1).collect()}
    assert rep[10] == (3, "alpha beta gamma")
    assert rep[11] == (1, "alpha beta gamma")
    assert rep[13] == (2, "beta gamma delta")
    assert 12 not in rep

    kept = sorted(
        r["doc_id"] for r in decontaminate(docs, probes, min_hits=2).collect()
    )
    assert kept == [11, 12]  # 10 and 13 hit >= 2 probe n-grams

    plan = (
        contamination_report(docs, probes)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_repetition_signals_hand_rows(spark):
    """Hand-computed repetition signals: dup-word fraction, top 2-gram
    with (count DESC, gram ASC) tie-break, char coverage, edge cases."""
    from feature_engineering_spark.operators.repetition import (
        filter_repetitive,
        repetition_signals,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b c"),   # words a:2 b:2 c:1; grams "a b":2,"b a":1,"b c":1
            (2, "x y z"),       # all unique; grams tie at 1 -> min gram "x y"
            (3, "solo"),        # no 2-grams
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_signals(docs).collect()}

    r1 = got[1]
    assert r1["n_words"] == 5
    assert abs(r1["dup_word_frac"] - 0.8) < 1e-9          # 4/5
    assert (r1["top_2gram"], r1["top_2gram_count"]) == ("a b", 2)
    assert abs(r1["top_2gram_char_frac"] - 0.8) < 1e-9    # 2*2 / 5 nonspace
    assert abs(r1["dup_2gram_frac"] - 0.5) < 1e-9         # 2/4

    r2 = got[2]
    assert r2["n_words"] == 3 and r2["dup_word_frac"] == 0.0
    assert (r2["top_2gram"], r2["top_2gram_count"]) == ("x y", 1)
    # millionth-quantized via integer division: floor(2e6/3)/1e6
    assert abs(r2["top_2gram_char_frac"] - 0.666666) < 1e-12
    assert r2["dup_2gram_frac"] == 0.0

    r3 = got[3]
    assert r3["n_words"] == 1 and r3["top_2gram"] is None
    assert r3["top_2gram_char_frac"] == 0.0 and r3["dup_2gram_frac"] == 0.0

    # n = 3, 4 (Gopher families; values cross-checked against the DuckDB
    # oracle): doc 1 "a b a b c" has 3-grams "a b a","b a b","a b c" (all
    # unique, min-tie "a b a", 3 chars / 5 nonspace) and one 4-gram
    assert (r1["top_3gram"], r1["top_3gram_count"]) == ("a b a", 1)
    assert abs(r1["top_3gram_char_frac"] - 0.6) < 1e-12
    assert r1["dup_3gram_frac"] == 0.0
    assert (r1["top_4gram"], r1["top_4gram_count"]) == ("a b a b", 1)
    assert abs(r1["top_4gram_char_frac"] - 0.8) < 1e-12
    assert r2["top_3gram"] == "x y z" and r2["top_3gram_char_frac"] == 1.0
    assert r2["top_4gram"] is None and r2["top_4gram_count"] is None
    assert r2["top_4gram_char_frac"] == 0.0 and r2["dup_4gram_frac"] == 0.0
    assert r3["top_3gram"] is None and r3["top_4gram"] is None

    kept = sorted(r["doc_id"] for r in filter_repetitive(
        docs, max_dup_word_frac=0.6, max_top_char_frac={2: 0.9}
    ).collect())
    assert kept == [2, 3]  # doc 1 is 80% duplicate words

    # per-n thresholds: doc 2's top 3-gram covers 100% of its chars ->
    # rejected by the n=3 gate; doc 1 already out on dup words; only the
    # one-word doc survives
    kept_n = sorted(r["doc_id"] for r in filter_repetitive(
        docs, max_dup_word_frac=0.6,
        max_top_char_frac={2: 0.9, 3: 0.95, 4: 0.95},
    ).collect())
    assert kept_n == [3]
    # dup-gram family: doc 1 has dup_2gram_frac 0.5 -> a 0.4 ceiling on
    # n=2 rejects it even with permissive char-frac gates
    kept_d = sorted(r["doc_id"] for r in filter_repetitive(
        docs, max_dup_word_frac=0.99,
        max_top_char_frac={2: 2.0}, max_dup_frac={2: 0.4},
    ).collect())
    assert kept_d == [2, 3]


def test_char_shingles_hand(spark):
    from feature_engineering_spark.functions.text import char_ngrams

    df = spark.createDataFrame([("abcde",), ("aaaa",), ("ab",)], "text string")
    got = [r[0] for r in shingle_frame(df, "text", None, 3, "char").collect()]
    assert sorted(got[0]) == ["abc", "bcd", "cde"]
    assert got[1] == ["aaa"]  # distinct: 2 occurrences collapse
    assert got[2] == []       # shorter than n -> empty, not descending seq

    # char_ngrams keeps every occurrence in order; shingles are distinct
    df = spark.createDataFrame([("abab",), ("ab",), ("a",)], "text string")
    grams = [r[0] for r in df.select(char_ngrams(F.col("text"), 2)).collect()]
    assert grams == [["ab", "ba", "ab"], ["ab"], []]
    got = [r[0] for r in shingle_frame(df, "text", None, 2, "char").collect()]
    assert [sorted(g) for g in got] == [["ab", "ba"], ["ab"], []]


def test_minhash_char_unit_near_dups_short_docs(spark):
    """Word-3-gram shingles are blind to near-dup docs with < 3 words;
    char shingles catch them — and the unit plumbs through the full
    dedup, the banding, and the incremental probe consistently."""
    from feature_engineering_spark.operators.dedup import (
        minhash_banded,
        minhash_lsh_incremental,
    )

    rows = [
        (0, "internationalization"),
        (1, "internationalisation"),   # near-dup of 0 (one char)
        (2, "incomprehensibilities"),  # unrelated long word
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    assert minhash_lsh_dedup(df, threshold=0.5).count() == 0  # word-blind
    got = minhash_lsh_dedup(
        df, threshold=0.5, shingle_n=4, shingle_unit="char"
    ).toPandas()
    assert set(map(tuple, got[["a", "b"]].to_numpy())) == {(0, 1)}

    # incremental probe against a char-unit index reproduces the pair
    corpus = df.where(F.col("doc_id") == 0)
    batch = df.where(F.col("doc_id") > 0)
    index = minhash_banded(corpus, shingle_n=4, shingle_unit="char")
    inc = minhash_lsh_incremental(
        batch, corpus, index, threshold=0.5, shingle_n=4, shingle_unit="char"
    ).toPandas()
    assert set(map(tuple, inc[["a", "b"]].to_numpy())) == {(0, 1)}

    with pytest.raises(ValueError, match="shingle_unit"):
        minhash_lsh_dedup(df, shingle_unit="byte").count()


def test_all_pairs_guard_raises(spark):
    """The two documented all-pairs recall oracles fail FAST above their
    max_rows ceiling instead of going quadratic on a full corpus."""
    docs = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w x y z t"), F.col("id").cast("string")).alias("text"),
    )
    with pytest.raises(ValueError, match="all-pairs"):
        ngram_jaccard_pairs(docs, max_rows=10)
    assert ngram_jaccard_pairs(docs, max_rows=20).count() >= 0

    vecs = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.col("id").cast("double")).alias("embedding"),
    )
    with pytest.raises(ValueError, match="all-pairs"):
        embedding_neardup_pairs(vecs, max_rows=10)
    assert embedding_neardup_pairs(vecs, threshold=1.1, max_rows=20).count() == 0


def test_embed_incremental_matches_full_lsh(spark):
    """Incremental embedding dedup (batch vs committed SRP index +
    in-batch) must find exactly the pairs the FULL corpus-wide SRP dedup
    finds, restricted to pairs touching the batch — the embedding twin of
    test_minhash_incremental_matches_full_dedup. On fixtures far from the
    bucket caps the per-side and combined cap policies coincide, so pair
    sets and cosines are identical. Only the batch is signed; corpus
    vectors are fetched for candidate ids only."""
    from feature_engineering_spark.operators.dedup import (
        embedding_lsh_incremental,
        srp_banded,
    )

    rng = np.random.default_rng(17)
    base = rng.normal(size=(40, 16))
    corp_rows = [(i, base[i].tolist()) for i in range(40)]
    batch_rows = []
    for i in range(12):  # near-dups of corpus vectors
        v = base[i] + rng.normal(scale=0.05, size=16)
        batch_rows.append((100 + i, v.tolist()))
    for i in range(4):   # in-batch near pairs (perturb the SAME new vec)
        v = rng.normal(size=16)
        batch_rows.append((200 + 2 * i, v.tolist()))
        batch_rows.append(
            (201 + 2 * i, (v + rng.normal(scale=0.03, size=16)).tolist())
        )
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(corp_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    index = srp_banded(corpus, dim=16, nbits=16, bands=4)

    inc = embedding_lsh_incremental(
        batch, corpus, index, dim=16, threshold=0.9, nbits=16, bands=4
    )
    got = {(r["a"], r["b"]): round(r["cosine"], 9) for r in inc.collect()}

    full = embedding_neardup_lsh(
        corpus.unionByName(batch), dim=16, threshold=0.9, nbits=16, bands=4
    ).collect()
    batch_ids = {r[0] for r in batch_rows}
    exp = {}
    for r in full:
        a, b = r["a"], r["b"]
        if a in batch_ids and b in batch_ids:
            exp[(min(a, b), max(a, b))] = round(r["cosine"], 9)
        elif b in batch_ids:
            exp[(a, b)] = round(r["cosine"], 9)
        elif a in batch_ids:
            exp[(b, a)] = round(r["cosine"], 9)
    assert len(got) > 0
    assert got == exp
    cross = {a for (a, b) in got if a not in batch_ids}
    assert len(cross) >= 10  # 12 planted corpus near-dups, SRP recall high
    in_batch = {(a, b) for (a, b) in got if a in batch_ids}
    assert len(in_batch) >= 3  # 4 planted in-batch pairs


def _joined_srp_incremental(batch, corpus, index, dim, threshold, cap):
    """The two-arm candidate-join incremental SRP pipeline: per-side caps
    on the batch banding and the hit index rows, a cross join (a = index
    id, b = batch id) and an in-batch self-join (a < b), each joined back
    to its vectors and scored by ``_cosine_sql``."""
    from feature_engineering_spark.operators.dedup import (
        _cap_buckets,
        _verify_pairs,
        srp_banded,
    )
    from feature_engineering_spark.operators.similarity import _cosine_sql

    keys = ["band", "bucket"]
    nb = _cap_buckets(srp_banded(batch, dim), cap)
    hit = _cap_buckets(
        index.join(F.broadcast(nb.select(*keys).distinct()), keys), cap
    )
    cross = (
        hit.select(*keys, F.col("id").alias("a"))
        .join(nb.select(*keys, F.col("id").alias("b")), keys)
        .select("a", "b")
        .distinct()
    )
    l, r = nb.alias("l"), nb.alias("r")
    within = (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.bucket") == F.col("r.bucket"))
               & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )

    def vecs(df):
        return df.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )

    vc, vb = vecs(corpus), vecs(batch)
    return _verify_pairs(
        cross, vc, vb, "v", _cosine_sql, "cosine", threshold
    ).unionByName(_verify_pairs(within, vb, vb, "v", _cosine_sql, "cosine", threshold))


@pytest.mark.parametrize("threshold", [-1.0, 0.9])
@pytest.mark.parametrize("max_bucket_size", [4096, 8])
def test_embedding_incremental_matches_two_arm_join(
    spark, threshold, max_bucket_size
):
    """The one grouped verify over hit ∪ batch rows emits exactly the
    two-arm candidate-join pipeline's rows with the same float bits: a
    corpus vector with a NULL component (Arrow would hand it to Python as
    NaN, so without ``_srp_signature``'s NULL rule it would pair), NaN
    components, zero and 1e-200 rows (zero norm product: no row), 3-dim
    vectors among 16-dim ones, an index id with no corpus row, and an
    over-cap bucket on each side."""
    from feature_engineering_spark.operators.dedup import (
        embedding_lsh_incremental,
        srp_banded,
    )

    dim = 16
    rng = np.random.default_rng(31)
    base = rng.normal(size=(40, dim))
    c, d, ghost = (rng.normal(size=dim) for _ in range(3))

    def near(v):
        return (v + rng.normal(scale=0.05, size=dim)).tolist()

    null_row = base[0].tolist()
    null_row[3] = None
    nan_row = base[1].tolist()
    nan_row[5] = float("nan")
    corp_rows = [(i, base[i].tolist()) for i in range(40)] + [
        (50, null_row), (51, nan_row), (52, [0.0] * dim),
        (53, [1e-200] * dim), (54, [1.0, 2.0, 3.0]),
        (70, d.tolist()),
    ] + [(60 + i, c.tolist()) for i in range(10)]
    batch_rows = [(100 + i, near(base[i])) for i in range(12)]
    for i in range(4):
        v = rng.normal(size=dim)
        batch_rows += [(200 + 2 * i, v.tolist()), (201 + 2 * i, near(v))]
    bnull = base[2].tolist()
    bnull[0] = None
    bnan = base[3].tolist()
    bnan[1] = float("nan")
    batch_rows += [
        (150, bnull), (151, bnan), (152, [0.0] * dim), (153, [1e-200] * dim),
        (154, [1.0, 2.0, 3.5]), (155, near(base[0])), (300, c.tolist()),
        (998, near(ghost)),
    ] + [(310 + i, d.tolist()) for i in range(10)]
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(corp_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    # the ghost's index rows have no corpus row to take a vector from
    index = srp_banded(
        corpus.unionByName(spark.createDataFrame([(999, ghost.tolist())], schema)),
        dim,
    )

    got = _pair_bits(embedding_lsh_incremental(
        batch, corpus, index, dim=dim, threshold=threshold,
        max_bucket_size=max_bucket_size,
    ))
    exp = _pair_bits(_joined_srp_incremental(
        batch, corpus, index, dim, threshold, max_bucket_size
    ))
    assert got == exp
    ids = {x for p in got for x in p}
    assert not ids & {50, 150, 999}
    # the NaN rows pair (NaN cosine), the zero-norm rows only with them
    assert any(51 in p for p in got) and any(151 in p for p in got)
    assert all(got[p] == "nan" for p in got if {51, 151} & set(p))
    assert all({51, 151} & set(p) for p in got if {52, 53, 152, 153} & set(p))
    assert (54, 154) in got and not any(54 in p or 154 in p for p in got
                                        if p != (54, 154))
    assert all(a < b for a, b in got if a >= 100)  # in-batch pairs a < b
    if max_bucket_size == 4096:
        assert {(60, 300), (70, 310), (310, 311)} <= set(got)
    else:
        # the corpus copies of c and the batch copies of d fill every band
        # bucket of theirs above the cap
        assert not ids & (set(range(60, 70)) | set(range(310, 320)))


def _dropped(banded, cap):
    from feature_engineering_spark.operators.dedup import lsh_dropped_bucket_stats

    r = lsh_dropped_bucket_stats(banded, max_bucket_size=cap).collect()[0]
    return r["n_dropped_buckets"], r["n_dropped_rows"], r["max_bucket_size_seen"]


def test_minhash_incremental_intermediates_before_cap(spark):
    """Probe contract: ``banded_new`` and ``hit`` are the frames BEFORE
    their caps, so the drop stats see a planted over-cap batch bucket and
    a planted over-cap corpus bucket. A genuine near-dup outside the caps
    is still found."""
    from feature_engineering_spark.operators.dedup import (
        minhash_banded,
        minhash_lsh_incremental,
    )

    boiler = " ".join(f"w{i}" for i in range(30))
    boiler2 = " ".join(f"v{i}" for i in range(30))
    words = [f"u{i}" for i in range(30)]
    corp_rows = [(i, boiler) for i in range(10)] + [(50, " ".join(words))]
    batch_rows = [(100 + i, boiler2) for i in range(6)] + [
        (200, boiler), (300, " ".join(words[:-1] + ["qqq"])),
    ]
    cols = ["doc_id", "text"]
    corpus = spark.createDataFrame(pd.DataFrame(corp_rows, columns=cols))
    batch = spark.createDataFrame(pd.DataFrame(batch_rows, columns=cols))
    inter: dict = {}
    pairs = minhash_lsh_incremental(
        batch, corpus, minhash_banded(corpus), threshold=0.5,
        max_bucket_size=4, intermediates=inter,
    )
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert got == {(50, 300)}
    # 6 identical arrivals fill all 8 band buckets above the cap of 4
    assert _dropped(inter["banded_new"], 4) == (8, 48, 6)
    # the boiler arrival probes 8 corpus buckets of 10 rows each
    assert _dropped(inter["hit"], 4) == (8, 80, 10)


def test_embedding_incremental_intermediates_before_cap(spark):
    """Embedding twin of the probe-contract test: ``banded_new`` and
    ``hit`` are uncapped, so planted over-cap buckets on each side show
    up in the drop stats, and the capped clusters yield no pairs."""
    from feature_engineering_spark.operators.dedup import (
        embedding_lsh_incremental,
        srp_banded,
    )

    v0 = np.random.default_rng(5).normal(size=16)
    # -v0 flips every sign bit, so its 4-bit band buckets never meet v0's
    corp_rows = [(i, v0.tolist()) for i in range(10)]
    batch_rows = [(100 + i, (-v0).tolist()) for i in range(6)] + [
        (200, v0.tolist())
    ]
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(corp_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    index = srp_banded(corpus, dim=16, nbits=16, bands=4)
    inter: dict = {}
    pairs = embedding_lsh_incremental(
        batch, corpus, index, dim=16, threshold=0.9, nbits=16, bands=4,
        max_bucket_size=4, intermediates=inter,
    )
    assert pairs.count() == 0
    assert _dropped(inter["banded_new"], 4) == (4, 24, 6)
    assert _dropped(inter["hit"], 4) == (4, 40, 10)


def test_line_repetition_hand_rows(spark):
    """Hand-computed duplicate-line signals: occurrence-weighted dup
    fraction, char coverage over non-space chars, empty-line skipping."""
    from feature_engineering_spark.operators.repetition import (
        filter_repetitive_lines,
        line_repetition_signals,
    )

    docs = spark.createDataFrame(
        [
            # lines: "ab cd" x2 + "ef" -> 3 occurrences, 2 dup;
            # nonspace chars 4+4+2=10, dup chars 8
            (1, "ab cd\nab cd\nef"),
            (2, "one\ntwo\nthree"),          # all unique
            (3, "\n\nx\n\n"),                # empty lines skipped -> 1 line
            (4, ""),                          # no non-empty lines: omitted
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in line_repetition_signals(docs).collect()}
    assert set(got) == {1, 2, 3}

    r1 = got[1]
    assert r1["n_lines"] == 3
    assert abs(r1["dup_line_frac"] - 0.666666) < 1e-12   # floor(2e6/3)/1e6
    assert abs(r1["dup_line_char_frac"] - 0.8) < 1e-12   # 8/10

    r2 = got[2]
    assert r2["n_lines"] == 3
    assert r2["dup_line_frac"] == 0.0 and r2["dup_line_char_frac"] == 0.0

    assert got[3]["n_lines"] == 1 and got[3]["dup_line_frac"] == 0.0

    kept = sorted(r["doc_id"] for r in filter_repetitive_lines(docs).collect())
    assert kept == [2, 3, 4]  # doc 1 over both gates; empty doc 4 KEPT

    # paragraph variant: blank-line separator groups lines into paragraphs
    para = spark.createDataFrame(
        [(1, "p q\n\np q\n\nr")], "doc_id long, text string"
    )
    r = line_repetition_signals(para, sep="\n\n").collect()[0]
    assert r["n_lines"] == 3 and abs(r["dup_line_frac"] - 0.666666) < 1e-12


def test_line_corpus_dedup_c4_style(spark):
    """Corpus-LEVEL line dedup: a line occurring >= min_count times
    across the whole corpus is removed from every doc; docs rebuilt in
    order; all-lines-removed docs drop; empty lines are structural."""
    from feature_engineering_spark.operators.dedup import line_corpus_dedup

    docs = spark.createDataFrame(
        [
            (1, "nav\nalpha beta\nfoot"),
            (2, "nav\ngamma delta\nfoot"),
            (3, "nav\nepsilon\nfoot"),
            (4, "nav"),                    # boilerplate-only -> dropped
            (5, "x\n\nx"),                 # "x" only twice -> kept whole
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in line_corpus_dedup(docs, min_count=3).collect()}
    assert set(got) == {1, 2, 3, 5}        # doc 4 lost every line

    assert got[1]["text"] == "alpha beta"
    assert got[1]["n_lines_kept"] == 1 and got[1]["n_lines_removed"] == 2
    assert got[2]["text"] == "gamma delta"
    assert got[3]["text"] == "epsilon"
    # empty line preserved in place, nothing removed
    assert got[5]["text"] == "x\n\nx"
    assert got[5]["n_lines_kept"] == 3 and got[5]["n_lines_removed"] == 0


def test_line_dedup_incremental_against_index(spark):
    """A line is stripped from an arriving batch exactly when committed
    index + batch counts reach min_count; raw batch counts are returned
    for committing (boilerplate keeps counting even while stripped)."""
    from feature_engineering_spark.operators.dedup import (
        line_counts,
        line_dedup_batch_against_index,
    )

    corpus = spark.createDataFrame(
        [(1, "nav\nalpha"), (2, "nav\nbeta"), (3, "x\ngamma")],
        "doc_id long, text string",
    )
    index = line_counts(corpus)  # nav:2, x:1, alpha/beta/gamma:1

    batch = spark.createDataFrame(
        [
            (10, "nav\ndelta"),     # nav: 2 (index) + 1 (batch) = 3 -> strip
            (11, "x\nepsilon"),     # x: 1 + 1 = 2 -> keep
            (12, "nav"),            # single-line boilerplate doc -> drops out
        ],
        "doc_id long, text string",
    )
    cleaned, counts_b = line_dedup_batch_against_index(
        batch, index, min_count=3
    )
    got = {r["doc_id"]: r for r in cleaned.collect()}
    assert set(got) == {10, 11}
    assert got[10]["text"] == "delta" and got[10]["n_lines_removed"] == 1
    assert got[11]["text"] == "x\nepsilon" and got[11]["n_lines_removed"] == 0

    # raw counts (stripped lines still counted) for the next index part
    cb = {r["line"]: r["c"] for r in counts_b.collect()}
    assert cb["nav"] == 2 and cb["x"] == 1

    # next batch probes index ∪ counts_b: one more 'x' now crosses via
    # accumulation (1 + 1 committed + 1 new = 3)
    batch2 = spark.createDataFrame([(20, "x\nzeta")], "doc_id long, text string")
    cleaned2, _ = line_dedup_batch_against_index(
        batch2, index.unionByName(counts_b), min_count=3
    )
    r = cleaned2.collect()[0]
    assert r["text"] == "zeta" and r["n_lines_removed"] == 1


def _winnow_ref(text: str, k: int, w: int) -> set[int]:
    """Pure-Python reference of the winnowing selection (md5 60-bit
    k-gram hashes, sliding-window-of-w minima, distinct)."""
    import hashlib

    toks = text.split(" ")
    if len(toks) < k:
        return set()
    grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams
    ]
    if len(hs) <= w:
        return {min(hs)}
    return {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}


def test_winnow_fingerprints_matches_reference(spark):
    """The JVM expression chain reproduces the reference selection
    exactly — including the <k-token empty case and the degenerate
    G<=w single-window case."""
    from feature_engineering_spark.operators.dedup import winnow_fingerprints

    texts = {
        1: "a b c d e f g h i j k l m n o p q r s t",
        2: "a b c d",                  # 4 tokens < k=5 -> nothing
        3: "a b c d e",                # exactly one gram -> one fp
        4: "a b c d e f g",            # G=3 <= w=4 -> global min only
        5: "x y z " + "a b c d e f g h i j" + " p q r",  # arbitrary
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got: dict[int, set] = {}
    for r in winnow_fingerprints(docs, k=5, w=4).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for i, t in texts.items():
        assert got.get(i, set()) == _winnow_ref(t, 5, 4), i


def test_winnow_overlap_guarantee_and_cap(spark):
    """A shared token run of >= w+k-1 tokens guarantees a shared
    fingerprint (pair detected); a k-gram run shared by more docs than
    fp_doc_cap is dropped with accounting and creates no pairs."""
    from feature_engineering_spark.operators.dedup import (
        lsh_dropped_bucket_stats,
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    shared = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"  # 10 >= w+k-1 = 8
    rows = [
        (1, "u1 u2 u3 " + shared + " u4 u5 u6"),
        (2, "v1 v2 " + shared + " v3 v4 v5 v6 v7"),
        # unrelated doc
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
    ]
    # identical boilerplate docs -> every fp they yield is selected in
    # all 8 docs, so every one is hot (> cap) and must be dropped. (With
    # per-doc unique prefixes the window minima shift per doc and a
    # shared fp can legitimately sit under the cap — that's the
    # operator working, not a cap failure.)
    boiler = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    rows += [(100 + i, boiler) for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = {
        (r["a"], r["b"]): r["n_shared"]
        for r in winnow_overlap_pairs(
            docs, k=5, w=4, min_shared=1, fp_doc_cap=4
        ).collect()
    }
    assert (1, 2) in pairs  # the guarantee
    stats = lsh_dropped_bucket_stats(
        winnow_fingerprints(docs, k=5, w=4), 4, ("fp",)
    ).collect()[0]
    assert stats["n_dropped_buckets"] > 0 and stats["n_dropped_rows"] >= 8
    # no boilerplate-only pair survived the cap
    assert not any(a >= 100 and b >= 100 for a, b in pairs)
    assert 3 not in {x for p in pairs for x in p}


def test_winnow_incremental_equals_full_restricted(spark):
    """Incremental winnow overlap vs a committed fingerprint index must
    equal the FULL operator run on corpus ∪ batch, restricted to pairs
    touching the batch — same fingerprints, same hot cap, same counts."""
    import random

    from feature_engineering_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_overlap_pairs,
        winnow_overlap_incremental,
    )

    rng = random.Random(13)
    vocab = [f"t{i}" for i in range(40)]
    shared_runs = [
        " ".join(rng.choices(vocab, k=12)) for _ in range(4)
    ]
    boiler = " ".join(f"bb{i}" for i in range(10))

    def doc(i):
        parts = [" ".join(rng.choices(vocab, k=rng.randint(6, 20)))]
        if i % 3 == 0:
            parts.append(shared_runs[i % 4])  # cross/within overlaps
        if i % 5 == 0:
            parts.append(boiler)  # hot in enough docs to cap
        rng.shuffle(parts)
        return " ".join(parts)

    rows = [(i, doc(i)) for i in range(40)]
    # interleaved ids: corpus/batch split NOT aligned with id order, so
    # cross-pair orientation (a=corpus, b=batch) is exercised both ways
    corpus_rows = [r for r in rows if r[0] % 2 == 0]
    batch_rows = [r for r in rows if r[0] % 2 == 1]
    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(corpus_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    allof = spark.createDataFrame(rows, schema)

    K, W, MS, CAP = 4, 3, 1, 6
    full = {
        frozenset((r["a"], r["b"])): r["n_shared"]
        for r in winnow_overlap_pairs(
            allof, k=K, w=W, min_shared=MS, fp_doc_cap=CAP
        ).collect()
    }
    batch_ids = {r[0] for r in batch_rows}
    full_touching = {
        p: n for p, n in full.items() if p & batch_ids
    }

    index = winnow_fingerprints(corpus, k=K, w=W)
    pairs, fps_b = winnow_overlap_incremental(
        batch, index, k=K, w=W, min_shared=MS, fp_doc_cap=CAP
    )
    inc = {
        frozenset((r["a"], r["b"])): r["n_shared"]
        for r in pairs.collect()
    }
    assert inc == full_touching and len(inc) > 0
    # committable fps are exactly the batch's full fingerprint set
    got_fps = {(r["doc_id"], r["fp"]) for r in fps_b.collect()}
    exp_fps = {
        (r["doc_id"], r["fp"])
        for r in winnow_fingerprints(batch, k=K, w=W).collect()
    }
    assert got_fps == exp_fps


def test_winnow_fingerprints_randomized(spark):
    """30 seeded random texts (varying length/vocab, including lengths
    straddling the k and w boundaries) against the pure-Python reference
    in ONE Spark job — the randomized sweep behind the hand-row cases."""
    import random

    from feature_engineering_spark.operators.dedup import winnow_fingerprints

    rng = random.Random(99)
    texts = {}
    for i in range(30):
        n = rng.choice([0, 3, 4, 5, 6, 7, 8, rng.randint(9, 80)])
        vocab_size = rng.choice([2, 5, 30])  # tiny vocab -> repeated grams
        texts[i] = " ".join(
            f"v{rng.randrange(vocab_size)}" for _ in range(n)
        )
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got: dict[int, set] = {}
    for r in winnow_fingerprints(docs, k=5, w=4).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for i, t in texts.items():
        assert got.get(i, set()) == _winnow_ref(t, 5, 4), (i, t)


def test_trim_contained_runs(spark):
    """Quoted runs are excised exactly (the T-k+1 matching grams cover
    precisely the T-token run); runs shorter than k never match; fully
    excised docs keep their row with empty text."""
    from feature_engineering_spark.operators.dedup import trim_contained_runs

    src = "q1 q2 q3 q4 q5 q6 q7 q8"        # 8 tokens >= k
    short = "s1 s2 s3"                      # < k: no grams, never matches
    docs = spark.createDataFrame(
        [
            (10, "u1 u2 u3 " + src + " u4 u5"),
            (11, "v1 v2 v3 v4 v5 v6"),
            (12, src),
            (13, "w1 w2 " + short + " w3 w4"),
        ],
        "doc_id long, text string",
    )
    sources = spark.createDataFrame(
        [(1, src), (2, short)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in trim_contained_runs(docs, sources, k=5).collect()
    }
    assert got[10]["text"] == "u1 u2 u3 u4 u5"
    assert got[10]["n_tokens_removed"] == 8
    assert got[11]["text"] == "v1 v2 v3 v4 v5 v6"
    assert got[11]["n_tokens_removed"] == 0
    assert got[12]["text"] == "" and got[12]["n_tokens_kept"] == 0
    assert got[13]["n_tokens_removed"] == 0  # short run untouched


def test_overlap_chain_survivor_not_self_excised(spark):
    """r6 (advice fix): three docs A<B<C sharing one quoted paragraph
    produce pairs (A,B),(A,C),(B,C) — B is a b-side (flagged) AND an
    a-side (potential partner). If B stayed in the partner set, B would
    be trimmed against its own grams and lose its ENTIRE text. The
    partner set must be a-side MINUS b-side ids: B and C are excised
    against A only, keeping their unique content."""
    from feature_engineering_spark.operators.dedup import (
        overlap_partner_ids,
        trim_contained_runs,
    )

    para = " ".join(f"p{j}" for j in range(10))
    rows = [
        (1, "a1 a2 " + para),
        (2, "b1 b2 b3 " + para + " b4"),
        (3, para + " c1 c2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "a long, b long"
    )
    partner_ids = {r["doc_id"] for r in overlap_partner_ids(pairs).collect()}
    assert partner_ids == {1}  # B (2) excluded: flagged b-side

    flagged = docs.where("doc_id in (2, 3)")
    partners = docs.join(overlap_partner_ids(pairs), "doc_id", "left_semi")
    got = {
        r["doc_id"]: r for r in trim_contained_runs(flagged, partners).collect()
    }
    assert got[2]["text"] == "b1 b2 b3 b4"       # unique content SURVIVES
    assert got[2]["n_tokens_removed"] == 10
    assert got[3]["text"] == "c1 c2"
    assert got[3]["n_tokens_removed"] == 10


def test_trim_interval_merge_equals_per_start_reference(spark):
    """r6: the excision keep-filter probes merged [lo, hi) intervals
    instead of every covered start (O(m*spans) vs O(m*s)). Equality with
    the per-start definition — token i dropped iff ANY matched gram start
    s has s <= i < s+k — on adversarial dense-starts docs: fully-quoted
    docs (every gram matches, s = m-k+1 starts collapsing to ONE
    interval), multiple disjoint quoted spans, and touching spans."""
    import random

    from feature_engineering_spark.operators.dedup import trim_contained_runs

    k = 5
    rng = random.Random(607)
    quoted = [f"q{j}" for j in range(40)]
    docs_rows, expected = [], {}
    for did in range(24):
        # random interleave of unique filler and quoted slices, including
        # the dense case (whole doc = one long quoted run)
        if did % 6 == 0:
            toks = quoted[: 8 + (did % 16)]
        else:
            toks = []
            for piece in range(rng.randint(1, 4)):
                if rng.random() < 0.6:
                    lo = rng.randrange(0, len(quoted) - k - 2)
                    toks += quoted[lo : lo + rng.randint(k, k + 6)]
                toks += [f"u{did}_{piece}_{j}" for j in range(rng.randint(0, 4))]
        docs_rows.append((did, " ".join(toks)))

    src_text = " ".join(quoted)
    src_grams = {
        tuple(quoted[i : i + k]) for i in range(len(quoted) - k + 1)
    }
    for did, text in docs_rows:
        # mirror Spark split semantics: split("", " ") is [""], one token
        toks = text.split(" ")
        covered = set()
        for s in range(max(0, len(toks) - k + 1)):
            if tuple(toks[s : s + k]) in src_grams:
                covered.update(range(s, s + k))
        kept = [w for i, w in enumerate(toks) if i not in covered]
        expected[did] = (" ".join(kept), len(kept), len(toks) - len(kept))

    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    sources = spark.createDataFrame([(1, src_text)], "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_tokens_kept"], r["n_tokens_removed"])
        for r in trim_contained_runs(docs, sources, k=k).collect()
    }
    assert got == expected


def test_winnow_guarantee_property():
    """The winnowing guarantee (Schleimer et al.): ANY shared token run
    of length >= w + k - 1 yields at least one shared fingerprint.
    Pure-Python property test against the reference selection the Spark
    side is pinned to — random host texts, random shared-run placement."""
    from hypothesis import given, settings, strategies as st

    K, W = 5, 4

    tok = st.integers(0, 30).map(lambda i: f"v{i}")
    runs = st.lists(tok, min_size=W + K - 1, max_size=30)
    hosts = st.lists(tok, min_size=0, max_size=25)

    @settings(max_examples=200, deadline=None)
    @given(run=runs, pre_a=hosts, suf_a=hosts, pre_b=hosts, suf_b=hosts)
    def check(run, pre_a, suf_a, pre_b, suf_b):
        a = " ".join(pre_a + run + suf_a)
        b = " ".join(pre_b + run + suf_b)
        assert _winnow_ref(a, K, W) & _winnow_ref(b, K, W), (a, b)

    check()


def test_winnow_char_unit(spark):
    """Char-unit winnowing matches a char-level reference, and detects
    overlap between spaceless (CJK-ish) docs that word-unit winnowing is
    structurally blind to (each doc is ONE word token)."""
    import hashlib

    from feature_engineering_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    def ref(s, k=5, w=4):
        if len(s) < k:
            return set()
        hs = [
            int(hashlib.md5(s[i:i + k].encode()).hexdigest()[:15], 16)
            for i in range(len(s) - k + 1)
        ]
        if len(hs) <= w:
            return {min(hs)}
        return {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}

    shared = "abcdefghijkl"  # 12 chars >= w+k-1 = 8
    texts = {1: "xxx" + shared + "yy", 2: "zzzz" + shared + "qq", 3: "pqrs"}
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got: dict[int, set] = {}
    for r in winnow_fingerprints(docs, k=5, w=4, unit="char").collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for i, t in texts.items():
        assert got.get(i, set()) == ref(t), i

    char_pairs = {
        (r["a"], r["b"])
        for r in winnow_overlap_pairs(
            docs, k=5, w=4, min_shared=1, unit="char"
        ).collect()
    }
    assert (1, 2) in char_pairs
    # word unit sees each doc as a single token: no grams, no pairs
    word_pairs = winnow_overlap_pairs(docs, k=5, w=4, min_shared=1).count()
    assert word_pairs == 0


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _reads_cache(df) -> bool:
    return "InMemoryRelation" in df._jdf.queryExecution().withCachedData().toString()


def test_lsh_operators_cache_nothing(spark, near_dup_docs):
    """Operators never persist: building and running every MinHash
    operator, and one streaming near-dup micro-batch, leaves the
    session's CacheManager empty, so no later query reads another run's
    signatures or candidates."""
    from feature_engineering_spark.operators.dedup import (
        dedup_batch_against_corpus,
        minhash_banded,
        minhash_lsh_incremental,
    )
    from feature_engineering_spark.streaming.stream_ops import (
        streaming_neardup_filter,
    )

    spark.catalog.clearCache()
    corpus = near_dup_docs.where(F.col("doc_id") % 3 != 1)
    batch = near_dup_docs.where(F.col("doc_id") % 3 == 1)
    index = minhash_banded(corpus)
    assert minhash_lsh_dedup(near_dup_docs, threshold=0.5).count() > 0
    inter: dict = {}
    assert minhash_lsh_incremental(
        batch, corpus, index, threshold=0.5, intermediates=inter
    ).count() > 0
    survivors, drops = dedup_batch_against_corpus(batch, corpus, index)
    assert survivors.count() + drops.count() == batch.count()
    sunk = []
    streaming_neardup_filter(corpus, index, threshold=0.5)(
        lambda s, d, bid: sunk.append((s.count(), d.count()))
    )(batch, 0)
    assert sunk == [(survivors.count(), drops.count())]
    assert _cache_empty(spark)
    assert set(inter) == {"banded_new", "hit"}


def test_second_minhash_query_build_reads_no_cache(spark):
    """A repeated build of the ``minhash_lsh_dedup`` query plans from its
    sources: nothing the first run left behind is substituted in."""
    import os

    from feature_engineering_spark.plans.data_queries import q_minhash_lsh_dedup

    sf = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "perfbench", "data", "sf0.01")
    spark.catalog.clearCache()
    first = q_minhash_lsh_dedup(spark, sf)
    assert first.count() > 0
    assert not _reads_cache(q_minhash_lsh_dedup(spark, sf))


def test_persisted_banding_serves_minhash_dedup(spark, near_dup_docs):
    """The plan match the curation jobs rely on: with
    ``minhash_banded(df)`` persisted, ``minhash_lsh_dedup(df)`` reads
    its banding from that cache, and its pairs are unchanged."""
    from feature_engineering_spark.operators.dedup import minhash_banded

    spark.catalog.clearCache()
    exp = sorted(minhash_lsh_dedup(near_dup_docs, threshold=0.5).collect())
    banded = minhash_banded(near_dup_docs).persist()
    try:
        pairs = minhash_lsh_dedup(near_dup_docs, threshold=0.5)
        assert _reads_cache(pairs)
        assert sorted(pairs.collect()) == exp
    finally:
        banded.unpersist()
