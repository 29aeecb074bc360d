"""Similarity search (brute force vs numpy oracle, IVF recall) and
multimodal plumbing (fake-container decode, frame sampling, metadata)."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from feature_engineering_spark.operators.multimodal import (
    media_features,
    media_metadata_stats,
    synthesize_media,
)
from feature_engineering_spark.operators.similarity import (
    _vector_sql,
    brute_force_topk,
    cosine_to_query,
    ivf_topk,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_np(emb):
    pdf = emb.toPandas()
    return pdf["vec_id"].to_numpy(), np.stack(pdf["embedding"].map(np.asarray))


def test_brute_force_topk_matches_numpy(spark, emb, emb_np):
    ids, M = emb_np
    q = M[ids == 0][0].astype("float64")
    Md = M.astype("float64")
    cos = (Md @ q) / (np.linalg.norm(Md, axis=1) * np.linalg.norm(q))
    order = sorted(
        [(c, i) for c, i in zip(cos, ids) if i != 0], key=lambda t: (-t[0], t[1])
    )[:10]
    exp = [i for _, i in order]
    got = brute_force_topk(
        emb.where(F.col("vec_id") != 0), list(q), k=10
    ).toPandas()["vec_id"].tolist()
    assert got == exp


def _same_double(a: float, b: float) -> bool:
    """Bit-identical, with every NaN equal to every NaN."""
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return struct.pack("<d", a) == struct.pack("<d", b)


def _fold_cosine(v, q) -> float:
    """The operators' cosine fold in Python: left-to-right IEEE sums from
    0.0, then dot / (|v| * |q|)."""
    dot = nv = nq = 0.0
    for x, y in zip(v, q):
        dot += x * y
    for x in v:
        nv += x * x
    for y in q:
        nq += y * y
    with np.errstate(all="ignore"):
        return float(np.float64(dot) / (np.float64(math.sqrt(nv)) * math.sqrt(nq)))


def test_vector_literal_round_trips_every_double(spark):
    """A query vector reaches the plan as SQL literal text: every double,
    signed zero, subnormal and extreme included, must come back with the
    same bits, and NaN and the infinities must parse at all."""
    vals = [3, 0, -0.0, 0.0, 1e-300, 5e-324, 0.1, -2.5, 1.7976931348623157e308,
            -1.7976931348623157e308, float("nan"), float("inf"), float("-inf")]
    got = spark.range(1).selectExpr(f"{_vector_sql(vals)} AS v").first()["v"]
    assert len(got) == len(vals)
    assert all(_same_double(g, float(x)) for g, x in zip(got, vals)), got


@pytest.mark.parametrize("query", [
    [3, -0.0, 1e-300, 0.25, 2],
    [float("nan"), 1.0, 0.0, 2.0, 1.0],
    [float("inf"), 1.0, 0.0, 2.0, 1.0],
    [1.0, float("-inf"), 0, -2.0, 1e-300],
], ids=["finite-edges", "nan", "inf", "-inf"])
def test_cosine_to_query_edge_literals(spark, query):
    """cosine_to_query builds for queries holding ints, -0.0, a value whose
    square underflows, NaN and the infinities, and every row's cosine is
    the Python fold's, bit for bit."""
    rows = [
        (0, [1.0, 2.0, 3.0, 4.0, 5.0]),
        (1, [1e-150, 0.0, -0.0, 0.0, 0.5]),
        (2, [-1e-300, 0.5, -0.0, 7.25, -3.0]),
        (3, [2.0, -1.0, 1e300, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.cosine for r in cosine_to_query(df, query).collect()}
    for vid, v in rows:
        exp = _fold_cosine(v, [float(x) for x in query])
        assert _same_double(got[vid], exp), (vid, got[vid], exp)


def test_zero_norm_vectors_score_null(spark):
    """An all-zero vector and one whose squares underflow have a zero
    norm: every cosine operator scores them NULL (never passes a verify
    threshold, ranks last) instead of failing the query on an ANSI
    division by zero, and the nonzero rows keep the fold's bits."""
    from feature_engineering_spark.operators.dedup import embedding_neardup_lsh
    from feature_engineering_spark.operators.similarity import ivf_assign

    v, zero, tiny = [1.0, 2.0, 3.0, 4.0], [0.0] * 4, [1e-200] * 4
    rows = [(0, zero), (1, tiny), (2, v), (3, v), (4, zero)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [4.0, 3.0, 2.0, 1.0]
    got = {r.vec_id: r.cosine for r in cosine_to_query(df, q).collect()}
    assert got[0] is None and got[1] is None and got[4] is None
    assert _same_double(got[2], _fold_cosine(v, q)) and got[3] == got[2]
    assert all(r.cosine is None for r in cosine_to_query(df, zero).collect())
    top = brute_force_topk(df, q, k=5).collect()
    assert [r.vec_id for r in top] == [2, 3, 0, 1, 4]
    cents = [(0, zero), (1, [1.0] * 4), (2, [-1.0] * 4)]
    cid = {r.vec_id: r.centroid_id for r in ivf_assign(df, cents).collect()}
    assert cid[2] == cid[3] == 1  # the zero centroid never wins
    assert cid[0] == cid[1] == cid[4] == 2  # all-NULL scores tie: highest cid
    top = ivf_topk(df, q, cents, k=5, nprobe=1).collect()
    assert [r.vec_id for r in top] == [2, 3]
    # the two zero rows share every SRP bucket, so they reach the verify
    pairs = embedding_neardup_lsh(df, dim=4, threshold=0.5).collect()
    assert [(r.a, r.b) for r in pairs] == [(2, 3)]


def test_ivf_recall(spark, emb, emb_np):
    ids, M = emb_np
    q = M[ids == 0][0].astype("float64")
    cents = [(int(i), list(map(float, M[ids == i][0]))) for i in range(16)]
    brute = set(
        brute_force_topk(emb.where(F.col("vec_id") != 0), list(q), k=10)
        .toPandas()["vec_id"]
    )
    approx = set(
        ivf_topk(emb.where(F.col("vec_id") != 0), list(q), cents, k=10, nprobe=4)
        .toPandas()["vec_id"]
    )
    recall = len(brute & approx) / 10
    assert recall >= 0.3, recall  # nprobe=4/16 buckets of random vectors
    # and everything IVF returns is a real vector with sane score
    assert approx <= set(ids.tolist())


def test_media_features_plumbing(spark):
    media = synthesize_media(spark, 30, seed=42)
    out = media_features(media, frame_stride=2).toPandas().sort_values("media_id")
    meta = media.select("media_id", "meta.*").toPandas().sort_values("media_id")
    assert len(out) == 30
    assert (out["width"].to_numpy() == meta["width"].to_numpy()).all()
    assert (out["n_frames"].to_numpy() == meta["n_frames"].to_numpy()).all()
    # frame sampling: ceil(n_frames / stride)
    exp_sampled = -(-meta["n_frames"].to_numpy() // 2)
    assert (out["sampled_frames"].to_numpy() == exp_sampled).all()
    assert out["mean_intensity"].between(0, 255).all()
    assert out["resized_checksum"].notna().all()


def test_media_features_deterministic(spark):
    a = media_features(synthesize_media(spark, 20)).toPandas().sort_values("media_id")
    b = media_features(synthesize_media(spark, 20)).toPandas().sort_values("media_id")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_media_bad_payload_null_row(spark):
    df = spark.createDataFrame(
        [(99, "image", b"NOTMAGIC", {"width": 1, "height": 1, "n_frames": 1, "codec": "x"})],
        schema="media_id long, media_type string, payload binary, "
               "meta struct<width:int, height:int, n_frames:int, codec:string>",
    )
    out = media_features(df).toPandas()
    assert len(out) == 1 and out["width"].isna().all()


def _pgm(w: int, h: int, px: np.ndarray, comment: bool = False) -> bytes:
    hdr = b"P5\n"
    if comment:
        hdr += b"# generated fixture\n"
    hdr += f"{w} {h}\n255\n".encode()
    return hdr + px.astype(np.uint8).tobytes()


def test_pgm_decoder_pure_python():
    """Real-codec branch, no Spark: the stdlib PGM(P5) parser round-trips
    pixels and survives comments/whitespace; truncated/garbage is None."""
    from feature_engineering_spark.functions.media_worker import (
        decode_pgm,
        parse_header,
    )

    px = (np.arange(12 * 7) * 13 % 256).astype(np.uint8)
    img = decode_pgm(_pgm(12, 7, px, comment=True))
    assert img.shape == (7, 12)
    assert (img.ravel() == px).all()
    assert parse_header(_pgm(12, 7, px)) == (12, 7, 1)
    assert decode_pgm(b"P5\n3 3\n255\n" + b"\x00" * 8) is None  # truncated
    assert decode_pgm(b"P5\nx y\n255\n0000") is None  # garbage dims
    assert parse_header(b"NOTPGM") is None


def test_media_features_real_pgm_codec(spark):
    """use_real_codecs=True is a TESTED branch: real PGM payloads decode
    through the stdlib parser and produce the same stats numpy computes."""
    rng = np.random.default_rng(3)
    rows, expected = [], {}
    for i in range(10):
        w, h = int(rng.integers(8, 20)), int(rng.integers(8, 20))
        px = rng.integers(0, 256, size=w * h, dtype=np.uint8)
        rows.append((i, "image", _pgm(w, h, px, comment=(i % 2 == 0)), None))
        arr = px.astype("float64")
        ys, xs = (np.arange(8) * h) // 8, (np.arange(8) * w) // 8
        resized = px.reshape(h, w)[np.ix_(ys, xs)]
        expected[i] = (w, h, float(arr.mean()), float(arr.std()),
                       int(resized.astype("int64").sum()))
    df = spark.createDataFrame(
        rows,
        schema="media_id long, media_type string, payload binary, "
               "meta struct<width:int, height:int, n_frames:int, codec:string>",
    )
    out = media_features(df, use_real_codecs=True).toPandas().set_index("media_id")
    for i, (w, h, mean, std, chk) in expected.items():
        r = out.loc[i]
        assert (r["width"], r["height"], r["n_frames"]) == (w, h, 1)
        assert abs(r["mean_intensity"] - mean) < 1e-9
        assert abs(r["std_intensity"] - std) < 1e-9
        assert r["resized_checksum"] == chk


def test_media_features_pgm_rejected_without_flag(spark):
    """Default mode must NOT silently decode non-FMM1 payloads — a P5 row
    degrades to a null-feature row (one bad row must never kill the whole
    mapInPandas stage), while the same payload decodes with the flag on."""
    px = np.zeros(16, dtype=np.uint8)
    df = spark.createDataFrame(
        [(0, "image", _pgm(4, 4, px), None)],
        schema="media_id long, media_type string, payload binary, "
               "meta struct<width:int, height:int, n_frames:int, codec:string>",
    )
    [row] = media_features(df, use_real_codecs=False).collect()
    assert row["width"] is None and row["mean_intensity"] is None
    [row] = media_features(df, use_real_codecs=True).collect()
    assert (row["width"], row["height"]) == (4, 4)


def test_media_metadata_stats_prunes_payload(spark, tmp_path):
    """Metadata-only aggregation must not read the binary payload: the
    parquet ReadSchema excludes it (Catalyst column pruning)."""
    path = str(tmp_path / "media.parquet")
    synthesize_media(spark, 30).write.parquet(path)
    stats = media_metadata_stats(spark.read.parquet(path))
    assert stats.count() == 3  # image/audio/video
    plan = stats._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "payload" not in read_schema
    assert "meta" in read_schema


def test_streaming_sessionize_smoke(spark, pages_df):
    """Batch-mode execution of the streaming aggregations (Structured
    Streaming runs the same plan incrementally); full streaming smoke via
    memory sink on a tiny slice."""
    from feature_engineering_spark.streaming.stream_ops import (
        streaming_sessionize,
        streaming_window_stats,
    )

    sess = streaming_sessionize(pages_df)  # batch df through session_window
    assert sess.count() > 0
    from feature_engineering_spark.operators.windows import derive_text_signals

    ws = streaming_window_stats(derive_text_signals(pages_df))
    assert ws.count() > 0


def test_ivf_kmeans_prunes_where_first_c_degenerates(spark):
    """When early ids all come from one cluster, first-C-by-id centroids
    degenerate: nearly the whole table collapses into one bucket, so a
    probe scans ~everything (recall survives but IVF prunes nothing — the
    scale failure). k-means centroids keep recall@20 >= 0.9 with nprobe=1
    while actually bounding the scanned bucket. Deterministic (seeded data,
    seeded k-means)."""
    from feature_engineering_spark.operators.similarity import (
        ivf_assign,
        kmeans_centroids,
    )

    rng = np.random.default_rng(2)
    centers = rng.normal(size=(4, 8)) * 5.0
    assignments = [0] * 30 + [i % 4 for i in range(370)]
    rows = [
        (vid, (centers[c] + rng.normal(scale=0.3, size=8)).tolist())
        for vid, c in enumerate(assignments)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    query = (centers[3] + rng.normal(scale=0.3, size=8)).tolist()
    truth = set(brute_force_topk(df, query, k=20).toPandas().vec_id)

    first_c = [
        (int(r.vec_id), list(r.embedding))
        for r in df.where(F.col("vec_id") < 16).collect()
    ]
    km = kmeans_centroids(df, k=8, seed=7)

    def max_bucket(cents):
        sizes = (
            ivf_assign(df, cents).groupBy("centroid_id").count().toPandas()
        )
        return int(sizes["count"].max())

    rec_km = len(set(
        ivf_topk(df, query, km, k=20, nprobe=1).toPandas().vec_id
    ) & truth) / 20.0
    assert rec_km >= 0.9, rec_km
    # pruning: k-means buckets stay near-balanced; degenerate first-C
    # centroids pile most of the table into single buckets
    assert max_bucket(km) <= 150
    assert max_bucket(first_c) >= 2 * max_bucket(km)


def test_ivf_assign_no_row_inflation_at_c256(spark):
    """ivf_assign must be a PROJECTION: N rows in, N rows out, argmax
    matching numpy, and a physical plan with no join (the old broadcast
    cross join materialized N x C intermediate rows and re-aggregated —
    at C=256 a 256-fold inflation plus a full hash shuffle)."""
    from feature_engineering_spark.operators.similarity import ivf_assign

    rng = np.random.default_rng(5)
    dim, n, c = 8, 200, 256
    M = rng.normal(size=(n, dim))
    C = rng.normal(size=(c, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in M[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    cents = [(j, [float(x) for x in C[j]]) for j in range(c)]
    out = ivf_assign(df, cents)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan

    got = {r["vec_id"]: r["centroid_id"] for r in out.collect()}
    cos = (M @ C.T) / (
        np.linalg.norm(M, axis=1)[:, None] * np.linalg.norm(C, axis=1)[None, :]
    )
    exp = cos.argmax(axis=1)
    assert len(got) == n
    assert all(got[i] == exp[i] for i in range(n))
