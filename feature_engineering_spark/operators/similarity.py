"""Similarity search over embedding columns: brute-force cosine top-k
(exactness baseline) and an IVF-style bucketed variant (the scale path).

At 10^12-doc scale brute force is a full scan per query — IVF bounds the
scanned fraction to nprobe/ncentroids. Centroid placement:
``kmeans_centroids`` (Spark ML k-means, fit on a sample — the production
path; recall at scale hinges on centroid quality) or deterministic
first-C-by-id (kept as the DuckDB-oracle fixture: k-means isn't
SQL-replicable). Either way the operator's shuffle shape is the same:
one broadcast of centroids, one bucket-pruned scan.

The cosine fold (``_cosine_sql``, also the dedup operators' verify) and
the vector literals are built as SQL text that Spark parses in one call.
Through the Column API every literal and operator costs 3-16 Py4J round
trips and every higher-order lambda 40-50. The lambda parameters are
named x and y, the names PySpark gives them, so the plans are the ones
the Column API built. The SRP-LSH signature does not use this fold as
SQL: ``functions/cosine_kernel.srp_signer`` computes ``_dot_sql``'s
left fold and sign rule in one Arrow map, because the SQL form is a
24 KB expression with nbits x dim literals that every build parses and
every row evaluates as interpreted folds.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _double_sql(x) -> str:
    """One double as a SQL literal. ``repr`` round-trips every finite
    double exactly; the ``D`` suffix keeps it a DOUBLE (a bare ``0.5`` is
    a DECIMAL). NaN and the infinities have no numeric literal."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}D"


def _vector_sql(vec) -> str:
    """A numeric vector as an array<double> SQL literal."""
    return f"array({', '.join(_double_sql(w) for w in vec)})"


def _dot_sql(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (x, y) -> x + y)"


def _norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (x, y) -> x + y * y))"


def _cosine_sql(a: str, b: str) -> str:
    """THE cosine fold every similarity/dedup operator uses, over two SQL
    array<double> operands: left-associated sequential sums, so values
    are bit-stable across callers. A zero norm product (an all-zero
    vector, or one whose squares underflow) scores NULL: with ANSI on a
    division by zero fails the whole query. NULL passes no threshold and
    ranks last. ``try_divide`` rather than a divide by ``nullif(...)``:
    Spark rewrites ``nullif`` into a common expression that a join
    condition inlines twice, so the verify would fold both norms twice
    per candidate pair."""
    return f"try_divide({_dot_sql(a, b)}, {_norm_sql(a)} * {_norm_sql(b)})"


def cosine_to_query(df: DataFrame, query: list[float], emb: str = "embedding") -> DataFrame:
    cos = _cosine_sql(f"CAST({emb} AS ARRAY<DOUBLE>)", _vector_sql(query))
    return df.withColumn("cosine", F.expr(cos))


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    emb: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine: scan + TakeOrderedAndProject (no shuffle of
    the full table, only the per-partition top-k heads move).

    Ordering is by the RAW cosine with id tiebreak — never by a rounded
    value (round-then-rank can pick different ids than rank-then-round
    near rounding boundaries); callers round once on emission."""
    scored = cosine_to_query(df, query, emb)
    return (
        scored.select(id_col, "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 16,
    emb: str = "embedding",
    seed: int = 7,
    sample_fraction: float | None = None,
    max_iter: int = 20,
) -> list[tuple[int, list[float]]]:
    """Centroid placement via Spark ML k-means — the production path for
    ivf_topk (first-C-by-id centroids mis-bucket skewed data; recall@k
    with k-means vs first-C is property-tested in
    tests/test_similarity_multimodal.py).

    Fit on a ``sample_fraction`` of the table when the corpus is large:
    centroid quality needs a sketch of the distribution, not every row —
    at 10^12 docs, fit on ~10^6 sampled rows. Deterministic for a fixed
    seed. Returns the same (centroid_id, vector) list shape ivf_topk
    consumes (tiny: k rows, driver-side then broadcast)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    d = df.select(
        array_to_vector(F.col(emb).cast("array<double>")).alias("features")
    )
    if sample_fraction is not None:
        d = d.sample(fraction=sample_fraction, seed=seed)
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(d)
    return [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    emb: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid (cosine) in ONE
    projection: the centroid table ships as an array<struct> literal in
    the plan (it is tiny — C rows), each row scores it with
    transform(...) and takes array_max of (score, cid) structs.

    Rows stay N throughout — the previous implementation cross-joined the
    broadcast centroid table (N x C intermediate rows) and re-aggregated
    the argmax with a groupBy, i.e. a C-fold row inflation plus a full
    hash shuffle of the table for work that is per-row. array_max on
    (score, cid) structs keeps the exact tie-break of the old
    max(struct(score, cid)) aggregate: highest score, then highest cid
    (a zero-norm vector scores NULL everywhere and takes the highest cid).
    The per-element lambda keeps codegen size O(1) regardless of C x dim
    (an all-literal when-chain blows up Catalyst's expression tree)."""
    cents = ", ".join(
        f"struct(CAST({int(cid)} AS INT) AS cid, {_vector_sql(vec)} AS cvec)"
        for cid, vec in centroids
    )
    # the outer lambda is x as PySpark would name it; the folds' own (x, y)
    # shadow it, and x.cvec is only read outside their bodies
    cos = _cosine_sql(f"CAST({emb} AS ARRAY<DOUBLE>)", "x.cvec")
    scored = f"transform(array({cents}), x -> struct({cos} AS s, x.cid AS cid))"
    return df.withColumn("centroid_id", F.expr(f"array_max({scored}).cid"))


def ivf_topk(
    df: DataFrame,
    query: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 2,
    emb: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF search: rank centroids against the query driver-side, scan only
    the nprobe nearest buckets, exact cosine within them. Approximate —
    recall vs brute force is property-tested
    (tests/test_similarity_multimodal.py)."""
    def cos(a, b):
        # a zero norm product ranks last, as _cosine_sql's NULL does
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return sum(x * y for x, y in zip(a, b)) / n if n else -math.inf

    probe = [cid for cid, cvec in sorted(
        centroids, key=lambda c: -cos(query, c[1])
    )[:nprobe]]
    assigned = ivf_assign(df, centroids, emb, id_col)
    bucket = assigned.where(F.col("centroid_id").isin(probe))
    return brute_force_topk(bucket, query, k, emb, id_col)
