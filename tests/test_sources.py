"""Generator contracts from FIXTURES.md F1/F2: determinism, skew,
monotone per-url timestamps, session-gap structure, byte-stable html."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from feature_engineering_spark.sources.pages import generate_labels, generate_pages


def test_deterministic():
    a = generate_pages(2000, seed=42)
    b = generate_pages(2000, seed=42)
    assert a.equals(b)
    la = generate_labels(2000, seed=42)
    lb = generate_labels(2000, seed=42)
    assert la.equals(lb)


def test_schema_and_shapes(pages_pdf):
    assert list(pages_pdf.columns) == ["url", "warc_ts", "html", "text", "lang"]
    assert len(pages_pdf) == 5000
    assert pages_pdf["html"].map(type).eq(bytes).all()
    assert set(pages_pdf["lang"].unique()) <= {"en", "de", "da", "fr"}


def test_hot_domain_skew(pages_pdf):
    dom = pages_pdf["url"].str.extract(r"https://([^/]+)/")[0]
    hot = dom.isin(["site00.example.com", "site01.example.com"]).mean()
    assert 0.45 < hot < 0.75, f"hot-domain share {hot}"


def test_per_url_monotone_ts_and_gaps(pages_pdf):
    g = pages_pdf.groupby("url")["warc_ts"]
    diffs = g.diff().dt.total_seconds().dropna()
    assert (diffs > 0).all()
    assert (diffs > 1800).mean() > 0.01  # some session-breaking gaps
    assert ((diffs >= 30) & (diffs <= 600)).mean() > 0.8


def test_html_derived_from_text(pages_pdf):
    row = pages_pdf.iloc[7]
    assert row["html"] == f"<html><body>{row['text']}</body></html>".encode()


def test_labels_shape(labels_pdf):
    assert list(labels_pdf.columns) == ["url", "label_ts", "iri", "defect_counts"]
    assert labels_pdf["iri"].between(0.5, 5.0).all()
    assert all(len(c) == 15 for c in labels_pdf["defect_counts"])
    # labels cover a strict subset of page urls
    purls = set(generate_pages(5000, seed=42)["url"].unique())
    lurls = set(labels_pdf["url"].unique())
    assert lurls < purls
    assert np.mean([u in lurls for u in purls]) < 0.95


def test_jdbc_pushdown_subquery_text():
    from feature_engineering_spark.sources.io import jdbc_pushdown_subquery

    assert jdbc_pushdown_subquery("events") == "(SELECT * FROM events) AS src"
    got = jdbc_pushdown_subquery(
        "public.events",
        columns=["user_id", "ts"],
        predicates=["ts >= '2024-01-01'", "value > 0"],
    )
    assert got == (
        "(SELECT user_id, ts FROM public.events"
        " WHERE (ts >= '2024-01-01') AND (value > 0)) AS src"
    )


def test_read_jdbc_against_embedded_derby(spark, tmp_path):
    """read_jdbc against a live database: Derby's embedded driver ships
    in pyspark's jars, and the database lives in the JVM's memory. The
    pushdown subquery's projection and predicates run inside Derby, and
    a range-partitioned read issues num_partitions range queries that
    together return exactly the plain read's rows."""
    from feature_engineering_spark.sources.io import read_jdbc

    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(tmp_path / "derby.log")
    )
    url = "jdbc:derby:memory:fes_read_jdbc;create=true"
    rows = [(i % 7, 1000 + i, i * 0.5, "buy" if i % 3 == 0 else "click")
            for i in range(60)]
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        st.execute("CREATE TABLE events "
                   "(user_id INT, ts BIGINT, val DOUBLE, kind VARCHAR(8))")
        st.execute("INSERT INTO events VALUES " + ", ".join(
            f"({u}, {t}, {v!r}, '{k}')" for u, t, v, k in rows))
    finally:
        conn.close()

    pushed = read_jdbc(spark, url, "events", columns=["user_id", "ts"],
                       predicates=["kind = 'buy'", "ts >= 1010"])
    assert [c.lower() for c in pushed.columns] == ["user_id", "ts"]
    assert sorted(tuple(r) for r in pushed.collect()) == sorted(
        (u, t) for u, t, _, k in rows if k == "buy" and t >= 1010
    )

    plain = read_jdbc(spark, url, "events")
    ranged = read_jdbc(spark, url, "events", partition_column="ts",
                       lower_bound=1000, upper_bound=1060, num_partitions=3)
    assert ranged.rdd.getNumPartitions() == 3
    assert sorted(map(tuple, ranged.collect())) == sorted(
        map(tuple, plain.collect())) == sorted(rows)


def test_drop_duplicate_columns(spark):
    from feature_engineering_spark.operators.split import drop_duplicate_columns

    a = spark.createDataFrame([(1, "x")], "id long, name string")
    b = spark.createDataFrame([(1, "y", 2.0)], "id long, name string, v double")
    j = a.join(b, a.id == b.id)  # duplicate id + name columns
    assert j.columns.count("id") == 2
    out = drop_duplicate_columns(j)
    assert out.columns == ["id", "name", "v"]
    row = out.collect()[0]
    assert row["name"] == "x" and row["v"] == 2.0  # first occurrence kept
    # no-op on unique schemas
    assert drop_duplicate_columns(a) is a


def test_drop_duplicate_columns_verify_values(spark):
    """verify_values guards the name-based dedup's assumption: identical
    content passes, divergent content raises instead of silently dropping."""
    import pytest

    from feature_engineering_spark.operators.split import drop_duplicate_columns

    a = spark.range(5).select("id", (F.col("id") * 2).alias("v"))
    b = spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    same = a.join(b, a["id"] == b["k"]).select("id", a["v"], b["v"])
    out = drop_duplicate_columns(same, verify_values=True)
    assert out.columns == ["id", "v"] and out.count() == 5

    c = spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    diff = a.join(c, a["id"] == c["k"]).select("id", a["v"], c["v"])
    with pytest.raises(ValueError, match="DIFFERENT content"):
        drop_duplicate_columns(diff, verify_values=True)


def test_pages_distributed_schema_order_and_partition_independence(spark):
    """The distributed generator: the pages schema, strictly increasing
    ``warc_ts`` within each url, and the same rows whatever the shuffle
    partition count the url plan is spread over."""
    from feature_engineering_spark.sources.pages import pages_distributed

    conf = spark.conf.get("spark.sql.shuffle.partitions")
    frames = []
    try:
        for n in ("2", "5"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            df = pages_distributed(spark, 3000, seed=7)
            assert df.dtypes == [
                ("url", "string"), ("warc_ts", "timestamp_ntz"),
                ("html", "binary"), ("text", "string"), ("lang", "string"),
            ]
            frames.append(
                df.toPandas().sort_values(["url", "warc_ts"], kind="stable")
                .reset_index(drop=True)
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", conf)
    a, b = frames
    assert len(a) == 3000
    assert (a.groupby("url")["warc_ts"].diff().dropna().dt.total_seconds() > 0).all()
    assert a.equals(b)
