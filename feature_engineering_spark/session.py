"""SparkSession factory with scale-aware defaults.

Local-mode testing uses ``local[N]``; the same confs are what we would
submit to a real cluster (AQE, Arrow, skew-join). Keep every tunable in
one place so bench runs can report the exact config.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs chosen for the 100 TB design point, applied identically in
# local-mode tests so the plans we inspect are the plans we'd ship:
# - AQE on: runtime coalescing + skew-join splitting.
# - Arrow on with a bounded batch size: one applyInPandas group should
#   arrive in as few batches as possible without OOMing an executor.
# - shuffle.partitions set to cores locally; on a real cluster this is
#   ~2-3x total executor cores (AQE coalesces the tail).
_BASE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB scan splits
    "spark.ui.enabled": "false",
    # -XX:-DontCompileHugeMethods: HotSpot refuses to JIT methods over
    # 8000 bytecode bytes BY DEFAULT. methodSplitThreshold (below) keeps
    # generated code under that cliff when codegen CAN split (expression
    # lists), but a single wide nested expression is one unsplittable
    # method — e.g. a 64-term array dot-product chain compiles to ~15 KB
    # of bytecode and then runs in the bytecode INTERPRETER (r6 measured,
    # 20M-row scan-side projection: 27s default vs 2.4s with the flag).
    # The flag removes that cliff wherever it can bite; the benched suite
    # itself is unchanged by it (interleaved A/B at sf1.0-proxy: sum of
    # per-query minima 22.8s vs 22.4s — noise), so it is protective, not
    # a tuned local win. NOTE the limit it lifts is per-method JIT
    # admission, not a codegen-size license: C2 still silently bails on
    # far larger FUSED methods (a 3x64-term chain inside a join stage
    # stayed uncompiled and ran 5x slower than the interpreted HOF fold
    # — which is why the LSH verifies deliberately keep their folds; see
    # OPTIMIZATION_r06.md "negative results"). Per-JVM, data-independent;
    # a real cluster wants it on executors too (below; ignored by
    # local[N] where executor == driver JVM).
    "spark.driver.extraJavaOptions":
        "-Djava.io.tmpdir=/tmp -XX:-DontCompileHugeMethods",
    "spark.executor.extraJavaOptions": "-XX:-DontCompileHugeMethods",
    # Shuffle/spill to tmpfs: the sandbox's /tmp is a virtual disk whose
    # bandwidth doesn't scale with cores (measured as a flat wall-clock
    # floor from local[8] to local[32]); /dev/shm models the NVMe-local
    # shuffle dirs a real cluster provisions.
    "spark.local.dir": "/dev/shm/spark-local",
    # InferFiltersFromGenerate synthesizes size(e)>0 AND isnotnull(e)
    # above every explode; predicate pushdown then substitutes the full
    # array-building expression through the projection and into the scan
    # stage. Every explode in this engine generates from a COMPUTED array
    # (shingles, n-grams, token splits — interpreted higher-order
    # functions), so the "free" inferred filter re-evaluates the whole
    # array construction 2x per row in the scan stage (r6 measured: the
    # minhash shingle explode went 27.7s -> 0.9s at sf1.0 once excluded;
    # the filter itself never prunes computed arrays profitably). Rows
    # with empty/null arrays are dropped by the generator itself, so
    # excluding the rule cannot change results.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # Split generated Java functions at 256 chars instead of 1024: the
    # wide-aggregate codegen (32 minhash min() updates, 35-feature
    # emissions) otherwise produces single update methods too large for
    # the JVM JIT's compile limit, leaving the per-row hot loop
    # interpreted on its one and only execution (r6 A/B at sf1.0: the
    # minhash signature pass 7.4s -> 5.3s; suite unchanged elsewhere).
    # Method-call overhead for ordinary-sized expressions is noise by
    # comparison.
    "spark.sql.codegen.methodSplitThreshold": "256",
}


def _warmup(spark: SparkSession) -> None:
    """Pre-JIT the engine's hot framework paths at session start.

    A fresh JVM runs Catalyst, janino, the shuffle writers, UnsafeRow
    serde and the codegen'd operator loops in the bytecode INTERPRETER
    until HotSpot's C2 thresholds trip — measured (JFR, r6): the first
    queries of a fresh session spend 60+ CPU-seconds of compiler-thread
    time on *generic* Spark/janino/java.io methods, none of it specific
    to the query being timed, all of it landing in that query's wall
    time. Long-lived clusters amortize this across jobs; a short-lived
    local session pays it inside the first few queries unless the
    session factory warms the paths first. This runs a ~2-4s synthetic
    pipeline over ``spark.range`` data touching shuffle + hash
    aggregate + window + broadcast and sort-merge join + explode, which
    interleaved A/B (r6, sf0.1) showed cuts the first-run time of the
    window/join queries 20-33% with zero effect on steady state. Pure
    JIT/codegen warmup: no input data is read, nothing is cached, no
    query result is precomputed. Opt out with SPARK_GRAFT_WARMUP=0
    (e.g. for micro-harnesses that do their own warmup accounting).
    """
    from pyspark.sql import Window, functions as F

    # Row count scales with parallelism: enough per-core iterations to
    # cross C2's invocation thresholds without making local[1] crawl.
    n = min(2_000_000, 50_000 * spark.sparkContext.defaultParallelism)
    df = spark.range(0, n).select(
        F.col("id"),
        (F.col("id") % 997).alias("k"),
        (F.col("id") % 31).alias("g"),
        (F.rand(7) * 100).alias("v"),
        F.concat(F.lit("tok_"), (F.col("id") % 50).cast("string")).alias("s"),
    )
    agg = df.groupBy("k").agg(
        F.sum("v").alias("sv"), F.min("id").alias("mi"),
        F.max("v").alias("mx"), F.count("*").alias("c"),
        F.avg("v").alias("av"),
    )
    w = Window.partitionBy("g").orderBy("id")
    win = (
        df.withColumn("rn", F.row_number().over(w))
        .withColumn("lg", F.lag("v").over(w))
        .withColumn("rs", F.sum("v").over(w.rowsBetween(-10, 0)))
    )
    dim = spark.range(0, 997).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("kk"))
    j1 = (agg.join(F.broadcast(dim), "k")
          .select(F.sum(F.col("sv") + F.col("kk")).alias("x")))
    agg2 = agg.select(F.col("k").alias("k2"), F.col("sv").alias("sv2"))
    j2 = (win.join(agg2, win.g == agg2.k2, "left")
          .select(F.sum("rs").alias("y")))
    arr = (df.select(F.split(F.col("s"), "_").alias("a"), "v")
           .select(F.explode(F.col("a")).alias("e"), "v")
           .groupBy("e").agg(F.sum("v").alias("sv")))
    spark.sparkContext.setJobDescription("session-warmup (JIT)")
    try:
        for q in (j1, j2, arr):
            q.write.format("noop").mode("overwrite").save()
    finally:
        spark.sparkContext.setJobDescription(None)


def get_spark(
    app_name: str = "feature_engineering_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster pass ~2-3x total cores and let AQE coalesce.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in _BASE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if getattr(spark, "_fes_warmed", False):
        return spark
    # marked once per session, even on getOrCreate reuse or when opted out
    spark._fes_warmed = True
    if os.environ.get("SPARK_GRAFT_WARMUP", "1") != "0":
        try:
            _warmup(spark)
        except Exception as exc:  # never block session creation on warmup
            import warnings

            warnings.warn(f"session warmup skipped: {exc}")
    return spark
