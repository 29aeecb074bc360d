"""SparkSession factory with scale-aware defaults.

``get_spark`` applies one conf table, calls ``getOrCreate`` and sets the
shuffle partition count; it runs no Spark job. Local-mode testing uses
``local[N]``; the same confs are what we would submit to a real cluster
(AQE, Arrow, skew-join). Keep every tunable in one place so bench runs
can report the exact config.

There is no session warmup: at 4 cores a synthetic JIT warmup pipeline
cost more at start (~7 s) than it saved on the first operation (~5 s).
Without it, perfbench's setup + cold op median (5 interleaved pairs)
went 27.2 -> 22.5 s on queries and 32.0 -> 31.8 s on extract.

Python workers start from ``worker_daemon``, which runs pyspark's own
daemon after taking Spark's archives off the import path (see that
module). The executors' Python must therefore be able to import this
engine when the daemon starts, before any task ships its files.
``get_spark`` sets ``spark.executorEnv.PYTHONPATH`` to the engine's root,
which covers local mode from any working directory and a ``--py-files``
zip on the driver's host. On a real cluster, YARN's ``--py-files`` puts
the zip on the executors' path; elsewhere set
``spark.executorEnv.PYTHONPATH`` (through ``extra_confs``) to where the
executors find the engine.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory holding ``feature_engineering_spark``, or the zip when the
# engine was imported from ``--py-files``.
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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
    # — which is why the joined LSH verifies keep their folds, and the
    # within-bucket SRP verify left the JVM for a grouped-map numpy fold
    # rather than a wider chain; see OPTIMIZATION_r06.md "negative
    # results" and operators/dedup._srp_bucket_pairs). Per-JVM, data-independent;
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
    # worker_daemon keeps Spark's archives off the workers' import path:
    # each task's import-cache invalidation re-read them, a 0.268 s median
    # per task, now 0.15 ms (4 vCPUs, timed inside the workers). See the
    # module docstring for the executors' PYTHONPATH.
    "spark.python.daemon.module": "feature_engineering_spark.worker_daemon",
    "spark.executorEnv.PYTHONPATH": _ENGINE_ROOT,
}


def get_spark(
    app_name: str = "feature_engineering_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, or to the
    number of CPUs this process may run on when that env var is unset.
    ``shuffle_partitions`` defaults to the session's default parallelism
    (N for ``local[N]`` and ``local[N,F]``, the core count for
    ``local[*]``); on a real cluster pass ~2-3x total cores and let AQE
    coalesce.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in _BASE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if shuffle_partitions is None:
        shuffle_partitions = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark
