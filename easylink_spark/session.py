"""SparkSession construction tuned for this engine.

The engine targets multi-executor clusters (spark-submit --py-files); in the
sandbox we run local[N].  All settings here are scale-oriented defaults:

- AQE on (runtime coalescing + skew-join splitting),
- Arrow on (every comparator UDF is a vectorized pandas UDF),
- UTC session timezone (oracle comparisons against DuckDB),
- one wave of tasks by default: shuffle partitions equal the default
  parallelism (the cores; AQE coalesces below that).  CPU-heavy operators
  take an explicit ``partitions=`` count, ``None`` meaning the default
  parallelism; callers that want a wider session pass
  ``shuffle_partitions=``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def get_spark(
    app_name: str = "easylink_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` uses ``local[*]``.  On a real cluster, callers pass no
    master at all via spark-submit; this helper only sets a master when one
    is not already configured.
    """
    # Ensure the package root is importable by executor Python workers
    # (pickled UDF closures reference easylink_spark modules); on a real
    # cluster this is spark-submit --py-files, locally it's PYTHONPATH.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and cores_env:
        cores = int(cores_env)
    master = f"local[{cores}]" if cores else "local[*]"
    # One wave of tasks per core.  Four waves amortize a stage's slowest
    # task, but at the engine's usual sizes the fixed cost of the extra
    # tasks (and of the files each writes) is what a run pays for.  Without
    # a known core count the width is set after the session starts, from
    # the default parallelism the master reports.
    n_shuffle = shuffle_partitions or cores

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # ER stage outputs are byte-small but CPU-heavy (text, per-row cost
        # scales with rows not bytes).  AQE's default 1 MB minPartitionSize
        # coalesces them to ONE partition, serializing every downstream
        # compute + parquet encode — the measured serial bottleneck of the
        # round-1 scaling run.  A 16 KB floor keeps parallelismFirst's
        # bytes/defaultParallelism target in charge instead.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        # count()-only stage statistics come from parquet footers, not scans
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Always use the sort-based shuffle writer (round 6).  Below the
        # default bypassMergeThreshold (200) Spark's bypass-merge writer
        # opens ONE FILE PER REDUCE PARTITION PER MAP TASK; at a 4x-cores
        # shuffle width that is map_tasks x partitions file
        # creates per shuffle — measured ~0.2 ms/block = 3.4 s of pure
        # filesystem overhead for a 40 KB repartition at local[32]/128
        # (guide §2.2: block count grows quadratically).  The sort writer
        # emits one spill file per map task regardless of partition count
        # (same 40k-row shuffle: 0.28 s; a 10M-row shuffle is equally fast).
        # On a real cluster shuffle.partitions exceeds 200 and the bypass
        # path never triggers, so this setting only removes the local /
        # small-width pathology; it does not change cluster behavior.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Comparator UDFs ship wide text batches over Arrow; keep batches
        # bounded so executor Python memory stays flat at scale.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if n_shuffle:
        builder = (
            builder.config("spark.sql.shuffle.partitions", str(n_shuffle))
            .config("spark.default.parallelism", str(n_shuffle))
        )
    # Only force a master when none is configured (spark-submit sets one).
    if not os.environ.get("SPARK_MASTER") and "SPARK_SUBMIT" not in os.environ:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # local[*] or a spark-submit master: match the width to the parallelism
    # unless the submitter chose one (Spark's own default is 200)
    if not n_shuffle and not spark.sparkContext.getConf().contains(
        "spark.sql.shuffle.partitions"
    ):
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
    return spark
