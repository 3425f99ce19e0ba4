"""SparkSession construction with scale-oriented defaults.

One place to pin the configs that matter at 100 TB: AQE (runtime coalescing
+ skew-join splitting), Arrow for every pandas-UDF boundary, sane shuffle
partitioning. Tests and bench both come through here so plans are comparable.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


def default_driver_memory() -> str:
    """8g, or a third of the host's physical memory when that is less
    (whole GB, at least 1g): the heap is pre-touched below, so two
    sessions at 8g on a 15 GB host get one of them OOM-killed."""
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(8, round(host / 3 / 2**30)))}g"


def get_spark(
    app_name: str = "pilsner-spark",
    cpus: Optional[int] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    # make the package importable in executor Python workers regardless of
    # the driver script's cwd — local-mode equivalent of shipping the
    # package via `spark-submit --py-files` (production path)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{existing}" if existing else repo_root

    if cpus is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus_env}]"
        cpus_for_shuffle = os.cpu_count() or 8 if cpus_env == "*" else int(cpus_env)
    else:
        master = f"local[{cpus}]"
        cpus_for_shuffle = cpus
    if shuffle_partitions is None:
        # 2x cores locally; on a real cluster this is overridden per job
        shuffle_partitions = max(8, 2 * cpus_for_shuffle)
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing, skew-join splitting — the
        # backstop for skewed blocking keys (explicit salting is the primary)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for pandas UDFs (the normalization/scan kernels)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # 8MB, not the 128MB default: the engine's hot tables (turn-key
        # pairs, block keys) are narrow and dictionary-compress to a few
        # bytes per row, so a byte-budget scan at 128MB packs tens of
        # millions of rows into a handful of input partitions and the
        # downstream map stages lose all parallelism. A smaller scan
        # budget restores it without a repartition shuffle (measured: the
        # repartition alternative cost ~30% of the scoring stage). Wide
        # tables just get proportionally more, still-sizeable, tasks.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8388608"),
        )
        .config("spark.driver.memory", driver_mem)
        # Fixed, pre-touched heap: growing the heap mid-job page-faults
        # gigabytes under load, which on virtualized hosts shows up as
        # 40-60% kernel time across every core (measured: the scoring
        # stage ran 2.5x slower without this). Paying the fault cost once
        # at JVM start keeps task runtimes compute-bound and predictable —
        # the same reasoning applies to executor JVMs on a real cluster.
        .config("spark.driver.extraJavaOptions", f"-Xms{driver_mem} -XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def spread_input(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the default parallelism when it arrives with
    fewer partitions. Text tables compress so well that even the lowered
    scan budget above turns one small parquet file into a single
    partition, serializing every expression-heavy or Python operator
    downstream (a 5k-doc signature computation measured 12s on one core vs
    <2s spread). Repartitioning costs one narrow shuffle of the raw rows —
    always cheaper than losing all parallelism. Streaming DataFrames pass
    through untouched (micro-batch sizing is the streaming engine's job,
    and ``df.rdd`` is illegal on a streaming plan)."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
