"""SparkSession helpers tuned for the log-pipeline workload.

Local-mode testing stands in for a multi-executor cluster; the confs
below are the ones that matter identically at 1000-executor scale:
AQE (runtime replan + skew-join splitting), Arrow for pandas-UDF
batches, shuffle-partition sizing, and broadcast threshold for the
enrichment lookup joins.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    master: str | None = None,
    app_name: str = "otelcol-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]``; on a real
    cluster the caller passes nothing and spark-submit supplies the
    master, so every conf here is cluster-safe.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers import the engine when they unpickle its UDFs:
        # give them the directory that holds this package (the checkout
        # root, or the zip itself under --py-files), not the driver's cwd
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # snappy (Spark's default): zstd halves write throughput on the
        # hot sink path — measured 87.5s -> 70.7s (2 cores) and
        # 35.7s -> 20.6s (8 cores) for the 5M-row per-sink write, and
        # its heavier per-writer memory traffic is what dragged the
        # N->4N write-phase scaling to 0.39 (BENCH/BASELINE.md). Cold
        # archival tables can opt into zstd via SPARK_GRAFT_PARQUET_CODEC.
        .config("spark.sql.parquet.compression.codec",
                os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "snappy"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
