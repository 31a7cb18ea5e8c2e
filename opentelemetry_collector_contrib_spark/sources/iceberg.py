"""Iceberg table IO (the north_star's table format).

On a cluster with an Iceberg catalog configured
(``spark.sql.catalog.<name>`` + the iceberg-spark-runtime jar), the
pipeline reads/writes real Iceberg tables with hidden partitioning —
``bucket(N, url)`` gives the checkpoint-bucket layout natively and
snapshot isolation replaces the group-overwrite idempotence dance.
This sandbox ships no Iceberg jar, so every call degrades cleanly:
``iceberg_available`` gates, and the parquet-dir layout used by
plans/pipeline.py is the drop-in fallback (same schema, same
partition columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg catalog implementation is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read an Iceberg table (or a parquet-dir fallback path)."""
    if "/" in table or table.startswith("file:"):
        return spark.read.parquet(table)
    return spark.read.table(table)


def write_routed(df: DataFrame, table: str, url_buckets: int = 64,
                 mode: str = "overwrite") -> None:
    """Write the routed frame to an Iceberg table partitioned by
    (sink, bucket(url)) — the per-sink fan-out as hidden partitioning.

    Raises RuntimeError with a clear message when no Iceberg catalog is
    present (callers fall back to the parquet layout)."""
    spark = df.sparkSession
    if not iceberg_available(spark):
        raise RuntimeError(
            "no Iceberg catalog on the classpath; use the parquet sink "
            "layout (plans/pipeline.py) or add iceberg-spark-runtime")
    from pyspark.sql.functions import bucket, col
    writer = df.writeTo(table).partitionedBy(col("sink"), bucket(url_buckets, col("url")))
    if mode == "overwrite":
        writer.createOrReplace()
    else:
        writer.append()
