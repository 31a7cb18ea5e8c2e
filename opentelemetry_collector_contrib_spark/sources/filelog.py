"""Batch/stream file sources — the receiver layer.

filelog receiver analog (receiver/filelogreceiver/filelog.go:38-60 +
pkg/stanza/fileconsumer): file listing = catalog/glob scan; offset
checkpoints = Spark's own file-source tracking (streaming) or the
per-partition ledger (plans/checkpoint.py) in batch. The entry fields
set at read time mirror entry.New (ObservedTimestamp,
pkg/stanza/entry/entry.go:29-33).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _to_entries(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Wrap raw lines in the flat log-record envelope."""
    return df.select(
        F.col(value_col).alias("body"),
        F.current_timestamp().alias("observed_time"),
        F.lit(None).cast("timestamp").alias("time"),
        F.create_map().cast("map<string,string>").alias("attributes"),
        F.create_map().cast("map<string,string>").alias("resource"),
        F.lit(None).cast("int").alias("severity_number"),
        F.lit("").alias("severity_text"),
        F.input_file_name().alias("_file"),
    )


def read_text_lines(spark: SparkSession, path_glob: str,
                    exclude: str | None = None) -> DataFrame:
    """Batch tail of a file glob: one row per line, with source file
    for recombine/ordering (include/exclude matching per
    pkg/stanza/fileconsumer/config.go:36-90)."""
    df = spark.read.text(path_glob)
    df = _to_entries(df)
    if exclude:
        df = df.filter(~F.col("_file").rlike(exclude))
    return df


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """The Common-Crawl-style pages table (BASELINE.json input_hint).
    Reads Iceberg when the catalog is configured; plain parquet
    otherwise (same schema either way)."""
    if path.startswith("iceberg:"):
        return spark.read.table(path[len("iceberg:"):])
    return spark.read.parquet(path)
