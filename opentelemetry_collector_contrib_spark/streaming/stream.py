"""Structured Streaming variants of the pipeline stages.

The reference is a push-stream DAG (SURVEY §1.2); the batch engine
covers the north_rule, and this module provides the streaming shapes
for the operators whose semantics are interval/flush-driven:

- streaming ingest (readStream over a file glob = filelog tail,
  maxFilesPerTrigger pacing ≈ the 200 ms poll loop,
  pkg/stanza/fileconsumer/file.go:94-166)
- tumbling-window count/sum connector aggregates with a watermark
  (late-data rule replacing logdedup/spanmetrics flush tickers,
  processor/logdedupprocessor/processor.go:138-157)
- the flagship parse -> enrich -> route DAG as an availableNow drain
  with per-sink partitioned output (one pass fans out to every sink,
  exactly the routing connector's per-consumer groups)

All transformations reuse the batch operator library — the DataFrame
API is the same; only source/sink/trigger differ.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "observed_time",
    interval: str = "10 seconds",
    watermark: str = "30 seconds",
    group_by: list[str] | None = None,
) -> DataFrame:
    """count connector over tumbling windows with late-data bound."""
    return (stream
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), interval).alias("w"),
                     *(group_by or []))
            .agg(F.count(F.lit(1)).alias("value"))
            .select(F.col("w.start").alias("window_start"),
                    *(group_by or []), "value"))


def stream_pages_pipeline(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    host_meta: DataFrame | None = None,
    lang_family: DataFrame | None = None,
) -> dict:
    """The flagship parse -> enrich -> route DAG as a Structured
    Streaming job — the closest Spark analog of the collector's
    long-running service loop (receiver poll -> processors ->
    exporters, SURVEY §1.2).

    Each invocation drains the page files that arrived since the last
    run (Trigger.AvailableNow; source offsets live in the streaming
    checkpoint — the fileconsumer offset ledger,
    pkg/stanza/fileconsumer/file.go:94-166) and appends routed rows to
    per-sink partitions exactly once. The transformation chain is the
    batch pipeline's own ``routed_pages`` and ``sink_rows`` —
    DataFrame code is source-agnostic, so batch and streaming cannot
    drift apart.

    Returns obsreport-style counters for THIS drain: ``accepted`` from
    the query's own progress (numInputRows summed over micro-batches).
    """
    from opentelemetry_collector_contrib_spark.plans.pipeline import (
        routed_pages,
        sink_rows,
    )

    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    routed = routed_pages(stream, host_meta, lang_family)
    q = (sink_rows(routed).writeStream
         .format("parquet")
         .option("path", os.path.join(out_dir, "routed"))
         .option("checkpointLocation", checkpoint_dir)
         .partitionBy("sink")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    accepted = sum(int(p["numInputRows"]) for p in q.recentProgress)
    return {"accepted": accepted}

