"""The flagship pipeline as a Structured Streaming drain.

The reference is a push-stream DAG (SURVEY §1.2). Here the flagship
parse -> enrich -> route DAG runs as an availableNow file-source drain
(the filelog tail, pkg/stanza/fileconsumer/file.go:94-166) whose
micro-batches each commit through the batch pipeline's ``write_unit``.
The stateful processors (tailsampling, logdedup, deltatocumulative)
have one implementation each, as batch window expressions over
complete input (SURVEY §2.9); there is no streaming-state variant.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from opentelemetry_collector_contrib_spark.plans.checkpoint import (
    ledger_totals,
    mark_group,
)
from opentelemetry_collector_contrib_spark.plans.pipeline import (
    routed_pages,
    write_unit,
)

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


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
    pkg/stanza/fileconsumer/file.go:94-166). Each micro-batch is one
    commit unit of the resumable run (plans/checkpoint.py) with its
    batch id as the group: ``write_unit`` into ``routed/group=<id>`` and
    ``metrics/group=<id>``, then ``mark_group``. A batch that Spark
    replays after a crash overwrites its own unit: exactly once.

    Returns the counters summed over the batches THIS drain committed.
    """
    committed = []

    def commit(batch: DataFrame, batch_id: int) -> None:
        counters = write_unit(
            spark, routed_pages(batch, host_meta, lang_family),
            os.path.join(out_dir, "routed", f"group={batch_id}"),
            os.path.join(out_dir, "metrics", f"group={batch_id}"))
        mark_group(out_dir, batch_id, {"group": batch_id, **counters})
        committed.append(batch_id)

    q = (spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
         .writeStream.foreachBatch(commit)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return ledger_totals(out_dir, committed)
