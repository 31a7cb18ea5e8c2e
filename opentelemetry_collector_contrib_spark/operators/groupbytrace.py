"""groupbytrace processor: buffer spans until a trace is complete,
then emit the WHOLE trace as one unit.

The reference (processor/groupbytraceprocessor/processor.go:23-34,
event.go) holds every incoming trace in a per-worker ring buffer and
releases it ``wait_duration`` after its FIRST span arrived, on the
expectation that the trace is then complete; the release hands the
entire trace (all resource groups) downstream as one batch. It is the
standard upstream companion of tailsampling, which needs whole traces
to decide on.

Batch restatement: a replayable batch knows every span up front, so
"wait until complete" is exact, not heuristic — each trace's release
time is ``min(ts) + wait_duration`` in EVENT time, and the emitted
frame is the input annotated with ``release_ts``/``span_count`` and
physically clustered so each trace is contiguous (repartition on the
trace key + sortWithinPartitions by release order), which is the batch
analog of "the whole trace arrives as one batch".

Plan shape: ONE shuffle (the repartition; the per-trace min/count ride
it as window aggregates over the same key — no extra exchange, no
join). The reference's ``num_traces`` cap is a memory-pressure
eviction knob with silent data loss (ring_buffer.go) — a batch job has
no arrival backlog, so it is intentionally not replicated; batch
output is lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def group_by_trace(spans: DataFrame, wait_duration_s: float,
                   trace_col: str = "trace_id",
                   ts_col: str = "ts") -> DataFrame:
    """Group spans into whole traces (config.go WaitDuration).

    Returns the span frame plus ``release_ts`` (first-span event time
    + wait_duration) and ``span_count``, with each trace contiguous in
    its output partition and traces ordered by release time within
    partitions.
    """
    if wait_duration_s < 0:
        raise ValueError("wait_duration must be >= 0")
    from pyspark.sql import Window as W
    w = W.partitionBy(trace_col)
    out = (spans
           .repartition(F.col(trace_col))
           .withColumn(
               "release_ts",
               F.timestamp_micros(
                   F.unix_micros(F.min(F.col(ts_col)).over(w)
                                 .cast("timestamp"))
                   + F.lit(int(wait_duration_s * 1_000_000))))
           .withColumn("span_count", F.count(F.lit(1)).over(w)))
    return out.sortWithinPartitions("release_ts", trace_col)
