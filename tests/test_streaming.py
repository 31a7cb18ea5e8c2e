"""The flagship DAG as a Structured Streaming availableNow drain:
file-source ingest, resume and replay."""

import os

from pyspark.sql import functions as F


def _log_records(spark, out):
    """Per-(sink, status) ``log.record.count`` summed over every group."""
    mets = spark.read.parquet(os.path.join(out, "metrics"))
    return {(r["sink"], r["status"]): r["v"] for r in mets
            .filter(F.col("metric_name") == "log.record.count")
            .groupBy("sink", "status").agg(F.sum("value").alias("v"))
            .collect()}


def test_pages_pipeline_stream_resume_matches_batch(spark, tmp_path):
    """The flagship DAG as a stream: two availableNow drains process
    each page file exactly once (offset resume), each micro-batch
    commits through the batch pipeline's ``write_unit``, and the routed
    rows, metrics and counters are identical to the batch pipeline run
    over the same input — batch and streaming share one body, so this
    asserts they cannot drift."""
    from opentelemetry_collector_contrib_spark.datagen import gen_pages_pdf
    from opentelemetry_collector_contrib_spark.plans.pipeline import run_pipeline
    from opentelemetry_collector_contrib_spark.streaming.stream import (
        stream_pages_pipeline)

    src, out, ckpt, batch_out = (str(tmp_path / d)
                                 for d in ("src", "out", "ckpt", "batch"))
    b1 = gen_pages_pdf(200, chunk_start=0, total_rows=300)
    b2 = gen_pages_pdf(100, chunk_start=200, total_rows=300)
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(src)

    got1 = stream_pages_pipeline(spark, src, out, ckpt)
    assert got1["accepted"] == 200
    assert spark.read.parquet(out + "/routed").count() == 200

    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)
    got2 = stream_pages_pipeline(spark, src, out, ckpt)
    assert got2["accepted"] == 100  # second drain: only the new file

    want = run_pipeline(spark, spark.createDataFrame(gen_pages_pdf(300)),
                        batch_out)
    assert want["refused"] > 0
    assert {"accepted": got1["accepted"] + got2["accepted"],
            "refused": got1["refused"] + got2["refused"],
            "sent": {s: got1["sent"][s] + got2["sent"][s]
                     for s in want["sent"]}} == want

    streamed = spark.read.parquet(out + "/routed")
    batch = spark.read.parquet(batch_out + "/routed")
    assert sorted(streamed.columns) == sorted(batch.columns + ["group"])
    rows = streamed.select(*batch.columns)
    assert rows.count() == 300
    assert rows.exceptAll(batch).count() == 0
    assert batch.exceptAll(rows).count() == 0

    assert os.path.isdir(os.path.join(out, "metrics", "group=0"))
    assert _log_records(spark, out) == _log_records(spark, batch_out)


def test_pages_stream_replayed_batch_lands_once(spark, tmp_path):
    """A micro-batch that Spark replays (its commit was lost in a
    crash) overwrites its own unit: no duplicate rows, one ledger
    entry, the same counters."""
    from opentelemetry_collector_contrib_spark.datagen import gen_pages_pdf
    from opentelemetry_collector_contrib_spark.streaming.stream import (
        stream_pages_pipeline)

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    spark.createDataFrame(gen_pages_pdf(200)).coalesce(1) \
        .write.mode("append").parquet(src)
    first = stream_pages_pipeline(spark, src, out, ckpt)

    commits = os.path.join(ckpt, "commits")
    last = max((n for n in os.listdir(commits) if n.isdigit()), key=int)
    for name in (last, f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))

    replayed = stream_pages_pipeline(spark, src, out, ckpt)
    assert replayed == first and first["accepted"] == 200
    assert spark.read.parquet(out + "/routed").count() == 200
    assert os.listdir(os.path.join(out, "_ledger")) == [f"group-{last}.json"]
