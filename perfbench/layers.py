"""The traced run: every layer, timed from outside through its public
functions, with Spark task metrics summed per span from the event log.

- ``pipeline.*``: prefixes of the flagship plan materialized one after
  another; a layer's self time is its prefix minus the previous one.
  ``sink_write`` and ``aggregate`` come from whole ``run_pipeline``
  passes, split where the routed sinks are committed.
- ``checkpoint.*``: ``run_pipeline_checkpointed`` crashed at half its
  commit groups, then resumed.
- ``anomaly.*``, ``filters.*``, ``hashes.*``: each Python-worker
  operator as its own job.
- ``scaling_efficiency``: one flagship pass at ``local[1]`` against the
  median untraced pass at ``local[n]``.
- ``trace_overhead``: the median traced pass against the median
  untraced pass of the same session. The event log is on for both, so
  this is the cost of the spans (job groups), not of the event log: a
  fresh context with the log off runs its first passes slower by far
  more than the log costs.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time

from perfbench import checks
from perfbench.env import close_session, cpus, open_session
from perfbench.stats import median
from perfbench.tracing import (Tracer, event_log_files, read_jobs, summarize,
                               summarize_groups)
from perfbench.workloads import Inputs, PagesBatch, UdfOps

PREFIX_LAYERS = ("scan", "parse", "enrich", "route")
PIPELINE_LAYERS = (*PREFIX_LAYERS, "sink_write", "aggregate")
TASK_STATS = ("cpu_s", "wait_s", "gc_s")
WARMUP_PASSES = 1  # after the cold pass
REPS = 2           # prefix, checkpoint and UDF repetitions
FULL_REPS = 2      # traced and untraced flagship passes, by turns
# the pipeline self times should add up to an untraced pass within 10 %
SELF_SUM_RANGE = (0.9, 1.1)
CHECKPOINT_GROUPS = 4
CHECKPOINT_BUCKETS = 64


def per_layer_names() -> list[str]:
    """Every metric a traced run reports, in BENCHMARK.json order."""
    names = ["pipeline.cold_pass_s"]
    for layer in PIPELINE_LAYERS:
        names += [f"pipeline.{layer}.{k}" for k in ("s", *TASK_STATS)]
    names += ["pipeline.scan.bytes_read", "pipeline.sink_write.bytes_written",
              "pipeline.sink_write.files", "pipeline.parse.refused_ratio",
              "pipeline.shuffle_bytes", "pipeline.jobs",
              "pipeline.aggregate.hash_probes_avg", "trace_overhead",
              "scaling_efficiency"]
    names += ["checkpoint.resume_s", "checkpoint.docs_per_s", "checkpoint.group.s",
              "checkpoint.scan_bytes_ratio", "checkpoint.shuffle_bytes",
              "checkpoint.write_tasks", "checkpoint.bytes_written_per_input_byte",
              "checkpoint.ledger.s"]
    for op in UdfOps.OPS:
        names += [f"{op}.{k}" for k in ("s", *TASK_STATS, "python_s", "python_bytes")]
    names.append("filters.fnv_sampler.keep_ratio")
    return names


def _prefix(batch: PagesBatch, layer: str):
    """The flagship plan built afresh and cut after ``layer``, projected
    like the sink rows so no prefix reads columns the full job prunes."""
    from opentelemetry_collector_contrib_spark.plans.pipeline import (
        enrich_pages, parse_pages, route_pages, sink_rows)
    if layer == "scan":
        return batch.pages.drop("html")
    df = parse_pages(batch.pages, on_error="send")
    if layer != "parse":
        df = enrich_pages(df, batch.host_meta, batch.lang_family)
    if layer not in ("parse", "enrich"):
        df = route_pages(df)
    return sink_rows(df)


def _timed_passes(batch: PagesBatch, count: int) -> tuple[list, list]:
    """Wall times of ``count`` checked flagship passes, and any problems."""
    took, problems = [], []
    for _ in range(count):
        t0 = time.perf_counter()
        batch.run_pass()
        took.append(time.perf_counter() - t0)
        problems += batch.check()
    return took, problems


def _pipeline_layers(batch: PagesBatch, tracer: Tracer) -> tuple[list, list, list]:
    """Prefixes to ``noop``, then whole flagship passes, traced and
    untraced by turns so that both see the same warm-up. Returns the
    untraced pass times; per traced pass, the time its routed sinks were
    committed (their ``_SUCCESS`` marker), which splits the pass into
    its sink write and its aggregate read-back; and any problems."""
    for _ in range(REPS):
        for layer in PREFIX_LAYERS:
            with tracer.span(f"pipeline.{layer}"):
                _prefix(batch, layer).write.format("noop").mode("overwrite").save()
    untraced, committed, problems = [], [], []
    for _ in range(FULL_REPS):
        with tracer.span("pipeline.full"):
            batch.run_pass()
        marker = os.path.join(batch.out_dir, "routed", "_SUCCESS")
        committed.append(os.stat(marker).st_mtime_ns / 1e9)
        problems += batch.check()
        took, p = _timed_passes(batch, 1)
        untraced += took
        problems += p
    return untraced, committed, problems


def _checkpoint_runs(batch: PagesBatch, tracer: Tracer, out_dir: str) -> tuple[list, list]:
    """Crash after half the groups, resume; return per-rep group times
    and ledger tails, and any correctness problems."""
    from opentelemetry_collector_contrib_spark.plans.checkpoint import (
        ledger_dir, run_pipeline_checkpointed)
    kw = dict(host_meta=batch.host_meta, lang_family=batch.lang_family,
              n_buckets=CHECKPOINT_BUCKETS, n_groups=CHECKPOINT_GROUPS)
    reps, problems = [], []
    for _ in range(REPS):
        shutil.rmtree(out_dir, ignore_errors=True)
        with tracer.span("checkpoint.crash") as crash:
            try:
                run_pipeline_checkpointed(batch.spark, batch.pages, out_dir,
                                          fail_after_group=CHECKPOINT_GROUPS // 2 - 1,
                                          **kw)
                problems.append("injected crash did not happen")
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
        with tracer.span("checkpoint.resume") as resume:
            counters = run_pipeline_checkpointed(batch.spark, batch.pages, out_dir, **kw)
        problems += checks.check_resumed_output(out_dir, counters, batch.expected)
        marks = [os.stat(os.path.join(ledger_dir(out_dir), f"group-{g}.json")).st_mtime_ns / 1e9
                 for g in range(CHECKPOINT_GROUPS)]
        half = CHECKPOINT_GROUPS // 2
        starts = [crash["start"], *marks[:half - 1], resume["start"], *marks[half:-1]]
        reps.append({"groups": [m - s for m, s in zip(marks, starts)],
                     "ledger_s": resume["end"] - marks[-1]})
    return reps, problems


def _udf_layers(udf: UdfOps, tracer: Tracer) -> list[str]:
    problems = []
    udf.run_pass()  # cold: Python workers start, plans compile
    problems += udf.check()
    for _ in range(REPS):
        udf.last = {}
        for op in UdfOps.OPS:
            with tracer.span(op):
                udf.run_op(op)
        problems += udf.check()
    return problems


def traced_run(spark, inputs: Inputs, run_dir: str, event_dir: str):
    """Measure every layer on a fresh ``local[n]`` session with the
    event log on, then make the ``local[1]`` passes; every session is
    closed here. Returns (metrics, passes attempted, problems found)."""
    tracer = Tracer(spark.sparkContext)
    batch = PagesBatch(spark, inputs, os.path.join(run_dir, "out"))
    cold, problems = _timed_passes(batch, 1 + WARMUP_PASSES)
    with tracer.span("layers.pipeline"):
        untraced, committed, p = _pipeline_layers(batch, tracer)
    problems += p
    with tracer.span("layers.checkpoint"):
        ck, p = _checkpoint_runs(batch, tracer, os.path.join(run_dir, "checkpoint"))
    problems += p
    udf = UdfOps(spark, inputs)
    with tracer.span("layers.udf"):
        problems += _udf_layers(udf, tracer)
    problems += checks.check_hash_vectors(spark)

    # local[1]: a new context in the same JVM, so compiled code stays
    # warm, but the first pass after a restart runs slower: warm-up
    n = cpus()
    spark.stop()
    spark = open_session("local[1]", event_dir)
    single, p = _timed_passes(PagesBatch(spark, inputs, os.path.join(run_dir, "out1"),
                                         batch.expected), 2)
    problems += p
    tracer.dump(os.path.join(run_dir, "spans.json"))
    close_session(spark)
    # flagship passes, crash/resume pairs, UDF passes and hash vectors
    attempted = (1 + WARMUP_PASSES + 2 * FULL_REPS + len(single) + len(ck)
                 + 1 + REPS + 1)

    jobs = read_jobs(event_log_files(event_dir))
    metrics = _layer_metrics(tracer, jobs, committed, batch, inputs, untraced, ck, udf)
    metrics["scaling_efficiency"] = (single[-1] / median(untraced)) / n
    metrics["pipeline.cold_pass_s"] = cold[0]
    # a timing ratio, so host noise can push it out: warn, do not fail
    ratio = metrics["pipeline.self_s_over_full_pass"]
    if not SELF_SUM_RANGE[0] <= ratio <= SELF_SUM_RANGE[1]:
        print(f"WARNING: pipeline self times add up to {ratio:.3f} of an untraced "
              f"pass, outside {SELF_SUM_RANGE}", file=sys.stderr)
    return metrics, attempted, problems


def _split_full_passes(tracer: Tracer, jobs: list[dict], committed: list[float]):
    """Per traced full pass: (write seconds, aggregate seconds, write
    jobs, aggregate jobs). The write phase runs from the pass's start
    to the commit of its routed sinks and holds the jobs that ended by
    then; the aggregate read-back is the rest of the pass."""
    out = []
    spans = [s for s in tracer.spans if s["name"] == "pipeline.full"]
    for span, mark in zip(spans, committed):
        write, rest = [], []
        for j in jobs:
            if j["group"] == span["id"]:
                done = j["end"] is not None and j["end"] <= mark
                (write if done else rest).append(j)
        out.append((mark - span["start"], span["end"] - mark, write, rest))
    return out


def _layer_metrics(tracer, jobs, committed, batch, inputs, untraced, ck, udf) -> dict:
    groups = summarize_groups(jobs)

    def stat(name: str, key: str) -> float:
        return median([groups.get(i, {}).get(key, 0.0) for i in tracer.ids(name)])

    m: dict[str, float] = {}
    # prefixes: self = this prefix minus the previous one
    prev = {k: 0.0 for k in ("s", *TASK_STATS)}
    for layer in PREFIX_LAYERS:
        name = f"pipeline.{layer}"
        cur = {"s": median(tracer.durations(name)),
               **{k: stat(name, k) for k in TASK_STATS}}
        for k, v in cur.items():
            m[f"{name}.{k}"] = v - prev[k]
        prev = cur
    # the real pass: its sink write minus the route prefix it contains,
    # and its aggregate read-back
    split = _split_full_passes(tracer, jobs, committed)
    write = [summarize(w) for _, _, w, _ in split]
    agg = [summarize(a) for _, _, _, a in split]
    m["pipeline.sink_write.s"] = median([w for w, _, _, _ in split]) - prev["s"]
    m["pipeline.aggregate.s"] = median([a for _, a, _, _ in split])
    for k in TASK_STATS:
        m[f"pipeline.sink_write.{k}"] = median([w[k] for w in write]) - prev[k]
        m[f"pipeline.aggregate.{k}"] = median([a[k] for a in agg])
    m["pipeline.scan.bytes_read"] = stat("pipeline.scan", "bytes_read")
    m["pipeline.sink_write.bytes_written"] = median([w["bytes_written"] for w in write])
    m["pipeline.sink_write.files"] = median([w["files"] for w in write])
    m["pipeline.parse.refused_ratio"] = batch.counters["refused"] / batch.counters["accepted"]
    m["pipeline.shuffle_bytes"] = stat("pipeline.full", "shuffle_bytes")
    m["pipeline.jobs"] = stat("pipeline.full", "jobs")
    m["pipeline.aggregate.hash_probes_avg"] = median([a["hash_probes_avg"] for a in agg])
    m["trace_overhead"] = median(tracer.durations("pipeline.full")) / median(untraced)
    # not a reported metric: the layer self times should add up to a pass
    m["pipeline.self_s_over_full_pass"] = sum(
        m[f"pipeline.{layer}.s"] for layer in PIPELINE_LAYERS) / median(untraced)

    # checkpoint: the last crash + resume pair (the first one compiles)
    crash_id, resume_id = tracer.ids("checkpoint.crash")[-1], tracer.ids("checkpoint.resume")[-1]
    both = [groups.get(crash_id, {}), groups.get(resume_id, {})]
    table_bytes = sum(os.path.getsize(p) for p in
                      glob.glob(os.path.join(inputs.pages_dir, "*.parquet")))
    resume_s = tracer.durations("checkpoint.resume")[-1]
    crash_s = tracer.durations("checkpoint.crash")[-1]
    m["checkpoint.resume_s"] = resume_s
    m["checkpoint.docs_per_s"] = inputs.rows / (crash_s + resume_s)
    m["checkpoint.group.s"] = median(ck[-1]["groups"])
    m["checkpoint.scan_bytes_ratio"] = sum(g.get("bytes_read", 0.0) for g in both) / table_bytes
    m["checkpoint.shuffle_bytes"] = sum(g.get("shuffle_bytes", 0.0) for g in both)
    m["checkpoint.write_tasks"] = float(sum(g.get("write_tasks", 0) for g in both))
    m["checkpoint.bytes_written_per_input_byte"] = (
        sum(g.get("bytes_written", 0.0) for g in both) / table_bytes)
    m["checkpoint.ledger.s"] = ck[-1]["ledger_s"]

    for op in UdfOps.OPS:
        m[f"{op}.s"] = median(tracer.durations(op))
        for k in (*TASK_STATS, "python_s", "python_bytes"):
            m[f"{op}.{k}"] = stat(op, k)
    m["filters.fnv_sampler.keep_ratio"] = udf.last["filters.fnv_sampler"][0] / udf.rows
    return m
