"""Inputs and one pass of each workload.

``pages_batch`` runs the flagship ``plans.pipeline.run_pipeline`` over
the generated pages table. ``udf_ops`` runs the Python-worker
operators over a feature table derived from the same pages. A pass is
timed by the caller; ``check`` then verifies that pass's output
outside the timed window.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from perfbench import checks
from perfbench.env import WORK

MARKER = "_COMPLETE"
INPUT_FILES = 8  # one scan task per file: every operator gets 8 tasks
UDF_FEATURES = ["text_len", "status", "nbytes"]
SAMPLER_PERCENT = 25.0
SAMPLER_SEED = 22  # probabilistic_sampler's default hash seed


@dataclass
class Inputs:
    pages_dir: str
    features_dir: str
    rows: int
    gen_s: float


def _ensure(path: str, build) -> None:
    """Build ``path`` once; the marker is written only after ``build``
    finished, so an interrupted build is redone."""
    if os.path.exists(os.path.join(path, MARKER)):
        return
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    with open(os.path.join(path, MARKER), "w") as f:
        f.write("ok\n")


def prepare_inputs(seed: int, rows: int) -> Inputs:
    """Generate (or reuse) the pages table and the UDF feature table
    derived from it for ``seed``; neither depends on anything but seed
    and size."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from opentelemetry_collector_contrib_spark.datagen import write_pages

    t0 = time.perf_counter()
    base = os.path.join(WORK, "inputs", f"pages-n{rows}-seed{seed}")
    pages_dir = os.path.join(base, "pages")
    features_dir = os.path.join(base, f"features-f{INPUT_FILES}")
    _ensure(pages_dir, lambda p: write_pages(p, rows, seed=seed, partitions=INPUT_FILES))

    def features(path: str) -> None:
        t = pq.read_table(pages_dir, columns=["url", "text"])
        m = pc.extract_regex(t["text"], r'" (?P<status>\d{3}) (?P<nbytes>\d+) ')
        out = t.select(["url"]).append_column(
            "text_len", pc.utf8_length(t["text"]))
        for name in ("status", "nbytes"):
            out = out.append_column(name, pc.cast(pc.struct_field(m, name), "int64"))
        step = -(-len(out) // INPUT_FILES)
        for i in range(INPUT_FILES):
            pq.write_table(out.slice(i * step, step),
                           os.path.join(path, f"part-{i:05d}.parquet"))

    _ensure(features_dir, features)
    return Inputs(pages_dir, features_dir, rows, time.perf_counter() - t0)


class PagesBatch:
    """The flagship batch job: parse, enrich, route, 4-sink write,
    aggregate read-back and counters."""

    name = "pages_batch"
    # the JIT keeps compiling the driver's planning code for several
    # passes after the cold one; on a busy host a pass stops getting
    # faster only at about the fifth
    warmup_passes = 3

    def __init__(self, spark, inputs: Inputs, out_dir: str, expected: dict | None = None):
        from opentelemetry_collector_contrib_spark.datagen import (
            gen_host_meta, gen_lang_family)
        self.spark = spark
        self.rows = inputs.rows
        self.pages = spark.read.parquet(inputs.pages_dir)
        self.host_meta = spark.createDataFrame(gen_host_meta())
        self.lang_family = spark.createDataFrame(gen_lang_family())
        self.out_dir = out_dir
        self.expected = expected or checks.pages_expectation(inputs.pages_dir)
        self.counters: dict | None = None

    def run_pass(self) -> None:
        from opentelemetry_collector_contrib_spark.plans.pipeline import run_pipeline
        self.counters = run_pipeline(self.spark, self.pages, self.out_dir,
                                     host_meta=self.host_meta,
                                     lang_family=self.lang_family)

    def check(self) -> list[str]:
        return checks.check_batch_output(self.out_dir, self.counters, self.expected)


class UdfOps:
    """The Python-worker operators, one Spark job each. Every job folds
    its output into an order-independent digest, so the pass reads
    every output row and passes can be compared."""

    name = "udf_ops"
    # the cold pass starts the workers; the pass after it runs a tenth to
    # a fifth longer than the third, which the median of three absorbs
    warmup_passes = 0
    OPS = ("anomaly.iforest", "filters.fnv_sampler", "hashes.fnv1a64",
           "hashes.murmur3", "hashes.murmur3_128")

    def __init__(self, spark, inputs: Inputs):
        self.spark = spark
        self.rows = inputs.rows
        self.features = spark.read.parquet(inputs.features_dir)
        urls = [r[0] for r in self.features.select("url").collect()]
        self.expected_keep = checks.fnv_sampler_expected_keep(
            urls, SAMPLER_PERCENT, SAMPLER_SEED)
        self.first: dict | None = None
        self.last: dict = {}

    def run_op(self, op: str):
        from pyspark.sql import functions as F

        from opentelemetry_collector_contrib_spark.functions import hashes
        from opentelemetry_collector_contrib_spark.operators.anomaly import (
            isolation_forest_scores)
        from opentelemetry_collector_contrib_spark.operators.filters import (
            probabilistic_sampler)

        df = self.features
        if op == "anomaly.iforest":
            out = isolation_forest_scores(df, UDF_FEATURES, id_col="url",
                                          num_trees=25, sample_size=64)
            row = out.agg(F.bit_xor(F.xxhash64("anomaly_score")),
                          F.sum(F.col("is_anomaly").cast("long")),
                          F.min("anomaly_score"), F.max("anomaly_score")).first()
        elif op == "filters.fnv_sampler":
            out = probabilistic_sampler(SAMPLER_PERCENT, hash_field="url",
                                        seed=SAMPLER_SEED,
                                        hash_fn="fnv_seed").apply(df)
            row = out.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64("url"))).first()
        else:
            udf = {"hashes.fnv1a64": hashes.fnv1a64_udf,
                   "hashes.murmur3": hashes.murmur3_hex_udf,
                   "hashes.murmur3_128": hashes.murmur3_128_hex_udf}[op]
            row = (df.select(udf(F.col("url")).alias("h"))
                   .agg(F.bit_xor(F.xxhash64("h")), F.count("h")).first())
        self.last[op] = tuple(row)
        return self.last[op]

    def run_pass(self) -> None:
        self.last = {}
        for op in self.OPS:
            self.run_op(op)

    def check(self) -> list[str]:
        problems = []
        if self.first is None:
            self.first = dict(self.last)
        elif self.last != self.first:
            problems.append(f"digests differ between passes: {self.last} vs {self.first}")
        kept = self.last["filters.fnv_sampler"][0]
        if kept != self.expected_keep:
            problems.append(f"fnv_seed sampler kept {kept}, expected {self.expected_keep}")
        lo, hi = self.last["anomaly.iforest"][2:4]
        if not (0.0 < lo <= hi < 1.0):
            problems.append(f"iforest scores outside (0, 1): [{lo}, {hi}]")
        for op in ("hashes.fnv1a64", "hashes.murmur3", "hashes.murmur3_128"):
            if self.last[op][1] != self.rows:
                problems.append(f"{op} hashed {self.last[op][1]} of {self.rows} rows")
        return problems


WORKLOADS = (PagesBatch.name, UdfOps.name)


def make(name: str, spark, inputs: Inputs, run_dir: str):
    if name == "pages_batch":
        return PagesBatch(spark, inputs, os.path.join(run_dir, "out"))
    return UdfOps(spark, inputs)
