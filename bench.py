"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the flagship
pages parse->enrich->route->aggregate pipeline over a deterministic
synthetic pages table.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "pipeline_docs_per_sec": ..., "pipeline_rows": ..., "cpus": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
PAGES_N = int(os.environ.get("SPARK_GRAFT_PAGES_N", "1000000"))
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

# headline operator queries (subset of __spark_entry__.queries() that
# spans parse / route / aggregate / window / dedup / similarity)
HEADLINE = [
    "routing_first_match",
    "count_connector",
    "sum_connector",
    "json_parser",
    "regex_parser",
    "delta_to_cumulative",
    "interval_last",
    "logdedup",
    "histogram",
    "exact_dedup",
    "minhash_lsh",
    "ann_topk",
    "token_counts",
    "quality_score",
    "gopher_quality",
    "contamination",
    "pii_scrub",
    "c4_clean",
    "url_dedup",
    "line_dedup",
    "lm_perplexity",
    "tpch_pricing_summary",
    # new r4 operators
    "spanmetrics_exp",
    "tailsampling_policies",
    "signaltometrics_config",
    # new r5 operators
    "span_processor",
    "tailsampling_composite",
    "group_by_trace",
    "consistent_sampling",
    "coralogix_transactions",
    "sumologic_logs",
    "datadog_semantics",
    "datadog_apm_stats",
    "zipkin_decode",
    "mix_corpus",
    "chunk_documents",
    "jaeger_decode",
    "s3_access_logs",
    "vpc_flow_logs",
    "cloudtrail_logs",
    "waf_logs",
]


def ensure_pages(n: int) -> str:
    from opentelemetry_collector_contrib_spark.datagen import write_pages
    path = os.path.join(CACHE, f"bench_pages_{n}")
    marker = os.path.join(path, "_COMPLETE")
    if not os.path.exists(marker):
        write_pages(path, n, partitions=64)
        with open(marker, "w") as f:
            f.write(str(n))
    return path


def main() -> None:
    import __spark_entry__ as entry_mod
    from opentelemetry_collector_contrib_spark.datagen import (
        gen_host_meta, gen_lang_family)
    from opentelemetry_collector_contrib_spark.plans.pipeline import run_pipeline
    from opentelemetry_collector_contrib_spark.session import get_spark

    pages_path = ensure_pages(PAGES_N)
    spark = get_spark(master=f"local[{CPUS}]", app_name="bench",
                      shuffle_partitions=CPUS)

    queries = entry_mod.queries()
    timings: dict[str, float] = {}
    total = 0.0

    # flagship pipeline throughput (docs/sec end-to-end incl. writes);
    # default 3 = one codegen warm-up + min of two measured runs — this
    # host swings ±20% between scheduler windows at 32 threads, so a
    # single warm run under-reports steady state; raise further for a
    # noise-robust min
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))
    pages = spark.read.parquet(pages_path)
    host_meta = spark.createDataFrame(gen_host_meta())
    lang_family = spark.createDataFrame(gen_lang_family())
    out_dir = os.path.join(CACHE, f"bench_out_{CPUS}")
    runs = []
    for i in range(repeats + (1 if repeats > 1 else 0)):
        t0 = time.perf_counter()
        run_pipeline(spark, pages, out_dir, host_meta=host_meta,
                     lang_family=lang_family)
        runs.append(time.perf_counter() - t0)
    # repeats>1: run 0 is the codegen warm-up, exclude it from the min
    pipeline_sec = min(runs[1:]) if repeats > 1 else runs[0]
    timings["pages_pipeline"] = round(pipeline_sec, 3)
    total += pipeline_sec

    # The driver-contract minhash query runs in md5 hash mode so DuckDB
    # can replicate it; production dedup uses the native xxhash64 mode
    # (~2.4x faster) — the bench measures the production path.
    def bench_minhash(spark, sf_dir):
        from pyspark.sql import functions as F
        from opentelemetry_collector_contrib_spark.operators.dedup import (
            minhash_lsh_pairs)
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return minhash_lsh_pairs(docs, threshold=0.3).select(
            "id_a", "id_b", F.round(F.col("est_jaccard"), 4).alias("est_jaccard"))

    overrides = {"minhash_lsh": bench_minhash}

    headline = [] if os.environ.get("SPARK_GRAFT_SKIP_HEADLINE") else HEADLINE
    for name in headline:
        fn = overrides.get(name, queries[name])
        # best-of-2: the host shows ±20% window noise; the second run
        # also reports warm-plan timings (what steady state looks like)
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.count()  # materialize
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        total += best

    result = {
        "metric": "end-to-end parse->route->aggregate + headline operator suite",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "pipeline_rows": PAGES_N,
        "pipeline_docs_per_sec": round(PAGES_N / pipeline_sec, 1),
        "cpus": CPUS,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
