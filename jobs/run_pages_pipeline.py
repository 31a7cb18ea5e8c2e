#!/usr/bin/env python
"""spark-submit entry point for the pages log pipeline.

Cluster usage (north_rule packaging):

    cd /root/repo && zip -r /tmp/otelspark.zip opentelemetry_collector_contrib_spark
    spark-submit --py-files /tmp/otelspark.zip jobs/run_pages_pipeline.py \
        --input s3://bucket/pages --output s3://bucket/out \
        --buckets 4096 --groups 64   # a re-run resumes from the ledger

Local smoke:

    python jobs/run_pages_pipeline.py --generate 100000 --output /tmp/pages_out
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="pages table path (parquet dir or iceberg:<table>)")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--generate", type=int, default=0,
                    help="generate N synthetic pages instead of reading --input")
    ap.add_argument("--buckets", type=int, default=64,
                    help="checkpoint buckets (url-hash)")
    ap.add_argument("--groups", type=int, default=4,
                    help="commit groups (resume granularity)")
    ap.add_argument("--no-checkpoint", action="store_true",
                    help="single-pass run without the resume ledger")
    ap.add_argument("--on-error", default="send", choices=["send", "drop"])
    ap.add_argument("--master", default=None,
                    help="override master (default: spark-submit's)")
    args = ap.parse_args()

    from opentelemetry_collector_contrib_spark.datagen import (
        gen_host_meta,
        gen_lang_family,
        write_pages,
    )
    from opentelemetry_collector_contrib_spark.plans.checkpoint import (
        run_pipeline_checkpointed,
    )
    from opentelemetry_collector_contrib_spark.plans.pipeline import run_pipeline
    from opentelemetry_collector_contrib_spark.session import get_spark
    from opentelemetry_collector_contrib_spark.sources.filelog import read_pages

    spark = get_spark(master=args.master, app_name="pages-pipeline")

    if args.generate:
        input_path = os.path.join(args.output, "_generated_pages")
        write_pages(input_path, args.generate, partitions=64)
        pages = spark.read.parquet(input_path)
    elif args.input:
        pages = read_pages(spark, args.input)
    else:
        ap.error("one of --input / --generate is required")

    host_meta = spark.createDataFrame(gen_host_meta())
    lang_family = spark.createDataFrame(gen_lang_family())

    if args.no_checkpoint:
        counters = run_pipeline(spark, pages, args.output,
                                host_meta=host_meta, lang_family=lang_family,
                                on_error=args.on_error)
    else:
        counters = run_pipeline_checkpointed(
            spark, pages, args.output, host_meta=host_meta,
            lang_family=lang_family, n_buckets=args.buckets,
            n_groups=args.groups, on_error=args.on_error)
    print(json.dumps(counters))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
