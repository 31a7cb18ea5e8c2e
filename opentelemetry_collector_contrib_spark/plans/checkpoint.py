"""Per-partition checkpoint ledger + resumable pipeline runs.

Reference semantics: fileconsumer offset checkpoints
(pkg/stanza/fileconsumer/internal/checkpoint/checkpoint.go:23-56 —
Save/Load of reader offsets through the storage extension) make
ingest resumable without re-emitting rows.

Spark-native shape: rows are bucketed by ``pmod(xxhash64(url), B)``;
buckets are processed in G groups. Each group is one call of the
batch pipeline's ``write_unit`` (plans/pipeline.py) into isolated
``routed/group=<g>`` and ``metrics/group=<g>`` directories with
overwrite semantics (idempotent: a re-run of a half-written group
replaces it), then a ledger marker records the group + its counters.
Resume = read the ledger, skip completed groups. Lineage: every output
row carries its bucket; the ledger carries per-group accepted/refused/
sent — the obsreport analog persisted per unit of work. The streaming
drain (streaming/stream.py) commits each micro-batch the same way, with
its batch id as the group.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.plans.pipeline import (
    PAGES_SINKS,
    routed_pages,
    write_unit,
)

BUCKET_COL = "bucket"


def ledger_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_ledger")


def completed_groups(out_dir: str) -> set[int]:
    d = ledger_dir(out_dir)
    if not os.path.isdir(d):
        return set()
    done = set()
    for name in os.listdir(d):
        if name.startswith("group-") and name.endswith(".json"):
            done.add(int(name[len("group-"):-len(".json")]))
    return done


def mark_group(out_dir: str, group: int, counters: dict) -> None:
    d = ledger_dir(out_dir)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".group-{group}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(counters, f, indent=2, sort_keys=True)
    os.replace(tmp, os.path.join(d, f"group-{group}.json"))  # atomic commit


def ledger_totals(out_dir: str, groups: list[int]) -> dict:
    """Sum the ledger counters of ``groups`` into one run total."""
    total = {"accepted": 0, "refused": 0, "sent": {s: 0 for s in PAGES_SINKS}}
    for g in groups:
        with open(os.path.join(ledger_dir(out_dir), f"group-{g}.json")) as f:
            c = json.load(f)
        total["accepted"] += c["accepted"]
        total["refused"] += c["refused"]
        for s, v in c["sent"].items():
            total["sent"][s] = total["sent"].get(s, 0) + v
    return total


def run_pipeline_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    host_meta: DataFrame | None = None,
    lang_family: DataFrame | None = None,
    n_buckets: int = 64,
    n_groups: int = 4,
    on_error: str = "send",
    fail_after_group: int | None = None,
) -> dict:
    """Resumable run. ``fail_after_group`` injects a crash for tests.

    Returns merged counters across all groups (completed ones loaded
    from the ledger — a resumed run reports totals for the whole
    input).
    """
    if n_buckets < 1 or n_groups < 1:
        raise ValueError(f"n_buckets and n_groups must be >= 1, "
                         f"got {n_buckets} and {n_groups}")
    os.makedirs(out_dir, exist_ok=True)
    bucketed = pages.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)))
    routed = routed_pages(bucketed, host_meta, lang_family)

    done = completed_groups(out_dir)
    for g in range(n_groups):
        if g in done:
            continue
        part = routed.filter(F.pmod(F.col(BUCKET_COL), F.lit(n_groups)) == g)
        counters = write_unit(spark, part,
                              os.path.join(out_dir, "routed", f"group={g}"),
                              os.path.join(out_dir, "metrics", f"group={g}"),
                              on_error)
        mark_group(out_dir, g, {"group": g, **counters})
        if fail_after_group is not None and g >= fail_after_group:
            raise RuntimeError(f"injected failure after group {g}")

    total = ledger_totals(out_dir, sorted(completed_groups(out_dir)))
    with open(os.path.join(out_dir, "counters.json"), "w") as f:
        json.dump(total, f, indent=2, sort_keys=True)
    return total
