"""Composed training-data curation DAG over a documents table.

The individual webtext operators (Gopher quality battery, exact dedup,
MinHash-LSH near-dup clustering) are what a pretraining-data pipeline
strings together; this plan is that composition as ONE lazy DataFrame
program, the way the flagship log pipeline composes the collector
operators (plans/pipeline.py):

  1. quality   — Gopher rule battery (operators/textstats.py); docs
                 failing any rule are dropped first (cheapest filter,
                 narrow projections, prunes before any shuffle)
  2. exact     — normalized-text exact dedup; min-id doc represents
                 each identical group (one shuffle on the text hash)
  3. near-dup  — MinHash-LSH banded pairs among the survivors ->
                 connected components -> min-id doc represents each
                 duplicate cluster (banded self-join, never all-pairs)

Stage order matters at 100 TB: each stage only sees the previous
stage's survivors, so the expensive pair generation runs on the
smallest possible frame.

Output is one row PER INPUT DOC with its disposition — kept or the
first stage that removed it — so the curation is auditable (what got
dropped and why) and reversible (filter `kept` for the clean corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from opentelemetry_collector_contrib_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
    normalize_text,
)
from opentelemetry_collector_contrib_spark.operators.textstats import (
    gopher_quality_flags,
)


def curate_corpus(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  near_dup_threshold: float = 0.3,
                  hash_fn: str = "xxhash64") -> DataFrame:
    """Quality -> exact-dedup -> near-dup-cluster disposition.

    Returns (id_col, kept boolean, reason string) for EVERY input doc;
    reason is the first failing stage: 'quality' | 'exact_dup' |
    'near_dup' | 'kept'. Representatives (min id per identical text /
    per duplicate cluster) are kept; ``hash_fn='md5'`` selects the
    oracle-replicable MinHash mode (production default xxhash64).
    """
    ids = docs.select(F.col(id_col))

    # each dropped-id frame is referenced twice (stage filter + final
    # disposition join); they are narrow id lists, so materialize each
    # once instead of letting Catalyst replay the stage lineage
    quality_fail = (gopher_quality_flags(docs, text_col, id_col)
                    .filter(~F.col("gopher_pass")).select(id_col)
                    .localCheckpoint(eager=True))
    s1 = docs.join(quality_fail, on=id_col, how="left_anti")

    # exact stage: min id per normalized text (hash-keyed window, same
    # keying as operators/dedup.exact_dedup but keeping the id->rep map)
    key = normalize_text(F.col(text_col))
    keyed = s1.select(F.col(id_col), F.col(text_col),
                      F.xxhash64(key).alias("_k"),
                      F.length(key).alias("_klen"))
    rep = F.min(id_col).over(W.partitionBy("_k", "_klen"))
    keyed = keyed.withColumn("_rep", rep)
    exact_dup = (keyed.filter(F.col(id_col) != F.col("_rep"))
                 .select(id_col).localCheckpoint(eager=True))
    s2 = keyed.filter(F.col(id_col) == F.col("_rep")) \
              .select(id_col, text_col)

    pairs = minhash_lsh_pairs(s2, threshold=near_dup_threshold,
                              text_col=text_col, id_col=id_col,
                              hash_fn=hash_fn).select("id_a", "id_b")
    clusters = connected_components(pairs)
    near_dup = clusters.filter(F.col("node") != F.col("cluster")) \
                       .select(F.col("node").alias(id_col))

    disposition = (ids
                   .join(quality_fail.withColumn("_q", F.lit(True)),
                         on=id_col, how="left")
                   .join(exact_dup.withColumn("_e", F.lit(True)),
                         on=id_col, how="left")
                   .join(near_dup.withColumn("_n", F.lit(True)),
                         on=id_col, how="left"))
    reason = (F.when(F.col("_q"), F.lit("quality"))
              .when(F.col("_e"), F.lit("exact_dup"))
              .when(F.col("_n"), F.lit("near_dup"))
              .otherwise(F.lit("kept")))
    return (disposition
            .withColumn("reason", reason)
            .withColumn("kept", F.col("reason") == F.lit("kept"))
            .select(id_col, "kept", "reason"))
