"""Skew handling: salting + two-phase aggregation.

The pages table's hosts are Zipf-distributed (a few very hot hosts —
FIXTURES.md F1); a plain ``groupBy(host)`` sends every hot-host row to
one reducer. Two standard remedies, both pure DataFrame:

1. **Salted two-phase aggregate**: groupBy(key, salt) partial ->
   groupBy(key) final. Turns one hot partition into ``salt_buckets``
   partitions; cost is a second (tiny) shuffle over the partial rows.
2. **AQE skew join** (spark.sql.adaptive.skewJoin.enabled, on in
   session.py): runtime splitting of oversized join partitions — no
   code, covers the join path.

Salting composes with any algebraic aggregate (count/sum/min/max);
non-algebraic ones (exact distinct) need the hash-partial pattern in
``salted_count_distinct``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, buckets: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic row salt derived from the whole row's hash via
    monotonically_increasing_id-free path: xxhash64 over a uniformly
    distributed existing column set. Uses spark_partition_id + a
    per-row sequence surrogate (rand would break reproducibility)."""
    cols = [F.col(c) for c in df.columns if not c.startswith("_")]
    return df.withColumn(salt_col, F.pmod(F.xxhash64(*cols), F.lit(buckets)))


def salted_agg(df: DataFrame, keys: list[str], aggs: dict[str, str],
               buckets: int = 16) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs``: {column: fn} with fn in {count, sum, min, max}.
    Phase 1 groups on (keys + salt) — hot keys spread over ``buckets``
    reducers; phase 2 merges partials per key (rows = |keys| x buckets,
    trivially small).
    """
    merge_fn = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}
    phase1_aggs = []
    for col, fn in aggs.items():
        alias = f"{fn}_{col}"
        if fn == "count":
            phase1_aggs.append(F.count(F.lit(1)).alias(alias))
        else:
            phase1_aggs.append(getattr(F, fn)(F.col(col)).alias(alias))
    salted = with_salt(df, buckets)
    partial = salted.groupBy(*keys, "_salt").agg(*phase1_aggs)
    final_aggs = [merge_fn[fn](F.col(f"{fn}_{col}")).alias(f"{fn}_{col}")
                  for col, fn in aggs.items()]
    return partial.groupBy(*keys).agg(*final_aggs)


def salted_count_distinct(df: DataFrame, keys: list[str], value: str,
                          buckets: int = 16) -> DataFrame:
    """Skew-safe exact count-distinct: partial distinct per
    (key, hash-bucket-of-value) so one hot key's distinct set is built
    across ``buckets`` reducers, then summed (buckets partition the
    value space, so per-bucket distincts are disjoint)."""
    bucketed = df.withColumn("_vb", F.pmod(F.xxhash64(F.col(value)), F.lit(buckets)))
    partial = (bucketed.groupBy(*keys, "_vb")
               .agg(F.count_distinct(F.col(value)).alias("_pd")))
    return partial.groupBy(*keys).agg(F.sum("_pd").alias(f"distinct_{value}"))

