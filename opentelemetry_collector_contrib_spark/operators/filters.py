"""Filter / sampling operators.

Conditions are Spark SQL boolean expressions — our declarative stand-in
for the reference's expr-lang (pkg/stanza/operator/helper/
expr_string.go:81-95) and OTTL conditions (pkg/ottl/boolean_value.go):
they compile to Catalyst predicates, push down to the scan, and
whole-stage-codegen. A condition that errors per-row evaluates to NULL
which is treated as no-match — the reference's error_mode=ignore
(processor/transformprocessor/config.go:38-43).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.base import Operator


def _cond(expr: str | Column) -> Column:
    return F.expr(expr) if isinstance(expr, str) else expr


def filter_transformer(expr: str | Column, drop_ratio: float = 1.0,
                       seed: int = 42) -> Operator:
    """Drop rows matching ``expr`` (stanza filter,
    transformer/filter/transformer.go:22-62). ``drop_ratio`` < 1 keeps a
    deterministic hash-based share of matching rows (reproducible
    variant of the reference's rand-based ratio, config.go:38-68)."""

    def fn(df: DataFrame) -> DataFrame:
        matched = F.coalesce(_cond(expr), F.lit(False))
        if drop_ratio >= 1.0:
            return df.filter(~matched)
        bucket = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns
                                     if not c.startswith("_")], F.lit(seed)), F.lit(10000))
        dropped = matched & (bucket < F.lit(int(drop_ratio * 10000)))
        return df.filter(~dropped)

    return Operator("filter", fn, {"drop_ratio": drop_ratio})


def filter_processor(conditions: list[str | Column]) -> Operator:
    """Drop records where ANY condition matches (filterprocessor OR
    semantics, processor/filterprocessor/logs.go:30-90)."""

    def fn(df: DataFrame) -> DataFrame:
        drop = F.lit(False)
        for c in conditions:
            drop = drop | F.coalesce(_cond(c), F.lit(False))
        return df.filter(~drop)

    return Operator("filter_processor", fn, {"n_conditions": len(conditions)})


def probabilistic_sampler(percent: float, hash_field: str | Column = "trace_id",
                          seed: int = 22, hash_fn: str = "xxhash64") -> Operator:
    """Hash-seed sampling over a chosen field
    (processor/probabilisticsamplerprocessor/logsprocessor.go:24-100).

    Deterministic and cluster-size independent: keep iff
    ``xxhash64(field, seed) pmod 2^14 < percent * 2^14 / 100`` — the
    Spark-native analog of the reference's FNV + 56-bit threshold
    (pkg/sampling/). The same row always gets the same verdict.

    hash_fn="md5": keep iff the first 4 hex chars of
    md5(field + ':' + seed) compare below the 16-bit threshold rendered
    as fixed-width lowercase hex — a pure string comparison that DuckDB
    reproduces byte-identically (the oracle-replicable mode; xxhash64
    stays the faster native default).

    hash_fn="fnv_seed": the reference's EXACT hash_seed mode
    (fnvhasher.go computeHash + sampler_mode.go): keep iff
    ``fnv1a_32(le32(seed) || value_bytes) & 0x3FFF <
    uint32(percent * 2^14 / 100)`` — a collector at the same
    sampling_percentage/hash_seed passes the identical record set
    through both layers. Hex-string fields (``^(?:[0-9a-fA-F]{2})+$``,
    what Go's hex.DecodeString accepts) hash their RAW bytes (trace
    ids), everything else its UTF-8 string form (getBytesFromValue);
    a null field is never kept. Pandas UDF over the whole Arrow batch
    (functions/hashes.py kernels; FNV has no JVM builtin)."""
    threshold = int(percent * (1 << 14) / 100)

    def fn(df: DataFrame) -> DataFrame:
        col = F.col(hash_field) if isinstance(hash_field, str) else hash_field
        if hash_fn == "md5":
            thr = int(percent * (1 << 16) / 100)
            if thr >= (1 << 16):
                return df  # percent >= 100: keep everything (a 5-hex-char
                # threshold would compare lexicographically wrong)
            thr_hex = format(thr, "04x")
            bucket_hex = F.substring(
                F.md5(F.concat(col.cast("string"), F.lit(f":{seed}"))), 1, 4)
            return df.filter(bucket_hex < F.lit(thr_hex))
        if hash_fn == "fnv_seed":
            from pyspark.sql.functions import pandas_udf

            from opentelemetry_collector_contrib_spark.functions.hashes import (
                fnv1a_32_kernel, hash_batch)
            seed_b = (seed & 0xFFFFFFFF).to_bytes(4, "little")
            thr = min(threshold, 1 << 14)

            def batch(s):
                import pandas as pd
                h, null = hash_batch(fnv1a_32_kernel, s, seed_b, raw_hex=True)
                return pd.Series(~null & ((h & 0x3FFF) < thr))
            return df.filter(pandas_udf(batch, "boolean")(col.cast("string")))
        bucket = F.pmod(F.xxhash64(col.cast("string"), F.lit(seed)), F.lit(1 << 14))
        return df.filter(bucket < F.lit(threshold))

    return Operator("probabilistic_sampler", fn, {"percent": percent})


def stratified_sample(df: DataFrame, strata: list[str], n_per_stratum: int,
                      id_col: str, seed: int = 22,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """Deterministic stratified sampling: keep the ``n_per_stratum``
    lowest-hash rows per stratum — reservoir-equivalent output that is
    cluster-size independent and reproducible (same rows on every
    rerun, unlike rand()-based sampleBy).

    One shuffle on the strata columns; per-stratum ranking via a
    window (rank key = hash, tiebreak id). hash_fn="md5" ranks by the
    md5 hex prefix so a DuckDB oracle can replicate the exact sample.

    Scale note (10^12 rows): a hot stratum serializes through one
    window partition — for heavy skew pre-filter with an approximate
    hash threshold (keep rows with hash < n/stratum_count estimate)
    before the exact window, or salt the stratum and take the n
    smallest of the per-salt winners.
    """
    from pyspark.sql import Window as W
    col = F.col(id_col).cast("string")
    if hash_fn == "md5":
        key = F.substring(F.md5(F.concat(col, F.lit(f":{seed}"))), 1, 16)
    else:
        key = F.xxhash64(col, F.lit(seed))
    w = W.partitionBy(*strata).orderBy(key, F.col(id_col))
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n_per_stratum)
            .drop("_rn"))


def match_properties(
    match_type: str = "strict",
    log_bodies: list[str] | None = None,
    severity_texts: list[str] | None = None,
    record_attributes: dict[str, str] | None = None,
    resource_attributes: dict[str, str] | None = None,
    min_severity: int | None = None,
) -> Column:
    """MatchProperties compiler — the include/exclude match rules of the
    filter and attributes processors (internal/filter/filterlog/ +
    filterset/filterset.go: match_type strict|regexp over bodies,
    severity texts, record/resource attributes; severity_number
    min-threshold).

    Returns a boolean Column: ALL configured property groups must match
    (within a group, any value matches) — the reference's semantics.
    """
    if match_type not in ("strict", "regexp"):
        raise ValueError("match_type must be strict|regexp")

    def str_match(col: Column, values: list[str]) -> Column:
        out = F.lit(False)
        for v in values:
            hit = col.rlike(v) if match_type == "regexp" else (col == F.lit(v))
            out = out | F.coalesce(hit, F.lit(False))
        return out

    cond = F.lit(True)
    if log_bodies:
        cond = cond & str_match(F.col("body"), log_bodies)
    if severity_texts:
        cond = cond & str_match(F.col("severity_text"), severity_texts)
    for attr_col, attrs in (("attributes", record_attributes),
                            ("resource", resource_attributes)):
        for k, v in (attrs or {}).items():
            cond = cond & str_match(F.col(attr_col).getItem(k), [v])
    if min_severity is not None:
        cond = cond & (F.coalesce(F.col("severity_number"), F.lit(0))
                       >= F.lit(min_severity))
    return cond


def filter_processor_matchers(
    include: dict | None = None,
    exclude: dict | None = None,
) -> Operator:
    """filterprocessor legacy include/exclude form
    (processor/filterprocessor/logs.go skipExpr at 42-63): a record is
    KEPT iff it matches ``include`` (when given) and does NOT match
    ``exclude`` (when given). Dicts are match_properties kwargs."""
    inc = match_properties(**include) if include else None
    exc = match_properties(**exclude) if exclude else None

    def fn(df: DataFrame) -> DataFrame:
        keep = F.lit(True)
        if inc is not None:
            keep = keep & inc
        if exc is not None:
            keep = keep & ~exc
        return df.filter(keep)

    return Operator("filter_processor_matchers", fn, {})


def filter_processor_config(config: dict) -> dict:
    """filterprocessor full config surface
    (processor/filterprocessor/config.go): OTTL drop-conditions per
    signal context —

        {"error_mode": "ignore",
         "logs":    {"log_record": [ottl...]},
         "metrics": {"metric": [...], "datapoint": [...]},
         "traces":  {"span": [...], "spanevent": [...]}}

    Returns ``{(signal, context): Operator}``; each operator drops rows
    where ANY condition is true (the reference's OR), with NULL
    condition results treated as no-match (error_mode=ignore — the only
    mode a total batch function needs). Conditions compile through the
    OTTL DSL onto the flat signal frames, so converter calls and
    context paths (metric.name, span.kind, spanevent.*, …) all work.
    """
    from opentelemetry_collector_contrib_spark.functions.ottl_dsl import (
        Parser, _tokenize)

    valid = {"logs": ("log_record",),
             "metrics": ("metric", "datapoint"),
             "traces": ("span", "spanevent")}
    unknown = set(config) - set(valid) - {"error_mode"}
    if unknown:
        raise ValueError(f"unknown filterprocessor keys: {sorted(unknown)}")
    out = {}
    for signal, contexts in valid.items():
        section = config.get(signal) or {}
        bad = set(section) - set(contexts)
        if bad:
            raise ValueError(
                f"{signal} filter supports contexts {contexts}, "
                f"got {sorted(bad)}")
        for ctx in contexts:
            conds = section.get(ctx) or []
            if not conds:
                continue
            cols = [Parser(_tokenize(c)).bool_expr() for c in conds]
            out[(signal, ctx)] = filter_processor(cols)
    return out
