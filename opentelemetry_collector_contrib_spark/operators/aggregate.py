"""Aggregation connectors/processors.

count/sum connector semantics (connector/countconnector/counter.go:38-128,
connector/sumconnector/sum.go:40-150): per metric definition, optional
OR'd conditions select rows; the group key is the selected attribute
tuple (the reference hashes it — pdatautil.MapHash — which Spark's
groupBy gives for free); rows missing a grouping attribute are
EXCLUDED unless the attribute config supplies a default_value.
Output: one row per (metric_name, group attrs) with a delta monotonic
count/sum.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.fields import field_col

DEFAULT_METRIC_NAME = "log.record.count"  # countconnector/config.go:30


@dataclass
class AttrSpec:
    key: str                      # path into attributes/resource
    default_value: str | None = None
    out_name: str | None = None   # output column; defaults to last path part

    @property
    def col_name(self) -> str:
        return self.out_name or self.key.split(".", 1)[-1].replace(".", "_")


@dataclass
class MetricDef:
    name: str = DEFAULT_METRIC_NAME
    description: str = ""
    conditions: list = field(default_factory=list)   # OR semantics
    attributes: list[AttrSpec] = field(default_factory=list)
    source_attribute: str | None = None              # sum connector only


def metric_pass(counts: list[MetricDef], sums: list[MetricDef],
                resource_keys: list[str] | None = None,
                reference_quirks: bool = False) -> Callable[[DataFrame], DataFrame]:
    """Compile count and sum defs into ONE pass, its Columns built once:
    each row emits a ``(metric_name, resource..., attrs..., value)``
    struct per def whose conditions and presence rule hold, and one
    groupBy over the inlined structs aggregates every def (one scan, one
    shuffle). Output: (resource..., first def's attrs..., value,
    metric_name, other defs' attrs...), NULL where a def lacks an attr;
    ``value`` is a long when every def counts, else a double. Names are
    unique, as in the reference's configs (metrics are map keys): they
    tell the defs' rows apart in the shared groupBy.
    """
    defs = [*counts, *sums]
    if len({m.name for m in defs}) != len(defs):
        raise ValueError(f"metric names must be unique: {[m.name for m in defs]}")
    dims = list(dict.fromkeys(a.col_name for m in defs for a in m.attributes))
    rkeys = list(resource_keys or [])
    rows = []
    for i, mdef in enumerate(defs):
        conds = [F.expr(c) if isinstance(c, str) else c for c in mdef.conditions]
        keep = [reduce(Column.__or__, [F.coalesce(c, F.lit(False)) for c in conds])
                ] if conds else []
        attrs = {}
        for spec in mdef.attributes:
            v = field_col(spec.key)
            if spec.default_value is not None:
                v = F.coalesce(v, F.lit(spec.default_value))
            else:
                keep.append(v.isNotNull())  # counter.go:95-104 presence rule
            attrs[spec.col_name] = v
        if i < len(counts):
            value = F.lit(1).cast("long")
        elif not mdef.source_attribute:
            raise ValueError("sum connector requires source_attribute")
        else:
            # try_cast: non-numeric strings are skipped, not errors (the
            # reference parses string values tolerantly, sum.go:40-150)
            value = field_col(mdef.source_attribute).try_cast("double")
            if reference_quirks:
                value = F.coalesce(value, F.lit(0.0)) * F.lit(max(len(mdef.attributes), 1))
            else:
                keep.append(value.isNotNull())
        row = F.struct(F.lit(mdef.name).alias("metric_name"),
                       *[F.col(f"`{r}`").alias(r) for r in rkeys],
                       *[attrs.get(d, F.lit(None)).alias(d) for d in dims],
                       value.alias("value"))
        rows.append(F.when(reduce(Column.__and__, keep), row) if keep else row)
    first = [a.col_name for a in defs[0].attributes]
    emit, named = F.inline(F.array(*rows)), F.col("metric_name").isNotNull()
    keys = [F.col(f"`{k}`") for k in ["metric_name", *rkeys, *dims]]
    value = (F.sum("value") if sums else F.count(F.lit(1))).alias("value")
    out = [F.col(f"`{k}`") for k in
           [*rkeys, *first, "value", "metric_name", *[d for d in dims if d not in first]]]
    return lambda df: df.select(emit).filter(named).groupBy(*keys).agg(value).select(*out)


def count_metrics(df: DataFrame, metrics: list[MetricDef],
                  resource_keys: list[str] | None = None) -> DataFrame:
    """count connector: every metric def in one pass (``metric_pass``)."""
    return metric_pass(metrics, [], resource_keys)(df)


def sum_metrics(df: DataFrame, metrics: list[MetricDef],
                resource_keys: list[str] | None = None,
                reference_quirks: bool = False) -> DataFrame:
    """sum connector: numeric-string source_attribute parsed to double
    and summed (connector/sumconnector/config.go:32-34), every def in
    one pass (``metric_pass``).

    ``reference_quirks=True`` reproduces two behaviors the reference's
    goldens encode (verified in tests/test_golden_sumconnector.py):
    (a) increment() adds the value once PER grouping attribute —
    sum.go:119-127 iterates the attr map and adds inside the loop, so
    two group attrs double the sum; (b) an unparseable source value
    contributes 0 rather than being dropped (update() leaves sumVal=0
    on ParseFloat failure, sum.go:47-57). Defaults to the sane
    semantics (each row adds its value exactly once; non-numeric
    skipped).
    """
    return metric_pass([], metrics, resource_keys, reference_quirks)(df)


def log_dedup_records(
    df: DataFrame,
    order_col: str,
    exclude_fields: list[str] | None = None,
    include_fields: list[str] | None = None,
    conditions: list[str] | None = None,
    ts_col: str = "timestamp",
    attrs_col: str = "attributes",
    body_col: str = "body",
    count_attr: str = "log_count",
) -> tuple[DataFrame, DataFrame]:
    """Record-level logdedup with the reference's exact semantics
    (processor/logdedupprocessor/processor.go + counter.go): identical
    records collapse to their FIRST-CONSUMED representative, which is
    re-emitted with ``count_attr``, first_observed_timestamp and
    last_observed_timestamp added to its attributes. Records matching
    none of ``conditions`` (OR-joined, default: everything matches)
    pass through UNCHANGED. Returns (deduped, passthrough).

    Identity key: every field except timestamps — resource + attributes
    (minus ``exclude_fields`` paths like "attributes.remove_me") +
    body + severity — or ONLY the ``include_fields`` paths when given
    ("attributes.k"; "body.k" extracts from a JSON-encoded map body).
    """

    def path_expr(p: str) -> Column:
        root, _, rest = p.partition(".")
        if root == attrs_col:
            return F.col(attrs_col).getItem(rest)
        if root == body_col and rest:
            return F.get_json_object(F.col(body_col), f"$.{rest}")
        return F.col(p)

    if conditions:
        match = F.lit(False)
        for c in conditions:
            match = match | F.coalesce(F.expr(c), F.lit(False))
    else:
        match = F.lit(True)
    df = df.withColumn("_match", match)
    passthrough = df.filter(~F.col("_match")).drop("_match")
    matched = df.filter(F.col("_match")).drop("_match")

    if include_fields:
        key = F.array(*[path_expr(p).cast("string") for p in include_fields])
    else:
        excluded = sorted({p.partition(".")[2] for p in (exclude_fields or [])
                           if p.startswith(attrs_col + ".")})
        if excluded:
            # the reference's fieldRemover MUTATES the record before
            # aggregation — excluded fields vanish from the output too
            matched = matched.withColumn(
                attrs_col,
                F.map_filter(F.col(attrs_col),
                             lambda k, _v: ~k.isin(*excluded)))
        attrs_key = F.to_json(F.sort_array(F.map_entries(F.col(attrs_col))))
        others = [c for c in matched.columns
                  if c not in {attrs_col, ts_col, order_col}]
        key = F.array(attrs_key, *[F.col(c).cast("string") for c in others])

    rep_cols = [c for c in matched.columns if c != "_key"]
    grouped = (matched.withColumn("_key", key)
               .groupBy("_key")
               .agg(F.min_by(F.struct(*rep_cols), F.col(order_col)).alias("_rep"),
                    F.count(F.lit(1)).alias("_cnt"),
                    F.min(ts_col).alias("_first"),
                    F.max(ts_col).alias("_last")))
    dedup = grouped.select(F.col("_rep.*"), "_cnt", "_first", "_last")
    stamp = "yyyy-MM-dd'T'HH:mm:ss'Z'"
    dedup = dedup.withColumn(
        attrs_col,
        F.map_concat(
            F.col(attrs_col),
            F.create_map(
                F.lit(count_attr), F.col("_cnt").cast("string"),
                F.lit("first_observed_timestamp"),
                F.date_format(F.col("_first"), stamp),
                F.lit("last_observed_timestamp"),
                F.date_format(F.col("_last"), stamp)))
    ).drop("_cnt", "_first", "_last")
    return dedup, passthrough


def group_by_attrs(df: DataFrame, keys: list[str]) -> DataFrame:
    """groupbyattrs processor (processor/groupbyattrsprocessor/
    processor.go:63-96): move the listed attribute keys record->resource.
    In the flat model this is pure column movement — no shuffle."""
    out = df
    for k in keys:
        v = F.col("attributes").getItem(k)
        out = out.withColumn(
            "resource",
            F.when(v.isNotNull(),
                   F.map_concat(F.coalesce(F.col("resource"),
                                           F.create_map().cast("map<string,string>")),
                                F.create_map(F.lit(k), v)))
            .otherwise(F.col("resource")),
        ).withColumn(
            "attributes",
            F.map_filter(F.col("attributes"),
                         (lambda key: lambda mk, _v: mk != F.lit(key))(k)),
        )
    return out


def aggregate_metric(df: DataFrame, value_col: str, group_by: list[str],
                     agg_type: str) -> DataFrame:
    """metricstransform aggregation
    (internal/coreinternal/aggregateutil/type.go:14-36): sum | mean |
    min | max | median | count across a label set."""
    v = F.col(value_col)
    fns = {
        "sum": F.sum(v), "mean": F.avg(v), "min": F.min(v), "max": F.max(v),
        "median": F.median(v), "count": F.count(v),
    }
    if agg_type not in fns:
        raise ValueError(f"unknown aggregation type {agg_type}")
    return df.groupBy(*group_by).agg(fns[agg_type].alias(value_col))


def exceptions_connector(df: DataFrame, dims: list[str],
                         event_name_col: str = "event_name") -> DataFrame:
    """exceptions connector (connector/exceptionsconnector/): count
    exception events by dimensions."""
    return (df.filter(F.col(event_name_col) == "exception")
            .groupBy(*dims).agg(F.count(F.lit(1)).alias("exception_count")))


DEFAULT_SPANMETRICS_BUCKETS_MS = [2, 4, 6, 8, 10, 50, 100, 200, 400, 800,
                                  1000, 1400, 2000, 5000, 10000, 15000]
MAX_SCALE = 20  # go-expohisto's (and the SDK mapping's) largest scale


def explicit_bucket(v: Column, bounds: list[float]) -> Column:
    """Explicit-histogram bucket index of ``v``: sort.SearchFloat64s
    (bounds, v), the number of bounds strictly below v, so buckets are
    upper-inclusive (explicithistogram.go Aggregate). NULL and NaN land
    in the overflow bucket ``len(bounds)``."""
    idx = F.lit(len(bounds))
    for i, b in reversed(list(enumerate(sorted(bounds)))):
        idx = F.when(v <= F.lit(float(b)), F.lit(i)).otherwise(idx)
    return idx


def expo_downscale(df: DataFrame, keys: list[str], value: Column,
                   max_size: int | Column) -> DataFrame:
    """go-expohisto's end state, per row: each series (``keys``) starts
    at MAX_SCALE and halves its resolution until the bucket span of its
    positive values fits ``max_size``. Adds the series' shift ``_h``
    (scale = MAX_SCALE - _h) and the row's bucket ``_bi`` at that
    scale, NULL for v <= 0 (the zero bucket); a series with no positive
    value keeps go-expohisto's zero-state scale 0.

    Downscaling is index-exact (idx_s(v) == floor(idx_20(v) /
    2^(20-s)), the spec's perfect subsetting), so the shape is a
    map-side-combined min/max of the scale-20 index per series and a
    BROADCAST of that tiny (keys, _h) frame back onto the rows. Callers
    then aggregate per (keys, _h, _bi) and per (keys, _h): no row ever
    holds more than ``max_size`` buckets. ``max_size`` may be a Column
    over ``keys``, a limit per series.
    """
    df = df.withColumn("_i", F.when(value > 0, (F.ceil(
        F.log2(value) * F.lit(float(2 ** MAX_SCALE))) - 1).cast("long")))
    # smallest shift h with downscaled span <= max_size (floor division
    # == arithmetic shift for negative indices; |idx| < 2^40 so the
    # double division is exact). Shifts may exceed MAX_SCALE — the
    # spec's scale floor is -10 (negative scales = multi-octave
    # buckets), and at scale -10 any double-representable range fits
    # in <= 4 buckets, so the search range is always sufficient.
    max_shift = MAX_SCALE + 10
    span_fits = lambda h: (  # noqa: E731
        F.floor(F.col("_mx") / F.pow(F.lit(2.0), h))
        - F.floor(F.col("_mn") / F.pow(F.lit(2.0), h)) + 1) <= max_size
    shifts = (df.filter(F.col("_i").isNotNull()).groupBy(*keys)
              .agg(F.min("_i").alias("_mn"), F.max("_i").alias("_mx"))
              .select(*keys, F.coalesce(
                  F.array_min(F.filter(
                      F.sequence(F.lit(0), F.lit(max_shift)), span_fits)),
                  F.lit(max_shift)).alias("_h")))
    # null-safe keys: a row whose key is NULL still has a series (as in
    # span_metrics); a plain equi-join would drop it. Only series with
    # a positive value have a shift row; the others keep scale 0.
    skeys = [f"_k{i}" for i in range(len(keys))]
    on = [F.col(k).eqNullSafe(F.col(sk)) for k, sk in zip(keys, skeys)]
    shift = F.coalesce(F.col("_h"), F.lit(MAX_SCALE))
    bucket = F.floor(F.col("_i") / F.pow(F.lit(2.0), shift))
    return (df.join(F.broadcast(shifts.toDF(*skeys, "_h")), on=on, how="left")
            .withColumns({"_h": shift, "_bi": bucket.cast("long")})
            .drop("_i", *skeys))


def _span_error(df: DataFrame) -> Column:
    return F.coalesce(F.col("status_code") == "ERROR", F.lit(False)) \
        if "status_code" in df.columns else F.lit(False)


def _red_per_bucket(df: DataFrame, keys: list, duration: Column,
                    err: Column) -> DataFrame:
    """Stage one of both spanmetrics modes: calls (``_bn``), errors
    (``_be``) and duration sum (``_bd``) per (dims, bucket). Durations
    are summed as decimal(28,6): exact and associative, so re-summing
    the per-bucket partials cannot land on a different rounding
    boundary than a single-pass double sum would (fp addition is
    non-associative; decimal is not)."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_bn"),
        F.sum(err.cast("long")).alias("_be"),
        F.sum(duration.cast("decimal(28,6)")).alias("_bd"))


def _red_totals() -> list[Column]:
    return [F.sum("_bn").alias("calls"), F.sum("_be").alias("errors"),
            F.round(F.sum("_bd"), 6).cast("double").alias("duration_sum")]


def span_metrics(df: DataFrame, dims: list[str],
                 duration_col: str = "duration_ms",
                 buckets: list[float] | None = None,
                 cardinality_limit: int | None = None,
                 order_col: str | None = None) -> DataFrame:
    """spanmetrics connector R.E.D metrics
    (connector/spanmetricsconnector/connector.go:249-294, default
    buckets config.go:23-27): per dimension set, calls count + error
    count + explicit duration histogram, in one shuffle.

    ``cardinality_limit`` mirrors ``aggregation_cardinality_limit``
    (config.go:95 + internal/metrics/metrics.go GetOrCreate): only the
    first N DISTINCT dimension sets in arrival order keep their own
    series; spans introducing a new key past the limit fold into ONE
    overflow series whose only attribute is otel.metric.overflow=true
    (dims null, ``otel_metric_overflow`` true). Arrival order must be
    explicit in batch — pass ``order_col``. The key-ranking pass adds
    one aggregation over the DISTINCT keys plus a broadcast join; the
    keys frame is bounded by the series cardinality the reference
    would hold in memory anyway.

    Output: dims [+ otel_metric_overflow] + calls + errors +
    per-bucket counts as MAP<bucket_le, count> (delta temporality).
    """
    bounds = sorted(float(b) for b in buckets or DEFAULT_SPANMETRICS_BUCKETS_MS)
    overflow_col = []
    if cardinality_limit:
        if not order_col:
            raise ValueError(
                "cardinality_limit needs order_col: the reference caps "
                "series by ARRIVAL order, which batch must state "
                "explicitly")
        from pyspark.sql import Window as W
        first = df.groupBy(*dims).agg(F.min(order_col).alias("_fs"))
        ranked = first.withColumn(
            "_keep",
            F.row_number().over(W.orderBy(F.col("_fs"), *dims))
            <= cardinality_limit).drop("_fs")
        # null-safe keys, as in expo_downscale: a span whose dim is NULL
        # still has a ranked series, and a plain equi-join would leave
        # its _keep NULL
        skeys = [f"_k{i}" for i in range(len(dims))]
        on = [F.col(d).eqNullSafe(F.col(sk)) for d, sk in zip(dims, skeys)]
        df = df.join(F.broadcast(ranked.toDF(*skeys, "_keep")), on=on,
                     how="left").drop(*skeys)
        df = df.select(
            *[F.when(F.col("_keep"), F.col(d)).alias(d) for d in dims],
            (~F.col("_keep")).alias("otel_metric_overflow"),
            *[c for c in df.columns if c not in (*dims, "_keep")])
        overflow_col = ["otel_metric_overflow"]
        dims = [*dims, *overflow_col]
    v = F.col(duration_col)
    labels = F.array(*[F.lit(str(b)) for b in bounds], F.lit("inf"))
    per_bucket = _red_per_bucket(
        df.withColumn("_ble", F.element_at(labels, explicit_bucket(v, bounds) + 1)),
        [*dims, "_ble"], v, _span_error(df))
    return (per_bucket.groupBy(*dims)
            .agg(*_red_totals(),
                 F.map_from_entries(F.sort_array(F.collect_list(
                     F.struct(F.col("_ble"), F.col("_bn"))))).alias("bucket_counts")))


def span_metrics_exponential(df: DataFrame, dims: list[str],
                             duration_col: str = "duration_ms",
                             max_size: int = 160) -> DataFrame:
    """spanmetrics exponential-histogram mode
    (connector/spanmetricsconnector/config.go:23-123 ``histogram:
    exponential``): base-2 exponential buckets per the OTel spec —
    bucket index of value v at scale s is ceil(log2(v) * 2^s) - 1
    (base = 2^(2^-s)); zero/negative durations count in zero_count.

    Each dimension group gets the reference's go-expohisto
    auto-downscale (``expo_downscale``): the largest scale <= MAX_SCALE
    whose observed bucket-index span fits ``max_size`` (default 160,
    config.go max_size), emitted as a per-group ``scale`` column, then
    the two-stage bucket aggregation — three shuffles total, none over
    wide rows. Output: dims + scale + calls + errors +
    duration_sum(decimal-exact) + zero_count + MAP<bucket_index, count>.
    """
    base = df.select(*dims, F.col(duration_col).alias("_d"),
                     _span_error(df).alias("_e"))
    per_bucket = _red_per_bucket(
        expo_downscale(base, dims, F.col("_d"), max_size),
        [*dims, "_h", "_bi"], F.col("_d"), F.col("_e"))
    out = per_bucket.groupBy(*dims, "_h").agg(
        *_red_totals(),
        F.sum(F.when(F.col("_bi").isNull(), F.col("_bn"))
              .otherwise(F.lit(0))).alias("zero_count"),
        F.map_from_entries(F.sort_array(F.collect_list(
            F.when(F.col("_bi").isNotNull(),
                   F.struct(F.col("_bi"), F.col("_bn"))))))
        .alias("bucket_counts"))
    return out.select(*dims,
                      (F.lit(MAX_SCALE) - F.col("_h")).cast("int")
                      .alias("scale"),
                      "calls", "errors", "duration_sum", "zero_count",
                      "bucket_counts")


def grafana_cloud_host_metrics(
    spans: DataFrame,
    host_identifiers: list[str],
    flush_interval: str = "60 seconds",
    resource_col: str = "resource",
    ts_col: str = "ts",
) -> DataFrame:
    """grafanacloud connector (connector/grafanacloudconnector/
    connector.go:71-88 + host_metrics.go): collect the distinct host
    ids seen across resources and emit one ``traces_host_info`` gauge
    datapoint per host (value 1, ``grafana.host.id`` attribute) each
    flush interval.

    The host id is the FIRST configured identifier attribute present
    on the resource (the reference breaks on key existence,
    connector.go:78-84); the wall-clock flush ticker restates as
    tumbling EVENT-time windows of ``flush_interval``. Plan: narrow
    projection -> one distinct (the shuffle) per window — the 100-TB
    shape, since output cardinality is windows x hosts, not rows.

    Output: window_start, metric ("traces_host_info"),
    grafana_host_id, value (1).
    """
    if not host_identifiers:
        raise ValueError("at least one host identifier is required "
                         "(config.go:29)")
    host = F.coalesce(*[F.col(resource_col)[k] for k in host_identifiers])
    return (spans
            .select(F.window(F.col(ts_col), flush_interval)
                    .getField("start").alias("window_start"),
                    host.alias("grafana_host_id"))
            .filter(F.col("grafana_host_id").isNotNull())
            .distinct()
            .select("window_start",
                    F.lit("traces_host_info").alias("metric"),
                    "grafana_host_id",
                    F.lit(1).cast("long").alias("value")))
