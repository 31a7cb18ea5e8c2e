"""signaltometrics connector: full config semantics.

The reference (connector/signaltometricsconnector/) compiles each
metric definition's OTTL value/condition expressions per signal and
folds every matching record into per-(resource, attributes) datapoints
(internal/aggregator/): sum (int or double by the value's type), gauge
(LAST value wins), explicit histogram (SearchFloat64s upper-inclusive
buckets, sum += value*count), and exponential histogram (go-expohisto:
base-2 buckets at the maximal scale <= 20 whose bucket span fits
max_size, dense counts between the lowest and highest used index).

Spark shape per definition: OTTL conditions/values compile to Column
expressions (the same DSL the transform processor uses), records
filter + project, then ONE groupBy on (projected resource, datapoint
attributes). Explicit histograms share spanmetrics' bucket rule and
default bounds; exponential histograms share its go-expohisto
downscale (``aggregate.expo_downscale``: a min/max pass, a broadcast
shift frame, then a per-bucket partial aggregation at the final
scale). All definitions union into one long-form frame; nothing
leaves the JVM.

This is the engine's one signaltometrics implementation: the
``signaltometrics_config`` DuckDB oracle and the reference's testdata
goldens (tests/test_golden_signaltometrics) both run against it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.aggregate import (
    DEFAULT_SPANMETRICS_BUCKETS_MS, MAX_SCALE, explicit_bucket,
    expo_downscale)

_INT_RE = r"^-?\d+$"
_ENTRIES = "array<struct<key:string,value:string>>"


def _compile_ottl(expr: str) -> Column:
    from opentelemetry_collector_contrib_spark.functions.ottl_dsl import (
        compile_value)
    v = compile_value(expr)
    return v if isinstance(v, Column) else F.lit(v)


def _conditions(conds: list[str] | None) -> Column | None:
    """The connector ORs a definition's conditions
    (config/config.go: any condition matching includes the record)."""
    if not conds:
        return None
    from opentelemetry_collector_contrib_spark.functions.ottl_dsl import (
        any_condition)
    return any_condition(conds)


OUT_SCHEMA = ("name string, description string, unit string, mtype string, "
              "resource map<string,string>, attrs map<string,string>, "
              "is_int boolean, value_int long, value_double double, "
              "count long, total double, bounds array<double>, "
              "bucket_counts array<long>, scale int, zero_count long, "
              "pos_offset int, pos_counts array<long>, "
              "v_min double, v_max double")


def _grouped(df: DataFrame, d: dict, identity_attrs: dict | None):
    """Filter by conditions + required attributes, project the resource
    (include_resource_attributes + connector identity attrs) and the
    datapoint attributes as entry-array group keys, and return
    (df, group_cols); ``_group_maps`` turns the keys back into maps."""
    cond = _conditions(d.get("conditions"))
    if cond is not None:
        df = df.filter(cond)
    attr_specs = d.get("attributes") or []
    entries = []
    for spec in attr_specs:
        key = spec["key"]
        v = F.col("attributes")[key]
        if "default_value" in spec:
            v = F.coalesce(v, F.lit(str(spec["default_value"])))
        elif not spec.get("optional"):
            # records missing a required attribute are skipped
            # (aggregator.go: attribute fetch failure drops the event);
            # optional: true keeps the record and just omits the key
            df = df.filter(v.isNotNull())
        entries.append(F.struct(F.lit(key).alias("key"), v.alias("value")))
    dp_attrs = F.array(*entries) if entries else F.array().cast(_ENTRIES)

    res = F.coalesce(F.col("resource"),
                     F.create_map().cast("map<string,string>")) \
        if "resource" in df.columns \
        else F.create_map().cast("map<string,string>")
    inc = [s["key"] for s in (d.get("include_resource_attributes") or [])]
    if inc:
        res = F.map_filter(res, lambda k, _v: k.isin(*inc))
    if identity_attrs:
        res = F.map_concat(res, F.create_map(
            *[F.lit(x) for kv in identity_attrs.items() for x in kv]))
    df = (df.withColumn("_gres", F.sort_array(F.map_entries(res)))
          .withColumn("_gattr", dp_attrs))
    return df, ["_gres", "_gattr"]


def _group_maps() -> list[Column]:
    """The resource and datapoint-attribute maps of a group, rebuilt
    from its keys once per group (an optional attribute a record lacks
    is a NULL-valued entry in the key and no key in the map)."""
    return [F.map_from_entries("_gres").alias("resource"),
            F.map_filter(F.map_from_entries("_gattr"),
                         lambda _k, v: v.isNotNull()).alias("attrs")]


def _typed_value(df: DataFrame, expr: str):
    """-> (value_double, is_int_per_record). The reference types sums/
    gauges by the OTTL value's Go type; the flat model recovers it from
    the compiled Spark type, falling back to shape inference for map
    members (integers render without '.', and grok's :int/:double
    modifiers canonicalize the rendering)."""
    v = _compile_ottl(expr)
    dt = df.select(v.alias("_v")).schema[0].dataType.typeName()
    if dt in ("long", "int", "integer", "short", "byte"):
        return v.cast("double"), F.lit(True)
    if dt in ("double", "float") or dt.startswith("decimal"):
        return v.cast("double"), F.lit(False)
    s = v.cast("string")
    return s.try_cast("double"), s.rlike(_INT_RE)


def _null(*names):  # schema padding for the unified long form
    return [F.lit(None).alias(n) for n in names]


_MTYPES = ("sum", "gauge", "histogram", "exponential_histogram")


def signal_to_metrics_config(df: DataFrame, defs: list[dict],
                             identity_attrs: dict | None = None,
                             order_col: str | None = None) -> DataFrame:
    """Run a signaltometrics definition list over a flat signal frame.

    Each def: {name, description?, unit?, attributes?: [{key,
    default_value?}], include_resource_attributes?: [{key}],
    conditions?: [ottl...], sum|gauge|histogram|exponential_histogram:
    {value: ottl, count?: ottl, buckets?: [...], max_size?: n}}.
    ``identity_attrs`` are the connector's own service-identity
    resource attributes (signaltometrics.service.*). ``order_col``
    gives gauge its last-wins order (required if any def is a gauge).
    Returns the unified long-form frame (OUT_SCHEMA).
    """
    if not defs:
        # config.go Validate(): at least one definition is required
        raise ValueError("signaltometrics: the metric definition list "
                         "is empty; configure at least one definition")
    outs = []
    for d in defs:
        mtype = next((t for t in _MTYPES if t in d), None)
        if mtype is None:
            raise ValueError(
                f"definition {d.get('name')!r} has no metric type "
                "(sum/gauge/histogram/exponential_histogram)")
        if mtype == "gauge" and order_col is None:
            raise ValueError("gauge needs order_col (last value wins)")
        cfg = d[mtype]
        g, gcols = _grouped(df, d, identity_attrs)
        # the maps come back from the group keys, so no aggregation
        # buffer holds a map (that would force a sort-based aggregate)
        base = [F.lit(d["name"]).alias("name"),
                F.lit(d.get("description", "")).alias("description"),
                F.lit(d.get("unit", "")).alias("unit"),
                F.lit(mtype).alias("mtype"), *_group_maps()]
        if mtype in ("sum", "gauge"):
            vd, is_int = _typed_value(g, cfg["value"])
            g = g.withColumn("_vd", vd).withColumn("_ii", is_int) \
                .filter(F.col("_vd").isNotNull())
            aggs = ([F.min("_ii"), F.sum("_vd")] if mtype == "sum" else
                    [F.max_by("_ii", order_col), F.max_by("_vd", order_col)])
            agg = g.groupBy(*gcols).agg(
                aggs[0].alias("is_int"), aggs[1].alias("_s"))
            outs.append(agg.select(
                *base, "is_int",
                F.when(F.col("is_int"), F.col("_s").cast("long"))
                .alias("value_int"),
                F.when(~F.col("is_int"), F.col("_s")).alias("value_double"),
                *_null("count", "total", "bounds", "bucket_counts", "scale",
                       "zero_count", "pos_offset", "pos_counts",
                       "v_min", "v_max")))
            continue
        v = _compile_ottl(cfg["value"]).try_cast("double")
        cnt = _compile_ottl(cfg.get("count", "1")).try_cast("long")
        g = (g.withColumn("_v", v).withColumn("_c", cnt)
             .filter(F.col("_v").isNotNull() & F.col("_c").isNotNull()))
        if mtype == "histogram":
            # config.go:37: spanmetrics-style default bounds
            bounds = [float(b) for b in cfg.get("buckets") or
                      DEFAULT_SPANMETRICS_BUCKETS_MS]
            g = g.withColumn("_bi", explicit_bucket(F.col("_v"), bounds))
            agg = g.groupBy(*gcols).agg(
                F.sum("_c").alias("count"),
                F.sum(F.col("_v") * F.col("_c")).alias("total"),
                *[F.sum(F.when(F.col("_bi") == i, F.col("_c"))
                        .otherwise(F.lit(0))).alias(f"_b{i}")
                  for i in range(len(bounds) + 1)])
            outs.append(agg.select(
                *base, *_null("is_int", "value_int", "value_double"),
                "count", "total",
                F.array(*[F.lit(b) for b in bounds]).alias("bounds"),
                F.array(*[F.col(f"_b{i}") for i in range(len(bounds) + 1)])
                .alias("bucket_counts"),
                *_null("scale", "zero_count", "pos_offset", "pos_counts",
                       "v_min", "v_max")))
            continue
        # exponential: go-expohisto's end state per series, then a
        # per-bucket partial aggregation at the final scale, so each
        # series collects at most max_size buckets
        g = expo_downscale(g, gcols, F.col("_v"), int(cfg.get("max_size", 160)))
        per_bucket = g.groupBy(*gcols, "_h", "_bi").agg(
            F.sum("_c").alias("_n"),
            F.sum(F.col("_v") * F.col("_c")).alias("_t"),
            F.min("_v").alias("_mnv"), F.max("_v").alias("_mxv"))
        agg = per_bucket.groupBy(*gcols, "_h").agg(
            F.sum("_n").alias("count"), F.sum("_t").alias("total"),
            F.min("_mnv").alias("v_min"), F.max("_mxv").alias("v_max"),
            F.sum(F.when(F.col("_bi").isNull(), F.col("_n"))
                  .otherwise(F.lit(0))).alias("zero_count"),
            F.min("_bi").alias("_off"), F.max("_bi").alias("_hi"),
            F.map_from_entries(F.collect_list(F.when(
                F.col("_bi").isNotNull(), F.struct("_bi", "_n")))).alias("_bm"))
        # dense counts between the lowest and highest used index
        # (exphistogram.go copyBucketRange over the logical range)
        dense = F.transform(F.sequence("_off", "_hi"), lambda i: F.coalesce(
            F.col("_bm")[i], F.lit(0).cast("long")))
        outs.append(agg.select(
            *base, *_null("is_int", "value_int", "value_double"),
            "count", "total", *_null("bounds", "bucket_counts"),
            (F.lit(MAX_SCALE) - F.col("_h")).cast("int").alias("scale"),
            "zero_count", F.col("_off").cast("int").alias("pos_offset"),
            F.coalesce(dense, F.array().cast("array<long>")).alias("pos_counts"),
            "v_min", "v_max"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
