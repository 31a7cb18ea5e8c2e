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
attributes) — histograms add a per-bucket partial aggregation first.
All definitions union into one long-form frame; nothing leaves the
JVM.

This is the engine's one signaltometrics implementation: the
``signaltometrics_config`` DuckDB oracle and the reference's testdata
goldens (tests/test_golden_signaltometrics) both run against it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_INT_RE = r"^-?\d+$"


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
    datapoint attributes, and return (df, group_cols)."""
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
    dp_attrs = (F.map_filter(F.map_from_entries(F.array(*entries)),
                             lambda _k, v: v.isNotNull()) if entries
                else F.create_map().cast("map<string,string>"))

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
    df = (df.withColumn("_res", res).withColumn("_attrs", dp_attrs)
          .withColumn("_gres", F.to_json(F.array_sort(F.map_entries(res))))
          .withColumn("_gattr",
                      F.to_json(F.array_sort(F.map_entries(dp_attrs)))))
    return df, ["_gres", "_gattr"]


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


def signal_to_metrics_config(df: DataFrame, defs: list[dict],
                             identity_attrs: dict | None = None,
                             order_col: str | None = None,
                             scale_cap: int = 20) -> DataFrame:
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
        base = [F.lit(d["name"]).alias("name"),
                F.lit(d.get("description", "")).alias("description"),
                F.lit(d.get("unit", "")).alias("unit")]
        keep = [F.first("_res").alias("resource"),
                F.first("_attrs").alias("attrs")]
        if "sum" in d:
            g, gcols = _grouped(df, d, identity_attrs)
            vd, is_int = _typed_value(g, d["sum"]["value"])
            g = g.withColumn("_vd", vd).withColumn("_ii", is_int) \
                .filter(F.col("_vd").isNotNull())
            agg = g.groupBy(*gcols).agg(
                *keep, F.min("_ii").alias("is_int"),
                F.sum("_vd").alias("_s"))
            outs.append(agg.select(
                *base, F.lit("sum").alias("mtype"), "resource", "attrs",
                "is_int",
                F.when(F.col("is_int"), F.col("_s").cast("long"))
                .alias("value_int"),
                F.when(~F.col("is_int"), F.col("_s")).alias("value_double"),
                *_null("count", "total", "bounds", "bucket_counts", "scale",
                       "zero_count", "pos_offset", "pos_counts",
                       "v_min", "v_max")))
        elif "gauge" in d:
            if order_col is None:
                raise ValueError("gauge needs order_col (last value wins)")
            g, gcols = _grouped(df, d, identity_attrs)
            vd, is_int = _typed_value(g, d["gauge"]["value"])
            g = g.withColumn("_vd", vd).withColumn("_ii", is_int) \
                .filter(F.col("_vd").isNotNull())
            agg = g.groupBy(*gcols).agg(
                *keep,
                F.max_by("_ii", order_col).alias("is_int"),
                F.max_by("_vd", order_col).alias("_s"))
            outs.append(agg.select(
                *base, F.lit("gauge").alias("mtype"), "resource", "attrs",
                "is_int",
                F.when(F.col("is_int"), F.col("_s").cast("long"))
                .alias("value_int"),
                F.when(~F.col("is_int"), F.col("_s")).alias("value_double"),
                *_null("count", "total", "bounds", "bucket_counts", "scale",
                       "zero_count", "pos_offset", "pos_counts",
                       "v_min", "v_max")))
        elif "histogram" in d:
            cfg = d["histogram"]
            # config.go:37: spanmetrics-style default bounds
            bounds = [float(b) for b in cfg.get("buckets") or
                      [2, 4, 6, 8, 10, 50, 100, 200, 400, 800, 1000,
                       1400, 2000, 5000, 10_000, 15_000]]
            g, gcols = _grouped(df, d, identity_attrs)
            v = _compile_ottl(cfg["value"]).try_cast("double")
            cnt = _compile_ottl(cfg.get("count", "1")).try_cast("long")
            g = (g.withColumn("_v", v).withColumn("_c", cnt)
                 .filter(F.col("_v").isNotNull() & F.col("_c").isNotNull()))
            # explicithistogram.go Aggregate: bucket index is
            # sort.SearchFloat64s(bounds, v) == #bounds strictly < v
            idx = F.size(F.filter(
                F.array(*[F.lit(b) for b in bounds]),
                lambda b: b < F.col("_v")))
            g = g.withColumn("_bi", idx)
            agg = g.groupBy(*gcols).agg(
                *keep, F.sum("_c").alias("count"),
                F.sum(F.col("_v") * F.col("_c")).alias("total"),
                *[F.sum(F.when(F.col("_bi") == i, F.col("_c"))
                        .otherwise(F.lit(0))).alias(f"_b{i}")
                  for i in range(len(bounds) + 1)])
            outs.append(agg.select(
                *base, F.lit("histogram").alias("mtype"), "resource",
                "attrs", *_null("is_int", "value_int", "value_double"),
                "count", "total",
                F.array(*[F.lit(b) for b in bounds]).alias("bounds"),
                F.array(*[F.col(f"_b{i}") for i in range(len(bounds) + 1)])
                .alias("bucket_counts"),
                *_null("scale", "zero_count", "pos_offset", "pos_counts",
                       "v_min", "v_max")))
        elif "exponential_histogram" in d:
            cfg = d["exponential_histogram"]
            max_size = int(cfg.get("max_size", 160))
            g, gcols = _grouped(df, d, identity_attrs)
            v = _compile_ottl(cfg["value"]).try_cast("double")
            cnt = _compile_ottl(cfg.get("count", "1")).try_cast("long")
            g = (g.withColumn("_v", v).withColumn("_c", cnt)
                 .filter(F.col("_v").isNotNull() & F.col("_c").isNotNull()))
            # base-2 index at the scale cap; the group then downscales
            # to the maximal scale whose span fits max_size — exactly
            # go-expohisto's only-downscale-when-needed end state
            i20 = F.when(
                F.col("_v") > 0,
                (F.ceil(F.log2("_v") * F.lit(float(2 ** scale_cap))) - 1)
                .cast("long"))
            g = g.withColumn("_i", i20)
            per_bucket = g.groupBy(*gcols, "_i").agg(
                F.first("_res").alias("_res"),
                F.first("_attrs").alias("_attrs"),
                F.sum("_c").alias("_n"),
                F.sum(F.col("_v") * F.col("_c")).alias("_t"),
                F.min("_v").alias("_mnv"), F.max("_v").alias("_mxv"))
            max_shift = scale_cap + 10
            fits = lambda h: (  # noqa: E731
                F.floor(F.col("_mx") / F.pow(F.lit(2.0), h))
                - F.floor(F.col("_mn") / F.pow(F.lit(2.0), h)) + 1) \
                <= max_size
            agg = per_bucket.groupBy(*gcols).agg(
                F.first("_res").alias("resource"),
                F.first("_attrs").alias("attrs"),
                F.min("_i").alias("_mn"), F.max("_i").alias("_mx"),
                F.sum("_n").alias("count"), F.sum("_t").alias("total"),
                F.min("_mnv").alias("v_min"), F.max("_mxv").alias("v_max"),
                F.sum(F.when(F.col("_i").isNull(), F.col("_n"))
                      .otherwise(F.lit(0))).alias("zero_count"),
                F.map_from_entries(F.sort_array(F.collect_list(
                    F.when(F.col("_i").isNotNull(),
                           F.struct("_i", "_n"))))).alias("_bm"))
            # no positive values -> go-expohisto's zero-state scale 0
            h = F.when(F.col("_mn").isNull(), F.lit(scale_cap)).otherwise(
                F.coalesce(
                    F.array_min(F.filter(
                        F.sequence(F.lit(0), F.lit(max_shift)), fits)),
                    F.lit(max_shift)))
            agg = agg.withColumn("_h", h)
            off = F.floor(F.col("_mn") / F.pow(F.lit(2.0), F.col("_h"))) \
                .cast("long")
            hi = F.floor(F.col("_mx") / F.pow(F.lit(2.0), F.col("_h"))) \
                .cast("long")
            # dense counts between the lowest and highest used index
            # (exphistogram.go copyBucketRange over the logical range)
            dense = F.transform(
                F.sequence(off, hi),
                lambda i: F.aggregate(
                    F.filter(F.map_entries(F.col("_bm")),
                             lambda e: F.floor(
                                 e.key / F.pow(F.lit(2.0), F.col("_h")))
                             .cast("long") == i),
                    F.lit(0).cast("long"), lambda s, e: s + e.value))
            agg = agg.withColumn("_off", off).withColumn("_dense", dense)
            outs.append(agg.select(
                *base, F.lit("exponential_histogram").alias("mtype"),
                "resource", "attrs",
                *_null("is_int", "value_int", "value_double"),
                "count", "total", *_null("bounds", "bucket_counts"),
                (F.lit(scale_cap) - F.col("_h")).cast("int").alias("scale"),
                "zero_count",
                F.when(F.col("_off").isNotNull(), F.col("_off"))
                .cast("int").alias("pos_offset"),
                F.coalesce(F.col("_dense"),
                           F.array().cast("array<long>"))
                .alias("pos_counts"),
                "v_min", "v_max"))
        else:
            raise ValueError(
                f"definition {d.get('name')!r} has no metric type "
                "(sum/gauge/histogram/exponential_histogram)")
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
