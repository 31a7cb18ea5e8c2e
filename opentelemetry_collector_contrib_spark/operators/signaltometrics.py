"""signaltometrics connector: full config semantics.

The reference (connector/signaltometricsconnector/) compiles each
metric definition's OTTL value/condition expressions per signal and
folds every matching record into per-(resource, attributes) datapoints
(internal/aggregator/): sum (int or double by the value's type), gauge
(LAST value wins), explicit histogram (SearchFloat64s upper-inclusive
buckets, sum += value*count), and exponential histogram (go-expohisto:
base-2 buckets at the maximal scale <= 20 whose bucket span fits
max_size, dense counts between the lowest and highest used index).

Spark shape, the same for any number of definitions: each one
compiles (OTTL -> Column expressions, the transform processor's DSL)
into one struct per record, guarded by its conditions and required
attributes; one ``inline`` emits them, and all definitions share one
aggregation per (def, resource, attributes), after one per bucket when
some definition has buckets. Explicit histograms share spanmetrics'
bucket rule and default bounds, exponential ones its go-expohisto
downscale (``aggregate.expo_downscale``), one pass for all of them.
Nothing leaves the JVM.

This is the engine's one signaltometrics implementation: the
``signaltometrics_config`` and ``histogram`` DuckDB oracles and the
reference's testdata goldens (tests/test_golden_signaltometrics) all
run against it.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.functions.ottl_dsl import (
    any_condition, compile_value)
from opentelemetry_collector_contrib_spark.operators.aggregate import (
    DEFAULT_SPANMETRICS_BUCKETS_MS, MAX_SCALE, explicit_bucket,
    expo_downscale)

_INT_RE = r"^-?\d+$"
_MAP = "map<string,string>"

OUT_SCHEMA = ("name string, description string, unit string, mtype string, "
              "resource map<string,string>, attrs map<string,string>, "
              "is_int boolean, value_int long, value_double double, "
              "count long, total double, bounds array<double>, "
              "bucket_counts array<long>, scale int, zero_count long, "
              "pos_offset int, pos_counts array<long>, "
              "v_min double, v_max double")

_OUT_FIELDS = [f.split(" ", 1) for f in OUT_SCHEMA.split(", ")]
_MTYPES = ("sum", "gauge", "histogram", "exponential_histogram")


def _compile_ottl(expr: str) -> Column:
    v = compile_value(expr)
    return v if isinstance(v, Column) else F.lit(v)


def _typed_value(v: Column, type_name: str):
    """-> (value_double, is_int_per_record). The reference types sums/
    gauges by the OTTL value's Go type; the flat model recovers it from
    the compiled Spark type, falling back to shape inference for map
    members (integers render without '.', and grok's :int/:double
    modifiers canonicalize the rendering)."""
    if type_name in ("long", "int", "integer", "short", "byte"):
        return v.cast("double"), F.lit(True)
    if type_name in ("double", "float") or type_name.startswith("decimal"):
        return v.cast("double"), F.lit(False)
    s = v.cast("string")
    return s.try_cast("double"), s.rlike(_INT_RE)


def _record(i: int, d: dict, mtype: str, value: Column, type_name: str,
            order: Column, identity: list[str]) -> Column:
    """Definition ``i``'s struct for one record: NULL unless one of its
    OR'd conditions holds (config/config.go) and every required attribute
    is present (aggregator.go: a failed attribute fetch drops the event;
    ``optional: true`` keeps it and omits the key). Its group keys are the
    sorted resource entries (``_res``, cut to include_resource_attributes
    plus the identity attrs) and the attribute entries."""
    keep = [any_condition(d["conditions"])] if d.get("conditions") else []
    entries = []
    for spec in d.get("attributes") or []:
        a = F.col("attributes")[spec["key"]]
        if "default_value" in spec:
            a = F.coalesce(a, F.lit(str(spec["default_value"])))
        elif not spec.get("optional"):
            keep.append(a.isNotNull())
        entries.append(F.struct(F.lit(spec["key"]).alias("key"),
                                a.alias("value")))
    inc = [s["key"] for s in (d.get("include_resource_attributes") or [])]
    resource = F.filter(F.col("_res"), lambda e: e["key"].isin(*inc, *identity)) \
        if inc else F.col("_res")
    if mtype in ("sum", "gauge"):
        value, is_int = _typed_value(value, type_name)
        count = F.lit(1).cast("long")
    else:
        value, is_int = value.try_cast("double"), F.lit(None).cast("boolean")
        count = _compile_ottl(d[mtype].get("count", "1")).try_cast("long")
    row = F.struct(
        F.lit(i).alias("_d"), resource.alias("_gres"),
        (F.array(*entries) if entries else F.array().cast(
            "array<struct<key:string,value:string>>")).alias("_gattr"),
        value.alias("_v"), is_int.alias("_ii"), count.alias("_c"),
        order.alias("_o"))
    return F.when(reduce(Column.__and__, keep), row) if keep else row


def signal_to_metrics_config(df: DataFrame, defs: list[dict],
                             identity_attrs: dict | None = None,
                             order_col: str | None = None) -> DataFrame:
    """Run a signaltometrics definition list over a flat signal frame.

    Each def: {name, description?, unit?, attributes?: [{key,
    default_value?, optional?}], include_resource_attributes?: [{key}],
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
    mtypes = [next((t for t in _MTYPES if t in d), None) for d in defs]
    for d, mtype in zip(defs, mtypes):
        if mtype is None:
            raise ValueError(
                f"definition {d.get('name')!r} has no metric type "
                "(sum/gauge/histogram/exponential_histogram)")
        if mtype == "gauge" and order_col is None:
            raise ValueError("gauge needs order_col (last value wins)")
    cfgs = [d[t] for d, t in zip(defs, mtypes)]
    values = [_compile_ottl(c["value"]) for c in cfgs]
    # one analysis types every definition's value expression
    types = [f.dataType.typeName() for f in df.select(
        *[v.alias(f"_v{i}") for i, v in enumerate(values)]).schema]
    resource = F.coalesce(F.col("resource"), F.create_map().cast(_MAP)) \
        if "resource" in df.columns else F.create_map().cast(_MAP)
    if identity_attrs:
        resource = F.map_concat(resource, F.create_map(
            *[F.lit(x) for kv in identity_attrs.items() for x in kv]))
    order = F.col(order_col) if order_col else F.lit(None).cast("long")
    records = F.inline(F.array(*[
        _record(i, d, t, v, n, order, list(identity_attrs or {}))
        for i, (d, t, v, n) in enumerate(zip(defs, mtypes, values, types))]))
    # the sorted resource entries are bound once per record (every
    # definition's key derives from them); a record whose guard failed
    # inlines as an all-NULL row
    rows = df.withColumn("_res", F.sort_array(F.map_entries(resource))) \
        .select(records).filter(
        F.col("_v").isNotNull() & F.col("_c").isNotNull())
    d_ = F.col("_d")

    def of(*kinds: str) -> Column:
        return d_.isin(*[i for i, t in enumerate(mtypes) if t in kinds])

    def pick(literals: list, dtype=None) -> Column:  # one array literal
        return F.element_at(F.lit(np.array(literals, dtype)), d_ + 1)

    expo = "exponential_histogram" in mtypes
    bucketed = expo or "histogram" in mtypes
    series = ["_d", "_gres", "_gattr"]
    bucket, bounds = F.lit(None).cast("long"), F.lit(None).cast("array<double>")
    if expo:
        # a series' shift needs its whole index range before any of its
        # rows can be bucketed, so it is its own (min/max + broadcast)
        # pass, one for every exponential definition
        rows = expo_downscale(
            rows, series, F.when(of("exponential_histogram"), F.col("_v")),
            pick([int(c.get("max_size", 160)) for c in cfgs], np.int32))
        series, bucket = [*series, "_h"], F.col("_bi")
    for i, (t, c) in enumerate(zip(mtypes, cfgs)):
        if t == "histogram":
            # config.go:37: spanmetrics-style default bounds
            b = [float(x) for x in c.get("buckets") or DEFAULT_SPANMETRICS_BUCKETS_MS]
            bucket = F.when(d_ == i, explicit_bucket(F.col("_v"), b)).otherwise(bucket)
            bounds = F.when(d_ == i, F.lit(np.array(b))).otherwise(bounds)

    # per (series, bucket) when some definition has buckets, then per
    # series; gauges carry their order through both levels (last value
    # wins). The maps come back from the group keys, so no aggregation
    # buffer holds a map (that would force a sort-based aggregate).
    agg = rows.withColumn("_bi", bucket).groupBy(
        *series, *(["_bi"] if bucketed else [])).agg(
        F.sum("_c").alias("_n"),
        F.sum(F.col("_v") * F.col("_c")).alias("_t"),
        F.min("_v").alias("_mn"), F.max("_v").alias("_mx"),
        F.min("_ii").alias("_ii"), F.max_by("_v", "_o").alias("_gv"),
        F.max_by("_ii", "_o").alias("_gi"), F.max("_o").alias("_o"))
    out = {
        "name": pick([d["name"] for d in defs]),
        "description": pick([d.get("description", "") for d in defs]),
        "unit": pick([d.get("unit", "") for d in defs]),
        "mtype": pick(mtypes),
        "resource": F.map_from_entries("_gres"),
        "attrs": F.map_filter(F.map_from_entries("_gattr"),
                              lambda _k, v: v.isNotNull())}
    if "sum" in mtypes or "gauge" in mtypes:
        is_int = F.when(of("sum"), F.col("_ii")).when(of("gauge"), F.col("_gi"))
        value = F.when(of("sum"), F.col("_t")).when(of("gauge"), F.col("_gv"))
        out.update(is_int=is_int, value_int=F.when(is_int, value.cast("long")),
                   value_double=F.when(~is_int, value))
    if bucketed:
        bi, n = F.col("_bi"), F.col("_n")
        agg = agg.groupBy(*series).agg(
            F.sum(n).alias("_n"), F.sum("_t").alias("_t"),
            F.min("_mn").alias("_mn"), F.max("_mx").alias("_mx"),
            F.min("_ii").alias("_ii"), F.max_by("_gv", "_o").alias("_gv"),
            F.max_by("_gi", "_o").alias("_gi"),
            F.sum(F.when(bi.isNull(), n).otherwise(F.lit(0))).alias("_z"),
            F.min(bi).alias("_lo"), F.max(bi).alias("_hi"),
            F.map_from_entries(F.collect_list(
                F.when(bi.isNotNull(), F.struct(bi, n)))).alias("_bm"))
        # dense counts: every explicit bucket, or the exponential range
        # between the lowest and highest used index (copyBucketRange)
        is_hist = of("histogram")
        dense = F.transform(F.sequence(
            F.when(is_hist, F.lit(0).cast("long")).otherwise(F.col("_lo")),
            F.when(is_hist, F.size(bounds).cast("long"))
            .otherwise(F.col("_hi"))),
            lambda i: F.coalesce(F.col("_bm")[i], F.lit(0).cast("long")))
        counted = of("histogram", "exponential_histogram")
        out.update(count=F.when(counted, n), total=F.when(counted, F.col("_t")),
                   bounds=bounds, bucket_counts=F.when(is_hist, dense))
    if expo:
        is_expo = of("exponential_histogram")
        out.update({name: F.when(is_expo, c) for name, c in (
            ("scale", (F.lit(MAX_SCALE) - F.col("_h")).cast("int")),
            ("zero_count", F.col("_z")),
            ("pos_offset", F.col("_lo").cast("int")),
            ("pos_counts", F.coalesce(dense, F.array().cast("array<long>"))),
            ("v_min", F.col("_mn")), ("v_max", F.col("_mx")))})
    return agg.select(*[out[name].alias(name) if name in out
                        else F.lit(None).cast(dtype).alias(name)
                        for name, dtype in _OUT_FIELDS])
