"""Stateful metric-stream processors as batch window functions.

The reference keeps per-stream in-memory state (stream identity =
metric + attr tuple); in batch these are plain analytic windows —
Window.partitionBy(stream).orderBy(ts) — no state store, no custom
code, shuffle once on the stream key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def delta_to_cumulative(df: DataFrame, stream_keys: list[str],
                        ts_col: str = "ts", value_col: str = "value",
                        out_col: str = "cumulative") -> DataFrame:
    """Running sum per stream
    (processor/deltatocumulativeprocessor/internal/delta/delta.go:15-57).

    The reference rejects out-of-order points (ErrOutOfOrder); batch
    sort-within-window makes ordering explicit, so every point
    contributes — equivalent to replaying the stream in order.
    """
    w = (W.partitionBy(*stream_keys).orderBy(F.col(ts_col))
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return df.withColumn(out_col, F.sum(value_col).over(w))


def cumulative_to_delta(df: DataFrame, stream_keys: list[str],
                        ts_col: str = "ts", value_col: str = "value",
                        out_col: str = "delta") -> DataFrame:
    """Consecutive-point difference per stream
    (processor/cumulativetodeltaprocessor/processor.go). First point of
    a stream has no predecessor -> NULL delta (the reference drops it)."""
    w = W.partitionBy(*stream_keys).orderBy(F.col(ts_col))
    return df.withColumn(out_col, F.col(value_col) - F.lag(value_col).over(w))


def delta_to_rate(df: DataFrame, stream_keys: list[str],
                  ts_col: str = "ts", value_col: str = "value",
                  out_col: str = "rate") -> DataFrame:
    """delta value / elapsed seconds (processor/deltatorateprocessor/)."""
    w = W.partitionBy(*stream_keys).orderBy(F.col(ts_col))
    ts = F.col(ts_col).cast("timestamp")  # tolerate TIMESTAMP_NTZ inputs
    elapsed = (F.unix_micros(ts)
               - F.unix_micros(F.lag(ts).over(w))) / F.lit(1_000_000.0)
    return df.withColumn(out_col, F.col(value_col) / elapsed)


def metric_start_time(df: DataFrame, stream_keys: list[str],
                      ts_col: str = "ts",
                      out_col: str = "start_time") -> DataFrame:
    """metricstarttime processor (processor/metricstarttimeprocessor/):
    normalize every point's start timestamp to the stream's first
    observed timestamp."""
    w = W.partitionBy(*stream_keys)
    return df.withColumn(out_col, F.min(ts_col).over(w))


def metrics_transform(df: DataFrame, rules: list[dict],
                      name_col: str = "metric_name") -> DataFrame:
    """metricstransform processor label/name operations
    (processor/metricstransformprocessor/config.go:62-165): per rule,
    metrics matching ``include`` (strict name) get an optional
    ``new_name`` plus an operation list:

      {"action": "update_label", "label": col, "new_label": col2}
      {"action": "update_label_values", "label": col, "mapping": {...}}
      {"action": "delete_label_value", "label": col, "value": v}  # drops rows
      {"action": "aggregate_labels", "keep": [cols], "aggregation_type": t}

    Columns stand in for labels (the flat model); aggregation reuses
    aggregate_metric (sum/mean/min/max/median/count).
    """
    from opentelemetry_collector_contrib_spark.operators.aggregate import (
        aggregate_metric)

    for rule in rules:
        include = rule["include"]
        matched = df.filter(F.col(name_col) == include)
        rest = df.filter(F.col(name_col) != include)
        for op in rule.get("operations", []):
            a = op["action"]
            if a == "update_label":
                # scoped to the include-matched metric ONLY (reference
                # semantics); rest keeps its label name and the final
                # unionByName(allowMissingColumns=True) NULL-pads the
                # disjoint columns.
                matched = matched.withColumnRenamed(op["label"], op["new_label"])
            elif a == "update_label_values":
                col = F.col(op["label"])
                expr = col
                for old, new in op["mapping"].items():
                    expr = F.when(col == F.lit(old), F.lit(new)).otherwise(expr)
                matched = matched.withColumn(op["label"], expr)
            elif a == "delete_label_value":
                matched = matched.filter(F.col(op["label"]) != F.lit(op["value"]))
            elif a == "aggregate_labels":
                matched = aggregate_metric(
                    matched.select(*op["keep"], name_col, rule.get("value_col", "value")),
                    rule.get("value_col", "value"), [*op["keep"], name_col],
                    op["aggregation_type"])
                rest = rest.select(*op["keep"], name_col, rule.get("value_col", "value"))
            else:
                raise ValueError(f"unknown metricstransform action {a}")
        if rule.get("new_name"):
            matched = matched.withColumn(name_col, F.lit(rule["new_name"]))
        df = rest.unionByName(matched, allowMissingColumns=True)
    return df


def interval_process(
    df,
    pass_through_gauge: bool = False,
    pass_through_summary: bool = False,
    type_col: str = "mtype",
    temporality_col: str = "temporality",
    monotonic_col: str = "monotonic",
    ts_col: str = "ts",
    order_col: str = "ord",
    value_col: str = "value",
):
    """Interval processor, full type-routing semantics
    (processor/intervalprocessor/processor.go TestAggregation matrix):
    delta metrics and non-monotonic sums PASS THROUGH untouched;
    cumulative monotonic sums, cumulative (exp)histograms, gauges and
    summaries (unless configured pass-through) are HELD, keeping only
    the newest datapoint per series — out-of-order older points are
    ignored — and emitted at the interval flush with their original
    timestamps. Returns (passthrough, flush).

    Series identity = every column except the datapoint payload
    (``value_col``), timestamp and arrival order; the winner per
    series is the max-``ts_col`` datapoint with earliest arrival as
    the deterministic tie-break.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    t = F.lower(F.col(type_col))
    cumulative = F.lower(F.col(temporality_col)) == "cumulative"
    aggregated = (
        ((t == "sum") & cumulative & F.col(monotonic_col))
        | (t.isin("histogram", "exponentialhistogram") & cumulative)
        | ((t == "gauge") & F.lit(not pass_through_gauge))
        | ((t == "summary") & F.lit(not pass_through_summary))
    )
    passthrough = df.filter(~aggregated)
    held = df.filter(aggregated)
    series_cols = [c for c in df.columns
                   if c not in {value_col, ts_col, order_col}]
    # map-typed identity columns are not orderable — partition on their
    # canonical (sorted-entries) JSON rendering instead
    dtypes = dict(df.dtypes)
    parts = [F.to_json(F.sort_array(F.map_entries(F.col(c))))
             if dtypes[c].startswith("map<") else F.col(c)
             for c in series_cols]
    w = W.partitionBy(*parts).orderBy(F.col(ts_col).desc(),
                                      F.col(order_col).asc())
    flush = (held.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1).drop("_rn", order_col))
    return passthrough.drop(order_col), flush


def metrics_generation_calculate(
    df,
    rules: list,
    match_attributes: bool = True,
    scope_cols: tuple = ("resource", "scope"),
    match_cols: tuple = ("resource",),
):
    """metricsgeneration processor calculate rules, full pdata
    semantics (processor/metricsgenerationprocessor/utils.go:56-131):
    for each rule, every metric1 datapoint combines with metric2 —

    - ``match_attributes=True`` (the matchAttributes feature gate):
      one generated datapoint per (m1 dp, m2 dp) pair whose OVERLAPPING
      attribute keys all agree; the new datapoint copies metric1's
      timestamps/attributes, merges metric2's attributes in, and the
      value is always a double.
    - ``match_attributes=False``: metric2 contributes only its FIRST
      datapoint's value as a scalar; metric1 datapoints keep their own
      attributes.

    divide/percent by zero drop the datapoint (calculateValue error
    path). The generated metric keeps metric1's type with default
    (unspecified) temporality, and the rule's name/unit. Returns the
    generated rows only (same schema as the input long-form frame);
    union with the input to mirror the processor's append.

    metric2 is located by ``match_cols`` — RESOURCE only by default,
    because the reference's getMetric walk spans every scope inside
    the same ResourceMetrics (utils.go generateCalculatedMetrics →
    getMetric iterates all ScopeMetrics); the generated rows keep
    metric1's scope. Input long-form columns: ``scope_cols`` + metric,
    mtype, temporality, monotonic, unit, attrs map<string,string>,
    start_ts long, ts long, ord long, value double.
    """
    from pyspark.sql import functions as F

    ops = {
        "add": lambda a, b: a + b,
        "subtract": lambda a, b: a - b,
        "multiply": lambda a, b: a * b,
        "divide": lambda a, b: F.when(b != 0.0, a / b),
        "percent": lambda a, b: F.when(b != 0.0, a / b * 100.0),
    }
    out = None
    for rule in rules:
        op = ops[rule["operation"]]
        m1 = df.filter(F.col("metric") == rule["metric1"])
        m2 = df.filter(F.col("metric") == rule["metric2"]).select(
            *[F.col(c).alias(f"_m2_{c}") for c in
              (*match_cols, "attrs", "ord", "value")])
        if match_attributes:
            overlap_ok = F.size(F.filter(
                F.map_entries(F.col("attrs")),
                lambda e: F.map_contains_key(F.col("_m2_attrs"), e.key)
                & (F.col("_m2_attrs")[e.key] != e.value))) == 0
            joined = m1.join(
                m2,
                on=[*[m1[c] == m2[f"_m2_{c}"] for c in match_cols],
                    overlap_ok])
            merged = F.map_from_entries(F.concat(
                F.filter(F.map_entries(F.col("attrs")),
                         lambda e: ~F.map_contains_key(F.col("_m2_attrs"),
                                                       e.key)),
                F.map_entries(F.col("_m2_attrs"))))
        else:
            first = (m2.orderBy("_m2_ord").limit(1)
                     .select(F.col("_m2_value")))
            joined = m1.crossJoin(F.broadcast(first))
            merged = F.col("attrs")
        gen = (joined
               .withColumn("_v", op(F.col("value"), F.col("_m2_value")))
               .filter(F.col("_v").isNotNull())
               .select(*[m1[c] for c in scope_cols],
                       F.lit(rule["name"]).alias("metric"),
                       F.col("mtype"),
                       F.lit("none").alias("temporality"),
                       F.lit(False).alias("monotonic"),
                       F.lit(rule.get("unit", "")).alias("unit"),
                       merged.alias("attrs"),
                       F.col("start_ts"), F.col("ts"), F.col("ord"),
                       F.col("_v").alias("value")))
        out = gen if out is None else out.unionByName(gen)
    return out


def delta_to_cumulative_pdata(df, stream_keys: list[str],
                              order_col: str = "ord"):
    """deltatocumulative with the reference's exact per-series fold
    (internal/delta/delta.go Aggregate + the testdata goldens):

    - first sample seeds the series state (keeps its own start)
    - a sample whose start predates the series start is DROPPED
      ("belongs to older series")
    - a sample at or before the series' last timestamp is DROPPED
      ("out of order") — dropped samples do not advance state
    - a histogram whose bucket bounds changed RESETS the series
      (the sample becomes the new state verbatim)
    - otherwise values accumulate (number add / bucket-count vector
      add), the emitted snapshot carries the SERIES start and the
      sample's timestamp

    Acceptance is recursive on previously-ACCEPTED state (a dropped
    sample must not raise the ordering bar), so this is a true
    sequential fold — per-series applyInPandas, series processed in
    parallel, arrival order given by ``order_col``. Input long-form
    columns: stream_keys + order_col, start_ns, ts_ns, value
    (nullable double), bucket_counts (nullable array<long>), bounds
    (nullable array<double>). ``delta_to_cumulative`` (above) is the
    window shape for well-ordered single-type streams.
    """
    import pandas as pd

    schema = df.schema

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        out = []
        start = last_ts = None
        acc_v = None
        acc_b = None
        acc_bounds = None
        for _, r in pdf.iterrows():
            is_hist = r["bucket_counts"] is not None
            new_bounds = (None if r["bounds"] is None
                          else [float(x) for x in r["bounds"]])
            if last_ts is None:
                start, last_ts = int(r["start_ns"]), int(r["ts_ns"])
                acc_v = r["value"]
                acc_b = (None if not is_hist
                         else [int(x) for x in r["bucket_counts"]])
                acc_bounds = new_bounds
            elif int(r["start_ns"]) < start:
                continue            # older series
            elif int(r["ts_ns"]) <= last_ts:
                continue            # out of order
            elif is_hist and new_bounds != acc_bounds:
                # ANY bounds inequality — including None vs non-None
                # (e.g. first sample carried no bounds, a later one
                # does) — is a pslice.Equal failure in the reference
                # (data/add.go) and resets the series
                start, last_ts = int(r["start_ns"]), int(r["ts_ns"])
                acc_b = [int(x) for x in r["bucket_counts"]]
                acc_bounds = new_bounds
                acc_v = r["value"]
            else:
                last_ts = int(r["ts_ns"])
                if acc_v is not None and r["value"] is not None:
                    acc_v = acc_v + r["value"]
                if is_hist and acc_b is not None:
                    nb = [int(x) for x in r["bucket_counts"]]
                    if len(nb) != len(acc_b):
                        # equal bounds imply equal bucket-vector length;
                        # silent zip truncation would accumulate wrong
                        # buckets — fail loudly instead
                        raise ValueError(
                            "delta_to_cumulative_pdata: bucket_counts "
                            f"length changed ({len(acc_b)} -> {len(nb)}) "
                            "with unchanged bounds")
                    acc_b = [a + b for a, b in zip(acc_b, nb)]
            row = dict(r)
            row["start_ns"] = start
            row["ts_ns"] = last_ts
            row["value"] = acc_v
            row["bucket_counts"] = (list(acc_b) if acc_b is not None
                                    else None)
            out.append(row)
        return pd.DataFrame(out, columns=pdf.columns)

    return df.groupBy(*stream_keys).applyInPandas(
        lambda pdf: fold(pdf), schema)


def delta_to_cumulative_expo(df, stream_keys: list[str],
                             order_col: str = "ord",
                             max_buckets: int = 160):
    """deltatocumulative for EXPONENTIAL histograms with the
    reference's exact per-series fold (data/add.go Adder.Exponential +
    the exponential testdata golden): scale differences are merged by
    downscaling the finer histogram (never reset — "perfect
    subsetting" makes the collapse lossless), a further downscale
    keeps the merged bucket span within ``max_buckets`` (160,
    data/add.go:32), zero thresholds widen to the larger one, and
    bucket ranges union with leading/trailing-zero trimming
    (expo/merge.go). Same acceptance rules as
    ``delta_to_cumulative_pdata``: older-series and out-of-order
    samples drop without advancing state; emitted snapshots carry the
    SERIES start and the sample's timestamp.

    Input long-form columns: stream_keys + order_col, start_ns,
    ts_ns, count (nullable), zero_count, scale, zero_threshold,
    pos_offset, pos_counts array<long>, neg_offset, neg_counts
    array<long>, v_sum/v_min/v_max (nullable doubles). Sequential
    per-series applyInPandas by the reference's recursive acceptance
    (same scoping note as delta_to_cumulative_pdata).
    """
    import pandas as pd

    from .expo import add as expo_add

    schema = df.schema

    def _arr(v) -> list:
        return [] if v is None else [int(x) for x in v]

    def _dp(r) -> dict:
        return {
            "scale": int(r["scale"]),
            "zero_count": int(r["zero_count"] or 0),
            "zero_threshold": float(r["zero_threshold"] or 0.0),
            "pos": (int(r["pos_offset"] or 0), _arr(r["pos_counts"])),
            "neg": (int(r["neg_offset"] or 0), _arr(r["neg_counts"])),
            # nullable numerics surface as NaN in pandas
            "count": None if pd.isna(r["count"]) else int(r["count"]),
            "sum": None if pd.isna(r["v_sum"]) else float(r["v_sum"]),
            "min": None if pd.isna(r["v_min"]) else float(r["v_min"]),
            "max": None if pd.isna(r["v_max"]) else float(r["v_max"]),
        }

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        out = []
        start = last_ts = None
        state = None
        for _, r in pdf.iterrows():
            if last_ts is None:
                start, last_ts = int(r["start_ns"]), int(r["ts_ns"])
                state = _dp(r)
            elif int(r["start_ns"]) < start:
                continue            # older series
            elif int(r["ts_ns"]) <= last_ts:
                continue            # out of order
            else:
                last_ts = int(r["ts_ns"])
                expo_add(state, _dp(r), max_buckets)
            row = dict(r)
            row.update({
                "start_ns": start, "ts_ns": last_ts,
                "scale": state["scale"],
                "zero_count": state["zero_count"],
                "zero_threshold": state["zero_threshold"],
                "pos_offset": state["pos"][0],
                "pos_counts": list(state["pos"][1]),
                "neg_offset": state["neg"][0],
                "neg_counts": list(state["neg"][1]),
                "count": state["count"], "v_sum": state["sum"],
                "v_min": state["min"], "v_max": state["max"],
            })
            out.append(row)
        return pd.DataFrame(out, columns=pdf.columns)

    return df.groupBy(*stream_keys).applyInPandas(
        lambda pdf: fold(pdf), schema)
