"""tailsampling processor: the reference's policy-evaluator set as
trace-level aggregate expressions.

The reference buffers spans per trace and, once the decision wait
elapses, runs every configured policy evaluator over the complete
trace (processor/tailsamplingprocessor/processor.go makeDecision,
evaluators under internal/sampling/). In batch every trace is already
complete, so each policy compiles to ONE trace-level expression over
per-span predicates — the whole decision table is a single groupBy on
the trace key (plus a window pass if a rate-limiting policy is
present), then a semi-join keeps sampled traces.

Decision lattice (sampling/policy.go + makeDecision's switch):
Dropped beats everything; any InvertNotSampled forces NotSampled;
any Sampled samples; InvertSampled samples only if no policy said
NotSampled.

Flat span model columns used (only those a configured policy needs
must exist): trace_id (hex string), start_ts/end_ts (timestamps) for
latency, status_code for status_code, attributes / resource
MAP<STRING,STRING> for the attribute filters, trace_state (w3c
``k1=v1,k2=v2``) for trace_state, any columns OTTL conditions
reference.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NOT_SAMPLED, SAMPLED, INVERT_SAMPLED, INVERT_NOT_SAMPLED, DROPPED = range(5)

_MAX_U64 = (1 << 64) - 1


def _attr_any(df: DataFrame, key: str, pred) -> Column:
    """Per-span: does the span OR resource attribute ``key`` exist and
    satisfy pred (util.go hasResourceOrSpanWithCondition walks both)?"""
    checks = []
    for root in ("attributes", "resource"):
        if root in df.columns:
            v = F.col(root)[key]
            checks.append(F.coalesce(pred(v), F.lit(False)))
    if not checks:
        raise ValueError(
            f"policy needs an attributes/resource map column for key "
            f"{key!r}; frame has {df.columns}")
    out = checks[0]
    for c in checks[1:]:
        out = out | c
    return out


def _plain_or_invert(any_match: Column, invert: bool) -> Column:
    """Attribute-filter decision (util.go): plain -> Sampled on any
    match; invert -> InvertNotSampled on any match, else
    InvertSampled."""
    if invert:
        return F.when(any_match, F.lit(INVERT_NOT_SAMPLED)) \
            .otherwise(F.lit(INVERT_SAMPLED))
    return F.when(any_match, F.lit(SAMPLED)).otherwise(F.lit(NOT_SAMPLED))


def _span_policy_decision(df: DataFrame, p: dict):
    """-> (per_span_bool | None, agg_decision_fn) where agg_decision_fn
    maps the aggregated any-match column (or None) to a decision
    Column. Raises on unknown/unsupported types."""
    t = p["type"]
    if t == "always_sample":
        return None, lambda _m: F.lit(SAMPLED)
    if t == "status_code":
        cfg = p.get("status_code", p)
        codes = {c.upper() for c in cfg["status_codes"]}
        # flat model tolerance: "ERROR", "STATUS_CODE_ERROR" or the
        # numeric ptrace code (0 UNSET / 1 OK / 2 ERROR) all normalize
        raw = F.upper(F.col("status_code").cast("string"))
        norm = (F.when(raw == "0", "UNSET").when(raw == "1", "OK")
                .when(raw == "2", "ERROR")
                .otherwise(F.regexp_replace(raw, "^STATUS_CODE_", "")))
        m = norm.isin(*codes)
        return F.coalesce(m, F.lit(False)), \
            lambda am: _plain_or_invert(am, False)
    if t == "string_attribute":
        cfg = p.get("string_attribute", p)
        vals = [str(v) for v in cfg.get("values", [])]
        if cfg.get("enabled_regex_matching"):
            def pred(v):
                out = F.lit(False)
                for rx in vals:
                    out = out | v.rlike(rx)
                return v.isNotNull() & out
        else:
            def pred(v):
                return v.isin(*vals)
        m = _attr_any(df, cfg["key"], pred)
        return m, lambda am, inv=bool(cfg.get("invert_match")): \
            _plain_or_invert(am, inv)
    if t == "numeric_attribute":
        cfg = p.get("numeric_attribute", p)
        lo, hi = cfg.get("min_value"), cfg.get("max_value")

        def pred(v):
            d = v.try_cast("double")   # ANSI-safe (Spark 4 throws on cast)
            c = d.isNotNull()
            if lo is not None:
                c = c & (d >= float(lo))
            if hi is not None:
                c = c & (d <= float(hi))
            return c
        m = _attr_any(df, cfg["key"], pred)
        return m, lambda am, inv=bool(cfg.get("invert_match")): \
            _plain_or_invert(am, inv)
    if t == "boolean_attribute":
        cfg = p.get("boolean_attribute", p)
        want = "true" if cfg["value"] else "false"

        def pred(v):
            return F.lower(v) == want
        m = _attr_any(df, cfg["key"], pred)
        return m, lambda am, inv=bool(cfg.get("invert_match")): \
            _plain_or_invert(am, inv)
    if t == "trace_state":
        cfg = p.get("trace_state", p)
        vals = [str(v) for v in cfg.get("values", [])]
        kv = F.str_to_map(F.coalesce(F.col("trace_state"), F.lit("")),
                          F.lit(","), F.lit("="))
        m = F.coalesce(kv[cfg["key"]].isin(*vals), F.lit(False))
        return m, lambda am: _plain_or_invert(am, False)
    if t == "ottl_condition":
        cfg = p.get("ottl_condition", p)
        from opentelemetry_collector_contrib_spark.functions.ottl_dsl import (
            any_condition)
        m = any_condition((cfg.get("span_conditions") or [])
                          + (cfg.get("spanevent_conditions") or []))
        return m, lambda am: _plain_or_invert(am, False)
    raise ValueError(f"unsupported tailsampling policy type {t!r}")


def _trace_level_decision(df: DataFrame, p: dict, agg_cols: list,
                          decide_fns: list, idx: int) -> None:
    """Policies whose decision needs trace aggregates beyond any-match
    (latency, span_count) — appends agg expressions + decide fn."""
    t = p["type"]
    if t == "latency":
        cfg = p.get("latency", p)
        thr = int(cfg["threshold_ms"])
        upper = int(cfg.get("upper_threshold_ms", 0))
        agg_cols.append(F.min(F.col("start_ts")).alias(f"_mn{idx}"))
        agg_cols.append(F.max(F.col("end_ts")).alias(f"_mx{idx}"))

        def decide(_m, i=idx, thr=thr, upper=upper):
            dur = (F.unix_micros(F.col(f"_mx{i}").cast("timestamp"))
                   - F.unix_micros(F.col(f"_mn{i}").cast("timestamp"))) \
                / F.lit(1000.0)
            ok = (dur >= thr) if upper == 0 else \
                ((dur > thr) & (dur <= upper))
            return F.when(ok, F.lit(SAMPLED)).otherwise(F.lit(NOT_SAMPLED))
        decide_fns.append(decide)
    elif t == "span_count":
        cfg = p.get("span_count", p)
        mn, mx = int(cfg.get("min_spans", 0)), int(cfg.get("max_spans", 0))

        def decide(_m, mn=mn, mx=mx):
            n = F.col("_n_spans")
            ok = (n >= mn) if mx == 0 else ((n >= mn) & (n <= mx))
            return F.when(ok, F.lit(SAMPLED)).otherwise(F.lit(NOT_SAMPLED))
        decide_fns.append(decide)
    else:
        raise ValueError(t)


def _composite_alloc(cfg: dict) -> tuple[int, list[tuple[str, int]]]:
    """composite_helper.go getRateAllocationMap: each sub-policy's
    allocated spans-per-second comes from its rate_allocation entry
    (percent of max_total); an entry with percent <= 0 gets the equal
    default share, and a sub-policy with NO entry gets 0 — the
    reference's map-miss quirk, which makes such a sub-policy unable
    to ever sample (spansInSecondIfSampled > 0 always). Mirrored
    faithfully."""
    subs = cfg.get("composite_sub_policy", [])
    if not subs:
        raise ValueError("composite policy needs composite_sub_policy")
    max_total = int(cfg["max_total_spans_per_second"])
    default_sps = max_total / len(subs)
    alloc = {}
    for ra in cfg.get("rate_allocation", []):
        pct = int(ra.get("percent", 0))
        alloc[ra["policy"]] = (pct / 100.0) * max_total if pct > 0 \
            else default_sps
    return max_total, [(sp["name"], int(alloc.get(sp["name"], 0.0)))
                       for sp in subs]


def _composite_fold(max_total: int, allocs: list[int],
                    trace_col: str, out_col: str):
    """composite.go Evaluate restated in event time: within each
    one-second window (of the trace's decision timestamp), traces are
    evaluated in (ts, trace) order; the FIRST sub-policy deciding
    Sampled/InvertSampled claims the trace, and it is kept only if
    that sub-policy's per-second sampled-span counter stays within
    both its allocated SPS and max_total. A rejected trace does NOT
    consume budget (composite.go:125-129) — that accept-if-fits
    recurrence is a genuine sequential fold, so it runs as ONE
    applyInPandas pass per second-window group (state is per-second,
    so groups are small and independent; the reference holds the same
    second of traces in memory).

    The fold returns its input rows PLUS ``out_col`` so the decision
    rides the per-second shuffle instead of a second join back on the
    trace key.
    """
    import pandas as pd

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["_cmp_ts", trace_col],
                              kind="mergesort").reset_index(drop=True)
        sampled_sps = [0] * len(allocs)
        out = []
        sub_cols = [pdf[f"_sub{j}"].tolist() for j in range(len(allocs))]
        n_spans = pdf["_n_spans"].tolist()
        for r in range(len(pdf)):
            decision = NOT_SAMPLED
            for j in range(len(allocs)):
                d = sub_cols[j][r]
                if d in (SAMPLED, INVERT_SAMPLED):
                    would_be = sampled_sps[j] + int(n_spans[r])
                    if would_be <= allocs[j] and would_be <= max_total:
                        sampled_sps[j] = would_be
                        decision = SAMPLED
                    # over budget: NotSampled, no fallthrough to the
                    # next sub-policy (composite.go:108-130)
                    break
            out.append(decision)
        pdf[out_col] = pd.Series(out, dtype="int32")
        return pdf
    return fold


def probabilistic_keep_udf(salt: str, percentage: float):
    """The reference's deterministic trace-id sampler
    (sampling/probabilistic.go): FNV-1a 64 over salt bytes + RAW
    trace-id bytes <= floor(MaxUint64 * pct/100). Exact threshold via
    Fraction (mirrors Go's big.Float of a float64 ratio). A trace id
    that is not hex (``^(?:[0-9a-fA-F]{2})+$``) hashes its UTF-8 bytes;
    a null trace id is not kept."""
    from pyspark.sql.functions import pandas_udf

    from opentelemetry_collector_contrib_spark.functions.hashes import (
        fnv1a_64_kernel, hash_batch)
    salt_b = (salt or "default-hash-seed").encode("utf-8")
    threshold = int(Fraction(_MAX_U64) * Fraction(percentage / 100.0))

    def batch(s):
        import pandas as pd
        h, null = hash_batch(fnv1a_64_kernel, s, salt_b, raw_hex=True)
        return pd.Series(~null & (h <= threshold))
    return pandas_udf(batch, "boolean")


def _compile_policy(spans: DataFrame, p: dict, tag: str,
                    agg_cols: list):
    """Compile one non-stateful policy (shared span-level types,
    latency, span_count, and, drop) into agg columns + a decide fn
    ``(None) -> decision Column`` over the aggregated trace frame.
    Used by the main policy loop AND for composite sub-policies
    (composite_helper.go getCompositeSubPolicyEvaluator routes to the
    same shared evaluators)."""
    t = p["type"]
    if t in ("latency", "span_count"):
        local: list = []
        _trace_level_decision(spans, p, agg_cols, local, tag)
        return local[0]
    if t in ("and", "drop"):
        key = "and_sub_policy" if t == "and" else "drop_sub_policy"
        subs = p.get(t, p).get(key, [])
        sub_ms = []
        for j, sp in enumerate(subs):
            m, fn = _span_policy_decision(spans, sp)
            name = f"_m{tag}_{j}"
            agg_cols.append(
                (F.max(F.coalesce(m, F.lit(False)).cast("int"))
                 if m is not None else F.lit(1)).alias(name))
            sub_ms.append((name, fn))

        def decide(_m, sub_ms=sub_ms, kind=t):
            ds = [fn(F.col(name) == 1) for name, fn in sub_ms]
            if kind == "and":   # and.go: all subs must sample
                ok = F.lit(True)
                for d in ds:
                    ok = ok & d.isin(SAMPLED, INVERT_SAMPLED)
                return F.when(ok, F.lit(SAMPLED)) \
                    .otherwise(F.lit(NOT_SAMPLED))
            # drop.go: any sub sampling -> Dropped
            any_s = F.lit(False)
            for d in ds:
                any_s = any_s | d.isin(SAMPLED, INVERT_SAMPLED)
            return F.when(any_s, F.lit(DROPPED)) \
                .otherwise(F.lit(NOT_SAMPLED))
        return decide
    m, fn = _span_policy_decision(spans, p)
    name = f"_m{tag}"
    agg_cols.append(
        (F.max(F.coalesce(m, F.lit(False)).cast("int"))
         if m is not None else F.lit(1)).alias(name))
    return lambda _m, name=name, fn=fn: fn(F.col(name) == 1)


def _final_decision(dcols: list[Column]) -> Column:
    """makeDecision's precedence switch over all policy decisions."""
    def has(code):
        out = F.lit(False)
        for d in dcols:
            out = out | (d == code)
        return out
    return (F.when(has(DROPPED), F.lit(False))
            .when(has(INVERT_NOT_SAMPLED), F.lit(False))
            .when(has(SAMPLED), F.lit(True))
            .when(has(INVERT_SAMPLED) & ~has(NOT_SAMPLED), F.lit(True))
            .otherwise(F.lit(False)))


def tail_sampling_policies(spans: DataFrame, policies: list[dict],
                           trace_col: str = "trace_id",
                           ts_col: str | None = None) -> DataFrame:
    """Full policy-config tailsampling: each policy dict is the
    reference's config shape ({"name", "type", <type>: {...}}). Keeps
    every span of sampled traces.

    Plan shape: per-span predicates (JVM expressions) -> ONE groupBy on
    the trace key computing every policy's decision -> precedence
    switch -> left-semi join. A ``rate_limiting`` policy adds one
    window pass over the per-TRACE decision frame (event-time
    adaptation of the reference's wall-clock limiter: traces decide in
    ``ts_col``-order and each one-second tumbling window has
    spans_per_second budget; the reference's outcome depends on
    arrival wall-time, which a replayable batch must restate in event
    time — documented divergence). ``composite`` (composite.go:
    rate-allocation across ordered sub-policies) restates the same
    way: sub-policy decisions are ordinary agg columns, and the
    accept-if-fits fold (a rejected trace does NOT consume budget)
    runs once per one-second event-time window via applyInPandas —
    per-window state only, so windows fold independently and in
    parallel.
    """
    agg_cols = [F.count(F.lit(1)).alias("_n_spans")]
    decide_fns: list = []
    post_rate: list[tuple[int, dict]] = []
    prob: list[tuple[int, dict]] = []
    composites: list[tuple[int, int, list[int], list]] = []

    for i, p in enumerate(policies):
        t = p["type"]
        if t == "composite":
            if ts_col is None:
                raise ValueError("composite needs ts_col (event-time "
                                 "budget windows)")
            cfg = p.get("composite", p)
            max_total, named = _composite_alloc(cfg)
            sub_fns = []
            for j, sp in enumerate(cfg["composite_sub_policy"]):
                if sp["type"] in ("probabilistic", "rate_limiting",
                                  "composite"):
                    raise ValueError(
                        f"composite sub-policy type {sp['type']!r} is "
                        "not supported (the reference routes composite "
                        "subs through the shared/and evaluators only)")
                sub_fns.append(_compile_policy(spans, sp, f"{i}c{j}",
                                               agg_cols))
            composites.append((i, max_total, [a for _, a in named],
                               sub_fns))
            decide_fns.append(lambda _m, i=i: F.col(f"_cmp{i}"))
            continue
        if t == "probabilistic":
            prob.append((i, p.get("probabilistic", p)))
            decide_fns.append(
                lambda _m, i=i: F.when(F.col(f"_pk{i}"), F.lit(SAMPLED))
                .otherwise(F.lit(NOT_SAMPLED)))
            continue
        if t == "rate_limiting":
            if ts_col is None:
                raise ValueError("rate_limiting needs ts_col (event-time "
                                 "budget windows)")
            post_rate.append((i, p.get("rate_limiting", p)))
            decide_fns.append(lambda _m, i=i: F.col(f"_rl{i}"))
            continue
        decide_fns.append(_compile_policy(spans, p, str(i), agg_cols))

    if ts_col is not None:
        agg_cols.append(F.max(F.col(ts_col)).alias("_dec_ts"))

    traces = spans.groupBy(trace_col).agg(*agg_cols)

    for i, max_total, allocs, sub_fns in composites:
        # stage the sub-decisions as real columns, group each
        # one-second event-time window, run the sequential
        # accept-if-fits fold (composite.go:84-134) once per window;
        # the fold emits its input rows + the decision, so the whole
        # traces frame rides ONE per-second shuffle (no join back)
        from pyspark.sql.types import IntegerType, StructField, StructType
        sub_cols = {f"_sub{j}": fn(None).cast("int")
                    for j, fn in enumerate(sub_fns)}
        staged = traces.withColumns({
            **sub_cols,
            "_cmp_ts": F.col("_dec_ts"),
            "_cmp_sec": F.date_trunc(
                "second", F.col("_dec_ts").cast("timestamp")),
        })
        fold = _composite_fold(max_total, allocs, trace_col, f"_cmp{i}")
        out_schema = StructType(
            list(staged.schema.fields)
            + [StructField(f"_cmp{i}", IntegerType())])
        traces = (staged.groupBy("_cmp_sec")
                  .applyInPandas(fold, schema=out_schema)
                  .drop(*sub_cols, "_cmp_ts", "_cmp_sec"))

    for i, cfg in prob:
        udf = probabilistic_keep_udf(cfg.get("hash_salt", ""),
                                     float(cfg["sampling_percentage"]))
        traces = traces.withColumn(f"_pk{i}",
                                    udf(F.col(trace_col).cast("string")))

    for i, cfg in post_rate:
        from pyspark.sql import Window as W
        sec = F.date_trunc("second", F.col("_dec_ts").cast("timestamp"))
        w = (W.partitionBy(sec).orderBy(F.col("_dec_ts"), F.col(trace_col))
             .rowsBetween(W.unboundedPreceding, W.currentRow))
        budget = int(cfg["spans_per_second"])
        traces = traces.withColumn(
            f"_rl{i}",
            F.when(F.sum("_n_spans").over(w) <= budget, F.lit(SAMPLED))
            .otherwise(F.lit(NOT_SAMPLED)))

    dcols = [fn(None) for fn in decide_fns]
    kept = traces.withColumn("_keep", _final_decision(dcols)) \
        .filter(F.col("_keep")).select(trace_col)
    return spans.join(kept, on=trace_col, how="left_semi")
