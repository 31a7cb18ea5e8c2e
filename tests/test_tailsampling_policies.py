"""tailsampling policy evaluators (processor/tailsamplingprocessor/
internal/sampling/) as trace-level aggregates: every policy type, the
invert lattice, and the makeDecision precedence switch."""

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.tailsampling import (
    tail_sampling_policies,
)

SCHEMA = ("trace_id string, span_id string, start_ts string, "
          "end_ts string, status_code string, trace_state string, "
          "attributes map<string,string>, resource map<string,string>")


def _spans(spark, rows):
    return (spark.createDataFrame(rows, SCHEMA)
            .withColumn("start_ts", F.col("start_ts").cast("timestamp"))
            .withColumn("end_ts", F.col("end_ts").cast("timestamp")))


def _kept(spark, rows, policies, **kw):
    df = _spans(spark, rows)
    out = tail_sampling_policies(df, policies, **kw)
    return {r["trace_id"] for r in out.select("trace_id").distinct().collect()}


def _row(tid, sid="s", st="2024-01-01 10:00:00", en="2024-01-01 10:00:01",
         status="STATUS_CODE_UNSET", tstate="", attrs=None, res=None):
    return (tid, sid, st, en, status, tstate, attrs or {}, res or {})


def test_status_code_and_latency(spark):
    rows = [
        _row("A", status="STATUS_CODE_ERROR"),
        _row("B", st="2024-01-01 10:00:00", en="2024-01-01 10:00:05"),
        _row("C", en="2024-01-01 10:00:00.050"),
    ]
    assert _kept(spark, rows, [
        {"name": "err", "type": "status_code",
         "status_code": {"status_codes": ["ERROR"]}}]) == {"A"}
    # latency: full-trace duration >= threshold_ms
    assert _kept(spark, rows, [
        {"name": "slow", "type": "latency",
         "latency": {"threshold_ms": 2000}}]) == {"B"}
    # upper bound: threshold < d <= upper (latency.go strict lower)
    assert _kept(spark, rows, [
        {"name": "mid", "type": "latency",
         "latency": {"threshold_ms": 100, "upper_threshold_ms": 1500}}]) \
        == {"A"}


def test_string_attribute_plain_regex_and_invert(spark):
    rows = [
        _row("A", attrs={"env": "prod"}),
        _row("B", attrs={"env": "dev"}),
        _row("C", res={"env": "prod-eu"}),   # resource attrs count too
        _row("D"),
    ]
    plain = [{"name": "p", "type": "string_attribute",
              "string_attribute": {"key": "env", "values": ["prod"]}}]
    assert _kept(spark, rows, plain) == {"A"}
    rx = [{"name": "p", "type": "string_attribute",
           "string_attribute": {"key": "env", "values": ["prod.*"],
                                "enabled_regex_matching": True}}]
    assert _kept(spark, rows, rx) == {"A", "C"}
    # invert: traces WITHOUT a prod match sample (InvertSampled)
    inv = [{"name": "p", "type": "string_attribute",
            "string_attribute": {"key": "env", "values": ["prod"],
                                 "invert_match": True}}]
    assert _kept(spark, rows, inv) == {"B", "C", "D"}


def test_invert_not_sampled_beats_sampled(spark):
    """makeDecision precedence: InvertNotSampled forces NotSampled even
    when another policy says Sampled."""
    rows = [_row("A", status="STATUS_CODE_ERROR", attrs={"env": "prod"}),
            _row("B", status="STATUS_CODE_ERROR", attrs={"env": "dev"})]
    pols = [
        {"name": "errors", "type": "status_code",
         "status_code": {"status_codes": ["ERROR"]}},
        {"name": "not-prod", "type": "string_attribute",
         "string_attribute": {"key": "env", "values": ["prod"],
                              "invert_match": True}},
    ]
    assert _kept(spark, rows, pols) == {"B"}


def test_numeric_boolean_spancount_tracestate(spark):
    rows = [
        _row("A", attrs={"http.status_code": "500", "retry": "true"},
             tstate="vendor=x,sampled=yes"),
        _row("A", sid="s2"),
        _row("A", sid="s3"),
        _row("B", attrs={"http.status_code": "200", "retry": "false"}),
    ]
    assert _kept(spark, rows, [
        {"name": "5xx", "type": "numeric_attribute",
         "numeric_attribute": {"key": "http.status_code",
                               "min_value": 500, "max_value": 599}}]) == {"A"}
    assert _kept(spark, rows, [
        {"name": "retry", "type": "boolean_attribute",
         "boolean_attribute": {"key": "retry", "value": True}}]) == {"A"}
    assert _kept(spark, rows, [
        {"name": "big", "type": "span_count",
         "span_count": {"min_spans": 2}}]) == {"A"}
    assert _kept(spark, rows, [
        {"name": "small", "type": "span_count",
         "span_count": {"min_spans": 1, "max_spans": 2}}]) == {"B"}
    assert _kept(spark, rows, [
        {"name": "ts", "type": "trace_state",
         "trace_state": {"key": "sampled", "values": ["yes"]}}]) == {"A"}


def test_probabilistic_matches_reference_hash(spark):
    """FNV-1a(salt + raw trace-id bytes) <= floor(MaxUint64 * pct/100),
    verified against an independent Python recomputation."""
    from fractions import Fraction

    from opentelemetry_collector_contrib_spark.functions.hashes import (
        fnv1a_64)
    import hashlib
    tids = [hashlib.md5(str(i).encode()).hexdigest() for i in range(40)]
    rows = [_row(t) for t in tids]
    pct, salt = 25.0, "default-hash-seed"
    got = _kept(spark, rows, [
        {"name": "prob", "type": "probabilistic",
         "probabilistic": {"sampling_percentage": pct}}])
    thr = int(Fraction((1 << 64) - 1) * Fraction(pct / 100.0))
    want = {t for t in tids
            if fnv1a_64(salt.encode() + bytes.fromhex(t)) <= thr}
    assert got == want
    assert 0 < len(want) < len(tids)   # the vector actually splits


def test_and_drop_and_composite(spark):
    rows = [
        _row("A", status="STATUS_CODE_ERROR", attrs={"env": "prod"}),
        _row("B", status="STATUS_CODE_ERROR", attrs={"env": "dev"}),
        _row("C", attrs={"env": "prod"}),
        _row("D", status="STATUS_CODE_ERROR", attrs={"env": "prod",
                                                     "internal": "true"}),
    ]
    and_pol = [{"name": "err-and-prod", "type": "and", "and": {
        "and_sub_policy": [
            {"name": "e", "type": "status_code",
             "status_code": {"status_codes": ["ERROR"]}},
            {"name": "p", "type": "string_attribute",
             "string_attribute": {"key": "env", "values": ["prod"]}},
        ]}}]
    assert _kept(spark, rows, and_pol) == {"A", "D"}
    # drop wins over a sampling policy (makeDecision evaluates Dropped
    # first)
    drop_pol = and_pol + [{"name": "no-internal", "type": "drop", "drop": {
        "drop_sub_policy": [
            {"name": "i", "type": "boolean_attribute",
             "boolean_attribute": {"key": "internal", "value": True}},
        ]}}]
    assert _kept(spark, rows, drop_pol) == {"A"}


def _composite(max_total, subs, rates):
    return [{"name": "c", "type": "composite", "composite": {
        "max_total_spans_per_second": max_total,
        "composite_sub_policy": subs,
        "rate_allocation": rates}}]


_NUM_0_100 = {"name": "n1", "type": "numeric_attribute",
              "numeric_attribute": {"key": "tag", "min_value": 0,
                                    "max_value": 100}}
_ALWAYS = {"name": "always", "type": "always_sample"}


def test_composite_not_sampled_and_sampled(spark):
    """composite_test.go TestCompositeEvaluatorNotSampled /
    ...Sampled: no sub matches -> NotSampled; the always_sample sub
    catches what the first sub rejects."""
    rows = [_row("A")]  # no "tag" attribute
    pols = _composite(1000, [_NUM_0_100,
                             dict(_NUM_0_100, name="n2")],
                      [{"policy": "n1", "percent": 10},
                       {"policy": "n2", "percent": 10}])
    assert _kept(spark, rows, pols, ts_col="end_ts") == set()
    pols = _composite(1000, [_NUM_0_100, _ALWAYS],
                      [{"policy": "n1", "percent": 10},
                       {"policy": "always", "percent": 10}])
    assert _kept(spark, rows, pols, ts_col="end_ts") == {"A"}


def test_composite_overflow_always_sampled(spark):
    """composite_test.go TestCompositeEvaluator_OverflowAlwaysSampled:
    max_total 3, allocs [1,1]; second matching trace overflows the
    first sub's budget, a non-matching trace still samples through
    always_sample."""
    rows = [
        _row("T1", en="2024-01-01 10:00:00.100", attrs={"tag": "10"}),
        _row("T2", en="2024-01-01 10:00:00.200", attrs={"tag": "11"}),
        _row("T3", en="2024-01-01 10:00:00.300", attrs={"tag": "1001"}),
    ]
    pols = _composite(3, [_NUM_0_100, _ALWAYS],
                      [{"policy": "n1", "percent": 34},
                       {"policy": "always", "percent": 34}])
    assert _kept(spark, rows, pols, ts_col="end_ts") == {"T1", "T3"}


def test_composite_throttling_and_second_reset(spark):
    """TestCompositeEvaluatorThrottling: first totalSPS single-span
    traces in a second sample, the rest are throttled; the budget
    resets on the next second."""
    rows = [_row(f"S{i:02d}", en=f"2024-01-01 10:00:00.{100 + i:03d}")
            for i in range(20)]
    rows += [_row(f"N{i}", en=f"2024-01-01 10:00:01.{100 + i:03d}")
             for i in range(3)]
    pols = _composite(10, [_ALWAYS], [{"policy": "always",
                                       "percent": 100}])
    got = _kept(spark, rows, pols, ts_col="end_ts")
    assert got == {f"S{i:02d}" for i in range(10)} | {"N0", "N1", "N2"}


def test_composite_two_subpolicy_throttling(spark):
    """TestCompositeEvaluator2SubpolicyThrottling: two subs at 50%
    each; the always sub throttles independently of the first sub's
    (unused) allocation, and rejected traces do NOT consume budget."""
    rows = [_row(f"T{i:02d}", en=f"2024-01-01 10:00:00.{100 + i:03d}")
            for i in range(10)]
    pols = _composite(10, [_NUM_0_100, _ALWAYS],
                      [{"policy": "n1", "percent": 50},
                       {"policy": "always", "percent": 50}])
    got = _kept(spark, rows, pols, ts_col="end_ts")
    assert got == {f"T{i:02d}" for i in range(5)}


def test_composite_reject_does_not_consume_budget(spark):
    """composite.go:125-129: an over-budget trace is rejected WITHOUT
    updating the counter, so a later smaller trace still fits (this is
    where composite differs from the rate_limiting adaptation)."""
    rows = ([_row("BIG", sid=f"s{i}", en="2024-01-01 10:00:00.100")
             for i in range(8)]
            + [_row("MID", sid=f"s{i}", en="2024-01-01 10:00:00.200")
               for i in range(5)]
            + [_row("SMALL", sid=f"s{i}", en="2024-01-01 10:00:00.300")
               for i in range(2)])
    pols = _composite(10, [_ALWAYS], [{"policy": "always",
                                       "percent": 100}])
    # BIG(8) fits; MID would make 13 > 10 -> rejected, budget stays 8;
    # SMALL(2) makes 10 <= 10 -> sampled
    assert _kept(spark, rows, pols, ts_col="end_ts") == {"BIG", "SMALL"}


def test_composite_alloc_quirk_and_guards(spark):
    """getRateAllocationMap quirk: a sub-policy with NO rate_allocation
    entry gets 0 SPS (never samples); percent<=0 gets the equal
    default share. Guards: composite needs ts_col; stateful sub types
    are refused."""
    rows = [_row("A")]
    pols = _composite(1000, [_ALWAYS], [])
    assert _kept(spark, rows, pols, ts_col="end_ts") == set()
    pols = _composite(1000, [_ALWAYS], [{"policy": "always",
                                         "percent": 0}])
    assert _kept(spark, rows, pols, ts_col="end_ts") == {"A"}
    with pytest.raises(ValueError, match="ts_col"):
        _kept(spark, rows, _composite(10, [_ALWAYS], []))
    with pytest.raises(ValueError, match="not supported"):
        _kept(spark, rows, _composite(
            10, [{"name": "p", "type": "probabilistic",
                  "probabilistic": {"sampling_percentage": 50}}], []),
            ts_col="end_ts")


def test_ottl_condition_policy(spark):
    rows = [_row("A", attrs={"http.path": "/health"}),
            _row("B", attrs={"http.path": "/api/v1"})]
    pols = [{"name": "ottl", "type": "ottl_condition", "ottl_condition": {
        "span_conditions": ['attributes["http.path"] == "/api/v1"']}}]
    assert _kept(spark, rows, pols) == {"B"}


def test_rate_limiting_event_time_budget(spark):
    """Event-time adaptation: per one-second window of decision time,
    traces keep sampling in decision order until the span budget is
    spent."""
    rows = [
        _row("A", en="2024-01-01 10:00:00.100"),
        _row("A", sid="s2", en="2024-01-01 10:00:00.200"),
        _row("B", en="2024-01-01 10:00:00.300"),
        _row("B", sid="s2", en="2024-01-01 10:00:00.400"),
        _row("C", en="2024-01-01 10:00:00.500"),
        _row("D", en="2024-01-01 10:00:01.200"),  # next second: budget reset
    ]
    pols = [{"name": "rl", "type": "rate_limiting",
             "rate_limiting": {"spans_per_second": 3}}]
    got = _kept(spark, rows, pols, ts_col="end_ts")
    # A(2 spans) fits, B would exceed 3, C(1) — cumulative order is by
    # decision ts: A=..200(2), B=..400(cum 4 > 3: out), C=..500(cum 5:
    # out); D in the next second samples
    assert got == {"A", "D"}
    with pytest.raises(ValueError, match="ts_col"):
        _kept(spark, rows, pols)


def test_always_sample_and_spans_preserved(spark):
    rows = [_row("A"), _row("A", sid="s2"), _row("B")]
    df = _spans(spark, rows)
    out = tail_sampling_policies(
        df, [{"name": "all", "type": "always_sample"}])
    assert out.count() == 3
    assert set(out.columns) == set(df.columns)


def test_probabilistic_null_and_whitespace_trace_ids(spark):
    """A null trace id is never kept, even at 100 % (it once hashed as
    the text "None"); an id with whitespace is not hex to Go's
    hex.DecodeString, so it hashes its UTF-8 bytes."""
    from fractions import Fraction

    from opentelemetry_collector_contrib_spark.functions.hashes import (
        fnv1a_64)
    from opentelemetry_collector_contrib_spark.operators.tailsampling import (
        probabilistic_keep_udf)
    ids = [f"{i:04x}  {i * 7:04x}" for i in range(64)] + ["  ", None]
    df = spark.createDataFrame([(t,) for t in ids], "t string")

    def keep(salt, pct):
        udf = probabilistic_keep_udf(salt, pct)
        return {r["t"]: r["k"]
                for r in df.select("t", udf(F.col("t")).alias("k")).collect()}

    assert keep("s", 100.0) == {t: t is not None for t in ids}
    thr = int(Fraction((1 << 64) - 1) * Fraction(50.0 / 100.0))
    want = {t: t is not None and fnv1a_64(b"s" + t.encode()) <= thr
            for t in ids}
    assert keep("s", 50.0) == want
    assert 0 < sum(want.values()) < len(ids) - 1


def test_six_policy_lattice(spark):
    """The makeDecision lattice over six policies at once: an invert
    veto, an and-policy, span_count, latency, status_code and
    numeric_attribute. Every span of a kept trace survives."""
    policies = [
        {"name": "errors", "type": "status_code",
         "status_code": {"status_codes": ["ERROR"]}},
        {"name": "big-qty", "type": "numeric_attribute",
         "numeric_attribute": {"key": "qty", "min_value": 45,
                               "max_value": 50}},
        {"name": "not-r0", "type": "string_attribute",
         "string_attribute": {"key": "region", "values": ["r0"],
                              "invert_match": True}},
        {"name": "wide", "type": "span_count",
         "span_count": {"min_spans": 3}},
        {"name": "slow", "type": "latency",
         "latency": {"threshold_ms": 3000}},
        {"name": "err-and-prod", "type": "and", "and": {
            "and_sub_policy": [
                {"name": "e", "type": "status_code",
                 "status_code": {"status_codes": ["ERROR"]}},
                {"name": "p", "type": "string_attribute",
                 "string_attribute": {"key": "env", "values": ["prod"]}},
            ]}},
    ]

    def row(tid, sid, status="UNSET", region="r1", qty="10", env="dev",
            en="2024-01-01 10:00:01"):
        return _row(tid, sid=sid, en=en, status=status,
                    attrs={"region": region, "qty": qty, "env": env})

    rows = [
        # error in r0: the invert veto beats the error policy
        row("VETO", "s1", status="ERROR", region="r0"),
        # error elsewhere: kept, with its quiet span
        row("ERR", "s1", status="ERROR"),
        row("ERR", "s2"),
        # big quantity: kept
        row("QTY", "s1", qty="47"),
        # three quiet spans: kept by span_count
        row("WIDE", "s1"), row("WIDE", "s2"), row("WIDE", "s3"),
        # 5 s trace: kept by latency
        row("SLOW", "s1", en="2024-01-01 10:00:05"),
        # prod error: kept by the and-policy (also by errors)
        row("PROD", "s1", status="ERROR", env="prod"),
        # nothing matches: dropped
        row("PLAIN", "s1"),
    ]
    out = tail_sampling_policies(_spans(spark, rows), policies)
    kept = {(r["trace_id"], r["span_id"]) for r in out.collect()}
    assert {t for t, _ in kept} == {"ERR", "QTY", "WIDE", "SLOW", "PROD"}
    assert kept == {(r[0], r[1]) for r in rows
                    if r[0] not in ("VETO", "PLAIN")}
