"""Filters, samplers, routing connector semantics, recombine,
metrics-state windows."""

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.filters import (
    filter_processor,
    filter_transformer,
    probabilistic_sampler,
)
from opentelemetry_collector_contrib_spark.operators.metrics_state import (
    cumulative_to_delta,
    delta_to_cumulative,
    delta_to_rate,
    metric_start_time,
    metrics_generation_calculate,
)
from opentelemetry_collector_contrib_spark.operators.recombine import recombine
from opentelemetry_collector_contrib_spark.operators.routing import (
    Route,
    router,
)


def test_filter_transformer_drop_matching(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "v int")
    out = filter_transformer("v >= 5").apply(df)
    assert out.count() == 5


def test_filter_transformer_ratio_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], "v int")
    a = filter_transformer("v >= 0", drop_ratio=0.5).apply(df).count()
    b = filter_transformer("v >= 0", drop_ratio=0.5).apply(df).count()
    assert a == b  # hash-based, reproducible
    assert 350 < a < 650


def test_filter_processor_null_condition_is_nomatch(spark):
    """A condition erroring to NULL must not drop the row
    (error_mode=ignore, processor/transformprocessor/config.go:38-43)."""
    df = spark.createDataFrame([("x",), (None,)], "s string")
    out = filter_processor(["length(s) > 10"]).apply(df)
    assert out.count() == 2


def test_probabilistic_sampler_deterministic_and_proportional(spark):
    df = spark.createDataFrame([(str(i),) for i in range(4000)], "trace_id string")
    a = probabilistic_sampler(25.0).apply(df).count()
    b = probabilistic_sampler(25.0).apply(df).count()
    assert a == b
    assert 800 < a < 1200
    # subset property: 10% sample is a subset of the 50% sample
    s10 = {r["trace_id"] for r in probabilistic_sampler(10.0).apply(df).collect()}
    s50 = {r["trace_id"] for r in probabilistic_sampler(50.0).apply(df).collect()}
    assert s10 <= s50


def test_stratified_sample_deterministic_per_stratum(spark):
    from opentelemetry_collector_contrib_spark.operators.filters import (
        stratified_sample)
    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(300)],
        "doc_id long, lang string")
    a = stratified_sample(df, ["lang"], 10, "doc_id").collect()
    b = stratified_sample(df, ["lang"], 10, "doc_id").collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    counts = {}
    for r in a:
        counts[r["lang"]] = counts.get(r["lang"], 0) + 1
    assert counts == {"en": 10, "de": 10}
    # md5 mode is deterministic too and differs from xxhash64 ranking
    m = stratified_sample(df, ["lang"], 10, "doc_id", hash_fn="md5").collect()
    assert len(m) == 20


def test_router_first_match_wins_and_default(spark):
    df = spark.createDataFrame(
        [(600, "en"), (600, "de"), (200, "en"), (200, "fr")], "status int, lang string")
    routes = [Route("status >= 500", "err"), Route("lang = 'en'", "en")]
    got = [r["sink"] for r in router(routes).apply(df).collect()]
    assert got == ["err", "err", "en", "default"]  # 600/en -> err (first match MOVES)


def test_recombine_is_first_entry(spark):
    rows = [
        ("f1", 1, "Exception in thread"), ("f1", 2, "  at foo()"),
        ("f1", 3, "  at bar()"), ("f1", 4, "Exception again"),
        ("f1", 5, "  at baz()"), ("f2", 1, "Exception other"),
    ]
    df = spark.createDataFrame(rows, "file string, offset long, body string")
    out = recombine(df, ["file"], "offset",
                    is_first_entry="body LIKE 'Exception%'").collect()
    bodies = {(r["file"], r["offset"]): r["body"] for r in out}
    assert bodies[("f1", 1)] == "Exception in thread\n  at foo()\n  at bar()"
    assert bodies[("f1", 4)] == "Exception again\n  at baz()"
    assert bodies[("f2", 1)] == "Exception other"


def test_recombine_is_last_entry(spark):
    rows = [("f", 1, "part a"), ("f", 2, "end;"), ("f", 3, "part b"), ("f", 4, "end;")]
    df = spark.createDataFrame(rows, "file string, offset long, body string")
    out = recombine(df, ["file"], "offset", is_last_entry="body = 'end;'").collect()
    bodies = sorted(r["body"] for r in out)
    assert bodies == ["part a\nend;", "part b\nend;"]


def test_metrics_state_windows(spark):
    rows = [("s1", 1, 10.0), ("s1", 2, 5.0), ("s1", 3, 7.0), ("s2", 1, 1.0)]
    df = spark.createDataFrame(rows, "stream string, ts long, value double")
    cum = {(r["stream"], r["ts"]): r["cumulative"]
           for r in delta_to_cumulative(df, ["stream"]).collect()}
    assert cum[("s1", 3)] == 22.0 and cum[("s2", 1)] == 1.0
    delta = {(r["stream"], r["ts"]): r["delta"]
             for r in cumulative_to_delta(df, ["stream"]).collect()}
    assert delta[("s1", 2)] == -5.0 and delta[("s1", 1)] is None


def test_delta_to_rate(spark):
    import datetime
    t0 = datetime.datetime(2024, 1, 1)
    rows = [("s", t0, 0.0), ("s", t0 + datetime.timedelta(seconds=10), 50.0)]
    df = spark.createDataFrame(rows, "stream string, ts timestamp, value double")
    out = delta_to_rate(df, ["stream"]).collect()
    rates = [r["rate"] for r in out if r["rate"] is not None]
    assert rates == [5.0]


def test_metric_start_time(spark):
    rows = [("s", 5), ("s", 3), ("s", 9)]
    df = spark.createDataFrame(rows, "stream string, ts long")
    out = metric_start_time(df, ["stream"]).collect()
    assert all(r["start_time"] == 3 for r in out)


def test_metrics_generation_divide_by_zero(spark):
    rows = [(name, {"grp": grp}, v)
            for grp, name, v in [("zero", "m1", 10.0), ("zero", "m2", 0.0),
                                 ("ok", "m1", 10.0), ("ok", "m2", 4.0)]]
    df = spark.createDataFrame(
        rows, "metric string, attrs map<string,string>, value double")
    df = df.selectExpr("'r' AS resource", "'s' AS scope", "metric",
                       "'gauge' AS mtype", "'none' AS temporality",
                       "false AS monotonic", "'' AS unit", "attrs",
                       "0L AS start_ts", "0L AS ts", "0L AS ord", "value")
    out = metrics_generation_calculate(
        df, [{"name": "ratio", "operation": "divide",
              "metric1": "m1", "metric2": "m2"}]).collect()
    # divide-by-zero drops the datapoint (calculateValue error path)
    assert [(r["attrs"]["grp"], r["metric"], r["value"]) for r in out] == [
        ("ok", "ratio", 2.5)]


def test_failover_write(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.operators.routing import failover_write
    df = spark.createDataFrame([(1,)], "v int")
    calls = []

    def bad(_df):
        calls.append("bad")
        raise IOError("sink down")

    def good(d):
        calls.append("good")
        d.write.mode("overwrite").parquet(str(tmp_path / "ok"))

    assert failover_write(df, [bad, good]) == 1
    assert calls == ["bad", "good"]
    assert spark.read.parquet(str(tmp_path / "ok")).count() == 1
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="all sinks failed"):
        failover_write(df, [bad, bad])


def test_parse_xml_registry(spark):
    from opentelemetry_collector_contrib_spark.functions import call
    from pyspark.sql import functions as F
    df = spark.createDataFrame([("<r><a>1</a><b>x</b></r>",)], "body string")
    out = df.select(call("ParseXML", F.col("body"), "a int, b string").alias("x")).first()
    assert out["x"]["a"] == 1 and out["x"]["b"] == "x"


def test_match_properties_and_matchers(spark):
    from opentelemetry_collector_contrib_spark.operators.filters import (
        filter_processor_matchers, match_properties)
    rows = [
        ("app started", "INFO", 9, {"env": "prod"}, {"host.name": "h1"}),
        ("disk error",  "ERROR", 17, {"env": "prod"}, {"host.name": "h2"}),
        ("debug noise", "DEBUG", 5, {"env": "dev"},  {"host.name": "h1"}),
    ]
    df = spark.createDataFrame(
        rows, "body string, severity_text string, severity_number int, "
              "attributes map<string,string>, resource map<string,string>")

    # strict: all groups must match; any value within a group
    cond = match_properties(severity_texts=["INFO", "ERROR"],
                            record_attributes={"env": "prod"})
    assert df.filter(cond).count() == 2

    # regexp over bodies + min severity
    cond = match_properties(match_type="regexp", log_bodies=["err.r"],
                            min_severity=13)
    assert [r["body"] for r in df.filter(cond).collect()] == ["disk error"]

    # include/exclude composition: keep prod, drop errors
    kept = filter_processor_matchers(
        include={"record_attributes": {"env": "prod"}},
        exclude={"match_type": "regexp", "log_bodies": [".*error.*"]},
    ).apply(df)
    assert [r["body"] for r in kept.collect()] == ["app started"]


def test_metrics_transform_label_ops(spark):
    from opentelemetry_collector_contrib_spark.operators.metrics_state import (
        metrics_transform)
    rows = [("m1", "us-east", "a", 1.0), ("m1", "us-west", "b", 2.0),
            ("m1", "eu", "a", 4.0), ("m2", "us-east", "a", 8.0)]
    df = spark.createDataFrame(rows, "metric_name string, region string, "
                                     "zone string, value double")
    out = metrics_transform(df, [{
        "include": "m1",
        "new_name": "m1.renamed",
        "operations": [
            {"action": "update_label_values", "label": "region",
             "mapping": {"us-east": "us", "us-west": "us"}},
            {"action": "delete_label_value", "label": "region", "value": "eu"},
            {"action": "aggregate_labels", "keep": ["region"],
             "aggregation_type": "sum"},
        ],
    }]).collect()
    got = {(r["metric_name"], r["region"]): r["value"] for r in out}
    assert got[("m1.renamed", "us")] == 3.0        # merged + eu dropped
    assert got[("m2", "us-east")] == 8.0           # untouched
    assert ("m1.renamed", "eu") not in got


def test_filter_processor_config_ottl(spark):
    """filterprocessor config surface (config.go): per-signal OTTL
    drop-conditions compile through the DSL — converter calls and
    context paths included; OR semantics; unknown contexts raise."""
    import pytest as _pytest

    from opentelemetry_collector_contrib_spark.operators.filters import (
        filter_processor_config)
    ops = filter_processor_config({
        "error_mode": "ignore",
        "logs": {"log_record": [
            'IsMatch(body, "^DBG") == true',
            'severity_number < SEVERITY_NUMBER_INFO and '
            'attributes["keep"] == nil',
        ]},
        "metrics": {"metric": ['metric.name == "drop.me"']},
        "traces": {"span": ['attributes["http.path"] == "/health"']},
    })
    logs = spark.createDataFrame(
        [("DBG noisy", 5, {}), ("INFO fine", 9, {}),
         ("TRACE but kept", 1, {"keep": "y"}), ("TRACE dropped", 1, {})],
        "body string, severity_number long, attributes map<string,string>")
    got = {r["body"] for r in ops[("logs", "log_record")].apply(logs).collect()}
    assert got == {"INFO fine", "TRACE but kept"}

    metrics = spark.createDataFrame(
        [("drop.me", 1.0), ("keep.me", 2.0)],
        "metric_name string, value double")
    assert [r["metric_name"] for r in
            ops[("metrics", "metric")].apply(metrics).collect()] == ["keep.me"]

    spans = spark.createDataFrame(
        [({"http.path": "/health"},), ({"http.path": "/api"},)],
        "attributes map<string,string>")
    assert ops[("traces", "span")].apply(spans).count() == 1

    with _pytest.raises(ValueError, match="contexts"):
        filter_processor_config({"logs": {"span": ["true == true"]}})


def test_probabilistic_sampler_fnv_seed_exact(spark):
    """hash_fn='fnv_seed' reproduces the reference's hash_seed mode
    exactly: fnv1a_32(le32(seed) || raw bytes) & 0x3FFF < scaled rate —
    verified against an independent recomputation, plus the public
    FNV-1a-32 vectors and the layered-collector property (same seed at
    two layers passes the identical set)."""
    import hashlib

    from opentelemetry_collector_contrib_spark.functions.hashes import fnv1a_32
    from opentelemetry_collector_contrib_spark.operators.filters import (
        probabilistic_sampler)
    # public FNV-1a 32 vectors
    assert fnv1a_32(b"") == 0x811C9DC5
    assert fnv1a_32(b"a") == 0xE40C292C

    tids = [hashlib.md5(str(i).encode()).hexdigest() for i in range(300)]
    df = spark.createDataFrame([(t,) for t in tids], "trace_id string")
    pct, seed = 25.0, 22
    kept = {r["trace_id"] for r in probabilistic_sampler(
        pct, seed=seed, hash_fn="fnv_seed").apply(df).collect()}
    thr = int(pct * (1 << 14) / 100)
    seed_b = seed.to_bytes(4, "little")
    want = {t for t in tids
            if (fnv1a_32(seed_b + bytes.fromhex(t)) & 0x3FFF) < thr}
    assert kept == want
    assert 0 < len(want) < len(tids)
    # layering: sampling the kept set again at the same seed+pct is a
    # no-op (the reference's multi-collector hash_seed property)
    df2 = spark.createDataFrame([(t,) for t in kept], "trace_id string")
    again = probabilistic_sampler(pct, seed=seed,
                                  hash_fn="fnv_seed").apply(df2).count()
    assert again == len(kept)


def test_probabilistic_sampler_fnv_seed_hex_rule(spark):
    """fnv_seed hashes a field as raw bytes only when it is what Go's
    hex.DecodeString accepts (pairs of hex digits, nothing else):
    whitespace, odd lengths and the empty string hash their UTF-8
    bytes, and a null is never kept."""
    import hashlib
    import re

    from opentelemetry_collector_contrib_spark.functions.hashes import fnv1a_32
    from opentelemetry_collector_contrib_spark.operators.filters import (
        probabilistic_sampler)
    hexes = [hashlib.md5(str(i).encode()).hexdigest() for i in range(200)]
    vals = ([f"{h[:8]}  {h[8:16]}" for h in hexes[:100]]
            + [f" {h[:12]} " for h in hexes[100:150]]
            + [h[:7] for h in hexes[150:]]
            + [h.upper() for h in hexes[:50]]
            + ["  ", "", "zz"])
    df = spark.createDataFrame([(v,) for v in vals] + [(None,)], "f string")
    pct, seed = 25.0, 7
    kept = [r["f"] for r in probabilistic_sampler(
        pct, hash_field="f", seed=seed, hash_fn="fnv_seed").apply(df).collect()]
    thr = int(pct * (1 << 14) / 100)
    seed_b = seed.to_bytes(4, "little")

    def kept_set(is_hex):
        return sorted(
            v for v in vals
            if (fnv1a_32(seed_b + (bytes.fromhex(v) if is_hex(v)
                                   else v.encode())) & 0x3FFF) < thr)

    want = kept_set(lambda v: re.fullmatch(r"(?:[0-9a-fA-F]{2})+", v))
    assert None not in kept
    assert sorted(kept) == want
    # the rule matters here: Python's looser bytes.fromhex picks another set
    assert want != kept_set(_fromhex_ok)


def _fromhex_ok(v: str) -> bool:
    try:
        bytes.fromhex(v)
    except ValueError:
        return False
    return len(v) % 2 == 0 and bool(v)
