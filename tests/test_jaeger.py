"""Jaeger proto-JSON decode — mirrors pkg/translator/jaeger/
jaegerproto_to_traces.go semantics; the golden input is a hand-written
batch in the Jaeger model proto-JSON format
(tests/fixtures/jaeger/jaegerproto_batch_01.json), standing in for the
translator's testdata/jaegerproto_batch_01.json."""

import base64
import json
import os

TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures", "jaeger")


def _b64(hexstr: str) -> str:
    return base64.b64encode(bytes.fromhex(hexstr)).decode()


def _decode(spark, batch):
    from opentelemetry_collector_contrib_spark.sources.jaeger import (
        parse_jaeger_json_batches)
    df = spark.createDataFrame([(json.dumps(batch),)], "body string")
    return parse_jaeger_json_batches(df).collect()


def _tag(key, v, vtype=None):
    if vtype == 1 or isinstance(v, bool):
        return {"key": key, "v_type": 1, "v_bool": v}
    if vtype == 2 or isinstance(v, int):
        return {"key": key, "v_type": 2, "v_int64": v}
    if vtype == 3 or isinstance(v, float):
        return {"key": key, "v_type": 3, "v_float64": v}
    return {"key": key, "v_type": 0, "v_str": v}


TRACE = "0102030405060708090a0b0c0d0e0f10"
SPAN = "00000000006b7a18"
PARENT = "0000000000000abc"


def test_basic_decode_with_status_and_scope(spark):
    [r] = _decode(spark, {
        "process": {"service_name": "api",
                    "tags": [_tag("hostname", "api246"),
                             _tag("jaeger.version", "3.7.0"),
                             _tag("pid", 13)]},
        "spans": [{
            "trace_id": _b64(TRACE), "span_id": _b64(SPAN),
            "operation_name": "get",
            "start_time": "2017-01-26T21:46:31.639875Z",
            "duration": 22938000,
            "tags": [_tag("span.kind", "server"),
                     _tag("otel.status_code", "Error"),
                     _tag("otel.status_description", "boom"),
                     _tag("otel.scope.name", "io.lib"),
                     _tag("otel.scope.version", "2.1"),
                     _tag("w3c.tracestate", "k=v"),
                     _tag("someBool", True),
                     _tag("peer.port", 53931)],
            "logs": [{"timestamp": "2017-01-26T21:46:31.639874Z",
                      "fields": [_tag("event", "retry"),
                                 _tag("attempt", 2)]}],
        }]})
    assert r["trace_id"] == TRACE
    assert r["span_id"] == SPAN
    assert r["parent_span_id"] is None
    assert r["kind"] == "server"
    assert r["status_code"] == "error"       # ERROR by upper-case match
    assert r["status_message"] == "boom"
    assert r["trace_state"] == "k=v"
    assert r["scope_name"] == "io.lib" and r["scope_version"] == "2.1"
    res = dict(r["resource"])
    assert res["service.name"] == "api"
    assert res["host.name"] == "api246" and "hostname" not in res
    assert res["opencensus.exporterversion"] == "Jaeger-3.7.0"
    assert "jaeger.version" not in res
    assert res["pid"] == "13"
    attrs = dict(r["attributes"])
    assert attrs == {"someBool": "true", "peer.port": "53931"}
    [ev] = r["events"]
    assert ev["name"] == "retry"
    assert dict(ev["attributes"]) == {"attempt": "2"}
    assert r["duration_ns"] == 22938000


def test_error_bool_tag_wins_and_is_consumed(spark):
    rows = _decode(spark, {
        "process": {"service_name": "s", "tags": []},
        "spans": [
            {"trace_id": _b64(TRACE), "span_id": _b64(SPAN),
             "operation_name": "a",
             "tags": [_tag("error", True),
                      _tag("otel.status_code", "OK"),
                      _tag("http.status_message", "saved msg")]},
            {"trace_id": _b64(TRACE), "span_id": _b64(PARENT),
             "operation_name": "b",
             "tags": [_tag("error", "true")]},   # STRING error: ignored
        ]})
    by = {r["name"]: r for r in rows}
    a = by["a"]
    assert a["status_code"] == "error"           # error beats OK
    assert a["status_message"] == "saved msg"    # http fallback msg
    attrs = dict(a["attributes"])
    assert "error" not in attrs                  # consumed (bool true)
    assert "otel.status_code" not in attrs       # always consumed
    assert attrs["http.status_message"] == "saved msg"  # kept
    b = by["b"]
    assert b["status_code"] == "unset"
    assert dict(b["attributes"])["error"] == "true"  # string error kept


def test_http_status_introspection(spark):
    def span(name, kind, code):
        tags = [_tag("http.status_code", code)]
        if kind:
            tags.append(_tag("span.kind", kind))
        return {"trace_id": _b64(TRACE), "span_id": _b64(SPAN),
                "operation_name": name, "tags": tags}
    rows = _decode(spark, {
        "process": {"service_name": "s", "tags": []},
        "spans": [span("c4", "client", 404), span("s4", "server", 404),
                  span("s5", "server", 500), span("ok", "server", 200),
                  span("i4", None, 404)]})
    by = {r["name"]: r["status_code"] for r in rows}
    assert by == {"c4": "error", "s4": "unset", "s5": "error",
                  "ok": "unset", "i4": "error"}


def test_parent_from_field_and_references(spark):
    other_trace = "f" * 32
    [r] = _decode(spark, {
        "process": {"service_name": "s", "tags": []},
        "spans": [{
            "trace_id": _b64(TRACE), "span_id": _b64(SPAN),
            "parent_span_id": 0xABC,
            "operation_name": "op",
            "references": [
                {"trace_id": _b64(TRACE), "span_id": _b64(PARENT),
                 "ref_type": 0},                       # the parent ref
                {"trace_id": _b64(other_trace), "span_id": _b64(PARENT),
                 "ref_type": 1},                       # follows-from
            ]}]})
    assert r["parent_span_id"] == PARENT
    [link] = r["links"]
    assert link["trace_id"] == other_trace
    assert link["ref_type"] == "follows_from"


def test_golden_jaegerproto_batch_01(spark):
    # hand-written proto-JSON batch standing in for the translator's
    # testdata/jaegerproto_batch_01.json
    from opentelemetry_collector_contrib_spark.sources.jaeger import (
        parse_jaeger_json_batches)
    with open(f"{TESTDATA}/jaegerproto_batch_01.json") as f:
        body = f.read()
    df = spark.createDataFrame([(body,)], "body string")
    [r] = parse_jaeger_json_batches(df).collect()
    assert r["name"] == "get"
    assert r["kind"] == "server"            # span.kind tag consumed
    res = dict(r["resource"])
    assert res["service.name"] == "api"
    assert res["host.name"] == "api246-sjc1"     # hostname translated
    assert res["pid"] == "13"
    assert res["opencensus.exporterversion"] == "someVersion"
    attrs = dict(r["attributes"])
    assert attrs["someBool"] == "true"
    assert attrs["peer.port"] == "53931"
    assert attrs["peer.ipv4"] == "3224716605"
    assert "span.kind" not in attrs
    assert r["status_code"] == "unset"
    assert len(r["events"]) == 3
    # the third log carries the "event" field -> event name, consumed
    assert [e["name"] for e in r["events"]] == [None, None, "nothing"]
    assert "event" not in dict(r["events"][2]["attributes"])


def test_no_shuffle_no_udf(spark):
    from opentelemetry_collector_contrib_spark.sources.jaeger import (
        parse_jaeger_json_batches)
    df = spark.createDataFrame([("{}",)], "body string")
    plan = parse_jaeger_json_batches(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
