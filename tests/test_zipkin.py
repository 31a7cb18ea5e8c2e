"""Zipkin v2 JSON decode — mirrors pkg/translator/zipkin/zipkinv2/
to_translator.go semantics."""

import json
import os

from pyspark.sql import functions as F


def _decode(spark, spans):
    from opentelemetry_collector_contrib_spark.sources.zipkin import (
        parse_zipkin_json_spans)
    df = spark.createDataFrame([(json.dumps(spans),)], "body string")
    return parse_zipkin_json_spans(df).collect()


def test_basic_span_decode(spark):
    [r] = _decode(spark, [{
        "traceId": "0102030405060708090A0B0C0D0E0F10",
        "id": "AABBCCDD",
        "parentId": "0000000000000001",
        "name": "get /api",
        "kind": "SERVER",
        "timestamp": 1_500_000_000_000_000,
        "duration": 2_000,
        "localEndpoint": {"serviceName": "frontend", "port": 8080},
        "remoteEndpoint": {"serviceName": "backend", "ipv4": "10.0.0.2",
                           "port": 9000},
        "tags": {"http.path": "/api", "host.name": "box1",
                 "otel.library.name": "mylib",
                 "otel.library.version": "1.0",
                 "w3c.tracestate": "a=b"},
        "annotations": [{"timestamp": 1_500_000_000_000_001,
                         "value": "processing"}],
    }])
    assert r["trace_id"] == "0102030405060708090a0b0c0d0e0f10"
    assert r["span_id"] == "00000000aabbccdd"
    assert r["parent_span_id"] == "0000000000000001"
    assert r["kind"] == "server"
    assert r["start_ns"] == 1_500_000_000_000_000_000
    assert r["end_ns"] == 1_500_000_000_002_000_000
    assert r["trace_state"] == "a=b"
    assert r["status_code"] == "unset"
    # resource gets service.name + resource-scoped tags (host.name)
    assert dict(r["resource"]) == {"service.name": "frontend",
                                   "host.name": "box1"}
    assert r["scope_name"] == "mylib" and r["scope_version"] == "1.0"
    attrs = dict(r["attributes"])
    assert attrs["http.path"] == "/api"
    assert attrs["net.host.port"] == "8080"
    assert attrs["peer.service"] == "backend"
    assert attrs["net.peer.ip"] == "10.0.0.2"
    assert attrs["net.peer.port"] == "9000"
    # consumed tags do not leak into attributes
    for k in ("w3c.tracestate", "otel.library.name", "host.name"):
        assert k not in attrs
    assert [(e["ts_ns"], e["name"]) for e in r["events"]] \
        == [(1_500_000_000_000_001_000, "processing")]


def test_parent_equal_to_self_dropped_and_kind_tag(spark):
    rows = _decode(spark, [
        {"traceId": "01", "id": "02", "parentId": "02", "name": "a",
         "tags": {"span.kind": "internal"}},
        {"traceId": "01", "id": "03", "name": "b",
         "tags": {"span.kind": "producer-ish"}},
    ])
    by = {r["name"]: r for r in rows}
    assert by["a"]["parent_span_id"] is None
    assert by["a"]["kind"] == "internal"
    # span.kind tag consumed even when not "internal"; kind unspecified
    assert by["b"]["kind"] == "unspecified"
    assert "span.kind" not in dict(by["b"]["attributes"])


def test_status_quirks(spark):
    rows = _decode(spark, [
        {"traceId": "01", "id": "01", "name": "ok",
         "tags": {"otel.status_code": "STATUS_CODE_OK",
                  "otel.status_description": "fine"}},
        {"traceId": "01", "id": "02", "name": "legacy",
         "tags": {"otel.status_code": "Error"}},
        {"traceId": "01", "id": "03", "name": "err-true",
         "tags": {"error": "true"}},
        {"traceId": "01", "id": "04", "name": "err-other",
         "tags": {"error": "failed"}},
        {"traceId": "01", "id": "05", "name": "desc-only",
         "tags": {"otel.status_description": "orphan"}},
    ])
    by = {r["name"]: r for r in rows}
    assert (by["ok"]["status_code"], by["ok"]["status_message"]) \
        == ("ok", "fine")
    assert by["legacy"]["status_code"] == "error"
    assert by["err-true"]["status_code"] == "error"
    assert "error" not in dict(by["err-true"]["attributes"])
    # error != "true": status forced but the tag SURVIVES as attribute
    assert by["err-other"]["status_code"] == "error"
    assert dict(by["err-other"]["attributes"])["error"] == "failed"
    # description without a code is NOT consumed as message
    assert by["desc-only"]["status_message"] is None
    assert dict(by["desc-only"]["attributes"])["otel.status_description"] \
        == "orphan"


def test_absent_timestamp_and_no_service(spark):
    [r] = _decode(spark, [{
        "traceId": "01", "id": "02", "name": "n", "duration": 5,
        "tags": {"host.name": "gone"}}])
    assert r["start_ns"] == 0 and r["end_ns"] == 5000
    assert dict(r["attributes"]).get(
        "otel.zipkin.absentField.startTime") == "true"
    # no local service name: empty resource, scoped tags dropped
    assert dict(r["resource"]) == {}
    assert "host.name" not in dict(r["attributes"])


def test_service_name_source_and_links_raw(spark):
    [r] = _decode(spark, [{
        "traceId": "01", "id": "02", "name": "n",
        "localEndpoint": {"serviceName": "payments"},
        "tags": {"otlp.service.name.source": "faas.name",
                 "otlp.link.0": "0102|0304|state||0"}}])
    assert dict(r["resource"]) == {"faas.name": "payments"}
    assert r["links_raw"] == ["0102|0304|state||0"]
    assert "otlp.link.0" not in dict(r["attributes"])


def test_ipv6_wins_and_event_name_split(spark):
    [r] = _decode(spark, [{
        "traceId": "01", "id": "02", "name": "n",
        "localEndpoint": {"serviceName": "s", "ipv4": "1.2.3.4",
                          "ipv6": "::1"},
        "annotations": [{"timestamp": 10,
                         "value": 'ev|{"k":"v"}|0'}]}])
    assert dict(r["attributes"])["net.host.ip"] == "::1"
    assert [e["name"] for e in r["events"]] == ["ev"]


def test_no_shuffle_no_udf_plan(spark):
    from opentelemetry_collector_contrib_spark.sources.zipkin import (
        parse_zipkin_json_spans)
    df = spark.createDataFrame([("[]",)], "body string")
    plan = parse_zipkin_json_spans(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "fixtures", "zipkin")


def test_golden_zipkin_v2_single(spark):
    # hand-written Zipkin v2 API span list standing in for the
    # translator's testdata/zipkin_v2_single.json
    from opentelemetry_collector_contrib_spark.sources.zipkin import (
        parse_zipkin_json_spans)
    with open(f"{GOLDEN_DIR}/zipkin_v2_single.json") as f:
        body = f.read()
    df = spark.createDataFrame([(body,)], "body string")
    [r] = parse_zipkin_json_spans(df).collect()
    assert r["trace_id"] == "4d1e00c0db9010db86154a4ba6e91385"
    assert r["span_id"] == "4d1e00c0db9010db"
    assert r["parent_span_id"] == "86154a4ba6e91385"
    assert r["kind"] == "client"
    assert r["name"] == "get"
    assert r["start_ns"] == 1472470996199000 * 1000
    assert r["end_ns"] == (1472470996199000 + 207000) * 1000
    assert dict(r["resource"]) == {"service.name": "frontend"}
    attrs = dict(r["attributes"])
    assert attrs["http.path"] == "/api"
    assert attrs["http.status_code"] == "500"
    assert attrs["cache_hit"] == "true"
    assert attrs["ping_count"] == "25"
    assert attrs["timeout"] == "12.3"
    assert attrs["clnt/finagle.version"] == "6.45.0"
    assert attrs["net.host.ip"] == "7::0.128.128.127"
    assert attrs["peer.service"] == "backend"
    assert attrs["net.peer.ip"] == "192.168.99.101"
    assert attrs["net.peer.port"] == "9000"
    assert [(e["ts_ns"], e["name"]) for e in r["events"]] == [
        (1472470996238000000, "foo"), (1472470996403000000, "bar")]


def test_golden_zipkin_v2_notimestamp(spark):
    from opentelemetry_collector_contrib_spark.sources.zipkin import (
        parse_zipkin_json_spans)
    with open(f"{GOLDEN_DIR}/zipkin_v2_notimestamp.json") as f:
        body = f.read()
    df = spark.createDataFrame([(body,)], "body string")
    [r] = parse_zipkin_json_spans(df).collect()
    assert r["trace_id"] == "000000000000000013c3518297c3b59f"
    assert r["span_id"] == "c698c56b63c5f5cb"
    assert r["parent_span_id"] == "62a165c66951ced3"
    assert r["start_ns"] == 0
    assert dict(r["attributes"]).get(
        "otel.zipkin.absentField.startTime") == "true"
    assert [e["name"] for e in r["events"]] == ["sr", "ss"]
