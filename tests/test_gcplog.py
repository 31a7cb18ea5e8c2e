"""GCP Cloud Logging LogEntry decode — the golden input is a
hand-written LogEntry in the documented JSON format
(tests/fixtures/gcplog/log_entry.json), standing in for the
googlecloudlogentryencodingextension's testdata/log_entry.json."""

import json
import os

TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures", "gcplog")


def _decode(spark, docs):
    from opentelemetry_collector_contrib_spark.sources.gcplog import (
        parse_gcp_log_entries)
    df = spark.createDataFrame(
        [(json.dumps(d) if not isinstance(d, str) else d,)
         for d in docs], "body string")
    return parse_gcp_log_entries(df).collect()


def test_golden_log_entry(spark):
    with open(f"{TESTDATA}/log_entry.json") as f:
        body = f.read()
    [r] = _decode(spark, [body])
    assert r["valid"]
    res = dict(r["resource"])
    assert res["gcp.project"] == "open-telemetry"
    assert res["cloud.resource_id"] == "log-test"
    assert res["gcp.resource_type"] == "test"
    assert res["gcp.label.owner"] == "test"
    assert r["trace_id"] == "6a4ff0a7376921a0eb18291d8618302c"
    assert r["span_id"] == "2d84b769bfe8de6d"
    assert r["sampled"] is False
    assert r["severity_text"] == "DEFAULT"
    assert r["severity_number"] == 0
    a = dict(r["attributes"])
    assert a["log.record.uid"] == "test"
    assert a["gcp.label.project"] == "open telemetry"
    assert a["http.request.method"] == "GET"
    assert a["url.full"] == "https://example.com/api/v1/users?limit=10"
    assert a["url.path"] == "/api/v1/users"
    assert a["url.query"] == "limit=10"
    assert a["url.domain"] == "example.com"
    assert a["http.request.size"] == "1452"
    assert a["http.response.size"] == "8921"
    assert a["http.response.status_code"] == "200"
    assert a["client.address"] == "203.0.113.42"
    assert a["server.address"] == "10.0.0.1"
    assert a["http.request.header.referer"] \
        == "https://example.com/dashboard"
    assert a["http.request.server.duration"] == "0.45"
    assert a["gcp.cache.lookup"] == "true"
    assert a["gcp.cache.hit"] == "false"
    assert a["gcp.cache.validated_with_origin_server"] == "true"
    assert a["gcp.cache.fill_bytes"] == "8921"
    assert a["network.protocol.name"] == "http"
    assert a["network.protocol.version"] == "1.1"
    assert a["gcp.operation.id"] == "operation-test"
    assert a["gcp.operation.producer"] == "producer-test"
    assert a["gcp.operation.first"] == "false"
    assert a["gcp.operation.last"] == "false"


def test_severity_and_logname_routing(spark):
    rows = _decode(spark, [
        {"timestamp": "2024-01-01T00:00:00Z", "severity": "WARNING",
         "logName": "organizations/42/logs/audit"},
        {"timestamp": "2024-01-01T00:00:00Z", "severity": "EMERGENCY",
         "logName": "folders/7/logs/flow"},
        {"timestamp": "2024-01-01T00:00:00Z", "severity": "WEIRD",
         "logName": "billingAccounts/b1/logs/bill"},
    ])
    r0, r1, r2 = rows
    assert (r0["severity_number"], dict(r0["resource"])) == (
        13, {"gcp.organization": "42", "cloud.resource_id": "audit"})
    assert (r1["severity_number"],
            dict(r1["resource"])["gcp.folder"]) == (24, "7")
    assert r2["severity_number"] == 0   # unknown severity -> 0
    assert dict(r2["resource"])["gcp.billing_account"] == "b1"


def test_payload_precedence_and_labels(spark):
    rows = _decode(spark, [
        {"timestamp": "2024-01-01T00:00:00Z", "textPayload": "hello"},
        {"timestamp": "2024-01-01T00:00:00Z",
         "jsonPayload": {"a": {"b": 1}},
         "labels": {"myCamelKey": "v", "dotted.key": "w"}},
    ])
    assert rows[0]["body"] == "hello"
    assert json.loads(rows[1]["body"]) == {"a": {"b": 1}}
    a = dict(rows[1]["attributes"])
    assert a["gcp.label.my_camel_key"] == "v"
    assert a["gcp.label.dotted.key"] == "w"   # dots preserved


def test_quarantine_rules(spark):
    rows = _decode(spark, [
        {"severity": "INFO"},                             # no timestamp
        {"timestamp": "2024-01-01T00:00:00Z",
         "logName": "bogus/name"},                        # bad logName
        {"timestamp": "2024-01-01T00:00:00Z",
         "trace": "projects/p/traces/xyz"},               # bad trace hex
        {"timestamp": "2024-01-01T00:00:00Z",
         "spanId": "123"},                                # short span
        {"timestamp": "2024-01-01T00:00:00Z",
         "httpRequest": {"latency": "fast"}},             # bad latency
        {"timestamp": "2024-01-01T00:00:00Z",
         "httpRequest": {"protocol": "HTTP"}},            # bad protocol
        {"timestamp": "2024-01-01T00:00:00Z"},            # ok
    ])
    assert [r["valid"] for r in rows] == [False] * 6 + [True]


def test_no_shuffle_no_udf(spark):
    from opentelemetry_collector_contrib_spark.sources.gcplog import (
        parse_gcp_log_entries)
    df = spark.createDataFrame([("{}",)], "body string")
    plan = parse_gcp_log_entries(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
