"""Golden-file parity for the otlpjson connector's metric and trace
lanes (connector/otlpjsonconnector/testdata/logsToMetrics,
logsToTraces): embedded OTLP-JSON payloads decode to exactly the
committed golden signals; a trace payload with non-hex ids fails
strict unmarshal and drops whole. The invalid-METRIC golden is
intentionally not ported: it canonizes a Go jsoniter artifact
(leading digits parsed out of "notAndInt123") that the decoder
replaces with a principled NULL (documented in sources/otlpjson.py).
"""

import os

import yaml

from tests.reference_testdata import needs_testdata

TESTDATA = "/root/reference/connector/otlpjsonconnector/testdata"

pytestmark = needs_testdata(TESTDATA)


def _attrs(attr_list):
    return {kv["key"]: str(list(kv["value"].values())[0])
            for kv in attr_list or []}


def bodies(spark, path):
    with open(os.path.join(TESTDATA, path)) as f:
        doc = yaml.safe_load(f)
    rows = [(lr["body"]["stringValue"],)
            for rl in doc["resourceLogs"]
            for sl in rl["scopeLogs"]
            for lr in sl["logRecords"]]
    return spark.createDataFrame(rows, "body string")


def test_logs_to_metrics_golden(spark):
    from opentelemetry_collector_contrib_spark.sources.otlpjson import (
        parse_otlp_json_metrics)
    got = sorted(
        str((tuple(sorted(dict(r["resource"]).items())), r["metric"],
             r["unit"], r["mtype"],
             tuple(sorted(dict(r["attributes"]).items())),
             r["value_int"], r["value_double"]))
        for r in parse_otlp_json_metrics(
            bodies(spark, "logsToMetrics/input-metric.yaml")).collect())
    with open(os.path.join(TESTDATA,
                           "logsToMetrics/output-metric.yaml")) as f:
        doc = yaml.safe_load(f)
    want = []
    for rm in doc["resourceMetrics"]:
        res = _attrs(rm["resource"]["attributes"])
        for sm in rm["scopeMetrics"]:
            for m in sm["metrics"]:
                for kind in ("gauge", "sum"):
                    for dp in m.get(kind, {}).get("dataPoints", []):
                        want.append(str((
                            tuple(sorted(res.items())), m["name"],
                            m.get("unit", ""), kind,
                            tuple(sorted(_attrs(dp.get("attributes")).items())),
                            int(dp["asInt"]) if "asInt" in dp else None,
                            dp.get("asDouble"))))
    assert got == sorted(want)


def span_canon_expected(path):
    with open(os.path.join(TESTDATA, path)) as f:
        doc = yaml.safe_load(f)
    out = []
    for rs in doc.get("resourceSpans", []):
        res = _attrs(rs["resource"]["attributes"])
        for ss in rs["scopeSpans"]:
            for sp in ss["spans"]:
                events = tuple(
                    (int(e["timeUnixNano"]), e["name"],
                     tuple(sorted(_attrs(e.get("attributes")).items())),
                     e.get("droppedAttributesCount", 0))
                    for e in sp.get("events", []))
                out.append(str((
                    tuple(sorted(res.items())), sp["traceId"], sp["spanId"],
                    sp.get("parentSpanId", ""), sp.get("traceState", ""),
                    sp["name"], sp.get("kind", 0),
                    int(sp["startTimeUnixNano"]), int(sp["endTimeUnixNano"]),
                    tuple(sorted(_attrs(sp.get("attributes")).items())),
                    sp.get("droppedAttributesCount", 0), events,
                    sp.get("droppedEventsCount", 0),
                    sp.get("status", {}).get("message", ""),
                    sp.get("status", {}).get("code", 0))))
    return sorted(out)


def span_canon_got(df):
    out = []
    for r in df.collect():
        events = tuple(
            (e["ts_ns"], e["name"],
             tuple(sorted(dict(e["attributes"]).items())),
             e["dropped_attributes_count"])
            for e in r["events"])
        out.append(str((
            tuple(sorted(dict(r["resource"]).items())),
            (r["trace_id"] or b"").hex(), (r["span_id"] or b"").hex(),
            (r["parent_span_id"] or b"").hex(), r["trace_state"] or "",
            r["name"], r["kind"], r["start_ns"], r["end_ns"],
            tuple(sorted(dict(r["attributes"]).items())),
            r["dropped_attributes_count"], events,
            r["dropped_events_count"], r["status_message"] or "",
            r["status_code"])))
    return sorted(out)


def test_logs_to_traces_golden(spark):
    from opentelemetry_collector_contrib_spark.sources.otlpjson import (
        parse_otlp_json_traces)
    got = span_canon_got(parse_otlp_json_traces(
        bodies(spark, "logsToTraces/input-trace.yaml"), strict=True))
    assert got == span_canon_expected("logsToTraces/output-trace.yaml")


def test_invalid_trace_payload_dropped(spark):
    from opentelemetry_collector_contrib_spark.sources.otlpjson import (
        parse_otlp_json_traces)
    df = parse_otlp_json_traces(
        bodies(spark, "logsToTraces/input-invalid-trace.yaml"), strict=True)
    assert df.count() == 0
