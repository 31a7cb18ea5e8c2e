"""Golden-file parity against the REFERENCE'S OWN servicegraph
connector testdata (connector/servicegraphconnector/testdata): each
connector_test.go scenario's config runs through our
service_graph_metrics and the output must equal the committed golden
metrics under CompareMetrics semantics (timestamps ignored,
order-insensitive). The extra-dimensions-queue-db case is skipped
upstream too (connector_test.go TestExtraDimensionsLabels t.Skip).
"""

import os

import pytest
import yaml

from tests.reference_testdata import needs_testdata

TESTDATA = "/root/reference/connector/servicegraphconnector/testdata"

pytestmark = needs_testdata(TESTDATA)

SCHEMA = ("trace_id string, span_id string, parent_span_id string, "
          "service string, kind int, status_code int, "
          "start_ns long, end_ns long, attributes map<string,string>")


def load_spans(path):
    with open(os.path.join(TESTDATA, path)) as f:
        doc = yaml.safe_load(f)
    rows = []
    for rs in doc.get("resourceSpans", []):
        svc = None
        for kv in rs.get("resource", {}).get("attributes", []) or []:
            if kv["key"] == "service.name":
                svc = kv["value"].get("stringValue")
        for ss in rs.get("scopeSpans", []):
            for sp in ss.get("spans", []):
                attrs = {kv["key"]: str(list(kv["value"].values())[0])
                         for kv in sp.get("attributes", []) or []}
                rows.append((
                    sp["traceId"], sp.get("spanId") or "",
                    sp.get("parentSpanId") or "", svc, int(sp["kind"]),
                    int(sp.get("status", {}).get("code", 0)),
                    int(sp["startTimeUnixNano"]), int(sp["endTimeUnixNano"]),
                    attrs))
    return rows


def _val(v: dict) -> str:
    if "stringValue" in v:
        return v["stringValue"]
    if "intValue" in v:
        return str(int(v["intValue"]))
    if "boolValue" in v:
        return "true" if v["boolValue"] else "false"
    return str(v)


def load_expected(path):
    """-> set of canonical datapoint strings."""
    with open(os.path.join(TESTDATA, path)) as f:
        doc = yaml.safe_load(f)
    out = set()
    for rm in doc.get("resourceMetrics", []):
        for sm in rm.get("scopeMetrics", []):
            for m in sm.get("metrics", []):
                name = m["name"]
                for dp in m.get("sum", {}).get("dataPoints", []):
                    attrs = frozenset(
                        (kv["key"], _val(kv["value"]))
                        for kv in dp.get("attributes", []))
                    out.add(str((name, sorted(attrs), int(dp["asInt"]))))
                for dp in m.get("histogram", {}).get("dataPoints", []):
                    attrs = frozenset(
                        (kv["key"], _val(kv["value"]))
                        for kv in dp.get("attributes", []))
                    out.add(str((
                        name, sorted(attrs), int(dp["count"]),
                        round(float(dp.get("sum", 0)), 6),
                        tuple(int(c) for c in dp["bucketCounts"]),
                        tuple(float(b) for b in dp["explicitBounds"]))))
    return out


def got_canon(df):
    out = set()
    for r in df.collect():
        attrs = frozenset((k, v) for k, v in dict(r["attrs"]).items())
        out.add(str(("traces_service_graph_request_total",
                     sorted(attrs), int(r["total"]))))
        if ("failed", "true") in attrs:
            out.add(str(("traces_service_graph_request_failed_total",
                         sorted(attrs), int(r["total"]))))
        for metric, h in (("traces_service_graph_request_server",
                           r["server_hist"]),
                          ("traces_service_graph_request_client",
                           r["client_hist"])):
            out.add(str((metric, sorted(attrs), int(h["count"]),
                         round(float(h["sum"]), 6),
                         tuple(int(c) for c in h["buckets"]),
                         tuple(float(b) for b in r["bounds"]))))
    return out


CASES = {
    "failed_label": dict(
        trace="failed-label-not-work-simple-trace.yaml",
        expected="failed-label-not-work-expect-metrics.yaml",
        cfg={}),
    "virtual_server": dict(
        trace="virtual-node-label-server-trace.yaml",
        expected="virtual-node-label-server-expected-metrics.yaml",
        cfg=dict(latency_bounds=(0.1, 1, 10),
                 dimensions=("peer.service", "db.system",
                             "messaging.system"),
                 virtual_node_peer_attributes=("peer.service", "db.system",
                                               "messaging.system"),
                 virtual_node_extra_label=True)),
    "virtual_client": dict(
        trace="virtual-node-label-client-trace.yaml",
        expected="virtual-node-label-client-expected-metrics.yaml",
        cfg=dict(latency_bounds=(0.1, 1, 10),
                 dimensions=("peer.service", "db.system",
                             "messaging.system"),
                 virtual_node_peer_attributes=("peer.service", "db.system",
                                               "messaging.system"),
                 virtual_node_extra_label=True)),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_servicegraph_golden(spark, case):
    from opentelemetry_collector_contrib_spark.operators.enrich import (
        service_graph_metrics)
    cfg = CASES[case]
    df = spark.createDataFrame(load_spans(cfg["trace"]), SCHEMA)
    got = got_canon(service_graph_metrics(df, **cfg["cfg"]))
    want = load_expected(cfg["expected"])
    assert got == want, (
        f"{case}: missing={sorted(want - got)} extra={sorted(got - want)}")
