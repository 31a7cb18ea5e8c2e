"""Golden-file parity against the REFERENCE'S OWN signaltometrics
connector testdata (connector/signaltometricsconnector/testdata/
{logs,traces}/<case>/{config,output}.yaml over the shared
logs.yaml/traces.yaml inputs): every definition type — int/double
sums, last-wins gauges, explicit histograms (SearchFloat64s buckets,
sum += value*count, Int(AdjustedCount()) counts), exponential
histograms (go-expohisto scale/offset/dense counts) — plus attribute
requirements (required/optional), include_resource_attributes
resource identity, OR'd OTTL conditions, and OTTL value expressions
(ExtractGrokPatterns with type modifiers, Int(), Seconds/Milliseconds
of end_time - start_time, AdjustedCount from tracestate)."""

import json
import os

import pytest
import yaml

from tests.reference_testdata import needs_testdata

TESTDATA = "/root/reference/connector/signaltometricsconnector/testdata"

pytestmark = needs_testdata(TESTDATA)

# the test harness's connector identity (visible in every output.yaml)
IDENTITY = {
    "signaltometrics.service.instance.id":
        "627cc493-f310-47de-96bd-71410b7dec09",
    "signaltometrics.service.name": "signaltometrics",
    "signaltometrics.service.namespace": "test",
}

LOG_SCHEMA = ("resource map<string,string>, attributes map<string,string>, "
              "body string, severity_number long, ord long")
SPAN_SCHEMA = ("resource map<string,string>, attributes map<string,string>, "
               "name string, trace_state string, start_ns long, end_ns long, "
               "ord long")


def _attrs(attr_list):
    out = {}
    for kv in attr_list or []:
        v = kv["value"]
        if "stringValue" in v:
            out[kv["key"]] = v["stringValue"]
        elif "intValue" in v:
            out[kv["key"]] = str(int(v["intValue"]))
        elif "doubleValue" in v:
            out[kv["key"]] = repr(float(v["doubleValue"]))
        elif "boolValue" in v:
            out[kv["key"]] = "true" if v["boolValue"] else "false"
        else:
            out[kv["key"]] = str(list(v.values())[0])
    return out


def load_logs(spark):
    with open(os.path.join(TESTDATA, "logs", "logs.yaml")) as f:
        doc = yaml.safe_load(f)
    rows, i = [], 0
    for rl in doc["resourceLogs"]:
        res = _attrs(rl.get("resource", {}).get("attributes"))
        for sl in rl["scopeLogs"]:
            for lr in sl["logRecords"]:
                rows.append((res, _attrs(lr.get("attributes")),
                             lr.get("body", {}).get("stringValue", ""),
                             int(lr.get("severityNumber", 0)), i))
                i += 1
    return spark.createDataFrame(rows, LOG_SCHEMA)


def load_spans(spark):
    from pyspark.sql import functions as F
    with open(os.path.join(TESTDATA, "traces", "traces.yaml")) as f:
        doc = yaml.safe_load(f)
    rows, i = [], 0
    for rs in doc["resourceSpans"]:
        res = _attrs(rs.get("resource", {}).get("attributes"))
        for ss in rs["scopeSpans"]:
            for sp in ss.get("spans", []):
                rows.append((res, _attrs(sp.get("attributes")),
                             sp.get("name", ""),
                             sp.get("traceState", ""),
                             int(sp.get("startTimeUnixNano", 0)),
                             int(sp.get("endTimeUnixNano", 0)), i))
                i += 1
    df = spark.createDataFrame(rows, SPAN_SCHEMA)
    return (df.withColumn(
                "start_time",
                F.timestamp_micros((F.col("start_ns") / 1000).cast("long")))
            .withColumn(
                "end_time",
                F.timestamp_micros((F.col("end_ns") / 1000).cast("long"))))


PROFILE_SCHEMA = ("resource map<string,string>, "
                  "attributes map<string,string>, "
                  "duration_unix_nano long, ord long")


def load_profiles(spark):
    """resourceProfiles with the pprofile dictionary: attributeIndices
    resolve through the top-level dictionary.attributeTable."""
    with open(os.path.join(TESTDATA, "profiles", "profiles.yaml")) as f:
        doc = yaml.safe_load(f)
    table = [(e["key"], str(list(e["value"].values())[0]))
             for e in doc.get("dictionary", {}).get("attributeTable", [])]
    rows, i = [], 0
    for rp in doc["resourceProfiles"]:
        res = _attrs(rp.get("resource", {}).get("attributes"))
        for sp in rp["scopeProfiles"]:
            for p in sp.get("profiles", []):
                attrs = dict(table[j] for j in p.get("attributeIndices", []))
                # the yaml's bare "duration" key is NOT the pdata field
                # (golden.ReadProfiles ignores it); duration_unix_nano
                # is durationUnixNano, absent in this testdata -> 0
                rows.append((res, attrs,
                             int(p.get("durationUnixNano", 0)), i))
                i += 1
    return spark.createDataFrame(rows, PROFILE_SCHEMA)


def _num(v):
    # 4-decimal canon: Spark timestamps are MICROsecond precision, so
    # Seconds(end_time - start_time) sums differ from the golden's
    # exact-nanosecond doubles below 1e-5 (e.g. 17.002000936 vs
    # 17.002001047); everything non-temporal is exact at this scale
    f = float(v)
    return int(f) if f == int(f) else round(f, 4)


def load_expected(signal, case):
    """output.yaml -> set of canonical datapoint strings."""
    with open(os.path.join(TESTDATA, signal, case, "output.yaml")) as f:
        doc = yaml.safe_load(f)
    out = []
    for rm in doc.get("resourceMetrics", []):
        res = _attrs(rm.get("resource", {}).get("attributes"))
        for sm in rm.get("scopeMetrics", []):
            for m in sm.get("metrics", []):
                name, desc = m["name"], m.get("description", "")
                unit = m.get("unit", "")
                for mtype in ("sum", "gauge"):
                    body = m.get(mtype)
                    if not body:
                        continue
                    for dp in body.get("dataPoints", []):
                        a = _attrs(dp.get("attributes"))
                        if "asInt" in dp:
                            val = ("int", int(dp["asInt"]))
                        else:
                            val = ("double", _num(dp["asDouble"]))
                        out.append(str((name, desc, unit, mtype,
                                        tuple(sorted(res.items())),
                                        tuple(sorted(a.items())), val)))
                if m.get("histogram"):
                    for dp in m["histogram"]["dataPoints"]:
                        a = _attrs(dp.get("attributes"))
                        out.append(str((
                            name, desc, unit, "histogram",
                            tuple(sorted(res.items())),
                            tuple(sorted(a.items())),
                            int(dp["count"]), _num(dp.get("sum", 0)),
                            tuple(_num(b) for b in dp["explicitBounds"]),
                            tuple(int(c) for c in dp["bucketCounts"]))))
                if m.get("exponentialHistogram"):
                    for dp in m["exponentialHistogram"]["dataPoints"]:
                        a = _attrs(dp.get("attributes"))
                        pos = dp.get("positive", {})
                        out.append(str((
                            name, desc, unit, "exponential_histogram",
                            tuple(sorted(res.items())),
                            tuple(sorted(a.items())),
                            int(dp["count"]), _num(dp.get("sum", 0)),
                            int(dp.get("scale", 0)),
                            int(dp.get("zeroCount", 0)),
                            int(pos.get("offset", 0)),
                            tuple(int(c) for c in
                                  pos.get("bucketCounts", [])),
                            _num(dp.get("min", 0)), _num(dp.get("max", 0)))))
    return sorted(out)


def canon_got(rows):
    out = []
    for r in rows:
        res = tuple(sorted((r["resource"] or {}).items()))
        a = tuple(sorted((r["attrs"] or {}).items()))
        head = (r["name"], r["description"], r["unit"])
        if r["mtype"] in ("sum", "gauge"):
            val = (("int", int(r["value_int"])) if r["is_int"]
                   else ("double", _num(r["value_double"])))
            out.append(str((*head, r["mtype"], res, a, val)))
        elif r["mtype"] == "histogram":
            out.append(str((
                *head, "histogram", res, a, int(r["count"]),
                _num(r["total"]), tuple(_num(b) for b in r["bounds"]),
                tuple(int(c) for c in r["bucket_counts"]))))
        else:
            out.append(str((
                *head, "exponential_histogram", res, a, int(r["count"]),
                _num(r["total"]), int(r["scale"]), int(r["zero_count"]),
                int(r["pos_offset"] or 0),
                tuple(int(c) for c in r["pos_counts"]),
                _num(r["v_min"]), _num(r["v_max"]))))
    return sorted(out)


def load_defs(signal, case):
    with open(os.path.join(TESTDATA, signal, case, "config.yaml")) as f:
        cfg = yaml.safe_load(f)["signaltometrics"]
    key = {"logs": "logs", "traces": "spans", "profiles": "profiles"}[signal]
    return cfg[key]


CASES = [(s, c) for s in ("logs", "traces")
         for c in ("sum", "gauge", "histograms", "exponential_histograms",
                   "metric_identity")] + \
    [("profiles", c) for c in ("sum", "histograms",
                               "exponential_histograms")]


@pytest.mark.parametrize("signal,case", CASES,
                         ids=[f"{s}-{c}" for s, c in CASES])
def test_signaltometrics_golden(spark, signal, case):
    from opentelemetry_collector_contrib_spark.operators.signaltometrics import (
        signal_to_metrics_config)
    df = {"logs": load_logs, "traces": load_spans,
          "profiles": load_profiles}[signal](spark)
    got = signal_to_metrics_config(
        df, load_defs(signal, case), identity_attrs=IDENTITY,
        order_col="ord").collect()
    want = load_expected(signal, case)
    got_c = canon_got(got)
    assert got_c == want, (
        "\nmissing: " + json.dumps([x for x in want if x not in got_c],
                                   indent=1)
        + "\nextra: " + json.dumps([x for x in got_c if x not in want],
                                   indent=1))
