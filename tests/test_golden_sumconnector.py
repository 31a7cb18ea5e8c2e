"""Golden-file parity against the reference's sumconnector testdata
(connector/sumconnector/testdata/logs): our sum connector must
reproduce the committed golden sums for every TestLogsToMetrics case
(connector_test.go:466-532), including the numeric-string parse of the
``beep`` source attribute (config.go:32-34)."""

import json
import os

import pytest
import yaml
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.aggregate import (
    AttrSpec,
    MetricDef,
    sum_metrics,
)
from opentelemetry_collector_contrib_spark.sources.otlpjson import (
    parse_otlp_json_logs,
)
from tests.reference_testdata import needs_testdata

TESTDATA = "/root/reference/connector/sumconnector/testdata/logs"

pytestmark = needs_testdata(TESTDATA)

BEEP = "attributes.beep"

CASES = {
    "one_attribute": [MetricDef(
        name="log.sum.by_attr", source_attribute=BEEP,
        attributes=[AttrSpec(key="attributes.log.required", out_name="log.required")])],
    "one_condition": [MetricDef(
        name="sum.if", source_attribute=BEEP,
        conditions=["resource['resource.optional'] IS NOT NULL"])],
    "multiple_conditions": [MetricDef(
        name="sum.if", source_attribute=BEEP,
        conditions=["resource['resource.optional'] IS NOT NULL",
                    "attributes['log.optional'] IS NOT NULL"])],
    "multiple_metrics": [
        MetricDef(name="sum.all", source_attribute=BEEP),
        MetricDef(name="sum.if", source_attribute=BEEP,
                  conditions=["resource['resource.optional'] IS NOT NULL"]),
    ],
    "multiple_attributes": [MetricDef(
        name="log.sum.by_attr", source_attribute=BEEP,
        attributes=[AttrSpec(key="attributes.log.required", out_name="log.required"),
                    AttrSpec(key="attributes.log.optional", out_name="log.optional")])],
    "default_attribute_value": [MetricDef(
        name="log.sum.by_attr", source_attribute=BEEP,
        attributes=[AttrSpec(key="attributes.log.required", out_name="log.required"),
                    AttrSpec(key="attributes.log.optional", out_name="log.optional",
                             default_value="other")])],
    "condition_and_attribute": [MetricDef(
        name="log.sum.if.by_attr", source_attribute=BEEP,
        conditions=["resource['resource.optional'] IS NOT NULL"],
        attributes=[AttrSpec(key="attributes.log.required", out_name="log.required")])],
}


@pytest.fixture(scope="module")
def input_logs(spark):
    with open(os.path.join(TESTDATA, "input.yaml")) as f:
        doc = yaml.safe_load(f)
    df = spark.createDataFrame([(json.dumps(doc),)], "body string")
    out = parse_otlp_json_logs(df)
    out.cache().count()
    return out


def _kv_attrs(attr_list):
    out = {}
    for kv in attr_list or []:
        v = kv.get("value", {})
        if "stringValue" in v:
            out[kv["key"]] = v["stringValue"]
        elif "intValue" in v:
            # flat-model attrs are MAP<STRING,STRING>: decimal rendering
            out[kv["key"]] = str(int(v["intValue"]))
        elif "doubleValue" in v:
            out[kv["key"]] = str(v["doubleValue"])
        elif "boolValue" in v:
            out[kv["key"]] = "true" if v["boolValue"] else "false"
        else:
            out[kv["key"]] = str(list(v.values())[0]) if v else ""
    return out


def load_expected(case: str):
    with open(os.path.join(TESTDATA, f"{case}.yaml")) as f:
        doc = yaml.safe_load(f)
    rows = set()
    for rm in doc.get("resourceMetrics", []):
        res = frozenset(_kv_attrs(rm.get("resource", {}).get("attributes")).items())
        for sm in rm.get("scopeMetrics", []):
            for m in sm.get("metrics", []):
                for dp in m.get("sum", {}).get("dataPoints", []):
                    dp_attrs = frozenset(_kv_attrs(dp.get("attributes")).items())
                    val = dp.get("asDouble", dp.get("asInt"))
                    rows.add((res, m["name"], dp_attrs, round(float(val), 6)))
    return rows


@pytest.mark.parametrize("case", sorted(CASES))
def test_logs_to_sums_golden(spark, input_logs, case):
    df = input_logs.withColumn(
        "_res_key", F.to_json(F.sort_array(F.map_entries(F.col("resource")))))
    got = set()
    for mdef in CASES[case]:
        agg = sum_metrics(df, [mdef], resource_keys=["_res_key"],
                          reference_quirks=True)
        attr_cols = [a.col_name for a in mdef.attributes]
        for r in agg.collect():
            res = frozenset((e["key"], e["value"])
                            for e in json.loads(r["_res_key"]))
            dp_attrs = frozenset((c, r[c]) for c in attr_cols if r[c] is not None)
            got.add((res, r["metric_name"], dp_attrs, round(float(r["value"]), 6)))
    expected = load_expected(case)
    assert got == expected, (
        f"{case}: missing={expected - got} extra={got - expected}")


# --- traces + metrics lanes (TestTracesToMetrics connector_test.go:40-,
# TestMetricsToMetrics :289-): span/spanevent and datapoint sums of the
# "beep" source attribute over the committed traces/ metrics/ testdata ---

TRACES_DIR = os.path.join(os.path.dirname(TESTDATA), "traces")
METRICS_DIR = os.path.join(os.path.dirname(TESTDATA), "metrics")
RES_OPT = "resource['resource.optional'] IS NOT NULL"


def _span_defs(scope):  # scope: ("span", "span.") or ("event", "spanevent.")
    a, p = scope
    return {
        "zero_conditions": [MetricDef(
            name=f"trace.span{'.event' if a == 'event' else ''}.sum",
            source_attribute=BEEP)],
        "one_condition": [MetricDef(
            name=f"{p}sum.if", source_attribute=BEEP,
            conditions=[RES_OPT])],
        "multiple_conditions": [MetricDef(
            name=f"{p}sum.if", source_attribute=BEEP,
            conditions=[RES_OPT,
                        f"attributes['{a}.optional'] IS NOT NULL"])],
        "multiple_metrics": [
            MetricDef(name=f"{p}sum.all", source_attribute=BEEP),
            MetricDef(name=f"{p}sum.if", source_attribute=BEEP,
                      conditions=[RES_OPT,
                                  f"attributes['{a}.optional'] IS NOT NULL"]),
        ],
        "one_attribute": [MetricDef(
            name=f"{p}sum.by_attr", source_attribute=BEEP,
            attributes=[AttrSpec(key=f"attributes.{a}.required",
                                 out_name=f"{a}.required")])],
        "multiple_attributes": [MetricDef(
            name=f"{p}sum.by_attr", source_attribute=BEEP,
            attributes=[AttrSpec(key=f"attributes.{a}.required",
                                 out_name=f"{a}.required"),
                        AttrSpec(key=f"attributes.{a}.optional",
                                 out_name=f"{a}.optional")])],
        "condition_and_attribute": [MetricDef(
            name=f"{p}sum.if.by_attr", source_attribute=BEEP,
            conditions=[RES_OPT],
            attributes=[AttrSpec(key=f"attributes.{a}.required",
                                 out_name=f"{a}.required")])],
    }


SPAN_CASES = _span_defs(("span", "span."))
EVENT_CASES = _span_defs(("event", "spanevent."))

DP_CASES = {
    "one_attribute": [MetricDef(
        name="datapoint.sum.by_attr", source_attribute=BEEP,
        attributes=[AttrSpec(key="attributes.datapoint.required",
                             out_name="datapoint.required")])],
    "one_condition": [MetricDef(
        name="datapoint.sum.if", source_attribute=BEEP,
        conditions=[RES_OPT])],
    "multiple_conditions": [MetricDef(
        name="datapoint.sum.if", source_attribute=BEEP,
        conditions=[RES_OPT,
                    "attributes['datapoint.optional'] IS NOT NULL"])],
    "multiple_metrics": [
        MetricDef(name="datapoint.sum.all", source_attribute=BEEP),
        MetricDef(name="datapoint.sum.if", source_attribute=BEEP,
                  conditions=[RES_OPT,
                              "attributes['datapoint.optional'] "
                              "IS NOT NULL"]),
    ],
    "multiple_attributes": [MetricDef(
        name="datapoint.sum.by_attr", source_attribute=BEEP,
        attributes=[AttrSpec(key="attributes.datapoint.required",
                             out_name="datapoint.required"),
                    AttrSpec(key="attributes.datapoint.optional",
                             out_name="datapoint.optional")])],
    "default_attribute_value": [MetricDef(
        name="datapoint.sum.by_attr", source_attribute=BEEP,
        attributes=[AttrSpec(key="attributes.datapoint.required",
                             out_name="datapoint.required"),
                    AttrSpec(key="attributes.datapoint.optional",
                             out_name="datapoint.optional",
                             default_value="other")])],
    "condition_and_attribute": [MetricDef(
        name="datapoint.sum.if.by_attr", source_attribute=BEEP,
        conditions=[RES_OPT],
        attributes=[AttrSpec(key="attributes.datapoint.required",
                             out_name="datapoint.required")])],
}


@pytest.fixture(scope="module")
def trace_frames(spark):
    from opentelemetry_collector_contrib_spark.sources.otlpjson import (
        parse_otlp_json_traces)
    with open(os.path.join(TRACES_DIR, "input.yaml")) as f:
        payload = json.dumps(yaml.safe_load(f))
    spans = parse_otlp_json_traces(
        spark.createDataFrame([(payload,)], "body string"))
    events = spans.select(
        "resource", F.explode("events").alias("_e")
    ).select("resource", F.col("_e.attributes").alias("attributes"))
    spans.cache().count()
    events.cache().count()
    return spans, events


@pytest.fixture(scope="module")
def dp_frame(spark):
    with open(os.path.join(METRICS_DIR, "input.yaml")) as f:
        doc = yaml.safe_load(f)
    rows = []
    for rm in doc.get("resourceMetrics", []):
        res = _kv_attrs(rm.get("resource", {}).get("attributes"))
        for sm in rm.get("scopeMetrics", []):
            for m in sm.get("metrics", []):
                for mtype in ("gauge", "sum", "histogram",
                              "exponentialHistogram", "summary"):
                    for dp in (m.get(mtype) or {}).get("dataPoints", []):
                        rows.append((res, _kv_attrs(dp.get("attributes"))))
    return spark.createDataFrame(
        rows, "resource map<string,string>, attributes map<string,string>")


def _run_sum_defs(df, defs):
    df = df.withColumn(
        "_res_key", F.to_json(F.sort_array(F.map_entries(F.col("resource")))))
    got = set()
    for mdef in defs:
        agg = sum_metrics(df, [mdef], resource_keys=["_res_key"],
                          reference_quirks=True)
        attr_cols = [a.col_name for a in mdef.attributes]
        for r in agg.collect():
            res = frozenset((e["key"], e["value"])
                            for e in json.loads(r["_res_key"]))
            dp_attrs = frozenset((c, r[c]) for c in attr_cols
                                 if r[c] is not None)
            got.add((res, r["metric_name"], dp_attrs,
                     round(float(r["value"]), 6)))
    return got


def _load_expected_dir(d, case):
    with open(os.path.join(d, f"{case}.yaml")) as f:
        doc = yaml.safe_load(f)
    rows = set()
    for rm in doc.get("resourceMetrics", []):
        res = frozenset(
            _kv_attrs(rm.get("resource", {}).get("attributes")).items())
        for sm in rm.get("scopeMetrics", []):
            for m in sm.get("metrics", []):
                for dp in m.get("sum", {}).get("dataPoints", []):
                    dp_attrs = frozenset(
                        _kv_attrs(dp.get("attributes")).items())
                    val = dp.get("asDouble", dp.get("asInt"))
                    rows.add((res, m["name"], dp_attrs,
                              round(float(val), 6)))
    return rows


@pytest.mark.parametrize("case", sorted(SPAN_CASES))
def test_traces_to_sums_golden(spark, trace_frames, case):
    spans, events = trace_frames
    got = (_run_sum_defs(spans, SPAN_CASES[case])
           | _run_sum_defs(events, EVENT_CASES[case]))
    expected = _load_expected_dir(TRACES_DIR, case)
    assert got == expected, (
        f"{case}: missing={expected - got} extra={got - expected}")


@pytest.mark.parametrize("case", sorted(DP_CASES))
def test_metrics_to_sums_golden(spark, dp_frame, case):
    got = _run_sum_defs(dp_frame, DP_CASES[case])
    expected = _load_expected_dir(METRICS_DIR, case)
    assert got == expected, (
        f"{case}: missing={expected - got} extra={got - expected}")
