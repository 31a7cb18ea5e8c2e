"""Golden-file parity against the REFERENCE'S OWN countconnector
testdata (connector/countconnector/testdata/logs/{input,<case>}.yaml):
the input OTLP-logs document runs through our OTLP decode + count
connector with each test case's config
(connector_test.go TestLogsToMetrics), and the output must equal the
reference's committed golden metrics — per-resource groups, data-point
attributes and counts (CompareMetrics semantics: order-insensitive,
timestamps ignored — pkg/pdatatest/plogtest/logs.go:18-38).
"""

import json
import os

import pytest
import yaml
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.aggregate import (
    AttrSpec,
    MetricDef,
    count_metrics,
)
from opentelemetry_collector_contrib_spark.sources.otlpjson import (
    parse_otlp_json_logs,
)
from tests.reference_testdata import needs_testdata

TESTDATA = "/root/reference/connector/countconnector/testdata/logs"

pytestmark = needs_testdata(TESTDATA)

# TestLogsToMetrics config matrix (connector_test.go:609-660)
CASES = {
    "zero_conditions": [MetricDef(name="log.record.count")],
    "one_condition": [MetricDef(
        name="count.if",
        conditions=["resource['resource.optional'] IS NOT NULL"])],
    "multiple_conditions": [MetricDef(
        name="count.if",
        conditions=["resource['resource.optional'] IS NOT NULL",
                    "attributes['log.optional'] IS NOT NULL"])],
    "multiple_metrics": [
        MetricDef(name="count.all"),
        MetricDef(name="count.if",
                  conditions=["resource['resource.optional'] IS NOT NULL"]),
    ],
    "one_attribute": [MetricDef(
        name="log.count.by_attr",
        attributes=[AttrSpec(key="attributes.log.required", out_name="log.required")])],
    "multiple_attributes": [MetricDef(
        name="log.count.by_attr",
        attributes=[AttrSpec(key="attributes.log.required", out_name="log.required"),
                    AttrSpec(key="attributes.log.optional", out_name="log.optional")])],
    "default_attribute_value": [MetricDef(
        name="log.count.by_attr",
        attributes=[AttrSpec(key="attributes.log.required", out_name="log.required"),
                    AttrSpec(key="attributes.log.optional", out_name="log.optional",
                             default_value="other")])],
    "condition_and_attribute": [MetricDef(
        name="log.count.if.by_attr",
        conditions=["resource['resource.optional'] IS NOT NULL"],
        attributes=[AttrSpec(key="attributes.log.required", out_name="log.required")])],
}


@pytest.fixture(scope="module")
def input_logs(spark):
    with open(os.path.join(TESTDATA, "input.yaml")) as f:
        doc = yaml.safe_load(f)
    payload = json.dumps(doc)
    df = spark.createDataFrame([(payload,)], "body string")
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
            # flat-model attributes are MAP<STRING,STRING>: int attrs
            # canonicalize to their decimal rendering on BOTH sides
            out[kv["key"]] = str(int(v["intValue"]))
        elif "doubleValue" in v:
            out[kv["key"]] = str(v["doubleValue"])
        elif "boolValue" in v:
            out[kv["key"]] = "true" if v["boolValue"] else "false"
        else:
            out[kv["key"]] = str(list(v.values())[0]) if v else ""
    return out


def load_expected(case: str):
    """expected yaml -> set of (resource_frozen, metric, dp_attrs_frozen, count)."""
    with open(os.path.join(TESTDATA, f"{case}.yaml")) as f:
        doc = yaml.safe_load(f)
    rows = set()
    for rm in doc.get("resourceMetrics", []):
        res = frozenset(_kv_attrs(rm.get("resource", {}).get("attributes")).items())
        for sm in rm.get("scopeMetrics", []):
            for m in sm.get("metrics", []):
                for dp in m.get("sum", {}).get("dataPoints", []):
                    dp_attrs = frozenset(_kv_attrs(dp.get("attributes")).items())
                    rows.add((res, m["name"], dp_attrs, int(dp["asInt"])))
    return rows


@pytest.mark.parametrize("case", sorted(CASES))
def test_logs_to_metrics_golden(spark, input_logs, case):
    # group per resource identity: canonicalized sorted entries of the
    # resource map (the reference's per-ResourceLogs grouping)
    df = input_logs.withColumn(
        "_res_key", F.to_json(F.sort_array(F.map_entries(F.col("resource")))))
    got_rows = set()
    for mdef in CASES[case]:
        agg = count_metrics(df, [mdef], resource_keys=["_res_key"])
        attr_cols = [a.col_name for a in mdef.attributes]
        for r in agg.collect():
            res_entries = json.loads(r["_res_key"])
            res = frozenset((e["key"], e["value"]) for e in res_entries)
            dp_attrs = frozenset(
                (c, r[c]) for c in attr_cols if r[c] is not None)
            got_rows.add((res, r["metric_name"], dp_attrs, int(r["value"])))
    expected = load_expected(case)
    assert got_rows == expected, (
        f"{case}: missing={expected - got_rows} extra={got_rows - expected}")


# --- traces + metrics lanes (TestTracesToMetrics / TestMetricsToMetrics,
# connector_test.go:41-, :299-): spans/spanevents and metrics/datapoints
# counting over the reference's committed traces/ and metrics/ testdata ---

TRACES_DIR = os.path.join(os.path.dirname(TESTDATA), "traces")
METRICS_DIR = os.path.join(os.path.dirname(TESTDATA), "metrics")

RES_OPT = "resource['resource.optional'] IS NOT NULL"

TRACE_CASES = {
    # case -> (span defs, spanevent defs)
    "zero_conditions": ([MetricDef(name="trace.span.count")],
                        [MetricDef(name="trace.span.event.count")]),
    "one_condition": ([MetricDef(name="span.count.if",
                                 conditions=[RES_OPT])],
                      [MetricDef(name="spanevent.count.if",
                                 conditions=[RES_OPT])]),
    "multiple_conditions": (
        [MetricDef(name="span.count.if",
                   conditions=[RES_OPT,
                               "attributes['span.optional'] IS NOT NULL"])],
        [MetricDef(name="spanevent.count.if",
                   conditions=[RES_OPT,
                               "attributes['event.optional'] IS NOT NULL"])]),
    "multiple_metrics": (
        [MetricDef(name="span.count.all"),
         MetricDef(name="span.count.if",
                   conditions=[RES_OPT,
                               "attributes['span.optional'] IS NOT NULL"])],
        [MetricDef(name="spanevent.count.all"),
         MetricDef(name="spanevent.count.if",
                   conditions=[RES_OPT,
                               "attributes['event.optional'] IS NOT NULL"])]),
    "one_attribute": (
        [MetricDef(name="span.count.by_attr",
                   attributes=[AttrSpec(key="attributes.span.required",
                                        out_name="span.required")])],
        [MetricDef(name="spanevent.count.by_attr",
                   attributes=[AttrSpec(key="attributes.event.required",
                                        out_name="event.required")])]),
    "multiple_attributes": (
        [MetricDef(name="span.count.by_attr",
                   attributes=[AttrSpec(key="attributes.span.required",
                                        out_name="span.required"),
                               AttrSpec(key="attributes.span.optional",
                                        out_name="span.optional")])],
        [MetricDef(name="spanevent.count.by_attr",
                   attributes=[AttrSpec(key="attributes.event.required",
                                        out_name="event.required"),
                               AttrSpec(key="attributes.event.optional",
                                        out_name="event.optional")])]),
    "default_attribute_value": (
        [MetricDef(name="span.count.by_attr",
                   attributes=[AttrSpec(key="attributes.span.required",
                                        out_name="span.required"),
                               AttrSpec(key="attributes.span.optional",
                                        out_name="span.optional",
                                        default_value="other")])],
        [MetricDef(name="spanevent.count.by_attr",
                   attributes=[AttrSpec(key="attributes.event.required",
                                        out_name="event.required"),
                               AttrSpec(key="attributes.event.optional",
                                        out_name="event.optional",
                                        default_value="other")])]),
    "condition_and_attribute": (
        [MetricDef(name="span.count.if.by_attr", conditions=[RES_OPT],
                   attributes=[AttrSpec(key="attributes.span.required",
                                        out_name="span.required")])],
        [MetricDef(name="spanevent.count.if.by_attr", conditions=[RES_OPT],
                   attributes=[AttrSpec(key="attributes.event.required",
                                        out_name="event.required")])]),
}

METRIC_CASES = {
    # case -> (metric-level defs, datapoint-level defs)
    "zero_conditions": ([MetricDef(name="metric.count")],
                        [MetricDef(name="metric.datapoint.count")]),
    "one_condition": ([MetricDef(name="metric.count.if",
                                 conditions=[RES_OPT])],
                      [MetricDef(name="datapoint.count.if",
                                 conditions=[RES_OPT])]),
    "multiple_conditions": (
        [MetricDef(name="metric.count.if",
                   conditions=[RES_OPT, "mtype = 'histogram'"])],
        [MetricDef(name="datapoint.count.if",
                   conditions=[RES_OPT,
                               "attributes['datapoint.optional'] "
                               "IS NOT NULL"])]),
    "multiple_metrics": (
        [MetricDef(name="metric.count.all"),
         MetricDef(name="metric.count.if",
                   conditions=[RES_OPT, "mtype = 'histogram'"])],
        [MetricDef(name="datapoint.count.all"),
         MetricDef(name="datapoint.count.if",
                   conditions=[RES_OPT,
                               "attributes['datapoint.optional'] "
                               "IS NOT NULL"])]),
    "one_attribute": (
        [], [MetricDef(name="datapoint.count.by_attr",
                       attributes=[AttrSpec(
                           key="attributes.datapoint.required",
                           out_name="datapoint.required")])]),
    "multiple_attributes": (
        [], [MetricDef(name="datapoint.count.by_attr",
                       attributes=[AttrSpec(
                           key="attributes.datapoint.required",
                           out_name="datapoint.required"),
                           AttrSpec(key="attributes.datapoint.optional",
                                    out_name="datapoint.optional")])]),
    "default_attribute_value": (
        [], [MetricDef(name="datapoint.count.by_attr",
                       attributes=[AttrSpec(
                           key="attributes.datapoint.required",
                           out_name="datapoint.required"),
                           AttrSpec(key="attributes.datapoint.optional",
                                    out_name="datapoint.optional",
                                    default_value="other")])]),
    "condition_and_attribute": (
        [], [MetricDef(name="datapoint.count.if.by_attr",
                       conditions=[RES_OPT],
                       attributes=[AttrSpec(
                           key="attributes.datapoint.required",
                           out_name="datapoint.required")])]),
    "int_attribute_value": (
        [], [MetricDef(name="datapoint.count.by_attr",
                       attributes=[AttrSpec(key="attributes.datapoint.int",
                                            out_name="datapoint.int")])]),
    "default_int_attribute_value": (
        [], [MetricDef(name="datapoint.count.by_attr",
                       attributes=[AttrSpec(key="attributes.datapoint.int",
                                            out_name="datapoint.int"),
                                   AttrSpec(
                                       key="attributes.datapoint.optional_int",
                                       out_name="datapoint.optional_int",
                                       default_value="10")])]),
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


def _load_metric_frames(spark):
    """metrics/input.yaml -> (metric-level rows, datapoint-level rows);
    a python loader because metric-level counting needs every metric
    type (the OTLP decoder's metrics lane is number-points only)."""
    with open(os.path.join(METRICS_DIR, "input.yaml")) as f:
        doc = yaml.safe_load(f)
    m_rows, dp_rows = [], []
    for rm in doc.get("resourceMetrics", []):
        res = _kv_attrs(rm.get("resource", {}).get("attributes"))
        for sm in rm.get("scopeMetrics", []):
            for m in sm.get("metrics", []):
                for mtype in ("gauge", "sum", "histogram",
                              "exponentialHistogram", "summary"):
                    body = m.get(mtype)
                    if body is None:
                        continue
                    m_rows.append((res, m["name"],
                                   mtype.lower().replace(
                                       "exponentialhistogram",
                                       "exponential_histogram")))
                    for dp in body.get("dataPoints", []):
                        dp_rows.append(
                            (res, _kv_attrs(dp.get("attributes"))))
    mdf = spark.createDataFrame(
        m_rows, "resource map<string,string>, metric string, mtype string")
    dpdf = spark.createDataFrame(
        dp_rows, "resource map<string,string>, "
                 "attributes map<string,string>")
    return mdf, dpdf


def _run_defs(df, defs):
    got_rows = set()
    df = df.withColumn(
        "_res_key", F.to_json(F.sort_array(F.map_entries(F.col("resource")))))
    for mdef in defs:
        agg = count_metrics(df, [mdef], resource_keys=["_res_key"])
        attr_cols = [a.col_name for a in mdef.attributes]
        for r in agg.collect():
            res = frozenset((e["key"], e["value"])
                            for e in json.loads(r["_res_key"]))
            dp_attrs = frozenset(
                (c, r[c]) for c in attr_cols if r[c] is not None)
            got_rows.add((res, r["metric_name"], dp_attrs, int(r["value"])))
    return got_rows


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
                    rows.add((res, m["name"], dp_attrs, int(dp["asInt"])))
    return rows


@pytest.mark.parametrize("case", sorted(TRACE_CASES))
def test_traces_to_metrics_golden(spark, trace_frames, case):
    spans, events = trace_frames
    span_defs, event_defs = TRACE_CASES[case]
    got = _run_defs(spans, span_defs) | _run_defs(events, event_defs)
    expected = _load_expected_dir(TRACES_DIR, case)
    assert got == expected, (
        f"{case}: missing={expected - got} extra={got - expected}")


@pytest.mark.parametrize("case", sorted(METRIC_CASES))
def test_metrics_to_metrics_golden(spark, case):
    mdf, dpdf = _load_metric_frames(spark)
    m_defs, dp_defs = METRIC_CASES[case]
    got = _run_defs(mdf, m_defs) | _run_defs(dpdf, dp_defs)
    expected = _load_expected_dir(METRICS_DIR, case)
    assert got == expected, (
        f"{case}: missing={expected - got} extra={got - expected}")


# --- profiles lane (TestProfilesToMetrics connector_test.go:710-):
# profile counting with attributeIndices resolved through the pprofile
# dictionary.attributeTable ---

PROFILES_DIR = os.path.join(os.path.dirname(TESTDATA), "profiles")

PROFILE_CASES = {
    "zero_conditions": [MetricDef(name="profile.count")],
    "one_condition": [MetricDef(name="count.if", conditions=[RES_OPT])],
    # count-connector conditions are OR'd: the resource condition alone
    # matches every profile here; duration_unix_nano (not the yaml's
    # ignored bare "duration") is 0 in this testdata
    "multiple_conditions": [MetricDef(
        name="count.if",
        conditions=[RES_OPT, "duration_unix_nano > 1000"])],
    "multiple_metrics": [
        MetricDef(name="count.all"),
        MetricDef(name="count.if", conditions=[RES_OPT]),
    ],
    "one_attribute": [MetricDef(
        name="profile.count.by_attr",
        attributes=[AttrSpec(key="attributes.profile.required",
                             out_name="profile.required")])],
    "multiple_attributes": [MetricDef(
        name="profile.count.by_attr",
        attributes=[AttrSpec(key="attributes.profile.required",
                             out_name="profile.required"),
                    AttrSpec(key="attributes.profile.optional",
                             out_name="profile.optional")])],
    "default_attribute_value": [MetricDef(
        name="profile.count.by_attr",
        attributes=[AttrSpec(key="attributes.profile.required",
                             out_name="profile.required"),
                    AttrSpec(key="attributes.profile.optional",
                             out_name="profile.optional",
                             default_value="other")])],
    "condition_and_attribute": [MetricDef(
        name="profile.count.if.by_attr", conditions=[RES_OPT],
        attributes=[AttrSpec(key="attributes.profile.required",
                             out_name="profile.required")])],
}


@pytest.fixture(scope="module")
def profile_frame(spark):
    with open(os.path.join(PROFILES_DIR, "input.yaml")) as f:
        doc = yaml.safe_load(f)
    table = [(e["key"], str(list(e["value"].values())[0]))
             for e in doc.get("dictionary", {}).get("attributeTable", [])]
    rows = []
    for rp in doc.get("resourceProfiles", []):
        res = _kv_attrs(rp.get("resource", {}).get("attributes"))
        for sp in rp["scopeProfiles"]:
            for p in sp.get("profiles", []):
                attrs = dict(table[i] for i in p.get("attributeIndices", []))
                rows.append((res, attrs,
                             int(p.get("durationUnixNano", 0))))
    return spark.createDataFrame(
        rows, "resource map<string,string>, attributes map<string,string>, "
              "duration_unix_nano long")


@pytest.mark.parametrize("case", sorted(PROFILE_CASES))
def test_profiles_to_metrics_golden(spark, profile_frame, case):
    got = _run_defs(profile_frame, PROFILE_CASES[case])
    expected = _load_expected_dir(PROFILES_DIR, case)
    assert got == expected, (
        f"{case}: missing={expected - got} extra={got - expected}")
