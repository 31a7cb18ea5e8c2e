"""Golden-file parity against the REFERENCE'S OWN metricsgeneration
processor testdata (processor/metricsgenerationprocessor/testdata/
<dir>/{config,metrics_input,<case>_expected}.yaml): all 21
TestGoldenFileMetrics cases run through our
metrics_generation_calculate — both the matchAttributes feature-gate
path (datapoint pairing on agreeing overlapping attributes, attribute
merge) and the legacy scalar path (metric2's first datapoint value) —
and input+generated rows must equal the committed goldens.
"""

import json
import os

import pytest
import yaml

from tests.reference_testdata import needs_testdata

TESTDATA = "/root/reference/processor/metricsgenerationprocessor/testdata"

SCHEMA = ("resource string, scope string, metric string, mtype string, "
          "temporality string, monotonic boolean, unit string, "
          "attrs map<string,string>, start_ts long, ts long, ord long, "
          "value double, vtype string")

_TEMPO = {1: "delta", 2: "cumulative"}


def _attrs(attr_list):
    return {kv["key"]: str(list(kv["value"].values())[0])
            for kv in attr_list or []}


def load_rows(path):
    with open(path) as f:
        doc = yaml.safe_load(f) or {}
    rows, order = [], 0
    for rm in doc.get("resourceMetrics", []):
        res = json.dumps(_attrs(rm.get("resource", {}).get("attributes")),
                         sort_keys=True)
        for sm in rm.get("scopeMetrics", []):
            scope = json.dumps(sm.get("scope", {}), sort_keys=True)
            for m in sm.get("metrics", []):
                for mtype in ("sum", "gauge"):
                    body = m.get(mtype)
                    if body is None:
                        continue
                    # pdata gauges carry no temporality/monotonicity —
                    # golden.ReadMetrics drops stray yaml fields there
                    tempo = ("none" if mtype == "gauge" else
                             _TEMPO.get(body.get("aggregationTemporality"),
                                        "none"))
                    mono = (False if mtype == "gauge" else
                            bool(body.get("isMonotonic", False)))
                    for dp in body.get("dataPoints", []):
                        if "asDouble" in dp:
                            vtype, val = "double", float(dp["asDouble"])
                        else:
                            vtype, val = "int", float(int(dp["asInt"]))
                        rows.append((
                            res, scope, m["name"], mtype, tempo, mono,
                            m.get("unit", ""), _attrs(dp.get("attributes")),
                            int(dp.get("startTimeUnixNano", 0)),
                            int(dp.get("timeUnixNano", 0)), order, val,
                            vtype))
                        order += 1
    return rows


def canon(rows):
    # the reference compares with IgnoreStartTimestamp+IgnoreTimestamp
    # (processor_test.go:554-557) — timestamps excluded here too
    return sorted(str((r[0], r[1], r[2], r[3], r[4], r[5], r[6],
                       tuple(sorted(dict(r[7]).items())),
                       r[12], round(r[11], 9)))
                  for r in rows)


def load_cfg(d):
    with open(os.path.join(TESTDATA, d, "config.yaml")) as f:
        return yaml.safe_load(f)


CASES = [
    ("input_metric_types", "sum_gauge_metric", False),
    ("input_metric_types", "sum_gauge_metric_match_attrs", True),
    *[("result_metric_types", f"{op}_{a}_{b}", True)
      for op in ("add", "multiply", "divide", "subtract", "percent")
      for a, b in (("gauge", "sum"), ("sum", "gauge"))],
    ("result_metric_types", "add_sum_sum", True),
    ("result_metric_types", "add_gauge_gauge", True),
    *[("metric2_zero_value", f"metric2_zero_{op}", True)
      for op in ("add", "subtract", "multiply", "divide", "percent")],
    ("match_attributes", "match_attributes_disabled", False),
    ("match_attributes", "match_attributes_enabled", True),
]


@needs_testdata(TESTDATA)
@pytest.mark.parametrize("d,case,match", CASES)
def test_metricsgeneration_golden(spark, d, case, match):
    from opentelemetry_collector_contrib_spark.operators.metrics_state import (
        metrics_generation_calculate)
    cfg = load_cfg(d)[f"metricsgeneration/{case}"]
    if not os.path.exists(os.path.join(TESTDATA, d,
                                       f"{case}_expected.yaml")):
        pytest.skip("no expected golden for this case")
    input_rows = load_rows(os.path.join(TESTDATA, d, "metrics_input.yaml"))
    df = spark.createDataFrame(input_rows, SCHEMA)
    gen = metrics_generation_calculate(df, cfg["rules"],
                                       match_attributes=match)
    got_rows = [tuple(r) + ("double",)
                for r in gen.select(
                    "resource", "scope", "metric", "mtype", "temporality",
                    "monotonic", "unit", "attrs", "start_ts", "ts", "ord",
                    "value").collect()]
    got = canon(input_rows) + canon(got_rows)
    want = canon(load_rows(os.path.join(TESTDATA, d,
                                        f"{case}_expected.yaml")))
    assert sorted(got) == want, (
        f"{case}: missing={[x for x in want if x not in got]} "
        f"extra={[x for x in got if x not in want]}")


def test_metric2_found_across_scopes(spark):
    """ADVICE r3: the reference's getMetric walk spans every scope in
    the same ResourceMetrics (utils.go generateCalculatedMetrics), so a
    metric2 living in a DIFFERENT scope than metric1 must still match;
    the generated row keeps metric1's scope."""
    from opentelemetry_collector_contrib_spark.operators.metrics_state import (
        metrics_generation_calculate)
    rows = [
        ("resA", "scope1", "capacity", "gauge", "none", False, "", {}, 0, 1,
         0, 10.0, "double"),
        ("resA", "scope2", "usage", "gauge", "none", False, "", {}, 0, 1,
         1, 4.0, "double"),
        # different resource: must NOT match
        ("resB", "scope2", "usage", "gauge", "none", False, "", {}, 0, 1,
         2, 99.0, "double"),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    gen = metrics_generation_calculate(
        df, [{"name": "util", "operation": "percent",
              "metric1": "capacity", "metric2": "usage"}],
        match_attributes=True).collect()
    assert [(r["resource"], r["scope"], r["value"]) for r in gen] == [
        ("resA", "scope1", 250.0)]
