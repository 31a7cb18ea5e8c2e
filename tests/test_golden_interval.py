"""Golden-file parity against the REFERENCE'S OWN interval processor
testdata (processor/intervalprocessor/testdata/<case>/{input,next,
output}.yaml): the TestAggregation matrix runs through our
interval_process and both streams — the immediate passthrough
("next") and the interval flush ("output") — must equal the committed
goldens EXACTLY (the reference compares with no ignore flags:
timestamps included).
"""

import json
import os

import pytest
import yaml

from tests.reference_testdata import needs_testdata

TESTDATA = "/root/reference/processor/intervalprocessor/testdata"

pytestmark = needs_testdata(TESTDATA)

SCHEMA = ("resource string, scope string, metric string, mtype string, "
          "temporality string, monotonic boolean, "
          "attrs map<string,string>, ts long, ord long, value string")

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
                for mtype in ("sum", "gauge", "histogram",
                              "exponentialHistogram", "summary"):
                    body = m.get(mtype)
                    if body is None:
                        continue
                    tempo = _TEMPO.get(body.get("aggregationTemporality"),
                                       "none")
                    mono = bool(body.get("isMonotonic", False))
                    for dp in body.get("dataPoints", []):
                        payload = {k: v for k, v in dp.items()
                                   if k not in ("attributes", "timeUnixNano")}
                        rows.append((
                            res, scope, m["name"], mtype.lower(), tempo,
                            mono, _attrs(dp.get("attributes")),
                            int(dp.get("timeUnixNano", 0)), order,
                            json.dumps(payload, sort_keys=True)))
                        order += 1
    return rows


def canon(rows):
    """(series..., ts, payload) multiset — exact compare incl. ts."""
    return sorted(str((r[0], r[1], r[2], r[3], r[4], r[5],
                       tuple(sorted(dict(r[6]).items())), r[7], r[9]))
                  for r in rows)


def canon_df(df):
    return canon([tuple(r) for r in
                  df.select("resource", "scope", "metric", "mtype",
                            "temporality", "monotonic", "attrs", "ts",
                            F_lit0(), "value").collect()])


def F_lit0():
    from pyspark.sql import functions as F
    return F.lit(0)


CASES = [
    ("basic_aggregation", False),
    ("histograms_are_aggregated", False),
    ("exp_histograms_are_aggregated", False),
    ("gauges_are_aggregated", False),
    ("summaries_are_aggregated", False),
    ("all_delta_metrics_are_passed_through", False),
    ("non_monotonic_sums_are_passed_through", False),
    ("gauges_are_passed_through", True),
    ("summaries_are_passed_through", True),
]


@pytest.mark.parametrize("case,passthrough", CASES)
def test_interval_golden(spark, case, passthrough):
    from opentelemetry_collector_contrib_spark.operators.metrics_state import (
        interval_process)
    d = os.path.join(TESTDATA, case)
    df = spark.createDataFrame(load_rows(os.path.join(d, "input.yaml")),
                               SCHEMA)
    nxt, flush = interval_process(df, pass_through_gauge=passthrough,
                                  pass_through_summary=passthrough)
    assert canon_df(nxt) == canon(load_rows(os.path.join(d, "next.yaml")))
    assert canon_df(flush) == canon(load_rows(os.path.join(d, "output.yaml")))
