"""Golden-file parity against the REFERENCE'S OWN logdedup processor
testdata (processor/logdedupprocessor/testdata/{input,expected}):
each processor_test.go scenario's config runs through our
log_dedup_records and the output must equal the committed golden logs
under CompareLogs semantics — order-insensitive, timestamps ignored,
first/last_observed_timestamp attribute VALUES ignored but presence
required (processor_test.go:172, 256-258, 304-306, 383-385).
"""

import json
import os
from datetime import datetime, timezone

import pytest
import yaml

from tests.reference_testdata import needs_testdata

TESTDATA = "/root/reference/processor/logdedupprocessor/testdata"

pytestmark = needs_testdata(TESTDATA)


def _val(v: dict) -> str:
    if "stringValue" in v:
        return v["stringValue"]
    if "intValue" in v:
        return str(int(v["intValue"]))
    if "boolValue" in v:
        return "true" if v["boolValue"] else "false"
    if "doubleValue" in v:
        return str(v["doubleValue"])
    return json.dumps(v, sort_keys=True)


def _attrs(attr_list) -> dict:
    return {kv["key"]: _val(kv.get("value", {})) for kv in attr_list or []}


def _body(b: dict):
    if b is None:
        return None
    if "stringValue" in b:
        return b["stringValue"]
    if "kvlistValue" in b:
        return json.dumps(
            {kv["key"]: _val(kv.get("value", {}))
             for kv in b["kvlistValue"]["values"]}, sort_keys=True)
    return json.dumps(b, sort_keys=True)


def load_records(path):
    with open(path) as f:
        doc = yaml.safe_load(f)
    rows, order = [], 0
    for rl in doc.get("resourceLogs", []):
        res = _attrs(rl.get("resource", {}).get("attributes"))
        for sl in rl.get("scopeLogs", []):
            for lr in sl.get("logRecords", []):
                rows.append({
                    "ord": order,
                    "resource": res,
                    "attributes": _attrs(lr.get("attributes")),
                    "body": _body(lr.get("body")),
                    "severity_text": lr.get("severityText"),
                    "ts": datetime.fromtimestamp(
                        int(lr["timeUnixNano"]) / 1e9, tz=timezone.utc),
                })
                order += 1
    return rows


def canon(res: dict, attrs: dict, body, sev):
    """CompareLogs canonical form: first/last observed values ignored
    (presence still asserted via the sentinel). Sorted tuples, not
    frozensets — str(frozenset) iteration order is not stable."""
    a = dict(attrs)
    for k in ("first_observed_timestamp", "last_observed_timestamp"):
        if k in a:
            a[k] = "<present>"
    return (tuple(sorted(res.items())), tuple(sorted(a.items())), body, sev)


def expected_canon(path):
    return sorted(
        str(canon(r["resource"], r["attributes"], r["body"],
                  r["severity_text"]))
        for r in load_records(path))


def got_canon(df):
    return sorted(
        str(canon(dict(r["resource"] or {}), dict(r["attributes"] or {}),
                  r["body"], r["severity_text"]))
        for r in df.collect())


SCHEMA = ("ord long, resource map<string,string>, "
          "attributes map<string,string>, body string, "
          "severity_text string, ts timestamp")

# processor_test.go scenario matrix; conditions are the OTTL
# expressions translated to Spark SQL over the flat model
CASES = {
    "basic": dict(input="basicLogs", exclude=["attributes.remove_me"],
                  deduped="basicLogs", consumed=None),
    "condition": dict(input="conditionLogs",
                      exclude=["attributes.remove_me"],
                      conditions=["attributes['ID'] = '1'"],
                      deduped="conditionDedupedLogs",
                      consumed="conditionConsumedLogs"),
    "multiple_conditions": dict(input="conditionLogs",
                                exclude=["attributes.remove_me"],
                                conditions=["attributes['ID'] = '1'",
                                            "attributes['ID'] = '3'"],
                                deduped="multipleConditionsDedupedLogs",
                                consumed="multipleConditionsConsumedLogs"),
    "include_attribute": dict(input="includeFieldsLogs",
                              include=["attributes.dedup_key"],
                              deduped="includeFieldsLogs", consumed=None),
    "include_body": dict(input="includeFieldsLogs",
                         include=["body.dedup_key"],
                         deduped="includeFieldsLogs", consumed=None),
    "include_multiple": dict(input="includeFieldsLogs",
                             include=["attributes.dedup_key",
                                      "body.dedup_key"],
                             deduped="includeFieldsLogs", consumed=None),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_logdedup_golden(spark, case):
    from opentelemetry_collector_contrib_spark.operators.aggregate import (
        log_dedup_records)
    cfg = CASES[case]
    rows = load_records(os.path.join(TESTDATA, "input",
                                     cfg["input"] + ".yaml"))
    df = spark.createDataFrame(rows, SCHEMA)
    deduped, passthrough = log_dedup_records(
        df, order_col="ord", ts_col="ts",
        exclude_fields=cfg.get("exclude"),
        include_fields=cfg.get("include"),
        conditions=cfg.get("conditions"))
    assert got_canon(deduped) == expected_canon(
        os.path.join(TESTDATA, "expected", cfg["deduped"] + ".yaml"))
    if cfg["consumed"] is None:
        assert passthrough.count() == 0
    else:
        assert got_canon(passthrough) == expected_canon(
            os.path.join(TESTDATA, "expected", cfg["consumed"] + ".yaml"))
