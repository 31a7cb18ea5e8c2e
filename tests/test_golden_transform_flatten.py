"""Golden-file parity against the REFERENCE'S OWN transformprocessor
flatten testdata (processor/transformprocessor/testdata/logs): the
same two OTTL statements run through our DSL compiler; with
flatten_data the flat engine's native per-record resources match the
golden directly, and without it share_resource_mutations restores the
shared-resource last-write-wins semantics (processor_test.go
TestProcessLogsWithoutFlatten / WithFlatten).
"""

import os

import yaml

from tests.reference_testdata import needs_testdata

TESTDATA = "/root/reference/processor/transformprocessor/testdata/logs"

pytestmark = needs_testdata(TESTDATA)

STATEMENTS = [
    'set(resource.attributes["host.name"], attributes["host.name"])',
    'delete_key(attributes, "host.name")',
]


def _attrs(attr_list):
    return {kv["key"]: kv["value"]["stringValue"] for kv in attr_list or []}


def load(path):
    with open(os.path.join(TESTDATA, path)) as f:
        doc = yaml.safe_load(f)
    rows, order = [], 0
    for rl in doc.get("resourceLogs", []):
        res = _attrs(rl.get("resource", {}).get("attributes"))
        for sl in rl.get("scopeLogs", []):
            for lr in sl.get("logRecords", []):
                rows.append((order, res, _attrs(lr.get("attributes")),
                             lr["body"]["stringValue"]))
                order += 1
    return rows


def canon(rows):
    return sorted(str((tuple(sorted(dict(r[1]).items())),
                       tuple(sorted(dict(r[2]).items())), r[3]))
                  for r in rows)


def run(spark, flatten):
    from pyspark.sql import functions as F
    from opentelemetry_collector_contrib_spark.functions.ottl_dsl import (
        share_resource_mutations, transform_statements)
    df = spark.createDataFrame(
        load("input.yaml"),
        "_ord long, resource map<string,string>, "
        "attributes map<string,string>, body string")
    # pdata group identity: the PRE-transform resource rendering
    df = df.withColumn(
        "_grp", F.to_json(F.sort_array(F.map_entries(F.col("resource")))))
    out = transform_statements(df, STATEMENTS)
    if not flatten:
        out = share_resource_mutations(out, "_grp")
    return [(r["_ord"], dict(r["resource"] or {}),
             dict(r["attributes"] or {}), r["body"])
            for r in out.collect()]


def test_transform_logs_with_flatten(spark):
    assert canon(run(spark, True)) == canon(load("expected-with-flatten.yaml"))


def test_transform_logs_without_flatten(spark):
    assert canon(run(spark, False)) == \
        canon(load("expected-without-flatten.yaml"))
