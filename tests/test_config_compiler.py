"""Operator-config compiler on the stanza surface (the stanza
pipeline-builder analog, and the logstransform processor): YAML
front-end, compile-time validation, and the reference's
processor/logstransformprocessor/processor_test.go simpleTest with the
config shape of its testdata/config.yaml."""

import datetime

import pytest

from opentelemetry_collector_contrib_spark.plans.config import (
    build_operator,
    compile_config,
    compile_yaml,
)

PIPELINE_YAML = """
operators:
  - type: regex_parser
    regex: 'level=(?P<level>\\w+) msg=(?P<msg>\\w+) code=(?P<code>\\d+)'
    severity:
      parse_from: attributes.level
  - type: add
    field: attributes.env
    value: prod
  - type: filter
    expr: "attributes['msg'] = 'dropme'"
  - type: router
    routes:
      - expr: "severity_number >= 17"
        output: errors
      - expr: "attributes['code'] = '200'"
        output: ok
    default: other
"""

# the reference's testdata/config.yaml, verbatim shape
REF_CONFIG = [{
    "type": "regex_parser",
    "regex": (r"^(?P<time>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) "
              r"(?P<sev>[A-Z]*) (?P<msg>.*)$"),
    "timestamp": {"parse_from": "attributes.time",
                  "layout": "%Y-%m-%d %H:%M:%S"},
    "severity": {"parse_from": "attributes.sev"},
}]


def _logs(spark, bodies):
    return spark.createDataFrame([(b,) for b in bodies], "body string")


def test_yaml_pipeline_end_to_end(spark):
    df = _logs(spark, ["level=error msg=boom code=500",
                       "level=info msg=fine code=200",
                       "level=info msg=dropme code=200",
                       "level=debug msg=meh code=301"])
    pipe = compile_yaml(PIPELINE_YAML)
    out = pipe(df).collect()
    assert len(out) == 3  # dropme filtered
    by_msg = {r["attributes"]["msg"]: r for r in out}
    assert by_msg["boom"]["sink"] == "errors"
    assert by_msg["fine"]["sink"] == "ok"
    assert by_msg["meh"]["sink"] == "other"
    assert all(r["attributes"]["env"] == "prod" for r in out)
    assert by_msg["boom"]["severity_number"] == 17


def test_unknown_operator_fails_at_compile_time():
    with pytest.raises(ValueError, match="unknown operator type 'nope_parser'"):
        build_operator({"type": "nope_parser"})


def test_validation_matches_reference():
    # config.go Validate(): empty operators invalid
    with pytest.raises(ValueError, match="no operators"):
        compile_config([])
    with pytest.raises(ValueError, match="unknown operator type"):
        build_operator({"type": "nope_parser"})
    with pytest.raises(ValueError, match="type"):
        build_operator({"regex": "x"})


def test_bad_config_fails_at_compile_time():
    with pytest.raises(ValueError, match="bad config"):
        build_operator({"type": "regex_parser", "no_such_kwarg": 1,
                        "regex": "(?P<a>.)"})


@pytest.mark.parametrize("config", [
    {"type": "add", "field": "attributes.a", "value": "x", "vaule": "y"},
    {"type": "csv_parser", "header": "a,b",
     "timestamp": {"parse_from": "attributes.a", "layout": "%Y"}},
    {"type": "copy", "from_field": "attributes.a", "to": "attributes.b"},
    {"type": "regex_parser", "regex": "(?P<a>.)",
     "timestamp": {"parse_from": "attributes.a", "layot": "%Y"}},
    {"type": "regex_parser", "regex": "(?P<a>.)",
     "severity": {"parse_from": "attributes.a", "mapp": {}}},
    {"type": "router", "routes": [{"expr": "true", "output": "a"}], "tag_col": "x"},
], ids=["misspelled-key", "block-parser-cannot-apply", "kwarg-spelling",
        "timestamp-block-key", "severity-block-key", "router-tag-col"])
def test_strict_keys(config):
    """Each key has one spelling; a key the operator cannot use raises
    at compile time, naming the type."""
    with pytest.raises(ValueError, match=repr(config["type"])):
        build_operator(config)


def test_bare_operator_list(spark):
    pipe = compile_config([
        {"type": "add", "field": "attributes.k", "value": "v"},
        {"type": "copy", "from": "attributes.k", "to": "attributes.k2"},
    ])
    df = spark.createDataFrame([("b",)], "body string")
    row = pipe(df).first()
    assert row["attributes"] == {"k": "v", "k2": "v"}


def test_stanza_value_shapes(spark):
    """csv_parser's header is one delimited string; trace_parser nests
    each field as ``{parse_from: ...}``."""
    pipe = compile_config([
        {"type": "csv_parser", "header": "tid|sid", "delimiter": "|"},
        {"type": "trace_parser", "trace_id": {"parse_from": "attributes.tid"},
         "span_id": {"parse_from": "attributes.sid"}},
    ])
    row = pipe(_logs(spark, ["0a0b|0c"])).first()
    assert row["attributes"] == {"tid": "0a0b", "sid": "0c"}
    assert bytes(row["trace_id"]) == b"\x0a\x0b"
    assert bytes(row["span_id"]) == b"\x0c"


def test_reference_simple_case(spark):
    """processor_test.go simpleTest: the base message parses into
    time/sev/msg attributes, severity INFO(9), and the record
    timestamp."""
    df = _logs(spark, ["2022-01-01 01:02:03 INFO this is a test message"])
    out = compile_config(REF_CONFIG)(df).collect()[0]
    attrs = out["attributes"]
    assert attrs["msg"] == "this is a test message"
    assert attrs["time"] == "2022-01-01 01:02:03"
    assert attrs["sev"] == "INFO"
    assert out["severity_number"] == 9
    assert out["severity_text"] == "INFO"
    assert out["time"] == datetime.datetime(2022, 1, 1, 1, 2, 3)


def test_chain_of_operators(spark):
    """Multi-operator chain: parse json -> promote a key -> drop noisy
    rows -> route; the chain is ONE fused plan (no exchange)."""
    cfg = [
        {"type": "json_parser"},
        {"type": "add", "field": "attributes.env", "value": "prod"},
        {"type": "copy", "from": "attributes.level",
         "to": "attributes.lvl"},
        {"type": "filter", "expr": "attributes['level'] = 'debug'"},
        {"type": "router", "routes": [
            {"expr": "attributes['level'] = 'error'",
             "output": "sink_err"}]},
    ]
    df = _logs(spark, ['{"level":"error","m":"boom"}',
                       '{"level":"debug","m":"noise"}',
                       '{"level":"info","m":"ok"}'])
    out = compile_config(cfg)(df)
    rows = {r["attributes"]["m"]: r for r in out.collect()}
    assert set(rows) == {"boom", "ok"}          # debug row filtered
    assert rows["boom"]["sink"] == "sink_err"
    assert rows["ok"]["sink"] == "default"
    assert all(r["attributes"]["env"] == "prod" for r in rows.values())
    assert rows["boom"]["attributes"]["lvl"] == "error"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_on_error_drop_flows_through_config(spark):
    cfg = [{"type": "regex_parser",
            "regex": r"^(?P<k>[a-z]+)=(?P<v>\d+)$",
            "on_error": "drop"}]
    df = _logs(spark, ["a=1", "garbage", "b=2"])
    out = compile_config(cfg)(df)
    vals = sorted(r["attributes"]["k"] for r in out.collect())
    assert vals == ["a", "b"]
