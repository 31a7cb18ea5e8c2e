"""The operator-config compiler, on the stanza surface; it is also the
logstransform processor.

Stanza builds every operator from config through one registry
(pkg/stanza/operator/registry.go); the logstransform processor's config
is nothing but that registry's ``operators:`` list
(processor/logstransformprocessor/config.go:15-27, processor.go:40-59).
Here each config dict ``{"type": <stanza type id>, ...}`` is built by
the registry below, and ``compile_config`` fuses the list into ONE lazy
Catalyst plan, so the configured chain whole-stage-codegens like a
hand-built one.

Keys follow the stanza YAML (``regex`` for regex_parser's pattern,
``from``/``to`` for copy/move, embedded ``timestamp:``/``severity:``
blocks on parsers). Each key has one spelling: an unknown key, a
factory kwarg that has a stanza name, or a block the operator cannot
apply raises ``ValueError`` at compile time, before any data is read,
as the collector's config unmarshal rejects unused keys. Types the
stanza registry lacks (grok_parser, the OTTL-style map editors, the
filter/attributes/redaction/schema processors) take their factory's
kwarg names. Adaptation: ``filter``/``router`` expressions are Spark
SQL boolean expressions rather than expr-lang (operators/filters.py).
"""

from __future__ import annotations

import inspect
from dataclasses import dataclass, field
from typing import Any, Callable

from opentelemetry_collector_contrib_spark.operators import base, filters, parsers
from opentelemetry_collector_contrib_spark.operators import transformers as tr
from opentelemetry_collector_contrib_spark.operators.attributes import (
    attributes_processor,
    redaction,
    schema_rename,
)
from opentelemetry_collector_contrib_spark.operators.routing import DEFAULT_SINK, Route, router


def _check_keys(typ: str, cfg: Any, allowed: set[str], required: set[str] = frozenset(),
                part: str = "") -> None:
    what = f"operator {typ!r}" + (f" {part}" if part else "")
    if not isinstance(cfg, dict):
        raise ValueError(f"bad config for {what}: expected a mapping, got {cfg!r}")
    unknown, missing = sorted(set(cfg) - allowed), sorted(required - set(cfg))
    if unknown or missing:
        raise ValueError(f"bad config for {what}: "
                         f"unknown key(s) {unknown}, missing key(s) {missing}")


# the embedded sub-parser blocks a parser may carry (helper/parser.go:25-33):
# block -> (allowed keys, required keys)
_BLOCKS = {
    "timestamp": ({"parse_from", "layout", "layout_type"}, {"parse_from", "layout"}),
    "severity": ({"parse_from", "mapping"}, {"parse_from"}),
}


# The three stanza shapes that are not a key rename: each rewrites the
# config's values before the renames apply.

def _routes(cfg: dict) -> dict:
    """router: ``routes: [{expr, output}]`` (transformer/router/config.go)."""
    for r in cfg["routes"]:
        _check_keys("router", r, {"expr", "output"}, {"expr", "output"}, "route")
    return {**cfg, "routes": [Route(r["expr"], r["output"]) for r in cfg["routes"]]}


def _trace_blocks(cfg: dict) -> dict:
    """trace_parser nests each field: ``trace_id: {parse_from: ...}``."""
    out = dict(cfg)
    for key in {"trace_id", "span_id", "trace_flags"} & cfg.keys():
        _check_keys("trace_parser", cfg[key], {"parse_from"}, {"parse_from"}, key)
        out[key] = cfg[key]["parse_from"]
    return out


def _csv_header(cfg: dict) -> dict:
    """csv_parser: ``header`` is one delimited string."""
    if "header" not in cfg:
        return cfg
    if not isinstance(cfg["header"], str):
        raise ValueError("bad config for operator 'csv_parser': header must be a string")
    return {**cfg, "header": cfg["header"].split(cfg.get("delimiter", ","))}


@dataclass(frozen=True)
class Entry:
    """An operator factory, its ``{stanza key: kwarg}`` renames, and
    the value rewrite for a shape that is not a rename."""

    factory: Callable[..., base.Operator]
    rename: dict[str, str] = field(default_factory=dict)
    shape: Callable[[dict], dict] = lambda cfg: cfg


_FROM_TO = {"from": "from_field", "to": "to_field"}

# stanza type id -> entry (mirrors pkg/stanza/operator/registry.go)
OPERATOR_REGISTRY: dict[str, Entry] = {
    # parsers
    "regex_parser": Entry(parsers.regex_parser, {"regex": "pattern"}),
    "grok_parser": Entry(parsers.grok_parser),
    "json_parser": Entry(parsers.json_parser),
    "json_array_parser": Entry(parsers.jsonarray_parser),
    "csv_parser": Entry(parsers.csv_parser, shape=_csv_header),
    "key_value_parser": Entry(parsers.keyvalue_parser),
    "uri_parser": Entry(parsers.uri_parser),
    "syslog_parser": Entry(parsers.syslog_parser),
    "container": Entry(parsers.container_parser),
    "time_parser": Entry(parsers.time_parser),
    "severity_parser": Entry(parsers.severity_parser),
    "trace_parser": Entry(parsers.trace_parser, {
        "trace_id": "trace_field", "span_id": "span_field",
        "trace_flags": "flags_field"}, _trace_blocks),
    "scope_name_parser": Entry(parsers.scope_name_parser),
    # transformers
    "add": Entry(tr.add),
    "copy": Entry(tr.copy, _FROM_TO),
    "move": Entry(tr.move, _FROM_TO),
    "remove": Entry(tr.remove),
    "retain": Entry(tr.retain),
    "flatten": Entry(tr.flatten, {"field": "map_field"}),
    "assign_keys": Entry(tr.assign_keys, {"field": "array_col"}),
    "unquote": Entry(tr.unquote),
    "regex_replace": Entry(tr.regex_replace,
                           {"regex": "pattern", "replace_with": "replacement"}),
    "replace_all_patterns": Entry(tr.replace_all_patterns),
    "truncate_all": Entry(tr.truncate_all),
    "limit_keys": Entry(tr.limit_keys),
    "merge_maps": Entry(tr.merge_maps),
    "delete_matching_keys": Entry(tr.delete_matching_keys),
    "noop": Entry(tr.noop),
    # filters / samplers / routing
    "filter": Entry(filters.filter_transformer),
    "filter_processor": Entry(filters.filter_processor),
    "filter_matchers": Entry(filters.filter_processor_matchers),
    "probabilistic_sampler": Entry(filters.probabilistic_sampler),
    # stanza's router has no tag_col key
    "router": Entry(lambda routes, default=DEFAULT_SINK: router(routes, default),
                    shape=_routes),
    # processors
    "attributes": Entry(attributes_processor),
    "redaction": Entry(redaction),
    "schema": Entry(schema_rename),
}


def build_operator(config: dict[str, Any]) -> base.Operator:
    """One stanza operator config -> its Operator."""
    cfg = dict(config)
    typ = cfg.pop("type", None)
    if typ not in OPERATOR_REGISTRY:
        raise ValueError(f"unknown operator type {typ!r}; known: {sorted(OPERATOR_REGISTRY)}")
    entry = OPERATOR_REGISTRY[typ]
    stanza = {kwarg: key for key, kwarg in entry.rename.items()}
    params = inspect.signature(entry.factory).parameters.values()
    _check_keys(typ, cfg, {stanza.get(p.name, p.name) for p in params},
                {stanza.get(p.name, p.name) for p in params if p.default is p.empty})
    for block in _BLOCKS.keys() & cfg.keys():
        if cfg[block] is not None:
            _check_keys(typ, cfg[block], *_BLOCKS[block], f"{block} block")
    kwargs = {entry.rename.get(k, k): v for k, v in entry.shape(cfg).items()}
    return entry.factory(**kwargs)


def compile_config(operators: list[dict]) -> base.Operator:
    """The logstransform processor: an ``operators:`` list compiled to
    one fused DataFrame transformation."""
    if not operators:
        # config.go Validate(): an empty operator list is invalid
        raise ValueError("no operators were configured for this logs transform processor")
    built = [build_operator(c) for c in operators]
    return base.Operator("logstransform", base.compile_pipeline(built),
                         {"n_operators": len(built)})


def compile_yaml(text: str) -> base.Operator:
    """compile_config over the reference's ``operators:`` YAML document."""
    import yaml
    doc = yaml.safe_load(text)
    _check_keys("logstransform", doc, {"operators"})
    return compile_config(doc.get("operators"))
