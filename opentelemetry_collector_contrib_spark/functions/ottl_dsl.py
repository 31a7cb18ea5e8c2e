"""OTTL statement compiler: statement strings -> Column-expression edits.

The reference parses OTTL statements with a participle grammar into
closure trees executed per record (pkg/ottl/parser.go:147-169, grammar
pkg/ottl/grammar.go:15-19: ``Editor '(' args ')' ['where' bool]``).
Here the same surface syntax compiles to **Catalyst expressions**: a
statement sequence becomes one withColumn chain — constant folding,
predicate pushdown and codegen come free (SURVEY §3.2).

Grammar coverage (pkg/ottl/grammar.go:182-286 re-expressed):

* editors: set, delete_key, delete_matching_keys, keep_keys,
  keep_matching_keys, truncate_all, limit, replace_pattern (+optional
  hash-converter arg), replace_match, replace_all_matches,
  replace_all_patterns, flatten (+prefix), merge_maps, append (map
  targets unsupported in the flat model raise cleanly)
* math expressions: ``+ - * /`` with standard precedence, constant
  folding for pure literals (pkg/ottl/math.go); timestamp minus
  timestamp yields SECONDS as double so it compares against
  ``Duration(...)`` (also seconds)
* enums: SEVERITY_NUMBER_* (pkg/ottl/ottlfuncs enum tables)
* literals: "str" 'str' ints floats 0xHEX true false nil [lists]
  {maps} — map/list literals with nested structure serialize to JSON
  strings when stored into the flat MAP<STRING,STRING> model
* named arguments: ``name=value`` in editor/converter calls
* paths: body, severity_text/number, time, trace_id, span_id,
  attributes["k"], resource.attributes["k"], dynamic keys
  (attributes[attributes["flags"]]), and chained indexing — a second
  literal index on a map member reads the member as a JSON string
  (``attributes["foo"]["bar"]`` -> get_json_object), an int index on
  an array-returning converter is element_at
* where: comparisons (== != > < >= <=), and/or/not, parentheses —
  compiled per pkg/ottl/compare.go onto Column ops

Flat-model notes: the record model is columnar (body string,
attributes MAP<STRING,STRING>, ...). Reference behaviors that require
variant-typed nested pdata values (slices of maps, typed ints inside
attributes) are adapted to JSON-string encodings or rejected with
ValueError — tests/test_ottl_e2e_corpus.py grades every corpus
statement against this contract.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.fields import (
    MAP_COLUMNS,
    drop_field,
    field_col,
    with_field,
)
from opentelemetry_collector_contrib_spark.functions.ottl import (
    FUNCTIONS,
    MapRef,
    mark_json,
)

_TOKEN_RE = re.compile(r"""
    \s*(?:
      (?P<string>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
    | (?P<hex>0[xX][0-9a-fA-F]+)
    | (?P<float>-?\d+\.\d+)
    | (?P<int>-?\d+)
    | (?P<op>==|!=|>=|<=|>|<|\(|\)|\[|\]|\{|\}|,|:|=|\+|-|\*|/)
    | (?P<name>[A-Za-z_][A-Za-z0-9_.]*)
    )""", re.VERBOSE)

_KEYWORDS = {"where", "and", "or", "not", "true", "false", "nil"}

# context paths that hold time.Time in the reference (ottllog time/
# observed_time, ottlspan start_time/end_time) — their difference is a
# Duration, i.e. SECONDS in the flat model's double encoding
_TS_PATHS = {"time", "observed_time", "start_time", "end_time",
             "span_start_time", "span_end_time"}

# map-root spellings (the reference's log context exposes resource
# attributes as resource.attributes; the flat model's column is
# ``resource``)
_ROOT_ALIASES = {
    "attributes": "attributes",
    "resource": "resource",
    "resource.attributes": "resource",
    "body_map": "body_map",
    # spanevent context (pkg/ottl/contexts/ottlspanevent/span_events.go):
    # the event's own attributes, the PARENT span's attributes, and the
    # instrumentation scope's attributes as flat-model maps
    "spanevent.attributes": "attributes",
    "span.attributes": "span_attributes",
    "instrumentation_scope.attributes": "scope_attributes",
    # profile / profilesample contexts (pkg/ottl/contexts/ottlprofile/,
    # ottlprofilesample/)
    "profile.attributes": "attributes",
    "profilesample.attributes": "attributes",
}

# non-map path spellings from the other signal contexts
# (pkg/ottl/contexts/ottlspan/span.go, ottlmetric/metrics.go,
# ottldatapoint/datapoint.go) -> flat-model column names.  Any OTHER
# bare name already resolves to its same-named column via field_col,
# so span paths like ``name`` / ``kind`` / ``parent_span_id`` and
# datapoint paths like ``start_time_unix_nano`` need no table entry —
# only the dotted spellings that would otherwise parse as map roots.
_PATH_ALIASES = {
    "status.code": "status_code",
    "status.message": "status_message",
    "metric.name": "metric_name",
    "metric.description": "metric_description",
    "metric.unit": "metric_unit",
    "metric.type": "metric_type",
    # ottlspanevent context: the event's own fields under the
    # ``spanevent.`` root and the PARENT span's fields under ``span.``
    # (span_events.go pathExpressionParser; span.* delegates to the
    # ottlspan context) — flat-model columns are prefixed span_/scope_
    "spanevent.name": "name",
    "spanevent.time": "time",
    "spanevent.time_unix_nano": "time_unix_nano",
    "spanevent.dropped_attributes_count": "dropped_attributes_count",
    "spanevent.event_index": "event_index",
    "span.name": "span_name",
    "span.kind": "span_kind",
    "span.trace_id": "span_trace_id",
    "span.trace_id.string": "span_trace_id",
    "span.span_id": "span_span_id",
    "span.span_id.string": "span_span_id",
    "span.parent_span_id": "span_parent_span_id",
    "span.parent_span_id.string": "span_parent_span_id",
    "span.status.code": "span_status_code",
    "span.status.message": "span_status_message",
    "span.start_time_unix_nano": "span_start_time_unix_nano",
    "span.end_time_unix_nano": "span_end_time_unix_nano",
    "span.start_time": "span_start_time",
    "span.end_time": "span_end_time",
    "instrumentation_scope.name": "scope_name",
    "instrumentation_scope.version": "scope_version",
    # ottlprofile context (pkg/ottl/contexts/ottlprofile/profile.go):
    # scalar fields of the profile being processed; indexed table
    # members (sample_type, location_indices, ...) are JSON-string
    # columns in the flat model, readable via the JSON lane
    "profile.profile_id": "profile_id",
    "profile.profile_id.string": "profile_id",
    "profile.time_unix_nano": "time_unix_nano",
    "profile.time": "time",
    "profile.duration_unix_nano": "duration_unix_nano",
    "profile.duration": "duration",
    "profile.dropped_attributes_count": "dropped_attributes_count",
    "profile.original_payload_format": "original_payload_format",
    "profile.original_payload": "original_payload",
    "profile.default_sample_type_index": "default_sample_type_index",
    "profile.sample_type": "sample_type",
    "profile.sample": "sample",
    "profile.location_indices": "location_indices",
    "profile.period_type": "period_type",
    "profile.period": "period",
    "profile.comment_string_indices": "comment_string_indices",
    "profile.attribute_indices": "attribute_indices",
    # ottlprofilesample context (pkg/ottl/contexts/ottlprofilesample/):
    # the sample's own fields; values/timestamps are JSON-lane strings
    "profilesample.locations_start_index": "locations_start_index",
    "profilesample.locations_length": "locations_length",
    "profilesample.values": "values",
    "profilesample.link_index": "link_index",
    "profilesample.timestamps_unix_nano": "timestamps_unix_nano",
    "profilesample.timestamps": "timestamps",
    "profilesample.attribute_indices": "attribute_indices",
}

# pkg/ottl enum symbol tables: log severity numbers plus the span /
# status / temporality enums of the span and datapoint contexts
_SEVERITY_ENUMS = {}
for _i, _base in enumerate(["TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL"]):
    for _j in range(4):
        _suffix = "" if _j == 0 else str(_j + 1)
        _SEVERITY_ENUMS[f"SEVERITY_NUMBER_{_base}{_suffix}"] = _i * 4 + _j + 1
_SEVERITY_ENUMS["SEVERITY_NUMBER_UNSPECIFIED"] = 0
_SEVERITY_ENUMS.update({
    # ptrace.SpanKind (ottlspan context)
    "SPAN_KIND_UNSPECIFIED": 0, "SPAN_KIND_INTERNAL": 1,
    "SPAN_KIND_SERVER": 2, "SPAN_KIND_CLIENT": 3,
    "SPAN_KIND_PRODUCER": 4, "SPAN_KIND_CONSUMER": 5,
    # ptrace.StatusCode
    "STATUS_CODE_UNSET": 0, "STATUS_CODE_OK": 1, "STATUS_CODE_ERROR": 2,
    # pmetric.AggregationTemporality (ottlmetric context)
    "AGGREGATION_TEMPORALITY_UNSPECIFIED": 0,
    "AGGREGATION_TEMPORALITY_DELTA": 1,
    "AGGREGATION_TEMPORALITY_CUMULATIVE": 2,
    # pmetric.MetricType (ottlmetric context)
    "METRIC_DATA_TYPE_NONE": 0, "METRIC_DATA_TYPE_GAUGE": 1,
    "METRIC_DATA_TYPE_SUM": 2, "METRIC_DATA_TYPE_HISTOGRAM": 3,
    "METRIC_DATA_TYPE_EXPONENTIAL_HISTOGRAM": 4,
    "METRIC_DATA_TYPE_SUMMARY": 5,
})


@dataclass
class Tok:
    kind: str
    text: str


@dataclass
class HexLit:
    """0x... literal: carries the int value AND the digit string
    (TraceID/SpanID need the byte width, math needs the value)."""
    value: int
    digits: str


class FuncRef(str):
    """A bare converter name passed as an argument (e.g. the optional
    hash function of replace_pattern)."""


@dataclass
class Target:
    """An assignable path: root column + index chain. ``keys`` entries
    are literal strings, ints, or Columns (dynamic keys)."""
    root: str
    keys: list = field(default_factory=list)

    @property
    def literal_path(self) -> str | None:
        if not self.keys:
            return self.root
        if len(self.keys) == 1 and isinstance(self.keys[0], str):
            return f"{self.root}.{self.keys[0]}"
        return None


def _tokenize(s: str) -> list[Tok]:
    toks, i = [], 0
    while i < len(s):
        m = _TOKEN_RE.match(s, i)
        if not m or m.end() == i:
            if s[i:].strip() == "":
                break
            raise ValueError(f"OTTL syntax error at: {s[i:i+20]!r}")
        i = m.end()
        for kind in ("string", "hex", "float", "int", "op", "name"):
            text = m.group(kind)
            if text is not None:
                if kind == "name" and text in _KEYWORDS:
                    kind = text  # promote keywords
                toks.append(Tok(kind, text))
                break
    toks.append(Tok("eof", ""))
    return toks


def _unquote(s: str) -> str:
    """Unescape ONLY quotes and backslash — regex escapes like \\w in
    pattern literals must survive verbatim."""
    body = s[1:-1]
    return re.sub(r"\\([\"'\\])", r"\1", body)


def _lift(v) -> Column:
    if isinstance(v, MapRef):
        return v.col
    if isinstance(v, Column):
        return v
    if isinstance(v, HexLit):
        return F.lit(v.value)
    if isinstance(v, (dict, list)):
        return F.lit(json.dumps(v, separators=(",", ":")))
    return F.lit(v)


class Parser:
    """Recursive-descent over the token list; returns Column trees (or
    plain python values for pure literals — converter config like regex
    patterns must stay python)."""

    def __init__(self, toks: list[Tok]):
        self.toks = toks
        self.i = 0
        # Columns produced by time-valued converters: minus on these
        # yields seconds (double), the comparable unit of Duration().
        # _ts_refs keeps the Column objects alive so CPython cannot
        # reuse a tracked id() for an unrelated later Column.
        self._ts_ids: set[int] = set()
        self._ts_refs: list = []

    def peek(self) -> Tok:
        return self.toks[self.i]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def at_op(self, *texts: str) -> bool:
        t = self.peek()
        return t.kind == "op" and t.text in texts

    def expect(self, kind: str, text: str | None = None) -> Tok:
        t = self.next()
        if t.kind != kind or (text is not None and t.text != text):
            raise ValueError(f"expected {text or kind}, got {t.text!r}")
        return t

    # --- value expressions: additive -> term -> postfix -> primary ---------
    def value(self):
        return self.additive()

    def additive(self):
        left = self.term()
        while self.at_op("+", "-"):
            op = self.next().text
            right = self.term()
            left = self._arith(left, op, right)
        return left

    def term(self):
        left = self.postfix(self.primary())
        while self.at_op("*", "/"):
            op = self.next().text
            right = self.postfix(self.primary())
            left = self._arith(left, op, right)
        return left

    def _arith(self, a, op: str, b):
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            return {"+": a + b, "-": a - b, "*": a * b,
                    "/": a / b}[op]  # constant fold (pkg/ottl/math.go)
        if op == "-" and (id(a) in self._ts_ids or id(b) in self._ts_ids):
            # timestamp difference in SECONDS (double) — same unit as
            # Duration(), so `Time(..) - Time(..) < Duration("10m")`
            # compares naturally
            la = F.unix_micros(_lift(a).cast("timestamp")) / F.lit(1e6)
            lb = F.unix_micros(_lift(b).cast("timestamp")) / F.lit(1e6)
            return la - lb
        la, lb = _lift(a), _lift(b)
        return {"+": la + lb, "-": la - lb, "*": la * lb, "/": la / lb}[op]

    def postfix(self, base):
        """Index chains: [literal-string] / [int] / [expression]."""
        kind = "generic"
        if isinstance(base, _PathState):
            return self._path_postfix(base)
        while self.at_op("["):
            self.next()
            idx = self._index_value()
            self.expect("op", "]")
            col = _lift(base)
            if isinstance(idx, int):
                base = F.element_at(col, idx + 1)  # OTTL 0-based
            else:
                base = F.element_at(col, _lift(idx) if isinstance(idx, Column) else idx)
        return base

    def _index_value(self):
        """Inside [...]: a lone string literal is a key; anything else
        is a full expression (dynamic key / computed index)."""
        t = self.peek()
        if t.kind == "string":
            nxt = self.toks[self.i + 1]
            if nxt.kind == "op" and nxt.text == "]":
                self.next()
                return _unquote(t.text)
        return self.value()

    def _path_postfix(self, st: "_PathState"):
        """Resolve a path root + index chain to a value Column.

        map root -> first index is element_at (literal or dynamic);
        further indexes read the member as JSON text (the flat-model
        encoding of nested pdata values): literal keys/ints use
        get_json_object, dynamic keys dispatch at runtime on the
        text's shape — arrays take the numeric index (raw element
        text preserved for further chaining), objects the string key.
        The result is marked as a JSON-lane read so shape-sensitive
        converters (ContainsValue, Sort, Len) parse before operating.
        """
        root, col = st.root, st.col
        depth = 0
        while self.at_op("["):
            self.next()
            idx = self._index_value()
            self.expect("op", "]")
            if depth == 0 and st.is_map:
                key = idx if isinstance(idx, str) else _lift(idx)
                col = F.element_at(col, key)
            else:
                if isinstance(idx, str):
                    col = F.get_json_object(col, f"$['{idx}']")
                elif isinstance(idx, int):
                    col = F.get_json_object(col, f"$[{idx}]")
                else:
                    i = _lift(idx).try_cast("int")
                    k = _lift(idx).cast("string")
                    col = F.when(
                        col.startswith("["),
                        F.element_at(F.from_json(col, "array<string>"),
                                     i + F.lit(1)),
                    ).otherwise(
                        F.element_at(F.from_json(col, "map<string,string>"), k))
            depth += 1
        if depth == 0 and st.is_map:
            return MapRef(col, root)
        if depth > 0 and st.is_map:
            mark_json(col)
        return col

    def primary(self):
        t = self.peek()
        if t.kind == "string":
            self.next()
            return _unquote(t.text)
        if t.kind == "hex":
            self.next()
            return HexLit(int(t.text, 16), t.text[2:])
        if t.kind == "int":
            self.next()
            return int(t.text)
        if t.kind == "float":
            self.next()
            return float(t.text)
        if t.kind in ("true", "false"):
            self.next()
            return t.kind == "true"
        if t.kind == "nil":
            self.next()
            return None
        if self.at_op("["):
            return self.list_literal()
        if self.at_op("{"):
            return self.map_literal()
        if self.at_op("("):
            self.next()
            v = self.value()
            self.expect("op", ")")
            return v
        if t.kind == "name":
            self.next()
            if t.text in _SEVERITY_ENUMS:
                return _SEVERITY_ENUMS[t.text]
            if self.at_op("("):
                return self.call(t.text)
            if t.text in FUNCTIONS and t.text[0].isupper():
                return FuncRef(t.text)
            root = _ROOT_ALIASES.get(t.text)
            if root is not None:
                return _PathState(root, F.col(root), True)
            path = _PATH_ALIASES.get(t.text, t.text)
            col = field_col(path)
            if path in _TS_PATHS:
                # known TIMESTAMP context fields: mark so subtraction
                # yields SECONDS (pkg/ottl/math.go time.Time - time.Time
                # -> Duration), like Time()/Now() results
                self._ts_ids.add(id(col))
                self._ts_refs.append(col)
            return _PathState(path, col, False)
        raise ValueError(f"unexpected token {t.text!r}")

    def list_literal(self):
        """[...] -> python list: literals stay python values (usable as
        converter config like key lists), paths/calls become Columns."""
        self.expect("op", "[")
        items = []
        while not self.at_op("]"):
            items.append(self.value())
            if self.at_op(","):
                self.next()
        self.expect("op", "]")
        return items

    def map_literal(self):
        """{"k": v, ...} -> python dict (nested dicts/lists allowed);
        Column values are rejected when the dict must serialize to a
        JSON literal."""
        self.expect("op", "{")
        out = {}
        while not self.at_op("}"):
            key = _unquote(self.expect("string").text)
            self.expect("op", ":")
            out[key] = self.value()
            if self.at_op(","):
                self.next()
        self.expect("op", "}")
        return out

    def call(self, fname: str):
        self.expect("op", "(")
        args, kwargs = [], {}
        while not self.at_op(")"):
            t = self.peek()
            if (t.kind == "name"
                    and self.toks[self.i + 1].kind == "op"
                    and self.toks[self.i + 1].text == "="
                    and t.text not in _ROOT_ALIASES):
                self.next()
                self.next()
                kwargs[t.text] = self.value()
            else:
                args.append(self.value())
            if self.at_op(","):
                self.next()
        self.expect("op", ")")
        if fname not in FUNCTIONS:
            raise KeyError(f"unknown OTTL converter {fname}")
        out = FUNCTIONS[fname](*args, **kwargs)
        if fname in ("Time", "Now", "TruncateTime") and isinstance(out, Column):
            self._ts_ids.add(id(out))
            self._ts_refs.append(out)
        return out

    # --- targets ------------------------------------------------------------
    def target(self) -> Target:
        name = self.expect("name").text
        root = _ROOT_ALIASES.get(name) or _PATH_ALIASES.get(name, name)
        tgt = Target(root)
        while self.at_op("["):
            self.next()
            idx = self._index_value()
            self.expect("op", "]")
            tgt.keys.append(idx if isinstance(idx, (str, int)) else _lift(idx))
        return tgt

    # --- boolean expressions ----------------------------------------------
    def bool_expr(self) -> Column:
        left = self.bool_term()
        while self.peek().kind == "or":
            self.next()
            left = left | self.bool_term()
        return left

    def bool_term(self) -> Column:
        left = self.bool_factor()
        while self.peek().kind == "and":
            self.next()
            left = left & self.bool_factor()
        return left

    def bool_factor(self) -> Column:
        if self.peek().kind == "not":
            self.next()
            return ~self.bool_factor()
        if self.at_op("("):
            self.next()
            e = self.bool_expr()
            self.expect("op", ")")
            return e
        left = self.value()
        t = self.peek()
        if t.kind == "op" and t.text in ("==", "!=", ">", "<", ">=", "<="):
            self.next()
            right = self.value()
            if right is None:          # `x != nil` / `x == nil`
                lc = _lift(left)
                return lc.isNull() if t.text == "==" else lc.isNotNull()
            if left is None:
                rc = _lift(right)
                return rc.isNull() if t.text == "==" else rc.isNotNull()
            lc = _lift(left) if not isinstance(left, (int, float, str, bool)) \
                else F.lit(left)
            if isinstance(right, HexLit):
                # TraceID-style compares happen on hex strings in the
                # flat model
                right = right.digits
            rc = _lift(right)
            ops = {"==": lambda a, b: a == b, "!=": lambda a, b: a != b,
                   ">": lambda a, b: a > b, "<": lambda a, b: a < b,
                   ">=": lambda a, b: a >= b, "<=": lambda a, b: a <= b}
            return ops[t.text](lc, rc)
        if not isinstance(left, Column):
            if isinstance(left, MapRef):
                return left.col.isNotNull()
            return F.lit(bool(left))
        return left.cast("boolean")


@dataclass
class _PathState:
    root: str
    col: Column
    is_map: bool


# --- editor helpers --------------------------------------------------------

def _glob_to_regex(glob: str) -> str:
    """filterset glob (``*/*``) -> anchored regex (reference uses
    gobwas/glob; * and ? only, everything else literal)."""
    out = []
    for ch in glob:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def _stringify(df: DataFrame, value: Column) -> Column:
    """Cast a value Column for storage into MAP<STRING,STRING>:
    maps/arrays/structs serialize to JSON, everything else casts."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType
    dt = df.select(value.alias("_v")).schema[0].dataType
    if isinstance(dt, (MapType, ArrayType, StructType)):
        return F.to_json(value)
    if isinstance(dt, BinaryType):
        return value.cast("string")
    return value.cast("string")


def _dynamic_json_col(v) -> Column:
    """A map/list literal containing Column values -> ONE to_json over
    a nested struct/array tree, so dynamic members serialize with
    their Spark types (strings quoted, longs bare) and nested dicts
    are real JSON objects, not double-encoded strings."""
    def build(x):
        if isinstance(x, dict):
            return F.struct(*[build(val).alias(k) for k, val in x.items()])
        if isinstance(x, list):
            return F.array(*[build(i) for i in x])
        if isinstance(x, MapRef):
            return x.col
        if isinstance(x, Column):
            return x
        if isinstance(x, HexLit):
            return F.lit(x.digits)
        return F.lit(x)
    return F.to_json(build(v))


def _value_column(df: DataFrame, v) -> Column:
    """Editor argument -> storable Column."""
    if isinstance(v, dict) or isinstance(v, list):
        if _has_column(v):
            return _dynamic_json_col(v)
        return F.lit(json.dumps(v, separators=(",", ":")))
    if isinstance(v, HexLit):
        return F.lit(v.digits)
    if isinstance(v, MapRef):
        return F.to_json(v.col)
    if isinstance(v, Column):
        return _stringify(df, v)
    return F.lit(v)


def _has_column(v) -> bool:
    if isinstance(v, Column):
        return True
    if isinstance(v, dict):
        return any(_has_column(x) for x in v.values())
    if isinstance(v, list):
        return any(_has_column(x) for x in v)
    return False


def _guard(cond: Column | None, new: Column, old: Column) -> Column:
    if cond is None:
        return new
    return F.when(F.coalesce(cond, F.lit(False)), new).otherwise(old)


def _drop_null_values(df: DataFrame, root: str) -> DataFrame:
    return df.withColumn(
        root, F.map_filter(F.col(root), lambda _k, v: v.isNotNull()))


def _empty_map(df: DataFrame, root: str) -> Column:
    return F.coalesce(F.col(root),
                      F.create_map().cast(df.schema[root].dataType.simpleString()))


def _source_map(df: DataFrame, v) -> Column:
    """merge_maps source -> MAP<STRING,STRING> Column. Nested members
    (attributes["foo"]) hold JSON strings in the flat model."""
    if isinstance(v, MapRef):
        return v.col
    if isinstance(v, dict):
        if _has_column(v):
            raise ValueError("dynamic map literals unsupported")
        entries = []
        for k, val in v.items():
            entries.append(F.lit(k))
            entries.append(F.lit(val if isinstance(val, str)
                                 else json.dumps(val, separators=(",", ":"))))
        return F.create_map(*entries)
    if isinstance(v, Column):
        dt = df.select(v.alias("_v")).schema[0].dataType
        from pyspark.sql.types import MapType, StringType
        if isinstance(dt, MapType):
            return v.cast("map<string,string>") \
                if not isinstance(dt.valueType, StringType) else v
        return F.from_json(v.cast("string"), "map<string,string>")
    raise ValueError(f"cannot use {v!r} as a map source")


def _edit_json_member(df: DataFrame, root: str, k1: str, edit_fn,
                      cond: Column | None) -> DataFrame:
    """Apply a map->map edit to the JSON-object text stored at
    ``root[k1]`` (the flat encoding of a nested pdata map): parse,
    edit, re-serialize, upsert.  A member that is absent or not an
    object edits an empty map (reference editors materialize missing
    nested maps on write)."""
    member = F.element_at(F.col(root), k1)
    parsed = F.coalesce(F.from_json(member, "map<string,string>"),
                        F.create_map().cast("map<string,string>"))
    new_text = F.to_json(edit_fn(parsed))
    return with_field(df, f"{root}.{k1}", _guard(cond, new_text, member))


def _append_array(cur: Column, new_items: list[Column]) -> Column:
    """func_append.go value shaping in the flat model: absent -> new
    slice; JSON-array text -> parsed raw-element array; scalar ->
    single-element slice; then concat the stringified items and
    re-serialize."""
    cur_arr = F.from_json(cur, "array<string>")
    base = (F.when(cur.isNull(), F.array().cast("array<string>"))
            .when(cur.startswith("[") & cur_arr.isNotNull(), cur_arr)
            .otherwise(F.array(cur)))
    return F.to_json(F.concat(base, F.array(*new_items)))


# --- editors ---------------------------------------------------------------

def _apply_editor(df: DataFrame, name: str, p: Parser,
                  cond: Column | None) -> DataFrame:

    if name == "set":
        tgt = p.target()
        p.expect("op", ",")
        value = p.value()
        if value is None:
            return df  # set(path, nil) is a no-op (func_set.go)
        if len(tgt.keys) > 1:
            # nested set through the JSON lane: attributes["foo"]["k"]
            # upserts key k inside the member's JSON-object text
            if tgt.root not in MAP_COLUMNS or len(tgt.keys) != 2 or not all(
                    isinstance(k, str) for k in tgt.keys):
                raise ValueError("set targets deeper than 2 literal keys "
                                 "are not supported in the flat model")
            k1, k2 = tgt.keys
            vcol = _value_column(df, value)
            return _edit_json_member(
                df, tgt.root, k1,
                lambda m: F.map_concat(
                    F.map_filter(m, lambda k, _v: k != F.lit(k2)),
                    F.create_map(F.lit(k2), vcol.cast("string"))),
                cond)
        if not tgt.keys:
            if tgt.root in MAP_COLUMNS:
                new_map = _source_map(df, value)
                return df.withColumn(
                    tgt.root, _guard(cond, new_map, F.col(tgt.root)))
            if isinstance(value, (dict, list)) and _has_column(value):
                vcol = _dynamic_json_col(value)
            elif isinstance(value, HexLit):
                vcol = F.lit(value.digits)
            else:
                vcol = _lift(value)
            # try_cast: ANSI casts throw on unparseable values; the set
            # must degrade to a skipped edit (error_mode=ignore), not a
            # failed job
            vcol = vcol.try_cast(df.schema[tgt.root].dataType.simpleString())
            return df.withColumn(tgt.root,
                                 _guard(cond, vcol, F.col(tgt.root)))
        key = tgt.keys[0]
        vcol = _value_column(df, value)
        if isinstance(key, str):
            old = field_col(f"{tgt.root}.{key}")
            # a runtime-NULL value keeps the OLD entry (func_set.go
            # skips the set when the getter returns nil) — coalesce
            # before guarding so a pre-existing key is never deleted;
            # a key that never existed stays absent (null filtered)
            out = with_field(df, f"{tgt.root}.{key}",
                             _guard(cond, F.coalesce(vcol, old), old))
            return _drop_null_values(out, tgt.root)
        # dynamic key: remove any current entry for the key, then upsert
        kcol = key if isinstance(key, Column) else F.lit(key)
        base = _empty_map(df, tgt.root)
        stripped = F.map_filter(base, lambda k, _v: k != kcol)
        upserted = F.when(
            vcol.isNotNull() & kcol.isNotNull(),
            F.map_concat(stripped, F.map_from_arrays(F.array(kcol),
                                                     F.array(vcol.cast("string"))))
        ).otherwise(base)
        return df.withColumn(tgt.root,
                             _guard(cond, upserted, F.col(tgt.root)))

    if name == "delete_key":
        tgt = p.target()
        p.expect("op", ",")
        key = p.value()
        if not isinstance(key, str):
            raise ValueError("delete_key needs a literal key")
        if cond is None:
            return drop_field(df, f"{tgt.root}.{key}")
        keep = F.map_filter(F.col(tgt.root), lambda k, _v: k != F.lit(key))
        return df.withColumn(tgt.root, _guard(cond, keep, F.col(tgt.root)))

    if name == "delete_matching_keys":
        tgt = p.target()
        p.expect("op", ",")
        pattern = p.value()
        keep = F.map_filter(F.col(tgt.root), lambda k, _v: ~k.rlike(pattern))
        return df.withColumn(tgt.root, _guard(cond, keep, F.col(tgt.root)))

    if name == "keep_matching_keys":
        tgt = p.target()
        p.expect("op", ",")
        pattern = p.value()
        keep = F.map_filter(F.col(tgt.root), lambda k, _v: k.rlike(pattern))
        return df.withColumn(tgt.root, _guard(cond, keep, F.col(tgt.root)))

    if name == "keep_keys":
        tgt = p.target()
        p.expect("op", ",")
        keys = p.list_literal()
        arr = F.array(*[F.lit(k) for k in keys])
        if tgt.keys:
            if len(tgt.keys) != 1 or not isinstance(tgt.keys[0], str) \
                    or tgt.root not in MAP_COLUMNS:
                raise ValueError("keep_keys supports map roots and single "
                                 "literal-key nested members only")
            return _edit_json_member(
                df, tgt.root, tgt.keys[0],
                lambda m: F.map_filter(
                    m, lambda k, _v: F.array_contains(arr, k)),
                cond)
        kept = F.map_filter(F.col(tgt.root), lambda k, _v: F.array_contains(arr, k))
        return df.withColumn(tgt.root, _guard(cond, kept, F.col(tgt.root)))

    if name == "truncate_all":
        tgt = p.target()
        p.expect("op", ",")
        n = p.value()
        out = F.transform_values(F.col(tgt.root),
                                 lambda _k, v: F.substring(v, 1, n))
        return df.withColumn(tgt.root, _guard(cond, out, F.col(tgt.root)))

    if name == "limit":
        from opentelemetry_collector_contrib_spark.operators.transformers import (
            limit_keys)
        tgt = p.target()
        p.expect("op", ",")
        n = p.value()
        prio = []
        if p.at_op(","):
            p.next()
            prio = p.list_literal()
        if cond is None:
            return limit_keys(tgt.root, n, prio).apply(df)
        # guard the edit per-row: stash the pre-limit map, apply, blend
        pre = limit_keys(tgt.root, n, prio).apply(
            df.withColumn("_pre_limit", F.col(tgt.root)))
        return pre.withColumn(
            tgt.root,
            _guard(cond, F.col(tgt.root), F.col("_pre_limit"))
        ).drop("_pre_limit")

    if name in ("replace_pattern", "replace_match"):
        tgt = p.target()
        p.expect("op", ",")
        pat = p.value()
        p.expect("op", ",")
        rep = p.value()
        fn = None
        if p.at_op(","):
            p.next()
            fn = p.value()
        if isinstance(fn, FuncRef):
            # optional converter applied to the replacement value
            # (func_replace_pattern.go optionalFn). The reference
            # applies it per match AFTER backreference expansion; a
            # Column expression can only hash a constant replacement,
            # so reject $-backreferences rather than hash the literal.
            if "$" in rep:
                raise ValueError(
                    "replace_pattern with a hash converter supports only "
                    "constant replacements (no $ backreferences) in the "
                    "Column-expression engine")
            rep_col = FUNCTIONS[str(fn)](rep)
        else:
            rep_col = None
        path = tgt.literal_path
        if path is None:
            raise ValueError(f"{name} needs a literal path target")
        old = field_col(path)
        if name == "replace_match":
            regex = _glob_to_regex(pat)
            new = F.when(old.rlike(regex), F.lit(rep)).otherwise(old)
        elif rep_col is not None:
            new = F.regexp_replace(old, pat, rep_col.cast("string"))
        else:
            new = F.regexp_replace(old, pat, rep)
        return with_field(df, path, _guard(cond, new, old))

    if name == "replace_all_matches":
        tgt = p.target()
        p.expect("op", ",")
        glob = p.value()
        p.expect("op", ",")
        rep = p.value()
        regex = _glob_to_regex(glob)
        out = F.transform_values(
            F.col(tgt.root),
            lambda _k, v: F.when(v.rlike(regex), F.lit(rep)).otherwise(v))
        return df.withColumn(tgt.root, _guard(cond, out, F.col(tgt.root)))

    if name == "replace_all_patterns":
        tgt = p.target()
        p.expect("op", ",")
        mode = p.value()
        p.expect("op", ",")
        pat = p.value()
        p.expect("op", ",")
        rep = p.value()
        # Spark regexp_replace uses $1 backreferences; OTTL uses Go's
        # which also accepts $1 — pass through.
        if mode == "value":
            out = F.transform_values(F.col(tgt.root),
                                     lambda _k, v: F.regexp_replace(v, pat, rep))
        elif mode == "key":
            entries = F.transform(
                F.map_entries(F.col(tgt.root)),
                lambda e: F.struct(
                    F.regexp_replace(e.getField("key"), pat, rep).alias("key"),
                    e.getField("value").alias("value")))
            out = F.map_from_entries(entries)
        else:
            raise ValueError("replace_all_patterns mode must be key|value")
        return df.withColumn(tgt.root, _guard(cond, out, F.col(tgt.root)))

    if name == "flatten":
        tgt = p.target()
        prefix = None
        kwargs = {}
        while p.at_op(","):
            p.next()
            t = p.peek()
            if (t.kind == "name" and p.toks[p.i + 1].text == "="):
                p.next()
                p.next()
                kwargs[t.text] = p.value()
            else:
                prefix = p.value()
        if kwargs.get("depth") not in (None, 1):
            raise ValueError("flatten depth>1 needs nested pdata values — "
                             "unsupported in the flat model")
        root = tgt.root
        entries = F.map_entries(F.col(root))

        def lifted(e):
            k, v = e.getField("key"), e.getField("value")
            parsed = F.from_json(v, "map<string,string>")
            return F.when(
                parsed.isNotNull() & v.startswith("{"),
                F.transform(F.map_entries(parsed),
                            lambda ne: F.struct(
                                F.concat(k, F.lit("."), ne.getField("key")).alias("key"),
                                ne.getField("value").alias("value")))
            ).otherwise(F.array(F.struct(k.alias("key"), v.alias("value"))))

        flat = F.flatten(F.transform(entries, lifted))
        if prefix:
            flat = F.transform(flat, lambda e: F.struct(
                F.concat(F.lit(prefix + "."), e.getField("key")).alias("key"),
                e.getField("value").alias("value")))
        if kwargs.get("resolveConflicts"):
            # func_flatten.go resolveConflicts: the first occurrence
            # keeps the key, the n-th (n>=2) gets suffix ".<n-2>".
            # Stage the entry array to a real column — the per-entry
            # prior-occurrence count references it repeatedly and
            # Catalyst re-evaluates unbound expressions per reference.
            df2 = df.withColumn("_flat_rc", flat)
            fcol = F.col("_flat_rc")

            def renumber(e, i):
                def prior(x):
                    return x.getField("key") == e.getField("key")
                cnt = F.size(F.filter(F.slice(fcol, F.lit(1), i), prior))
                key = F.when(
                    cnt > 0,
                    F.concat(e.getField("key"), F.lit("."),
                             (cnt - 1).cast("string"))
                ).otherwise(e.getField("key"))
                return F.struct(key.alias("key"),
                                e.getField("value").alias("value"))

            out = F.map_from_entries(F.transform(fcol, renumber))
            return (df2.withColumn(root, _guard(cond, out, F.col(root)))
                    .drop("_flat_rc"))
        out = F.map_from_entries(flat)
        return df.withColumn(root, _guard(cond, out, F.col(root)))

    if name == "merge_maps":
        tgt = p.target()
        p.expect("op", ",")
        source = p.value()
        strategy = "upsert"
        if p.at_op(","):
            p.next()
            strategy = p.value()
        src = _source_map(df, source)
        base = _empty_map(df, tgt.root)
        src = F.coalesce(src, F.create_map().cast("map<string,string>"))
        if strategy == "upsert":
            out = F.map_concat(base, src)
        elif strategy == "insert":
            new_only = F.map_filter(src, lambda k, _v: ~F.map_contains_key(base, k))
            out = F.map_concat(base, new_only)
        elif strategy == "update":
            upd = F.map_filter(src, lambda k, _v: F.map_contains_key(base, k))
            out = F.map_concat(base, upd)
        else:
            raise ValueError(strategy)
        return df.withColumn(tgt.root, _guard(cond, out, F.col(tgt.root)))

    if name == "append":
        # func_append.go: append(target, value) / append(target,
        # values=[...]) — target resolves to a slice (created from a
        # scalar or from nothing when needed).  Flat model: slices are
        # JSON-array text; appended scalars stringify.
        tgt = p.target()
        items: list[Column] = []
        while p.at_op(","):
            p.next()
            t = p.peek()
            if (t.kind == "name" and t.text == "values"
                    and p.toks[p.i + 1].text == "="):
                p.next()
                p.next()
                vals = p.value()
                if not isinstance(vals, list):
                    raise ValueError("append values= needs a list")
                items.extend(_value_column(df, v).cast("string")
                             for v in vals)
            else:
                items.append(_value_column(df, p.value()).cast("string"))
        if not items:
            raise ValueError("append needs a value or values=[...]")
        if tgt.root not in MAP_COLUMNS or not tgt.keys or len(tgt.keys) > 2 \
                or not all(isinstance(k, str) for k in tgt.keys):
            raise ValueError("append supports 1- or 2-literal-key map "
                             "members in the flat model")
        if len(tgt.keys) == 1:
            k1 = tgt.keys[0]
            cur = F.element_at(F.col(tgt.root), k1)
            return with_field(df, f"{tgt.root}.{k1}",
                              _guard(cond, _append_array(cur, items), cur))
        k1, k2 = tgt.keys
        return _edit_json_member(
            df, tgt.root, k1,
            lambda m: F.map_concat(
                F.map_filter(m, lambda k, _v: k != F.lit(k2)),
                F.create_map(F.lit(k2),
                             _append_array(F.element_at(m, k2), items))),
            cond)

    raise ValueError(f"unknown OTTL editor {name}")


def compile_statement(stmt: str, group_where: str | None = None):
    """One OTTL statement -> df transform function.

    Token-level split (a regex split mis-associates when the where
    clause itself contains parentheses): ``editor '(' args ')'
    ['where' cond]`` with the matching close-paren found by depth.

    ``group_where`` is a ContextStatements-level condition (the
    transformprocessor's per-group ``conditions`` list, OR-combined by
    the caller) AND-ed with the statement's own where clause.
    """
    toks = _tokenize(stmt)
    if len(toks) < 3 or toks[0].kind != "name" or toks[1].text != "(":
        raise ValueError(f"cannot parse OTTL statement: {stmt!r}")
    editor = toks[0].text
    depth, close = 0, None
    for i, t in enumerate(toks[1:], start=1):
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
            if depth == 0:
                close = i
                break
    if close is None:
        raise ValueError(f"unbalanced parentheses: {stmt!r}")
    arg_toks = toks[2:close] + [Tok("op", ")"), Tok("eof", "")]
    rest = toks[close + 1:]

    def fn(df: DataFrame) -> DataFrame:
        cond = None
        if rest and rest[0].kind == "where":
            cond = Parser(rest[1:]).bool_expr()
        elif rest and rest[0].kind != "eof":
            raise ValueError(f"trailing tokens after statement: {stmt!r}")
        if group_where is not None:
            g = Parser(_tokenize(group_where)).bool_expr()
            cond = g if cond is None \
                else (F.coalesce(cond, F.lit(False)) & g)
        return _apply_editor(df, editor, Parser(arg_toks), cond)

    return fn


def compile_value(expr: str):
    """A bare OTTL value expression (grammar's standalone statement
    form, e.g. ``Len(attributes) + Len(attributes)``) -> Column."""
    toks = _tokenize(expr)
    v = Parser(toks).value()
    return _lift(v)


def any_condition(conds: list[str]) -> Column:
    """OR of OTTL boolean conditions, a NULL result counting as no match
    (error_mode=ignore); an empty list matches nothing."""
    out = F.lit(False)
    for c in conds:
        out = out | F.coalesce(Parser(_tokenize(c)).bool_expr(), F.lit(False))
    return out


def transform_statements(df: DataFrame, statements: list[str],
                         error_mode: str = "ignore",
                         group_where: str | None = None) -> DataFrame:
    """transformprocessor log_statements execution
    (processor/transformprocessor/internal/logs/processor.go:53-60):
    statements run in order over the frame; error_mode=ignore maps to
    NULL-safe conditions (a failing condition skips the edit)."""
    for stmt in statements:
        df = compile_statement(stmt, group_where=group_where)(df)
    return df


# transformprocessor config surface ----------------------------------------

_SIGNAL_CONTEXTS = {
    # config.go ContextStatements validation: which ottl contexts each
    # signal's statement groups may declare
    "log_statements": {"", "log", "resource", "scope"},
    "trace_statements": {"", "span", "spanevent", "resource", "scope"},
    "metric_statements": {"", "metric", "datapoint", "resource", "scope"},
    "profile_statements": {"", "profile", "resource", "scope"},
}


def transform_processor(config: dict):
    """transformprocessor config -> per-signal DataFrame transforms
    (processor/transformprocessor/config.go): ``{error_mode,
    log_statements/trace_statements/metric_statements/
    profile_statements: [{context, statements, conditions?}]}``.

    Returns ``{signal_key: fn}`` where each fn applies that signal's
    statement groups in order.  A group's ``conditions`` list is
    OR-combined and AND-ed onto every statement's where clause (the
    reference gates the whole group per record the same way).  The
    flat engine resolves paths by column name, so the declared context
    only selects validation — span paths like ``status.code`` and
    datapoint paths like ``value_double`` resolve against the
    signal frame's columns either way.
    """
    unknown = set(config) - set(_SIGNAL_CONTEXTS) - {"error_mode", "flatten_data"}
    if unknown:
        raise ValueError(f"unknown transformprocessor keys: {sorted(unknown)}")

    out = {}
    for signal, allowed in _SIGNAL_CONTEXTS.items():
        groups = config.get(signal) or []
        compiled: list = []
        for g in groups:
            if isinstance(g, str):          # bare-statement form
                g = {"statements": [g]}
            ctx = g.get("context", "")
            if ctx not in allowed:
                raise ValueError(
                    f"context {ctx!r} is not valid for {signal} "
                    f"(allowed: {sorted(allowed - {''})})")
            conds = g.get("conditions") or []
            group_where = " or ".join(f"({c})" for c in conds) or None
            compiled.append((list(g.get("statements") or []), group_where))

        def fn(df: DataFrame, _compiled=compiled) -> DataFrame:
            for statements, gw in _compiled:
                df = transform_statements(df, statements, group_where=gw)
            return df

        out[signal] = fn
    return out


def share_resource_mutations(df: DataFrame, group_col: str,
                             resource_col: str = "resource",
                             order_col: str = "_ord") -> DataFrame:
    """Restore pdata's UNFLATTENED resource semantics after a
    transform: the reference shares ONE resource object among all of a
    ResourceLogs group's records, so per-record statement writes to
    ``resource.attributes`` land on the shared object and the LAST
    record's write is what every record sees
    (processor/transformprocessor/processor_test.go
    TestProcessLogsWithoutFlatten vs WithFlatten).

    The flat engine is natively flattened — per-record resource copies,
    exactly the ``flatten_data: true`` gate — so shared semantics are
    opt-in: after running the statements, every row's resource map
    becomes its group's last-by-``order_col`` value. ``group_col``
    identifies the original ResourceLogs grouping (e.g. a canonical
    rendering of the PRE-transform resource plus its document index).
    """
    from pyspark.sql import Window as W
    w = W.partitionBy(group_col)
    return df.withColumn(
        resource_col,
        F.max_by(F.col(resource_col), F.col(order_col)).over(w))
