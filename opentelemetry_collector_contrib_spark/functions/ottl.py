"""OTTL converter/editor function library -> Spark Column builders.

The reference's scalar-function surface is the OTTL registry
(pkg/ottl/ottlfuncs/functions.go:34-127, ~100 functions). Here each
OTTL name maps to a builder ``(*Column|literal) -> Column`` over
native pyspark.sql.functions — JVM-side, codegen'd, no UDFs. The
registry is user-extensible via :func:`register`, mirroring the
user-supplied factory map (pkg/ottl/functions.go).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


class MapRef:
    """A bare map root (``attributes`` / ``resource``) passed to a
    converter — carries the Column plus the fact that it IS a map, so
    size/keys/values semantics resolve correctly (a raw Column's type
    is unknowable at plan-build time)."""

    def __init__(self, col: Column, root: str):
        self.col = col
        self.root = root


def _col(x) -> Column:
    if isinstance(x, Column):
        return x
    if isinstance(x, MapRef):
        return x.col
    if isinstance(x, list):
        return F.array(*[_col(v) for v in x])
    if isinstance(x, dict):
        import json
        return F.lit(json.dumps(x, separators=(",", ":")))
    return F.lit(x)


# --- JSON-lane marking ------------------------------------------------------
# Columns produced by chained indexing through the flat model's
# JSON-string encodings (attributes["foo"]["slice"], …) are plain
# string Columns holding JSON text.  Converters whose semantics differ
# for slices vs strings (ContainsValue, Sort) need to know; a Column's
# Spark type is not inspectable at builder time, so the DSL marks them
# here (same keep-alive idiom as Parser._ts_refs in ottl_dsl).
_JSON_REFS: list = []
_JSON_IDS: set[int] = set()


def mark_json(col: Column) -> Column:
    """Tag ``col`` as a JSON-text read from the flat model."""
    _JSON_IDS.add(id(col))
    _JSON_REFS.append(col)
    return col


def is_json_ref(x) -> bool:
    return isinstance(x, Column) and id(x) in _JSON_IDS


def json_array(x) -> Column:
    """Coerce a JSON-lane value to ARRAY<STRING> of raw element texts
    (from_json keeps non-string elements as their literal JSON, so
    object elements round-trip for further indexing)."""
    return F.from_json(_col(x), "array<string>")


FUNCTIONS: dict[str, Callable[..., Column]] = {}


def register(name: str, fn: Callable[..., Column]) -> None:
    FUNCTIONS[name] = fn


def call(name: str, *args, **kwargs) -> Column:
    if name not in FUNCTIONS:
        raise KeyError(f"unknown OTTL function {name}")
    return FUNCTIONS[name](*args, **kwargs)


def _camel(c, target: str) -> Column:
    c = _col(c)
    if target == "upper":
        return F.upper(c)
    if target == "lower":
        return F.lower(c)
    if target == "snake":
        # insert _ before interior capitals, then lowercase
        return F.lower(F.regexp_replace(F.regexp_replace(c, r"([a-z0-9])([A-Z])", r"$1_$2"),
                                        r"([A-Z]+)([A-Z][a-z])", r"$1_$2"))
    if target == "camel":
        return F.regexp_replace(F.initcap(F.regexp_replace(_col(c), "_", " ")), " ", "")
    raise ValueError(target)


def _hashes():
    from opentelemetry_collector_contrib_spark.functions import hashes
    return hashes


def _string(c) -> Column:
    """String converter (func_string.go): python literals render
    exactly as the reference would (lists/maps via JSON, bools
    lowercase); Columns cast."""
    import json
    if isinstance(c, bool):
        return F.lit("true" if c else "false")
    if isinstance(c, (list, dict)):
        return F.lit(json.dumps(c, separators=(",", ":")))
    return _col(c).cast("string")


def _len(c) -> Column:
    """Len converter (func_len.go): python literals exactly; a bare
    map root is size; a string Column holding a JSON object/array (the
    flat-model encoding of nested pdata values) is the element count,
    otherwise character length."""
    if isinstance(c, (str, list, dict)):
        return F.lit(len(c))
    if isinstance(c, MapRef):
        return F.size(c.col)
    col = _col(c)
    return (F.when(col.startswith("{")
                   & F.from_json(col, "map<string,string>").isNotNull(),
                   F.size(F.from_json(col, "map<string,string>")))
            .when(col.startswith("[")
                  & F.from_json(col, "array<string>").isNotNull(),
                  F.size(F.from_json(col, "array<string>")))
            .otherwise(F.length(col)))


def _hex(c) -> Column:
    """Hex converter (func_hex.go): exact Go encodings for python
    literals — bool 1 byte, int64 big-endian 8 bytes, float64 IEEE
    bits, string raw utf-8 bytes; Columns best-effort lower(hex)."""
    import struct
    if isinstance(c, bool):
        return F.lit("01" if c else "00")
    if isinstance(c, int):
        return F.lit(struct.pack(">q", c).hex())
    if isinstance(c, float):
        return F.lit(struct.pack(">d", c).hex())
    if isinstance(c, str):
        return F.lit(c.encode("utf-8").hex())
    return F.lower(F.hex(_col(c)))


def _parse_csv(target, headers, delimiter=",", headerDelimiter=None,
               mode="strict") -> Column:
    """ParseCSV (ottlfuncs/func_parse_csv.go): header names split by
    headerDelimiter, row split by delimiter -> MAP<header, value>."""
    hd = headerDelimiter if headerDelimiter is not None else delimiter
    if not isinstance(headers, str):
        raise ValueError("ParseCSV headers must be a literal string")
    names = headers.split(hd)
    schema = ", ".join(f"`{n}` string" for n in names)
    parsed = F.from_csv(_col(target), schema, {"sep": delimiter})
    entries = []
    for n in names:
        entries.append(F.lit(n))
        entries.append(parsed.getField(n))
    return F.create_map(*entries)


def _to_key_value_string(m, kv_delim="=", pair_delim=" ",
                         sort_output=False) -> Column:
    """ToKeyValueString (ottlfuncs/func_to_key_value_string.go): map ->
    "k=v k2=v2"; values containing either delimiter are quoted."""
    col = _col(m)
    entries = F.map_entries(col)
    if sort_output:
        entries = F.array_sort(entries)   # struct sort: by key first

    def render(e):
        k, v = e.getField("key"), e.getField("value")
        needs_quote = v.contains(kv_delim) | v.contains(pair_delim)
        vq = F.when(needs_quote, F.concat(F.lit('"'), v, F.lit('"'))).otherwise(v)
        return F.concat(k, F.lit(kv_delim), vq)

    return F.array_join(F.transform(entries, render), pair_delim)


def _truncate_time(c, unit) -> Column:
    """TruncateTime (func_truncate_time.go): the reference takes a
    Duration — map round second/minute/... durations to date_trunc
    units (arbitrary durations would need epoch math)."""
    if isinstance(unit, Column):
        raise ValueError("TruncateTime needs a literal duration/unit")
    if isinstance(unit, (int, float)):
        by_seconds = {0.001: "millisecond", 1.0: "second", 60.0: "minute",
                      3600.0: "hour", 86400.0: "day"}
        if float(unit) not in by_seconds:
            raise ValueError(f"unsupported truncation duration {unit}s")
        unit = by_seconds[float(unit)]
    return F.date_trunc(unit, _col(c))


def _parse_key_value(c, kv="=", pair=" ") -> Column:
    """ParseKeyValue (ottlfuncs/func_parse_key_value.go): quote-aware —
    a double-quoted value may contain both delimiters
    (``k1!v1_k2!"v2__!__v2"`` -> k2 = v2__!__v2). One regex pass
    extracts pairs; quotes strip in a per-pair transform."""
    import re as _re
    ek, ep = _re.escape(kv), _re.escape(pair)
    pair_pat = f'[^{ep}{ek}]+{ek}(?:"[^"]*"|[^{ep}]*)'
    pairs = F.regexp_extract_all(_col(c), F.lit(pair_pat), F.lit(0))

    def entry(p):
        k = F.regexp_extract(p, f"^([^{ep}{ek}]+){ek}", 1)
        v = F.regexp_replace(p, f"^[^{ep}{ek}]+{ek}", "")
        unq = F.when(v.startswith('"') & v.endswith('"') & (F.length(v) >= 2),
                     v.substr(F.lit(2), F.length(v) - 2)).otherwise(v)
        return F.struct(F.trim(k).alias("key"), unq.alias("value"))

    return F.map_from_entries(F.transform(pairs, entry))


def _extract_grok_patterns(target, pattern, named_captures_only=True) -> Column:
    """ExtractGrokPatterns converter
    (ottlfuncs/func_extract_grok_patterns.go:29-70) -> captures map;
    typed captures stay strings in the MAP<STRING,STRING> model.

    ONE regex pass via _single_pass_captures (a per-group
    regexp_extract would re-run the — potentially huge, e.g. IPV6 —
    pattern once per capture), with the capture array bound through a
    1-element-array lambda so it evaluates exactly once per row."""
    from opentelemetry_collector_contrib_spark.operators.parsers import (
        _single_pass_captures, compile_grok)
    regex, groups, types = compile_grok(pattern,
                                        named_captures_only=named_captures_only)
    n_groups = max(groups.values(), default=0)

    def typed(key: str, v: Column) -> Column:
        # honor %{PAT:name:int|float|double} modifiers: the flat map
        # stores strings, so type conversion canonicalizes the RENDERING
        # (":double" 340 -> "340.0", ":int" "0042" -> "42") exactly as
        # the reference's typed capture stringifies downstream
        t = types.get(key)
        if t in ("int", "long"):
            return F.coalesce(v.try_cast("long").cast("string"), v)
        if t in ("float", "double"):
            return F.coalesce(v.try_cast("double").cast("string"), v)
        return v

    if n_groups == 0:
        return F.create_map().cast("map<string,string>")
    if n_groups == 1:
        (key, idx), = groups.items()
        raw = F.regexp_extract(_col(target), regex, idx)
        m = F.create_map(
            F.lit(key), F.when(raw != "", typed(key, raw)).otherwise(raw))
        return F.map_filter(m, lambda _k, v: v != F.lit(""))
    cap = _single_pass_captures(_col(target), regex, n_groups)

    def build(c: Column) -> Column:
        return F.map_from_arrays(
            F.array(*[F.lit(k) for k in groups]),
            F.array(*[typed(k, F.element_at(c, i))
                      for k, i in groups.items()]))

    m = F.element_at(F.transform(F.array(cap), build), 1)
    # non-matching rows: the split yields != n_groups elements, so all
    # element_at lookups are NULL/empty — filtered out below
    return F.map_filter(m, lambda _k, v: v.isNotNull() & (v != F.lit("")))


_REGISTRY: dict[str, Callable[..., Column]] = {
    # --- string (func_convert_case.go, func_split.go, ...) ---
    "ConvertCase": _camel,
    "ToUpperCase": lambda c: F.upper(_col(c)),
    "ToLowerCase": lambda c: F.lower(_col(c)),
    "ToSnakeCase": lambda c: _camel(c, "snake"),
    "ToCamelCase": lambda c: _camel(c, "camel"),
    # Split is a LITERAL delimiter in the reference (strings.Split);
    # Spark's split takes a regex, so escape it
    "Split": lambda c, d: F.split(_col(c), __import__("re").escape(d)),
    "Substring": lambda c, start, length: F.substring(_col(c), start + 1, length),
    "Trim": lambda c, *cut: F.trim(_col(c)) if not cut else F.btrim(_col(c), F.lit(cut[0])),
    "Format": lambda fmt, args: F.format_string(fmt, *[_col(a) for a in args]),
    "Concat": lambda args, sep="": F.concat_ws(sep, *[_col(a) for a in args]),
    "HasPrefix": lambda c, p: F.startswith(_col(c), _col(p)),
    "HasSuffix": lambda c, s: F.endswith(_col(c), _col(s)),
    "Len": _len,
    "IsMatch": lambda c, pat: _col(c).rlike(pat),
    "ReplaceString": lambda c, old, new: F.replace(_col(c), F.lit(old), F.lit(new)),
    # --- hashing / encoding (func_sha256.go, func_hex.go, ...) ---
    "SHA1": lambda c: F.sha1(_col(c).cast("binary")),
    "SHA256": lambda c: F.sha2(_col(c).cast("binary"), 256),
    "SHA512": lambda c: F.sha2(_col(c).cast("binary"), 512),
    "MD5": lambda c: F.md5(_col(c).cast("binary")),
    # exact reference-compatible hashes (functions/hashes.py — verified
    # against the reference test vectors; pandas UDFs that hash the
    # whole Arrow batch with numpy kernels)
    "Murmur3Hash": lambda c: _hashes().murmur3_hex_udf(_col(c)),
    "Murmur3Hash128": lambda c: _hashes().murmur3_128_hex_udf(_col(c)),
    "FNV": lambda c: _hashes().fnv1a64_udf(_col(c)),
    "Hex": _hex,
    "Base64Decode": lambda c: F.unbase64(_col(c)),
    "Decode": lambda c, enc="base64": F.unbase64(_col(c)) if enc == "base64" else F.decode(_col(c), enc),
    "UUID": lambda: F.uuid(),
    # --- time (func_time.go, func_format_time.go, func_truncate_time.go...) ---
    "Time": None,        # filled below (needs parser helpers)
    "FormatTime": None,  # filled below
    "TruncateTime": _truncate_time,
    "Now": lambda: F.current_timestamp(),
    "UnixSeconds": lambda c: F.unix_seconds(_col(c).cast("timestamp")),
    "UnixMilli": lambda c: F.unix_millis(_col(c).cast("timestamp")),
    "UnixMicro": lambda c: F.unix_micros(_col(c).cast("timestamp")),
    "UnixNano": lambda c: F.unix_micros(_col(c).cast("timestamp")) * F.lit(1000),
    "Unix": lambda sec, nsec=0: F.timestamp_seconds(_col(sec) + _col(nsec) / F.lit(1e9)),
    "Year": lambda c: F.year(_col(c)),
    "Month": lambda c: F.month(_col(c)),
    "Day": lambda c: F.dayofmonth(_col(c)),
    "Weekday": lambda c: F.dayofweek(_col(c)) - F.lit(1),  # Go: Sunday=0
    "Hour": lambda c: F.hour(_col(c)),
    "Minute": lambda c: F.minute(_col(c)),
    "Second": lambda c: F.second(_col(c)),
    "Nanosecond": lambda c: (F.unix_micros(_col(c).cast("timestamp")) % F.lit(1_000_000)) * F.lit(1000),
    "Duration": lambda s: F.expr(f"INTERVAL '{s}'") if isinstance(s, str) else _col(s),
    # --- math (math.go, func_log.go, ...) ---
    "Log": lambda c: F.log(_col(c)),
    "Double": lambda c: _col(c).try_cast("double"),
    "Int": lambda c: _col(c).try_cast("long"),
    "ParseInt": lambda c, base=10: F.lit(int(c, base)) if isinstance(c, str)
        else F.conv(_col(c), base, 10).try_cast("long"),
    "IsDouble": lambda c: _col(c).try_cast("double").isNotNull(),
    "IsInt": lambda c: _col(c).try_cast("long").isNotNull(),
    "IsBool": lambda c: F.lower(_col(c).cast("string")).isin("true", "false"),
    "IsString": lambda c: _col(c).cast("string").isNotNull(),
    # --- map / array (func_keys.go, func_values.go, func_sort.go, ...) ---
    "Keys": lambda m: F.array(*[F.lit(k) for k in m]) if isinstance(m, dict)
        else F.map_keys(_col(m)),
    # dict literals: values stringify (mixed-type pdata values land as
    # their renderings in the flat model — ANSI forbids bool+int+str
    # array coercion)
    "Values": lambda m: F.array(*[_string(v) for v in m.values()])
        if isinstance(m, dict) else F.map_values(_col(m)),
    "MergeMaps": lambda a, b: F.map_concat(_col(a), _col(b)),
    "SliceToMap": None,  # filled below
    "Sort": None,  # filled below
    "Append": lambda arr, v: F.array_append(_col(arr), _col(v)),
    "Flatten": lambda arr: F.flatten(_col(arr)),
    "ContainsValue": None,  # filled below
    # type predicates: python literals answer exactly; Columns use the
    # flat-model JSON heuristic (nested pdata values are JSON strings)
    "IsList": lambda c: F.lit(True) if isinstance(c, list)
        else (F.lit(False) if isinstance(c, (str, int, float, bool, dict))
              else (_col(c).startswith("[")
                    & F.from_json(_col(c), "array<string>").isNotNull())),
    "IsMap": lambda c: F.lit(True) if isinstance(c, (dict, MapRef))
        else (F.lit(False) if isinstance(c, (str, int, float, bool, list))
              else (_col(c).startswith("{")
                    & F.from_json(_col(c), "map<string,string>").isNotNull())),
    # --- telemetry (func_trace_id.go, func_span_id.go, func_is_root_span.go) ---
    # flat model carries trace/span ids as lowercase hex strings
    # (Column.__getattr__ fabricates fields, so exclude Columns before
    # duck-typing for HexLit.digits)
    "TraceID": lambda h: F.lit(h.digits.lower().zfill(32))
        if not isinstance(h, Column) and hasattr(h, "digits") else _col(h),
    "SpanID": lambda h: F.lit(h.digits.lower().zfill(16))
        if not isinstance(h, Column) and hasattr(h, "digits") else _col(h),
    "ProfileID": lambda h: F.lit(h.digits.lower().zfill(32))
        if not isinstance(h, Column) and hasattr(h, "digits") else _col(h),
    "String": lambda c: _string(c),
    "IsRootSpan": None,  # filled below
    # --- parse family (func_parse_json.go, func_parse_csv.go, ...) ---
    "ParseJSON": lambda c, schema="map<string,string>": F.from_json(_col(c), schema),
    "ParseCSV": _parse_csv,
    "ParseKeyValue": _parse_key_value,
    "ToKeyValueString": _to_key_value_string,
    "ExtractGrokPatterns": _extract_grok_patterns,
    "ParseXML": lambda c, schema: F.from_xml(_col(c), schema),
    "ExtractPatterns": None,  # filled below
    # --- misc ---
    "URL": None,  # filled below (uri_parts)
    "IsValidLuhn": None,  # filled below
    "UserAgent": None,  # filled below
}


def _slice_to_map(arr, key_path=None, value_path=None) -> Column:
    """SliceToMap converter (ottlfuncs/func_slice_to_map.go): a slice
    of maps keyed by each element's ``key_path`` value (element index
    as string when no key path, matching the reference); values are
    the full element (raw JSON text in the flat model) or the
    ``value_path`` member."""
    elems = json_array(arr)  # flat model: slices are JSON-array text
    kp = key_path[0] if key_path else None
    vp = value_path[0] if value_path else None

    def entry(e, i):
        key = F.get_json_object(e, f"$['{kp}']") if kp else i.cast("string")
        val = F.get_json_object(e, f"$['{vp}']") if vp else e
        return F.struct(key.alias("key"), val.alias("value"))

    entries = F.transform(elems, entry)
    # elements whose key path is missing are dropped (reference skips them)
    return F.map_from_entries(
        F.filter(entries, lambda s: s.getField("key").isNotNull()))


def _sort(arr, order="asc") -> Column:
    """Sort converter (func_sort.go): homogeneous arrays sort
    natively; mixed-type python lists fall back to the reference's
    string-representation ordering (e2e: Sort([false, Int(11),
    Double(2.2), "three"]) == [11, 2.2, false, "three"], i.e. lexical
    on the rendered values); JSON-lane strings parse first."""
    if isinstance(arr, list):
        kinds = {("b" if isinstance(x, bool) else
                  "n" if isinstance(x, (int, float)) else
                  "c" if isinstance(x, (Column, MapRef)) else "s")
                 for x in arr}
        if kinds <= {"n", "c"} or kinds in ({"b"}, {"s"}):
            col = F.array(*[_col(x) for x in arr])  # homogeneous: native
        else:
            col = F.array(*[x.cast("string") if isinstance(x, Column)
                            else _string(x) for x in arr])
    elif is_json_ref(arr):
        col = json_array(arr)
    else:
        col = _col(arr)
    out = F.array_sort(col)
    return out if order == "asc" else F.reverse(out)


def _contains_value(arr, v) -> Column:
    """ContainsValue converter: python lists answer exactly; JSON-lane
    strings parse to raw-element arrays and compare on the flat-model
    string rendering; real array Columns use native array_contains."""
    if isinstance(arr, list):
        return F.lit(v in arr)
    if is_json_ref(arr):
        return F.coalesce(
            F.array_contains(json_array(arr), _string(v)), F.lit(False))
    return F.array_contains(_col(arr), v)


def _is_root_span(parent_span_id=None) -> Column:
    """IsRootSpan converter (func_is_root_span.go): no-arg form reads
    the span context's parent_span_id (flat model: lowercase-hex
    string column; root = NULL / empty / all-zero)."""
    pid = F.col("parent_span_id") if parent_span_id is None \
        else _col(parent_span_id)
    return (pid.isNull() | (pid == F.lit(""))
            | (pid == F.lit("0000000000000000")))


def _adjusted_count(trace_state=None) -> Column:
    """AdjustedCount converter (connector/signaltometricsconnector/
    internal/customottl/adjustedcount.go): 1 / sampling-probability
    derived from the W3C tracestate's OTel ``th:`` T-value (OTEP-235:
    threshold = hex T-value right-padded to 14 digits; probability =
    1 - threshold/2^56). Missing/foreign/zero thresholds -> 1 (the
    reference's defaults); a 100%-rejection threshold yields NULL
    (division by zero) rather than the reference's error."""
    ts = F.col("trace_state") if trace_state is None else _col(trace_state)
    ot = F.str_to_map(F.coalesce(ts, F.lit("")), F.lit(","), F.lit("="))["ot"]
    tval = F.str_to_map(F.coalesce(ot, F.lit("")), F.lit(";"),
                        F.lit(":"))["th"]
    thr = F.conv(F.rpad(tval, 14, "0"), 16, 10).try_cast("double")
    p = F.lit(1.0) - thr / F.lit(float(1 << 56))
    return F.when(tval.isNull() | thr.isNull(), F.lit(1.0)) \
        .when(p > 0, F.lit(1.0) / p)


FUNCTIONS["AdjustedCount"] = _adjusted_count
FUNCTIONS["SliceToMap"] = _slice_to_map
FUNCTIONS["Sort"] = _sort
FUNCTIONS["ContainsValue"] = _contains_value
FUNCTIONS["IsRootSpan"] = _is_root_span


def _time(c, layout, layout_type="strptime") -> Column:
    from opentelemetry_collector_contrib_spark.operators.parsers import parse_time_col
    return parse_time_col(_col(c), layout, layout_type)


def _format_time(c, layout) -> Column:
    from opentelemetry_collector_contrib_spark.operators.parsers import strptime_to_java
    return F.date_format(_col(c), strptime_to_java(layout))


def _extract_patterns(c, pattern) -> Column:
    import re as _re
    from opentelemetry_collector_contrib_spark.operators.parsers import _captures_map
    compiled = _re.compile(pattern)
    return _captures_map(_col(c), pattern, dict(compiled.groupindex))


def _url(c) -> Column:
    from opentelemetry_collector_contrib_spark.operators.parsers import uri_parts
    return uri_parts(_col(c))


def _is_valid_luhn(c) -> Column:
    """Luhn checksum (func_is_valid_luhn.go) via higher-order funcs —
    digits reversed, every 2nd doubled with 9-wrap, sum % 10 == 0."""
    digits = F.reverse(F.split(F.regexp_replace(_col(c), r"\D", ""), ""))
    digits = F.filter(digits, lambda d: d != F.lit(""))
    total = F.aggregate(
        F.zip_with(digits, F.sequence(F.lit(0), F.size(digits) - 1),
                   lambda d, i: F.when(i % 2 == 1,
                                       F.when(d.cast("int") * 2 > 9, d.cast("int") * 2 - 9)
                                       .otherwise(d.cast("int") * 2))
                   .otherwise(d.cast("int"))),
        F.lit(0), lambda acc, x: acc + x)
    return (F.size(digits) > 1) & (total % 10 == 0)


# ua-parser-style ordered rule tables (first match wins), restating
# the uap-core regexes.yaml families the reference loads via
# uaparser.NewFromSaved() (ottlfuncs/func_useragent.go:33). Order
# matters exactly as in uap-core: bots/headless first (their UA
# strings embed browser tokens), then app/SDK specifics, then forks
# whose UA contains "Chrome"/"Safari", iOS variants, the mainline
# families, and finally http tools. Versions render like uap-go's
# ToVersionString(): at most Major.Minor.Patch joined with dots.
_V3 = r"(\d+)(?:\.(\d+))?(?:\.(\d+))?"


def _ua_rule(family, detect=None, vsrc=None, token=None):
    token = token or family
    detect = detect or token
    return (family, detect, vsrc or (detect + r"[/ ]" + _V3))


_UA_RULES = [
    _ua_rule("Headless Chrome", token="HeadlessChrome",
             detect="HeadlessChrome"),
    _ua_rule("Electron"),
    # crawl / social / AI bots
    *[_ua_rule(b) for b in
      ("Googlebot", "bingbot", "YandexBot", "Baiduspider", "DuckDuckBot",
       "Twitterbot", "Discordbot", "LinkedInBot", "TelegramBot",
       "WhatsApp", "Applebot", "AhrefsBot", "SemrushBot", "PetalBot",
       "GPTBot", "CCBot", "Bytespider", "MJ12bot", "DotBot")],
    _ua_rule("FacebookBot", detect="facebookexternalhit"),
    _ua_rule("Slackbot", detect="Slackbot"),
    # app / SDK specifics (uap-core has dedicated entries)
    _ua_rule("ViaFree", detect=r"(?:ViaFree|Viaplay)",
             vsrc=r"(?:ViaFree|Viaplay)(?:-\w+)?/" + _V3),
    _ua_rule("ibm-cos-sdk-java", detect=r"ibm-cos-sdk-java/",
             vsrc=r"ibm-cos-sdk-java/" + _V3),
    # Chromium forks (embed Chrome/Safari tokens)
    _ua_rule("Samsung Internet", detect="SamsungBrowser"),
    _ua_rule("UC Browser", detect="UCBrowser"),
    _ua_rule("Yandex Browser", detect="YaBrowser"),
    _ua_rule("Vivaldi"), _ua_rule("Brave"), _ua_rule("Whale"),
    _ua_rule("Mi Browser", detect="MiuiBrowser"),
    _ua_rule("QQ Browser", detect="QQBrowser"),
    _ua_rule("Amazon Silk", detect="Silk"),
    _ua_rule("Pale Moon", detect="PaleMoon"),
    _ua_rule("Waterfox"), _ua_rule("SeaMonkey"),
    # iOS browser variants
    _ua_rule("Chrome Mobile iOS", detect="CriOS"),
    _ua_rule("Firefox iOS", detect="FxiOS"),
    _ua_rule("Edge Mobile", detect="EdgiOS"),
    _ua_rule("Edge", detect=r"Edg(?:e|A)?/", vsrc=r"Edg(?:e|A)?/" + _V3),
    _ua_rule("Opera", detect="OPR/", vsrc=r"OPR/" + _V3),
    _ua_rule("Opera", detect="Opera", vsrc=r"Opera[/ ]" + _V3),
    _ua_rule("Firefox Mobile",
             detect=r"Android[^)]*\).*Firefox/|Firefox/[\d.]+.*Mobile",
             vsrc=r"Firefox/" + _V3),
    _ua_rule("Firefox", detect="Firefox/", vsrc=r"Firefox/" + _V3),
    _ua_rule("Chrome Mobile", detect=r"Chrome/[\d.]+ Mobile",
             vsrc=r"Chrome/" + _V3),
    _ua_rule("Chrome", detect="Chrome/", vsrc=r"Chrome/" + _V3),
    _ua_rule("Mobile Safari",
             detect=r"Version/[\d.]+ Mobile(?:/\w+)? Safari",
             vsrc=r"Version/" + _V3),
    _ua_rule("Safari", detect=r"Version/[\d.]+.*Safari",
             vsrc=r"Version/" + _V3),
    _ua_rule("IE", detect="MSIE", vsrc=r"MSIE[/ ]" + _V3),
    # IE11 drops the MSIE token; the version rides rv: not Trident/
    _ua_rule("IE", detect=r"Trident/.*rv:", vsrc=r"rv:" + _V3),
    # http tools / SDK clients
    *[_ua_rule(t) for t in
      ("curl", "Wget", "Python-urllib", "aiohttp",
       "Go-http-client", "okhttp", "Apache-HttpClient", "axios",
       "node-fetch", "PostmanRuntime", "HTTPie", "libwww-perl")],
    _ua_rule("Python Requests", detect="python-requests"),
    _ua_rule("Java", detect=r"\bJava[/ ]\d", vsrc=r"Java[/ ]" + _V3),
]

# (family, detect, version source): version is a 3-group regex, a
# ("lit", value) Windows marketing-name replacement (uap-core maps the
# NT kernel versions), or None
_UA_OS_RULES = [
    ("Windows", r"Windows NT 10\.0", ("lit", "10")),
    ("Windows", r"Windows NT 6\.3", ("lit", "8.1")),
    ("Windows", r"Windows NT 6\.2", ("lit", "8")),
    ("Windows", r"Windows NT 6\.1", ("lit", "7")),
    ("Windows", r"Windows NT 6\.0", ("lit", "Vista")),
    ("Windows", r"Windows NT 5\.[12]", ("lit", "XP")),
    ("Windows", r"Windows", None),
    ("Chrome OS", r"CrOS", r"CrOS \S+ " + _V3),
    ("Android", r"Android", r"Android[ -]" + _V3),
    ("iOS", r"iPhone OS \d+_", r"OS (\d+)_(\d+)(?:_(\d+))?"),
    ("iOS", r"\biOS \d", r"iOS " + _V3),
    ("iOS", r"iPhone|iPad|iPod|like Mac OS X", None),
    ("Mac OS X", r"Mac OS X", r"Mac OS X (\d+)[_.](\d+)(?:[_.](\d+))?"),
    ("Linux", r"Linux[ /]\d+\.\d+", r"Linux[ /](\d+)\.(\d+)(?:\.(\d+))?"),
    ("Linux", r"(?i)\blinux\b", None),
]


def _ver3(c: Column, pattern: str) -> Column:
    """uap-go ToVersionString(): join the (up to three) captured
    version groups with dots, skipping absent ones."""
    parts = [F.nullif(F.regexp_extract(c, pattern, g), F.lit(""))
             for g in (1, 2, 3)]
    return F.concat_ws(".", *parts)


def _user_agent(c) -> Column:
    """UserAgent converter (ottlfuncs/func_useragent.go) — native
    first-match decomposition over the uap-core-ordered rule tables
    above into the semconv (name, version, os.name, os.version) map.
    Versions truncate to Major.Minor.Patch exactly like uap-go's
    ToVersionString(); os.version is omitted when empty (func_
    useragent.go:53-57) while user_agent.version stays present even
    when empty. Unmatched agents/OS fall back to "Other" (uap-go's
    default family)."""
    c = _col(c)
    name, version = F.lit("Other"), F.lit("")
    for family, detect, vsrc in reversed(_UA_RULES):
        hit = c.rlike(detect)
        name = F.when(hit, F.lit(family)).otherwise(name)
        version = F.when(hit, _ver3(c, vsrc)).otherwise(version)
    os_name, os_version = F.lit("Other"), F.lit("")
    for family, detect, vsrc in reversed(_UA_OS_RULES):
        hit = c.rlike(detect)
        os_name = F.when(hit, F.lit(family)).otherwise(os_name)
        if vsrc is None:
            ver = F.lit("")
        elif isinstance(vsrc, tuple):
            ver = F.lit(vsrc[1])
        else:
            ver = _ver3(c, vsrc)
        os_version = F.when(hit, ver).otherwise(os_version)
    m = F.create_map(
        F.lit("user_agent.original"), c,
        F.lit("user_agent.name"), name,
        F.lit("user_agent.version"), version,
        F.lit("os.name"), os_name,
        F.lit("os.version"), os_version,
    )
    return F.map_filter(
        m, lambda k, v: (k != F.lit("os.version")) | (v != F.lit("")))


_REGISTRY.update(
    Time=_time,
    FormatTime=_format_time,
    ExtractPatterns=_extract_patterns,
    URL=_url,
    IsValidLuhn=_is_valid_luhn,
    UserAgent=_user_agent,
)

for _name, _fn in _REGISTRY.items():
    if _fn is not None:
        register(_name, _fn)


# --- duration family (func_duration.go, Hours/Minutes/... converters) ------

def _go_duration_seconds(c):
    """Go duration string ("1h2m3.5s", "150ms") -> seconds DOUBLE.

    Literal strings fold to a python float on the driver (so converter
    config like TruncateTime(ts, Duration("1s")) sees a plain number);
    Columns parse natively via one regex per unit ('m' disambiguated
    from 'ms' via lookahead)."""
    if isinstance(c, str):
        import re as _re
        total = 0.0
        for num, unit in _re.findall(r"([\d.]+)(h|ms|us|ns|m|s)", c):
            total += float(num) * {"h": 3600.0, "m": 60.0, "s": 1.0,
                                   "ms": 1e-3, "us": 1e-6, "ns": 1e-9}[unit]
        return total
    s = _col(c)
    def unit(pat, mult):
        return F.coalesce(F.regexp_extract(s, pat, 1).try_cast("double"),
                          F.lit(0.0)) * F.lit(mult)
    # plain 's' requires a digit immediately before it, so it cannot
    # double-count the ms/us/ns forms (those have a letter before 's')
    return (unit(r"([\d.]+)h", 3600.0)
            + unit(r"([\d.]+)m(?![s])", 60.0)
            + unit(r"([\d.]+)s", 1.0)
            + unit(r"([\d.]+)ms", 0.001)
            + unit(r"([\d.]+)us", 0.000001)
            + unit(r"([\d.]+)ns", 1e-9))


def _uuid_v7() -> Column:
    """UUIDv7 (func_uuid_v7.go): millisecond-timestamp-prefixed,
    version/variant bits correct, random tail from uuid()."""
    ts_hex = F.lower(F.lpad(F.hex(F.unix_millis(F.current_timestamp())), 12, "0"))
    r = F.replace(F.uuid(), F.lit("-"), F.lit(""))
    return F.concat(
        F.substring(ts_hex, 1, 8), F.lit("-"), F.substring(ts_hex, 9, 4),
        F.lit("-7"), F.substring(r, 14, 3),
        F.lit("-"), F.substring(r, 17, 4),
        F.lit("-"), F.substring(r, 21, 12))


register("Duration", _go_duration_seconds)
register("Hours", lambda d: _col(d) / F.lit(3600.0))
register("Minutes", lambda d: _col(d) / F.lit(60.0))
register("Seconds", lambda d: _col(d))
# reference returns int64 for the sub-second units (func_duration.go)
register("Milliseconds", lambda d: (_col(d) * F.lit(1000.0)).cast("long"))
register("Microseconds", lambda d: (_col(d) * F.lit(1_000_000.0)).cast("long"))
register("Nanoseconds", lambda d: (_col(d) * F.lit(1_000_000_000.0)).cast("long"))
# GetXML (func_get_xml.go) returns the SERIALIZED matched elements;
# text()/attribute selectors keep the JVM xpath string-value path
register("GetXML",
         lambda c, xpath: F.concat_ws("", F.xpath(_col(c), F.lit(xpath)))
         if ("text()" in xpath or "@" in xpath)
         else _xmlfns().get_xml(_col(c), xpath))
register("UUIDv7", _uuid_v7)


def _xmlfns():
    from opentelemetry_collector_contrib_spark.functions import xmlfns
    return xmlfns


# XML editor family (func_parse_xml.go, func_parse_simplified_xml.go,
# func_insert_xml.go, func_remove_xml.go,
# func_convert_attributes_to_elements_xml.go,
# func_convert_text_to_elements_xml.go) — stdlib-etree pandas UDFs;
# results land as JSON/XML strings in the flat model.
register("ParseXML",
         lambda c, schema=None: F.from_xml(_col(c), schema) if schema
         else _xmlfns().parse_xml(_col(c)))
register("ParseSimplifiedXML", lambda c: _xmlfns().parse_simplified_xml(_col(c)))
register("InsertXML", lambda c, xpath, sub: _xmlfns().insert_xml(_col(c), xpath, sub))
register("RemoveXML", lambda c, xpath: _xmlfns().remove_xml(_col(c), xpath))
register("ConvertAttributesToElementsXML",
         lambda c: _xmlfns().convert_attributes_to_elements_xml(_col(c)))
register("ConvertTextToElementsXML",
         lambda c, xpath="/", name="value":
         _xmlfns().convert_text_to_elements_xml(_col(c), xpath, name))
