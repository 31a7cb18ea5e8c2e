"""Parse operators (the "extract" stage).

Mirrors stanza ``operator/parser/*`` semantics
(pkg/stanza/operator/helper/parser.go:20-34): each parser reads
``parse_from`` (default ``body``), writes extracted fields into the
``parse_to`` map (default ``attributes``), honors ``on_error``
(send/drop), and may embed timestamp/severity/trace sub-parsers.

All hot paths compile to native Column expressions (JVM, whole-stage
codegen) — regexp_extract / from_json / from_csv / str_to_map /
parse_url / to_timestamp — never row-at-a-time Python. Grok compiles
to plain regex at plan-build time on the driver.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.fields import (
    field_col,
    merge_map_into,
    merged_map,
)
from opentelemetry_collector_contrib_spark.model import SEVERITY_TEXT_TO_NUM
from opentelemetry_collector_contrib_spark.operators.base import (
    Operator,
    apply_on_error,
    on_error_steps,
    step_operator,
)


def _strip_named_groups(pattern: str) -> str:
    """``(?P<name>...)`` -> ``(...)`` for the JVM regex engine.

    Group *indexes* (from Python's groupindex) stay valid because only
    the name annotation is removed, not the group itself.
    """
    return _re.sub(r"\(\?P<[^>]+>", "(", pattern)


_CAP_SEP = "\x01"


def _single_pass_captures(src: Column, jpattern: str, n_groups: int) -> Column:
    """Extract ALL capture groups in ONE regex pass.

    ``regexp_extract`` per group would run the (expensive) pattern
    once per group, and every downstream reference to the captures map
    re-expands the tree — the cold-start codegen and runtime both blow
    up. Instead, one ``regexp_replace`` rewrites the whole line to
    ``$1\\x01$2\\x01...`` and a cheap split yields the capture array.
    Callers must bind the result to a real column (its own projection)
    so Catalyst's CollapseProject keeps it single-evaluation.
    """
    if jpattern.startswith("^"):
        wrapped = "(?s)" + jpattern + ".*$"
    else:
        wrapped = "^(?s).*?" + jpattern + ".*$"
    rep = _CAP_SEP.join(f"${i}" for i in range(1, n_groups + 1))
    # Strip any literal \x01 from the source first (conditionally — the
    # contains probe is cheap): otherwise a NON-matching line holding
    # n_groups-1 raw \x01 bytes splits into exactly n_groups elements
    # and is mistaken for a match, leaking line fragments as captures.
    safe = F.when(src.contains(_CAP_SEP),
                  F.regexp_replace(src, _CAP_SEP, "")).otherwise(src)
    return F.split(F.regexp_replace(safe, wrapped, rep), _CAP_SEP)


def _captures_map(col: Column, pattern: str,
                  groups: dict[str, int]) -> Column:
    """Build MAP<STRING,STRING> of named captures via regexp_extract.

    Reference capture semantics: helper/regexp.go:11-28 (named groups
    only, first match, unanchored).
    """
    jpattern = _strip_named_groups(pattern)
    entries = []
    for name, idx in groups.items():
        entries.append(F.lit(name))
        entries.append(F.regexp_extract(col, jpattern, idx))
    return F.create_map(*entries)


# ---------------------------------------------------------------------------
# regex_parser — parser/regex/parser.go:34-67
# ---------------------------------------------------------------------------

def regex_parser(
    pattern: str,
    parse_from: str = "body",
    parse_to: str = "attributes",
    on_error: str = "send",
    timestamp: dict | None = None,
    severity: dict | None = None,
) -> Operator:
    """Named-capture-group regex over a string field -> map of captures.

    The pattern uses Python/RE2-style ``(?P<name>...)`` groups; it is
    compiled once on the driver for group discovery, then executed
    JVM-side via index-based ``regexp_extract`` (vectorized — replaces
    the reference's per-entry LRU match cache,
    parser/regex/parser.go:50-57).
    """
    compiled = _re.compile(pattern)
    if not compiled.groupindex:
        raise ValueError("regex pattern requires named capture groups")
    groups = dict(compiled.groupindex)
    n_groups = compiled.groups
    jpattern = _strip_named_groups(pattern)

    def fn(df: DataFrame) -> DataFrame:
        src = field_col(parse_from)
        # ONE regex pass total: non-matching rows come back unchanged
        # from regexp_replace, so the split yields != n_groups elements
        # — match detection is free (a separate rlike would re-run the
        # pattern over every row). Single-group patterns are ambiguous
        # (1 element either way) and keep the explicit rlike.
        df = df.withColumn("_cap", _single_pass_captures(src, jpattern, n_groups))
        if n_groups > 1:
            matched = F.size(F.col("_cap")) == n_groups
        else:
            matched = src.rlike(jpattern)
        captures = F.when(
            matched,
            F.map_from_arrays(
                F.array(*[F.lit(name) for name in groups]),
                F.array(*[F.element_at(F.col("_cap"), idx) for idx in groups.values()]),
            ))
        df = merge_map_into(df, parse_to, captures)
        df = _apply_subparsers(df, parse_to, timestamp, severity)
        return apply_on_error(df, matched, on_error).drop("_cap")

    return Operator("regex_parser", fn, {"pattern": pattern})


# ---------------------------------------------------------------------------
# grok — OTTL ExtractGrokPatterns (ottlfuncs/func_extract_grok_patterns.go:29-70)
# ---------------------------------------------------------------------------

# Core grok pattern dictionary (public logstash/elastic pattern set,
# re-expressed; non-capturing groups only so our group indexing holds).
GROK_PATTERNS: dict[str, str] = {
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"(?:[+-]?(?:[0-9]+))",
    "POSINT": r"\b(?:[1-9][0-9]*)\b",
    "NONNEGINT": r"\b(?:[0-9]+)\b",
    "BASE10NUM": r"(?:[+-]?(?:(?:[0-9]+(?:\.[0-9]+)?)|(?:\.[0-9]+)))",
    "NUMBER": r"(?:%{BASE10NUM})",
    "BASE16NUM": r"(?:0[xX])?(?:[0-9a-fA-F]+)",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "EMAILLOCALPART": r"[a-zA-Z0-9!#$%&'*+\-/=?^_`{|}~]{1,64}",
    "HOSTNAME": r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?\b",
    "IPV4": r"(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)",
    "IP": r"(?:%{IPV6}|%{IPV4})",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "QUOTEDSTRING": r'(?:"(?:\\.|[^\\"])*"|\'(?:\\.|[^\\\'])*\')',
    "QS": r"%{QUOTEDSTRING}",
    "MONTH": r"\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\b",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?)",
    "TIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})?",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "TIMESTAMP_ISO8601": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}(?::?%{SECOND})?%{ISO8601_TIMEZONE}?",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{ISO8601_TIMEZONE_NUM}",
    "ISO8601_TIMEZONE_NUM": r"[+-][0-9]{4}",
    "LOGLEVEL": r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|[Ii]nfo?(?:rmation)?|INFO?(?:RMATION)?|[Ww]arn?(?:ing)?|WARN?(?:ING)?|[Ee]rr?(?:or)?|ERR?(?:OR)?|[Cc]rit?(?:ical)?|CRIT?(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?)",
    "COMMONAPACHELOG": r'%{IPORHOST:clientip} %{USER:ident} %{USER:auth} \[%{HTTPDATE:timestamp}\] "(?:%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})" %{NUMBER:response} (?:%{NUMBER:bytes}|-)',
    "COMBINEDAPACHELOG": r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
    # --- go-grok / logstash default families (elastic/go-grok v0.3.1
    # bundled set, re-expressed non-capturing; reference pulls them via
    # pkg/ottl/go.mod) -------------------------------------------------------
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "EMAILADDRESS": r"%{EMAILLOCALPART}@%{HOSTNAME}",
    "PROG": r"[\x21-\x5a\x5c\x5e-\x7e]+",
    # logstash enumeration (descending prefix-group count, so greedy
    # matching always consumes the FULL compressed address; a
    # flat-ordered alternation stops at "2001:db8::" for
    # 2001:db8::8a2e:370:7334), re-expressed non-capturing
    "IPV6": r"(?:"
            r"(?:[0-9A-Fa-f]{1,4}:){7}(?:[0-9A-Fa-f]{1,4}|:)"
            r"|(?:[0-9A-Fa-f]{1,4}:){6}(?::[0-9A-Fa-f]{1,4}|%{IPV4}|:)"
            r"|(?:[0-9A-Fa-f]{1,4}:){5}(?:(?::[0-9A-Fa-f]{1,4}){1,2}|:%{IPV4}|:)"
            r"|(?:[0-9A-Fa-f]{1,4}:){4}(?:(?::[0-9A-Fa-f]{1,4}){1,3}|(?::[0-9A-Fa-f]{1,4})?:%{IPV4}|:)"
            r"|(?:[0-9A-Fa-f]{1,4}:){3}(?:(?::[0-9A-Fa-f]{1,4}){1,4}|(?::[0-9A-Fa-f]{1,4}){0,2}:%{IPV4}|:)"
            r"|(?:[0-9A-Fa-f]{1,4}:){2}(?:(?::[0-9A-Fa-f]{1,4}){1,5}|(?::[0-9A-Fa-f]{1,4}){0,3}:%{IPV4}|:)"
            r"|(?:[0-9A-Fa-f]{1,4}:){1}(?:(?::[0-9A-Fa-f]{1,4}){1,6}|(?::[0-9A-Fa-f]{1,4}){0,4}:%{IPV4}|:)"
            r"|:(?:(?::[0-9A-Fa-f]{1,4}){1,7}|(?::[0-9A-Fa-f]{1,4}){0,5}:%{IPV4}|:)"
            r")(?:%\w+)?",
    # URI family (ELB_URI is the corpus case:
    # ottlfuncs/func_extract_grok_patterns_test.go / e2e_test.go:616)
    "URIPROTO": r"[A-Za-z](?:[A-Za-z0-9+\-.]+)+",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
    "URIQUERY": r"[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPARAM": r"\?%{URIQUERY}",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT})?",
    "URIPATHPARAM": r"%{URIPATH}(?:\?%{URIQUERY})?",
    "URI": r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    "ELB_URIHOST": r"%{IPORHOST:url.domain}(?::%{POSINT:url.port:int})?",
    "ELB_URIPATHQUERY": r"%{URIPATH:url.path}(?:\?%{URIQUERY:url.query})?",
    "ELB_URIPATHPARAM": r"%{ELB_URIPATHQUERY}",
    "ELB_URI": r"%{URIPROTO:url.scheme}://(?:%{USER:url.username}(?::[^@]*)?@)?(?:%{ELB_URIHOST})?(?:%{ELB_URIPATHQUERY})?",
    # syslog family
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "SYSLOGHOST": r"%{IPORHOST}",
    "SYSLOGPROG": r"%{PROG:process.name}(?:\[%{POSINT:process.pid:int}\])?",
    "SYSLOGFACILITY": r"<%{NONNEGINT:log.syslog.facility.code:int}.%{NONNEGINT:log.syslog.priority:int}>",
    "SYSLOGBASE2": r"(?:%{SYSLOGTIMESTAMP:timestamp}|%{TIMESTAMP_ISO8601:timestamp8601}) (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource}+(?: %{SYSLOGPROG}:)?",
    "SYSLOGLINE": r"%{SYSLOGBASE2} %{GREEDYDATA:message}",
    # httpd family
    "HTTPDUSER": r"(?:%{EMAILADDRESS}|%{USER})",
    "HTTPDERROR_DATE": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{YEAR}",
    "HTTPD_COMMONLOG": r'%{IPORHOST:source.address} %{HTTPDUSER:apache.access.user.identity} %{USER:user.name} \[%{HTTPDATE:timestamp}\] "(?:%{WORD:http.request.method} %{NOTSPACE:url.original}(?: HTTP/%{NUMBER:http.version})?|%{DATA:rawrequest})" %{INT:http.response.status_code:int} (?:%{INT:http.response.body.bytes:int}|-)',
    "HTTPD_COMBINEDLOG": r"%{HTTPD_COMMONLOG} %{QS:http.request.referrer} %{QS:user_agent.original}",
    # java family
    "JAVACLASS": r"(?:[a-zA-Z$_][a-zA-Z$_0-9]*\.)*[a-zA-Z$_][a-zA-Z$_0-9]*",
    "JAVAFILE": r"(?:[a-zA-Z0-9-]+\.java)",
    "JAVAMETHOD": r"(?:<(?:cl)?init>|[a-zA-Z$_][a-zA-Z$_0-9]*)",
    "JAVASTACKTRACEPART": r"%{SPACE}at %{JAVACLASS:java.class}\.%{JAVAMETHOD:java.method}\(%{JAVAFILE:java.file}(?::%{INT:java.line:int})?\)",
    "JAVATHREAD": r"(?:[A-Z]{2}-Processor[\d]+)",
    "JAVALOGMESSAGE": r"(?:.*)",
    # path / device families
    "UNIXPATH": r"(?:/[\w_%!$@:.,+~-]*)+",
    "WINPATH": r"(?:[A-Za-z]+:|\\)(?:\\[^\\?*]*)+",
    "PATH": r"(?:%{UNIXPATH}|%{WINPATH})",
    "TTY": r"(?:/dev/(?:pts|tty(?:[pq])?)(?:\w+)?/?(?:[0-9]+))",
    "CISCOMAC": r"(?:(?:[A-Fa-f0-9]{4}\.){2}[A-Fa-f0-9]{4})",
    "WINDOWSMAC": r"(?:(?:[A-Fa-f0-9]{2}-){5}[A-Fa-f0-9]{2})",
    "COMMONMAC": r"(?:(?:[A-Fa-f0-9]{2}:){5}[A-Fa-f0-9]{2})",
    "MAC": r"(?:%{CISCOMAC}|%{WINDOWSMAC}|%{COMMONMAC})",
}

_GROK_TOKEN = _re.compile(r"%\{(\w+)(?::([\w@.\-\[\]]+))?(?::(int|float|long|double|string|boolean))?\}")


def compile_grok(pattern: str, definitions: dict[str, str] | None = None,
                 named_captures_only: bool = True
                 ) -> tuple[str, dict[str, int], dict[str, str]]:
    """Compile a grok expression to (regex, {out_key: group_idx}, {out_key: type}).

    Semantics follow OTTL ExtractGrokPatterns
    (ottlfuncs/func_extract_grok_patterns.go:29-70): ``%{PAT:name}``
    captures, ``%{PAT}`` matches without capture when
    namedCapturesOnly, ``%{PAT:name:int}`` coerces type.
    """
    defs = dict(GROK_PATTERNS)
    if definitions:
        defs.update(definitions)
    groups: dict[str, int] = {}
    types: dict[str, str] = {}
    counter = [0]

    def expand(pat: str, depth: int) -> str:
        if depth > 20:
            raise ValueError("grok pattern recursion too deep")

        def sub(m: _re.Match) -> str:
            name, key, typ = m.group(1), m.group(2), m.group(3)
            if name not in defs:
                raise KeyError(f"unknown grok pattern %{{{name}}}")
            # Reserve the OUTER group's index before recursing: in the
            # emitted regex the outer paren opens first, so it must get
            # the lower number than any capture inside the referenced
            # definition (e.g. %{COMMONAPACHELOG:raw} captures raw as
            # the outer group, clientip/... as inner groups after it).
            if key:
                counter[0] += 1
                groups[key] = counter[0]
                if typ:
                    types[key] = typ
                inner = expand(defs[name], depth + 1)
                return f"({inner})"
            if named_captures_only:
                inner = expand(defs[name], depth + 1)
                return f"(?:{inner})"
            counter[0] += 1
            groups[name] = counter[0]
            inner = expand(defs[name], depth + 1)
            return f"({inner})"

        return _GROK_TOKEN.sub(sub, pat)

    # User-level literal capturing groups are not supported in grok
    # input; reject to keep index bookkeeping sound.
    literal = _GROK_TOKEN.sub("", pattern)
    if _re.search(r"(?<!\\)\((?!\?)", literal):
        raise ValueError("raw capturing groups not allowed; use %{PAT:name}")
    return expand(pattern, 0), groups, types


_GROK_TYPES = {"int": "long", "long": "long", "float": "double",
               "double": "double", "string": "string", "boolean": "boolean"}


def grok_parser(
    pattern: str,
    parse_from: str = "body",
    parse_to: str = "attributes",
    on_error: str = "send",
    definitions: dict[str, str] | None = None,
    timestamp: dict | None = None,
    severity: dict | None = None,
) -> Operator:
    """Grok extraction compiled to a native JVM regex (no UDF).

    Typed captures (``:int``/``:float``) are additionally promoted to
    typed top-level columns named after the capture key with dots
    replaced by underscores.
    """
    regex, groups, types = compile_grok(pattern, definitions)
    n_groups = max(groups.values(), default=0)

    def steps(columns: list[str]) -> list:
        src = field_col(parse_from)
        # ONE regex pass total (see regex_parser: the split size IS the
        # match test for multi-group patterns)
        cap = F.col("_cap")
        if n_groups > 1:
            matched = F.size(cap) == n_groups
        else:
            matched = src.rlike(regex)
        captures = F.when(
            matched,
            F.map_from_arrays(
                F.array(*[F.lit(k) for k in groups]),
                F.array(*[F.element_at(cap, i) for i in groups.values()]),
            ))
        typed = {key.replace(".", "_"):
                 F.when(matched, F.element_at(cap, groups[key]))
                 .try_cast(_GROK_TYPES[typ]) for key, typ in types.items()}
        # the sub-parsers read the record after the captures are merged,
        # typed captures included
        later = _subparser_steps(timestamp, severity,
                                 lambda path: typed.get(path, field_col(path)))
        *mid, last = [{**typed, **(later[0] if later else {})}, *later[1:]]
        flag, drop = on_error_steps(columns, matched, on_error)
        return [{"_cap": _single_pass_captures(src, regex, n_groups)},
                {parse_to: merged_map(columns, parse_to, captures)},
                *mid, *drop, {**last, **flag, "_cap": None}]

    return step_operator("grok_parser", steps, {"pattern": pattern})



# ---------------------------------------------------------------------------
# json_parser — parser/json/parser.go; OTTL ParseJSON
# ---------------------------------------------------------------------------

def json_parser(
    parse_from: str = "body",
    parse_to: str = "attributes",
    on_error: str = "send",
    schema: str | None = None,
    timestamp: dict | None = None,
    severity: dict | None = None,
) -> Operator:
    """Parse a JSON-object string field into the target map.

    Without an explicit schema the object parses as
    MAP<STRING,STRING> (scalar values stringified) — the analog of the
    reference's ``map[string]any`` body (parser/json/parser.go).
    """

    def fn(df: DataFrame) -> DataFrame:
        src = field_col(parse_from)
        if schema:
            parsed = F.from_json(src, schema)
            ok = parsed.isNotNull()
            df = df.withColumn(parse_to.replace(".", "_") + "_struct", parsed)
        else:
            parsed = F.from_json(src, "map<string,string>")
            ok = parsed.isNotNull()
            df = merge_map_into(df, parse_to, parsed)
        df = _apply_subparsers(df, parse_to, timestamp, severity)
        return apply_on_error(df, ok, on_error)

    return Operator("json_parser", fn, {})


def jsonarray_parser(
    parse_from: str = "body",
    parse_to: str = "attributes.array",
    on_error: str = "send",
    element_type: str = "string",
) -> Operator:
    """JSON array string -> ARRAY column (parser/jsonarray/parser.go)."""
    out_col = parse_to.replace(".", "_")

    def fn(df: DataFrame) -> DataFrame:
        parsed = F.from_json(field_col(parse_from), f"array<{element_type}>")
        df = df.withColumn(out_col, parsed)
        return apply_on_error(df, parsed.isNotNull(), on_error)

    return Operator("jsonarray_parser", fn, {})


# ---------------------------------------------------------------------------
# csv_parser — parser/csv/parser.go
# ---------------------------------------------------------------------------

def csv_parser(
    header: list[str] | None = None,
    parse_from: str = "body",
    parse_to: str = "attributes",
    delimiter: str = ",",
    on_error: str = "send",
    header_attribute: str | None = None,
) -> Operator:
    """Delimited line -> named string fields merged into the target map.

    Static mode (``header``) uses from_csv (quote-aware, RFC 4180 like
    the reference's encoding/csv reader).  Dynamic mode
    (``header_attribute``, parser/csv/parser.go dynamic-header branch)
    reads the per-row header from a field and zips it with the split
    line — a mismatched field count is a parse failure, matching the
    reference's "wrong number of fields" error.  Dynamic mode splits
    naively (no quote handling): per-row schemas preclude from_csv;
    documented flat-model adaptation.
    """
    if (header is None) == (header_attribute is None):
        raise ValueError("csv_parser needs exactly one of header / "
                         "header_attribute")

    def fn(df: DataFrame) -> DataFrame:
        src = field_col(parse_from)
        if header_attribute is not None:
            hdr = F.split(field_col(header_attribute), _re.escape(delimiter))
            vals = F.split(src, _re.escape(delimiter))
            ok = (hdr.isNotNull() & vals.isNotNull()
                  & (F.size(hdr) == F.size(vals)))
            as_map = F.when(ok, F.map_from_arrays(hdr, vals))
        else:
            schema = ", ".join(f"`{h}` string" for h in header)
            parsed = F.from_csv(src, schema, {"sep": delimiter})
            ok = parsed.isNotNull() & parsed.getField(header[0]).isNotNull()
            as_map = F.when(ok, F.map_from_arrays(
                F.array(*[F.lit(h) for h in header]),
                F.array(*[parsed.getField(h) for h in header]),
            ))
        df = merge_map_into(df, parse_to, as_map)
        return apply_on_error(df, ok, on_error)

    return Operator("csv_parser", fn,
                    {"header": header, "header_attribute": header_attribute})


# ---------------------------------------------------------------------------
# keyvalue_parser — parser/keyvalue/parser.go (parseutils.ParseKeyValue)
# ---------------------------------------------------------------------------

def keyvalue_parser(
    parse_from: str = "body",
    parse_to: str = "attributes",
    delimiter: str = "=",
    pair_delimiter: str = " ",
    on_error: str = "send",
) -> Operator:
    """``k=v`` pairs -> map, via native str_to_map. A doubled, leading or
    trailing pair delimiter is not a pair."""

    def steps(columns: list[str]) -> list:
        src = field_col(parse_from)
        # str_to_map delimiters are regexes: escape the literal config
        parsed = F.map_filter(
            F.str_to_map(src, F.lit(_re.escape(pair_delimiter)),
                         F.lit(_re.escape(delimiter))),
            # an empty pair maps "" to null
            lambda k, v: (k != F.lit("")) | v.isNotNull())
        # success requires at least one delimiter in the input
        ok = src.contains(delimiter)
        flag, drop = on_error_steps(columns, ok, on_error)
        return [*drop, {parse_to: merged_map(columns, parse_to, F.when(ok, parsed)),
                        **flag}]

    return step_operator("keyvalue_parser", steps, {})


# ---------------------------------------------------------------------------
# uri_parser — parser/uri/parser.go (parseutils.ParseURI); OTTL URL()
# ---------------------------------------------------------------------------

def uri_parts(col: Column) -> Column:
    """Decompose a URL string into MAP(scheme, host, port, path, query)."""
    return F.map_filter(
        F.create_map(
            F.lit("scheme"), F.lower(F.parse_url(col, F.lit("PROTOCOL"))),
            F.lit("host"), F.parse_url(col, F.lit("HOST")),
            F.lit("port"), F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/:?#]+:(\d+)", 1),
            F.lit("path"), F.parse_url(col, F.lit("PATH")),
            F.lit("query"), F.parse_url(col, F.lit("QUERY")),
        ),
        lambda _k, v: v.isNotNull() & (v != F.lit("")),
    )


def uri_parser(
    parse_from: str = "body",
    parse_to: str = "attributes",
    on_error: str = "send",
) -> Operator:
    def fn(df: DataFrame) -> DataFrame:
        src = field_col(parse_from)
        ok = F.parse_url(src, F.lit("HOST")).isNotNull()
        df = merge_map_into(df, parse_to, F.when(ok, uri_parts(src)))
        return apply_on_error(df, ok, on_error)

    return Operator("uri_parser", fn, {})


# ---------------------------------------------------------------------------
# time_parser — helper/time.go:20-27,76-89 (strptime / gotime / epoch)
# ---------------------------------------------------------------------------

_STRPTIME_TO_JAVA = [
    ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"), ("%d", "dd"), ("%e", "d"),
    ("%H", "HH"), ("%I", "hh"), ("%M", "mm"), ("%S", "ss"), ("%L", "SSS"),
    ("%f", "SSSSSS"), ("%s", "SSS"), ("%p", "a"), ("%b", "MMM"), ("%B", "MMMM"),
    ("%a", "EEE"), ("%A", "EEEE"), ("%z", "Z"), ("%Z", "zz"), ("%j", "DDD"),
    ("%%", "%"),
]

_GOTIME_TO_JAVA = [
    ("2006", "yyyy"), ("06", "yy"), ("January", "MMMM"), ("Jan", "MMM"),
    ("01", "MM"), ("Monday", "EEEE"), ("Mon", "EEE"), ("02", "dd"), ("_2", "d"),
    ("15", "HH"), ("03", "hh"), ("04", "mm"), ("05", "ss"), (".000000000", ".SSSSSSSSS"),
    (".000000", ".SSSSSS"), (".000", ".SSS"), ("-07:00", "XXX"), ("-0700", "Z"),
    ("Z07:00", "XXX"), ("MST", "zz"), ("PM", "a"),
]


def strptime_to_java(layout: str) -> str:
    """ctime-style strptime directives -> JVM DateTimeFormatter pattern.

    Literal text is quoted so stray pattern letters don't misparse.
    """
    out: list[str] = []
    i = 0
    while i < len(layout):
        if layout[i] == "%" and i + 1 < len(layout):
            tok = layout[i:i + 2]
            for s, j in _STRPTIME_TO_JAVA:
                if tok == s:
                    out.append(j)
                    break
            else:
                raise ValueError(f"unsupported strptime directive {tok}")
            i += 2
        else:
            ch = layout[i]
            if ch.isalpha():
                out.append(f"'{ch}'")
            else:
                out.append(ch)
            i += 1
    return "".join(out)


def gotime_to_java(layout: str) -> str:
    out = layout
    for go, j in _GOTIME_TO_JAVA:
        out = out.replace(go, j)
    return out


def parse_time_col(col: Column, layout: str, layout_type: str = "strptime") -> Column:
    """String/number field -> TIMESTAMP per the reference's layout types
    (helper/time.go:20-27: strptime | gotime | epoch)."""
    if layout_type == "strptime":
        return F.try_to_timestamp(col, F.lit(strptime_to_java(layout)))
    if layout_type == "gotime":
        return F.try_to_timestamp(col, F.lit(gotime_to_java(layout)))
    if layout_type == "epoch":
        v = col.try_cast("double")
        if layout == "s":
            return F.timestamp_seconds(col.try_cast("long"))
        if layout == "ms":
            return F.timestamp_millis(col.try_cast("long"))
        if layout == "us":
            return F.timestamp_micros(col.try_cast("long"))
        if layout == "ns":
            # exact ns->us via decimal division: double division loses
            # precision above 2^53 (epoch-scale nanos) and drifts 1us
            ns = col.try_cast("decimal(24,0)")
            return F.timestamp_micros(F.floor(ns / F.lit(1000)).cast("long"))
        if layout in ("s.ms", "s.us", "s.ns"):
            return F.timestamp_micros((v * 1_000_000).cast("long"))
        raise ValueError(f"unsupported epoch layout {layout}")
    raise ValueError(f"unsupported layout_type {layout_type}")


def time_parser(
    parse_from: str,
    layout: str,
    layout_type: str = "strptime",
    out: str = "time",
    on_error: str = "send",
) -> Operator:
    """Set the record timestamp (+ ns twin for fidelity, SURVEY §7.3d)."""

    def fn(df: DataFrame) -> DataFrame:
        ts = parse_time_col(field_col(parse_from), layout, layout_type)
        df = df.withColumn(out, ts)
        df = df.withColumn(out + "_unix_nano", F.unix_micros(ts) * F.lit(1000))
        return apply_on_error(df, ts.isNotNull(), on_error)

    return Operator("time_parser", fn, {"layout": layout})


# ---------------------------------------------------------------------------
# severity_parser — helper/severity_builder.go:17-88,113-160
# ---------------------------------------------------------------------------

def severity_map_expr(col: Column, mapping: dict[str, list] | None = None) -> Column:
    """Map a string/number field to a severity number.

    ``mapping``: {severity_text: [literal | {"min": a, "max": b} | "Nxx"]}.
    Falls back to the stanza default text table
    (pkg/stanza/entry/severity.go) when no custom rule matches.
    """
    expr: Column | None = None
    lowered = F.lower(col.cast("string"))

    def add(cond: Column, num: int) -> None:
        nonlocal expr
        expr = F.when(cond, F.lit(num)) if expr is None else expr.when(cond, F.lit(num))

    for sev_text, values in (mapping or {}).items():
        num = SEVERITY_TEXT_TO_NUM.get(sev_text.lower())
        if num is None:
            raise ValueError(f"unknown severity alias {sev_text}")
        for v in values:
            if isinstance(v, dict):
                cond = col.try_cast("long").between(int(v["min"]), int(v["max"]))
            elif isinstance(v, str) and _re.fullmatch(r"[1-9]xx", v):
                base = int(v[0]) * 100
                cond = col.try_cast("long").between(base, base + 99)
            else:
                cond = lowered == F.lit(str(v).lower())
            add(cond, num)
    for text, num in SEVERITY_TEXT_TO_NUM.items():
        add(lowered == F.lit(text), num)
    assert expr is not None
    return expr.otherwise(F.lit(0))


def _severity_steps(src: Column, mapping: dict[str, list] | None) -> list[dict]:
    from opentelemetry_collector_contrib_spark.model import SEVERITY_NUM_TO_TEXT

    text_expr: Column = F.lit("")
    for n, t in SEVERITY_NUM_TO_TEXT.items():
        text_expr = F.when(F.col("severity_number").between(n, n + 3), F.lit(t)).otherwise(text_expr)
    return [{"severity_number": severity_map_expr(src, mapping).cast("int")},
            {"severity_text": text_expr}]


def severity_parser(
    parse_from: str,
    mapping: dict[str, list] | None = None,
) -> Operator:
    def fn(df: DataFrame) -> DataFrame:
        for step in _severity_steps(field_col(parse_from), mapping):
            df = df.withColumns(step)
        return df

    return Operator("severity_parser", fn, {})


# ---------------------------------------------------------------------------
# trace / scope parsers — parser/trace/parser.go, parser/scope/parser.go
# ---------------------------------------------------------------------------

def trace_parser(
    trace_field: str = "attributes.trace_id",
    span_field: str = "attributes.span_id",
    flags_field: str | None = None,
) -> Operator:
    """Hex strings -> trace/span id bytes (+flags), via native unhex."""

    def fn(df: DataFrame) -> DataFrame:
        df = df.withColumn("trace_id", F.unhex(field_col(trace_field)))
        df = df.withColumn("span_id", F.unhex(field_col(span_field)))
        if flags_field:
            df = df.withColumn("flags", F.conv(field_col(flags_field), 16, 10).cast("int"))
        return df

    return Operator("trace_parser", fn, {})


def scope_name_parser(parse_from: str) -> Operator:
    def fn(df: DataFrame) -> DataFrame:
        return df.withColumn("scope_name", field_col(parse_from))

    return Operator("scope_name_parser", fn, {})


# ---------------------------------------------------------------------------
# container parser — parser/container/parser.go:27-43 (docker/containerd/cri-o)
# ---------------------------------------------------------------------------

_CRI_RE = r"^([^ Z]+Z?) (stdout|stderr) ([FP]) ?(.*)$"


def container_parser(
    parse_from: str = "body",
    on_error: str = "send",
) -> Operator:
    """Auto-detect docker-json / containerd / cri-o log lines.

    docker:      {"log":"...","stream":"stdout","time":"..."}
    containerd:  2024-01-01T00:00:00.000000000Z stdout F text
    (partial-line recombine is the separate recombine operator,
    transformer/recombine/transformer.go:95-180.)
    """

    def fn(df: DataFrame) -> DataFrame:
        # stage the source: body is overwritten below, and unstaged
        # expressions would rebind to the NEW body by name
        df = df.withColumn("_src", field_col(parse_from))
        src = F.col("_src")
        is_docker = src.startswith("{")
        docker = F.from_json(src, "struct<log:string, stream:string, time:string>")
        cri_ok = src.rlike(_CRI_RE)
        ts_str = F.when(is_docker, docker.getField("time")) \
            .otherwise(F.regexp_extract(src, _CRI_RE, 1))
        stream = F.when(is_docker, docker.getField("stream")) \
            .otherwise(F.regexp_extract(src, _CRI_RE, 2))
        partial = F.when(is_docker, F.lit("F")) \
            .otherwise(F.regexp_extract(src, _CRI_RE, 3))
        logtext = F.when(is_docker, docker.getField("log")) \
            .otherwise(F.regexp_extract(src, _CRI_RE, 4))
        ok = (is_docker & docker.isNotNull() & docker.getField("log").isNotNull()) | cri_ok
        df = df.withColumn("body", F.when(ok, logtext).otherwise(F.col("body")))
        df = merge_map_into(
            df, "attributes",
            F.when(ok, F.create_map(
                F.lit("log.iostream"), stream,
                F.lit("logtag"), partial,
            )),
        )
        ts = F.coalesce(
            F.try_to_timestamp(F.regexp_replace(ts_str, r"(\.\d{6})\d*Z$", r"$1Z")),
            F.try_to_timestamp(ts_str),
        )
        df = df.withColumn("time", F.when(ok, ts).otherwise(F.col("time")) if "time" in df.columns else ts)
        return apply_on_error(df, ok, on_error).drop("_src")

    return Operator("container_parser", fn, {})


# ---------------------------------------------------------------------------
# syslog parser — parser/syslog/parser.go (RFC3164 / RFC5424)
# ---------------------------------------------------------------------------

_RFC3164_RE = r"^<(\d{1,3})>([A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) (\S+) ([^:\[\s]+)(?:\[(\d+)\])?:? ?(.*)$"
_RFC5424_RE = r"^<(\d{1,3})>(\d) (\S+) (\S+) (\S+) (\S+) (\S+) (?:(\[.*\])|-) ?(.*)$"


def syslog_parser(
    protocol: str = "rfc3164",
    parse_from: str = "body",
    parse_to: str = "attributes",
    on_error: str = "send",
    year: int = 2024,
) -> Operator:
    """RFC3164 / RFC5424 syslog lines -> structured fields.

    severity_number derives from PRI%8 mapped onto the OTel severity
    scale; facility = PRI/8 (parser/syslog/parser.go semantics).
    """
    pat = _RFC3164_RE if protocol == "rfc3164" else _RFC5424_RE

    def fn(df: DataFrame) -> DataFrame:
        src = field_col(parse_from)
        ok = src.rlike(pat)
        pri = F.regexp_extract(src, pat, 1).try_cast("int")
        # syslog severity 0(emerg)..7(debug) -> OTel 21(fatal),17(error),
        # 13(warn),9(info),5(debug)
        sev = pri % 8
        sev_num = (F.when(sev <= 1, 21).when(sev <= 3, 17)
                   .when(sev == 4, 13).when(sev <= 6, 9).otherwise(5))
        if protocol == "rfc3164":
            entries = F.create_map(
                F.lit("priority"), pri.cast("string"),
                F.lit("facility"), (pri / 8).cast("int").cast("string"),
                F.lit("hostname"), F.regexp_extract(src, pat, 3),
                F.lit("appname"), F.regexp_extract(src, pat, 4),
                F.lit("proc_id"), F.regexp_extract(src, pat, 5),
                F.lit("message"), F.regexp_extract(src, pat, 6),
            )
            # RFC3164 day-of-month is space-padded ("Mar  1"); collapse
            # before parsing with a 1-2 digit day pattern
            ts = F.try_to_timestamp(
                F.regexp_replace(
                    F.concat(F.lit(str(year) + " "), F.regexp_extract(src, pat, 2)),
                    r"\s+", " "),
                F.lit("yyyy MMM d HH:mm:ss"),
            )
        else:
            entries = F.create_map(
                F.lit("priority"), pri.cast("string"),
                F.lit("facility"), (pri / 8).cast("int").cast("string"),
                F.lit("version"), F.regexp_extract(src, pat, 2),
                F.lit("hostname"), F.regexp_extract(src, pat, 4),
                F.lit("appname"), F.regexp_extract(src, pat, 5),
                F.lit("proc_id"), F.regexp_extract(src, pat, 6),
                F.lit("msg_id"), F.regexp_extract(src, pat, 7),
                F.lit("structured_data"), F.regexp_extract(src, pat, 8),
                F.lit("message"), F.regexp_extract(src, pat, 9),
            )
            ts = F.try_to_timestamp(F.regexp_extract(src, pat, 3))
        df = merge_map_into(df, parse_to, F.when(ok, entries))
        df = df.withColumn("time", F.when(ok, ts))
        df = df.withColumn("severity_number", F.when(ok, sev_num).cast("int"))
        return apply_on_error(df, ok, on_error)

    return Operator("syslog_parser", fn, {"protocol": protocol})


# ---------------------------------------------------------------------------
# embedded sub-parsers (helper/parser.go:25-33: timestamp/severity inside
# any parser config)
# ---------------------------------------------------------------------------

def _subparser_steps(timestamp: dict | None, severity: dict | None,
                     read=field_col) -> list[dict]:
    """The sub-parsers as at most two dependent steps; ``read`` resolves
    their ``parse_from`` paths."""
    first: dict = {}
    if timestamp:
        ts = parse_time_col(
            read(timestamp["parse_from"]),
            timestamp["layout"],
            timestamp.get("layout_type", "strptime"),
        )
        first = {"time": ts, "time_unix_nano": F.unix_micros(ts) * F.lit(1000)}
    if not severity:
        return [first] if first else []
    num, text = _severity_steps(read(severity["parse_from"]), severity.get("mapping"))
    return [{**first, **num}, text]


def _apply_subparsers(df: DataFrame, parse_to: str,
                      timestamp: dict | None, severity: dict | None) -> DataFrame:
    for step in _subparser_steps(timestamp, severity):
        df = df.withColumns(step)
    return df
