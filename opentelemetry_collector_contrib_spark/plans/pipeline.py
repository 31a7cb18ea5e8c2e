"""The flagship log pipeline: parse -> enrich -> route -> aggregate.

This is the Spark-native recomposition of the collector's service
pipeline (receivers -> processors -> connectors -> exporters,
SURVEY.md §3.3) over the Common-Crawl-style ``pages`` table
(url, warc_ts, html, text, lang):

  read pages            ≈ filelog receiver (batch table scan)
  grok/regex parse      ≈ regex_parser / OTTL ExtractGrokPatterns
  keyvalue + json parse ≈ keyvalue_parser / ParseJSON
  time/severity parse   ≈ time_parser / severity_parser
  broadcast enrich      ≈ resourcedetection / k8sattributes / geoip
  ordered route tag     ≈ routing connector (first-match-wins move)
  per-sink write        ≈ exporters (file exporter group_by)
  per-sink aggregates   ≈ count / sum connectors
  observe counters      ≈ obsreport accepted/refused/sent
                          (pkg/stanza/adapter/receiver.go:54-64)

``routed_pages`` builds parse -> enrich -> route as ONE narrow Catalyst
plan: broadcast joins only, no shuffle. ``write_unit`` writes it
straight to per-sink partitions (no exchange: each scan task writes its
own rows), then reads the written columns back for the aggregates and
derives the counters from them; only the small aggregate shuffles, in
one pass over every metric def.

The plan is compiled once per session and applied per unit: the first
unit builds the Columns of each stage (parse, route, sink rows,
aggregate) and every later unit over frames with the same columns, in
the same live SparkContext, only hands them to Spark, one projection
per dependent stage. Nothing is compiled at import.

Every pages run shares this body: ``run_pipeline`` (one batch pass),
``plans/checkpoint.py::run_pipeline_checkpointed`` (one ``write_unit``
per commit group) and ``streaming/stream.py::stream_pages_pipeline``
(one ``write_unit`` per micro-batch) call ``routed_pages`` and
``write_unit``.
"""

from __future__ import annotations

import json
import os
import weakref
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.aggregate import (
    AttrSpec,
    MetricDef,
    metric_pass,
)
from opentelemetry_collector_contrib_spark.operators.base import (
    PARSE_ERROR_COL,
    compile_steps,
)
from opentelemetry_collector_contrib_spark.operators.parsers import (
    grok_parser,
    keyvalue_parser,
)
from opentelemetry_collector_contrib_spark.operators.routing import (
    Route,
    route_tag_expr,
)

# Apache/combined-style grok over the pages ``text`` column
# (FIXTURES.md F1). Typed captures promote status/bytes to numeric
# columns at parse time (SURVEY §1.3 "promoted typed columns").
PAGES_GROK = (
    r'%{IPV4:ip} - %{USERNAME:user} \[%{HTTPDATE:ts}\] '
    r'"%{WORD:method} %{NOTSPACE:path} HTTP/%{NUMBER:httpversion}" '
    r'%{NUMBER:status:int} %{NUMBER:bytes:int} %{GREEDYDATA:rest}'
)

# Routing table (FIXTURES.md F4): ordered, first-match-wins. The
# conditions reference promoted typed columns (parse-time promotion,
# SURVEY §1.3) so the when-chain is cheap attribute refs, not repeated
# map construction.
PAGES_ROUTES = [
    Route("status >= 500", "sink_errors"),
    Route("lang = 'en' AND method = 'GET'", "sink_en_get"),
    Route("path LIKE '/api/%'", "sink_api"),
]
DEFAULT_SINK = "sink_default"
PAGES_SINKS = [r.sink for r in PAGES_ROUTES] + [DEFAULT_SINK]


# Compiled stages per live SparkContext, keyed by stage and input
# column names: Columns are JVM objects of one context, and the steps
# branch on the input columns (merged maps, the error flag).
_COMPILED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _compiled(df: DataFrame, stage: str,
              compile_for: Callable[[list[str]], Callable[[DataFrame], DataFrame]]
              ) -> DataFrame:
    """Apply ``stage`` to ``df``, compiling it for ``df``'s columns on
    first use."""
    per_context = _COMPILED.setdefault(df.sparkSession.sparkContext, {})
    columns = df.columns
    key = (stage, tuple(columns))
    if key not in per_context:
        per_context[key] = compile_for(columns)
    return per_context[key](df)


def _steps(build: Callable[[], list]):
    return lambda columns: compile_steps(columns, build())


def _parse_steps(on_error: str) -> list:
    attrs, rest = F.col("attributes"), F.col("attributes").getItem("rest")
    return [
        {"body": F.col("text")},
        grok_parser(
            PAGES_GROK,
            on_error=on_error,
            timestamp={"parse_from": "attributes.ts",
                       "layout": "%d/%b/%Y:%H:%M:%S %z"},
        ).steps,
        # promote hot keys to typed top-level columns; downstream
        # consumers (routes, aggregates) then reference plain attributes
        # instead of re-expanding the map expression.
        # rest = "k=v k=v ... {json}": split the kv region from the JSON
        # fragment BEFORE parsing so the kv map gets no junk keys. The
        # JSON struct is bound to a column so each row's fragment is
        # parsed once.
        {"method": attrs.getItem("method"), "path": attrs.getItem("path"),
         "rest": rest,
         "_kv_str": F.regexp_extract(rest, r"^([^{]*)", 1),
         "_json": F.from_json(F.regexp_extract(rest, r"(\{.*\})", 1),
                              "struct<svc:string, dur_ms:double>")},
        keyvalue_parser(parse_from="_kv_str", parse_to="attributes",
                        on_error="send_quiet").steps,
        {"svc": F.col("_json").getField("svc"),
         "dur_ms": F.col("_json").getField("dur_ms"),
         "host": F.parse_url(F.col("url"), F.lit("HOST")),
         "_kv_str": None, "_json": None,
         # the raw tail is fully decomposed above — carrying it to every
         # sink would re-ship the bytes; drop it from the map
         "attributes": F.map_filter(attrs, lambda k, _v: k != F.lit("rest")),
         # severity from HTTP status class (severity_parser range semantics)
         "severity_number": F.when(F.col("status") >= 500, F.lit(17))     # error
                             .when(F.col("status") >= 400, F.lit(13))     # warn
                             .when(F.col("status").isNotNull(), F.lit(9)) # info
                             .otherwise(F.lit(0)).cast("int")},
    ]


def parse_pages(df: DataFrame, on_error: str = "send") -> DataFrame:
    """pages -> flat log records. Pure narrow ops (no shuffle)."""
    return _compiled(df, f"parse:{on_error}", _steps(lambda: _parse_steps(on_error)))


def enrich_pages(df: DataFrame, host_meta: DataFrame | None = None,
                 lang_family: DataFrame | None = None) -> DataFrame:
    """Broadcast lookup enrichment (never shuffles the fact side)."""
    if host_meta is not None:
        df = df.join(F.broadcast(host_meta), on="host", how="left")
    if lang_family is not None:
        df = df.join(F.broadcast(lang_family), on="lang", how="left")
    return df


def route_pages(df: DataFrame) -> DataFrame:
    return _compiled(df, "route", _steps(lambda: [
        {"sink": route_tag_expr(PAGES_ROUTES, DEFAULT_SINK)}]))


# Per-sink aggregates (count connector shape, F3): record counts by
# status, plus summed bytes by service, plus the refused count per
# sink (the obsreport counters derive from these — no separate scan).
PAGES_COUNT_METRICS = [
    MetricDef(name="log.record.count",
              attributes=[AttrSpec(key="sink"), AttrSpec(key="status")]),
    MetricDef(name="log.refused.count",
              conditions=[f"{PARSE_ERROR_COL} = true"],
              attributes=[AttrSpec(key="sink")]),
]
PAGES_SUM_METRICS = [
    MetricDef(name="page.bytes.sum", source_attribute="bytes",
              attributes=[AttrSpec(key="sink"), AttrSpec(key="svc")]),
]


def aggregate_pages(routed: DataFrame) -> DataFrame:
    return _compiled(routed, "aggregate", lambda _columns: metric_pass(
        PAGES_COUNT_METRICS, PAGES_SUM_METRICS))


def sink_rows(routed: DataFrame) -> DataFrame:
    """Project routed records to the written sink-row shape (the rows
    ``write_unit`` writes).

    Drops the raw page bytes (html/body duplicate `text`, and `rest` is
    the tail already fully decomposed into kv+json fields — at 100 TB,
    re-shipping either through the shuffle and into every sink
    multiplies the volume for no consumer value) and flattens the
    attributes map to an entries array (parquet-friendly, stable order
    for row-equality checks).
    """
    return _compiled(routed, "sink_rows", _steps(lambda: [
        {"html": None, "body": None, "rest": None,
         "attributes": F.map_entries(F.col("attributes"))}]))


def routed_pages(pages: DataFrame, host_meta: DataFrame | None = None,
                 lang_family: DataFrame | None = None) -> DataFrame:
    """pages -> parsed, enriched, sink-tagged records.

    Parses in send mode so refused rows are still visible to the
    counters (obsreport counts refused BEFORE the drop,
    pkg/stanza/adapter/receiver.go:54-64); drop mode removes them in
    ``write_unit`` after observation, before the sinks.
    """
    parsed = parse_pages(pages, on_error="send")
    return route_pages(enrich_pages(parsed, host_meta, lang_family))


def write_unit(spark: SparkSession, routed: DataFrame, routed_dir: str,
               metrics_dir: str, on_error: str = "send") -> dict:
    """Write one unit of routed records to per-sink partitions under
    ``routed_dir``, aggregate them into ``metrics_dir`` and return the
    obsreport-style counter dict for the unit.

    No shuffle: each scan task writes its own rows, partitionBy splits
    them per sink (sortWithinPartitions(sink) keeps one open writer per
    task), so the routed bytes never pass through an exchange.
    """
    # obsreport counters: in send mode EVERY routed row (including
    # refused ones) lands in the output, so the counters are exactly
    # derivable from the column-pruned scan of the written parquet — the
    # in-flight .observe() CollectMetrics node costs ~13% of the 8-core
    # write job at 5M rows for information the output already holds.
    # Drop mode (refused rows removed before the sinks) keeps the
    # pre-drop observe.
    drop_refused = on_error.startswith("drop")
    obs = Observation("obsreport")
    if drop_refused:
        sent = [F.sum(((F.col("sink") == s) & ~F.col(PARSE_ERROR_COL)).cast("long"))
                .alias(f"sent_{s}") for s in PAGES_SINKS]
        routed = routed.observe(
            obs, F.count(F.lit(1)).alias("accepted"),
            F.sum(F.col(PARSE_ERROR_COL).cast("long")).alias("refused"), *sent,
        ).filter(~F.col(PARSE_ERROR_COL))

    writable = sink_rows(routed)
    (writable.sortWithinPartitions("sink")
     .write.mode("overwrite").partitionBy("sink").parquet(routed_dir))
    # aggregates scan the just-written columnar output (column-pruned
    # scan of 4 small columns) instead of recomputing the parse chain.
    # The obsreport counters derive from the aggregate rows themselves:
    # in send mode every routed row is in the output, so accepted =
    # record.count + refused.count (the record metric excludes
    # status-less refused rows via the presence rule) and per-sink sent
    # decomposes the same way.  Observation on the post-aggregation
    # frame touches ~dozens of rows.  The known schema skips inference,
    # which would fail on a unit that wrote no rows.
    back = spark.read.schema(writable.schema).parquet(routed_dir)
    metrics = aggregate_pages(back)
    if not drop_refused:
        name, val = F.col("metric_name"), F.col("value")
        rec = F.when(name == "log.record.count", val)
        ref = F.when(name == "log.refused.count", val)
        metrics = metrics.observe(
            obs,
            F.sum(F.coalesce(rec, ref)).alias("accepted"),
            F.sum(ref).alias("refused"),
            *[F.sum(F.when(F.col("sink") == s, F.coalesce(rec, ref)))
              .alias(f"sent_{s}") for s in PAGES_SINKS],
        )
    metrics.write.mode("overwrite").parquet(metrics_dir)

    got = obs.get
    return {
        "accepted": int(got["accepted"] or 0),
        "refused": int(got["refused"] or 0),
        "sent": {s: int(got[f"sent_{s}"] or 0) for s in PAGES_SINKS},
    }


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    host_meta: DataFrame | None = None,
    lang_family: DataFrame | None = None,
    on_error: str = "send",
) -> dict:
    """Execute the full DAG once (no checkpointing; see
    plans/checkpoint.py for the resumable variant). Writes
    ``routed/sink=<s>/``, ``metrics/`` and ``counters.json`` under
    ``out_dir`` and returns the obsreport-style counter dict."""
    counters = write_unit(spark, routed_pages(pages, host_meta, lang_family),
                          os.path.join(out_dir, "routed"),
                          os.path.join(out_dir, "metrics"), on_error)
    with open(os.path.join(out_dir, "counters.json"), "w") as f:
        json.dump(counters, f, indent=2, sort_keys=True)
    return counters
