"""datadog connector: APM trace stats from spans.

The reference (connector/datadogconnector/connector.go:199-258 +
factory.go defaults) feeds traces through the datadog-agent's stats
concentrator and emits ClientGroupedStats per 10-second bucket: Hits /
Errors / Duration / TopLevelHits keyed by (env, service, operation
name, resource, type, span kind, HTTP status, trace-root flag, peer
tags).  The concentrator itself lives in the external Apache-2.0
datadog-agent; this module restates its documented aggregation as ONE
groupBy, pinned to the reference's own connector_native_test.go
vectors (TestMeasuredAndClientKindNative, TestObfuscate).

Eligibility (pinned by TestMeasuredAndClientKindNative): a span
contributes stats iff it is TOP-LEVEL or MEASURED —
- top-level: empty parent id, or (compute_top_level_by_span_kind)
  kind server/consumer; only these increment TopLevelHits;
- measured: the ``_dd.measured`` == 1 attribute, or
  (compute_stats_by_span_kind, default true) kind client/producer.
A plain internal child span produces NO stats row.

Name/resource/type reuse the datadog.py V2 cascades
(GetOTelOperationNameV2 / GetOTelResourceV2); span type uses the
agent's db.system table (mysql -> "sql" pinned by TestObfuscate, the
redis family -> "cache", documented families below, other db -> "db").
SQL resources are obfuscated with the literal-replacement subset of
the agent's obfuscator (numbers and quoted strings -> ``?`` —
TestObfuscate's ``WHERE id = 123`` -> ``WHERE id = ?``); the full
obfuscator's parser-level normalizations are out of scope.  Peer tags
(PeerTagsAggregation, default true) collect ``key:value`` strings for
client/producer spans from the documented default key list.

Batch restatement: buckets are event-time (floor of the span start to
the interval); the agent's wall-clock flush delay does not exist in a
replayable batch.  Distributions are EXACT percentiles per group
(p50/p95/p99) instead of DDSketch approximations — same shuffle
shape, strictly tighter values.  The whole operator is one
groupBy-aggregate: at 100 TB the only growing cost is that single
shuffle on the stats key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .datadog import _nonempty, _operation_name_v2, _resource_v2

# agent span-type families (datadog-agent traceutil; "sql" pinned by
# the reference's TestObfuscate)
_SQL_SYSTEMS = (
    "mysql", "postgresql", "mssql", "oracle", "mariadb", "sqlite",
    "db2", "derby", "h2", "hive", "hsqldb", "informix", "ingres",
    "interbase", "sybase", "teradata", "other_sql", "clickhouse",
    "cockroachdb", "redshift", "snowflake", "trino", "presto")
_CACHE_SYSTEMS = ("redis", "valkey", "memcached")
_NAMED_DB_TYPES = {
    "mongodb": "mongodb",
    "cassandra": "cassandra",
    "elasticsearch": "elasticsearch",
    "opensearch": "opensearch",
}

# documented default peer-tag sources (subset of the agent's base
# list; db.system pinned by TestObfuscate)
DEFAULT_PEER_TAG_KEYS = (
    "db.system", "db.name", "db.namespace", "messaging.system",
    "messaging.destination", "messaging.destination.name",
    "rpc.system", "rpc.service", "peer.service", "server.address",
    "network.peer.name", "aws.queue.url", "aws.s3.bucket")


def _stats_span_type(attrs: Column, resource: Column,
                     kind: Column) -> Column:
    db = F.lower(F.coalesce(
        _nonempty(F.element_at(attrs, "db.system")),
        _nonempty(F.element_at(resource, "db.system"))))
    named = F.create_map(*[F.lit(x) for kv in _NAMED_DB_TYPES.items()
                           for x in kv])
    return (
        F.when(kind == "server", F.lit("web"))
        .when((kind == "client") & db.isNull(), F.lit("http"))
        .when((kind == "client") & db.isin(*_SQL_SYSTEMS), F.lit("sql"))
        .when((kind == "client") & db.isin(*_CACHE_SYSTEMS),
              F.lit("cache"))
        .when((kind == "client") & F.element_at(named, db).isNotNull(),
              F.element_at(named, db))
        .when(kind == "client", F.lit("db"))
        .otherwise(F.lit("custom")))


def obfuscate_sql(stmt: Column) -> Column:
    """Literal-replacement subset of the agent SQL obfuscator:
    quoted strings and numeric literals become ``?``."""
    out = F.regexp_replace(stmt, r"'(?:[^']|'')*'", "?")
    out = F.regexp_replace(out, r'"(?:[^"])*"', "?")
    out = F.regexp_replace(
        out, r"\b\d+(?:\.\d+)?\b", "?")
    return out


def _staged_stats(spans: DataFrame,
                  bucket_interval_s: int = 10,
                  compute_top_level_by_span_kind: bool = True,
                  compute_stats_by_span_kind: bool = True,
                  peer_tags_aggregation: bool = True,
                  peer_tag_keys: tuple[str, ...] = DEFAULT_PEER_TAG_KEYS,
                  resource_col: str = "resource",
                  attrs_col: str = "attributes",
                  name_col: str = "name",
                  kind_col: str = "kind",
                  parent_col: str = "parent_span_id",
                  status_code_col: str = "status_code",
                  start_ns_col: str = "start_ns",
                  duration_ns_col: str = "duration_ns") -> DataFrame:
    """Shared eligibility + key projection (see module doc): the
    filtered span frame with the stats key columns plus __top/__err/
    __dur, ready for the stats aggregate."""
    res, attrs = F.col(resource_col), F.col(attrs_col)
    kind = F.col(kind_col)
    parent = F.coalesce(F.col(parent_col).cast("string"), F.lit(""))
    no_parent = parent == ""
    top_level = (no_parent | (kind.isin("server", "consumer")
                              if compute_top_level_by_span_kind
                              else F.lit(False)))
    measured = (F.element_at(attrs, "_dd.measured") == "1")
    if compute_stats_by_span_kind:
        measured = measured | kind.isin("client", "producer")
    env = F.coalesce(
        _nonempty(F.element_at(res, "deployment.environment.name")),
        _nonempty(F.element_at(res, "deployment.environment")),
        F.lit("default"))
    service = F.coalesce(_nonempty(F.element_at(res, "service.name")),
                         F.lit("otlpresourcenoservicename"))
    op_name = _operation_name_v2(attrs, kind)
    type_ = _stats_span_type(attrs, res, kind)
    resource_name = _resource_v2(attrs, res, F.col(name_col), kind)
    resource_name = F.when(type_ == "sql", obfuscate_sql(resource_name)) \
        .otherwise(resource_name)
    http_status = F.coalesce(
        F.element_at(attrs, "http.response.status_code")
        .try_cast("long"),
        F.element_at(attrs, "http.status_code").try_cast("long"))
    is_err = F.lower(F.coalesce(F.col(status_code_col), F.lit(""))) \
        == "error"
    if peer_tags_aggregation:
        parts = [
            F.when(F.element_at(attrs, k).isNotNull(),
                   F.concat(F.lit(k + ":"), F.element_at(attrs, k)))
            for k in peer_tag_keys]
        peer = F.when(kind.isin("client", "producer"),
                      F.array_sort(F.filter(F.array(*parts),
                                            lambda x: x.isNotNull()))) \
            .otherwise(F.array().cast("array<string>"))
    else:
        peer = F.array().cast("array<string>")
    bucket = (F.col(start_ns_col).cast("long")
              - F.col(start_ns_col).cast("long")
              % int(bucket_interval_s * 1_000_000_000))
    dur = F.col(duration_ns_col).cast("long")
    staged = (spans
              .withColumn("__top", top_level)
              .where(F.col("__top") | measured)
              .select(
                  bucket.alias("bucket_start_ns"), env.alias("env"),
                  service.alias("service"), op_name.alias("name"),
                  resource_name.alias("resource"), type_.alias("type"),
                  kind.alias("span_kind"),
                  http_status.alias("http_status"),
                  no_parent.alias("is_trace_root"),
                  peer.alias("peer_tags"),
                  F.col("__top").alias("__top"),
                  is_err.alias("__err"), dur.alias("__dur")))
    return staged


_STATS_KEYS = ["bucket_start_ns", "env", "service", "name", "resource",
               "type", "span_kind", "http_status", "is_trace_root",
               "peer_tags"]


def datadog_apm_stats(spans: DataFrame, **kwargs) -> DataFrame:
    """ClientGroupedStats per event-time bucket (see module doc).

    Output: bucket_start_ns, env, service, name, resource, type,
    span_kind, http_status, is_trace_root, peer_tags, hits, errors,
    top_level_hits, duration_ns, ok_p50/p95/p99, err_p50/p95/p99.
    Accepts the keyword knobs of ``_staged_stats``.
    """
    return (_staged_stats(spans, **kwargs).groupBy(*_STATS_KEYS).agg(
        F.count(F.lit(1)).alias("hits"),
        F.sum(F.when(F.col("__err"), 1).otherwise(0)).alias("errors"),
        F.sum(F.when(F.col("__top"), 1).otherwise(0))
        .alias("top_level_hits"),
        F.sum("__dur").alias("duration_ns"),
        F.expr("percentile(CASE WHEN NOT __err THEN __dur END, "
               "array(0.5, 0.95, 0.99))").alias("__okq"),
        F.expr("percentile(CASE WHEN __err THEN __dur END, "
               "array(0.5, 0.95, 0.99))").alias("__errq"))
        .select(*_STATS_KEYS, "hits", "errors", "top_level_hits",
                "duration_ns",
                F.col("__okq")[0].alias("ok_p50"),
                F.col("__okq")[1].alias("ok_p95"),
                F.col("__okq")[2].alias("ok_p99"),
                F.col("__errq")[0].alias("err_p50"),
                F.col("__errq")[1].alias("err_p95"),
                F.col("__errq")[2].alias("err_p99")))
