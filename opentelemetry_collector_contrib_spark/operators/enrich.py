"""Enrichment joins — the reference's only join shapes.

Every collector "join" is a stream-to-lookup-table enrichment (build
side = small, slowly-changing map) -> broadcast hash join in Spark; a
broadcast join never shuffles the fact side, which is the property
that survives a 100x scale-up.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.base import Operator


def coalesce_assoc_join(lookup: DataFrame, assoc_keys: list[tuple[str, str]],
                        value_cols: list[str]) -> Operator:
    """N-rule association (k8sattributes pod_association.go:18-60):
    try each (fact_col, lookup_col) association in order; first rule
    that finds a match wins. Implemented as N broadcast joins whose
    results are coalesced — each join is broadcast so the fact side
    still never shuffles."""

    def fn(df: DataFrame) -> DataFrame:
        out = df
        got: list[list[Column]] = []
        for i, (fact_col, lk_col) in enumerate(assoc_keys):
            rhs = lookup.select(
                F.col(lk_col).alias(f"_k{i}"),
                *[F.col(v).alias(f"_v{i}_{v}") for v in value_cols],
            )
            out = out.join(F.broadcast(rhs), out[fact_col] == F.col(f"_k{i}"), "left")
            got.append([F.col(f"_v{i}_{v}") for v in value_cols])
        for j, v in enumerate(value_cols):
            out = out.withColumn(v, F.coalesce(*[g[j] for g in got]))
        drop = [f"_k{i}" for i in range(len(assoc_keys))] + [
            f"_v{i}_{v}" for i in range(len(assoc_keys)) for v in value_cols
        ]
        return out.drop(*drop)

    return Operator("coalesce_assoc_join", fn, {})


def resource_detection(attrs: dict[str, str], override: bool = False) -> Operator:
    """resourcedetection processor: constant attrs detected once at
    startup, merged into every row; ``override`` controls precedence
    (MergeResource, processor/resourcedetectionprocessor/internal/
    resourcedetection.go:227). Pure literal enrichment — zero shuffle."""

    def fn(df: DataFrame) -> DataFrame:
        out = df
        for k, v in attrs.items():
            if k in out.columns and not override:
                out = out.withColumn(k, F.coalesce(F.col(k), F.lit(v)))
            else:
                out = out.withColumn(k, F.lit(v))
        return out

    return Operator("resource_detection", fn, {"override": override})


def ip_to_long(col: Column) -> Column:
    """Dotted-quad IPv4 -> int64, native (no UDF)."""
    parts = F.split(col, r"\.")
    return (parts.getItem(0).cast("long") * F.lit(16777216)
            + parts.getItem(1).cast("long") * F.lit(65536)
            + parts.getItem(2).cast("long") * F.lit(256)
            + parts.getItem(3).cast("long"))


def geoip_join(ip_geo: DataFrame, ip_col: str,
               out_cols: list[str] | None = None) -> Operator:
    """geoip processor (processor/geoipprocessor/geoip_processor.go:29-90)
    as a broadcast RANGE join: ip BETWEEN ip_start AND ip_end.

    The geo table is small (MaxMind prefix ranges) -> broadcast nested
    loop with a range predicate; with many ranges, pre-bucketing by
    /8 prefix (join on prefix equality + range filter) keeps the probe
    cheap. We add the /8 equi-key so Catalyst can hash-partition the
    broadcast probe instead of scanning all ranges per row.
    """
    out_cols = out_cols or ["country", "city"]

    def fn(df: DataFrame) -> DataFrame:
        # equi-key: /24-ish bucket (2^24 span) both sides; ranges spanning
        # several buckets are exploded on the (small) build side.
        span = 1 << 24
        rhs = (ip_geo
               .withColumn("_b", F.explode(F.sequence(
                   (F.col("ip_start") / span).cast("long"),
                   (F.col("ip_end") / span).cast("long"))))
               .select("_b", "ip_start", "ip_end", *out_cols))
        ip_long = ip_to_long(F.col(ip_col))
        lhs = df.withColumn("_ip_long", ip_long) \
                .withColumn("_b", (F.col("_ip_long") / span).cast("long"))
        joined = lhs.join(
            F.broadcast(rhs),
            on=[lhs["_b"] == rhs["_b"],
                F.col("_ip_long") >= rhs["ip_start"],
                F.col("_ip_long") <= rhs["ip_end"]],
            how="left",
        )
        return joined.drop("_b", "_ip_long", "ip_start", "ip_end")

    return Operator("geoip_join", fn, {})


SERVICE_GRAPH_DEFAULT_BOUNDS = (
    0.002, 0.004, 0.006, 0.008, 0.01, 0.05, 0.1, 0.2, 0.4, 0.8,
    1, 1.4, 2, 5, 10, 15,
)

# OTLP SpanKind enum values (span.proto)
_SK_SERVER, _SK_CLIENT, _SK_PRODUCER, _SK_CONSUMER = 2, 3, 4, 5


def service_graph_metrics(
    spans: DataFrame,
    latency_bounds: tuple | None = None,
    dimensions: tuple = (),
    virtual_node_peer_attributes: tuple = (),
    virtual_node_extra_label: bool = False,
    database_name_attributes: tuple = ("db.name",),
) -> DataFrame:
    """Full servicegraph connector metric semantics
    (connector/servicegraphconnector/connector.go:240-460,486-700),
    batch shape — complete traces replace the TTL store; unmatched
    sides follow the onExpire virtual-node rules verbatim:

    - client/producer span keys an edge by (trace_id, span_id);
      server/consumer by (trace_id, parent_span_id); producer/consumer
      mark the edge ``messaging_system``.
    - a client span carrying any ``database_name_attributes`` value
      completes immediately as a ``database`` edge whose server is the
      db name and whose server latency copies the client span.
    - unmatched client -> virtual server node named by the first
      present ``virtual_node_peer_attributes`` value (else "unknown");
      unmatched parentless server -> virtual client node "user"; both
      get connection_type ``virtual_node`` (+ the ``virtual_node``
      label when ``virtual_node_extra_label``). Unmatched servers WITH
      a parent id are dropped, as in the reference.
    - failed = either side's status code is ERROR; it is part of the
      series key, so failed edges produce their own datapoints plus
      ``request_failed_total``.
    - durations land in le-buckets over ``latency_bounds``
      (defaults = the reference's 16 bounds); a missing side counts
      as 0 s, matching the store's zero-valued Edge fields.

    Input columns: trace_id, span_id, parent_span_id, service,
    kind int, status_code int, start_ns long, end_ns long,
    attributes map<string,string>[, resource map<string,string>].

    Output: one row per (attrs) series with every metric the
    connector emits: attrs map, total, server_hist/client_hist
    structs (count, sum, buckets) and the bounds — a long-form
    SELECT away from any metrics sink. All aggregation is one
    full-outer join plus one groupBy (two shuffles at any scale).
    """
    bounds = list(latency_bounds or SERVICE_GRAPH_DEFAULT_BOUNDS)
    has_resource = "resource" in spans.columns

    def attr(key):
        span_v = F.col("attributes").getItem(key)
        if has_resource:
            return F.coalesce(F.col("resource").getItem(key), span_v)
        return span_v

    dur = (F.col("end_ns") - F.col("start_ns")) / F.lit(1e9)
    failed = F.coalesce(F.col("status_code") == 2, F.lit(False))

    def dim_entries(side):
        entries = []
        for d in dimensions:
            entries.append((f"{side}_{d}", attr(d)))
        return entries

    client = spans.filter(F.col("kind").isin(_SK_CLIENT, _SK_PRODUCER))
    db_name = F.lit(None).cast("string")
    for k in database_name_attributes:
        db_name = F.coalesce(db_name, attr(k))
    peer = F.lit(None).cast("string")
    for k in virtual_node_peer_attributes:
        peer = F.coalesce(peer, F.col("attributes").getItem(k))
    client = client.select(
        F.col("trace_id").alias("c_trace"),
        F.col("span_id").alias("c_key"),
        F.col("service").alias("c_service"),
        dur.alias("c_lat"),
        failed.alias("c_failed"),
        F.when(F.col("kind") == _SK_PRODUCER,
               F.lit("messaging_system")).otherwise(F.lit("")).alias("c_conn"),
        db_name.alias("c_db"),
        peer.alias("c_peer"),
        *[v.alias(f"cd_{i}") for i, (_n, v) in enumerate(dim_entries("client"))],
    )
    server = spans.filter(F.col("kind").isin(_SK_SERVER, _SK_CONSUMER)).select(
        F.col("trace_id").alias("s_trace"),
        F.col("parent_span_id").alias("s_key"),
        F.col("service").alias("s_service"),
        dur.alias("s_lat"),
        failed.alias("s_failed"),
        F.when(F.col("kind") == _SK_CONSUMER,
               F.lit("messaging_system")).otherwise(F.lit("")).alias("s_conn"),
        *[v.alias(f"sd_{i}") for i, (_n, v) in enumerate(dim_entries("server"))],
    )

    db_edges = client.filter(F.col("c_db").isNotNull())
    normal_client = client.filter(F.col("c_db").isNull())
    joined = normal_client.join(
        server,
        on=[normal_client["c_trace"] == server["s_trace"],
            normal_client["c_key"] == server["s_key"]],
        how="full_outer")

    have_peers = bool(virtual_node_peer_attributes)
    is_complete = F.col("c_service").isNotNull() & F.col("s_service").isNotNull()
    client_only = F.col("c_service").isNotNull() & F.col("s_service").isNull()
    server_only = F.col("c_service").isNull() & F.col("s_service").isNotNull()
    parentless = F.coalesce(F.col("s_key"), F.lit("")) == ""

    keep = is_complete
    if have_peers:
        keep = keep | client_only | (server_only & parentless)
    edges = joined.filter(keep)

    virtual = F.when(client_only, F.lit("server")) \
               .when(server_only, F.lit("client")).otherwise(F.lit(""))
    edges = edges.select(
        F.when(server_only, F.lit("user"))
         .otherwise(F.col("c_service")).alias("client"),
        F.when(client_only, F.coalesce(F.col("c_peer"), F.lit("unknown")))
         .otherwise(F.col("s_service")).alias("server"),
        F.when(client_only | server_only, F.lit("virtual_node"))
         .otherwise(F.greatest(F.coalesce(F.col("c_conn"), F.lit("")),
                               F.coalesce(F.col("s_conn"), F.lit(""))))
         .alias("connection_type"),
        (F.coalesce(F.col("c_failed"), F.lit(False))
         | F.coalesce(F.col("s_failed"), F.lit(False))).alias("failed"),
        F.coalesce(F.col("c_lat"), F.lit(0.0)).alias("client_lat"),
        F.coalesce(F.col("s_lat"), F.lit(0.0)).alias("server_lat"),
        virtual.alias("virtual_node"),
        *[F.col(f"cd_{i}") for i in range(len(dimensions))],
        *[F.col(f"sd_{i}") for i in range(len(dimensions))],
    )
    # database edges complete without a server span (empty when no
    # db attrs present)
    db_sel = db_edges.select(
        F.col("c_service").alias("client"),
        F.col("c_db").alias("server"),
        F.lit("database").alias("connection_type"),
        F.col("c_failed").alias("failed"),
        F.col("c_lat").alias("client_lat"),
        F.col("c_lat").alias("server_lat"),
        F.lit("").alias("virtual_node"),
        *[F.col(f"cd_{i}") for i in range(len(dimensions))],
        *[F.lit(None).cast("string").alias(f"sd_{i}")
          for i in range(len(dimensions))],
    )
    edges = edges.unionByName(db_sel)

    # series attributes: the connector's buildDimensions + extra label
    attr_pairs = [
        (F.lit("client"), F.col("client")),
        (F.lit("server"), F.col("server")),
        (F.lit("connection_type"), F.col("connection_type")),
        (F.lit("failed"), F.when(F.col("failed"), F.lit("true"))
                           .otherwise(F.lit("false"))),
    ]
    for i, d in enumerate(dimensions):
        for side, c in (("client", f"cd_{i}"), ("server", f"sd_{i}")):
            attr_pairs.append((F.lit(f"{side}_{d}"), F.col(c)))
    if virtual_node_extra_label:
        attr_pairs.append((F.lit("virtual_node"), F.col("virtual_node")))
    entries = F.array(*[
        F.when(v.isNotNull(), F.struct(k.alias("key"), v.alias("value")))
        for k, v in attr_pairs])
    edges = edges.withColumn(
        "attrs", F.map_from_entries(F.filter(entries, lambda s: s.isNotNull())))

    def bucket_counts(lat_col):
        # le-bucket index = #bounds strictly below the duration
        # (sort.SearchFloat64s semantics, connector.go:466-483)
        cols = []
        for i in range(len(bounds) + 1):
            lo = F.lit(True) if i == 0 else F.col(lat_col) > F.lit(bounds[i - 1])
            hi = F.lit(True) if i == len(bounds) else F.col(lat_col) <= F.lit(bounds[i])
            cols.append(F.sum((lo & hi).cast("long")))
        return F.array(*cols)

    return (edges.groupBy("attrs")
            .agg(F.count(F.lit(1)).alias("total"),
                 F.struct(F.count(F.lit(1)).alias("count"),
                          F.sum("server_lat").alias("sum"),
                          bucket_counts("server_lat").alias("buckets"))
                 .alias("server_hist"),
                 F.struct(F.count(F.lit(1)).alias("count"),
                          F.sum("client_lat").alias("sum"),
                          bucket_counts("client_lat").alias("buckets"))
                 .alias("client_hist"))
            .withColumn("bounds", F.array(*[F.lit(b) for b in bounds])))


_IPV4_OCTET = r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
_IPV4_RE = rf"^({_IPV4_OCTET}\.){{3}}{_IPV4_OCTET}$"


# net.ParseIP-grade IPv6: 1-4 hex digits per group, exactly 8 groups in
# the full form, at most one "::" (each alternative below contains zero
# or one compression and bounds the group counts so e.g. ":::",
# "12345::1" and "1:2" all reject — a malformed value must FALL THROUGH
# to the next configured attribute, not shadow it).  Zone suffixes and
# IPv4-embedded forms are not accepted (same as the previous behavior).
_IPV6_RE = (
    r"^(?:"
    r"(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,7}:"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4}"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,5}(?::[0-9A-Fa-f]{1,4}){1,2}"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,4}(?::[0-9A-Fa-f]{1,4}){1,3}"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,3}(?::[0-9A-Fa-f]{1,4}){1,4}"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,2}(?::[0-9A-Fa-f]{1,4}){1,5}"
    r"|[0-9A-Fa-f]{1,4}:(?::[0-9A-Fa-f]{1,4}){1,6}"
    r"|:(?:(?::[0-9A-Fa-f]{1,4}){1,7}|:)"
    r")$")


def _valid_ip(c: Column) -> Column:
    """net.ParseIP-shaped validity + not unspecified (parseIP,
    geoip_processor.go:45-53): strict dotted-quad IPv4 or bounded
    colon-hex IPv6; 0.0.0.0 / :: are rejected like parse failures."""
    ipv4 = c.rlike(_IPV4_RE)
    ipv6 = c.rlike(_IPV6_RE)
    unspecified = c.isin("0.0.0.0", "::", "0:0:0:0:0:0:0:0")
    return (ipv4 | ipv6) & ~unspecified


def geoip_enrich(
    df: DataFrame,
    geo: DataFrame,
    attributes: tuple = ("client.address", "source.address"),
    context: str = "resource",
    geo_ip_col: str = "ip",
    geo_map_col: str = "geo",
) -> DataFrame:
    """geoipprocessor semantics
    (processor/geoipprocessor/geoip_processor.go:45-117): walk the
    configured attribute keys IN ORDER over the context's attribute
    map (resource or record); the first value that parses as a valid,
    non-unspecified IP is looked up, and the provider's geo attributes
    upsert into the same map. Missing keys, parse failures and
    unspecified addresses are silently skipped (the reference's
    continue-on-error walk); an IP the provider doesn't know leaves
    the entity untouched.

    ``geo`` is the provider as a broadcast lookup table
    (ip -> map of geo.* attributes) — the MaxMind mmdb contents at
    exact-IP grain; see geoip_join above for the CIDR-range variant
    used at scan scale. One broadcast hash join, no shuffle of the
    fact side.
    """
    target = "resource" if context == "resource" else "attributes"
    cand = F.lit(None).cast("string")
    for k in attributes:
        v = F.col(target).getItem(k)
        cand = F.coalesce(cand, F.when(_valid_ip(v), v))
    df = df.withColumn("_geo_ip", cand)
    lut = F.broadcast(geo.select(F.col(geo_ip_col).alias("_geo_ip"),
                                 F.col(geo_map_col).alias("_geo_map")))
    out = df.join(lut, on="_geo_ip", how="left")
    merged = F.when(
        F.col("_geo_map").isNotNull(),
        F.map_from_entries(F.concat(
            F.filter(F.map_entries(F.col(target)),
                     lambda e: ~F.map_contains_key(F.col("_geo_map"),
                                                   e.key)),
            F.map_entries(F.col("_geo_map"))))
    ).otherwise(F.col(target))
    return out.withColumn(target, merged).drop("_geo_ip", "_geo_map")
