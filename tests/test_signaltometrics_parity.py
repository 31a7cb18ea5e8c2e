"""Parity of ``signal_to_metrics_config``'s one grouping over every
definition with a DuckDB reference that runs one ``GROUP BY`` per
definition under ``UNION ALL``: the shape the engine had before the
definitions shared one pass, written independently in SQL.

The reference-golden signaltometrics suite needs testdata that is not
in the repository, so this is the sum/gauge/histogram parity check that
runs everywhere (exponential histograms are checked against a
brute-force go-expohisto in test_aggregates_enrich).
"""

from collections import Counter

import duckdb
import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.aggregate import (
    DEFAULT_SPANMETRICS_BUCKETS_MS)
from opentelemetry_collector_contrib_spark.operators.signaltometrics import (
    OUT_SCHEMA, signal_to_metrics_config)

IDENTITY = {"svc": "stm"}
CUSTOM = [1.0, 5.0]
RES = "'host=' || host || ',svc=stm,zone=' || zone"


def _buckets(value: str, count: str, bounds: list) -> str:
    """DuckDB dense bucket counts: SearchFloat64s index = the number of
    bounds strictly below the value."""
    idx = f"len(list_filter({[float(b) for b in bounds]}, b -> b < {value}))"
    return "[" + ", ".join(f"sum(CASE WHEN {idx} = {i} THEN {count} ELSE 0 END)"
                           for i in range(len(bounds) + 1)) + "]::BIGINT[]"


# Each definition: (config, DuckDB select over ``t``). The select yields
# name, res, attrs (``k=v`` lists, sorted by key, NULL values omitted)
# and the definition's value columns; the rest are NULL.
DEFS = [
    ({"name": "s.int", "attributes": [{"key": "a"}],
      "conditions": ['attributes["b"] == "p"', "n > 5"],
      "sum": {"value": "n"}},
     f"SELECT 's.int' AS name, {RES} AS res, 'a=' || a AS attrs, "
     "true AS is_int, sum(n)::BIGINT AS value_int FROM t "
     "WHERE (coalesce(b = 'p', false) OR coalesce(n > 5, false)) "
     "AND a IS NOT NULL AND n IS NOT NULL GROUP BY ALL"),
    ({"name": "s.double", "attributes": [{"key": "a", "default_value": "none"}],
      "sum": {"value": "x"}},
     f"SELECT 's.double' AS name, {RES} AS res, 'a=' || coalesce(a, 'none') "
     "AS attrs, false AS is_int, sum(x) AS value_double FROM t "
     "WHERE x IS NOT NULL GROUP BY ALL"),
    ({"name": "s.str", "attributes": [{"key": "b", "optional": True}],
      "sum": {"value": 'attributes["s"]'}},
     f"SELECT 's.str' AS name, res, attrs, is_int, "
     "CASE WHEN is_int THEN v::BIGINT END AS value_int, "
     "CASE WHEN NOT is_int THEN v END AS value_double FROM ("
     f"SELECT {RES} AS res, coalesce('b=' || b, '') AS attrs, "
     "bool_and(regexp_full_match(s, '-?[0-9]+')) AS is_int, "
     "sum(TRY_CAST(s AS DOUBLE)) AS v FROM t "
     "WHERE TRY_CAST(s AS DOUBLE) IS NOT NULL GROUP BY ALL)"),
    ({"name": "g.last", "attributes": [{"key": "a"}], "gauge": {"value": "x"}},
     f"SELECT 'g.last' AS name, {RES} AS res, 'a=' || a AS attrs, "
     "false AS is_int, arg_max(x, ord) AS value_double FROM t "
     "WHERE a IS NOT NULL AND x IS NOT NULL GROUP BY ALL"),
    ({"name": "h.default", "attributes": [{"key": "b", "optional": True}],
      "histogram": {"value": "x"}},
     f"SELECT 'h.default' AS name, {RES} AS res, coalesce('b=' || b, '') "
     "AS attrs, count(*)::BIGINT AS count, sum(x) AS total, "
     f"{[float(b) for b in DEFAULT_SPANMETRICS_BUCKETS_MS]} AS bounds, "
     f"{_buckets('x', '1', DEFAULT_SPANMETRICS_BUCKETS_MS)} AS bucket_counts "
     "FROM t WHERE x IS NOT NULL GROUP BY ALL"),
    ({"name": "h.custom", "attributes": [{"key": "a", "default_value": "none"}],
      "include_resource_attributes": [{"key": "host"}],
      "histogram": {"value": "x", "count": "n", "buckets": CUSTOM}},
     "SELECT 'h.custom' AS name, 'host=' || host || ',svc=stm' AS res, "
     "'a=' || coalesce(a, 'none') AS attrs, sum(n)::BIGINT AS count, "
     f"sum(x * n) AS total, {CUSTOM} AS bounds, "
     f"{_buckets('x', 'n', CUSTOM)} AS bucket_counts FROM t "
     "WHERE x IS NOT NULL AND n IS NOT NULL GROUP BY ALL"),
]
COLS = ["name", "res", "attrs", "is_int", "value_int", "value_double",
        "count", "total", "bounds", "bucket_counts"]

rows = st.lists(st.tuples(
    st.one_of(st.none(), st.integers(0, 9)),                       # n
    st.one_of(st.none(), st.sampled_from(
        [-1.0, 0.0, 0.5, 3.0, 7.25, 100.0, 20000.0])),             # x
    st.sampled_from(["1", "2.5", "-3", "abc", "", None]),          # s
    st.sampled_from(["x", "y", None]),                             # a
    st.sampled_from(["p", "q", None]),                             # b
    st.sampled_from(["h1", "h2"]),                                 # host
    st.sampled_from(["z1", "z2"]),                                 # zone
), min_size=0, max_size=30)


def _entries(m) -> str:
    return ",".join(f"{k}={v}" for k, v in sorted((m or {}).items()))


def _norm(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if v is None or (not isinstance(v, str) and pd.isna(v)):
        return None
    return v.item() if hasattr(v, "item") else v


def _expected(data) -> list:
    pdf = pd.DataFrame([(i, *r) for i, r in enumerate(data)], columns=[
        "ord", "n", "x", "s", "a", "b", "host", "zone"])
    pdf["n"] = pdf["n"].astype("Int64")
    pdf["x"] = pdf["x"].astype("Float64")
    con = duckdb.connect()
    try:
        con.register("t", pdf)
        sql = " UNION ALL BY NAME ".join(f"({q})" for _, q in DEFS)
        out = con.execute(f"SELECT {', '.join(COLS)} FROM ({sql})").df()
    finally:
        con.close()
    return Counter(tuple(_norm(v) for v in r)
                   for r in out.itertuples(index=False))


@settings(max_examples=8, deadline=None)
@given(rows)
def test_one_grouping_matches_one_group_by_per_definition(spark, data):
    sdf = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(data)],
        "ord long, n long, x double, s string, a string, b string, "
        "host string, zone string").repartition(3)
    sdf = sdf.select(
        "ord", "n", "x",
        F.map_from_entries(F.filter(F.array(*[
            F.struct(F.lit(k).alias("key"), F.col(k).alias("value"))
            for k in ("a", "b", "s")]), lambda e: e["value"].isNotNull()))
        .alias("attributes"),
        F.create_map(F.lit("host"), F.col("host"), F.lit("zone"), F.col("zone"))
        .alias("resource"))
    got = signal_to_metrics_config(sdf, [d for d, _ in DEFS],
                                   identity_attrs=IDENTITY, order_col="ord")
    assert got.schema.simpleString() == f"struct<{OUT_SCHEMA}>".replace(
        ", ", ",").replace(" ", ":").replace("long", "bigint")
    assert Counter((r["name"], _entries(r["resource"]), _entries(r["attrs"]),
                    *[_norm(r[c]) for c in COLS[3:]])
                   for r in got.collect()) == _expected(data)

