"""Parity of the one-pass metric compiler (``count_metrics`` and
``sum_metrics``) with a DuckDB reference that runs one ``GROUP BY`` per
metric def under ``UNION ALL BY NAME``: the shape the engine had before
the defs were compiled into one pass, written independently in SQL.

The reference-golden count/sum suites need testdata that is not in the
repository, so this is the count/sum parity check that runs everywhere.
"""

import duckdb
import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.aggregate import (
    AttrSpec,
    MetricDef,
    count_metrics,
    sum_metrics,
)

# Each def: (MetricDef, DuckDB WHERE terms, DuckDB dim expressions).
# Conditions are SQL both engines read alike; ``b > 5`` and ``a = 'x'``
# are NULL on NULL input, which must count as false.
COUNT_DEFS = [
    (MetricDef(name="c.by_a", attributes=[AttrSpec(key="a")]),
     [], {"a": "a"}),
    (MetricDef(name="c.or", conditions=["b > 5", "a = 'x'"],
               attributes=[AttrSpec(key="a", default_value="none"),
                           AttrSpec(key="attributes.k")]),
     ["(coalesce(b > 5, false) OR coalesce(a = 'x', false))"],
     {"a": "coalesce(a, 'none')", "k": "attr_k"}),
    (MetricDef(name="c.all", attributes=[AttrSpec(key="b")]),
     [], {"b": "b"}),
]
SUM_DEFS = [
    (MetricDef(name="s.by_k", source_attribute="src",
               attributes=[AttrSpec(key="attributes.k")]),
     [], {"k": "attr_k"}),
    (MetricDef(name="s.two", source_attribute="attributes.n",
               conditions=["b > 5"],
               attributes=[AttrSpec(key="a", default_value="none"),
                           AttrSpec(key="b")]),
     ["coalesce(b > 5, false)"], {"a": "coalesce(a, 'none')", "b": "b"}),
]

rows = st.lists(st.tuples(
    st.sampled_from(["x", "y", None]),                   # a
    st.one_of(st.none(), st.integers(0, 9)),            # b
    st.sampled_from(["p", "q", None]),                  # attributes.k
    st.sampled_from(["1", "2.5", "-3", "abc", "", None]),  # src
    st.sampled_from(["r1", "r2", None]),                # resource key
), min_size=0, max_size=30)


def _frames(spark, data):
    pdf = pd.DataFrame(data, columns=["a", "b", "attr_k", "src", "res"])
    pdf["b"] = pdf["b"].astype("Int64")
    sdf = spark.createDataFrame(
        [tuple(None if pd.isna(v) else v for v in r) for r in data],
        "a string, b long, attr_k string, src string, res string")
    sdf = sdf.withColumn("attributes", F.map_from_entries(F.filter(F.array(
        F.struct(F.lit("k").alias("key"), F.col("attr_k").alias("value")),
        F.struct(F.lit("n").alias("key"), F.col("src").alias("value"))),
        lambda e: e["value"].isNotNull()))).drop("attr_k")
    return pdf, sdf


def _duckdb(pdf, defs, value_sql, resource_keys, quirks=False):
    selects = []
    for mdef, where, dims in defs:
        terms = list(where)
        terms += [f"{expr} IS NOT NULL" for spec, expr in zip(mdef.attributes, dims.values())
                  if spec.default_value is None]
        value = value_sql(mdef)
        if mdef.source_attribute and not quirks:
            terms.append(f"{value} IS NOT NULL")
        if mdef.source_attribute:
            value = f"sum({value})"
        keys = [*resource_keys, *[f"{e} AS {n}" for n, e in dims.items()]]
        selects.append(
            f"SELECT {', '.join([*keys, value + ' AS value'])}, "
            f"'{mdef.name}' AS metric_name FROM t "
            f"WHERE {' AND '.join(terms) or 'true'} GROUP BY ALL")
    con = duckdb.connect()
    try:
        con.register("t", pdf)
        return con.execute(" UNION ALL BY NAME ".join(selects)).df()
    finally:
        con.close()


def _norm(v):
    if v is None or (not isinstance(v, str) and pd.isna(v)):
        return None
    return v if isinstance(v, str) else float(v)  # toPandas turns null longs to floats


def _sorted_rows(df, cols):
    return sorted((tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False)),
                  key=repr)


def _check(got, exp, value_type):
    assert got.columns == list(exp.columns)
    assert dict(got.dtypes)["value"] == value_type
    got_pdf = got.toPandas()
    assert _sorted_rows(got_pdf, got.columns) == _sorted_rows(exp, got.columns)


# both sum defs read ``src``: ``attributes.n`` holds the same string
SRC_SQL = "TRY_CAST(src AS DOUBLE)"


@settings(max_examples=8, deadline=None)
@given(rows, st.booleans())
def test_count_metrics_match_one_group_by_per_def(spark, data, with_resource):
    pdf, sdf = _frames(spark, data)
    rk = ["res"] if with_resource else []
    got = count_metrics(sdf, [d for d, _, _ in COUNT_DEFS], resource_keys=rk)
    exp = _duckdb(pdf, COUNT_DEFS, lambda _m: "count(*)", rk)
    _check(got, exp, "bigint")


@settings(max_examples=8, deadline=None)
@given(rows, st.booleans(), st.booleans())
def test_sum_metrics_match_one_group_by_per_def(spark, data, with_resource, quirks):
    pdf, sdf = _frames(spark, data)
    rk = ["res"] if with_resource else []
    got = sum_metrics(sdf, [d for d, _, _ in SUM_DEFS], resource_keys=rk,
                      reference_quirks=quirks)

    def value(mdef):
        v = SRC_SQL
        if quirks:  # unparseable adds 0, once per grouping attribute
            v = f"coalesce({v}, 0.0) * {max(len(mdef.attributes), 1)}"
        return v

    exp = _duckdb(pdf, SUM_DEFS, value, rk, quirks)
    _check(got, exp, "double")
