"""Skew operators + batch filelog source."""

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.skew import (
    salted_agg,
    salted_count_distinct,
)
from opentelemetry_collector_contrib_spark.sources.filelog import (
    read_text_lines,
)


def _skewed(spark):
    # key 'hot' holds 90% of rows
    rows = [("hot" if i % 10 != 0 else f"cold{i}", float(i)) for i in range(2000)]
    return spark.createDataFrame(rows, "k string, v double")


def test_salted_agg_equals_plain(spark):
    df = _skewed(spark).withColumn("one", F.lit(1))
    plain = {r["k"]: (r["s"], r["n"]) for r in
             df.groupBy("k").agg(F.sum("v").alias("s"),
                                 F.count(F.lit(1)).alias("n")).collect()}
    salted = {r["k"]: (r["sum_v"], r["count_one"]) for r in
              salted_agg(df, ["k"], {"v": "sum", "one": "count"},
                         buckets=8).collect()}
    for k, (s, n) in plain.items():
        assert abs(salted[k][0] - s) < 1e-6
        assert salted[k][1] == n


def test_salted_count_distinct_exact(spark):
    df = _skewed(spark)
    exact = {r["k"]: r["d"] for r in
             df.groupBy("k").agg(F.count_distinct("v").alias("d")).collect()}
    got = {r["k"]: r["distinct_v"] for r in
           salted_count_distinct(df, ["k"], "v", buckets=8).collect()}
    assert got == exact


def test_read_text_lines(spark, tmp_path):
    p1 = tmp_path / "app.log"
    p1.write_text("line one\nline two\n")
    p2 = tmp_path / "skip.tmp"
    p2.write_text("nope\n")
    df = read_text_lines(spark, str(tmp_path / "*"), exclude=r"\.tmp$")
    rows = df.collect()
    assert sorted(r["body"] for r in rows) == ["line one", "line two"]
    assert all(r["observed_time"] is not None for r in rows)
    assert all(r["attributes"] == {} for r in rows)
