"""Replicates the driver's correctness gate locally: every queries()
entry that has an oracle_sql() is executed on Spark (sf0.01) and in
DuckDB, then compared order-insensitively (row count, sorted column
names, values)."""

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].isna().all():
            # An all-NULL column's pandas dtype is an accident of the
            # source's declared type (DuckDB NULL -> float64 NaN, Spark
            # string NULL -> object None); the driver hashes them equal.
            df[c] = pd.Series(["<NULL>"] * len(df), dtype=object,
                              index=df.index)
        elif df[c].dtype == object:
            df[c] = df[c].where(df[c].notna(), "<NULL>").astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(4)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


def test_every_oracle_has_query():
    assert set(ORACLES) <= set(QUERIES)


def test_no_two_oracles_share_sql():
    """Two queries checked by the same SQL compute the same thing: one
    of them is a duplicate."""
    by_sql = {}
    for name, sql in ORACLES.items():
        by_sql.setdefault(" ".join(sql.split()), []).append(name)
    assert [names for names in by_sql.values() if len(names) > 1] == []


def assert_frames_match(got: pd.DataFrame, exp: pd.DataFrame, name: str):
    """Driver-strict compare (VERDICT r3 item 3): the driver's value-hash
    stringifies raw cell values, so an int64 column on one side vs a
    float64 column on the other (e.g. a DuckDB HUGEINT materializing to
    pandas float64: 4058.0 vs 4058) hash-mismatches even when numerically
    equal.  Mirror that here: a numeric dtype-CLASS mismatch (int vs
    float) is a hard failure; the 1e-6 tolerance applies only when BOTH
    sides are genuinely float."""
    got, exp = canon(got), canon(exp)
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), (len(got), len(exp))
    for c in got.columns:
        g, e = got[c], exp[c]
        g_f = pd.api.types.is_float_dtype(g)
        e_f = pd.api.types.is_float_dtype(e)
        g_i = pd.api.types.is_integer_dtype(g)
        e_i = pd.api.types.is_integer_dtype(e)
        assert not ((g_i and e_f) or (g_f and e_i)), (
            f"{name}.{c}: numeric dtype-class mismatch ({g.dtype} vs "
            f"{e.dtype}) — the driver's value-hash is format-strict, so "
            f"this fails there even if values are numerically equal "
            f"(DuckDB HUGEINT->float64 artifact: CAST the oracle column)")
        if g_f and e_f:
            ok = ((g - e).abs() < 1e-6) | (g.isna() & e.isna())
            assert ok.all(), f"{name}.{c}: {g[~ok].head()} vs {e[~ok].head()}"
        else:
            same = (g.astype(str) == e.astype(str))
            assert same.all(), f"{name}.{c}:\n{pd.DataFrame({'got': g[~same], 'exp': e[~same]}).head()}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    exp = duck.execute(ORACLES[name]).df()
    assert_frames_match(got, exp, name)


def test_replica_catches_hugeint(duck):
    """Regression for VERDICT r3 #1/#3: an uncast HUGEINT oracle column
    (float64 in pandas) vs an int64 engine column must FAIL the replica,
    exactly as the driver's format-strict hash does."""
    exp = duck.execute(
        "SELECT SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n "
        "FROM lineitem").df()
    assert str(exp["n"].dtype) == "float64"  # HUGEINT -> pandas float64
    got = pd.DataFrame({"n": exp["n"].astype("int64")})
    with pytest.raises(AssertionError, match="dtype-class mismatch"):
        assert_frames_match(got, exp, "hugeint_regression")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_oracleless_query_runs(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
