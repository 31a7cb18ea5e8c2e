"""Correctness checks, run outside the timed window.

The pages expectations are computed by DuckDB straight from the input
parquet with the Apache regex and the first-match route table of
``tests/golden_routing.py``; they share no code with the Spark plans.
Each check returns a list of problems (empty when the output is right).
"""

from __future__ import annotations

import json
import os

import duckdb

from tests.golden_routing import APACHE_RE

SINKS = ("sink_errors", "sink_en_get", "sink_api", "sink_default")

# Capture-group positions in APACHE_RE.
_METHOD, _PATH, _STATUS = 4, 5, 7

# tests/golden_routing.py route_row as SQL: ordered, first match wins,
# rows the regex refuses go to the default sink.
_ROUTE_SQL = """
    CASE WHEN NOT ok THEN 'sink_default'
         WHEN status >= 500 THEN 'sink_errors'
         WHEN lang = 'en' AND method = 'GET' THEN 'sink_en_get'
         WHEN starts_with(path, '/api/') THEN 'sink_api'
         ELSE 'sink_default' END"""


def _glob(path: str) -> str:
    return os.path.join(path, "*.parquet").replace("'", "''")


def pages_expectation(pages_dir: str) -> dict:
    """accepted/refused/sent counters and (sink, status) record counts."""
    pat = APACHE_RE.pattern.replace("'", "''")
    con = duckdb.connect()
    try:
        con.execute(f"""
            CREATE TEMP VIEW routed AS
            WITH m AS (
              SELECT lang, regexp_matches(text, '{pat}') AS ok,
                     regexp_extract(text, '{pat}', {_METHOD}) AS method,
                     regexp_extract(text, '{pat}', {_PATH}) AS path,
                     TRY_CAST(regexp_extract(text, '{pat}', {_STATUS}) AS INTEGER)
                       AS status
              FROM read_parquet('{_glob(pages_dir)}'))
            SELECT ok, status, {_ROUTE_SQL} AS sink FROM m""")
        accepted, refused = con.execute(
            "SELECT count(*), count(*) FILTER (WHERE NOT ok) FROM routed").fetchone()
        sent = dict(con.execute(
            "SELECT sink, count(*) FROM routed GROUP BY sink").fetchall())
        records = con.execute(
            "SELECT sink, status, count(*) FROM routed WHERE ok "
            "GROUP BY sink, status").fetchall()
        distinct_keys = con.execute(
            f"SELECT count(DISTINCT (url, warc_ts)) "
            f"FROM read_parquet('{_glob(pages_dir)}')").fetchone()[0]
    finally:
        con.close()
    return {
        "accepted": int(accepted), "refused": int(refused),
        "sent": {s: int(sent.get(s, 0)) for s in SINKS},
        "records": {(s, int(st)): int(n) for s, st, n in records},
        "distinct_keys": int(distinct_keys),
    }


def _counter_problems(got: dict, exp: dict, where: str) -> list[str]:
    want = {"accepted": exp["accepted"], "refused": exp["refused"],
            "sent": exp["sent"]}
    have = {"accepted": got.get("accepted"), "refused": got.get("refused"),
            "sent": {s: (got.get("sent") or {}).get(s) for s in SINKS}}
    return [] if have == want else [f"{where}: {have} != expected {want}"]


def _sink_rows(con, routed_glob: str) -> dict[str, int]:
    return dict(con.execute(
        f"SELECT sink, count(*) FROM read_parquet('{routed_glob}', "
        "hive_partitioning = true) GROUP BY sink").fetchall())


def check_batch_output(out_dir: str, counters: dict, exp: dict) -> list[str]:
    """run_pipeline output: returned counters, counters.json, the
    (sink, status) record metrics and the rows read back per sink."""
    problems = _counter_problems(counters, exp, "returned counters")
    with open(os.path.join(out_dir, "counters.json")) as f:
        problems += _counter_problems(json.load(f), exp, "counters.json")
    con = duckdb.connect()
    try:
        metrics = os.path.join(out_dir, "metrics", "*.parquet").replace("'", "''")
        records = {(s, int(st)): int(v) for s, st, v in con.execute(
            f"SELECT sink, status, value FROM read_parquet('{metrics}') "
            "WHERE metric_name = 'log.record.count'").fetchall()}
        routed = os.path.join(out_dir, "routed", "*", "*.parquet").replace("'", "''")
        back = _sink_rows(con, routed)
    finally:
        con.close()
    if records != exp["records"]:
        problems.append("log.record.count per (sink, status) differs from DuckDB")
    if {s: back.get(s, 0) for s in SINKS} != exp["sent"]:
        problems.append(f"rows read back per sink {back} != {exp['sent']}")
    return problems


def check_resumed_output(out_dir: str, counters: dict, exp: dict) -> list[str]:
    """run_pipeline_checkpointed after a crash and a resume: totals,
    rows per sink, and every (url, warc_ts) exactly once."""
    problems = _counter_problems(counters, exp, "resumed counters")
    con = duckdb.connect()
    try:
        routed = os.path.join(out_dir, "routed", "*", "*", "*.parquet").replace("'", "''")
        back = _sink_rows(con, routed)
        rows, keys = con.execute(
            f"SELECT count(*), count(DISTINCT (url, warc_ts)) "
            f"FROM read_parquet('{routed}', hive_partitioning = true)").fetchone()
    finally:
        con.close()
    if {s: back.get(s, 0) for s in SINKS} != exp["sent"]:
        problems.append(f"resumed rows per sink {back} != {exp['sent']}")
    if rows != keys or keys != exp["distinct_keys"]:
        problems.append(f"resumed output has {rows} rows, {keys} distinct "
                        f"(url, warc_ts); input has {exp['distinct_keys']}")
    return problems


# Published known-answer vectors: FNV-1a 64 (Noll's test suite) and
# MurmurHash3 x86_32 / x64_128 with seed 0, rendered as the OTTL
# converters render them (signed int64; little-endian hex).
FNV1A64_VECTORS = {"": 0xCBF29CE484222325, "a": 0xAF63DC4C8601EC8C,
                   "foobar": 0x85944171F73967E8}
FOX = "The quick brown fox jumps over the lazy dog"
MURMUR3_VECTORS = {"": "00000000", "hello": "47fa8b24", FOX: "23f74f2e"}
MURMUR3_128_VECTORS = {"": "0" * 32, FOX: "6c1b07bc7bbc4be347939ac4a93c437a"}


def _signed64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def check_hash_vectors(spark) -> list[str]:
    from opentelemetry_collector_contrib_spark.functions.hashes import (
        fnv1a64_udf, murmur3_128_hex_udf, murmur3_hex_udf)
    problems = []
    cases = [(fnv1a64_udf, {k: _signed64(v) for k, v in FNV1A64_VECTORS.items()}),
             (murmur3_hex_udf, MURMUR3_VECTORS),
             (murmur3_128_hex_udf, MURMUR3_128_VECTORS)]
    for udf, vectors in cases:
        df = spark.createDataFrame([(k,) for k in vectors], "v string")
        got = {r["v"]: r["h"] for r in df.select("v", udf(df["v"]).alias("h")).collect()}
        if got != vectors:
            problems.append(f"{udf.__name__}: {got} != {vectors}")
    return problems


def fnv_sampler_expected_keep(urls: list[str], percent: float, seed: int) -> int:
    """Rows the reference's hash_seed sampler keeps: FNV-1a 32 over
    le32(seed) || utf-8(value), low 14 bits below the threshold
    (probabilisticsamplerprocessor fnvhasher.go). Values here are
    never hex, so the raw-bytes branch does not apply."""
    thr = int(percent * (1 << 14) / 100)
    prefix = (seed & 0xFFFFFFFF).to_bytes(4, "little")
    kept = 0
    for u in urls:
        h = 0x811C9DC5
        for b in prefix + u.encode("utf-8"):
            h = ((h ^ b) * 0x01000193) & 0xFFFFFFFF
        kept += (h & 0x3FFF) < thr
    return kept
