"""M0 end-to-end: parse -> enrich -> route -> write -> aggregate over
the synthetic pages table, verified against an independent pandas
golden (routed-row equality + per-sink aggregate counts + obsreport
counters), plus checkpoint/resume semantics (F7)."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.datagen import (
    gen_host_meta,
    gen_lang_family,
    gen_pages_pdf,
)
from opentelemetry_collector_contrib_spark.plans.pipeline import (
    PAGES_SINKS,
    parse_pages,
    route_pages,
    enrich_pages,
    run_pipeline,
)
from opentelemetry_collector_contrib_spark.plans.checkpoint import (
    run_pipeline_checkpointed,
)
from tests.golden_routing import golden_counts, golden_routing


@pytest.fixture(scope="module")
def golden(pages_pdf):
    return golden_routing(pages_pdf)


def test_routed_row_equality(spark, pages_df, golden):
    """Exact row sets per sink vs the independent pandas first-match
    reference (routingconnector/logs.go:62-107 semantics)."""
    routed = route_pages(parse_pages(pages_df)).select("url", "sink").toPandas()
    merged = routed.merge(golden[["url", "sink"]], on="url", suffixes=("_spark", "_golden"))
    assert len(merged) == len(golden)
    mismatch = merged[merged.sink_spark != merged.sink_golden]
    assert mismatch.empty, mismatch.head(20)


def test_parse_field_equality(spark, pages_df, golden):
    """Byte-identical extracted fields per url (input_hint invariant)."""
    parsed = parse_pages(pages_df).select(
        "url", "status", "bytes",
        F.col("attributes").getItem("method").alias("method"),
    ).toPandas()
    m = parsed.merge(golden, on="url", suffixes=("", "_g"))
    ok_rows = m[~m.parse_error]
    assert (ok_rows.status == ok_rows.status_g).all()
    assert (ok_rows.bytes == ok_rows.bytes_g).all()
    bad_rows = m[m.parse_error]
    assert bad_rows.status.isna().all()


def test_aggregate_counts_match_golden(spark, pages_df, golden):
    """Per-sink aggregate counts == golden (count connector semantics:
    rows with a missing group attr are excluded, counter.go:95-104)."""
    from opentelemetry_collector_contrib_spark.operators.aggregate import (
        AttrSpec,
        MetricDef,
        count_metrics,
    )
    routed = route_pages(parse_pages(pages_df))
    got = count_metrics(
        routed,
        [MetricDef(name="log.record.count",
                   attributes=[AttrSpec(key="sink"), AttrSpec(key="status")])],
    ).toPandas()
    exp = golden_counts(golden)
    exp = exp[exp.status.notna()].astype({"status": "int64"})
    got2 = got.astype({"status": "int64"})[["sink", "status", "value"]]
    merged = exp.merge(got2, on=["sink", "status"], suffixes=("_exp", "_got"), how="outer")
    assert merged.value_exp.equals(merged.value_got), merged[merged.value_exp != merged.value_got]


def test_full_run_counters_and_outputs(spark, pages_df, golden, tmp_path):
    """obsreport F7: accepted = input rows, refused = parse failures,
    sent[sink] = routed rows; written files partitioned by sink."""
    out = str(tmp_path / "out")
    counters = run_pipeline(
        spark, pages_df, out,
        host_meta=spark.createDataFrame(gen_host_meta()),
        lang_family=spark.createDataFrame(gen_lang_family()),
    )
    assert counters["accepted"] == len(golden)
    assert counters["refused"] == int(golden.parse_error.sum())
    exp_sent = golden.sink.value_counts().to_dict()
    assert counters["sent"] == {k: exp_sent.get(k, 0) for k in counters["sent"]}

    back = spark.read.parquet(os.path.join(out, "routed"))
    assert back.count() == len(golden)
    assert set(r["sink"] for r in back.select("sink").distinct().collect()) == set(exp_sent)
    mets = spark.read.parquet(os.path.join(out, "metrics"))
    assert mets.filter(F.col("metric_name") == "log.record.count").count() > 0


def test_enrichment_broadcast(spark, pages_df):
    """host_meta/lang_family enrichment joins are broadcast (plan check:
    no shuffle of the fact side — SURVEY §2.5)."""
    enriched = enrich_pages(
        parse_pages(pages_df),
        host_meta=spark.createDataFrame(gen_host_meta()),
        lang_family=spark.createDataFrame(gen_lang_family()),
    )
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    row = enriched.filter(F.col("site_category").isNotNull()).first()
    assert row["family"] is not None


def test_checkpoint_resume(spark, pages_df, golden, tmp_path):
    """F7 resume: crash after group 1, re-run, assert no duplicate or
    missing rows per sink."""
    out = str(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline_checkpointed(spark, pages_df, out, n_groups=4,
                                  fail_after_group=1)
    # partial state: some groups done
    partial = spark.read.parquet(os.path.join(out, "routed"))
    assert 0 < partial.count() < len(golden)

    counters = run_pipeline_checkpointed(spark, pages_df, out, n_groups=4)
    back = spark.read.parquet(os.path.join(out, "routed"))
    assert back.count() == len(golden)
    assert back.select("url").distinct().count() == len(golden)
    got = {r["sink"]: r["n"] for r in back.groupBy("sink").agg(F.count("*").alias("n")).collect()}
    exp = golden.sink.value_counts().to_dict()
    assert got == exp
    assert counters["accepted"] == len(golden)


def test_checkpoint_output_matches_batch(spark, pages_df, tmp_path):
    """Every pages run writes the same rows and schema: the resumable
    output is the batch output plus its ``bucket`` lineage column and
    ``group`` partition, row for row, and its per-group metrics add up
    to the batch run's."""
    batch_dir, ck_dir = str(tmp_path / "batch"), str(tmp_path / "ckpt")
    enrich = dict(host_meta=spark.createDataFrame(gen_host_meta()),
                  lang_family=spark.createDataFrame(gen_lang_family()))
    run_pipeline(spark, pages_df, batch_dir, **enrich)
    run_pipeline_checkpointed(spark, pages_df, ck_dir, n_groups=4, **enrich)

    batch = spark.read.parquet(os.path.join(batch_dir, "routed"))
    ck = spark.read.parquet(os.path.join(ck_dir, "routed"))
    assert sorted(ck.columns) == sorted(batch.columns + ["bucket", "group"])
    assert {c: t for c, t in ck.dtypes if c not in ("bucket", "group")} \
        == dict(batch.dtypes)
    ck_rows = ck.select(*batch.columns)
    assert ck_rows.count() == batch.count() == pages_df.count()
    assert ck_rows.exceptAll(batch).count() == 0
    assert batch.exceptAll(ck_rows).count() == 0

    def records(out):
        mets = spark.read.parquet(os.path.join(out, "metrics"))
        return {(r["sink"], r["status"]): r["v"] for r in mets
                .filter(F.col("metric_name") == "log.record.count")
                .groupBy("sink", "status").agg(F.sum("value").alias("v"))
                .collect()}

    assert os.path.isdir(os.path.join(ck_dir, "metrics", "group=0"))
    assert records(ck_dir) == records(batch_dir)


def test_checkpoint_drop_mode_matches_batch(spark, pages_df, golden, tmp_path):
    """``on_error="drop"`` reaches the resumable path: refused rows are
    counted before the drop and never written, and the ledger totals
    equal a drop-mode batch run's counters."""
    batch_dir, ck_dir = str(tmp_path / "batch"), str(tmp_path / "ckpt")
    want = run_pipeline(spark, pages_df, batch_dir, on_error="drop")
    # the resumable run returns the totals it merged from its ledger
    got = run_pipeline_checkpointed(spark, pages_df, ck_dir, n_groups=4,
                                    on_error="drop")
    assert want["refused"] == int(golden.parse_error.sum()) > 0
    assert got == want

    back = spark.read.parquet(os.path.join(ck_dir, "routed"))
    assert back.filter(F.col("_parse_error")).count() == 0
    assert back.count() == len(golden) - int(golden.parse_error.sum())


@pytest.mark.parametrize("on_error", ["send", "drop"])
def test_empty_input_gives_zero_counters(spark, pages_df, tmp_path, on_error):
    """An empty pages frame is a run with nothing in it, not a failed
    read-back."""
    out = str(tmp_path / "out")
    counters = run_pipeline(spark, pages_df.limit(0), out, on_error=on_error)
    assert counters["accepted"] == counters["refused"] == 0
    assert set(counters["sent"].values()) == {0}
    with open(os.path.join(out, "counters.json")) as f:
        assert json.load(f) == counters


def test_checkpoint_survives_empty_groups(spark, pages_df, tmp_path):
    """Two rows over eight commit groups leave at least six groups
    empty; each still commits a ledger marker with zero counters."""
    out = str(tmp_path / "ckpt")
    counters = run_pipeline_checkpointed(spark, pages_df.limit(2), out,
                                         n_groups=8)
    assert counters["accepted"] == 2
    assert sum(counters["sent"].values()) == 2
    ledger = os.path.join(out, "_ledger")
    groups = []
    for name in os.listdir(ledger):
        with open(os.path.join(ledger, name)) as f:
            groups.append(json.load(f)["accepted"])
    assert len(groups) == 8 and groups.count(0) >= 6


@pytest.mark.parametrize("kw", [{"n_buckets": 0}, {"n_groups": 0}])
def test_checkpoint_rejects_zero_buckets_or_groups(spark, pages_df, tmp_path, kw):
    """Zero buckets or groups is a usage error, raised before any Spark
    job or output: zero groups used to commit nothing and report zero
    counters, zero buckets died in a task with REMAINDER_BY_ZERO."""
    out = str(tmp_path / "ckpt")
    with pytest.raises(ValueError, match="must be >= 1"):
        run_pipeline_checkpointed(spark, pages_df, out, **kw)
    assert not os.path.exists(out)


def _expected_counters(pdf: pd.DataFrame) -> dict:
    golden = golden_routing(pdf)
    sent = golden.sink.value_counts().to_dict()
    return {"accepted": len(golden), "refused": int(golden.parse_error.sum()),
            "sent": {s: sent.get(s, 0) for s in PAGES_SINKS}}


def test_plan_compiled_once_per_session(spark, tmp_path, monkeypatch):
    """Units over frames of one shape reuse one compiled plan: two runs
    over two different page tables give their own correct counters, and
    the grok pattern is compiled once."""
    from opentelemetry_collector_contrib_spark.operators import parsers
    compiled = []
    real = parsers.compile_grok
    monkeypatch.setattr(parsers, "compile_grok",
                        lambda *a, **kw: compiled.append(a) or real(*a, **kw))
    for seed in (11, 12):
        pdf = gen_pages_pdf(300, seed=seed)
        # a column no other test's pages carry: the first run compiles
        pages = spark.createDataFrame(pdf).withColumn("compile_probe", F.lit(seed))
        counters = run_pipeline(spark, pages, str(tmp_path / f"out{seed}"))
        assert counters == _expected_counters(pdf)
    assert len(compiled) == 1


RESTART_SCRIPT = """
import json, sys
from opentelemetry_collector_contrib_spark.datagen import write_pages
from opentelemetry_collector_contrib_spark.plans.pipeline import run_pipeline
from opentelemetry_collector_contrib_spark.session import get_spark
out = sys.argv[1]
write_pages(out + "/pages", 300, partitions=2)
got = []
for n in (2, 1):
    spark = get_spark(f"local[{n}]", shuffle_partitions=2)
    got.append(run_pipeline(spark, spark.read.parquet(out + "/pages"), f"{out}/out{n}"))
    spark.stop()
print(json.dumps(got))
"""


def test_plan_survives_context_restart(tmp_path):
    """Run, stop the context, open ``local[1]`` in the same process and
    run again (perfbench's scaling pass does this): the plan compiled
    under the first context is not reused, and the counters agree."""
    import subprocess
    import sys
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run([sys.executable, "-c", RESTART_SCRIPT, str(tmp_path)],
                         cwd=repo, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    first, second = json.loads(res.stdout.strip().splitlines()[-1])
    assert first == second == _expected_counters(gen_pages_pdf(300))
