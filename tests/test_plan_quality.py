"""Physical-plan assertions: the properties that keep the pipeline fast
at 100 TB must be visible in .explain() — filter/column pushdown to the
parquet scan, broadcast (never sort-merge) enrichment joins, no shuffle
before the route tag, whole-stage codegen over the parse chain."""

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.datagen import (
    gen_host_meta,
    gen_lang_family,
)
from opentelemetry_collector_contrib_spark.plans.pipeline import (
    enrich_pages,
    parse_pages,
    route_pages,
)


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from opentelemetry_collector_contrib_spark.datagen import write_pages
    p = str(tmp_path_factory.mktemp("pq") / "pages")
    write_pages(p, 5000, partitions=4)
    return p


def _plan(df) -> str:
    """Formatted explain output (includes WholeStageCodegen subtrees)."""
    sc = df.sparkSession._jvm
    mode = sc.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_filter_and_column_pushdown(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet)
    q = df.filter(F.col("lang") == "en").select("url", "lang")
    plan = q._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    assert "html" not in plan.split("ReadSchema")[-1]  # column pruned


def test_parse_chain_is_narrow_no_shuffle(spark, pages_parquet):
    """Scan -> parse -> route must contain ZERO exchanges: at 100 TB the
    first shuffle is the aggregate over the written sinks, nothing
    earlier."""
    df = spark.read.parquet(pages_parquet)
    routed = route_pages(parse_pages(df))
    plan = _plan(routed)
    assert "Exchange" not in plan
    assert "codegen id :" in plan  # whole-stage codegen active


def test_direct_write_plan_has_no_shuffle_at_all(spark, pages_parquet):
    """The ENTIRE routed write plan of ``write_unit`` — scan -> parse ->
    enrich -> route -> project -> sort within partitions — has zero
    non-broadcast exchanges: the routed bytes are never serialized
    through a shuffle on the way to the sinks."""
    from opentelemetry_collector_contrib_spark.plans.pipeline import sink_rows
    df = spark.read.parquet(pages_parquet)
    writable = sink_rows(route_pages(parse_pages(df))) \
        .sortWithinPartitions("sink")
    plan = _plan(writable)
    non_broadcast = [l for l in plan.splitlines()
                     if "Exchange" in l and "Broadcast" not in l]
    assert non_broadcast == []


def test_enrichment_is_broadcast_not_sortmerge(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet)
    enriched = enrich_pages(parse_pages(df),
                            spark.createDataFrame(gen_host_meta()),
                            spark.createDataFrame(gen_lang_family()))
    plan = _plan(enriched)
    # formatted explain mentions each node twice (tree + detail)
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan
    # fact side still unshuffled: only broadcast exchanges allowed
    import re
    non_broadcast_exchanges = [
        l for l in plan.splitlines()
        if "Exchange" in l and "Broadcast" not in l]
    assert non_broadcast_exchanges == []


def test_aggregate_has_partial_agg(spark, pages_parquet):
    """count connector: map-side partial aggregation before the single
    shuffle (HashAggregate partial -> Exchange -> HashAggregate final)."""
    from opentelemetry_collector_contrib_spark.operators.aggregate import (
        AttrSpec, MetricDef, count_metrics)
    df = spark.read.parquet(pages_parquet)
    routed = route_pages(parse_pages(df))
    agg = count_metrics(routed, [MetricDef(
        attributes=[AttrSpec(key="sink"), AttrSpec(key="status")])])
    plan = _plan(agg)
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert plan.count("Exchange") <= 2      # one shuffle (+AQE read)


def test_aggregate_readback_one_scan_one_shuffle(spark, pages_parquet, tmp_path):
    """The flagship's aggregate read-back (``aggregate_pages`` over the
    written routed parquet, as ``write_unit`` plans it) compiles every
    count and sum def into one pass: exactly one FileScan and one
    shuffle Exchange, not one of each per metric def."""
    from opentelemetry_collector_contrib_spark.plans.pipeline import (
        aggregate_pages, sink_rows)
    routed_dir = str(tmp_path / "routed")
    writable = sink_rows(route_pages(parse_pages(spark.read.parquet(pages_parquet))))
    writable.write.partitionBy("sink").parquet(routed_dir)
    back = spark.read.schema(writable.schema).parquet(routed_dir)
    plan = aggregate_pages(back)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange") == 1, plan


def test_minhash_single_shuffle_per_join_side(spark):
    """LSH pairs: signature computation is narrow (explode happens
    before the only exchanges: one per join side on (band, bucket) +
    one for the distinct). No extra shuffles may appear."""
    from opentelemetry_collector_contrib_spark.operators.dedup import (
        minhash_lsh_pairs)
    docs = spark.createDataFrame(
        [(i, f"word{i} common text tokens here for shingles {i}") for i in range(50)],
        "doc_id long, text string")
    plan = _plan(minhash_lsh_pairs(docs))
    import re
    tree_exchanges = re.findall(r"\bExchange \(\d+\)", plan)
    assert len(tree_exchanges) <= 3  # 2 join sides + 1 distinct
    assert "Generate" in plan  # banding explode is in-plan, not a UDF


def test_ivf_probe_is_partition_pruned(spark, tmp_path_factory):
    """IVF at scale: the corpus is WRITTEN partitioned by ivf_cell, so
    the probe's cell filter must become a PartitionFilter on the scan
    (only n_probe/n_cells of the data is read) — not a post-scan
    filter over everything."""
    from opentelemetry_collector_contrib_spark.operators.similarity import (
        default_centroids, ivf_assign, ivf_topk)
    cents = default_centroids(4, 8)
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
         for i in range(200)],
        "vec_id long, embedding array<float>")
    path = str(tmp_path_factory.mktemp("ivf") / "cells")
    ivf_assign(emb, cents).write.partitionBy("ivf_cell").parquet(path)
    stored = spark.read.parquet(path)
    out = ivf_topk(stored, cents, [1.0] * 8, k=5, n_probe=1)
    plan = out._jdf.queryExecution().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "ivf_cell" in pf[0]          # pruning reached the scan
    # the probed top-k must still be TakeOrderedAndProject, no sort
    assert "TakeOrderedAndProject" in plan


def _expo_span_metrics(df):
    from opentelemetry_collector_contrib_spark.operators.aggregate import (
        span_metrics_exponential)
    return span_metrics_exponential(df, ["service"])


def _expo_signal_to_metrics(df):
    from opentelemetry_collector_contrib_spark.operators.signaltometrics import (
        signal_to_metrics_config)
    return signal_to_metrics_config(
        df.withColumn("attributes",
                      F.create_map(F.lit("service"), F.col("service"))),
        [{"name": "span.duration", "attributes": [{"key": "service"}],
          "exponential_histogram": {"value": "duration_ms"}}])


def _expo_plan(spark, build) -> str:
    df = spark.createDataFrame(
        [("svc", float(i % 50 + 1), "OK") for i in range(100)],
        "service string, duration_ms double, status_code string")
    return _plan(build(df))


def _assert_expo_plan(plan: str) -> None:
    """The shared exponential downscale: the per-series shift frame
    (tiny: one row per series) comes back as a BROADCAST join — never a
    shuffle join against the span frame — and the whole job stays at
    <= 3 shuffles (min/max pass + two-stage bucket agg), each
    aggregation partial + final."""
    import re
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\bExchange \(\d+\)", plan)) <= 3
    assert len(re.findall(r"HashAggregate \(\d+\)", plan)) >= 6
    assert "SortAggregate" not in plan


def test_spanmetrics_exponential_two_stage_agg(spark):
    """Exponential spanmetrics: per-bucket partial aggregation before
    the dims re-group — partial + final HashAggregate per stage, no
    sort-based aggregation, no shuffle beyond the downscale's three."""
    import re
    plan = _expo_plan(spark, _expo_span_metrics)
    assert len(re.findall(r"\bExchange \(\d+\)", plan)) <= 3
    assert len(re.findall(r"HashAggregate \(\d+\)", plan)) >= 6
    assert "SortAggregate" not in plan


def test_spanmetrics_exponential_auto_downscale_plan(spark):
    """Exponential spanmetrics, auto max_size downscale."""
    _assert_expo_plan(_expo_plan(spark, _expo_span_metrics))


def test_signaltometrics_exponential_downscale_plan(spark):
    """signaltometrics' exponential_histogram runs the same downscale
    as spanmetrics, so its plan has the same shape."""
    _assert_expo_plan(_expo_plan(spark, _expo_signal_to_metrics))


def test_neardup_verified_no_cartesian(spark):
    """Composed near-dup (LSH candidates -> exact verify): the verify
    stage joins ONLY the candidate pairs — no CartesianProduct or
    BroadcastNestedLoopJoin may appear anywhere in the plan."""
    from opentelemetry_collector_contrib_spark.operators.dedup import (
        minhash_lsh_pairs, ngram_jaccard_pairs)
    docs = spark.createDataFrame(
        [(i, f"common shingle text body word{i % 7} tail tokens {i % 3}")
         for i in range(60)],
        "doc_id long, text string")
    cand = minhash_lsh_pairs(docs, threshold=0.2).select("id_a", "id_b")
    out = ngram_jaccard_pairs(docs, threshold=0.3, candidates=cand)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ottl_statements_compile_to_narrow_plan(spark, pages_parquet):
    """A statement sequence is ONE projection chain over the scan —
    zero exchanges, whole-stage codegen active."""
    from opentelemetry_collector_contrib_spark.functions.ottl_dsl import (
        transform_statements)
    df = spark.read.parquet(pages_parquet).selectExpr(
        "text as body", "map('k', lang) as attributes",
        "map('host.name', url) as resource")
    out = transform_statements(df, [
        'set(attributes["sev"], "hi") where IsMatch(body, "GET")',
        'replace_pattern(attributes["k"], "e", "3")',
        'delete_key(attributes, "gone")',
    ])
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "codegen id :" in plan


def test_json_lane_statements_narrow_plan(spark, pages_parquet):
    """The round-3 JSON variant lane (nested set/append, dynamic
    nested indexing, ContainsValue over JSON text) must stay a single
    narrow projection chain — the from_json/get_json_object dispatch
    adds expressions, never exchanges or UDFs."""
    from opentelemetry_collector_contrib_spark.functions.ottl_dsl import (
        transform_statements)
    df = spark.read.parquet(pages_parquet).selectExpr(
        "text as body",
        "map('foo', '{\"bar\":\"1\"}', 'things',"
        " '[{\"name\":\"a\"}]') as attributes")
    out = transform_statements(df, [
        'set(attributes["foo"]["extra"], "v")',
        'append(attributes["foo"]["slice"], values=["x"])',
        'set(attributes["first"], attributes["things"][0]["name"])',
        'set(attributes["has"], "y") where '
        'ContainsValue(attributes["foo"]["slice"], "x")',
    ])
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_span_statements_narrow_plan(spark):
    """Span-context statements (status.code writes, IsRootSpan,
    SPAN_KIND enums) compile to the same zero-exchange shape as log
    statements."""
    from opentelemetry_collector_contrib_spark.functions.ottl_dsl import (
        transform_statements)
    df = spark.createDataFrame(
        [("t1", "s1", "", "op-A", 2, 0, 12.5, {})],
        "trace_id string, span_id string, parent_span_id string, "
        "name string, kind int, status_code int, duration_ms double, "
        "attributes map<string,string>")
    out = transform_statements(df, [
        'set(attributes["root"], name) where IsRootSpan()',
        'set(status.code, STATUS_CODE_ERROR) where duration_ms > 10.0',
        'set(attributes["k"], "server") where kind == SPAN_KIND_SERVER',
    ])
    plan = _plan(out)
    assert "Exchange" not in plan


def test_topk_uses_take_ordered(spark):
    """brute_force_topk must compile to TakeOrderedAndProject (per-
    partition heaps + driver merge), NOT a global Sort."""
    from opentelemetry_collector_contrib_spark.operators.similarity import (
        brute_force_topk)
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(100)],
        "vec_id long, embedding array<float>")
    plan = _plan(brute_force_topk(emb, [1.0, 0.0], k=5))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_shingle_explode_not_reinlined_by_infer_filters(spark):
    """Regression for the InferFiltersFromGenerate trap: a plain
    explode of the staged shingle/winnow arrays lets the optimizer
    infer a size(arr) > 0 filter BELOW the projections, inlining the
    whole tokenize->shingle chain into the Filter and re-evaluating it
    several times per row (measured 49 s vs ~3 s on 5k docs).  The
    explode_nonnull helper (explode_outer + null post-filter) is exempt
    from that rule; assert each expensive chain appears exactly once in
    the optimized plan."""
    from opentelemetry_collector_contrib_spark.operators.dedup import (
        contamination_overlap, substring_overlap_pairs)
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(4)],
        "doc_id long, text string")
    bench = spark.createDataFrame([(0, "alpha beta gamma")],
                                  "doc_id long, text string")
    opt = (contamination_overlap(docs, bench)
           ._jdf.queryExecution().optimizedPlan().toString())
    # one shingle construction per side (docs + benchmark), not N copies
    assert opt.count("array_distinct(transform(sequence(0,") == 2, opt

    opt2 = (substring_overlap_pairs(docs)
            ._jdf.queryExecution().optimizedPlan().toString())
    # logical plan carries one winnow chain per self-join side plus one
    # per side's rare-frequency subtree (4 total; the physical plan
    # reuses the exchange) — the trap would double it to 8
    assert opt2.count("array_min(slice(") <= 4, opt2


def test_tailsampling_policies_single_shuffle(spark):
    """The whole policy decision table is ONE groupBy on the trace key;
    the kept-traces frame comes back as a broadcast semi-join (small),
    never a cartesian or an extra sort-merge pass."""
    from opentelemetry_collector_contrib_spark.operators.tailsampling import (
        tail_sampling_policies)
    spans = spark.createDataFrame(
        [(str(i % 100), f"s{i}", "ERROR" if i % 7 == 0 else "UNSET",
          {"env": "prod" if i % 3 else "dev"}, {})
         for i in range(1000)],
        "trace_id string, span_id string, status_code string, "
        "attributes map<string,string>, resource map<string,string>")
    out = tail_sampling_policies(spans, [
        {"name": "e", "type": "status_code",
         "status_code": {"status_codes": ["ERROR"]}},
        {"name": "p", "type": "string_attribute",
         "string_attribute": {"key": "env", "values": ["prod"]}},
    ])
    plan = _plan(out)
    import re
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"\bExchange \(\d+\)", plan)) <= 2


@pytest.fixture(scope="module")
def signals_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pq") / "signals")
    spark.range(0, 400, numPartitions=4).select(
        F.col("id").alias("ord"), (F.col("id") % 37 * 1.5).alias("value"),
        F.create_map(F.lit("k"), (F.col("id") % 3).cast("string"))
        .alias("attributes"),
        F.create_map(F.lit("host"), (F.col("id") % 2).cast("string"))
        .alias("resource")).write.parquet(p)
    return p


_DEFS = {
    "sum": {"name": "s", "attributes": [{"key": "k"}], "sum": {"value": "value"}},
    "gauge": {"name": "g", "attributes": [{"key": "k"}],
              "gauge": {"value": "value"}},
    "hist": {"name": "h", "histogram": {"value": "value"}},
    "sum_if": {"name": "s2", "conditions": ['attributes["k"] == "1"'],
               "sum": {"value": "1"}},
    "hist_k": {"name": "h2", "attributes": [{"key": "k"}],
               "histogram": {"value": "value", "buckets": [5.0, 20.0]}},
    **{f"expo{i}": {"name": f"e{i}", "attributes": [{"key": "k"}][:i % 2],
                    "exponential_histogram": {"value": "value", "max_size": 4 + i}}
       for i in range(3)},
}


def _shape(spark, path, names):
    import re
    from opentelemetry_collector_contrib_spark.operators.signaltometrics import (
        signal_to_metrics_config)
    plan = _plan(signal_to_metrics_config(
        spark.read.parquet(path), [_DEFS[n] for n in names],
        identity_attrs={"svc": "stm"}, order_col="ord"))
    assert "SortAggregate" not in plan
    return (len(re.findall(r"\bScan parquet\s*\(\d+\)", plan)),
            len(re.findall(r"\bExchange \(\d+\)", plan)))


def test_signaltometrics_plan_does_not_grow_with_definitions(spark, signals_parquet):
    """Every definition shares one scan and one grouping: the plan's
    scans and shuffles depend on whether some definition has buckets
    (a per-bucket level first) or is exponential (the shift pass), never
    on how many definitions there are."""
    shape = lambda *names: _shape(spark, signals_parquet, names)  # noqa: E731
    assert shape("sum") == shape("sum", "gauge") == (1, 1)
    assert shape("hist") == shape("sum", "gauge", "hist", "sum_if", "hist_k") \
        == (1, 2)
    five = ("sum", "gauge", "hist", "sum_if", "hist_k")
    assert shape(*five, "expo0") == shape(*five, "expo0", "expo1", "expo2") \
        == (2, 3)
