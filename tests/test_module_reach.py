"""Every package module, and every public top-level function and class
in it, has a caller outside the tests.

A module is reached when non-test code imports it: another package
module, ``__spark_entry__.py``, ``jobs/``, ``scripts/``, ``bench.py`` or
``perfbench/``. A public top-level name is reached when non-test code
imports it, uses it as an attribute of its module (in a file that
imports that module), or names it in its own module outside its own
definition. Pure AST walk; no Spark, nothing imported.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "opentelemetry_collector_contrib_spark"

# Modules that only tests reach today, each with the ROADMAP item that
# gives it a real caller or deletes it.
TEST_ONLY = {
    f"{PKG}.sources.gcplog": "item 5 (with item 1's fixtures)",
    f"{PKG}.sources.lokipush": "item 5 (with item 1's fixtures)",
    f"{PKG}.sources.skywalking": "item 5 (with item 1's fixtures)",
    f"{PKG}.streaming.stream": "item 3",
}

# Public top-level names that only tests reach today, each with its
# reason: a public entry point of the library, or the ROADMAP item that
# gives it a real caller or deletes it.
_SPEC = "public API: the scalar spec the batch kernels are tested on"
TEST_ONLY_NAMES = {f"{PKG}.{name}": reason for name, reason in {
    "functions.hashes.fnv1a_32": _SPEC,
    "functions.hashes.fnv1a_64": _SPEC,
    "functions.hashes.murmur3_32": _SPEC,
    "functions.hashes.murmur3_x64_128": _SPEC,
    "operators.anomaly.score_point": _SPEC,
    "plans.config.compile_yaml": "public API: stanza config",
    "functions.ottl_dsl.transform_processor": "public API: transformprocessor config",
    "operators.filters.filter_processor_config": "public API: filterprocessor config",
    "functions.ottl_dsl.share_resource_mutations": "item 5",
    "operators.enrich.coalesce_assoc_join": "item 5",
    "operators.enrich.resource_detection": "item 5",
    "operators.enrich.geoip_enrich": "item 5 (the geoip pair)",
    "operators.metrics_state.metrics_transform": "item 5",
    "operators.metrics_state.delta_to_cumulative_pdata": "item 5",
    "operators.metrics_state.delta_to_cumulative_expo": "item 5",
    "operators.routing.failover_write": "item 5",
    "operators.skew.salted_count_distinct": "item 5",
    "sources.awslogs.parse_elb_access_logs": "item 5 (decoders)",
    "sources.awslogs.parse_subscription_filter_logs": "item 5 (decoders)",
    "sources.awslogs.parse_cloudwatch_metric_streams": "item 5 (decoders)",
    "sources.filelog.read_text_lines": "item 5",
    "sources.gcplog.parse_gcp_log_entries": "item 5 (decoders)",
    "sources.lokipush.parse_loki_push": "item 5 (decoders)",
    "sources.skywalking.parse_skywalking_segments": "item 5 (decoders)",
    "sources.otlpjson.parse_otlp_json_metrics": "item 6 (run report read-back)",
    "sources.otlpjson.parse_otlp_json_traces": "item 5",
    "streaming.stream.stream_pages_pipeline": "item 3",
}.items()}


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(path: Path) -> set[str]:
    """Dotted names ``path`` imports: each module and, for ``from m
    import x``, also ``m.x`` (x may be a submodule)."""
    here = _module_name(path).split(".")
    if path.name != "__init__.py":
        here = here[:-1]
    out = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = here[:len(here) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def _non_test_sources() -> list[Path]:
    files = list((ROOT / PKG).rglob("*.py"))
    for d in ("jobs", "scripts", "perfbench"):
        files += [p for p in (ROOT / d).rglob("*.py") if "tests" not in p.parts]
    return files + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]


def test_every_package_module_has_a_non_test_caller():
    modules = {_module_name(p) for p in (ROOT / PKG).rglob("*.py")
               if p.name != "__init__.py"}
    reached = set()
    for src in _non_test_sources():
        reached |= _imported(src) - {_module_name(src)}
    # a stale entry (the module is gone) would otherwise pass silently
    assert set(TEST_ONLY) <= modules, sorted(set(TEST_ONLY) - modules)
    unreached = modules - reached
    assert unreached <= set(TEST_ONLY), sorted(unreached - set(TEST_ONLY))
    # an allowlisted module that gained a caller leaves the list
    assert not set(TEST_ONLY) & reached, sorted(set(TEST_ONLY) & reached)


def _public_defs(path: Path) -> dict[str, bool]:
    """Public top-level functions and classes of ``path``, each mapped
    to whether the module names it outside its own definition."""
    body = ast.parse(path.read_text(), str(path)).body
    defs = {n.name: n for n in body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef))
            and not n.name.startswith("_")}
    return {name: any(isinstance(x, ast.Name) and x.id == name
                      for stmt in body if stmt is not node
                      for x in ast.walk(stmt))
            for name, node in defs.items()}


def _attributes(path: Path) -> set[str]:
    return {n.attr for n in ast.walk(ast.parse(path.read_text(), str(path)))
            if isinstance(n, ast.Attribute)}


def test_every_public_function_has_a_non_test_caller():
    sources = [(_imported(p), _attributes(p)) for p in _non_test_sources()]
    defined, unreached = set(), set()
    for path in (ROOT / PKG).rglob("*.py"):
        module = _module_name(path)
        for name, used_locally in _public_defs(path).items():
            dotted = f"{module}.{name}"
            defined.add(dotted)
            if not used_locally and not any(
                    dotted in imported
                    or (module in imported and name in attrs)
                    for imported, attrs in sources):
                unreached.add(dotted)
    allowed = set(TEST_ONLY_NAMES)
    # the allowlist goes stale both ways: a name that is gone, or one
    # that gained a non-test caller, leaves the list
    assert allowed <= defined, sorted(allowed - defined)
    assert unreached <= allowed, sorted(unreached - allowed)
    assert allowed <= unreached, sorted(allowed - unreached)
