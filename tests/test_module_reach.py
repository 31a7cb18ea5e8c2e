"""Every package module has a caller outside the tests.

A module is reached when non-test code imports it: another package
module, ``__spark_entry__.py``, ``jobs/``, ``scripts/``, ``bench.py`` or
``perfbench/``. Pure AST walk; no Spark, nothing imported.
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
