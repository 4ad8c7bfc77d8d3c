"""The driver contract in __spark_entry__.py, and the package's reach,
checked without Spark.

Every query has a DuckDB oracle, and the set fits the 50 entries an outside
correctness harness records from queries(). Because all of them are
recorded, queries() returns them in registration order with no curated
priority list. Every package module is imported by some code outside the
tests, so a module that only its own tests reach cannot come back silently.
"""

import ast
from pathlib import Path

import __spark_entry__ as entrymod

ROOT = Path(__file__).resolve().parents[1]
PKG = "nhse_probabilistic_linkage_spark"


def test_queries_match_oracles_and_fit_recorded_window():
    names = set(entrymod.queries())
    assert names == set(entrymod.oracle_sql())
    assert len(names) <= 50


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(path: Path) -> set[str]:
    """Every dotted name `path` imports: modules, and `from m import x` as
    both `m` and `m.x` (x may be a submodule). Relative imports resolve
    against the file's own package."""
    package = _module_name(path).split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            module = ".".join(base + ([node.module] if node.module else []))
            names.add(module)
            names.update(f"{module}.{a.name}" for a in node.names)
    return names


def test_every_package_module_is_imported_outside_tests():
    sources = [
        *(ROOT / PKG).rglob("*.py"),
        *(ROOT / "jobs").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        ROOT / "__spark_entry__.py",
    ]
    imports = {src: _imports(src) for src in sources}
    modules = [p for p in (ROOT / PKG).rglob("*.py") if p.name != "__init__.py"]
    unreached = sorted(
        _module_name(p)
        for p in modules
        if not any(_module_name(p) in names for src, names in imports.items() if src != p)
    )
    assert unreached == []
