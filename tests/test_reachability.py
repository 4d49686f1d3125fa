"""Every package module is reachable from the system's entry points.

The system is the HBase→Elasticsearch sync path plus the registered ES-surface
queries. A module that neither reaches is library code with no caller but its
own tests, so this test fails on it. The walk reads source only (``ast``, no
import): it follows module-level and function-level imports, relative ones
included, and any string constant that names a package module (the registry's
``_MODULES`` and ``importlib`` targets).

The modules this walk cannot reach live in the top-level ``attic`` package,
outside the system package, and keep their tests there until each family is
deleted. The attic may import the package; the package may not import the
attic, so the walk above stays the whole truth about what the system runs.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "hbase_observer_es_spark"
PKG_DIR = Path(__file__).resolve().parent.parent / PKG

# Each root with the reason it is an entry point.
ROOTS = (
    ("registry", "every registered query and oracle (__spark_entry__ is a shim over it)"),
    ("session", "the engine's SparkSession factory"),
    ("sources.hbase_rest", "sync path: HBase REST change log to mutations"),
    ("sinks.keyed_parquet", "sync path: the keyed index the mutations merge into"),
    ("sinks.es_bulk", "sync path: the _bulk NDJSON bodies"),
    ("sources.config", "the reference's coprocessor attributes (SURVEY A1)"),
    ("sinks.es_bulk_response", "the bulk response direction: ES replies to per-doc outcomes"),
)


def _modules() -> dict[str, Path]:
    """Dotted name → file, for every package module; a package's
    ``__init__.py`` goes by the package's own name."""
    out = {}
    for path in sorted(PKG_DIR.rglob("*.py")):
        parts = path.relative_to(PKG_DIR).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join((PKG, *parts))] = path
    return out


def _references(name: str, path: Path, known: dict[str, Path]) -> set[str]:
    """Package modules that module ``name`` imports or names in a string,
    and the packages that contain it (importing a module runs them)."""
    package = name if path.name == "__init__.py" else name.rsplit(".", 1)[0]
    refs = {name.rsplit(".", i)[0] for i in range(1, name.count(".") + 1)}
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            refs.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            refs.add(base)
            refs.update(f"{base}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            refs.add(node.value)
    return refs & known.keys()


def unreached() -> list[str]:
    known = _modules()
    seen: set[str] = set()
    todo = [f"{PKG}.{root}" for root, _ in ROOTS]
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(_references(name, known[name], known) - seen)
    return sorted(known.keys() - seen)


def test_every_package_module_is_reachable():
    dead = unreached()
    assert dead == [], f"{len(dead)} package modules unreachable from ROOTS: {dead}"


def _names_attic(node: ast.AST) -> bool:
    if isinstance(node, ast.Import):
        return any(a.name.split(".")[0] == "attic" for a in node.names)
    if isinstance(node, ast.ImportFrom):
        return not node.level and (node.module or "").split(".")[0] == "attic"
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value.split(".")[0] == "attic" and "." in node.value
    return False


def test_package_never_imports_the_attic():
    bad = sorted(
        str(path.relative_to(PKG_DIR))
        for path in PKG_DIR.rglob("*.py")
        if any(map(_names_attic, ast.walk(ast.parse(path.read_text(), str(path)))))
    )
    assert bad == [], f"package modules that import the attic: {bad}"
