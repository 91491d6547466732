"""Dead-code guard (no Spark): every top-level function or class in
the package must be named somewhere in the package, tests/,
scripts/, bench.py or perfbench/ — as a Name, an Attribute, an
imported name or an identifier string (registry lookups, getattr)."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "db_mapreduce_project_spark"
SCANNED = [PACKAGE, ROOT / "tests", ROOT / "scripts", ROOT / "perfbench"]
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set:
    if isinstance(node, ast.Name):
        return {node.id}
    if isinstance(node, ast.Attribute):
        return {node.attr}
    if isinstance(node, ast.alias):
        return {node.name.rsplit(".", 1)[-1]}
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return {node.value} if node.value.isidentifier() else set()
    return set()


def test_no_unreferenced_top_level_definitions():
    defined, referenced = [], set()
    for path in [ROOT / "bench.py"] + [f for d in SCANNED for f in sorted(d.rglob("*.py"))]:
        tree = ast.parse(path.read_text(), filename=str(path))
        referenced.update(*map(_names, ast.walk(tree)))
        if PACKAGE in path.parents:
            rel = path.relative_to(ROOT)
            defined += [(rel, n.name) for n in tree.body if isinstance(n, DEFS)]
    dead = [f"{p}:{name}" for p, name in defined if name not in referenced]
    assert not dead, "unreferenced definitions:\n" + "\n".join(dead)
