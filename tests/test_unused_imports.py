"""Unused-import ratchet: no module under ``datapipeline_template_spark/``,
``tests/``, ``tools/`` or ``perfbench/``, and neither ``bench.py`` nor
``__spark_entry__.py``, imports a name it never uses. The package's
``__init__.py`` re-exports, names listed in ``__all__``,
``from __future__`` imports and ``# noqa: F401`` lines are exempt.
Spark-free: pure AST."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "datapipeline_template_spark"


def _exported(tree: ast.Module) -> set[str]:
    out: set[str] = set()
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
            and isinstance(node.value, (ast.List, ast.Tuple))
        ):
            out |= {e.value for e in node.value.elts if isinstance(e, ast.Constant)}
    return out


def _scopes(tree: ast.Module):
    """The module and every function in it, each with the imports that
    sit directly in it (not in a nested function). A function's import
    must be used inside that function; a module-level one anywhere."""
    for scope in [tree] + [
        n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]:
        imports, stack = [], list(ast.iter_child_nodes(scope))
        while stack:
            node = stack.pop()
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                imports.append(node)
            stack.extend(ast.iter_child_nodes(node))
        yield scope, imports


def _unused_imports(path: Path) -> list[str]:
    source = path.read_text()
    lines = source.splitlines()
    tree = ast.parse(source, filename=str(path))
    out = []
    for scope, imports in _scopes(tree):
        used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
        if scope is tree:
            used |= _exported(tree)
        for node in imports:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for alias in node.names:
                if alias.name == "*" or "noqa: F401" in lines[alias.lineno - 1]:
                    continue
                bound = alias.asname or alias.name.split(".")[0]
                if bound not in used:
                    out.append(f"{path.relative_to(REPO)}:{alias.lineno} {bound}")
    return sorted(out)


def _scanned() -> list[Path]:
    files = [p for p in PACKAGE.rglob("*.py") if p.name != "__init__.py"]
    for sub in ("tests", "tools", "perfbench"):
        files += (REPO / sub).rglob("*.py")
    return sorted(files) + [REPO / "bench.py", REPO / "__spark_entry__.py"]


def test_no_module_imports_a_name_it_never_uses():
    unused = [hit for path in _scanned() for hit in _unused_imports(path)]
    assert unused == []
