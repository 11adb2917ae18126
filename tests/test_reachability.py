"""Reachability ratchet for the whole package: every module-level
``def`` and ``class`` under ``datapipeline_template_spark/`` must be
reached from code that ships, or be a reference that only tests compare
against. Spark-free: pure AST.

The roots are the ``@register``-decorated queries, the module-level
statements of the package, every name that ``__spark_entry__.py``,
``bench.py``, ``tools/`` and ``perfbench/`` use, and ``REFERENCES``. A
def is reached when a reached def names it through a ``Name``, an
``Attribute`` or an import alias; the walk runs to a fixpoint. A def's
own name and the ``__all__`` lists (strings) do not count as uses."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "datapipeline_template_spark"

# Test-only references: the simple forms that tests compare the
# shipped operators against (``keep_latest``, ``kmeans_assign``,
# ``mutual_knn_edges_kernel``). An entry that shipped code starts to
# use must leave this set.
REFERENCES = {"keep_latest_window", "kmeans_assign_catalyst", "mutual_knn_edges"}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(tree: ast.AST) -> set[str]:
    """Identifiers a node names in code: ``Name`` ids, ``Attribute``
    attrs and imported names. Strings, comments and docstrings are not
    code and do not count."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _is_registered(node: ast.AST) -> bool:
    for dec in node.decorator_list:
        target = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(target, "id", getattr(target, "attr", None)) == "register":
            return True
    return False


def _surface_files() -> list[Path]:
    files = [REPO / "__spark_entry__.py", REPO / "bench.py"]
    for sub in ("tools", "perfbench"):
        files += sorted((REPO / sub).rglob("*.py"))
    return files


def _unreached() -> set[str]:
    uses: dict[str, set[str]] = {}
    roots = set(REFERENCES)
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in _parse(path).body:
            if isinstance(node, _DEFS):
                uses.setdefault(node.name, set()).update(_names(node) - {node.name})
                if _is_registered(node):
                    roots.add(node.name)
            else:
                roots |= _names(node)
    for path in _surface_files():
        roots |= _names(_parse(path))
    reached = roots & uses.keys()
    frontier = list(reached)
    while frontier:
        for name in uses[frontier.pop()] & uses.keys():
            if name not in reached:
                reached.add(name)
                frontier.append(name)
    return set(uses) - reached


def test_every_package_def_is_reached():
    assert sorted(_unreached()) == []


def test_references_are_test_only():
    tests = set()
    for path in sorted((REPO / "tests").glob("*.py")):
        tests |= _names(_parse(path))
    shipped = set()
    for path in sorted(PACKAGE.rglob("*.py")) + _surface_files():
        shipped |= _names(_parse(path))
    assert REFERENCES <= tests
    assert REFERENCES & shipped == set()
