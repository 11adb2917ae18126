"""Reachability ratchet for the streaming maintainers: every
module-level class under ``streaming/`` must be named by code that
ships (the package, ``bench.py``, ``tools/``, ``perfbench/``) or be
listed in ``PENDING_D4``. Adding a maintainer that nothing reaches, or
wiring up a pending one, forces an edit to the list. Spark-free: pure
AST."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "datapipeline_template_spark"

# Streaming classes that only tests reach today: each is to be wired
# to a registered surface or deleted (ROADMAP D4).
PENDING_D4 = {
    "IncrementalBm25",
    "IncrementalBpeVocab",
    "IncrementalBucketedSilver",
    "IncrementalD4",
    "IncrementalPageRank",
    "IncrementalSignLsh",
    "IncrementalSurprisal",
    "IncrementalWeightedSample",
    "StreamingManifest",
}


def _shipped_files() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py")) + [REPO / "bench.py"]
    for sub in ("tools", "perfbench"):
        files += sorted((REPO / sub).rglob("*.py"))
    return files


def _names(tree: ast.AST) -> set[str]:
    """Identifiers a module names in code: ``Name`` ids, ``Attribute``
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


def _unreached() -> set[str]:
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in _shipped_files()}
    classes: dict[str, tuple[Path, list[str]]] = {}
    for path in sorted((PACKAGE / "streaming").glob("*.py")):
        for node in trees[path].body:
            if isinstance(node, ast.ClassDef):
                bases = [ast.unparse(b).rsplit(".", 1)[-1] for b in node.bases]
                classes[node.name] = (path, bases)
    names = {p: _names(t) for p, t in trees.items()}
    reached = {
        cls
        for cls, (home, _) in classes.items()
        if any(cls in ids for p, ids in names.items() if p != home)
    }
    frontier = list(reached)
    while frontier:
        for base in classes[frontier.pop()][1]:
            if base in classes and base not in reached:
                reached.add(base)
                frontier.append(base)
    return set(classes) - reached


def test_unreached_streaming_classes_are_exactly_pending_d4():
    assert _unreached() == PENDING_D4
