#!/usr/bin/env python
"""Generate PLANS.md from the plan guards in ``tests/test_plans.py``.

Usage: python tools/gen_plans.py > PLANS.md

Spark-free: an AST pass. One section per top-level ``test_*`` that takes
the ``spark`` fixture, in file order: the registered queries it plans
(string arguments of ``_plan(...)`` and ``REGISTRY[...]``), the package
callables it imports, its suite (default or ``slow``) and its docstring
as the claim. The guard's assertions are the evidence.
"""

from __future__ import annotations

import ast
from pathlib import Path

GUARDS = Path(__file__).resolve().parents[1] / "tests" / "test_plans.py"
PACKAGE = "datapipeline_template_spark."

HEADER = """\
# PLANS — physical-plan claims, one section per plan guard

Generated from `tests/test_plans.py` by `python tools/gen_plans.py > PLANS.md`;
do not edit by hand. Each claim is asserted by its guard on the sf0.001
plan: the default suite runs the default guards, `pytest -m slow` the
slow ones. To read a registered query's plan at any scale:
`python -m datapipeline_template_spark explain <name> --sf-dir <dir> --mode formatted`.
"""


def _strings(nodes) -> list[tuple[int, int, str]]:
    return [(n.lineno, n.col_offset, n.value) for n in nodes
            if isinstance(n, ast.Constant) and isinstance(n.value, str)]


def _section(fn: ast.FunctionDef) -> str:
    found, calls = [], []
    for node in ast.walk(fn):
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "_plan":
            found += _strings(node.args[1:])
        elif isinstance(node, ast.Subscript) and getattr(node.value, "id", None) == "REGISTRY":
            found += _strings([node.slice])
        elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            module = node.module[len(PACKAGE):]
            calls += [(node.lineno, f"{module}.{a.name}") for a in node.names
                      if not a.name.lstrip("_").isupper()]  # skip constants
    queries = dict.fromkeys(value for *_, value in sorted(found))
    slow = any(getattr(d, "attr", None) == "slow" for d in fn.decorator_list)
    lines = [f"## {fn.name}", ""]
    if queries:
        lines.append("- **Plans:** " + ", ".join(f"`{q}`" for q in queries))
    if calls:
        lines.append("- **Calls:** " + ", ".join(f"`{c}`" for _, c in sorted(calls)))
    claim = ast.get_docstring(fn)
    if not claim:
        raise SystemExit(f"{fn.name}: a plan guard needs a docstring that states its claim")
    lines += [f"- **Suite:** {'slow' if slow else 'default'}", "", claim, ""]
    return "\n".join(lines)


def render() -> str:
    tree = ast.parse(GUARDS.read_text(), filename=str(GUARDS))
    guards = [n for n in tree.body if isinstance(n, ast.FunctionDef)
              and n.name.startswith("test_") and "spark" in [a.arg for a in n.args.args]]
    return "\n".join([HEADER] + [_section(fn) for fn in guards])


if __name__ == "__main__":
    print(render(), end="")
