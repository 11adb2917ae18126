"""CI guard: no version-fragile legacy conf without a dtype probe."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_legacy_confs_have_dtype_probes():
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "audit_confs.py")],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr


def test_pipeline_flows_never_set_session_conf():
    """Pipeline flows share one session and run concurrently, so no
    module under plans/ or sources/ may change a session conf; a flow
    that needs a setting puts it on its table or its reader/writer."""
    import ast

    offenders = []
    for sub in ("plans", "sources"):
        for path in sorted((REPO / "datapipeline_template_spark" / sub).glob("*.py")):
            for node in ast.walk(ast.parse(path.read_text())):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("set", "unset")
                    and isinstance(node.func.value, ast.Attribute)
                    and node.func.value.attr == "conf"
                ):
                    offenders.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not offenders, offenders
