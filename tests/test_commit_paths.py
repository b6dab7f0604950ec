"""Every directory rename of the package goes through ``io/sinks.py``.

A rename is how a staged tree becomes live, so a module that renames on
its own carries a private commit protocol with its own heal rule. This
guard parses the package with ``ast`` (no Spark session) and fails on any
``.rename(`` call outside ``io/sinks.py``, so a new state table commits
through ``io.sinks._full_swap`` instead of growing another copy.
"""
from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "token_etl_spark"
COMMIT_MODULE = PACKAGE / "io" / "sinks.py"


def _rename_calls(path: Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "rename"
    ]


def test_only_io_sinks_renames():
    assert _rename_calls(COMMIT_MODULE), "the guard no longer sees io/sinks.py renames"
    offenders = [
        f"{p.relative_to(PACKAGE.parent)}:{line}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != COMMIT_MODULE
        for line in _rename_calls(p)
    ]
    assert not offenders, (
        "rename outside io/sinks.py (commit through io.sinks._full_swap):\n  "
        + "\n  ".join(offenders)
    )
