"""Every directory rename of the package goes through ``io/sinks.py``,
and every micro-batch loop through ``streaming/dedup._drain``.

A rename is how a staged tree becomes live, so a module that renames on
its own carries a private commit protocol with its own heal rule. This
guard parses the package with ``ast`` (no Spark session) and fails on any
``.rename(`` call outside ``io/sinks.py``, so a new state table commits
through ``io.sinks._full_swap`` instead of growing another copy. Likewise
a second ``.foreachBatch(`` call would be a second micro-batch loop, with
its own trigger, output mode and checkpoint wiring.
"""
from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "token_etl_spark"
COMMIT_MODULE = PACKAGE / "io" / "sinks.py"
DRAIN_MODULE = PACKAGE / "streaming" / "dedup.py"


def _method_calls(path: Path, name: str) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
    ]


def test_only_io_sinks_renames():
    assert _method_calls(COMMIT_MODULE, "rename"), (
        "the guard no longer sees io/sinks.py renames"
    )
    offenders = [
        f"{p.relative_to(PACKAGE.parent)}:{line}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != COMMIT_MODULE
        for line in _method_calls(p, "rename")
    ]
    assert not offenders, (
        "rename outside io/sinks.py (commit through io.sinks._full_swap):\n  "
        + "\n  ".join(offenders)
    )


def test_one_foreach_batch_loop():
    calls = [
        (p, line)
        for p in sorted(PACKAGE.rglob("*.py"))
        for line in _method_calls(p, "foreachBatch")
    ]
    assert [p for p, _ in calls] == [DRAIN_MODULE], (
        "expected one foreachBatch call, in streaming/dedup.py (route runners "
        "through streaming.dedup._drain), found:\n  "
        + "\n  ".join(f"{p.relative_to(PACKAGE.parent)}:{line}" for p, line in calls)
    )
