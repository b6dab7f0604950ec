"""Two censuses of the package surface, parsed with ``ast`` (no Spark
session): every boolean option is set to its other value somewhere that
runs in production, and every public definition is called from there.

A boolean-default parameter doubles the configurations a function has to
keep correct. When only tests pass the non-default value, no pipeline,
declared query, CLI command or benchmark ever runs that side, and the
oracle sweep never checks it. This census parses the sources with ``ast``
(no Spark session) and fails on any such option, so a one-sided knob is
deleted instead of carried.

A call site counts when it lives in the package, ``bench.py``,
``__spark_entry__.py``, ``perfbench/`` (outside its tests) or ``scripts/``
(outside the ``probe_*.py`` experiments). It sets an option when it passes
a value other than the default, by keyword or by position: a different
literal, or any non-literal expression. Calls are matched by function
name, so a same-named function elsewhere can only make the census more
lenient, never flag a used option.

The same universe decides whether a public top-level function or class
of the package (outside ``streaming/``, whose batch twins are settled
separately) has a production caller: a definition that only tests reach
serves no traffic, so it is deleted with its tests or listed in
:data:`KEEP` with the reason it stays.
"""
from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "token_etl_spark"


def _production_sources() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += sorted(
        p for p in (ROOT / "perfbench").rglob("*.py") if "tests" not in p.parts
    )
    files += sorted(
        p for p in (ROOT / "scripts").glob("*.py") if not p.name.startswith("probe_")
    )
    return [p for p in files if p.is_file()]


def _bool_options(tree: ast.Module, rel: str):
    """(function name, parameter, position or None, default, where) for
    every parameter of a function defined in ``tree`` whose default is a
    ``bool`` literal. ``position`` is the index a positional argument
    binds to (``None`` for keyword-only), counting ``self``/``cls`` out
    of methods."""
    for node in ast.walk(tree):
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        a = node.args
        positional = a.posonlyargs + a.args
        skip = 1 if positional and positional[0].arg in ("self", "cls") else 0
        first_default = len(positional) - len(a.defaults)
        for i, (arg, default) in enumerate(
            zip(positional[first_default:], a.defaults), start=first_default
        ):
            if isinstance(default, ast.Constant) and isinstance(default.value, bool):
                yield node.name, arg.arg, i - skip, default.value, f"{rel}:{node.lineno}"
        for arg, default in zip(a.kwonlyargs, a.kw_defaults):
            if isinstance(default, ast.Constant) and isinstance(default.value, bool):
                yield node.name, arg.arg, None, default.value, f"{rel}:{node.lineno}"


def _call_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _sets(value: ast.expr, default: bool) -> bool:
    """Whether passing ``value`` can select the non-default side."""
    return not (isinstance(value, ast.Constant) and value.value is default)


def census() -> tuple[list[tuple], list[tuple]]:
    """(all boolean options, those never set off their default)."""
    trees = {
        p: ast.parse(p.read_text(), filename=str(p)) for p in _production_sources()
    }
    options = []
    for path, tree in trees.items():
        if PACKAGE in path.parents:
            options += _bool_options(tree, str(path.relative_to(ROOT)))
    calls: dict[str, list[ast.Call]] = {}
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and (name := _call_name(node)):
                calls.setdefault(name, []).append(node)

    def is_set(fn, param, pos, default) -> bool:
        for call in calls.get(fn, ()):
            for kw in call.keywords:
                if kw.arg == param and _sets(kw.value, default):
                    return True
                if kw.arg is None:  # ``**kwargs``: may carry anything
                    return True
            positional = call.args
            if any(isinstance(x, ast.Starred) for x in positional):
                return True
            if pos is not None and pos < len(positional):
                if _sets(positional[pos], default):
                    return True
        return False

    unset = [o for o in options if not is_set(*o[:4])]
    return options, unset


def test_every_boolean_option_is_set_in_production():
    options, unset = census()
    assert options, "census found no boolean options; the parser is broken"
    assert not unset, (
        "boolean options that no production call site sets to their other "
        "value (delete the option and its branch, or give it a caller):\n"
        + "\n".join(f"  {where} {fn}({p}={d})" for fn, p, _, d, where in unset)
    )


def test_census_sees_keyword_positional_and_expression_arguments():
    src = (
        "def f(a, flag=False, *, other=True):\n    pass\n"
        "def g(x, y=True):\n    pass\n"
        "def h(z=False):\n    pass\n"
        "f(1, True)\nf(1, other=cond)\ng(1, y=True)\nh(z=False)\n"
    )
    tree = ast.parse(src)
    options = list(_bool_options(tree, "m.py"))
    assert [(o[0], o[1], o[2], o[3]) for o in options] == [
        ("f", "flag", 1, False),
        ("f", "other", None, True),
        ("g", "y", 1, True),
        ("h", "z", 0, False),
    ]
    calls = [n for n in ast.walk(tree) if isinstance(n, ast.Call)]
    f_pos, f_kw, g_same, h_same = calls
    assert _sets(f_pos.args[1], False)  # positional literal off the default
    assert _sets(f_kw.keywords[0].value, True)  # any expression may set it
    assert not _sets(g_same.keywords[0].value, True)  # passing the default
    assert not _sets(h_same.keywords[0].value, False)


#: Public definitions that only tests reach, each with the reason it stays.
KEEP = {
    "funnel_reach": "reference for funnel_reach_onepass and streaming_funnel_reach",
    "bpe_encode": "reference for bpe_encode_table",
    "q_array_ops_raw": "array-valued sibling of a declared query (no scalar oracle)",
    "q_daily_event_types_raw": "array-valued sibling of a declared query (no scalar oracle)",
    "read_jdbc_ranged": "port of the reference's JDBC scan (SURVEY S1)",
    "reparse_map": "port of the reference's predicate helpers (SURVEY F6)",
    "is_dapp_address": "port of the reference's predicate helpers (SURVEY F6)",
    "is_whale_address": "port of the reference's predicate helpers (SURVEY F6)",
    "wallet_cluster": "port of the reference's wallet clustering (SURVEY A9)",
    "wallet_cluster_pivot": "port of the reference's cluster pivot (SURVEY A10)",
    "holder_flag": "port of the reference's boolean predicate (SURVEY P7)",
    "write_csv": "port of the reference's CSV debug sink (SURVEY S7)",
    "WALLETS": "port of the reference's wallets collection schema (SURVEY §1)",
    "DAPPS": "port of the reference's dapps collection schema (SURVEY §1)",
    "TOKEN_WALLETS": "port of the reference's token_wallets document schema (SURVEY §1)",
    "ivf_search": "reads a persisted IVF index without exposing its layout",
    "transfers_df": "test fixture",
    "raw_transfer_events_df": "test fixture",
    "block_timestamps_df": "test fixture",
    "dapp_registry_df": "test fixture",
}


def _referenced_names(stmt: ast.stmt) -> set[str]:
    """Names ``stmt`` reads: bare names, attributes and import aliases,
    leaving out a definition's own name inside its body."""
    names = set()
    for node in ast.walk(stmt):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            names.add(node.id)
        elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
            if node.asname:
                names.add(node.asname)
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names.discard(stmt.name)
    return names


def caller_census() -> tuple[dict[str, str], set[str]]:
    """(public definition → where, names referenced in production): a
    definition is a top-level function, class or assigned name."""
    defs: dict[str, str] = {}
    referenced: set[str] = set()
    for path in _production_sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(ROOT)
        audited = PACKAGE in path.parents and "streaming" not in rel.parts
        for stmt in tree.body:
            if path.name == "__init__.py" and isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue  # a package re-export calls nothing
            referenced |= _referenced_names(stmt)
            if audited:
                for name in _defined_names(stmt):
                    if not name.startswith("_"):
                        defs[name] = f"{rel}:{stmt.lineno}"
    return defs, referenced


def _defined_names(stmt: ast.stmt) -> list[str]:
    """Top-level names ``stmt`` defines: a function or class, or the
    plain-name targets of a module-level assignment (constants too)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    ]


def test_every_public_definition_has_a_production_caller():
    defs, referenced = caller_census()
    assert len(defs) > 100, "census found few definitions; the parser is broken"
    uncalled = sorted(set(defs) - referenced - set(KEEP))
    assert not uncalled, (
        "public definitions that no production code references (delete them "
        "with their tests, or add them to KEEP with a reason):\n"
        + "\n".join(f"  {defs[n]} {n}" for n in uncalled)
    )
    stale = sorted(n for n in KEEP if n not in defs or n in referenced)
    assert not stale, f"KEEP entries that are gone or now have a caller: {stale}"
