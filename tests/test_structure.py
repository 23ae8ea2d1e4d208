"""Structural guards over the package source: properties a grep can
check and a refactor can silently break."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "dbitool_spark"
PLANS = PKG / "plans"
_PLANS_PKG = "dbitool_spark.plans"


def _sources() -> dict[str, str]:
    return {p.relative_to(PKG).as_posix(): p.read_text() for p in PKG.rglob("*.py")}


def test_one_availablenow_drain_site():
    """Every availableNow drain goes through streaming._drain, the one
    place that starts, awaits and stops on expiry."""
    sites = {
        rel: src.count("awaitTermination(")
        for rel, src in _sources().items()
        if "awaitTermination(" in src
    }
    assert sites == {"streaming.py": 1}


def test_shuffle_partitions_written_only_in_session_module():
    """Only session.py writes spark.sql.shuffle.partitions (the engine
    session and the per-drain child session); a write anywhere else
    mutates a conf that concurrent legs share."""
    write = re.compile(r"""conf\.set\(\s*["']spark\.sql\.shuffle\.partitions""")
    hits = [
        rel for rel, src in _sources().items()
        if rel != "session.py" and write.search(src)
    ]
    assert hits == []


def test_driver_window_is_the_computed_rotation():
    """The driver checks the first 50 entries of __spark_entry__.queries();
    they must be the head of registry.rotation() over the declared names
    and the stored CORRECTNESS records, and each carries an oracle."""
    import __spark_entry__
    from dbitool_spark.plans import registry

    declared = [name for name, _fn, _sql in registry._ENTRIES]
    expected = registry.rotation(declared, registry.correctness_records())[:50]
    head = list(__spark_entry__.queries())[:50]
    assert head == expected
    oracles = __spark_entry__.oracle_sql()
    assert [n for n in head if n not in oracles] == []


def _plan_aliases(tree: ast.AST) -> tuple[dict[str, str], dict[str, tuple[str, str]]]:
    """Local names bound to plans modules and to plans definitions by
    the imports anywhere in ``tree`` (lazy in-function imports too)."""
    modules: dict[str, str] = {}
    names: dict[str, tuple[str, str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == _PLANS_PKG:
            for a in node.names:
                modules[a.asname or a.name] = a.name
        elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            _PLANS_PKG + "."
        ):
            mod = node.module.removeprefix(_PLANS_PKG + ".")
            for a in node.names:
                names[a.asname or a.name] = (mod, a.name)
    return modules, names


def _plan_refs(node: ast.AST, module: str | None, aliases) -> set[tuple[str, str]]:
    """(plans module, name) pairs that ``node`` references: bare names
    (resolved in ``module`` unless imported) and ``alias.attr`` on an
    imported plans module. f-string SQL interpolation is covered
    because its fields are Name nodes."""
    modules, names = aliases
    refs = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            if n.id in names:
                refs.add(names[n.id])
            elif module is not None:
                refs.add((module, n.id))
        elif (
            isinstance(n, ast.Attribute)
            and isinstance(n.value, ast.Name)
            and n.value.id in modules
        ):
            refs.add((modules[n.value.id], n.attr))
    return refs


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [n.id for t in stmt.targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def test_every_plan_definition_is_reachable_from_the_registry():
    """The parity suite runs exactly the registered entries, so a plan
    definition that no entry reaches is code no test or driver row
    runs. Roots: what registry.py references, plus every name the
    package outside plans/ and __spark_entry__.py use; the walk
    follows references transitively through plans/*.py."""
    defs: dict[tuple[str, str], set[tuple[str, str]]] = {}
    roots: set[tuple[str, str]] = set()
    for path in sorted(PLANS.glob("*.py")):
        module = path.stem
        tree = ast.parse(path.read_text())
        aliases = _plan_aliases(tree)
        if module == "registry":
            roots |= _plan_refs(tree, None, aliases)
            continue
        for stmt in tree.body:
            names = _defined_names(stmt)
            for name in names:
                defs[(module, name)] = _plan_refs(stmt, module, aliases)
            if not names and not isinstance(stmt, (ast.Import, ast.ImportFrom, ast.Expr)):
                roots |= _plan_refs(stmt, module, aliases)
    outside = [PKG.parent / "__spark_entry__.py"] + [
        p for p in PKG.rglob("*.py") if PLANS not in p.parents
    ]
    for path in outside:
        tree = ast.parse(path.read_text())
        roots |= _plan_refs(tree, None, _plan_aliases(tree))

    reached: set[tuple[str, str]] = set()
    todo = [r for r in roots if r in defs]
    while todo:
        key = todo.pop()
        if key not in reached:
            reached.add(key)
            todo.extend(r for r in defs[key] if r in defs)
    unreachable = sorted(f"{m}.{n}" for m, n in set(defs) - reached)
    assert not unreachable, (
        f"{len(unreachable)} plan definitions no registered entry reaches: "
        + ", ".join(unreachable)
    )


def test_pair_operators_have_one_execution_path():
    """No function in ops/ or plans/ takes a `materialize` parameter
    (an eager/lazy fork of one operator), and ops/cache.py defines
    materialize_release and nothing else: no persist handle rides on
    a returned DataFrame."""
    forks = []
    for rel, src in _sources().items():
        if not rel.startswith(("ops/", "plans/")):
            continue
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                params = a.posonlyargs + a.args + a.kwonlyargs
                if any(p.arg == "materialize" for p in params):
                    forks.append(f"{rel}:{getattr(node, 'name', '<lambda>')}")
    assert forks == []
    cache = ast.parse((PKG / "ops" / "cache.py").read_text())
    defined = [
        n.name for n in ast.walk(cache)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]
    assert defined == ["materialize_release"]
