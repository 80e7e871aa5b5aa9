"""Every top-level package definition and module constant is reachable
from an entry point.

The entry points are the package's module-level code (the ``QUERIES``,
``ORACLES`` and ``ARTIFACT_BUILDERS`` registries, the pipeline CLI's
``main()`` call), ``__spark_entry__.py``, ``bench.py``, ``perfbench/``
and ``tools/``. Reachability is a fixed point over syntax: a definition
is reached when its name is used in a root or in a reached definition.
A use is an AST ``Name`` id, an ``Attribute`` attr, or a string constant
that is exactly an identifier (so ``getattr(mod, "name")`` and
string-keyed registries reach their targets). Docstrings and comments
are prose, not uses. A module-level assignment to plain names (a
constant, a table, a compiled pattern) is a definition of each name,
not a root, so a constant that no reached code reads is reported too.
Import statements and ``__all__`` lists are not uses, so a definition
that only tests call is reported.

A reference implementation that a test compares live code against is
kept although no entry point reaches it; ``REFERENCES`` names each one
with the test that compares against it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
PKG = "ursa_major_choir_etl_spark"

# {kept definition: the test that checks live code against it}
REFERENCES = {
    f"{PKG}/operators/similarity.py::near_duplicate_pairs": (
        "tests/test_extensions.py::TestBlockedExactNearDup::test_identical_to_broadcast_gemm"
    ),
    f"{PKG}/operators/sampling.py::split_train_eval": (
        "tests/test_cluster_pure_split.py::TestClusterPureSplit"
        "::test_clustermates_move_together_and_singletons_match_id_hash"
    ),
}


def _assigned_names(stmt: ast.stmt) -> list[str]:
    """The names a module-level ``NAME = ...`` (or ``NAME: T = ...``)
    binds; [] for any other statement, a subscript or attribute store
    included (that is a use of the object it stores into). Dunder
    names, read by tooling, are not constants."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    names = []
    for t in targets:
        elts = t.elts if isinstance(t, (ast.Tuple, ast.List)) else [t]
        if not all(isinstance(e, ast.Name) for e in elts):
            return []
        names += [e.id for e in elts]
    return [] if any(n.startswith("__") for n in names) else names


def _is_all(stmt: ast.stmt) -> bool:
    return isinstance(stmt, ast.Assign) and any(
        getattr(t, "id", None) == "__all__" for t in stmt.targets
    )


def _uses(node: ast.AST) -> set[str]:
    """The names ``node`` uses: ``Name`` ids, ``Attribute`` attrs and
    string constants that are exactly an identifier. A docstring (a
    string standing alone as a statement) is skipped; import aliases
    are not ``Name`` nodes, so imports use nothing."""
    docs = {
        id(s.value)
        for s in ast.walk(node)
        if isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant)
    }
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
            and id(n) not in docs
        ):
            out.add(n.value)
    return out


def _split(source: str, module: str) -> tuple[dict[str, set[str]], set[str]]:
    """({``module::name`` of each top-level definition: the names it
    uses}, names the rest of the module uses, ``__all__`` excluded)."""
    defs, rest = {}, set()
    for stmt in ast.parse(source).body:
        if isinstance(stmt, DEF):
            defs[f"{module}::{stmt.name}"] = _uses(stmt)
        elif names := _assigned_names(stmt):
            defs |= {f"{module}::{n}": _uses(stmt) for n in names}
        elif not _is_all(stmt):
            rest |= _uses(stmt)
    return defs, rest


def _unreached(defs: dict[str, set[str]], names: set[str]) -> list[str]:
    """The keys of ``defs`` that no chain of uses from ``names`` reaches."""
    by_name: dict[str, list[str]] = {}
    for key in defs:
        by_name.setdefault(key.split("::")[1], []).append(key)
    reached: set[str] = set()
    todo = [k for n in names & by_name.keys() for k in by_name[n]]
    while todo:
        key = todo.pop()
        if key not in reached:
            reached.add(key)
            todo += [k for n in defs[key] & by_name.keys() for k in by_name[n]]
    return sorted(set(defs) - reached)


def _split_file(path: Path) -> tuple[dict[str, set[str]], set[str]]:
    return _split(path.read_text(), str(path.relative_to(ROOT)))


def unreachable() -> list[str]:
    defs, names = {}, set()
    for path in sorted((ROOT / PKG).rglob("*.py")):
        d, rest = _split_file(path)
        defs |= d
        names |= rest
    roots = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for path in [*roots, *(ROOT / "perfbench").glob("*.py"), *(ROOT / "tools").glob("*.py")]:
        d, rest = _split_file(path)
        names |= rest.union(*d.values())
    return _unreached(defs, names)


def test_every_package_definition_is_reachable():
    assert unreachable() == sorted(REFERENCES)


def test_each_reference_is_compared_against_by_its_test():
    for key, test in REFERENCES.items():
        test_file, *path = test.split("::")
        node = ast.parse((ROOT / test_file).read_text())
        for part in path:
            [node] = [n for n in node.body if isinstance(n, DEF) and n.name == part]
        assert key.split("::")[1] in _uses(node), f"{test} no longer calls {key}"


def test_rule_counts_syntax_not_prose():
    lib = '''
__all__ = ["only_exported"]

def only_exported():
    pass

def only_in_prose():
    pass

def by_getattr():
    pass

def by_call():
    pass

def helper():
    pass

UNREAD = 1

def entry():
    """Calls only_in_prose."""
    # only_in_prose, too
    by_call()
    return getattr(mod, "by_getattr")
'''
    root = '''
"""entry point: helper"""
from lib import only_exported, helper
entry()
'''
    defs, rest = _split(lib, "lib")
    _, root_rest = _split(root, "root")
    assert _unreached(defs, rest | root_rest) == [
        "lib::UNREAD",
        "lib::helper",
        "lib::only_exported",
        "lib::only_in_prose",
    ]
