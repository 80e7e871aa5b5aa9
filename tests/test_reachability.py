"""Every top-level package definition and module constant is reachable
from an entry point.

The entry points are the package's module-level code (the ``QUERIES``,
``ORACLES`` and ``ARTIFACT_BUILDERS`` registries, the pipeline CLI's
``main()`` call), ``__spark_entry__.py``, ``bench.py``, ``perfbench/``
and ``tools/``. Reachability is an identifier fixed point over source
text: a definition is reached when its name appears in a root or in the
source of a reached definition. A module-level assignment to plain
names (a constant, a table, a compiled pattern) is a definition of each
name, not a root, so a constant that no reached code reads is reported
too. Import statements and ``__all__`` lists are not uses, so a
definition that only tests call is reported.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORD = re.compile(r"[A-Za-z_]\w*")
DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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


def _is_use(stmt: ast.stmt) -> bool:
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return False
    return not (
        isinstance(stmt, ast.Assign)
        and any(getattr(t, "id", None) == "__all__" for t in stmt.targets)
    )


def _split(path: Path) -> tuple[dict[str, str], set[str]]:
    """({top-level definition: its source}, identifiers of the rest of
    the module, imports and ``__all__`` excluded)."""
    lines = path.read_text().splitlines()
    defs, rest = {}, set()
    for stmt in ast.parse("\n".join(lines)).body:
        first = min([stmt.lineno] + [d.lineno for d in getattr(stmt, "decorator_list", [])])
        seg = "\n".join(lines[first - 1 : stmt.end_lineno])
        if isinstance(stmt, DEF):
            defs[f"{path.relative_to(ROOT)}::{stmt.name}"] = seg
        elif names := _assigned_names(stmt):
            defs |= {f"{path.relative_to(ROOT)}::{n}": seg for n in names}
        elif _is_use(stmt):
            rest |= set(WORD.findall(seg))
    return defs, rest


def unreachable() -> list[str]:
    defs, names = {}, set()
    for path in sorted((ROOT / "ursa_major_choir_etl_spark").rglob("*.py")):
        d, rest = _split(path)
        defs |= d
        names |= rest
    roots = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for path in [*roots, *(ROOT / "perfbench").glob("*.py"), *(ROOT / "tools").glob("*.py")]:
        d, rest = _split(path)
        names |= rest.union(*(WORD.findall(src) for src in d.values()))
    by_name: dict[str, list[str]] = {}
    for key in defs:
        by_name.setdefault(key.split("::")[1], []).append(key)
    reached: set[str] = set()
    todo = [k for n in names & by_name.keys() for k in by_name[n]]
    while todo:
        key = todo.pop()
        if key not in reached:
            reached.add(key)
            todo += [k for n in set(WORD.findall(defs[key])) & by_name.keys() for k in by_name[n]]
    return sorted(set(defs) - reached)


def test_every_package_definition_is_reachable():
    assert unreachable() == []
