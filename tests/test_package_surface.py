"""The package keeps only what non-test code reaches.

Every top-level function, class, module-level constant (a name bound by
a top-level assignment) and module of ``table_recognition_spark`` must be
named (by a ``Name``, an ``Attribute`` or an import alias) from
live non-test code: the entry points ``__spark_entry__.py``, ``main.py``
and ``bench.py``, ``scripts/``, ``perfbench/``, or a live package
definition other than itself. Liveness is reachability from those roots,
so code named only from dead code is dead too. Fixture writers, test
oracles and comparison harnesses belong under ``tests/``.

A definition that only tests reach may stay when it is on ``ALLOW`` with
its reason. The scan is by bare name, so it errs towards "live": two
definitions that share a name are reached together.
"""

from __future__ import annotations

import ast
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "table_recognition_spark"
_ROOT_FILES = ("__spark_entry__.py", "main.py", "bench.py")
_ROOT_DIRS = ("scripts", "perfbench")

_REFERENCE = "reference component in the README table"
ALLOW = {
    "parse_ctdar_xml": _REFERENCE + " (S-rows)",
    "parse_page_xml": _REFERENCE + " (S-rows)",
    "coords_string_to_points": _REFERENCE + " (S-rows)",
    "edge_visibility_features": _REFERENCE + " (J6)",
    "polygons_see_each_other": _REFERENCE + " (J6)",
}


def _py_files(top):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith("."))
        for f in sorted(filenames):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _names(nodes):
    """Every name a ``Name``, ``Attribute`` or import alias uses."""
    out = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, (ast.Import, ast.ImportFrom)):
                if isinstance(n, ast.ImportFrom) and n.module:
                    out.update(n.module.split("."))
                for a in n.names:
                    out.update(a.name.split("."))
    return out


def _bound(node):
    """Names a top-level assignment binds (dunder names excluded)."""
    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
    return [n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name) and not n.id.startswith("__")]


def _units():
    """(key, name, module key or None, names used) for every unit.

    A unit is a root file, a package module (its statements outside
    top-level definitions and assignments), a top-level definition or a
    name a top-level assignment binds (using the names of its value).
    """
    units = []
    for f in _ROOT_FILES:
        units.append((f, None, None, _names([_parse(os.path.join(_REPO, f))])))
    for d in _ROOT_DIRS:
        for path in _py_files(os.path.join(_REPO, d)):
            units.append((os.path.relpath(path, _REPO), None, None,
                          _names([_parse(path)])))
    for path in _py_files(os.path.join(_REPO, _PKG)):
        rel = os.path.relpath(path, _REPO)
        stem = os.path.splitext(os.path.basename(path))[0]
        tree = _parse(path)
        defs = [n for n in tree.body if isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))]
        consts = [n for n in tree.body if isinstance(
            n, (ast.Assign, ast.AnnAssign)) and n.value and _bound(n)]
        rest = [n for n in tree.body if n not in defs and n not in consts]
        # a package __init__ is live whenever its package is imported
        units.append((rel, None if stem == "__init__" else stem, None,
                      _names(rest)))
        for n in defs:
            units.append((f"{rel}::{n.name}", n.name, rel, _names([n])))
        for n in consts:
            for name in _bound(n):
                units.append((f"{rel}::{name}", name, rel,
                              _names([n.value])))
    return units


def dead_definitions(allow=ALLOW):
    """Keys of the package units that no live non-test code reaches."""
    units = _units()
    live = {k for k, name, _, _ in units if name is None or name in allow}
    live |= {m for _, name, m, _ in units if name in allow}
    changed = True
    while changed:
        changed = False
        for key, name, module, _ in units:
            if key in live or (module is not None and module not in live):
                continue
            if any(name in used for k, _, _, used in units
                   if k in live and k != key):
                live.add(key)
                changed = True
    return sorted(k for k, name, _, _ in units
                  if k not in live and name not in allow)


def test_every_package_definition_is_reached_from_non_test_code():
    dead = dead_definitions()
    assert not dead, (
        "reached only from tests (delete, move under tests/, or add to "
        "ALLOW with a reason):\n  " + "\n  ".join(dead)
    )


def test_allowlist_names_only_definitions_tests_alone_reach():
    # an entry that non-test code reaches anyway is stale
    dead = {k.rsplit("::", 1)[-1] for k in dead_definitions(allow={})}
    assert set(ALLOW) <= dead, sorted(set(ALLOW) - dead)
