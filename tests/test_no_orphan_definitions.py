"""Every public top-level definition in the package is used somewhere.

A public (non-``_``) module-level function or class that nothing names
is a second path nobody runs: dead product code. This scan parses the
package, ``bench.py``, ``__spark_entry__.py``, ``tests/`` and
``perfbench/`` and counts as a use any AST ``Name``, ``Attribute``,
import alias, or string constant equal to the name (the package's lazy
``__getattr__`` exports and ``getattr(module, "name")`` lookups). A
definition naming itself (recursion) does not count. No Spark needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "osm_legal_default_speeds_spark"
SCANNED = [
    PACKAGE,
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    ROOT / "tests",
    ROOT / "perfbench",
]


def _py_files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _names_used(node: ast.AST) -> set[str]:
    used: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.alias):
            used.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                used.add(n.value)
    return used


_DEF_KINDS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def test_no_orphan_public_definitions():
    defined: dict[str, list[str]] = {}
    used: set[str] = set()
    for base in SCANNED:
        for path in _py_files(base):
            tree = ast.parse(path.read_text(), filename=str(path))
            rel = path.relative_to(ROOT).as_posix()
            for stmt in tree.body:
                names = _names_used(stmt)
                if isinstance(stmt, _DEF_KINDS) and stmt.name[0] != "_":
                    names.discard(stmt.name)  # recursion is not a use
                    if PACKAGE in path.parents:
                        defined.setdefault(stmt.name, []).append(rel)
                used |= names
    orphans = sorted(
        f"{where}:{name}"
        for name, files in defined.items()
        if name not in used
        for where in files
    )
    assert not orphans, f"unreferenced public definitions: {orphans}"
