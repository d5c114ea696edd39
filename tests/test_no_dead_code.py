"""Dead-code guard: every top-level name the package defines is used.

Pure AST and text scan, no Spark. A top-level ``def``, ``class`` or
module-level assignment in the package fails when its name, as a whole
word, appears nowhere in the searched sources outside its own definition.
The search covers the package, the driver entry points, ``tools/``,
``perfbench/`` and ``tests/``, so a helper kept only for a test still
counts as used. The package ``__init__.py`` is checked for functions and
classes only: its constants are the reference converter's table of W3C
IRIs and Fabric limits, kept whole even where no operator reads a value.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "rdf_dtdl_fabric_ontology_converter_spark"


def _searched_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "run_job.py",
             *sorted(ROOT.glob("bench*.py"))]
    for d in (PKG, ROOT / "tools", ROOT / "perfbench", ROOT / "tests"):
        files.extend(sorted(d.rglob("*.py")))
    return [f for f in files if f.is_file()]


def _top_level_names(tree: ast.Module, with_assignments: bool):
    """(name, first line, last line) of each top-level definition."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name, node.lineno, node.end_lineno
        elif with_assignments and isinstance(node, (ast.Assign,
                                                    ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) \
                else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and not t.id.startswith("__"):
                    yield t.id, node.lineno, node.end_lineno


def unreferenced_definitions() -> list[str]:
    # word -> [(file, line)] over every searched source
    where: dict[str, list[tuple[Path, int]]] = {}
    for f in _searched_files():
        text = f.read_text(encoding="utf-8")
        for i, line in enumerate(text.splitlines(), 1):
            for w in set(re.findall(r"\w+", line)):
                where.setdefault(w, []).append((f, i))
    offenders = []
    for f in sorted(PKG.rglob("*.py")):
        tree = ast.parse(f.read_text(encoding="utf-8"))
        for name, lo, hi in _top_level_names(
                tree, with_assignments=f != PKG / "__init__.py"):
            if all(g == f and lo <= i <= hi for g, i in where[name]):
                offenders.append(f"{f.relative_to(ROOT)}:{lo} {name}")
    return offenders


def test_every_top_level_definition_is_referenced():
    offenders = unreferenced_definitions()
    assert not offenders, "unreferenced top-level definitions:\n  " + \
        "\n  ".join(offenders)
