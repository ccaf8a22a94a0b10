"""No package definition is reached from tests alone.

Scans every top-level ``def`` and ``class`` of ``document_retrieval_spark/``
and looks for its name in the sources that count as callers: the package
itself, ``scripts/``, ``tools/``, ``perfbench/``, ``bench.py``,
``bench_extra.py`` and ``__spark_entry__.py``. Any mention outside the
definition's own lines counts, in code, a string or a comment, except an
import statement: a re-export in an ``__init__.py`` is not a use. A name
that no caller mentions is code only ``tests/`` reaches, and belongs in
``tests/`` or nowhere.
"""

from __future__ import annotations

import ast
import os
import re
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "document_retrieval_spark"
CALLERS = (PACKAGE, "scripts", "tools", "perfbench", "bench.py",
           "bench_extra.py", "__spark_entry__.py")
_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _py_files(rel: str):
    path = os.path.join(REPO, rel)
    if os.path.isfile(path):
        yield path
        return
    for d, _, files in os.walk(path):
        yield from (os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))


def _mentions() -> dict[str, list[tuple[str, int]]]:
    """Word -> (file, line) of every mention in the callers, import
    statements left out."""
    out = defaultdict(list)
    for rel in CALLERS:
        for path in _py_files(rel):
            with open(path) as f:
                src = f.read()
            imports = {
                ln
                for node in ast.walk(ast.parse(src))
                if isinstance(node, (ast.Import, ast.ImportFrom))
                for ln in range(node.lineno, node.end_lineno + 1)
            }
            for ln, line in enumerate(src.splitlines(), 1):
                if ln not in imports:
                    for word in set(_WORD.findall(line)):
                        out[word].append((path, ln))
    return out


def unreached_definitions() -> list[str]:
    """`module.py::name` of each top-level definition no caller mentions."""
    mentions = _mentions()
    unreached = []
    for path in _py_files(PACKAGE):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            if not any(
                p != path or not first <= ln <= node.end_lineno
                for p, ln in mentions.get(node.name, ())
            ):
                unreached.append(f"{os.path.relpath(path, REPO)}::{node.name}")
    return sorted(unreached)


def test_every_package_definition_has_a_non_test_caller():
    assert unreached_definitions() == []
