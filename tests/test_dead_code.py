"""Dead-code guard: every top-level function of the package is named,
as a whole word, somewhere in the repository's Python files besides its
own ``def`` line. Calls from tests, tools and perfbench count; there is
no allowlist — a helper nothing names is deleted, not excused."""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "dataflow_mm_lrt_spark")


def _py_files(top: str):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [
            d for d in dirnames if not d.startswith(".") and d != "__pycache__"
        ]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def test_every_package_function_is_referenced():
    def_lines: dict[str, set[tuple[str, int]]] = {}
    for path in _py_files(PKG):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                def_lines.setdefault(node.name, set()).add((path, node.lineno))
    assert def_lines

    word = re.compile(r"\b(" + "|".join(map(re.escape, def_lines)) + r")\b")
    referenced: set[str] = set()
    for path in _py_files(ROOT):
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                for m in word.finditer(line):
                    if (path, lineno) not in def_lines[m.group(1)]:
                        referenced.add(m.group(1))

    dead = {
        name: sorted(os.path.relpath(p, ROOT) for p, _ in where)
        for name, where in def_lines.items()
        if name not in referenced
    }
    assert not dead, f"top-level functions nothing names: {dead}"
