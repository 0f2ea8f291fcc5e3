"""Dead-code guard: every top-level definition of the package is reachable
from a declared root.

Nodes are the top-level ``def``s, ``class``es and module-level assignment
targets of ``dataflow_mm_lrt_spark/**.py``. A definition reaches every
package definition whose name occurs as an identifier (``Name``,
``Attribute.attr`` or import alias) in its body. Edges go by name and
ignore the module, so they over-approximate and need no import
resolution.

Tests are never a root: a definition only tests reach is deleted, or
moved into ``tests/`` as a fixture. There is no allowlist beyond
``ROOT_MODULES``, ``ROOT_USERS`` and ``BASELINE_ROOTS``; a failure names
the unreachable definitions and these lists. No Spark session is needed.
"""

from __future__ import annotations

import ast
import glob
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "dataflow_mm_lrt_spark"

# Every definition in these package files is a root: the contract
# queries and oracles, the streaming pipeline, and the test-support
# oracle ports.
ROOT_MODULES = (
    f"{PKG}/contract.py",
    f"{PKG}/streaming/run.py",
    f"{PKG}/oracle/**/*.py",
)

# Every identifier used in these files is a root: the benchmarks, the
# Spark entry point, the tools and the benchmark harness.
ROOT_USERS = (
    "bench*.py",
    "__spark_entry__.py",
    "tools/*.py",
    "perfbench/**/*.py",
)
ROOT_USERS_EXCLUDED = ("perfbench/tests/",)

# Capabilities BASELINE.json names that have no other entry point.
BASELINE_ROOTS = {
    # "enabling a stateful stream-stream join of user/assistant turns
    # against tool-call events"
    ("streaming/join.py", "turns_with_tool_events"),
    ("streaming/join.py", "asof_tool_context"),
    ("streaming/source.py", "tool_event_stream"),
    # "session windows keyed by conv_id with configurable gap"
    ("operators/windows.py", "transcript_sessions"),
    # "over an Iceberg table of agent transcripts"
    ("sources.py", "load_table"),
}


def _files(patterns, excluded=()):
    out = set()
    for pat in patterns:
        for path in glob.glob(os.path.join(ROOT, pat), recursive=True):
            rel = os.path.relpath(path, ROOT)
            if not rel.startswith(excluded):
                out.add(rel)
    return sorted(out)


def _identifiers(node) -> set[str]:
    names = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            names.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            names.add(sub.attr)
        elif isinstance(sub, ast.alias):
            names.update(sub.name.split("."))
            if sub.asname:
                names.add(sub.asname)
    return names


def _targets(stmt) -> list[str]:
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
    return [
        sub.id for t in targets for sub in ast.walk(t) if isinstance(sub, ast.Name)
    ]


def _scan():
    """Return ``(nodes, roots)``: ``nodes`` maps ``(relpath, name)`` to
    ``(line, n_lines, identifiers)``; ``roots`` holds names reached by
    code that runs on import or by a root user."""
    nodes: dict[tuple[str, str], tuple[int, int, set[str]]] = {}
    roots: set[str] = set()
    for rel in _files([f"{PKG}/**/*.py"]):
        with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
            tree = ast.parse(f.read(), rel)
        for stmt in tree.body:
            span = (stmt.lineno, stmt.end_lineno - stmt.lineno + 1)
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                nodes[(rel, stmt.name)] = (*span, _identifiers(stmt))
                # decorators, default arguments and class bases run on import
                on_import = list(stmt.decorator_list)
                if isinstance(stmt, ast.ClassDef):
                    on_import += stmt.bases + [k.value for k in stmt.keywords]
                else:
                    on_import += stmt.args.defaults + [
                        d for d in stmt.args.kw_defaults if d is not None
                    ]
                for expr in on_import:
                    roots |= _identifiers(expr)
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                used = _identifiers(stmt.value) if stmt.value is not None else set()
                for name in _targets(stmt):
                    nodes[(rel, name)] = (*span, used)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                # module-level statements that are not definitions run on import
                roots |= _identifiers(stmt)
    for rel in _files(ROOT_USERS, ROOT_USERS_EXCLUDED):
        with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
            roots |= _identifiers(ast.parse(f.read(), rel))
    return nodes, roots


def unreachable() -> list[tuple[str, int, str, int]]:
    nodes, root_names = _scan()
    root_files = set(_files(ROOT_MODULES))
    by_name: dict[str, list[tuple[str, str]]] = {}
    for key in nodes:
        by_name.setdefault(key[1], []).append(key)

    frontier = [
        key
        for key in nodes
        if key[0] in root_files
        or key[1] in root_names
        or (key[1].startswith("__") and key[1].endswith("__"))
        or (os.path.relpath(key[0], PKG), key[1]) in BASELINE_ROOTS
    ]
    seen = set(frontier)
    while frontier:
        for name in nodes[frontier.pop()][2]:
            for key in by_name.get(name, ()):
                if key not in seen:
                    seen.add(key)
                    frontier.append(key)
    return sorted(
        (rel, line, name, n)
        for (rel, name), (line, n, _) in nodes.items()
        if (rel, name) not in seen
    )


def test_every_package_definition_is_reachable_from_a_root():
    dead = unreachable()
    if dead:
        report = "\n".join(f"{rel}:{line} {name} ({n} lines)" for rel, line, name, n in dead)
        pytest.fail(
            f"{len(dead)} package definitions no root reaches "
            f"({sum(d[3] for d in dead)} lines):\n{report}\n"
            "Delete them, move test-input builders into tests/, or extend "
            "ROOT_MODULES / ROOT_USERS / BASELINE_ROOTS in tests/test_dead_code.py "
            "with the entry point that needs them.",
            pytrace=False,
        )
