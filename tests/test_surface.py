"""Reachability guard: every top-level name of the package is run by the
extraction pipeline, the query registry or a harness, or is a named
twin on the allow-list below.

Stdlib ``ast`` only, matched by name. The nodes are the package's
top-level functions, classes and module-level assignments; a node uses
every ``Name`` id, ``Attribute`` attr and import alias in its source,
and a use of a name reaches every node of that name. Name matching
can miss dead code whose name collides with a live one, never the
reverse, which is enough for a guard.
"""

from __future__ import annotations

import ast
import importlib.util
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "westa_ocr_spark"

# the extraction pipeline's entry points
ENTRY_POINTS = {"run_extraction_job", "cancel_extraction",
                "start_extraction_stream"}

# harness and driver files: read as roots, whatever they use is live
HARNESS_GLOBS = ["__spark_entry__.py", "bench.py", "scripts/*.py",
                 "perfbench/*.py"]

# package modules whose every module-level name is a root: the query
# definitions and their assembler
ROOT_MODULES = ["queries/*.py", "registry.py"]

ALLOWED_UNREACHABLE = {
    # pure-Python references the vectorized kernels are tested against
    "_simhash64_py",
    "_aes_decrypt_block",
}


def _used_names(tree: ast.AST) -> set[str]:
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.alias):
            used.add(node.name.rsplit(".", 1)[-1])
            if node.asname:
                used.add(node.asname)
    return used


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [stmt.name]
    targets = (stmt.targets if isinstance(stmt, ast.Assign)
               else [stmt.target] if isinstance(stmt, ast.AnnAssign)
               else [])
    return [n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name) and not n.id.startswith("__")]


def _package_graph():
    """(name -> [(module, used names)], root names)."""
    nodes: dict[str, list[tuple[str, set[str]]]] = defaultdict(list)
    roots = set(ENTRY_POINTS)
    root_modules = {p for g in ROOT_MODULES for p in PACKAGE.glob(g)}
    for path in sorted(PACKAGE.rglob("*.py")):
        module = str(path.relative_to(ROOT))
        for stmt in ast.parse(path.read_text()).body:
            names = _defined_names(stmt)
            used = _used_names(stmt)
            if path in root_modules:
                roots |= set(names)
            for name in names:
                nodes[name].append((module, used))
            if not names and not isinstance(
                    stmt, (ast.Import, ast.ImportFrom)):
                # other module-level code (guards, loops) runs on
                # import, so what it uses is live; an import alone
                # makes nothing live
                roots |= used
    for pattern in HARNESS_GLOBS:
        for path in ROOT.glob(pattern):
            tree = ast.parse(path.read_text())
            # a harness may name its targets as strings (getattr, as
            # perfbench's probes do), so a string that is a name is a use
            roots |= _used_names(tree) | {
                n.value for n in ast.walk(tree)
                if isinstance(n, ast.Constant) and isinstance(n.value, str)
                and n.value.isidentifier()}
    return nodes, roots


def _unreachable() -> dict[str, list[str]]:
    nodes, roots = _package_graph()
    seen: set[str] = set()
    todo = [n for n in roots if n in nodes]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _module, used in nodes[name]:
            todo.extend(u for u in used if u in nodes and u not in seen)
    return {name: sorted(m for m, _ in defs)
            for name, defs in nodes.items() if name not in seen}


def test_every_package_name_is_reachable():
    dead = _unreachable()
    assert set(dead) == ALLOWED_UNREACHABLE, {
        "unreachable, not allowed": {
            n: dead[n] for n in sorted(set(dead) - ALLOWED_UNREACHABLE)},
        "allowed, but now reachable or gone": sorted(
            ALLOWED_UNREACHABLE - set(dead)),
    }


def test_perfbench_finds_the_package_names_it_uses():
    """The benchmark harness reaches into the package by import and by
    name: each ``from westa_ocr_spark... import X`` in ``perfbench/``
    resolves, and ``probes.wrap_package`` finds every function it
    wraps (a missing one fails the traced run before its first op)."""
    for path in sorted(ROOT.glob("perfbench/*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.ImportFrom) and node.module
                    and node.module.split(".")[0] == PACKAGE.name):
                module = importlib.import_module(node.module)
                for alias in node.names:
                    assert hasattr(module, alias.name) or \
                        importlib.util.find_spec(
                            f"{node.module}.{alias.name}"), (
                        f"{path.name}: {node.module}.{alias.name}")

    spec = importlib.util.spec_from_file_location(
        "perfbench_probes", ROOT / "perfbench" / "probes.py")
    probes = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probes)
    tracer = probes.Tracer()
    try:
        probes.wrap_package(tracer)
    finally:
        tracer.unwrap_all()
