"""Surface guards, stdlib ``ast`` only and matched by name.

Reachability: every top-level name of the package is run by the
extraction pipeline, the query registry or a harness, or is named on
the allow-list below. The nodes are the package's top-level functions,
classes and module-level assignments; a node uses every ``Name`` id,
``Attribute`` attr and import alias in its source, and a use of a name
reaches every node of that name.

Options: every defaulted parameter of a package function is set by at
least one call in the package, a harness or a test, or is named on
the options allow-list. A parameter that no call sets is a
configuration nothing runs; it should be a constant.

Name matching can miss dead code whose name collides with a live one,
never the reverse, which is enough for a guard.
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

ALLOWED_UNREACHABLE: set[str] = set()

# files whose calls may set a package function's options: the harnesses
# and the tests (a test setting an option reaches a reference path or a
# boundary through it)
CALLER_GLOBS = HARNESS_GLOBS + ["tests/*.py"]

# defaulted parameters no call sets, kept on purpose ("function.param",
# methods as "Class.method.param")
ALLOWED_UNSET_OPTIONS = {
    # the PDF KDF's password: the algorithm's input, empty for the
    # documents the corpus encrypts
    "_std_file_key.password",
    "_std_v5_file_key.password",
    # recursion depth of a reference chain, set by the recursion only
    # when it follows one (a call with no chain sets none)
    "PdfDocument.resolve._depth",
    # safety bounds on decompressed WARC bytes
    "_bounded_inflate.cap",
    "_stream_gzip_members.cap",
    # the deployment setting: a long-running tail drops the trigger
    "start_extraction_stream.trigger_available_now",
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


def _package_functions():
    """``(qualified name, def, is a method)`` for every function of the
    package, methods and nested functions included."""
    out = []

    def visit(node, prefix, in_class):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                static = any(isinstance(d, ast.Name)
                             and d.id == "staticmethod"
                             for d in child.decorator_list)
                out.append((prefix + child.name, child,
                            in_class and not static))
                visit(child, f"{prefix}{child.name}.", False)
            elif isinstance(child, ast.ClassDef):
                visit(child, f"{prefix}{child.name}.", True)
            else:
                visit(child, prefix, in_class)

    for path in sorted(PACKAGE.rglob("*.py")):
        visit(ast.parse(path.read_text()), "", False)
    return out


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """``(positional index or None if keyword-only, name)`` of each
    parameter with a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    return ([(i, p.arg) for i, p in enumerate(pos) if i >= first]
            + [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults)
               if d is not None])


def _unset_options() -> set[str]:
    functions = _package_functions()
    classes = {q.rsplit(".", 2)[-2] for q, fn, m in functions
               if m and fn.name == "__init__"}
    # callee name -> [(positional args, via attribute, keywords, starred)]
    calls = defaultdict(list)
    files = sorted(PACKAGE.rglob("*.py")) + sorted(
        p for g in CALLER_GLOBS for p in ROOT.glob(g))
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None)
            if name is None:
                continue
            call = (len(node.args), isinstance(f, ast.Attribute),
                    {k.arg for k in node.keywords},
                    any(isinstance(a, ast.Starred) for a in node.args)
                    or any(k.arg is None for k in node.keywords))
            calls[name].append(call)
            if name in classes:
                # a constructor call sets __init__'s parameters after self
                calls[f"{name}.__init__"].append(
                    (call[0] + 1, False) + call[2:])
    unset = set()
    for qual, fn, is_method in functions:
        callee = (f"{qual.rsplit('.', 2)[-2]}.__init__"
                  if fn.name == "__init__" and is_method else fn.name)
        for index, param in _defaulted(fn):
            def sets(call, index=index, param=param):
                n_pos, via_attr, keywords, starred = call
                if starred or param in keywords:
                    return True
                # a method called on an object gets self implicitly
                offset = 1 if is_method and via_attr else 0
                return index is not None and n_pos + offset > index
            if not any(sets(c) for c in calls[callee]):
                unset.add(f"{qual}.{param}")
    return unset


def test_every_option_is_set_by_a_caller():
    unset = _unset_options()
    assert unset == ALLOWED_UNSET_OPTIONS, {
        "set by no call, not allowed": sorted(
            unset - ALLOWED_UNSET_OPTIONS),
        "allowed, but now set or gone": sorted(
            ALLOWED_UNSET_OPTIONS - unset),
    }
