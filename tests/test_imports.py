"""Every import in the program names a module that exists and names it
defines.

A static walk (no import is executed, no Spark): for each ``import`` and
``from … import`` in the package, the jobs, the tools, the benchmark and
the two entry scripts, including imports inside functions, the internal
module must resolve to a file in the repository and each imported name
must be bound at its top level (or be a submodule of the package). A
lazy import of a deleted module fails here rather than at run time.
"""

from __future__ import annotations

import ast
import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED = ["fluent_bit_spark", "jobs", "tools", "perfbench",
           "bench.py", "__spark_entry__.py"]


def _scanned_files() -> list[str]:
    out = []
    for entry in SCANNED:
        path = os.path.join(REPO, entry)
        if os.path.isfile(path):
            out.append(path)
            continue
        for root, _, files in os.walk(path):
            out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _module_file(base: str, dotted: str) -> str | None:
    """``dotted`` as a module or package under ``base``, or None."""
    path = os.path.join(base, *dotted.split("."))
    for cand in (path + ".py", os.path.join(path, "__init__.py")):
        if os.path.isfile(cand):
            return cand
    return None


def _package_of(path: str) -> str | None:
    """Dotted package name of a file inside a package, else None."""
    parts = []
    d = os.path.dirname(path)
    while os.path.isfile(os.path.join(d, "__init__.py")):
        parts.insert(0, os.path.basename(d))
        d = os.path.dirname(d)
    return ".".join(parts) or None


def _top_level_names(path: str) -> set[str]:
    """Names a module binds outside any function or class body."""
    with open(path) as f:
        stack = list(ast.parse(f.read(), path).body)
    names: set[str] = set()
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
        elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            names.add(node.id)
        stack.extend(ast.iter_child_nodes(node))
    return names


def _resolve(path: str, dotted: str) -> tuple[str | None, bool]:
    """(file, internal) for an absolute import made by ``path``."""
    top = dotted.split(".")[0]
    here = os.path.dirname(path)
    for base in (REPO, here):
        if (_module_file(base, top)
                or os.path.isdir(os.path.join(base, top))):
            return _module_file(base, dotted), True
    return None, importlib.util.find_spec(top) is None


def _problems(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    rel = os.path.relpath(path, REPO)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                target, internal = _resolve(path, a.name)
                if internal and target is None:
                    out.append(f"{rel}:{node.lineno}: no module {a.name}")
            continue
        if not isinstance(node, ast.ImportFrom) or node.module == "__future__":
            continue
        if node.level:
            pkg = _package_of(path).split(".")
            pkg = pkg[:len(pkg) - node.level + 1]
            dotted = ".".join(pkg + ([node.module] if node.module else []))
            target = _module_file(REPO, dotted)
            internal = True
        else:
            dotted = node.module
            target, internal = _resolve(path, dotted)
        if not internal:
            continue
        if target is None:
            out.append(f"{rel}:{node.lineno}: no module {dotted}")
            continue
        names = _top_level_names(target)
        pkg_dir = os.path.dirname(target)
        for a in node.names:
            if a.name == "*" or a.name in names:
                continue
            if (target.endswith("__init__.py")
                    and _module_file(pkg_dir, a.name)):
                continue
            out.append(f"{rel}:{node.lineno}: {dotted} has no {a.name}")
    return out


def test_internal_imports_resolve():
    files = _scanned_files()
    assert {os.path.relpath(p, REPO).split(os.sep)[0]
            for p in files} == set(SCANNED)
    assert [msg for p in files for msg in _problems(p)] == []


def test_the_walk_reports_a_missing_module_or_name(tmp_path):
    bad = tmp_path / "job.py"
    bad.write_text(
        "import gone_sibling\n"
        "from fluent_bit_spark.session import no_such_name\n"
        "def f():\n"
        "    from fluent_bit_spark.operators import no_such_module\n"
        "    from fluent_bit_spark.no_such_package.x import y\n"
        "    import pyarrow, json\n")
    assert [m.split(": ", 1)[1] for m in _problems(str(bad))] == [
        "no module gone_sibling",
        "fluent_bit_spark.session has no no_such_name",
        "fluent_bit_spark.operators has no no_such_module",
        "no module fluent_bit_spark.no_such_package.x",
    ]
