"""No unused imports in the program files: every name an import binds in
``medvedi_spark/``, ``tools/``, ``bench.py`` and ``__spark_entry__.py`` is
read in the scope that imports it. A plain AST pass, so it needs no linter.

An import counts as used when its name is read anywhere in the enclosing
scope (the module for a top-level import, the function for a local one),
when the module lists it in ``__all__``, or when its line carries a
``# noqa`` marker (side-effect imports such as query registration)."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TARGETS = ("medvedi_spark", "tools", "bench.py", "__spark_entry__.py")

_SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef)


def _program_files():
    for target in TARGETS:
        path = os.path.join(ROOT, target)
        if os.path.isfile(path):
            yield path
        for dirpath, _, files in os.walk(path):
            yield from (os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py"))


def _own_nodes(scope):
    """Nodes of ``scope`` that are not inside a nested function."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            stack.extend(ast.iter_child_nodes(node))


def _dunder_all(tree) -> set[str]:
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            return {e.value for e in node.value.elts if isinstance(e, ast.Constant)}
    return set()


def unused_imports(path: str) -> list[str]:
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    lines = src.splitlines()
    tree = ast.parse(src, path)
    exported = _dunder_all(tree)
    found = []
    for scope in (n for n in ast.walk(tree) if isinstance(n, _SCOPES)):
        imports = [n for n in _own_nodes(scope) if isinstance(n, (ast.Import, ast.ImportFrom))]
        if not imports:
            continue
        # reads in nested functions count: a module import used only
        # inside a function is used
        read = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
        for imp in imports:
            if isinstance(imp, ast.ImportFrom) and imp.module == "__future__":
                continue
            if "# noqa" in lines[imp.lineno - 1]:
                continue
            for alias in imp.names:
                name = alias.asname or alias.name.split(".")[0]
                if name != "*" and name not in read and name not in exported:
                    found.append(f"{os.path.relpath(path, ROOT)}:{imp.lineno}: {name}")
    return found


def test_no_unused_imports():
    found = [hit for path in _program_files() for hit in unused_imports(path)]
    assert not found, "unused imports:\n" + "\n".join(found)
