"""Every module-level import in the package is used by that module, and
every module-level private name (``_x``) is read by some package module.

An import nothing reads keeps a dependency edge (and, for package-internal
names, a reason to keep the imported code) alive after its last caller is
gone. ``# noqa: F401`` marks a deliberate re-export or side-effect import.
A private constant or helper no package module reads is dead code: tests
may still call it, but private names are not API.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ds_raster_pipelines_spark"


def _module_body(tree: ast.Module):
    """The module's top-level statements, including those under
    module-level ``if``/``try`` blocks."""
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.If, ast.Try)):
            stack.extend(ast.iter_child_nodes(node))
        elif isinstance(node, ast.ExceptHandler):
            stack.extend(node.body)
        else:
            yield node


def _module_imports(tree: ast.Module):
    """(bound name, line) for imports in the module body."""
    for node in _module_body(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.asname or a.name.split(".")[0], node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                yield a.asname or a.name, node.lineno


def _private_defs(tree: ast.Module):
    """(name, line) of the private (``_x``, not dunder) names the module
    body binds by ``def``, ``class`` or assignment."""
    for node in _module_body(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
        else:
            continue
        for name in names:
            if name.startswith("_") and not name.startswith("__"):
                yield name, node.lineno


def _reads(tree: ast.Module) -> set[str]:
    """Every name the module loads, bare (``_x``) or as an attribute
    (``mod._x``)."""
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(tree)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        or isinstance(n, ast.Attribute)
    }


def unused_imports(path: Path) -> list[str]:
    src = path.read_text()
    tree = ast.parse(src)
    lines = src.splitlines()
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    # names listed in __all__ count as used (explicit re-exports)
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {c.value for c in ast.walk(node.value) if isinstance(c, ast.Constant)}
    return [
        f"{path.relative_to(PKG.parent)}:{line} {name}"
        for name, line in _module_imports(tree)
        if name not in used and "noqa: F401" not in lines[line - 1]
    ]


def test_no_unused_module_imports():
    found = [u for p in sorted(PKG.rglob("*.py")) for u in unused_imports(p)]
    assert not found, "unused module-level imports:\n" + "\n".join(found)


def test_no_unread_private_names():
    trees = {p: ast.parse(p.read_text()) for p in sorted(PKG.rglob("*.py"))}
    read = set().union(*(_reads(t) for t in trees.values()))
    found = [
        f"{p.relative_to(PKG.parent)}:{line} {name}"
        for p, t in trees.items()
        for name, line in _private_defs(t)
        if name not in read
    ]
    assert not found, "module-level private names no package module reads:\n" + "\n".join(found)
