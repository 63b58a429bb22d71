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


ROOT = PKG.parent
# Code outside the package that counts as a reader: the entry points and
# the tools, never the tests.
READERS = [ROOT / f for f in ("bench.py", "bench_extra.py", "run_pipeline.py", "__spark_entry__.py")]
READERS += sorted((ROOT / "perfbench").glob("*.py")) + sorted((ROOT / "tools").rglob("*.py"))


def _census_keeps() -> dict[str, str]:
    """``tools/call_census.py``'s KEEP: "<path in the package>:<qualname>"
    -> why a def nothing outside tests reads stays."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("call_census", ROOT / "tools" / "call_census.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.KEEP


def _imported(tree: ast.Module) -> set[str]:
    return {a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom) for a in n.names}


def _registered(node) -> bool:
    return any(isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
               for d in node.decorator_list)


def test_public_defs_have_a_reader():
    """Every module-level public def or class in the package is read (a
    name or attribute load, or an import) by package code or by code
    outside the tests, is a ``@register``-ed query, or is one of the
    call census's sanctioned keeps. A def only tests read is dead code."""
    trees = {p: ast.parse(p.read_text()) for p in sorted(PKG.rglob("*.py"))}
    others = [ast.parse(p.read_text()) for p in READERS]
    read = set().union(*(_reads(t) | _imported(t) for t in [*trees.values(), *others]))
    keeps = _census_keeps()
    found = [
        f"{p.relative_to(PKG.parent)}:{node.lineno} {node.name}"
        for p, t in trees.items()
        for node in _module_body(t)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
        and node.name not in read
        and not _registered(node)
        and f"{p.relative_to(PKG).as_posix()}:{node.name}" not in keeps
    ]
    assert not found, "public defs nothing outside tests reads:\n" + "\n".join(found)
