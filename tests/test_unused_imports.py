"""Every module-level import in the package is used by that module.

An import nothing reads keeps a dependency edge (and, for package-internal
names, a reason to keep the imported code) alive after its last caller is
gone. ``# noqa: F401`` marks a deliberate re-export or side-effect import.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ds_raster_pipelines_spark"


def _module_imports(tree: ast.Module):
    """(bound name, line) for imports in the module body, including those
    under module-level ``if``/``try`` blocks."""
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.If, ast.Try)):
            stack.extend(ast.iter_child_nodes(node))
        elif isinstance(node, ast.ExceptHandler):
            stack.extend(node.body)
        elif isinstance(node, ast.Import):
            for a in node.names:
                yield a.asname or a.name.split(".")[0], node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                yield a.asname or a.name, node.lineno


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
