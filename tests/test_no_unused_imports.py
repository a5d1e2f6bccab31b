"""Every module-level import in the package is used. Spark-free: parses
the sources with ``ast`` and needs no session. Package ``__init__``
files (re-export surfaces) and ``__future__`` imports are exempt; a
``noqa`` comment is not an escape."""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "multivac_spark")


def unused_imports(source: str) -> list[tuple[int, str]]:
    """(line, bound name) for each module-level import whose bound name
    is never referenced anywhere in the module."""
    tree = ast.parse(source)
    bound: list[tuple[int, str]] = []
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                bound.append((node.lineno,
                              a.asname or a.name.split(".")[0]))
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            bound += [(node.lineno, a.asname or a.name) for a in node.names]
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [(line, name) for line, name in bound if name not in used]


def test_checker_flags_only_unused_names():
    src = ("from __future__ import annotations\n"
           "import os.path\n"
           "import json as j\n"
           "from a import b, c  # noqa: F401\n"
           "def f():\n"
           "    import sys\n"
           "    return os.sep, c\n")
    assert unused_imports(src) == [(3, "j"), (4, "b")]


def test_package_has_no_unused_imports():
    found = []
    for root, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py") or fn == "__init__.py":
                continue
            path = os.path.join(root, fn)
            with open(path, encoding="utf-8") as f:
                for line, name in unused_imports(f.read()):
                    found.append(f"{os.path.relpath(path, PKG)}:{line} {name}")
    assert found == []
