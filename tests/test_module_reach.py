"""Every package module must be reached by an import walk from the
entry points (jobs, perfbench and the driver registry). A
module nothing imports fails here; narrowing ROOTS then shows what a
deletion slice may remove. Spark-free: the walk only parses sources."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOTS = ["jobs/*.py", "perfbench/*.py", "__spark_entry__.py"]


def _name(path: str) -> str:
    name = os.path.relpath(path, REPO)[:-3].replace(os.sep, ".")
    return name.removesuffix(".__init__")


def _imports(path: str, name: str) -> set[str]:
    """Dotted names imported anywhere in the file, inside functions too."""
    pkg = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = pkg.rsplit(".", node.level - 1)[0]
                base = f"{up}.{base}" if base else up
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def test_every_package_module_is_reached():
    paths = {_name(p): p for p in glob.glob(f"{REPO}/**/*.py", recursive=True)}
    todo = [_name(p) for r in ROOTS for p in glob.glob(f"{REPO}/{r}")]
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen or name not in paths:
            continue
        seen.add(name)
        parts = name.split(".")
        todo += [".".join(parts[:i]) for i in range(1, len(parts))]  # parents
        todo += _imports(paths[name], name)
    package = {n for n in paths if n.split(".")[0] == "osm_pbf_spark"}
    assert sorted(package - seen) == []
