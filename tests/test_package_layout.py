"""Every package module is reached from a declared entry point.

The import graph is built from the AST (``import`` and ``from ...
import``, relative imports resolved, parent packages included), rooted
at the registry, ``bench.py``, ``examples/``, ``tools/``,
``perfbench/`` and ``__spark_entry__.py``. A module that only its own
tests import is dead weight in the package and in the suite's wall, so
it fails here unless the keep-set below names it with its reason.
Starts no Spark session.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "amante_s_supabase_full_cloud_etl_pipeline_spark"

KEEP = {
    f"{PKG}.fastdaemon": "Spark loads it by module name as the worker daemon",
    f"{PKG}.sources.xlsx": "Extract step: spreadsheet POS exports (SURVEY §0)",
    f"{PKG}.sources.landing": "Extract step: the landing directory (SURVEY §0)",
    f"{PKG}.sources.pgwire": "stdlib PostgreSQL client for the Load sink's tests",
    f"{PKG}.serve": "BI serving entry point (Thrift and Spark Connect views)",
    f"{PKG}.connect_client": "BI serving client (stdlib Spark Connect transport)",
}


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file path for every module in the package."""
    mods = {}
    root = os.path.join(REPO, PKG)
    for dirpath, _, files in os.walk(root):
        rel = os.path.relpath(dirpath, REPO).replace(os.sep, ".")
        for f in files:
            if not f.endswith(".py"):
                continue
            name = rel if f == "__init__.py" else f"{rel}.{f[:-3]}"
            mods[name] = os.path.join(dirpath, f)
    return mods


def _imports(path: str, module: str) -> set[str]:
    """Absolute dotted names that the file at ``path`` (module
    ``module``) imports."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    is_pkg = path.endswith("__init__.py")
    package = module if is_pkg else module.rpartition(".")[0]
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = ".".join(parts[: len(parts) - node.level + 1])
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def _with_parents(name: str) -> list[str]:
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def _unreached() -> set[str]:
    mods = _package_modules()
    roots = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    for d in ("examples", "tools", "perfbench"):
        roots += [
            os.path.join(REPO, d, f)
            for f in sorted(os.listdir(os.path.join(REPO, d)))
            if f.endswith(".py")
        ]
    frontier = [(p, "__root__") for p in roots]
    frontier.append((mods[f"{PKG}.registry"], f"{PKG}.registry"))
    reached = {f"{PKG}.registry", PKG}
    while frontier:
        path, module = frontier.pop()
        for name in _imports(path, module):
            for m in _with_parents(name):
                if m in mods and m not in reached:
                    reached.add(m)
                    frontier.append((mods[m], m))
    return set(mods) - reached


def test_every_package_module_is_reached_or_kept_for_a_reason():
    unreached = _unreached()
    dead = sorted(unreached - set(KEEP))
    assert not dead, (
        "package modules that no registry query, example, tool, bench row "
        f"or perfbench workload imports: {dead}; wire them in or delete "
        "them with their tests"
    )
    stale = sorted(set(KEEP) - unreached)
    assert not stale, f"keep-set names modules that are now reached: {stale}"
