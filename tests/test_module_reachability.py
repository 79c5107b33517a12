"""Every module of the package is reached by an import chain from the
driver surfaces: the query registry, the session factory and the three
reference pipelines. A module that only its own tests import is a runtime
surface no query or pipeline runs; it gains a caller or it goes.

Static walk with stdlib ``ast`` (no import, no Spark session): it follows
module-level and function-level imports, relative and absolute.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "seoul_big_data_spark"

ROOTS = (
    "queries",
    "registry",
    "session",
    "pipelines.csv_load",
    "pipelines.openapi_load",
    "pipelines.category_enrich",
)

# module (relative to the package) -> why it may stay unreached
ALLOWED_UNREACHED = {
    "sources.jdbc": "the reference's catalog transport (Tibero over JDBC); "
    "the pipelines here take the catalog as a DataFrame from parquet",
}


def _package_modules() -> dict[str, str]:
    """Dotted module name (``seoul_big_data_spark.x.y``) -> file path."""
    mods = {}
    root = os.path.join(REPO, PKG)
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        rel = os.path.relpath(dirpath, REPO).replace(os.sep, ".")
        for f in filenames:
            if f.endswith(".py"):
                name = rel if f == "__init__.py" else f"{rel}.{f[:-3]}"
                mods[name] = os.path.join(dirpath, f)
    return mods


def _imported(name: str, path: str, mods: dict[str, str]) -> set[str]:
    """Package modules that importing ``name`` (the file at ``path``) can
    load, including the parent packages each import initialises."""
    is_pkg = path.endswith("__init__.py")
    out: set[str] = set()
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = name.split(".")
                base = base[: len(base) - node.level + (1 if is_pkg else 0)]
                if node.module:
                    base += node.module.split(".")
                mod = ".".join(base)
            else:
                mod = node.module
            # ``from pkg import sub`` loads the submodule ``pkg.sub``
            targets = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            parts = t.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in mods:
                    out.add(prefix)
    return out


def _reached(mods: dict[str, str]) -> set[str]:
    seen: set[str] = set()
    todo = [f"{PKG}.{r}" for r in ROOTS]
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        todo.extend(_imported(m, mods[m], mods) - seen)
    return seen


def test_every_package_module_is_reached_from_queries_or_pipelines():
    mods = _package_modules()
    short = {m: m[len(PKG) + 1:] for m in mods if m != PKG}
    reached = {short[m] for m in _reached(mods) if m in short}
    assert set(ALLOWED_UNREACHED) <= set(short.values()), "stale allowlist"
    assert not set(ALLOWED_UNREACHED) & reached, "allowlisted but reached"
    stray = sorted(set(short.values()) - reached - set(ALLOWED_UNREACHED))
    assert not stray, f"modules only tests reach: {stray}"
