"""Deep source fingerprints for the certification-hash ledger.

The gate-order staleness signal (queries.py ``_stale_hash_names`` +
tools/record_cert_hashes.py) originally hashed only the QUERY FUNCTION's own
source + oracle SQL. That misses the common rewrite shape: the query body is
a thin call into an engine operator (``session_stats`` →
``sessionize_agg_scalable``), so a semantic rewrite of the helper changes the
physical plan and the output contract surface without touching the query
function's text — r9's fused-sessionization rewrite left
``events_sessionization``'s hash unchanged and the re-front mechanism silent
(VERDICT r9, What's missing #2).

Fix: fingerprint the TRANSITIVE in-package source closure. Starting from the
query function, walk every global / module-attribute / closure-cell reference
whose name appears in the function's code object (including nested code
objects — lambdas, comprehensions), recurse into functions and classes
defined under this package, and hash the sorted concatenation of their
sources. Any edit to any reachable in-package callable now mismatches the
ledger and demotes the query to never-gated rank (-1), re-fronting it.

Out-of-package references (pyspark, stdlib) are deliberately excluded: their
churn is not a semantic change to THIS engine, and including them would
spuriously re-front the whole registry on a Spark upgrade.
"""

from __future__ import annotations

import hashlib
import inspect
import sys
import types

PKG = "seoul_big_data_spark"


def _code_names(code: types.CodeType) -> set[str]:
    """All global/attribute names referenced by a code object, including
    nested code objects (lambdas, comprehensions, local defs)."""
    names = set(code.co_names)
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            names |= _code_names(const)
    return names


def _in_pkg(obj, pkg: str) -> bool:
    return str(getattr(obj, "__module__", "") or "").startswith(pkg)


def _visit(obj, pkg: str, seen: set, out: dict) -> None:
    key = (getattr(obj, "__module__", ""), getattr(obj, "__qualname__", repr(obj)))
    if key in seen:
        return
    seen.add(key)
    out[key] = obj
    if inspect.isclass(obj):
        # The class source (hashed by the caller) already includes method
        # bodies; recurse into methods only to FOLLOW their references.
        for member in vars(obj).values():
            fn = getattr(member, "__func__", member)
            if isinstance(fn, types.FunctionType) and _in_pkg(fn, pkg):
                _follow(fn, pkg, seen, out)
        return
    if isinstance(obj, types.FunctionType):
        _follow(obj, pkg, seen, out)


_LOCAL_IMPORT_CACHE: dict[tuple[str, str], list] = {}


def _local_imports(fn: types.FunctionType):
    """Objects brought in by import statements INSIDE the function body
    (``from .operators import windows`` in a query body binds a local, not
    a global — invisible to the co_names/globals walk). Memoized per
    (module, qualname): the ast parse dominates the whole-registry walk."""
    import ast
    import importlib
    import textwrap

    ck = (getattr(fn, "__module__", ""), getattr(fn, "__qualname__", ""))
    if ck in _LOCAL_IMPORT_CACHE:
        return _LOCAL_IMPORT_CACHE[ck]
    _LOCAL_IMPORT_CACHE[ck] = []  # filled below; set first for cycle safety
    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, TypeError, SyntaxError):
        return _LOCAL_IMPORT_CACHE[ck]
    # Relative imports resolve against the defining module's PACKAGE
    # (``from .operators import x`` in seoul_big_data_spark.q_text means
    # seoul_big_data_spark.operators.x).
    own = getattr(fn, "__module__", "") or ""
    pkg_ctx = getattr(sys.modules.get(own), "__package__", None) or own.rpartition(".")[0]
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            modname = "." * node.level + (node.module or "")
            try:
                mod = importlib.import_module(modname, package=pkg_ctx)
            except Exception:
                continue
            for alias in node.names:
                obj = getattr(mod, alias.name, None)
                if obj is None:
                    try:
                        obj = importlib.import_module(
                            f"{modname}.{alias.name}", package=pkg_ctx
                        )
                    except Exception:
                        continue
                found.append(obj)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                try:
                    found.append(importlib.import_module(alias.name))
                except Exception:
                    continue
    _LOCAL_IMPORT_CACHE[ck] = found
    return found


def _follow(fn: types.FunctionType, pkg: str, seen: set, out: dict) -> None:
    code = getattr(fn, "__code__", None)
    if code is None:
        return
    names = _code_names(code)
    g = getattr(fn, "__globals__", {})
    candidates = []
    modules = []
    for nm in names:
        ref = g.get(nm)
        if ref is None:
            continue
        if isinstance(ref, types.ModuleType):
            modules.append(ref)
        else:
            candidates.append(ref)
    for ref in _local_imports(fn):
        if isinstance(ref, types.ModuleType):
            modules.append(ref)
        else:
            candidates.append(ref)
    for mod in modules:
        # ``windows.sessionize_agg_scalable``: the module name AND the
        # attribute name both appear in co_names; resolve the pairs.
        if str(getattr(mod, "__name__", "")).startswith(pkg):
            for attr in names:
                sub = getattr(mod, attr, None)
                if sub is not None:
                    candidates.append(sub)
    if fn.__closure__:
        for cell in fn.__closure__:
            try:
                candidates.append(cell.cell_contents)
            except ValueError:  # empty cell
                pass
    for ref in candidates:
        if (
            isinstance(ref, types.FunctionType) or inspect.isclass(ref)
        ) and _in_pkg(ref, pkg):
            _visit(ref, pkg, seen, out)


def source_closure(fn, pkg: str = PKG) -> dict[tuple[str, str], object]:
    """(module, qualname) -> object for every in-package function/class
    transitively reachable from ``fn`` through named references."""
    seen: set = set()
    out: dict = {}
    _visit(fn, pkg, seen, out)
    return out


def deep_fingerprint(fn, oracle: str = "", pkg: str = PKG) -> str:
    """sha256[:16] over the sorted transitive source closure + oracle SQL.

    Stable across reorderings of unrelated code (each member's source is
    keyed and sorted by (module, qualname)); changes when any reachable
    in-package callable's source changes.
    """
    parts = []
    closure = source_closure(fn, pkg)
    for key in sorted(closure):
        try:
            src = inspect.getsource(closure[key])
        except (OSError, TypeError):
            src = repr(closure[key])
        parts.append(f"{key[0]}.{key[1]}\n{src}")
    blob = "\n\x00\n".join(parts) + "\n\x00\x00\n" + (oracle or "")
    return hashlib.sha256(blob.encode()).hexdigest()[:16]
