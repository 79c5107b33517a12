"""Deep source fingerprints (certhash.py) — the gate-order staleness signal.

Regression for VERDICT r9 "make sure it does": the shallow scheme hashed only
the query function's own source, so a semantic rewrite INSIDE a helper
(r9's fused sessionization, changed via streaming/batch_windows.py) left the
ledger hash matching and the re-front mechanism silent. The deep fingerprint
must reach every in-package callable the query transitively references.
"""

from __future__ import annotations

from seoul_big_data_spark.certhash import deep_fingerprint, source_closure


def _helper_a(x):
    return x + 1


def _helper_b(x):
    return x + 2


def _caller_a(x):
    return _helper_a(x) * 3


def _caller_b(x):
    return _helper_b(x) * 3


def _indirect(x):
    # attribute-style reference through a module object
    from seoul_big_data_spark.operators import windows

    return windows.sessionize_agg_scalable  # noqa: B018 — reference, not call


_PKG_SELF = __name__  # pytest may import this file under a different name


def test_closure_reaches_direct_helper():
    cl = source_closure(_caller_a, pkg=_PKG_SELF)
    names = {q for _, q in cl}
    assert "_helper_a" in names and "_caller_a" in names


def test_helper_edit_changes_fingerprint():
    # _caller_a and _caller_b differ ONLY in which (structurally parallel)
    # helper they call — a proxy for "the helper's source changed".
    fa = deep_fingerprint(_caller_a, pkg=_PKG_SELF)
    fb = deep_fingerprint(_caller_b, pkg=_PKG_SELF)
    assert fa != fb


def test_oracle_change_changes_fingerprint():
    assert deep_fingerprint(_caller_a, "SELECT 1", pkg=_PKG_SELF) != \
        deep_fingerprint(_caller_a, "SELECT 2", pkg=_PKG_SELF)


def test_module_attribute_references_resolved():
    cl = source_closure(_indirect)
    names = {q for _, q in cl}
    assert "sessionize_agg_scalable" in names


def test_r9_regression_sessionization_closure_is_deep():
    """The exact shape the shallow scheme missed: events_sessionization is a
    thin wrapper over session_stats over sessionize_agg_scalable — all three
    must be in its fingerprint closure."""
    from seoul_big_data_spark.queries import QUERIES

    cl = source_closure(QUERIES["events_sessionization"])
    names = {q for _, q in cl}
    assert {"events_sessionization", "session_stats", "sessionize_agg_scalable"} <= names


def test_relative_import_in_query_body_resolves_against_package():
    """``from .operators.graph import pagerank`` inside a q_text query body
    is relative to the ``seoul_big_data_spark`` package, not to the
    ``seoul_big_data_spark.q_text`` module — resolved against the module, the
    import fails silently and pagerank edits never re-front the query."""
    from seoul_big_data_spark.queries import QUERIES

    cl = source_closure(QUERIES["graph_pagerank_neardup"])
    assert "pagerank" in {q for _, q in cl}


def test_fingerprint_deterministic_across_calls():
    from seoul_big_data_spark.queries import ORACLES, QUERIES

    name = "events_attribution_first_touch"
    fn = QUERIES[name]
    assert deep_fingerprint(fn, ORACLES.get(name, "")) == deep_fingerprint(
        fn, ORACLES.get(name, "")
    )
