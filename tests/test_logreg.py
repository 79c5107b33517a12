"""The shipped logistic-regression paths (q_mlprep's one-step Newton twin
and its expression-IRLS) vs an independently-coded numpy IRLS on the same
collected feature matrix."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from seoul_big_data_spark.sources.tables import load


def _numpy_irls(x, y, n_iter=6, ridge=1e-6):
    xs = np.column_stack([np.ones(len(x)), x])
    beta = np.zeros(xs.shape[1])
    for _ in range(n_iter):
        eta = np.clip(xs @ beta, -30.0, 30.0)
        p = 1.0 / (1.0 + np.exp(-eta))
        w = p * (1.0 - p)
        a = (xs * w[:, None]).T @ xs
        g = xs.T @ (y - p)
        beta = beta + np.linalg.solve(a + ridge * np.eye(xs.shape[1]), g)
    return beta


def test_newton_step_twin_matches_irls_first_iteration(spark, sf_dir):
    """The hash-checked one-step twin (mlprep_logreg_newton_step) must agree
    with the independent numpy IRLS run for exactly one iteration on the
    SAME features — the link that makes the twin evidence for IRLS, not a
    parallel implementation. Tolerance covers the paths' different
    accumulation (numpy: float64 over collected rows; twin: exact decimal
    sums rounded at scale 6)."""
    from seoul_big_data_spark.q_mlprep import mlprep_logreg_newton_step

    d = load(spark, "documents", sf_dir)
    n_tok = F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != F.lit("")))
    n_punct = F.length("text") - F.length(
        F.regexp_replace("text", "[^a-zA-Z0-9 ]", "")
    )
    rows = d.select(
        (F.col("n_chars") * 0.001).alias("f1"),
        (n_tok.cast("double") * 0.01).alias("f2"),
        (n_punct.cast("double") * 0.1).alias("f3"),
        (F.col("lang") == "en").cast("double").alias("y"),
    ).collect()
    x = np.array([[r["f1"], r["f2"], r["f3"]] for r in rows], dtype=np.float64)
    y = np.array([r["y"] for r in rows], dtype=np.float64)
    beta_ref = _numpy_irls(x, y, n_iter=1)
    twin = mlprep_logreg_newton_step(spark, sf_dir).first()
    beta_twin = [twin[f"b{i}"] for i in range(4)]
    assert np.allclose(beta_twin, beta_ref, rtol=1e-4, atol=1e-5), (
        beta_twin,
        beta_ref,
    )


def test_expression_irls_tracks_numpy_irls(spark, sf_dir):
    """The shipped quality classifier's expression-IRLS (exact decimal
    stats + per-row 6-rounded sigmoid, q_mlprep._irls6_fit) must track an
    UNROUNDED numpy IRLS on the identical features: the per-row rounding
    perturbs each weight by <= 5e-7, so after 6 steps the coefficients
    agree to ~1e-3 relative on well-conditioned data. Bit-exactness
    cross-ENGINE is the oracle's job; this pins algorithmic correctness."""
    from seoul_big_data_spark.q_mlprep import _irls6_fit, _irls_feats

    feats = _irls_feats(spark, sf_dir)
    beta = [float(b) for b in _irls6_fit(feats)]

    rows = feats.select("d1", "d2", "d3", "y").collect()
    x = np.array([[float(r["d1"]), float(r["d2"]), float(r["d3"])] for r in rows])
    y = np.array([float(r["y"]) for r in rows])
    ref = _numpy_irls(x, y, n_iter=6)
    np.testing.assert_allclose(beta, ref, rtol=2e-3, atol=2e-3)


def test_expression_irls_first_step_equals_newton_twin(spark, sf_dir):
    """One expression-IRLS step from beta=0 must equal the hash-checked
    Newton-step twin's coefficients up to the per-row rounding the full
    fit adds (the twin uses constant W=1/4 exactly; step one of IRLS uses
    W=round(p,6)*(1-round(p,6)) with p=0.5 exactly -> identical W, so the
    only difference is the stats' decimal scales)."""
    from seoul_big_data_spark.q_mlprep import _irls6_fit, _irls_feats
    from seoul_big_data_spark.queries import QUERIES

    feats = _irls_feats(spark, sf_dir)
    one = [float(b) for b in _irls6_fit(feats, iters=1)]
    twin = QUERIES["mlprep_logreg_newton_step"](spark, sf_dir).collect()[0]
    np.testing.assert_allclose(
        one, [twin[f"b{i}"] for i in range(4)], rtol=1e-5, atol=1e-5
    )
