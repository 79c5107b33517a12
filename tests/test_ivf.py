"""IVF ANN + SemDeDup-style semantic dedup (operators/ivf.py, north-star
N2/N3 scale paths, SURVEY.md §2.10)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from seoul_big_data_spark.functions.vector import cosine
from seoul_big_data_spark.operators.ivf import (
    assign_cells,
    ivf_topk,
    kmeans_fit,
    semantic_dedup_pairs,
)
from seoul_big_data_spark.operators.similarity import brute_force_topk
from seoul_big_data_spark.sources.tables import load

K, ITERS = 8, 3


def _numpy_kmeans(ids, vecs, k, iters):
    """The identical algorithm in numpy: md5 seeding, spherical Lloyd,
    max-dot assignment with lowest-cell tie-break, empty cells frozen."""
    import hashlib

    v = np.asarray(vecs, dtype=np.float64)
    norms = np.linalg.norm(v, axis=1, keepdims=True)
    v = np.where(norms > 0, v / np.where(norms == 0, 1, norms), v)
    order = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )
    cents = v[order[:k]].copy()
    for _ in range(iters):
        dots = v @ cents.T
        # lowest cell wins exact ties (argmax already returns the first max)
        cells = np.argmax(dots, axis=1)
        nxt = cents.copy()
        for c in range(k):
            members = v[cells == c]
            if len(members):
                # mirror the fit's r8 contract: per-cell means rounded to 6
                # decimals before normalization (cross-engine determinism)
                m = np.round(members.mean(axis=0), 6)
                n = np.linalg.norm(m)
                nxt[c] = m / n if n > 0 else m
        cents = nxt
    return cents


def test_kmeans_matches_numpy(spark, sf_dir):
    emb = load(spark, "embeddings", sf_dir)
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    vecs = [list(r["embedding"]) for r in rows]
    got = np.asarray(kmeans_fit(emb, k=K, iters=ITERS))
    want = _numpy_kmeans(ids, vecs, K, ITERS)
    assert got.shape == want.shape == (K, 64)
    np.testing.assert_allclose(got, want, atol=1e-9)


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """nprobe == k probes every cell — the result must be EXACTLY the
    brute-force top-k (graceful degradation contract)."""
    emb = load(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    cents = kmeans_fit(emb, k=K, iters=ITERS)
    exact = {
        (r["query_id"], r["rk"]): r["neighbor_id"]
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    full = {
        (r["query_id"], r["rk"]): r["neighbor_id"]
        for r in ivf_topk(emb, queries, cents, k=10, nprobe=K).collect()
    }
    assert full == exact


def test_ivf_recall_scales_with_nprobe(spark, sf_dir):
    """More probes → monotonically no-worse recall, and nprobe=3 of 8 finds
    a meaningful share of the exact top-10."""
    emb = load(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    cents = kmeans_fit(emb, k=K, iters=ITERS)
    exact_sets: dict[int, set[int]] = {}
    for r in brute_force_topk(emb, queries, k=10).collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    total = sum(len(s) for s in exact_sets.values())

    def recall(nprobe):
        hits = 0
        for r in ivf_topk(emb, queries, cents, k=10, nprobe=nprobe).collect():
            if r["neighbor_id"] in exact_sets.get(r["query_id"], set()):
                hits += 1
        return hits / total

    r1, r3 = recall(1), recall(3)
    assert r3 >= r1
    assert r3 >= 0.3, (r1, r3)


def test_semantic_dedup_subset_of_global_pairs(spark, sf_dir):
    """Every cell-bounded pair is a true global near-dup pair (precision is
    exact — only recall is approximate), and exact duplicates are never
    missed (identical vectors share a nearest centroid by construction)."""
    emb = load(spark, "embeddings", sf_dir)
    # plant an exact duplicate of vec 0 with a fresh id
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    data = emb.unionByName(dup)
    cents = kmeans_fit(data, k=K, iters=ITERS)
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(data, cents, threshold=0.5).collect()
    }
    a = data.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = data.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    global_pairs = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(cosine("va", "vb") >= 0.5)
        .collect()
    }
    assert got <= global_pairs
    assert (0, 1_000_000) in got  # the planted exact duplicate is caught


def test_assign_cells_deterministic_under_repartition(spark, sf_dir):
    emb = load(spark, "embeddings", sf_dir)
    cents = kmeans_fit(emb, k=K, iters=ITERS)
    once = {
        r["vec_id"]: r["cell"] for r in assign_cells(emb, cents).collect()
    }
    again = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(emb.repartition(13), cents).collect()
    }
    assert once == again
    assert set(once.values()) <= set(range(K))


def test_assign_cells_bulk_matches_expression_path(spark, sf_dir):
    """The numpy-matmul assign (large-k path) must agree with the literal
    dot-expression assign cell-for-cell: both argmax raw-vector dots against
    unit-norm centroids with lowest-cell tie-break, so on real (tie-free)
    data every assignment is identical. Also pins semantic_dedup_pairs'
    bulk_assign routing: same pair set either way."""
    from seoul_big_data_spark.operators.ivf import assign_cells_bulk

    emb = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    cents = kmeans_fit(emb, k=K, iters=1)
    expr = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(emb, cents).select("vec_id", "cell").collect()
    }
    bulk = {
        r["vec_id"]: r["cell"]
        for r in assign_cells_bulk(emb, cents).select("vec_id", "cell").collect()
    }
    assert bulk == expr and len(bulk) > 0

    via_expr = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(emb, cents, threshold=0.4).collect()
    }
    via_bulk = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(
            emb, cents, threshold=0.4, bulk_assign=True
        ).collect()
    }
    assert via_bulk == via_expr and len(via_bulk) > 0


def test_assign_cells_hier_full_probe_matches_bulk(spark, sf_dir):
    """Coarse-then-fine assignment (VERDICT r5 #7) with coarse_w ==
    n_coarse probes every group — the candidate set is all k centroids, the
    tie semantics are the bulk path's (-inf-filled row x k argmax), so the
    assignment must equal assign_cells_bulk cell-for-cell on overlapping
    k."""
    from seoul_big_data_spark.operators.ivf import (
        assign_cells_bulk,
        assign_cells_hier,
    )

    emb = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    cents = kmeans_fit(emb, k=16, iters=1)
    bulk = {
        r["vec_id"]: r["cell"]
        for r in assign_cells_bulk(emb, cents).select("vec_id", "cell").collect()
    }
    hier = {
        r["vec_id"]: r["cell"]
        for r in assign_cells_hier(emb, cents, coarse_w=4, n_coarse=4)
        .select("vec_id", "cell")
        .collect()
    }
    assert hier == bulk and len(hier) > 0


def test_assign_cells_hier_small_w_high_agreement(spark, sf_dir):
    """At coarse_w < n_coarse the operator is the standard multi-probe
    approximation: agreement with the exact argmax is measured, and every
    assigned cell must at least be a member of a probed group (structural
    sanity: no cell outside the candidate set can win against -inf)."""
    from seoul_big_data_spark.operators.ivf import (
        assign_cells_bulk,
        assign_cells_hier,
    )

    emb = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    cents = kmeans_fit(emb, k=16, iters=1)
    bulk = {
        r["vec_id"]: r["cell"]
        for r in assign_cells_bulk(emb, cents).select("vec_id", "cell").collect()
    }
    hier = {
        r["vec_id"]: r["cell"]
        for r in assign_cells_hier(emb, cents, coarse_w=2, n_coarse=4)
        .select("vec_id", "cell")
        .collect()
    }
    agree = sum(1 for k_ in bulk if hier[k_] == bulk[k_]) / len(bulk)
    # ~0.90 measured on the synthetic (near-isotropic) embeddings — a
    # worst case for coarse routing; clustered real corpora route better.
    assert agree >= 0.85, f"multi-probe agreement too low: {agree:.3f}"


def test_kmeans_iteration_paths_agree(spark, sf_dir):
    """kmeans_fit's per-iteration assignment routes through the literal
    dot-fold expression below `bulk_assign_from` and the numpy-matmul path
    above it (59 s -> 5 s normalization + ~8x faster iterations at x128,
    SCALE.md round-6). Both argmax identical dots with the lowest-cell tie
    rule, so the resulting CENTROIDS must be identical on tie-free data."""
    emb = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    expr_c = kmeans_fit(emb, k=K, iters=2, bulk_assign_from=10**9)
    bulk_c = kmeans_fit(emb, k=K, iters=2, bulk_assign_from=1)
    assert len(expr_c) == len(bulk_c) == K
    for a, b in zip(expr_c, bulk_c):
        np.testing.assert_allclose(a, b, rtol=0, atol=0)


def test_kmeans_null_vector_contract(spark):
    """Null embeddings are dropped once, before assignment routing, so
    both the expression path and the bulk numpy path fit on the same rows
    and produce identical centroids — previously the bulk path raised
    ValueError on a null vector while the expression path silently routed
    it to a null cell (ADVICE r6: failure mode depended on a tuning
    parameter)."""
    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(4)]) for i in range(20)]
    rows += [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    expr_c = kmeans_fit(df, k=3, iters=2, bulk_assign_from=10**9)
    bulk_c = kmeans_fit(df, k=3, iters=2, bulk_assign_from=1)
    clean = spark.createDataFrame(
        [r for r in rows if r[1] is not None],
        "vec_id long, embedding array<double>",
    )
    clean_c = kmeans_fit(clean, k=3, iters=2, bulk_assign_from=10**9)
    assert expr_c == bulk_c == clean_c


def test_windowed_pairs_subset_and_cluster_recall_on_collapse(spark, sf_dir):
    """semantic_dedup_pairs_windowed: (a) every emitted pair is a true
    within-cell near-dup pair of the quadratic form (precision exact,
    subset property); (b) on a mode-collapsed clique — the shape the
    operator exists for — the windowed pairs CHAIN the whole clique into
    one connected component, so survivor selection collapses it exactly
    like the quadratic form (cluster recall complete at linear cost)."""
    from seoul_big_data_spark.operators.ivf import (
        semantic_dedup_pairs,
        semantic_dedup_pairs_windowed,
    )

    emb = load(spark, "embeddings", sf_dir)
    # plant a 30-member near-identical clique: one direction + tiny jitter
    base = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    rows = []
    for j in range(30):
        v = [float(x) + (((j * 31 + i) % 7) - 3) * 1e-4 for i, x in enumerate(base)]
        rows.append((2_000_000 + j, v))
    clique = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    data = emb.select("vec_id", "embedding").unionByName(clique)
    cents = kmeans_fit(data.withColumn("label", F.lit("x")), k=K, iters=ITERS)
    win = semantic_dedup_pairs_windowed(data, cents, threshold=0.5, window=4)
    got = {(r["id_a"], r["id_b"]) for r in win.collect()}
    full = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(data, cents, threshold=0.5).collect()
    }
    assert got <= full  # precision: windowed ⊆ quadratic
    # cluster recall: union-find over windowed pairs joins all 30 clique ids
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a_, b_ in got:
        parent[find(a_)] = find(b_)
    clique_ids = [2_000_000 + j for j in range(30)]
    roots = {find(i) for i in clique_ids}
    assert len(roots) == 1, f"clique split into {len(roots)} components"


def test_windowed_pairs_work_is_linear_in_window(spark, sf_dir):
    """The candidate count (pre-threshold) is ≤ N·window by construction —
    the property that makes the operator collapse-safe. Checked by
    counting candidates at two window sizes on the gate data."""
    from seoul_big_data_spark.operators.ivf import semantic_dedup_pairs_windowed

    emb = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    n = emb.count()
    cents = kmeans_fit(emb.withColumn("label", F.lit("x")), k=K, iters=ITERS)
    for w in (2, 6):
        cand = semantic_dedup_pairs_windowed(emb, cents, threshold=-1.0, window=w)
        assert cand.count() <= n * w


def test_windowed_bulk_assign_matches_expression_path(spark, sf_dir):
    """semantic_dedup_pairs_windowed(bulk_assign=True) must emit the same
    pairs as the expression path on tie-free data (same argmax/max from
    the BLAS matmul vs the literal dot-folds — the assign_cells_bulk
    agreement contract, extended to the sort key)."""
    from seoul_big_data_spark.operators.ivf import semantic_dedup_pairs_windowed

    emb = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    cents = kmeans_fit(emb.withColumn("label", F.lit("x")), k=K, iters=ITERS)
    expr = semantic_dedup_pairs_windowed(emb, cents, threshold=0.3, window=5)
    bulk = semantic_dedup_pairs_windowed(
        emb, cents, threshold=0.3, window=5, bulk_assign=True
    )
    a = sorted(map(tuple, expr.collect()))
    b = sorted(map(tuple, bulk.collect()))
    assert a == b and len(a) > 0


def test_windowed_hier_assign_matches_expression_path(spark, sf_dir):
    """hier_assign=True with full probe (coarse_w == n_coarse via small k
    here: exactness by the parity contract) must emit the same windowed
    pairs — and its emitted sort key is the assigned cell's true dot, so
    within-cell rank order is exact even under multi-probe."""
    from seoul_big_data_spark.operators.ivf import semantic_dedup_pairs_windowed

    emb = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    cents = kmeans_fit(emb.withColumn("label", F.lit("x")), k=K, iters=ITERS)
    expr = semantic_dedup_pairs_windowed(emb, cents, threshold=0.3, window=5)
    hier = semantic_dedup_pairs_windowed(
        emb, cents, threshold=0.3, window=5, hier_assign=True
    )
    a = sorted(map(tuple, expr.collect()))
    b = sorted(map(tuple, hier.collect()))
    assert a == b and len(a) > 0
