"""IVF (inverted-file) ANN: k-means coarse quantizer + cell-probed search
(north-star N3's second scale path, SURVEY.md §2.10).

Complements the LSH path in ``operators/similarity.py``: where LSH buckets by
random hyperplane signs, IVF *learns* the partitioning from the data — cells
follow the embedding distribution, so probe counts stay low even when the
corpus is clustered (exactly where random hyperplanes waste probes on empty
half-spaces).

Scale shape (100 TB): centroids are tiny (k × dim doubles) and live on the
driver / in broadcast — the classic MLlib layout. Each Lloyd iteration is one
corpus scan with a map-side-combinable (cell, dim_pos) partial-sum shuffle of
at most ``partitions × k × dim`` rows. Search assigns the corpus once (write
it partitioned by ``cell`` and a probe touches one partition) and probes the
``nprobe`` nearest cells per query — read amplification is nprobe/k of a full
scan, independent of corpus size.

Everything is deterministic: md5-ordered seeding, fixed iteration count,
exact-tie cell assignment to the lowest cell id — re-runs and backfills
produce byte-identical indexes (same convention as q_dq.py sampling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine, dot, lit_double_array, norm


def _lit_vec(vals: list[float]) -> F.Column:
    # one parsed expression, not len(vals) py4j round trips (r10) —
    # functions/vector.py::lit_double_array has the measurement
    return lit_double_array(vals)


def _nearest_cell_struct(
    vec: F.Column | str, centroids: list[list[float]]
) -> F.Column:
    """Max-dot centroid as a ``{s: dot, ni: -cell}`` struct (ties → lowest
    cell id, because struct comparison falls through to the larger ``ni``).
    One array_max over (dot, -cell) structs — k dot products, whole-stage
    codegen, no UDF. The argmax TIE RULE here is a cross-engine oracle
    contract (the DuckDB Lloyd-replay oracles re-derive it); every engine
    path that scores against centroids must consume THIS helper so the rule
    cannot silently fork (ADVICE r9 #2).

    The input vector is used RAW: centroids are unit-norm, so
    argmax_c dot(v, c) = argmax_c cos(v, c) — dividing every dot by the same
    |v| never changes the argmax. Skipping normalization here keeps the
    per-row cost at k array traversals instead of k+1 (and dodges Catalyst's
    lack of CSE for repeated higher-order subexpressions)."""
    return F.array_max(
        F.array(
            *[
                F.named_struct(
                    F.lit("s"), dot(vec, _lit_vec(c)), F.lit("ni"), F.lit(-i)
                )
                for i, c in enumerate(centroids)
            ]
        )
    )


def _nearest_cell(vec: F.Column | str, centroids: list[list[float]]) -> F.Column:
    """Index of the max-dot centroid (ties → lowest cell id) — see
    :func:`_nearest_cell_struct` for the scoring/tie contract."""
    return (-_nearest_cell_struct(vec, centroids)["ni"]).cast("int")


def kmeans_fit(
    df: DataFrame,
    k: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bulk_assign_from: int = 64,
) -> list[list[float]]:
    """Spherical k-means (Lloyd) over an embedding column; returns k
    unit-normalized centroids as plain Python lists.

    Seeding: the k vectors with the smallest ``md5(id)`` — a deterministic
    pseudo-random draw that is stable across partitionings and backfills
    (orderBy+limit compiles to a distributed top-k, never a global sort).
    Each iteration is ONE hash aggregate: assign (argmax dot against the
    broadcast-literal centroids, computed once per row in the project below
    the aggregate) → per-cell element means as ``dim`` ``avg(element_at)``
    columns — map-side partial sums make the shuffle O(partitions × k × dim)
    regardless of row count, and there is no explode anywhere (Catalyst does
    not CSE through Generate, so an explode-based update re-evaluates the
    assignment per element — measured 60× slower). Empty cells keep their
    previous centroid (no respawn, keeps runs comparable). The normalized
    input is cached for the duration of the fit; at 100 TB, fit on an
    md5-deterministic sample (q_dq.py convention) and assign the full corpus
    once afterwards.
    """
    # Norm materialized in a LOWER projection: inlining the O(dim) norm
    # fold into the per-element transform lambda would re-evaluate it per
    # element, since Catalyst cannot CSE through a higher-order function —
    # O(dim^2) per row, measured 59 s just to normalize 256k dim-64
    # vectors at x128. With the fold evaluated once into a scalar column
    # the same fill is ~2 s; CollapseProject keeps the split (the alias is
    # non-cheap and referenced twice).
    # Null-vector contract is k-INDEPENDENT (ADVICE r6): drop null
    # embeddings once, before routing — previously the bulk path
    # (k >= bulk_assign_from) raised ValueError on a null vector while the
    # expression path silently assigned a null cell that dropped out of
    # the means, i.e. the same function had two failure modes depending on
    # a tuning parameter. A null row contributes to no cell either way;
    # excluding it uniformly keeps both routings bit-identical
    # (tests/test_ivf.py::test_kmeans_null_vector_contract).
    _vc = F.col(vec_col)
    normed = (
        df.filter(_vc.isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            _vc.alias("_raw"),
            norm(_vc).alias("_n"),
        )
        .select(
            "_id",
            F.when(
                F.col("_n") > 0,
                F.transform("_raw", lambda x: x.cast("double") / F.col("_n")),
            )
            .otherwise(F.transform("_raw", lambda x: x.cast("double")))
            .alias("_v"),
        )
        .cache()
    )
    try:
        seeds = (
            normed.withColumn("_h", F.md5(F.col("_id").cast("string")))
            .orderBy("_h", "_id")
            .limit(k)
            .collect()
        )
        centroids = [list(r["_v"]) for r in seeds]
        dim = len(centroids[0])
        for _ in range(iters):
            # Assignment routing: the literal dot-fold expression is the
            # zero-dependency form for small k; past k ~ tens the
            # numpy-matmul path (identical argmax + tie rule, parity
            # pinned in tests/test_ivf.py) is an order of magnitude
            # faster per iteration — same routing the semantic-dedup
            # deployment shape uses for its one-shot assignment.
            if k >= bulk_assign_from:
                assigned = assign_cells_bulk(
                    normed.select("_v"), centroids, vec_col="_v"
                )
            else:
                assigned = normed.select(
                    _nearest_cell("_v", centroids).alias("cell"), "_v"
                )
            # Per-cell means ROUNDED to 6 decimals (r8): the one
            # sum-order-dependent stage of the fit. Rounding pins each
            # iteration's centroids to values any engine reproduces exactly
            # (sub-ulp accumulation noise never crosses a 1e-6 boundary off
            # midpoints — the repo's cell-assignment convention), which is
            # what lets similarity_ivf_ann's oracle re-run the same Lloyd
            # trajectory in DuckDB SQL. Normalization is math.sqrt of a
            # sequential sum — IEEE-exact on both engines.
            means = (
                assigned.groupBy("cell")
                .agg(
                    *[
                        F.round(F.avg(F.element_at("_v", i + 1)), 6).alias(f"c{i}")
                        for i in range(dim)
                    ]
                )
                .collect()
            )
            import math

            nxt = list(centroids)  # empty cells keep the previous centroid
            for r in means:
                v = [r[f"c{i}"] for i in range(dim)]
                n = math.sqrt(sum(x * x for x in v))
                nxt[r["cell"]] = [x / n for x in v] if n > 0 else v
            centroids = nxt
        return centroids
    finally:
        normed.unpersist()


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Add the IVF ``cell`` column (nearest-centroid id). At scale, write the
    result partitioned/bucketed by ``cell`` so one probe reads one partition."""
    return df.withColumn("cell", _nearest_cell(F.col(vec_col), centroids))


def assign_cells_bulk(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    with_key: bool = False,
) -> DataFrame:
    """``assign_cells`` for LARGE k: argmax over a broadcast numpy centroid
    matrix inside mapInPandas (one BLAS matmul per Arrow batch).

    The expression form enumerates k literal dot-folds per row — perfect
    whole-stage-codegen up to k ~ tens, but the plan itself grows O(k·dim)
    nodes and the per-row cost is k interpreted-codegen'd array traversals.
    SemDeDup-style dedup at 100 TB holds CELL SIZE constant, i.e. k grows
    with the corpus (k = N/target_cell); past k ~ a few hundred the
    vectorized path wins by orders of magnitude and keeps the driver-side
    plan tiny. Ties break to the lowest cell id (np.argmax first-hit), the
    same convention as ``_nearest_cell``'s (dot, -cell) max; both paths
    score float64 dots, but the BLAS matmul's blocked/pairwise accumulation
    can differ from the expression path's sequential left-fold by ulps, so
    the argmax is guaranteed to agree only on tie-free data (what
    tests/test_ivf.py pins). Requires non-null vectors — nulls have no
    nearest cell; callers filter them (raised here with a clear message,
    where the expression path would silently yield a null cell). Zero
    shuffles — the matmul rides the scan exactly like the expression form.
    """
    # with_key=True additionally emits `_key` = the max dot itself (the
    # dot with the OWN centroid) — the within-cell sort key
    # semantic_dedup_pairs_windowed ranks by; computed from the same
    # matmul the argmax reads, so the pair costs nothing extra.
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    cmat = np.asarray(centroids, dtype=np.float64)  # k × dim
    extra = [StructField("cell", IntegerType())]
    if with_key:
        extra.append(StructField("_key", DoubleType()))
    out_schema = StructType(df.schema.fields + extra)

    def _assign(batches):
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf):
                if pdf[vec_col].isna().any():
                    raise ValueError(
                        f"assign_cells_bulk: null {vec_col!r} vector in batch"
                        " — filter nulls before assignment"
                    )
                v = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
                scores = v @ cmat.T
                pdf["cell"] = scores.argmax(axis=1).astype("int32")
                if with_key:
                    pdf["_key"] = scores.max(axis=1)
            else:
                pdf["cell"] = np.array([], dtype="int32")
                if with_key:
                    pdf["_key"] = np.array([], dtype="float64")
            yield pdf

    return df.mapInPandas(_assign, out_schema)


def _coarse_groups(cmat, n_coarse: int, iters: int = 5):
    """Deterministic driver-side k-means over the CENTROIDS themselves:
    maxmin greedy seeding from centroid 0, fixed Lloyd iterations, ties to
    the lowest index. Input is k x dim — driver state by the same argument
    as the centroids. Returns (coarse_matrix G x dim, members: list of
    np.ndarray fine-centroid ids per group)."""
    import numpy as np

    k = cmat.shape[0]
    n_coarse = min(n_coarse, k)
    # maxmin seeding: start at centroid 0, repeatedly take the centroid
    # farthest (min-dot) from the chosen set — deterministic, spread-out.
    seeds = [0]
    sims = cmat @ cmat[0]
    for _ in range(n_coarse - 1):
        nxt = int(np.argmin(sims))
        seeds.append(nxt)
        sims = np.maximum(sims, cmat @ cmat[nxt])
    coarse = cmat[seeds].copy()
    for _ in range(iters):
        owner = (cmat @ coarse.T).argmax(axis=1)  # ties -> lowest group
        for g in range(n_coarse):
            mask = owner == g
            if mask.any():
                m = cmat[mask].mean(axis=0)
                nrm = np.linalg.norm(m)
                coarse[g] = m / nrm if nrm > 0 else m
    owner = (cmat @ coarse.T).argmax(axis=1)
    members = [np.nonzero(owner == g)[0] for g in range(n_coarse)]
    # Drop EMPTY groups entirely: an empty group's coarse centroid can
    # still score nearest, and a row whose every probed group is empty
    # would end with no candidate at all (out-of-range sentinel cell).
    keep = [g for g in range(n_coarse) if members[g].size]
    return coarse[keep], [members[g] for g in keep]


def assign_cells_hier(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    coarse_w: int = 2,
    n_coarse: int | None = None,
    with_key: bool = False,
) -> DataFrame:
    """Coarse-then-fine assignment — bounds per-row work at O(√k) MACs
    (SCALE.md's documented next step once k passes ~10^4, where even the
    bulk matmul's N·k·dim cost dominates a SemDeDup-style k ∝ N run).

    The k fine centroids are clustered into n_coarse ≈ √k groups by a
    deterministic driver-side numpy k-means (``_coarse_groups``); each row
    scores the n_coarse coarse centroids, probes its ``coarse_w`` best
    groups, and takes the exact argmax over only their fine members:
    n_coarse + coarse_w·(k/n_coarse) ≈ (1 + w)·√k MACs/row vs k for
    ``assign_cells_bulk``.

    Exact ⇔ the true nearest fine centroid's group is probed — guaranteed
    when coarse_w == n_coarse (degrades to the flat form; the parity test
    pins cell-for-cell equality with assign_cells_bulk there); at small w
    it is the standard multi-probe approximation whose agreement is
    measured in tests, not assumed. Tie semantics match the flat paths
    (lowest cell id wins an exact score tie): within a group the local
    argmax is first-hit over ascending member ids, and the cross-group
    running max prefers the lower global id on equal scores — identical to
    argmax over a dense row x k score matrix, without materializing one
    (an N x k buffer costs the same O(N*k) memory traffic the coarse
    routing exists to avoid)."""
    # with_key=True additionally emits `_key` = the winning dot (the dot
    # with the assigned centroid — the running max the probe loop keeps
    # anyway), the within-cell sort key semantic_dedup_pairs_windowed
    # ranks by. NOTE: under multi-probe approximation the key is exact
    # FOR THE ASSIGNED cell (it is that cell's true dot), so the rank
    # order within a cell is exact regardless of probe recall.
    import math

    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    cmat = np.asarray(centroids, dtype=np.float64)  # k × dim
    k = cmat.shape[0]
    g_n = n_coarse or max(1, int(math.isqrt(k)))
    coarse, members = _coarse_groups(cmat, g_n)
    g_n = coarse.shape[0]
    w = min(coarse_w, g_n)
    fine = [cmat[m] for m in members]
    extra = [StructField("cell", IntegerType())]
    if with_key:
        extra.append(StructField("_key", DoubleType()))
    out_schema = StructType(df.schema.fields + extra)

    def _assign(batches):
        for pdf in batches:
            pdf = pdf.copy()
            if not len(pdf):
                pdf["cell"] = np.array([], dtype="int32")
                if with_key:
                    pdf["_key"] = np.array([], dtype="float64")
                yield pdf
                continue
            if pdf[vec_col].isna().any():
                raise ValueError(
                    f"assign_cells_hier: null {vec_col!r} vector in batch"
                    " — filter nulls before assignment"
                )
            v = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = v.shape[0]
            cs = v @ coarse.T  # n × G
            probe = (
                np.argpartition(-cs, w - 1, axis=1)[:, :w]
                if w < g_n
                else np.tile(np.arange(g_n), (n, 1))
            )
            best = np.full(n, -np.inf)
            best_cell = np.full(n, k, dtype=np.int64)
            for g in range(g_n):
                if members[g].size == 0:
                    continue
                rows = np.nonzero((probe == g).any(axis=1))[0]
                if not rows.size:
                    continue
                sg = v[rows] @ fine[g].T
                loc = sg.argmax(axis=1)  # first-hit = lowest member id
                sc = sg[np.arange(rows.size), loc]
                cells = members[g][loc]
                cur_s, cur_c = best[rows], best_cell[rows]
                upd = (sc > cur_s) | ((sc == cur_s) & (cells < cur_c))
                r_upd = rows[upd]
                best[r_upd] = sc[upd]
                best_cell[r_upd] = cells[upd]
            pdf["cell"] = best_cell.astype("int32")
            if with_key:
                pdf["_key"] = best
            yield pdf

    return df.mapInPandas(_assign, out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: each query probes its ``nprobe`` nearest cells and
    ranks candidates by exact cosine. ``nprobe == len(centroids)`` degrades
    gracefully to the exact brute-force result (every cell probed).

    The probe list is exploded on the (small, broadcast) query side only; the
    corpus is assigned once and joined on ``cell`` — a co-partitioned lookup,
    never a cross product. Columns: query_id, neighbor_id, score, rk.
    """
    c = assign_cells(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        centroids,
        vec_col="c_vec",
    )
    # cell ranking uses raw query vectors: sorting by -dot is order-identical
    # to sorting by -cos against unit-norm centroids (same 1/|q| factor)
    ranked_cells = F.transform(
        F.array_sort(
            F.array(
                *[
                    F.named_struct(
                        F.lit("nd"),
                        -dot(F.col(vec_col), _lit_vec(cen)),
                        F.lit("i"),
                        F.lit(i),
                    )
                    for i, cen in enumerate(centroids)
                ]
            )
        ),
        lambda s: s["i"],
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(F.slice(ranked_cells, 1, nprobe)).alias("cell"),
    )
    scored = c.join(
        F.broadcast(q),
        (c.cell == q.cell) & (F.col("query_id") != F.col("neighbor_id")),
    ).select("query_id", "neighbor_id", cosine("q_vec", "c_vec").alias("score"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bulk_assign: bool = False,
    hier_assign: bool = False,
) -> DataFrame:
    """SemDeDup-style near-duplicate pairs: candidate pairs are generated
    ONLY within a k-means cell, then filtered by exact cosine ≥ threshold.

    This is the embedding twin of MinHash-LSH banding: the all-pairs
    O(N²) comparison becomes Σ|cell|², and because identical / near-identical
    vectors share a nearest centroid by construction, exact duplicates are
    never missed — only genuinely borderline cross-cell pairs are (recall
    measured in tests/test_ivf.py). Keep-lowest-id convention matches
    dedup_exact. Columns: cell, id_a (keep), id_b (drop), cos.
    """
    from ..functions.vector import dot_precast, norm, to_double_array

    # Per-ROW hoists (N evaluations, before the Σ|cell|² pair join): the
    # norm AND the float→double element casts. Inside the pair space only
    # the single cast-free dot fold runs — a naive pair-cosine would
    # evaluate three interpreted aggregates plus 2·dim casts per pair,
    # several× the dominant cost. Bit-identical scores either way
    # (widening is exact, accumulation order unchanged).
    # bulk_assign routes the cell computation through the numpy matmul path
    # (large-k / scaled-cell-count deployments: k literal dot-expressions per
    # row stops being a plan Catalyst should carry past k ~ hundreds);
    # hier_assign routes through the O(√k)-MACs coarse-then-fine path —
    # the k ~ 10^4+ regime, where assignment is approximate (multi-probe
    # agreement measured in tests) and dedup recall, already approximate by
    # the cell bound, degrades marginally. The registered correctness twins
    # keep the default expression path.
    if hier_assign:
        assigner = assign_cells_hier
    elif bulk_assign:
        assigner = assign_cells_bulk
    else:
        assigner = assign_cells
    cells = assigner(df, centroids, vec_col=vec_col).select(
        "cell",
        F.col(id_col).alias("_id"),
        to_double_array(vec_col).alias("_v"),
        norm(vec_col).alias("_n"),
    )
    a = cells.select(
        "cell",
        F.col("_id").alias("id_a"),
        F.col("_v").alias("va"),
        F.col("_n").alias("na"),
    )
    b = cells.select(
        F.col("cell").alias("cell_b"),
        F.col("_id").alias("id_b"),
        F.col("_v").alias("vb"),
        F.col("_n").alias("nb"),
    )
    # The join AMPLIFIES work N → Σ|cell|²: byte-based scan partitioning
    # under-parallelizes it (a corpus that fits one input split would run
    # every pair fold in ONE task). Spread the streamed side to at least
    # the cluster's parallelism — the shuffle moves only N rows, amortized
    # trivially by the quadratic pair work it parallelizes; inputs already
    # wider than the target keep their partitioning (max, never reduce).
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if a.rdd.getNumPartitions() < target:
        a = a.repartition(target, "id_a")
    nn = F.col("na") * F.col("nb")
    cos_raw = F.when(nn > 0, dot_precast("va", "vb") / nn).otherwise(F.lit(0.0))
    return (
        a.join(b, (a.cell == b.cell_b) & (F.col("id_a") < F.col("id_b")))
        .withColumn("cos_raw", cos_raw)
        .filter(F.col("cos_raw") >= threshold)
        .select("cell", "id_a", "id_b", F.round("cos_raw", 4).alias("cos"))
    )


def semantic_dedup_pairs_windowed(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    window: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bulk_assign: bool = False,
    hier_assign: bool = False,
) -> DataFrame:
    """Sorted-neighborhood SemDeDup — the MODE-COLLAPSE-safe scale path.

    :func:`semantic_dedup_pairs` does Σ|cell|² work, and the whole of a
    cell's share runs in ONE cell-keyed join task: under a mode-collapsed
    corpus (25% of vectors near-identical — templated/spam content; the
    duplicate-FLOOD shape measured flat 0.91–0.98 because copies stay
    spread, but collapse concentrates mass in one cell regardless of k)
    the hot cell's (0.25·N)² pairs are a measured quadratic straggler:
    SCALE_RUN.json `collapse` — kscaled 1.54×, hier 1.76× at x32, ANN
    control 1.09×. Here each vector is compared only to its ``window``
    rank-neighbors within the cell, ordered by (dot-to-own-centroid, id):
    work is N·window by construction, independent of how mass distributes
    over cells.

    Recall contract (the :func:`~..operators.dedup` sorted-neighborhood
    guarantee, embedding edition): PAIR enumeration is partial — two
    near-dups more than ``window`` ranks apart are not emitted — but a
    RUN of near-identical vectors is contiguous in the sort order (they
    share the dot-to-centroid key up to jitter), so consecutive windowed
    pairs CHAIN it into one connected component and survivor selection
    (components → keep lowest id) still collapses the whole clique:
    cluster recall on collapse shapes is complete while pair work stays
    linear. Asserted in tests/test_ivf.py. The within-cell rank is one
    row_number window per cell — a sort, not pair work; a hot cell sorts
    in a single task, which is the bounded O(|cell| log |cell|) cost the
    quadratic join is traded for (ntile_scalable-style bucketed ranking
    is the further step if a single sort task ever measures as the
    bottleneck; at the tiers measured it does not).

    Returns ``cell, id_a (lower id), id_b, cos`` — same convention as
    :func:`semantic_dedup_pairs`, so consumers (clusters, survivors) are
    drop-in."""
    from ..functions.vector import dot_precast, to_double_array

    if bulk_assign or hier_assign:
        # large-k deployment paths (k ∝ N): bulk = one BLAS matmul per
        # Arrow batch (N·k MACs — measured 17.96/step at k=4096, the
        # quadratic wall); hier = coarse-then-fine O(√k) MACs/row, the
        # k ≳ 10³ form. Both yield cell AND key together; same ulp caveat
        # as assign_cells_bulk (agreement with the expression path on
        # tie-free data).
        assigner = assign_cells_hier if hier_assign else assign_cells_bulk
        cells = assigner(
            df, centroids, vec_col=vec_col, with_key=True
        ).select(
            "cell",
            "_key",
            F.col(id_col).alias("_id"),
            to_double_array(vec_col).alias("_v"),
            norm(vec_col).alias("_n"),
        )
    else:
        best = _nearest_cell_struct(F.col(vec_col), centroids)
        cells = df.select(
            (-best["ni"]).cast("int").alias("cell"),
            best["s"].alias("_key"),
            F.col(id_col).alias("_id"),
            to_double_array(vec_col).alias("_v"),
            norm(vec_col).alias("_n"),
        )
    w = Window.partitionBy("cell").orderBy("_key", "_id")
    r = cells.withColumn("_rk", F.row_number().over(w))
    # Persisted: the skinny exploded side, the vector-carrying side, and
    # the va re-attach all read r (persist-and-let-LRU-evict lifecycle).
    from pyspark import StorageLevel

    r = r.persist(StorageLevel.MEMORY_AND_DISK)
    # Amplify SKINNY (no vectors): window copies of (cell, id, rank) only;
    # vectors re-attach via N-row equi-joins, so shuffle volume is
    # N·window·O(16 bytes) + 2·N·O(dim), not N·window·O(dim).
    a = r.select(
        "cell",
        F.col("_id").alias("id_a"),
        F.explode(
            F.sequence(F.col("_rk") + 1, F.col("_rk") + window)
        ).alias("_rkb"),
    )
    b = r.select(
        F.col("cell").alias("cell_b"),
        F.col("_rk").alias("_rkb"),
        F.col("_id").alias("id_b"),
        F.col("_v").alias("vb"),
        F.col("_n").alias("nb"),
    )
    va = r.select(
        F.col("_id").alias("id_a"),
        F.col("_v").alias("va"),
        F.col("_n").alias("na"),
    )
    pairs = a.join(
        b, (a.cell == b.cell_b) & (a._rkb == b._rkb)
    ).join(va, "id_a")
    nn = F.col("na") * F.col("nb")
    cos_raw = F.when(nn > 0, dot_precast("va", "vb") / nn).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("cos_raw", cos_raw)
        .filter(F.col("cos_raw") >= threshold)
        .select(
            "cell",
            F.least("id_a", "id_b").alias("ida"),
            F.greatest("id_a", "id_b").alias("idb"),
            F.round("cos_raw", 4).alias("cos"),
        )
        .withColumnRenamed("ida", "id_a")
        .withColumnRenamed("idb", "id_b")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The composed production ANN index — IVF coarse partitioning + PQ
    compression, entirely as DataFrame ops (the Faiss IVF-PQ layout,
    engine-side):

    - corpus pass 1 (build): assign each vector its IVF cell AND its m-byte
      PQ code; at scale this is written once, partitioned by cell — the
      original float vectors never need to be read again.
    - query (search): probe ``nprobe`` nearest cells (broadcast, exploded on
      the query side), score candidates ASYMMETRICALLY — full-precision
      query against the PQ reconstruction — per-query top-k window.

    A probe therefore reads nprobe/k of the corpus at m bytes per vector
    instead of 4·dim: with 8 cells, 3 probes and 32x PQ compression the
    scan is ~85x smaller than brute force. Recall bounds vs exact are
    pinned in tests/test_ivf_pq.py; nprobe=len(centroids) with identity
    codebooks degrades to exact brute force.
    """
    from .pq import pq_decode, pq_encode

    from ..functions.vector import cosine

    c = assign_cells(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        centroids,
        vec_col="c_vec",
    )
    c = pq_decode(
        pq_encode(c, codebooks, vec_col="c_vec", out_col="pq_codes"),
        codebooks,
        codes_col="pq_codes",
        out_col="pq_vec",
    ).select("neighbor_id", "cell", "pq_vec")
    ranked_cells = F.transform(
        F.array_sort(
            F.array(
                *[
                    F.named_struct(
                        F.lit("nd"),
                        -dot(F.col(vec_col), _lit_vec(cen)),
                        F.lit("i"),
                        F.lit(i),
                    )
                    for i, cen in enumerate(centroids)
                ]
            )
        ),
        lambda s: s["i"],
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(F.slice(ranked_cells, 1, nprobe)).alias("cell"),
    )
    scored = c.join(
        F.broadcast(q),
        (c.cell == q.cell) & (F.col("query_id") != F.col("neighbor_id")),
    ).select("query_id", "neighbor_id", cosine("q_vec", "pq_vec").alias("score"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
