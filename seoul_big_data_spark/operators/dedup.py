"""Deduplication operator family (north-star N1/N2, SURVEY.md §2.10).

Four tiers, all pure DataFrame compositions (no Python in the hot path):

- exact        : hash-groupBy on normalized text — one shuffle.
- minhash_lsh  : shingle → per-hash-seed min → band → bucket join. Candidate
                 pairs only ever meet inside a band bucket, so the shuffle is
                 on (band, signature) keys, never an O(n^2) cross join.
- simhash      : 64-bit weighted-bit fingerprint; near-dups = small Hamming
                 distance within bucket prefixes.
- ngram_jaccard: exact Jaccard over word shingles via explode + self-join on
                 shingle — the verification step after LSH candidate
                 generation (and the DuckDB-checkable ground truth).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles, tokens


def exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """N1 — exact dedup keeping the lowest id per text (deterministic survivor,
    unlike bare ``dropDuplicates`` whose survivor is partition-order dependent).

    The window is keyed on ``xxhash64(text)`` FIRST, full text second: the
    sort comparator then decides almost every row pair on the 8-byte hash and
    touches the full (possibly 100 KB) document string only when hashes tie —
    i.e. for true duplicates and the ~2^-64 collision case, where the text
    column in the partition key keeps correctness exact (colliding distinct
    texts still land in distinct groups)."""
    w = Window.partitionBy(F.xxhash64(F.col(text_col)), F.col(text_col)).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def _portable_hash(col, seed: int):
    """First 8 md5 hex chars of '<seed>:<value>' as a bigint — the
    engine-independent hash family (same convention as q_sketches), so a
    signature built with it is reproducible by any SQL engine."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 8), 16, 10
    ).cast("long")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    n_hashes: int = 16,
    max_shingle_df: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """MinHash signatures as explode → groupBy-min: one hash evaluation per
    (shingle, seed), partial mins map-side, one shuffle on doc id.

    This shape matters twice: (a) at 100 TB the shingle explode parallelizes
    with the scan and the combine happens before the shuffle; (b) it
    materializes the signature behind the aggregation boundary, so downstream
    band/bucket projections are cheap attribute refs — the naive nested
    ``array_min(transform(...))`` form gets re-evaluated per band through the
    explode (no CSE across Generate) and measured ~13x slower at sf0.1.
    """
    from .skew import spread_scan

    sh = spread_scan(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(text_col, k_shingle))).alias("s"),
    )
    if max_shingle_df is not None:
        # Stop-shingle filter (the boilerplate guard at scale): shingles
        # appearing in more than max_shingle_df documents carry no identity
        # signal and concentrate skew; drop them before hashing.
        common = (
            sh.groupBy("s")
            .agg(F.count_distinct("id").alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("s")
        )
        sh = sh.join(common, "s", "left_anti")
    hashes = (
        [_portable_hash(F.col("s"), i) for i in range(n_hashes)]
        if portable
        else [F.xxhash64("s", F.lit(i)) for i in range(n_hashes)]
    )
    return sh.groupBy("id").agg(
        *[F.min(h).alias(f"mh_{i}") for i, h in enumerate(hashes)]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
    max_shingle_df: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """N2 — MinHash+LSH candidate pairs (id_a < id_b).

    Pipeline: k-shingles → n MinHash values → group into ``bands`` bands of
    n/bands rows each → hash each band to a bucket → self-join on
    (band, bucket). Two documents become a candidate iff they collide in at
    least one band — the classic S-curve. The only shuffles are the signature
    groupBy and the bucket join on (band, bucket); no cross product anywhere,
    so the shape holds at 100 TB with salting reserved for degenerate buckets.
    """
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(
        df, text_col, id_col, k_shingle, n_hashes, max_shingle_df, portable
    )
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        # portable bucket key: the band minima themselves, rendered as a
        # string (exact, engine-independent) instead of re-hashing
        bucket = (
            F.concat_ws(":", *[c.cast("string") for c in cols])
            if portable
            else F.xxhash64(*cols).cast("string")
        )
        band_cols.append(
            F.struct(F.lit(b).alias("band"), bucket.alias("bucket"))
        )
    buckets = sig.select("id", F.explode(F.array(*band_cols)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    # Pair generation per bucket via sorted id-list + expression-level i<j
    # combinations — one pass over the signatures (a self-join would
    # recompute the whole signature lineage for each side) and no join at
    # all. Near-dup buckets are small by construction; a bucket-size cap
    # (skip degenerate boilerplate buckets) is the 100 TB guard.
    grouped = buckets.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list("id")).alias("ids")
    )
    sized = grouped.filter(F.size("ids") > 1)
    if max_bucket_size is not None:
        # Degenerate-bucket cap: a bucket of boilerplate-identical documents
        # generates O(size^2) pairs — skip it (those documents are caught by
        # exact dedup on normalized text instead).
        sized = sized.filter(F.size("ids") <= max_bucket_size)
    pairs = sized.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size("ids")),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 64,
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """N2 — SimHash fingerprint column ``simhash`` (bigint).

    Per token: xxhash64 (or, with ``portable=True``, the first 15 hex chars
    of md5 as a 60-bit int — md5 is engine-independent, so the fingerprint
    survives an engine migration and is cross-checkable against any SQL
    engine; use ``bits<=60`` with it); per bit: +1 if set else -1, summed
    over tokens; the fingerprint sets bit i iff the sum is positive.

    Shape: explode tokens → one hash per token row → 64 conditional-sum
    aggregates (codegen'd hash agg with map-side partial sums, one shuffle on
    the doc id) → pack bits. The explode-free form — 64 ``aggregate()``
    higher-order expressions over the token array — re-evaluates the
    tokenize+hash array per bit (no CSE) and measured ~50x slower at sf0.1.
    """
    if portable and bits > 60:
        raise ValueError("portable (md5-derived) simhash supports at most 60 bits")
    from .skew import spread_scan

    h = (
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long")
        if portable
        else F.xxhash64("t")
    )
    tok_rows = (
        spread_scan(df)
        .select(
            F.col(id_col).alias("_id"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("t"),
        )
        .select("_id", h.alias("h"))
    )
    sums = tok_rows.groupBy("_id").agg(
        *[
            F.sum(
                F.when(
                    F.col("h").bitwiseAND(F.shiftleft(F.lit(1).cast("long"), i)) != 0,
                    1,
                ).otherwise(-1)
            ).alias(f"b_{i}")
            for i in range(bits)
        ]
    )
    fingerprint = None
    for i in range(bits):
        bit = F.when(
            F.col(f"b_{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = bit if fingerprint is None else fingerprint.bitwiseOR(bit)
    fp = sums.select(F.col("_id"), fingerprint.alias("simhash"))
    # empty-token documents produce no rows in the explode: all-zero fingerprint
    return df.join(fp, df[id_col] == fp["_id"], "left").drop("_id").withColumn(
        "simhash", F.coalesce("simhash", F.lit(0).cast("long"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """N2 ground truth — exact shingle-Jaccard similar pairs (id_a < id_b).

    explode(shingles) → |A∩B| per pair → Jaccard via inclusion-exclusion
    with per-doc distinct-shingle counts over the (optionally filtered)
    shingle universe. Skew on ultra-common shingles is the known hazard at
    scale — ``max_shingle_df`` drops shingles appearing in more than that
    many documents BEFORE pair generation (a shingle in d docs contributes
    O(d^2) pairs; boilerplate shingles dominate the shuffle and carry no
    identity signal). Per-doc sizes are recomputed over the filtered shingle
    universe, so the Jaccard stays a true set similarity on that universe
    (same convention as ``minhash_signatures``).

    Two physical shapes behind one semantics:

    - ``max_shingle_df`` set (the at-scale form): ONE groupBy(shingle)
      aggregation collects the sorted doc-id list and the document frequency
      together, the hot-shingle guard becomes a post-aggregation filter (no
      anti-join), and pairs come from expression-level i<j combinations per
      list — the single-pass shape ``minhash_lsh_candidates`` uses. The cap
      bounds every id-list to ``max_shingle_df``, so the combination array
      is at most O(cap^2) per shingle. Both downstream branches (sizes,
      pairs) hang off the same aggregation, so the expensive
      tokenize→shingle→explode subtree is planned once per branch instead of
      four times (measured ~4x at sf0.1 vs the anti-join + self-join form).
    - uncapped (the small-scale oracle form): classic self-join on shingle,
      which spreads the O(d^2) pair blow-up across the shuffle instead of
      materializing a per-shingle combination array of unbounded size.
      Correct at oracle scale; documented as LSH-candidate verification
      only at 100 TB.
    """
    inter, sizes = _shingle_pair_counts(
        df, text_col, id_col, k_shingle, max_shingle_df
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k_shingle: int,
    max_shingle_df: int | None,
):
    """Shared kernel for the set-similarity family: per-pair intersection
    counts (id_a < id_b) and per-doc distinct-shingle sizes over the
    (optionally df-capped) shingle universe. See ``ngram_jaccard_pairs``
    for the two physical shapes."""
    from .skew import spread_scan

    sh = spread_scan(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(text_col, k_shingle))).alias("shingle"),
    )
    if max_shingle_df is not None:
        from pyspark import StorageLevel

        per_shingle = (
            sh.groupBy("shingle")
            .agg(
                F.array_sort(F.collect_list("id")).alias("ids"),
                F.count("*").alias("df"),
            )
            .filter(F.col("df") <= max_shingle_df)
            # Materialize the expensive tokenize→shingle→aggregate subtree
            # once; both consumers (per-doc sizes, pair generation) read the
            # cached form instead of re-scanning the corpus. Spills to disk
            # when it outgrows memory — at 100 TB this is the
            # checkpoint-the-intermediate step every multi-consumer DAG needs.
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        sizes = (
            per_shingle.select(F.explode("ids").alias("id"))
            .groupBy("id")
            .agg(F.count("*").alias("n_sh"))
        )
        inter = (
            per_shingle.filter(F.col("df") > 1)
            .select(
                F.explode(
                    F.flatten(
                        F.transform(
                            F.col("ids"),
                            lambda x, i: F.transform(
                                F.slice(F.col("ids"), i + 2, F.size("ids")),
                                lambda y: F.struct(
                                    x.alias("id_a"), y.alias("id_b")
                                ),
                            ),
                        )
                    )
                ).alias("p")
            )
            .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
            .agg(F.count("*").alias("n_common"))
        )
    else:
        sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("n_common"))
        )
    return inter, sizes


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """N2 — CONTAINMENT pairs: |A∩B| / min(|A|, |B|) ≥ threshold.

    The asymmetric companion to ``ngram_jaccard_pairs``: a short document
    pasted inside a long one scores near-zero Jaccard but containment ≈ 1,
    so this is the subset-duplication detector. Identical physical shape —
    the capped single-pass groupBy(shingle) form when ``max_shingle_df`` is
    set (pair work bounded by O(cap²) per shingle, the
    tokenize→shingle→aggregate subtree planned once) — only the final
    similarity expression differs. Returns (id_a, id_b, n_common,
    containment)."""
    inter, sizes = _shingle_pair_counts(
        df, text_col, id_col, k_shingle, max_shingle_df
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    cont = F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_common", "containment")
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Near-dup clustering: connected components by iterative min-label
    propagation (each vertex converges to the minimum id reachable through
    the similarity graph — the canonical survivor of its duplicate cluster).

    Each iteration is one distributed join+aggregate; the driver only
    coordinates the loop and checks convergence (an aggregate, not a data
    collect). Iterations needed = graph diameter — near-dup clusters are
    shallow (pairs/cliques), so convergence is fast; ``max_iterations``
    bounds adversarial chains. This is the iterative-algorithm shape
    (SURVEY.md §2.8 note) that pure SQL can't express without recursion.
    """
    # localCheckpoint, not cache: truncates the LOGICAL plan so each
    # iteration re-analyzes a constant-size plan instead of the edge list's
    # full upstream lineage stacked once per iteration (same fix as
    # operators/graph.py::pagerank — compile time, not execution, is what
    # blows up in cached iterative loops).
    sym = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .unionByName(
            edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = vertices.select(
        F.col(id_col).alias("vid"), F.col(id_col).cast("long").alias("label")
    ).localCheckpoint()
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.v == labels.vid)
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        # The convergence flag rides the update itself: comparing new vs old
        # label inside the same projection folds the convergence check into
        # the checkpoint materialization — one job per iteration, not a
        # second join-and-count over the previous state.
        updated = (
            labels.join(neighbor_min, labels.vid == neighbor_min.u, "left")
            .select(
                "vid",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nmin"), F.col("label")) < F.col("label")).alias(
                    "_changed"
                ),
            )
            .localCheckpoint()
        )
        # max-aggregate, NOT filter().limit(1).count() (r10): on the
        # CONVERGED iteration the filter is empty, and an empty limit runs
        # incremental partition waves over the whole checkpointed frame
        # with throttled parallelism (the windows.py _hot_key_stats
        # lesson); one fully-parallel boolean max answers it in one pass.
        changed = updated.agg(F.max("_changed")).first()[0]
        labels = updated.drop("_changed")
        if not changed:
            break
    return labels.select(F.col("vid").alias(id_col), F.col("label").alias("component"))


def incremental_jaccard_pairs(
    corpus: DataFrame,
    increment: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """N2 — INCREMENTAL dedup: exact Jaccard pairs between a NEW batch and
    an EXISTING corpus only — never old x old. This is the production shape
    for a continuously-ingesting corpus: yesterday's 100 TB is already
    deduped; today's increment must be checked against it (and against
    itself via the ordinary pair operator) without ever re-pairing the
    corpus with itself.

    Physical shape mirrors ``_shingle_pair_counts``'s capped single-pass
    form with the side split INSIDE the per-shingle aggregate: one
    groupBy(shingle) collects the corpus-id list and increment-id list
    separately (conditional collect_list), the df cap bounds both, and
    pairs come from the new x old array combination — O(cap_old * cap_new)
    per shingle, zero old-old work. Sizes are computed over the same capped
    universe so Jaccard stays a true set similarity on it. Returns
    (id_new, id_old, jaccard)."""
    from .skew import spread_scan

    tagged = corpus.select(
        F.col(id_col).alias("id"), F.lit(0).alias("side"), F.col(text_col)
    ).unionByName(
        increment.select(
            F.col(id_col).alias("id"), F.lit(1).alias("side"), F.col(text_col)
        )
    )
    sh = spread_scan(tagged).select(
        "id",
        "side",
        F.explode(F.array_distinct(shingles(text_col, k_shingle))).alias("shingle"),
    )
    from pyspark import StorageLevel

    per_shingle = (
        sh.groupBy("shingle")
        .agg(
            F.array_sort(
                F.collect_list(F.when(F.col("side") == 0, F.col("id")))
            ).alias("olds"),
            F.array_sort(
                F.collect_list(F.when(F.col("side") == 1, F.col("id")))
            ).alias("news"),
            F.count("*").alias("df"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if max_shingle_df is not None:
        per_shingle = per_shingle.filter(F.col("df") <= max_shingle_df)
    sizes = (
        per_shingle.select(
            F.explode(F.concat(F.col("olds"), F.col("news"))).alias("id")
        )
        .groupBy("id")
        .agg(F.count("*").alias("n_sh"))
    )
    inter = (
        per_shingle.filter((F.size("news") > 0) & (F.size("olds") > 0))
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("news"),
                        lambda n: F.transform(
                            F.col("olds"),
                            lambda o: F.struct(
                                n.alias("id_new"), o.alias("id_old")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy(F.col("p.id_new").alias("id_new"), F.col("p.id_old").alias("id_old"))
        .agg(F.count("*").alias("n_common"))
    )
    sn = sizes.select(F.col("id").alias("id_new"), F.col("n_sh").alias("n_new"))
    so = sizes.select(F.col("id").alias("id_old"), F.col("n_sh").alias("n_old"))
    return (
        inter.join(sn, "id_new")
        .join(so, "id_old")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_new") + F.col("n_old") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_new", "id_old", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """N2 — exact Jaccard pairs via PREFIX FILTERING (All-Pairs / PPJoin
    candidate generation; Bayardo et al. WWW'07, Xiao et al. WWW'08).

    Same semantics as ``ngram_jaccard_pairs`` — every (id_a < id_b) pair
    with shingle-Jaccard ≥ threshold — but a fundamentally cheaper physical
    plan at scale. The classic inverted-index self-join generates a
    candidate for EVERY shared shingle; prefix filtering exploits a global
    rarity order: sort each document's shingles by ascending document
    frequency and keep only its first ``n - ceil(t*n) + 1`` (the "prefix").
    Two sets with Jaccard ≥ t must share at least one PREFIX shingle (if
    all shared shingles sat beyond both prefixes, the intersection would be
    < ceil(t*n) on both sides — below what J ≥ t requires, since
    J ≥ t ⇒ |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|)). So joining on prefix
    shingles alone is LOSSLESS, and prefixes are by construction each
    document's RAREST shingles — exactly the ones with the fewest postings,
    so the join fan-out collapses (the frequent shingles that dominate the
    classic join's O(df²) pair blow-up never enter it).

    Threshold arithmetic is exact: t is taken as a rational num/den and
    every boundary comparison (prefix length, length filter, final Jaccard
    test) is integer-only — no float-rounding can drop a boundary pair.

    Stages (one persisted shingle scan feeds all consumers):
      1. distinct (id, shingle) + global shingle df        — 1 shuffle
      2. per-doc rank by (df, shingle), keep prefix        — doc-local window
      3. prefix self-join on shingle + length filter
         (min·den ≥ num·max, since J ≤ min/max)            — join on RARE keys
      4. verify via the posting table restricted to candidate
         docs (no per-doc arrays): n_common from a (doc, shingle)
         equi-join, integer Jaccard test
         n_common·den ≥ num·(na+nb−n_common)

    Returns (id_a, id_b, jaccard) — identical to ``ngram_jaccard_pairs``,
    which serves as its oracle twin.
    """
    from fractions import Fraction
    from pyspark import StorageLevel

    frac = Fraction(threshold).limit_denominator(10_000)
    num, den = frac.numerator, frac.denominator

    sh = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(shingles(text_col, k_shingle))).alias("shingle"),
        )
        # One scan of the tokenize→shingle→explode subtree serves the df
        # table, the prefix ranking, and the verification arrays.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sdf = sh.groupBy("shingle").agg(F.count("*").alias("sdf"))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    w_doc = Window.partitionBy("id").orderBy("sdf", "shingle")
    ranked = (
        sh.join(sdf, "shingle")
        .join(sizes, "id")  # doc sizes from the aggregate, not a 2nd window
        .withColumn("pos", F.row_number().over(w_doc))
    )
    # prefix length = n - ceil(t*n) + 1, with ceil(num*n/den) as exact
    # integer floordiv((num*n + den - 1), den) — DIV keeps it in longs.
    prefix = ranked.filter(
        F.col("pos") <= F.expr(f"n - ({num} * n + {den} - 1) DIV {den} + 1")
    ).select("id", "shingle", "n")
    a = prefix.select(
        F.col("id").alias("id_a"), F.col("shingle").alias("shingle"), F.col("n").alias("n_a")
    )
    b = prefix.select(
        F.col("id").alias("id_b"), F.col("shingle").alias("shingle"), F.col("n").alias("n_b")
    )
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: J ≤ min/max, so J ≥ t needs min*den ≥ num*max.
        .filter(
            F.least("n_a", "n_b") * den >= F.greatest("n_a", "n_b") * num
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # Verification: intersections come from the exploded posting table
    # restricted to candidate docs — the first join discards every
    # non-candidate document's shingles before the (id_b, shingle) match,
    # so only candidate shingle rows ever shuffle (nothing materializes
    # per-doc arrays, and the verify cost tracks |candidates|, not |corpus|).
    pa = sh.join(cand, sh.id == cand.id_a).select("id_a", "id_b", "shingle")
    shb = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        pa.join(shb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    verified = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.col("n_common") * den
            >= num * (F.col("na") + F.col("nb") - F.col("n_common"))
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return verified
