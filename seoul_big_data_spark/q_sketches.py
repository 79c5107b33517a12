"""Probabilistic-sketch layer, cross-engine-deterministic variants.

The engine already exposes Spark's native sketches (HLL in
``agg_approx_count_distinct`` / ``agg_hll_sketch_merge``, KLL-style
quantiles in ``agg_percentile_approx``, the optimizer's runtime Bloom
filter in ``tests/test_runtime_filter.py``). Those are the production
fast path, but their estimates are engine-internal, so the driver can
only rows-check them. This module adds the two classic counting sketches
built from PORTABLE md5 hashing — identical bytes in Spark and DuckDB —
so the full sketch construction + estimate is hash-checkable end to end:

- Count-Min: d×w counter matrix, estimate = min over d salted rows.
- Bloom membership: m-bit array, k salted hashes, probe = all bits set.

Reference parity: the reference (441-line pandas ETL,
``data_seoul_2_csv_noopenapi.py:113-128``) counts rows with a Python
accumulator; these are the sub-linear-memory equivalents a 100 TB engine
needs when the key space itself doesn't fit (per-key counts via CMS,
membership pruning via Bloom).

Scale notes (100 TB): both sketches reduce the fact to a key-cardinality
aggregate FIRST (one scan, map-side partial agg), then build the sketch on
the reduced table — the d×w / m-bit structures are constant-size and the
joins against them broadcast. Nothing here shuffles the raw fact twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .registry import query
from .sources.tables import load


@query(
    "agg_countmin_heavy_hitters",
    """
    WITH per_key AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS true_cnt
      FROM orders GROUP BY o_custkey
    ), hashed AS (
      SELECT o_custkey, true_cnt, j.j AS j,
             ('0x' || substr(md5(j.j || ':' || CAST(o_custkey AS VARCHAR)), 1, 8))
               ::BIGINT % 256 AS bucket
      FROM per_key CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) j
    ), counters AS (
      SELECT j, bucket, CAST(sum(true_cnt) AS BIGINT) AS c
      FROM hashed GROUP BY j, bucket
    ), est AS (
      SELECT h.o_custkey, h.true_cnt, min(c.c) AS est_cnt
      FROM hashed h JOIN counters c ON h.j = c.j AND h.bucket = c.bucket
      GROUP BY h.o_custkey, h.true_cnt
    )
    SELECT o_custkey, CAST(est_cnt AS BIGINT) AS est_cnt, true_cnt
    FROM (
      SELECT *, row_number() OVER (ORDER BY est_cnt DESC, o_custkey) AS rn
      FROM est
    ) WHERE rn <= 10
    """,
)
def agg_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (d=4 rows × w=256 buckets) over per-customer order
    counts, reporting the top-10 estimated heavy hitters alongside true
    counts (CMS guarantees est >= true; the overshoot is the collision
    mass). Salted md5 buckets keep the whole construction portable, so the
    oracle rebuilds the identical sketch.

    Single fact scan: the raw fact reduces to the key-cardinality
    ``per_key`` aggregate first; the sketch (4×256 counters) and the
    estimates are built from that persisted reduction, and the counter
    join broadcasts (1 024 rows)."""
    o = load(spark, "orders", sf_dir)
    per_key = (
        o.groupBy("o_custkey")
        .agg(F.count("*").cast("bigint").alias("true_cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # key-cardinality reduction: both the counters and the probe side
    #    read this, not the fact
    hashed = per_key.select(
        "o_custkey",
        "true_cnt",
        F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("j"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j"), F.lit(":"), F.col("o_custkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 256,
    )
    counters = hashed.groupBy("j", "bucket").agg(
        F.sum("true_cnt").cast("bigint").alias("c")
    )
    est = (
        hashed.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("o_custkey", "true_cnt")
        .agg(F.min("c").cast("bigint").alias("est_cnt"))
    )
    # top-10 via sort+limit, not a global row_number window: Spark plans
    # this as TakeOrderedAndProject (per-partition top-k, then a 10-row
    # merge on the driver) — no single-partition window over the key table.
    return (
        est.orderBy(F.desc("est_cnt"), F.asc("o_custkey"))
        .limit(10)
        .select("o_custkey", "est_cnt", "true_cnt")
    )


@query(
    "agg_bloom_membership",
    """
    WITH members AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ), bits AS (
      SELECT DISTINCT
             ('0x' || substr(md5(j.j || ':' || CAST(c_custkey AS VARCHAR)), 1, 8))
               ::BIGINT % 1024 AS bit
      FROM members CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS j) j
    ), probes AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    ), probe_bits AS (
      SELECT p.o_custkey, p.n_orders, j.j AS j,
             ('0x' || substr(md5(j.j || ':' || CAST(p.o_custkey AS VARCHAR)), 1, 8))
               ::BIGINT % 1024 AS bit
      FROM probes p CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS j) j
    ), verdicts AS (
      SELECT pb.o_custkey,
             CAST(count(*) FILTER (WHERE b.bit IS NOT NULL) = 3 AS INTEGER)
               AS bloom_pos,
             CAST(max(CASE WHEN m.c_custkey IS NOT NULL THEN 1 ELSE 0 END)
                  AS INTEGER) AS truly_member
      FROM probe_bits pb
      LEFT JOIN bits b ON pb.bit = b.bit
      LEFT JOIN members m ON pb.o_custkey = m.c_custkey
      GROUP BY pb.o_custkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probed,
           CAST(sum(bloom_pos) AS BIGINT) AS n_bloom_positive,
           CAST(sum(truly_member) AS BIGINT) AS n_true_members,
           CAST(sum(CASE WHEN bloom_pos = 1 AND truly_member = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positive,
           CAST(sum(CASE WHEN bloom_pos = 0 AND truly_member = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negative
    FROM verdicts
    """,
)
def agg_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom filter (m=1024 bits, k=3 salted md5 hashes) built over
    BUILDING-segment customers, probed by every ordering customer: counts
    probed keys, Bloom positives, true members, false positives — and false
    negatives, which MUST be 0 (the Bloom guarantee; the oracle rebuilding
    the identical filter re-proves it).

    This is the portable, hash-checkable twin of Spark's native runtime
    Bloom pruning (tests/test_runtime_filter.py): same semi-join-reduction
    idea, but with the bit array as first-class data. At 100 TB the ``bits``
    side is ≤ m rows (constant) and broadcasts; the fact reduces to
    key-cardinality ``probes`` in its single scan."""
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir)
    ks = F.array(*[F.lit(j) for j in range(3)])

    def bit_of(col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("j"), F.lit(":"), col.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % 1024
        )

    members = (
        c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey").distinct()
    )
    bits = (
        members.select("c_custkey", F.explode(ks).alias("j"))
        .select(bit_of(F.col("c_custkey")).alias("bit"))
        .distinct()
    )
    probes = o.groupBy("o_custkey").agg(F.count("*").cast("bigint").alias("n_orders"))
    probe_bits = probes.select(
        "o_custkey", "n_orders", F.explode(ks).alias("j")
    ).withColumn("bit", bit_of(F.col("o_custkey")))
    # bits is <= m rows (constant) and stays hinted; members is
    # customer-KEYED — cardinality grows with the corpus, so no broadcast
    # hint (the r5 basket-lint class): AQE broadcasts it at small scale and
    # flips to the linear key-partitioned join at large scale.
    verdicts = (
        probe_bits.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left")
        .join(
            members.withColumnRenamed("c_custkey", "o_custkey").withColumn(
                "mem", F.lit(1)
            ),
            "o_custkey",
            "left",
        )
        .groupBy("o_custkey")
        .agg(
            (F.count("hit") == 3).cast("int").alias("bloom_pos"),
            F.max(F.coalesce(F.col("mem"), F.lit(0))).cast("int").alias("truly_member"),
        )
    )
    return verdicts.agg(
        F.count("*").cast("bigint").alias("n_probed"),
        F.sum("bloom_pos").cast("bigint").alias("n_bloom_positive"),
        F.sum("truly_member").cast("bigint").alias("n_true_members"),
        F.sum(
            ((F.col("bloom_pos") == 1) & (F.col("truly_member") == 0)).cast("bigint")
        ).alias("n_false_positive"),
        F.sum(
            ((F.col("bloom_pos") == 0) & (F.col("truly_member") == 1)).cast("bigint")
        ).alias("n_false_negative"),
    )


@query(
    "agg_kmv_theta_setops",
    """
    WITH uh AS (
      SELECT DISTINCT event_type, user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               * 1.0 / 4294967296.0 AS h
      FROM events WHERE event_type IN ('click', 'purchase')
    ), sk AS (
      SELECT event_type, user_id, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h, user_id)
               AS rk
      FROM uh
    ), ka AS (
      SELECT event_type, count(*) AS n_in, max(h) AS theta
      FROM sk WHERE rk <= 64 GROUP BY event_type
    ), est AS (
      SELECT event_type,
             CASE WHEN n_in < 64 THEN CAST(n_in AS DOUBLE)
                  ELSE (64 - 1) / theta END AS d_est
      FROM ka
    ), merged AS (
      SELECT user_id, h, count(*) AS n_types
      FROM sk WHERE rk <= 64 GROUP BY user_id, h
    ), msk AS (
      SELECT user_id, h, n_types,
             row_number() OVER (ORDER BY h, user_id) AS rk
      FROM merged
    ), mtop AS (
      SELECT count(*) AS n_in, max(h) AS theta,
             sum(CASE WHEN n_types = 2 THEN 1 ELSE 0 END) AS n_both
      FROM msk WHERE rk <= 64
    ), u_est AS (
      SELECT CASE WHEN n_in < 64 THEN CAST(n_in AS DOUBLE)
                  ELSE (64 - 1) / theta END AS union_est,
             n_both * 1.0 / n_in AS jaccard_est
      FROM mtop
    ), truth AS (
      SELECT count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
               AS true_a,
             count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
               AS true_b,
             count(DISTINCT user_id) AS true_union
      FROM events WHERE event_type IN ('click', 'purchase')
    )
    SELECT round(a.d_est, 2) AS est_click,
           round(b.d_est, 2) AS est_purchase,
           round(u.union_est, 2) AS est_union,
           round(u.jaccard_est * u.union_est, 2) AS est_intersect,
           CAST(t.true_a AS BIGINT) AS true_click,
           CAST(t.true_b AS BIGINT) AS true_purchase,
           CAST(t.true_union AS BIGINT) AS true_union
    FROM (SELECT d_est FROM est WHERE event_type = 'click') a
    CROSS JOIN (SELECT d_est FROM est WHERE event_type = 'purchase') b
    CROSS JOIN u_est u CROSS JOIN truth t
    """,
)
def agg_kmv_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta-sketch set algebra (Beyer et al., the Apache DataSketches
    theta idea) with portable md5 hashing: per-type k=64 minimum-value
    sketches of the distinct-user sets, the distinct estimate (k-1)/h_k,
    and — the part HLL cannot do — UNION and INTERSECTION estimates from
    the merged sketch (Jaccard over the union's k smallest × union
    estimate). True values computed alongside so the driver's hash check
    pins both the sketch AND its error on both engines. Sketches not yet
    full fall back to exact counts (n<k ⇒ the sketch IS the set).

    Scale: one fact scan to per-(type,user) distinct; per-type top-k by
    hash rank is a bounded per-group window (k rows out per type); every
    later stage operates on ≤ 2k rows. The truth subquery is the second
    scan (budget 2) — production would drop it."""
    e = load(spark, "events", sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    uh = (
        e.select("event_type", "user_id")
        .distinct()
        .withColumn(
            "h",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            * 1.0
            / 4294967296.0,
        )
    )
    from pyspark import StorageLevel

    wk = Window.partitionBy("event_type").orderBy("h", "user_id")
    # the ≤2k-row sketch feeds the per-type estimates AND the merged union
    # sketch — persist it so the fact scan behind it runs once (the truth
    # subquery is the deliberate second scan, budget 2)
    sk = (
        uh.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 64)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ka = sk.groupBy("event_type").agg(
        F.count("*").alias("n_in"), F.max("h").alias("theta")
    )
    est = ka.select(
        "event_type",
        F.when(F.col("n_in") < 64, F.col("n_in").cast("double"))
        .otherwise((64 - 1) / F.col("theta"))
        .alias("d_est"),
    )
    merged = sk.groupBy("user_id", "h").agg(F.count("*").alias("n_types"))
    wm = Window.orderBy("h", "user_id")
    msk = merged.withColumn("rk", F.row_number().over(wm)).filter(F.col("rk") <= 64)
    mtop = msk.agg(
        F.count("*").alias("n_in"),
        F.max("h").alias("theta"),
        F.sum((F.col("n_types") == 2).cast("long")).alias("n_both"),
    )
    u_est = mtop.select(
        F.when(F.col("n_in") < 64, F.col("n_in").cast("double"))
        .otherwise((64 - 1) / F.col("theta"))
        .alias("union_est"),
        (F.col("n_both") * 1.0 / F.col("n_in")).alias("jaccard_est"),
    )
    truth = e.agg(
        F.count_distinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("true_a"),
        F.count_distinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("true_b"),
        F.count_distinct("user_id").alias("true_union"),
    )
    a = est.filter(F.col("event_type") == "click").select(
        F.round("d_est", 2).alias("est_click")
    )
    b = est.filter(F.col("event_type") == "purchase").select(
        F.round("d_est", 2).alias("est_purchase")
    )
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(
            F.broadcast(
                u_est.select(
                    F.round("union_est", 2).alias("est_union"),
                    F.round(F.col("jaccard_est") * F.col("union_est"), 2).alias(
                        "est_intersect"
                    ),
                )
            )
        )
        .crossJoin(
            F.broadcast(
                truth.select(
                    F.col("true_a").cast("bigint").alias("true_click"),
                    F.col("true_b").cast("bigint").alias("true_purchase"),
                    F.col("true_union").cast("bigint").alias("true_union"),
                )
            )
        )
    )


@query(
    "agg_hll_portable",
    """
    WITH r0 AS (
      SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 2))::BIGINT
               AS bucket,
             substr(md5(CAST(o_custkey AS VARCHAR)), 3, 13) AS rem
      FROM orders
    ), rho AS (
      SELECT bucket,
             CASE WHEN length(regexp_extract(rem, '^0*')) = 13 THEN 53
                  ELSE 4 * length(regexp_extract(rem, '^0*'))
                       + CASE WHEN ('0x' || substr(rem,
                                      length(regexp_extract(rem, '^0*')) + 1, 1)
                                    )::BIGINT >= 8 THEN 0
                              WHEN ('0x' || substr(rem,
                                      length(regexp_extract(rem, '^0*')) + 1, 1)
                                    )::BIGINT >= 4 THEN 1
                              WHEN ('0x' || substr(rem,
                                      length(regexp_extract(rem, '^0*')) + 1, 1)
                                    )::BIGINT >= 2 THEN 2
                              ELSE 3 END
                       + 1
             END AS rho
      FROM r0
    ), regs AS (
      SELECT b.bucket, coalesce(max(rho.rho), 0) AS m
      FROM (SELECT unnest(generate_series(0, 255)) AS bucket) b
      LEFT JOIN rho ON rho.bucket = b.bucket
      GROUP BY b.bucket
    ), agg AS (
      SELECT CAST(sum(1::BIGINT << (53 - m)) AS BIGINT) AS s,
             CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
      FROM regs
    ), est AS (
      SELECT CASE WHEN 0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0) * 65536.0e0
                       * 9007199254740992.0e0 / s <= 640.0e0 AND v > 0
                  THEN 256.0e0 * ln(256.0e0 / v)
                  ELSE 0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0) * 65536.0e0
                       * 9007199254740992.0e0 / s
             END AS e
      FROM agg
    ), truth AS (
      SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact FROM orders
    )
    SELECT n_exact, round(e, 2) AS hll_est,
           round((e - n_exact) / n_exact, 4) AS rel_err
    FROM est, truth
    """,
)
def agg_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog (Flajolet et al.), hash-checkable end to end:
    256 registers keyed by the first md5 byte, rank = leading-zero count
    of the next 52 bits + 1, estimate = alpha·m²/Σ2^(-M_j) with the
    standard small-range linear-counting correction — the cross-engine
    twin of the native `approx_count_distinct` (which stays rows-only
    because its HLL bytes are engine-internal).

    Determinism: the harmonic denominator is computed as the EXACT integer
    Σ 2^(53-M_j) (shiftleft, every term integral, no float summation
    order), so the single final division is the only floating step and
    both engines agree bit-for-bit before round(2). Scale: registers come
    from one map-side-combinable max aggregate over the fact — sketch
    state is 256 rows regardless of input size; the exact-truth subquery
    is the deliberate second scan (budget 2, dropped in production).
    """
    o = load(spark, "orders", sf_dir)
    h = F.md5(F.col("o_custkey").cast("string"))
    rem = F.substring(h, 3, 13)
    z = F.length(F.regexp_extract(rem, "^0*", 0))
    nib = F.conv(rem.substr(z + F.lit(1), F.lit(1)), 16, 10).cast("int")
    lznib = (
        F.when(nib >= 8, 0).when(nib >= 4, 1).when(nib >= 2, 2).otherwise(3)
    )
    rho = F.when(z == 13, 53).otherwise(4 * z + lznib + 1)
    regs = o.select(
        F.conv(F.substring(h, 1, 2), 16, 10).cast("bigint").alias("bucket"),
        rho.alias("rho"),
    ).groupBy("bucket").agg(F.max("rho").alias("m_part"))
    all_b = spark.range(1).select(
        F.explode(F.sequence(F.lit(0), F.lit(255))).alias("bucket")
    ).select(F.col("bucket").cast("bigint").alias("bucket"))
    full = all_b.join(F.broadcast(regs), "bucket", "left").select(
        F.coalesce(F.col("m_part"), F.lit(0)).alias("m")
    )
    agg = full.agg(
        F.sum(F.expr("shiftleft(1L, 53 - m)")).cast("bigint").alias("s"),
        F.sum((F.col("m") == 0).cast("long")).cast("bigint").alias("v"),
    )
    e_raw = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
        * F.lit(65536.0)
        * F.lit(9007199254740992.0)
        / F.col("s")
    )
    est = agg.select(
        F.when(
            (e_raw <= 640.0) & (F.col("v") > 0),
            F.lit(256.0) * F.log(F.lit(256.0) / F.col("v")),
        )
        .otherwise(e_raw)
        .alias("e")
    )
    truth = o.agg(F.count_distinct("o_custkey").cast("bigint").alias("n_exact"))
    return est.crossJoin(F.broadcast(truth)).select(
        "n_exact",
        F.round("e", 2).alias("hll_est"),
        F.round((F.col("e") - F.col("n_exact")) / F.col("n_exact"), 4).alias(
            "rel_err"
        ),
    )


@query(
    "agg_bottomk_sample_quantiles",
    """
    WITH ranked AS (
      SELECT l_extendedprice AS v,
             md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                 CAST(l_linenumber AS VARCHAR)) AS r
      FROM lineitem
    ), sample AS (
      SELECT v FROM ranked ORDER BY r ASC LIMIT 1000
    ), est AS (
      SELECT quantile_cont(v, 0.5) AS p50_est,
             quantile_cont(v, 0.9) AS p90_est,
             CAST(count(*) AS BIGINT) AS k
      FROM sample
    ), truth AS (
      SELECT quantile_cont(l_extendedprice, 0.5) AS p50_exact,
             quantile_cont(l_extendedprice, 0.9) AS p90_exact
      FROM lineitem
    )
    SELECT k,
           round(p50_est, 2)   AS p50_est,
           round(p90_est, 2)   AS p90_est,
           round(p50_exact, 2) AS p50_exact,
           round(p90_exact, 2) AS p90_exact,
           round(abs(p50_est - p50_exact) / p50_exact, 4) AS p50_rel_err,
           round(abs(p90_est - p90_exact) / p90_exact, 4) AS p90_rel_err
    FROM est, truth
    """,
)
def agg_bottomk_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k sample quantile sketch: estimate percentiles from the k
    rows with the smallest md5 rank — a deterministic, MERGEABLE uniform
    sample (the bottom-k of a union is the bottom-k of the per-partition
    bottom-k's, the same algebra as the KMV distinct sketch in
    `agg_kmv_theta_setops`).

    Scale shape: Spark plans orderBy(rank).limit(k) as
    TakeOrderedAndProject — each partition keeps its local top-k and only
    k·n_partitions rows reach the driver-side merge, never a global sort.
    The md5 rank is engine-portable, so DuckDB draws the IDENTICAL sample
    and the estimates match exactly, with exact-percentile truth and
    relative error pinned beside (honesty columns: the sketch's error is
    part of the contract, same convention as the HLL/KMV queries)."""
    li = load(spark, "lineitem", sf_dir)
    ranked = li.select(
        F.col("l_extendedprice").alias("v"),
        F.md5(
            F.concat_ws(
                ":",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("r"),
    )
    sample = ranked.orderBy("r").limit(1000)
    est = sample.agg(
        F.expr("percentile(v, 0.5)").alias("p50_est"),
        F.expr("percentile(v, 0.9)").alias("p90_est"),
        F.count("*").cast("bigint").alias("k"),
    )
    truth = li.agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50_exact"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90_exact"),
    )
    return est.crossJoin(F.broadcast(truth)).select(
        "k",
        F.round("p50_est", 2).alias("p50_est"),
        F.round("p90_est", 2).alias("p90_est"),
        F.round("p50_exact", 2).alias("p50_exact"),
        F.round("p90_exact", 2).alias("p90_exact"),
        F.round(
            F.abs(F.col("p50_est") - F.col("p50_exact")) / F.col("p50_exact"), 4
        ).alias("p50_rel_err"),
        F.round(
            F.abs(F.col("p90_est") - F.col("p90_exact")) / F.col("p90_exact"), 4
        ).alias("p90_rel_err"),
    )
