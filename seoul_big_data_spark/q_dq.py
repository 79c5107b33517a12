"""Data-quality, profiling, and deterministic-sampling queries — the
pipeline-hygiene layer a training-data engine runs before/after every load
(dbt-style tests, table profiling, reproducible sampling).

Determinism across engines: "random" sampling uses md5 over the key rendered
as a string — identical bytes in Spark and DuckDB — so the sample is exactly
reproducible anywhere (and stable across reruns/backfills, unlike
``rand(seed)`` whose stream depends on partitioning). At 100 TB this is the
only sane sampling contract: the sample of a row depends on the row alone,
so it survives repartitioning, incremental loads, and engine swaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import query
from .sources.tables import load


@query(
    "sample_stratified_md5",
    """
    SELECT c_mktsegment, c_custkey, smp_rank FROM (
      SELECT c_mktsegment, c_custkey,
             row_number() OVER (
               PARTITION BY c_mktsegment
               ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey
             ) AS smp_rank
      FROM customer
    ) WHERE smp_rank <= 10
    """,
)
def sample_stratified_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sample: 10 rows per market segment, chosen by
    md5(key) order — a deterministic uniform draw with hard per-group
    quotas (the 'balanced training mix' primitive). One shuffle on the
    stratum key; per-group top-k, never a global sort."""
    c = load(spark, "customer", sf_dir)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")
    )
    return (
        c.select("c_mktsegment", "c_custkey", F.row_number().over(w).alias("smp_rank"))
        .filter(F.col("smp_rank") <= 10)
    )


@query(
    "sample_fraction_md5",
    """
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '20'
    """,
)
def sample_fraction_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% Bernoulli sample (first md5 byte < 0x20): the
    row's own key decides membership, so the sample is identical under any
    partitioning, engine, or incremental backfill — and it composes (a 1/8
    sample of a 1/8 sample uses a different byte). Pure map-side filter:
    no shuffle, no state."""
    o = load(spark, "orders", sf_dir)
    return o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) < "20"
    ).select("o_orderkey", "o_custkey")


@query(
    "dq_profile_columns",
    """
    WITH s AS (
      SELECT count(*) AS n_rows,
             count(*) - count(o_orderstatus)  AS null_status,
             count(DISTINCT o_orderstatus)    AS dist_status,
             CAST(min(o_orderstatus) AS VARCHAR) AS min_status,
             CAST(max(o_orderstatus) AS VARCHAR) AS max_status,
             count(*) - count(o_orderpriority) AS null_prio,
             count(DISTINCT o_orderpriority)   AS dist_prio,
             CAST(min(o_orderpriority) AS VARCHAR) AS min_prio,
             CAST(max(o_orderpriority) AS VARCHAR) AS max_prio,
             count(*) - count(o_totalprice)    AS null_price,
             count(DISTINCT o_totalprice)      AS dist_price,
             CAST(CAST(min(o_totalprice) AS DECIMAL(12,2)) AS VARCHAR) AS min_price,
             CAST(CAST(max(o_totalprice) AS DECIMAL(12,2)) AS VARCHAR) AS max_price,
             count(*) - count(o_custkey)       AS null_cust,
             count(DISTINCT o_custkey)         AS dist_cust,
             CAST(min(o_custkey) AS VARCHAR)   AS min_cust,
             CAST(max(o_custkey) AS VARCHAR)   AS max_cust
      FROM orders
    )
    SELECT 'o_orderstatus' AS col_name, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(null_status AS BIGINT) AS n_nulls,
           CAST(dist_status AS BIGINT) AS n_distinct,
           min_status AS min_value, max_status AS max_value FROM s
    UNION ALL
    SELECT 'o_orderpriority', CAST(n_rows AS BIGINT), CAST(null_prio AS BIGINT),
           CAST(dist_prio AS BIGINT), min_prio, max_prio FROM s
    UNION ALL
    SELECT 'o_totalprice', CAST(n_rows AS BIGINT), CAST(null_price AS BIGINT),
           CAST(dist_price AS BIGINT), min_price, max_price FROM s
    UNION ALL
    SELECT 'o_custkey', CAST(n_rows AS BIGINT), CAST(null_cust AS BIGINT),
           CAST(dist_cust AS BIGINT), min_cust, max_cust FROM s
    """,
)
def dq_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile → one row per column (n_rows, nulls,
    distincts, min/max rendered as strings; numerics via DECIMAL(12,2) for
    cross-engine stable formatting). ONE aggregation computes every
    column's stats; ``inline`` over an array of four structs unpivots its
    1-row result in the same plan (a Generate node, no union, no persist)
    — at 100 TB the cost is exactly one scan and one shuffle."""
    o = load(spark, "orders", sf_dir)
    s = o.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("o_orderstatus")).alias("null_status"),
        F.count_distinct("o_orderstatus").alias("dist_status"),
        F.min("o_orderstatus").cast("string").alias("min_status"),
        F.max("o_orderstatus").cast("string").alias("max_status"),
        (F.count("*") - F.count("o_orderpriority")).alias("null_prio"),
        F.count_distinct("o_orderpriority").alias("dist_prio"),
        F.min("o_orderpriority").cast("string").alias("min_prio"),
        F.max("o_orderpriority").cast("string").alias("max_prio"),
        (F.count("*") - F.count("o_totalprice")).alias("null_price"),
        F.count_distinct("o_totalprice").alias("dist_price"),
        F.min("o_totalprice").cast("decimal(12,2)").cast("string").alias("min_price"),
        F.max("o_totalprice").cast("decimal(12,2)").cast("string").alias("max_price"),
        (F.count("*") - F.count("o_custkey")).alias("null_cust"),
        F.count_distinct("o_custkey").alias("dist_cust"),
        F.min("o_custkey").cast("string").alias("min_cust"),
        F.max("o_custkey").cast("string").alias("max_cust"),
    )
    rows = [
        ("o_orderstatus", "null_status", "dist_status", "min_status", "max_status"),
        ("o_orderpriority", "null_prio", "dist_prio", "min_prio", "max_prio"),
        ("o_totalprice", "null_price", "dist_price", "min_price", "max_price"),
        ("o_custkey", "null_cust", "dist_cust", "min_cust", "max_cust"),
    ]
    return s.select(
        F.inline(
            F.array(
                *(
                    F.struct(
                        F.lit(name).alias("col_name"),
                        F.col("n_rows"),
                        F.col(nulls).alias("n_nulls"),
                        F.col(dist).alias("n_distinct"),
                        F.col(mn).alias("min_value"),
                        F.col(mx).alias("max_value"),
                    )
                    for name, nulls, dist, mn, mx in rows
                )
            )
        )
    )


@query(
    "dq_fk_orphans",
    """
    SELECT 'lineitem.l_orderkey->orders' AS relation,
           CAST(count(*) AS BIGINT) AS n_bad
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders.o_custkey->customer', CAST(count(*) AS BIGINT)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem.l_partkey->part', CAST(count(*) AS BIGINT)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'customer.c_custkey->orders (childless)', CAST(count(*) AS BIGINT)
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts per FK relation (plus the
    childless-parent inverse) via left-anti joins. Each check is an
    anti-join on the FK key — UNHINTED: the lookup sides here are
    key-projections of orders/customer/part, whose cardinality grows with
    the corpus (the r5 basket-lint class — a forced broadcast is a driver
    collect scaling with N). AQE broadcasts them at small scale and flips
    to the linear key-partitioned anti-join at large scale."""
    l = load(spark, "lineitem", sf_dir)
    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir)
    p = load(spark, "part", sf_dir)

    def orphans(label, fact, dim, fk, pk):
        return (
            fact.join(dim.select(F.col(pk).alias(fk)), fk, "left_anti")
            .agg(F.count("*").alias("n_bad"))
            .select(F.lit(label).alias("relation"), "n_bad")
        )

    return (
        orphans("lineitem.l_orderkey->orders", l, o, "l_orderkey", "o_orderkey")
        .unionByName(
            orphans("orders.o_custkey->customer", o, c, "o_custkey", "c_custkey")
        )
        .unionByName(
            orphans("lineitem.l_partkey->part", l, p, "l_partkey", "p_partkey")
        )
        .unionByName(
            orphans(
                "customer.c_custkey->orders (childless)",
                c,
                o.select(F.col("o_custkey").alias("c_custkey")),
                "c_custkey",
                "c_custkey",
            )
        )
    )


@query(
    "dq_accepted_values",
    """
    SELECT 'o_orderstatus in (O,F,P)' AS rule, CAST(count(*) AS BIGINT) AS n_violations
    FROM orders WHERE o_orderstatus NOT IN ('O', 'F', 'P')
    UNION ALL
    SELECT 'l_discount in [0, 0.1]', CAST(count(*) AS BIGINT)
    FROM lineitem WHERE l_discount < CAST(0 AS DOUBLE) OR l_discount > CAST(0.1 AS DOUBLE)
    UNION ALL
    SELECT 'l_quantity > 0', CAST(count(*) AS BIGINT)
    FROM lineitem WHERE NOT (l_quantity > 0)
    UNION ALL
    SELECT 'o_totalprice >= 0', CAST(count(*) AS BIGINT)
    FROM orders WHERE NOT (o_totalprice >= 0)
    """,
)
def dq_accepted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style accepted-values / range rules → violation counts. Each
    rule is a filter pushed down to the Parquet reader + a count, so on
    clean data row-group min/max stats let a range rule skip whole row
    groups. The rules are unioned, not fused: Catalyst does not merge the
    unioned scans, so the plan reads orders twice and lineitem twice."""
    o = load(spark, "orders", sf_dir)
    l = load(spark, "lineitem", sf_dir)

    def rule(label, df, cond):
        return (
            df.filter(cond)
            .agg(F.count("*").alias("n_violations"))
            .select(F.lit(label).alias("rule"), "n_violations")
        )

    return (
        rule(
            "o_orderstatus in (O,F,P)",
            o,
            ~F.col("o_orderstatus").isin("O", "F", "P"),
        )
        .unionByName(
            rule(
                "l_discount in [0, 0.1]",
                l,
                (F.col("l_discount") < F.lit(0).cast("double"))
                | (F.col("l_discount") > F.lit(0.1).cast("double")),
            )
        )
        .unionByName(rule("l_quantity > 0", l, ~(F.col("l_quantity") > 0)))
        .unionByName(rule("o_totalprice >= 0", o, ~(F.col("o_totalprice") >= 0)))
    )


@query(
    "dq_histogram_totalprice",
    """
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) * 50000 AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY bucket_lo
    """,
)
def dq_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (50k buckets over order totals) — one
    map-side bucketing expression + one small groupBy; the profiling
    companion to the exact percentiles in agg_stats."""
    o = load(spark, "orders", sf_dir)
    return (
        o.select(
            (F.floor(F.col("o_totalprice") / 50000).cast("bigint") * 50000).alias(
                "bucket_lo"
            )
        )
        .groupBy("bucket_lo")
        .agg(F.count("*").alias("n"))
    )


@query(
    "dq_outlier_mad",
    """
    WITH spend AS (
      SELECT o_custkey, round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS spend
      FROM orders GROUP BY o_custkey
    ), med AS (
      SELECT round(quantile_cont(spend, 0.5), 2) AS med FROM spend
    ), dev AS (
      SELECT s.o_custkey, s.spend, m.med,
             round(abs(s.spend - m.med), 2) AS adev
      FROM spend s, med m
    ), mad AS (
      SELECT round(quantile_cont(adev, 0.5), 2) AS mad FROM dev
    )
    SELECT d.o_custkey, d.spend,
           round((d.spend - d.med) / (1.4826 * m.mad), 4) AS robust_z
    FROM dev d, mad m
    WHERE abs((d.spend - d.med) / (1.4826 * m.mad)) > 2.5
    """,
)
def dq_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation over the
    per-customer total spend — the DQ screen that survives heavy-tailed
    aggregates where mean/stddev z-scores drown (the outliers inflate the
    stddev that is supposed to catch them). robust_z = (x - median) /
    (1.4826 * MAD), flag |z| > 2.5.

    Scale shape: one grouped sum (map-side partials), two exact-percentile
    scalar aggregates broadcast back as single-row joins — no global sort,
    no window. Medians/MADs and spends are rounded to 2 decimals on both
    engines before the division so the cross-engine boundary at the 2.5
    cut is pinned (the percentile interpolation convention is already
    value-identical, see agg_percentile_exact)."""
    from pyspark import StorageLevel

    # customer-sized intermediates persisted: the median, MAD, and final
    # flag pass all read the cache — orders is scanned exactly once.
    spend = (
        load(spark, "orders", sf_dir)
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice").cast("double"), 2).alias("spend"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    med = spend.agg(F.round(F.expr("percentile(spend, 0.5)"), 2).alias("med"))
    dev = spend.join(F.broadcast(med)).withColumn(
        "adev", F.round(F.abs(F.col("spend") - F.col("med")), 2)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    mad = dev.agg(F.round(F.expr("percentile(adev, 0.5)"), 2).alias("mad"))
    z = (F.col("spend") - F.col("med")) / (1.4826 * F.col("mad"))
    return (
        dev.join(F.broadcast(mad))
        .filter(F.abs(z) > 2.5)
        .select("o_custkey", "spend", F.round(z, 4).alias("robust_z"))
    )


@query(
    "sample_train_val_test_split",
    """
    WITH assigned AS (
      SELECT doc_id, source,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                    THEN 'train'
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc, CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM assigned GROUP BY split, source
    """,
)
def sample_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test split keyed on md5(doc_id):
    the row's own key decides its split, so assignment is identical under
    any partitioning, engine, retry, or incremental backfill — documents
    added later NEVER migrate existing rows between splits (a rand(seed)
    split reshuffles on every layout change, silently leaking val into
    train). Byte thresholds 0xcc/0xe6 give 204/26/26 of 256. Pure map-side
    assignment; the only shuffle is the reporting aggregate."""
    d = load(spark, "documents", sf_dir)
    b = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
    )
    return (
        d.select("doc_id", "source", split.alias("split"))
        .groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@query(
    "dq_snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      WHERE o_orderkey % 113 != 0
    ), new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN round(o_totalprice + 10.0, 2)
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 101 != 0
    ), j AS (
      SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN n.o_orderkey IS NULL THEN 'removed'
                  WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                    OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                    THEN 'changed'
                  ELSE 'unchanged' END AS diff_class
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT diff_class, CAST(count(*) AS BIGINT) AS n_keys,
           CAST(min(o_orderkey) AS BIGINT) AS min_key
    FROM j GROUP BY diff_class
    """,
)
def dq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation between two table versions
    (sources/writers.py::snapshot_diff): deterministic synthetic drift —
    some keys deleted, some inserted, some repriced — classified
    added/removed/changed/unchanged by a single null-safe full-outer join.
    The summary is what a data-diff CI gate asserts on before promoting a
    snapshot."""
    from .sources.writers import snapshot_diff

    o = load(spark, "orders", sf_dir).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = o.filter(F.col("o_orderkey") % 113 != 0)
    new = o.filter(F.col("o_orderkey") % 101 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.round(F.col("o_totalprice") + 10.0, 2)
        ).otherwise(F.col("o_totalprice")),
    )
    d = snapshot_diff(old, new, "o_orderkey", ["o_totalprice", "o_orderstatus"])
    return d.groupBy("diff_class").agg(
        F.count("*").alias("n_keys"), F.min("o_orderkey").alias("min_key")
    )


@query(
    "dq_quarantine_bad_json",
    """
    WITH raw AS (
      SELECT event_id,
             CASE WHEN event_id % 41 = 0
                  THEN substring(props, 1, length(props) - 1)
                  ELSE props END AS props
      FROM events
    ), parsed AS (
      SELECT event_id,
             CASE WHEN json_valid(props)
                  THEN CAST(props->>'$.k' AS BIGINT) END AS k,
             NOT json_valid(props) AS bad
      FROM raw
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quarantined,
           CAST(sum(CASE WHEN NOT bad THEN k ELSE 0 END) AS BIGINT)
             AS k_sum_clean,
           CAST(min(CASE WHEN bad THEN event_id END) AS BIGINT)
             AS first_bad_id
    FROM parsed
    """,
)
def dq_quarantine_bad_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter ingestion pattern: semi-structured payloads that fail to
    parse are QUARANTINED (counted + identifiable), never silently nulled
    into the clean stream — deterministic corruption (1-in-41 rows lose
    their closing brace) exercises both routes. `from_json` in PERMISSIVE mode
    captures the raw text of unparseable input in the `_corrupt_record`
    column (a null struct field alone is NOT evidence of corruption — a
    parseable document with a missing key looks identical), and that
    column becomes the routing predicate; at
    100 TB the same predicate writes two sinks (clean / quarantine) from
    one scan. The oracle mirrors with json_valid."""
    e = load(spark, "events", sf_dir).select("event_id", "props")
    raw = e.withColumn(
        "props",
        F.when(
            F.col("event_id") % 41 == 0,
            F.col("props").substr(F.lit(1), F.length("props") - 1),
        ).otherwise(F.col("props")),
    )
    parsed = raw.select(
        "event_id",
        F.from_json(
            "props",
            "k bigint, _corrupt_record string",
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("j"),
    ).withColumn("bad", F.col("j._corrupt_record").isNotNull())
    return parsed.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("bad").cast("int")).alias("n_quarantined"),
        F.sum(
            F.when(~F.col("bad"), F.col("j.k")).otherwise(0)
        ).alias("k_sum_clean"),
        F.min(F.when(F.col("bad"), F.col("event_id"))).alias("first_bad_id"),
    )


@query(
    "dq_benford_first_digit",
    """
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), obs AS (
      SELECT digit, count(*) AS n FROM d GROUP BY digit
    ), t AS (SELECT sum(n) AS total FROM obs)
    SELECT digit, CAST(n AS BIGINT) AS n,
           round(n * 1.0 / t.total, 6) AS observed_p,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_p
    FROM obs CROSS JOIN t
    """,
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order totals — the classic
    fabricated-data detector for financial columns. First digit extracted
    from the floored integer rendering (explicit floor — DuckDB ROUNDS
    double→bigint casts where Spark truncates); one
    9-row aggregate + the closed-form expected distribution. A DQ suite
    flags columns whose observed_p diverges from benford_p (synthetic
    uniform data diverges by construction — the screen's point is the
    comparison, not conformity)."""
    o = load(spark, "orders", sf_dir).filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count("*").alias("n"))
    t = obs.groupBy().agg(F.sum("n").alias("total"))
    return obs.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(F.col("n") * 1.0 / F.col("total"), 6).alias("observed_p"),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_p"),
    )


@query(
    "dq_psi_drift",
    """
    WITH mm AS (
      SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
    ), b AS (
      SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 10.0)), 9)
                  AS BIGINT) AS bin,
             CASE WHEN o_orderdate <  TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END
               AS is_expected
      FROM orders CROSS JOIN mm
    ), cells AS (
      SELECT bin,
             sum(is_expected)     AS n_e,
             sum(1 - is_expected) AS n_a
      FROM b GROUP BY bin
    ), t AS (
      SELECT sum(n_e) AS te, sum(n_a) AS ta FROM cells
    ), terms AS (
      SELECT bin,
             (n_e + 0.5) / (te + 5.0) AS pe,
             (n_a + 0.5) / (ta + 5.0) AS pa
      FROM cells CROSS JOIN t
    )
    SELECT bin,
           round(pe, 6) AS pct_expected,
           round(pa, 6) AS pct_actual,
           round((pa - pe) * ln(pa / pe), 6) AS psi_term,
           round(sum((pa - pe) * ln(pa / pe)) OVER (), 6) AS psi_total
    FROM terms
    """,
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the pre-1998 ('expected') and
    1998+ ('actual') order-value distributions over 10 fixed-width bins —
    the drift metric scoring/data teams threshold on (>0.2 = action).
    Laplace smoothing (+0.5 per bin) makes empty bins well-defined on both
    engines without an epsilon fudge.

    Two column-pruned fact scans by design (min/max probe, then the binned
    aggregate — the probe reads one column); every later stage operates on
    the 10-row cell table, with totals as a window over it."""
    o = load(spark, "orders", sf_dir)
    mm = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    binned = o.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / 10.0)
            ),
            F.lit(9),
        )
        .cast("bigint")
        .alias("bin"),
        (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .cast("long")
        .alias("is_expected"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum("is_expected").alias("n_e"),
        F.sum(1 - F.col("is_expected")).alias("n_a"),
    )
    terms = cells.select(
        "bin",
        (
            (F.col("n_e") + 0.5)
            / (F.sum("n_e").over(Window.partitionBy()) + 5.0)
        ).alias("pe"),
        (
            (F.col("n_a") + 0.5)
            / (F.sum("n_a").over(Window.partitionBy()) + 5.0)
        ).alias("pa"),
    )
    term = (F.col("pa") - F.col("pe")) * F.log(F.col("pa") / F.col("pe"))
    return terms.select(
        "bin",
        F.round("pe", 6).alias("pct_expected"),
        F.round("pa", 6).alias("pct_actual"),
        F.round(term, 6).alias("psi_term"),
        F.round(F.sum(term).over(Window.partitionBy()), 6).alias("psi_total"),
    )


@query(
    "dq_order_total_consistency",
    """
    WITH r AS (
      SELECT l_orderkey,
             round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) AS DECIMAL(18,6)))
                        AS DOUBLE), 2) AS recomputed
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_checked,
           CAST(sum(CASE WHEN abs(recomputed - o_totalprice) > 0.02
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
           round(max(abs(recomputed - o_totalprice)), 2) AS max_abs_diff
    FROM r JOIN orders ON l_orderkey = o_orderkey
    """,
)
def dq_order_total_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table arithmetic-consistency rule: recompute each order's total
    from its line items (Σ extprice·(1−disc)·(1+tax)) and count orders whose
    header total disagrees beyond a money tolerance — the classic
    fact-vs-rollup reconciliation every warehouse DQ suite runs. (On this
    synthetic data the invariant intentionally does NOT hold, so the counts
    are the interesting output.)

    Determinism: the per-order Σ is a float sum whose value depends on
    partition merge order, so each product is cast to DECIMAL(18,6) first —
    decimal addition is exact and order-free — then rounded once. One scan
    of each fact; the join keys are both pre-aggregated to order
    cardinality, so AQE plans a shuffle join on co-granular sides."""
    li = load(spark, "lineitem", sf_dir)
    o = load(spark, "orders", sf_dir)
    r = li.groupBy("l_orderkey").agg(
        F.round(
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ).cast("decimal(18,6)")
            ).cast("double"),
            2,
        ).alias("recomputed")
    )
    j = r.join(o, r.l_orderkey == o.o_orderkey)
    bad = F.abs(F.col("recomputed") - F.col("o_totalprice")) > 0.02
    return j.agg(
        F.count("*").cast("bigint").alias("n_checked"),
        F.sum(bad.cast("long")).cast("bigint").alias("n_mismatch"),
        F.round(F.max(F.abs(F.col("recomputed") - F.col("o_totalprice"))), 2).alias(
            "max_abs_diff"
        ),
    )


@query(
    "dq_key_candidates",
    """
    SELECT 'o_orderkey' AS col, CAST(count(DISTINCT o_orderkey) AS BIGINT)
             AS n_distinct, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT o_orderkey) = count(*) AS INTEGER) AS is_key
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT o_custkey) = count(*) AS INTEGER)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(count(DISTINCT o_orderdate) AS BIGINT),
           CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT o_orderdate) = count(*) AS INTEGER)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) = count(*) AS INTEGER)
    FROM orders
    """,
)
def dq_key_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery: per column, exact distinct count vs row
    count (equal → the column is a unique key). The profiling primitive
    behind schema inference and MERGE-key validation.

    Single fact scan for ALL columns: one multi-count_distinct aggregate
    (Spark plans multi-distinct via a single expand+aggregate pass, not one
    scan per column), unpivoted to the per-column report shape. The oracle's
    four scans are DuckDB-side only."""
    o = load(spark, "orders", sf_dir)
    cols = ["o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"]
    agg = o.agg(
        F.count("*").alias("n_rows"),
        *[F.count_distinct(c).alias(f"d_{c}") for c in cols],
    )
    per_col = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(f"d_{c}").cast("bigint").alias("n_distinct"),
                        F.col("n_rows").cast("bigint").alias("n_rows"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    )
    return per_col.select(
        "s.col",
        "s.n_distinct",
        "s.n_rows",
        (F.col("s.n_distinct") == F.col("s.n_rows")).cast("int").alias("is_key"),
    )


@query(
    "dq_join_key_skew",
    """
    WITH k AS (
      SELECT l_orderkey AS key, count(*) AS c FROM lineitem GROUP BY l_orderkey
    ), t AS (
      SELECT sum(c) AS total, count(*) AS n_keys, max(c) AS max_c FROM k
    )
    SELECT CAST(t.n_keys AS BIGINT) AS n_keys,
           CAST(t.total AS BIGINT) AS n_rows,
           CAST(t.max_c AS BIGINT) AS max_key_rows,
           round(t.max_c * 1.0 / t.total, 6) AS max_key_share,
           round(t.max_c * 1.0 * t.n_keys / t.total, 2) AS skew_factor,
           CAST((SELECT count(*) FROM k CROSS JOIN t
                 WHERE c * 1.0 * n_keys / total > 10.0) AS BIGINT)
             AS n_hot_keys
    FROM t
    """,
)
def dq_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for lineitem.l_orderkey — the pre-flight check
    that decides between a plain shuffle join, AQE skew handling, or the
    explicit salted join (`join_skew_salted`). Reports the hottest key's
    share, the skew factor (hottest/mean), and how many keys exceed 10x the
    mean — the inputs to a salting-factor choice.

    One fact scan to key-cardinality counts (persisted); the profile and
    the hot-key count are two tiny aggregates over that reduction with the
    1-row totals broadcast."""
    from pyspark import StorageLevel

    li = load(spark, "lineitem", sf_dir)
    k = (
        li.groupBy(F.col("l_orderkey").alias("key"))
        .agg(F.count("*").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    t = k.agg(
        F.sum("c").alias("total"),
        F.count("*").alias("n_keys"),
        F.max("c").alias("max_c"),
    )
    hot = (
        k.crossJoin(F.broadcast(t))
        .filter(F.col("c") * 1.0 * F.col("n_keys") / F.col("total") > 10.0)
        .agg(F.count("*").alias("n_hot"))
    )
    return (
        t.crossJoin(F.broadcast(hot))
        .select(
            F.col("n_keys").cast("bigint").alias("n_keys"),
            F.col("total").cast("bigint").alias("n_rows"),
            F.col("max_c").cast("bigint").alias("max_key_rows"),
            F.round(F.col("max_c") * 1.0 / F.col("total"), 6).alias("max_key_share"),
            F.round(F.col("max_c") * 1.0 * F.col("n_keys") / F.col("total"), 2).alias(
                "skew_factor"
            ),
            F.col("n_hot").cast("bigint").alias("n_hot_keys"),
        )
    )


@query(
    "dq_pseudonymize_keys",
    """
    WITH c AS (
      SELECT c_custkey, md5('k:' || CAST(c_custkey AS VARCHAR)) AS tok
      FROM customer
    ), o AS (
      SELECT o_custkey, md5('k:' || CAST(o_custkey AS VARCHAR)) AS tok
      FROM orders
    )
    SELECT CAST((SELECT count(*) FROM c) AS BIGINT) AS n_customers,
           CAST((SELECT count(DISTINCT tok) FROM c) AS BIGINT)
             AS n_distinct_tokens,
           CAST((SELECT count(*) FROM orders o2
                 JOIN customer c2 ON o2.o_custkey = c2.c_custkey) AS BIGINT)
             AS n_joined_raw,
           CAST((SELECT count(*) FROM o JOIN c ON o.tok = c.tok) AS BIGINT)
             AS n_joined_pseudo
    """,
)
def dq_pseudonymize_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic key pseudonymization with referential integrity: every
    table maps the same salted md5 over the natural key, so joins work on
    tokens exactly as on raw keys while the keys themselves never leave the
    engine — the privacy-engineering primitive for sharing joinable
    datasets. The output proves the two contracts: token count equals key
    count (injective on this domain — collisions would show here), and the
    token-join row count equals the raw-key join row count.

    Pseudonymization is a pure scan expression (no shuffle of its own);
    the verification joins are the only shuffles, and they're the same
    joins the consumer would run."""
    from pyspark import StorageLevel

    # three consumers (count check + both verification joins) — persist the
    # 2-column tokenized projection so the customer scan runs exactly once
    c = (
        load(spark, "customer", sf_dir)
        .select(
            "c_custkey",
            F.md5(
                F.concat(F.lit("k:"), F.col("c_custkey").cast("string"))
            ).alias("tok"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    o = load(spark, "orders", sf_dir).select(
        "o_custkey",
        F.md5(F.concat(F.lit("k:"), F.col("o_custkey").cast("string"))).alias("tok"),
    )
    nc = c.agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.count_distinct("tok").cast("bigint").alias("n_distinct_tokens"),
    )
    raw = o.join(c, o.o_custkey == c.c_custkey).agg(
        F.count("*").cast("bigint").alias("n_joined_raw")
    )
    pseudo = o.select(F.col("tok").alias("otok")).join(
        c.select("tok"), F.col("otok") == F.col("tok")
    ).agg(F.count("*").cast("bigint").alias("n_joined_pseudo"))
    return nc.crossJoin(F.broadcast(raw)).crossJoin(F.broadcast(pseudo))


@query(
    "dq_corpus_health_report",
    """
    WITH base AS (
      SELECT doc_id, text,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x != '')) AS n_tok
      FROM documents
    ), toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x != '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            FOR i IN range(1, greatest(len(t) - 2, 1) + 1)])
               AS shingles
      FROM toks
    ), ex0 AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ), ex AS (
      SELECT * FROM ex0 WHERE shingle NOT IN (
        SELECT shingle FROM ex0 GROUP BY shingle HAVING count(*) > 25
      )
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), near AS (
      SELECT count(*) AS n_near_pairs FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_common * 5 >= 4 * (sa.n_sh + sb.n_sh - n_common)
    ), flat AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_exact_dup_rows,
             round(avg(n_tok), 2) AS avg_tokens,
             round(sum(CASE WHEN n_tok < 5 THEN 1 ELSE 0 END) * 1.0
                   / count(*), 6) AS pct_short
      FROM base
    )
    SELECT f.n_docs, f.n_exact_dup_rows,
           CAST(n.n_near_pairs AS BIGINT) AS n_near_dup_pairs,
           f.avg_tokens, f.pct_short
    FROM flat f, near n
    """,
)
def dq_corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health dashboard in one row: document count, exact-duplicate
    rows, skew-safe near-duplicate pairs (3-shingle Jaccard ≥ 0.8,
    stop-shingle cap 25 — the `dedup_ngram_jaccard_skewsafe` kernel),
    average token length, and the short-document fraction — the summary a
    curation pipeline gates on before training.

    One persisted 2-column projection feeds the flat statistics, the
    exact-dup distinct count, and the shingle kernel; everything reduces
    to broadcast 1-row aggregates combined without a collect."""
    from pyspark import StorageLevel

    from .operators import dedup as dd

    d = (
        load(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_tok = F.size(
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    )
    flat = d.select(n_tok.alias("n_tok"), "text").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.count("*") - F.count_distinct("text"))
        .cast("bigint")
        .alias("n_exact_dup_rows"),
        F.round(F.avg("n_tok"), 2).alias("avg_tokens"),
        F.round(
            F.sum((F.col("n_tok") < 5).cast("long")) / F.count("*"), 6
        ).alias("pct_short"),
    )
    near = (
        dd.ngram_jaccard_pairs(
            d, k_shingle=3, threshold=0.8, max_shingle_df=25
        )
        .agg(F.count("*").cast("bigint").alias("n_near_dup_pairs"))
    )
    return flat.crossJoin(F.broadcast(near)).select(
        "n_docs", "n_exact_dup_rows", "n_near_dup_pairs", "avg_tokens",
        "pct_short",
    )


@query(
    "dq_dup_rate_by_source",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT text) AS BIGINT) AS n_distinct,
           CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_dup_rows,
           round((count(*) - count(DISTINCT text)) * 1.0 / count(*), 6)
             AS dup_rate
    FROM documents GROUP BY source
    """,
)
def dq_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per ingestion source — the triage view that
    tells a curation team WHICH feed is pumping copies before any
    near-dup machinery runs (crawl mirrors typically sit at 30-60%,
    curated feeds near 0). One hash aggregate; count(DISTINCT text)
    hashes the text server-side, nothing string-sized reaches the
    driver."""
    d = load(spark, "documents", sf_dir)
    return d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count_distinct("text").cast("bigint").alias("n_distinct"),
        (F.count("*") - F.count_distinct("text"))
        .cast("bigint")
        .alias("n_dup_rows"),
        F.round(
            (F.count("*") - F.count_distinct("text")) / F.count("*"), 6
        ).alias("dup_rate"),
    )


@query(
    "dq_timestamp_sanity",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_ts,
           CAST(sum(CASE WHEN ts < TIMESTAMP '2000-01-01 00:00:00'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_before_2000,
           CAST(sum(CASE WHEN ts > TIMESTAMP '2030-01-01 00:00:00'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_after_2030,
           CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_epoch_zero,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
    FROM events
    """,
)
def dq_timestamp_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp sanity screen: nulls, epoch-zero sentinels (the classic
    1970-01-01 default-value bug), and values outside a plausible
    [2000, 2030) horizon — the first rule any event pipeline runs,
    because clock bugs silently poison every window, watermark, and
    retention metric downstream. One conditional-sum aggregate over one
    scan; the fixture is clean, so the screen's zero counts are
    themselves the assertion."""
    ev = load(spark, "events", sf_dir)
    lo = F.lit("2000-01-01 00:00:00").cast("timestamp")
    hi = F.lit("2030-01-01 00:00:00").cast("timestamp")
    return ev.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("ts").isNull().cast("long"))
        .cast("bigint")
        .alias("n_null_ts"),
        F.sum((F.col("ts") < lo).cast("long"))
        .cast("bigint")
        .alias("n_before_2000"),
        F.sum((F.col("ts") > hi).cast("long"))
        .cast("bigint")
        .alias("n_after_2030"),
        F.sum(
            (F.floor(F.col("ts").cast("double")).cast("bigint") == 0).cast(
                "long"
            )
        )
        .cast("bigint")
        .alias("n_epoch_zero"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
    )
