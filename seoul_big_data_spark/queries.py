"""Query registry — the driver contract surface (SURVEY.md §2 inventory).

Each entry pairs a Spark DataFrame program (``QUERIES[name]``) with an ANSI
SQL oracle (``ORACLES[name]``) that DuckDB runs over the same parquet tables.
Conventions for oracle parity (the driver hash-compares order-insensitively
after sorting columns by name):

- every computed column is aliased identically on both sides;
- double aggregates are ``round(x, 2)`` on both sides (float summation order
  differs between engines);
- timestamps in outputs are rendered as 'yyyy-MM-dd HH:mm:ss' strings;
- sums of integer columns are cast to BIGINT in DuckDB (whose SUM(int) is
  HUGEINT) to match Spark's long;
- sort semantics are validated via explicit rank columns (SURVEY.md §7.4.2);
- final-round convention on derived doubles (r7, ADVICE r6): a terminal
  ``round(x, k)`` is safe only when x cannot land exactly on a 10^-k
  midpoint — Spark rounds the binary double via BigDecimal HALF_UP while
  DuckDB scales-multiplies first, and the two disagree within an ulp of a
  midpoint. Quotients/products of exact integers or decimals CAN terminate
  on a midpoint, so queries whose output is a bare arithmetic derivation of
  exact inputs with shared op order emit UNROUNDED doubles (bit-identical,
  repr-canon-equal — ``timeseries_linear_interpolate``,
  ``events_interarrival_profile``); compositions through libm (sqrt/exp/
  log/pow of non-degenerate data) keep their round since their values are
  irrational off a measure-zero set. Legacy rounds on aggregate quotients
  are kept because the oracle validates them empirically; new or touched
  queries follow the rule above.

Operator IDs in each docstring refer to SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import ingest, joins, windows
from .functions import scalar
from .registry import ORACLES, QUERIES, query
from .sources.tables import load


def _r2(c):
    return F.round(c, 2)


# ---------------------------------------------------------------------------
# Flagship (entry smoke) — TPC-H Q1-style pricing summary.
# ---------------------------------------------------------------------------


@query(
    "flagship_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)      AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
             AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*)
             AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*)
             AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*)
             AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def flagship_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family aggregate breadth over the biggest fact table.

    Scale shape: filter pushed to the parquet scan, map-side partial
    aggregation, one shuffle on the 6-value group key. (Capabilities per
    SURVEY.md §2.4; reference computes only running counts,
    data_seoul_2_csv_noopenapi.py:112-127.)

    Money aggregates sum DECIMAL(18,4) (prices/discounts are exact 2-decimal
    values) then cast to double: double-sum results depend on shuffle merge
    order, decimal sums are exact and engine-independent.
    """
    li = load(spark, "lineitem", sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    cnt = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (1 - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (1 - disc) * (1 + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / cnt).alias("avg_qty"),
            (F.sum(price).cast("double") / cnt).alias("avg_price"),
            (F.sum(disc).cast("double") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# M1 — resumable ingest slice (the reference's core loop as one lazy plan).
# ---------------------------------------------------------------------------


@query(
    "ingest_resume_load",
    """
    SELECT * FROM (
      SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS ID,
             l_orderkey, l_linenumber, l_quantity, l_returnflag
      FROM lineitem
    ) WHERE ID > 3000
    """,
)
def ingest_resume_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 row numbering + F6 resume filter + P1 projection — the M1 slice
    (ref loop: data_seoul_2_csv_noopenapi.py:113-128). Uses the range-
    partitioned two-pass numbering (no global single-reducer sort); its
    equivalence to the windowed form is pinned in test_m1_ingest.py."""
    li = load(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    out = ingest.numbered_ordered_scalable(li, ["l_orderkey", "l_linenumber"])
    return ingest.resume_filter(out, 3000).select(
        "ID", "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


@query(
    "ingest_audit_count",
    """
    SELECT count(*) AS data_insert_row FROM (
      SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS ID
      FROM lineitem
    ) WHERE ID > 3000
    """,
)
def ingest_audit_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/C8 — loaded-row audit count after resume
    (ref: data_seoul_2_csv_noopenapi.py:133-140)."""
    li = load(spark, "lineitem", sf_dir).select("l_orderkey", "l_linenumber")
    out = ingest.resume_filter(
        ingest.numbered_ordered_scalable(li, ["l_orderkey", "l_linenumber"]), 3000
    )
    return out.agg(F.count("*").alias("data_insert_row"))


# ---------------------------------------------------------------------------
# M2 — predicates / projections (F*, P*).
# ---------------------------------------------------------------------------


@query(
    "filter_eq",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 equality predicate, pushed to the parquet scan
    (ref: data_seoul_1_category.py:43)."""
    return (
        load(spark, "lineitem", sf_dir)
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_returnflag")
    )


@query(
    "filter_isnull",
    """
    SELECT o_orderkey, o_orderstatus
    FROM orders WHERE nullif(o_orderstatus, 'P') IS NULL
    """,
)
def filter_isnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 IS NULL predicate (ref: data_seoul_1_category.py:44, CATEGORY_BIG
    IS NULL); the test tables have no nulls so one is derived via nullif."""
    o = load(spark, "orders", sf_dir)
    return o.filter(F.nullif(F.col("o_orderstatus"), F.lit("P")).isNull()).select(
        "o_orderkey", "o_orderstatus"
    )


@query(
    "filter_inlist",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    """,
)
def filter_inlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 IN-list predicate (ref: data_seoul_2_csv_noopenapi.py:46)."""
    return (
        load(spark, "customer", sf_dir)
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@query(
    "filter_modulo_stride",
    """
    SELECT l_linestatus, count(*) AS n
    FROM lineitem WHERE l_orderkey % 3 = 0
    GROUP BY l_linestatus
    """,
)
def filter_modulo_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 stride/modulo predicate (ref: data_seoul_3_csv.py:132 idx%3==0)."""
    return (
        load(spark, "lineitem", sf_dir)
        .filter(F.col("l_orderkey") % 3 == 0)
        .groupBy("l_linestatus")
        .agg(F.count("*").alias("n"))
    )


@query(
    "filter_neq_case_when",
    """
    SELECT o_orderkey, o_orderpriority,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 'hot'
                WHEN o_orderpriority = '2-HIGH'   THEN 'warm'
                ELSE 'cold' END AS heat
    FROM orders WHERE o_orderstatus <> 'F'
    """,
)
def filter_neq_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 inequality + F9 conditional branch
    (ref: data_seoul_3_csv.py:133, 94-106)."""
    o = load(spark, "orders", sf_dir)
    heat = (
        F.when(F.col("o_orderpriority") == "1-URGENT", "hot")
        .when(F.col("o_orderpriority") == "2-HIGH", "warm")
        .otherwise("cold")
    )
    return o.filter(F.col("o_orderstatus") != "F").select(
        "o_orderkey", "o_orderpriority", heat.alias("heat")
    )


@query(
    "project_rename_drop",
    """
    SELECT p_partkey AS part_id, p_name AS part_name, p_retailprice AS price
    FROM part
    """,
)
def project_rename_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 projection + P2 rename + P3 drop
    (ref: data_seoul_1_category.py:41,50-52)."""
    return (
        load(spark, "part", sf_dir)
        .select("p_partkey", "p_name", "p_retailprice", "p_brand")
        .withColumnsRenamed(
            {"p_partkey": "part_id", "p_name": "part_name", "p_retailprice": "price"}
        )
        .drop("p_brand")
    )


# ---------------------------------------------------------------------------
# M3 — joins & windows (J*, W1, S*).
# ---------------------------------------------------------------------------


@query(
    "join_catalog_dims",
    """
    SELECT r.r_name AS region_name, count(*) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def join_catalog_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2 — the reference's correlated per-row catalog lookups
    (data_seoul_2_csv_noopenapi.py:74-96) as broadcast hash joins."""
    c = load(spark, "customer", sf_dir)
    n = load(spark, "nation", sf_dir)
    r = load(spark, "region", sf_dir)
    return (
        joins.broadcast_lookup(c, n, c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_acctbal"),
        )
    )


@query(
    "join_anti_pending",
    """
    SELECT c_custkey FROM customer
    WHERE c_custkey NOT IN (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    """,
)
def join_anti_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — pending-work anti-join (the CATEGORY_BIG IS NULL pattern,
    data_seoul_1_category.py:44): customers with no urgent order yet (the
    urgent subset keeps the result non-empty in the synthetic data)."""
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir).filter(F.col("o_orderpriority") == "1-URGENT")
    return joins.pending_work(
        c.select(F.col("c_custkey")),
        o.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
    )


@query(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join — EXISTS over the order fact."""
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir)
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_left_outer_agg",
    """
    SELECT c.c_custkey, count(o.o_orderkey) AS n_orders,
           CAST(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE)
             AS total_spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left_outer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(12,2)")), F.lit(0)
            )
            .cast("double")
            .alias("total_spend"),
        )
    )


@query(
    "window_latest_per_group",
    """
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
      ) AS rn FROM orders
    ) WHERE rn = 1
    """,
)
def window_latest_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — latest order per customer (ref: per-row ORDER BY ID DESC +
    fetchall()[0], data_seoul_2_csv_noopenapi.py:74-79).

    Registered plan is the max_by aggregate form (map-side combine: the
    shuffle carries one candidate per task x customer, not every order);
    (o_orderdate, o_orderkey) is a total order per customer, so it returns
    exactly the window form's rows — equivalence pinned in
    tests/test_operators.py."""
    o = load(spark, "orders", sf_dir)
    latest = windows.latest_per_group_agg(
        o, ["o_custkey"], ["o_orderdate", "o_orderkey"]
    )
    return latest.select(
        "o_custkey",
        "o_orderkey",
        scalar.format_timestamp("o_orderdate").alias("order_ts"),
    )


@query(
    "window_topk_per_group",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
             ) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (S1/S3 sort+limit generalized; rank column carries
    order per SURVEY.md §7.4.2)."""
    o = load(spark, "orders", sf_dir).select(
        "o_custkey", "o_orderkey", _r2(F.col("o_totalprice")).alias("price"), "o_totalprice"
    )
    out = windows.top_k_per_group(
        o, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 3
    )
    return out.select("o_custkey", "o_orderkey", "price", "rk")


@query(
    "sort_with_rank",
    """
    SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal,
           row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS rk
    FROM supplier
    """,
)
def sort_with_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 — global sort validated via rank column."""
    s = load(spark, "supplier", sf_dir)
    out = windows.with_rank(s, [F.desc("s_acctbal"), F.asc("s_suppkey")])
    return out.select(
        "s_suppkey", "s_name", _r2(F.col("s_acctbal")).alias("acctbal"), "rk"
    )


@query(
    "limit_first",
    """
    SELECT o_orderkey, o_custkey FROM (
      SELECT *, row_number() OVER (ORDER BY o_orderkey) AS rn FROM orders
    ) WHERE rn = 1
    """,
)
def limit_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — deterministic first-row (the reference's fetchall()[0],
    data_seoul_2_csv_noopenapi.py:78). Scale shape: min-key as a broadcast
    1-row aggregate joined back — a map-side min + one lookup, never a
    single-reducer row_number window over the fact."""
    o = load(spark, "orders", sf_dir)
    mn = o.agg(F.min("o_orderkey").alias("o_orderkey"))
    return o.join(F.broadcast(mn), "o_orderkey").select("o_orderkey", "o_custkey")


# ---------------------------------------------------------------------------
# Domain registries (import for side effect: they register into QUERIES /
# ORACLES). Kept as separate modules so the inventory stays navigable.
# ---------------------------------------------------------------------------

from . import q_scalar  # noqa: E402,F401  (X* scalar function layer)
from . import q_agg  # noqa: E402,F401  (aggregation / set-op / window breadth)
from . import q_events  # noqa: E402,F401  (events: JSON, time windows, sessions)
from . import q_text  # noqa: E402,F401  (N4 text analysis + N1/N2 dedup)
from . import q_ml  # noqa: E402,F401  (N3 similarity search + multimodal)
from . import q_tpch  # noqa: E402,F401  (multi-join star-schema analytics)
from . import q_misc  # noqa: E402,F401  (arrays/maps/nulls/frames/sliding windows)
from . import q_stats  # noqa: E402,F401  (moments, TPC-H Q4/Q6/Q12/Q18, TF-IDF, cosine near-dup)
from . import q_dq  # noqa: E402,F401  (data-quality rules, profiling, deterministic sampling)
from . import q_mlprep  # noqa: E402,F401  (corpus hygiene: repetition, contamination, PII, mixture sampling)
from . import sql_interface  # noqa: E402,F401  (ad-hoc SQL surface, shared-dialect parity)
from . import q_sketches  # noqa: E402,F401  (portable Count-Min / Bloom sketches)
from . import q_advanced  # noqa: E402,F401  (skyline, survival, CUSUM, encoders, A-ES sampling, SNM blocking)
from . import q_recsys  # noqa: E402,F401  (item-item collaborative filtering, phrase search)

__all__ = ["QUERIES", "ORACLES", "query"]
