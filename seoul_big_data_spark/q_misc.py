"""Breadth queries: array/map expressions, null-handling scalars, string
predicates, advanced window frames, sliding time windows (SURVEY.md §2.7
engine scope + §2.5/§2.8)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .registry import query
from .sources.tables import load

_DUCK_TOKENS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')"


@query(
    "array_functions",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INTEGER)                          AS n_toks,
           array_to_string(toks[1:3], ' ')                     AS first3,
           array_to_string(list_sort(list_distinct(toks)), ',') AS sorted_vocab,
           CAST(list_contains(toks, 'data') AS BOOLEAN)        AS has_data,
           CAST(len(list_filter(toks, x -> length(x) > 5)) AS INTEGER)
             AS n_long_toks
    FROM t
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array expression family: size/slice/sort/distinct/contains/filter —
    all higher-order Catalyst functions, no UDFs."""
    d = load(spark, "documents", sf_dir)
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != F.lit(""))
    t = d.select("doc_id", toks.alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        F.array_join(F.slice("toks", 1, 3), " ").alias("first3"),
        F.array_join(F.array_sort(F.array_distinct("toks")), ",").alias(
            "sorted_vocab"
        ),
        F.array_contains("toks", "data").alias("has_data"),
        F.size(F.filter("toks", lambda x: F.length(x) > 5)).alias("n_long_toks"),
    )


@query(
    "map_functions",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
           CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                THEN 'k' END AS first_key
    FROM events
    """,
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map expression family over JSON props parsed to MapType:
    element_at + map_keys (engine scope, §2.7)."""
    e = load(spark, "events", sf_dir)
    m = F.from_json("props", T.MapType(T.StringType(), T.IntegerType()))
    return e.select(
        "event_id",
        F.element_at(m, "k").alias("k_val"),
        F.element_at(F.map_keys(m), 1).alias("first_key"),
    )


@query(
    "null_handling",
    """
    SELECT o_orderkey,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING')       AS status_or_default,
           CAST(nullif(o_orderstatus, 'P') IS NULL AS BOOLEAN)   AS is_pending,
           greatest(o_totalprice, 100000.0)                      AS floored_price,
           least(CAST(o_orderkey % 100 AS BIGINT), 50)           AS capped_mod
    FROM orders
    """,
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce / nullif / greatest / least (engine scope, §2.7)."""
    o = load(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")).alias(
            "status_or_default"
        ),
        F.nullif("o_orderstatus", F.lit("P")).isNull().alias("is_pending"),
        F.greatest("o_totalprice", F.lit(100000.0)).alias("floored_price"),
        F.least((F.col("o_orderkey") % 100).cast("long"), F.lit(50).cast("long")).alias(
            "capped_mod"
        ),
    )


@query(
    "string_predicates",
    """
    SELECT p_partkey, p_name
    FROM part
    WHERE starts_with(p_type, 'STANDARD')
       OR p_name LIKE '%green%'
       OR contains(p_brand, '#3')
    """,
)
def string_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """startswith / LIKE / contains predicate pushdown surface."""
    p = load(spark, "part", sf_dir)
    return p.filter(
        F.col("p_type").startswith("STANDARD")
        | F.col("p_name").like("%green%")
        | F.col("p_brand").contains("#3")
    ).select("p_partkey", "p_name")


@query(
    "window_range_frame",
    """
    SELECT o_orderkey, o_custkey,
           first_value(o_orderkey) OVER w AS first_in_cust,
           last_value(o_orderkey)  OVER w_full AS last_in_cust,
           nth_value(o_orderkey, 2) OVER w_full AS second_in_cust,
           CAST(count(*) OVER (PARTITION BY o_custkey
                 ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
                 RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS orders_last_30d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value + a RANGE frame over epoch seconds (trailing
    30-day order count) — the value-based frame family."""
    o = load(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # o_orderdate is TIMESTAMP_NTZ (parquet ms): NTZ→long needs an
    # intermediate timestamp cast (session TZ is pinned to UTC).
    w_range = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-2592000, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_in_cust"),
        F.last("o_orderkey").over(w_full).alias("last_in_cust"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_in_cust"),
        F.count("*").over(w_range).alias("orders_last_30d"),
    )


@query(
    "events_sliding_window",
    """
    WITH slid AS (
      SELECT e.event_type, e.value,
             date_trunc('hour', e.ts) - (k.k * INTERVAL 1 HOUR) AS w_start
      FROM events e, (SELECT unnest(range(2)) AS k) k
      WHERE date_trunc('hour', e.ts) - (k.k * INTERVAL 1 HOUR)
            + INTERVAL 2 HOUR > e.ts
    )
    SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n_events
    FROM slid GROUP BY w_start, event_type
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2-hour width, 1-hour slide) via F.window — each event
    lands in 2 overlapping windows; batch form of the streaming sliding agg."""
    e = load(spark, "events", sf_dir)
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
        )
    )


@query(
    "explode_outer_variants",
    """
    SELECT doc_id, token_pos, token FROM (
      SELECT doc_id,
             generate_subscripts(toks, 1) - 1 AS token_pos,
             unnest(toks) AS token
      FROM (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN NULL
                    ELSE list_filter(string_split_regex(trim(text), '\\s+'),
                                     x -> x != '') END AS toks
        FROM documents WHERE doc_id < 50
      )
    )
    UNION ALL
    SELECT doc_id, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
    FROM documents WHERE doc_id < 50 AND length(trim(text)) = 0
    """,
)
def explode_outer_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer — table-generating explode that preserves rows whose
    array is null/empty (the UDTF-equivalent surface, SURVEY.md §2.9)."""
    d = load(spark, "documents", sf_dir).filter(F.col("doc_id") < 50)
    toks = F.when(
        F.length(F.trim("text")) == 0, F.lit(None).cast("array<string>")
    ).otherwise(F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != F.lit("")))
    return d.select(
        "doc_id", F.posexplode_outer(toks).alias("token_pos", "token")
    ).select("doc_id", F.col("token_pos").cast("long").alias("token_pos"), "token")


@query(
    "union_by_name_missing",
    """
    SELECT c_custkey AS entity_id, c_name AS name, c_acctbal AS balance,
           'customer' AS kind
    FROM customer
    UNION ALL
    SELECT s_suppkey, s_name, CAST(NULL AS DOUBLE), 'supplier'
    FROM supplier
    """,
)
def union_by_name_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns=True) — schema-evolving union (the
    engine's answer to the reference's drifting per-dataset schemas)."""
    c = load(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("balance"),
        F.lit("customer").alias("kind"),
    )
    s = load(spark, "supplier", sf_dir).select(
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_name").alias("name"),
        F.lit("supplier").alias("kind"),
    )
    return c.unionByName(s, allowMissingColumns=True)


@query(
    "agg_mode_deterministic",
    """
    SELECT o_orderstatus, o_orderpriority AS mode_priority FROM (
      SELECT o_orderstatus, o_orderpriority,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY count(*) DESC, o_orderpriority) AS rn
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ) WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value) with a deterministic tie-break — the
    count+window derivation both engines agree on (native mode() breaks ties
    arbitrarily)."""
    o = load(spark, "orders", sf_dir)
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), F.asc("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"))
    )


@query(
    "agg_percentile_approx",
    """
    SELECT l_returnflag,
           quantile_disc(l_extendedprice, 0.25) AS p25,
           quantile_disc(l_extendedprice, 0.5)  AS p50,
           quantile_disc(l_extendedprice, 0.75) AS p75,
           quantile_disc(l_extendedprice, 0.99) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile — the sketch-based scale path for quantiles
    (mergeable map-side summaries; exact `percentile` is the sort-based
    surface in agg_stats).

    Oracle-checked (converted from rows-only, VERDICT r5 #5): with
    accuracy > the group row count, the GK summary never compresses, so
    the sketch path returns the EXACT discrete quantile — the selected
    value is a parquet element, identical bits on both engines. The rank
    agreement with DuckDB's quantile_disc is EMPIRICAL, not definitional:
    tests/test_percentile_rank.py pins it on distinct-valued data across
    group sizes where a ceil-based q*n rank and floor(q*(n-1))+1 would
    pick different elements (incl. q=.75, n=2002), so a silent rank-form
    change on either engine fails tests before it can flip the gate.
    At a corpus where n >> accuracy the same plan degrades gracefully to
    approximate — the gate certifies the sketch machinery, not a lucky
    approximation."""
    acc = 2_000_000  # > any group's row count at gate scale => exact mode
    return (
        load(spark, "lineitem", sf_dir)
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.25, acc).alias("p25"),
            F.percentile_approx("l_extendedprice", 0.5, acc).alias("p50"),
            F.percentile_approx("l_extendedprice", 0.75, acc).alias("p75"),
            F.percentile_approx("l_extendedprice", 0.99, acc).alias("p99"),
        )
    )


@query(
    "window_zscore_per_group",
    """
    WITH s AS (
      SELECT c_mktsegment,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))
                      * CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS syy
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment,
           round((c.c_acctbal - s.sy / s.n)
                 / sqrt((s.syy - s.sy * s.sy / s.n) / (s.n - 1)), 6) AS zscore
    FROM customer c JOIN s ON c.c_mktsegment = s.c_mktsegment
    """,
)
def window_zscore_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group normalization (z-score by market segment) as a broadcast of
    exact group sums — the native form of a grouped-map transform. The
    applyInPandas twin (operators/grouped_map.py) computes the same thing
    through the Arrow grouped-map path; tests assert they agree."""
    from .operators.grouped_map import zscore_native

    return zscore_native(
        load(spark, "customer", sf_dir), "c_mktsegment", "c_acctbal", "c_custkey"
    )


@query(
    "unpivot_melt",
    """
    SELECT l_orderkey, l_linenumber, metric, round(value, 2) AS value
    FROM (
      SELECT l_orderkey, l_linenumber,
             l_quantity AS qty, l_extendedprice AS price, l_tax AS tax
      FROM lineitem WHERE l_orderkey < 100
    ) UNPIVOT (value FOR metric IN (qty, price, tax))
    """,
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt — wide→long reshape (inverse of agg_pivot)."""
    li = (
        load(spark, "lineitem", sf_dir)
        .filter(F.col("l_orderkey") < 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").alias("qty"),
            F.col("l_extendedprice").alias("price"),
            F.col("l_tax").alias("tax"),
        )
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["qty", "price", "tax"],
        "metric",
        "value",
    ).select(
        "l_orderkey", "l_linenumber", "metric", F.round("value", 2).alias("value")
    )


@query(
    "fuzzy_levenshtein",
    """
    SELECT p_partkey, p_brand,
           levenshtein(p_brand, 'Brand#11') AS dist
    FROM part WHERE levenshtein(p_brand, 'Brand#11') <= 2
    """,
)
def fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching — the approximate-string-join kernel
    (at scale: length + prefix blocking before the distance evaluation)."""
    p = load(spark, "part", sf_dir)
    dist = F.levenshtein("p_brand", F.lit("Brand#11"))
    return p.filter(dist <= 2).select(
        "p_partkey", "p_brand", dist.alias("dist")
    )


@query(
    "calendar_fill_gaps",
    """
    WITH bounds AS (
      SELECT date_trunc('day', min(o_orderdate)) AS lo,
             date_trunc('day', max(o_orderdate)) AS hi
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                    AND o_orderdate <  TIMESTAMP '1997-03-01 00:00:00'
    ), cal AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
    ), daily AS (
      SELECT date_trunc('day', o_orderdate) AS day, count(*) AS n
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                    AND o_orderdate <  TIMESTAMP '1997-03-01 00:00:00'
      GROUP BY 1
    )
    SELECT strftime(c.day, '%Y-%m-%d') AS day,
           CAST(coalesce(d.n, 0) AS BIGINT) AS n_orders
    FROM cal c LEFT JOIN daily d ON c.day = d.day
    """,
)
def calendar_fill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-series densification: generate the full calendar with
    ``sequence`` + explode and left-join daily counts so zero-order days
    appear — the time-series gap-fill primitive."""
    o = load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-03-01").cast("timestamp"))
    )
    bounds = o.agg(
        F.date_trunc("day", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("day", F.max("o_orderdate")).alias("hi"),
    )
    cal = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    daily = o.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day")).agg(
        F.count("*").alias("n")
    )
    return cal.join(daily, "day", "left").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"),
    )


@query(
    "enrich_categories_stub",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS id,
           CASE WHEN n_nationkey % 2 = 0 THEN 'done'
                ELSE 'Cat-Key' || CAST(n_nationkey AS VARCHAR)
           END AS category_big,
           CASE WHEN n_nationkey % 2 = 0 THEN NULL
                ELSE 'Sub-Key' || CAST(n_nationkey AS VARCHAR)
           END AS category_small
    FROM nation
    """,
)
def enrich_categories_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5/X17 + C7 — the category-enrichment pipeline end to end with a
    deterministic stub transport: pending-work filter → partition-parallel
    mapInPandas fetch+parse → merge_update write-back
    (pipelines/category_enrich.py; ref: data_seoul_1_category.py:57-85).
    The fetch/extract/merge logic is byte-identical to what a live transport
    would run; only the socket is faked (container has no network) — and
    because the stub derives the page from the key, the whole pipeline
    (URL build → fetch → HTML parse → whitespace strip → merge) is
    oracle-checkable: the oracle states the expected end-to-end result."""
    from .pipelines.category_enrich import run as enrich_run

    n = load(spark, "nation", sf_dir)
    catalog = n.select(
        F.col("n_nationkey").cast("long").alias("id"),
        F.lit(1).alias("collect_site_id"),
        F.col("n_name").alias("data_name"),
        F.concat(F.lit("Key"), F.col("n_nationkey")).alias("data_origin_key"),
        F.lit("CSV").alias("collect_data_type"),
        F.lit("http://x/").alias("collect_url_link"),
        F.lit("Y").alias("is_collect_yn"),
        F.when(F.col("n_nationkey") % 2 == 0, F.lit("done")).alias("category_big"),
        F.lit(None).cast("string").alias("category_small"),
    )

    def stub_transport(url: str) -> str:
        key = url.rsplit("/", 1)[-1]
        return (
            '<strong class="side-detail-ctg">\tCat-%s\n</strong>'
            '<span class="side-detail-stitle"><a>Sub-%s</a></span>' % (key, key)
        )

    return enrich_run(catalog, stub_transport).select(
        "id", "category_big", "category_small"
    )


@query(
    "csv_roundtrip_load",
    """
    WITH top1000 AS (
      SELECT l_orderkey, l_quantity FROM (
        SELECT l_orderkey, l_quantity,
               row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rk
        FROM lineitem
      ) WHERE rk <= 1000
    ), seq AS (
      -- the CSV is written ordered on STRING-cast columns: lexicographic
      SELECT l_quantity,
             row_number() OVER (ORDER BY CAST(l_orderkey AS VARCHAR),
                                         CAST(l_quantity AS VARCHAR)) AS id
      FROM top1000
    )
    SELECT count(*) AS n_loaded, CAST(min(id) AS INTEGER) AS first_id,
           CAST(sum(l_quantity) AS DOUBLE) AS qty_sum
    FROM seq WHERE id > 100
    """,
)
def csv_roundtrip_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/F5/F6/J3 — the full CSV ingest path on the driver surface: a
    deterministic CSV is materialized from lineitem, then loaded through
    sources/csv_ingest.py (all-string scan, header skip, row numbering,
    resume filter, catalog-schema bind + NUMBER/DATE coercion — the
    reference's TMP_<id>.csv loop, data_seoul_2_csv_noopenapi.py:81-128).
    Oracle-checkable because the aggregate is order-insensitive at ties:
    rows tied on the CSV sort key share the same quantity, so the resume
    boundary excludes the same values whichever tied row lands first."""
    import os
    import tempfile

    from .operators.windows import with_rank
    from .sources.csv_ingest import load_csv_with_catalog_schema

    li = load(spark, "lineitem", sf_dir)
    sample = (
        with_rank(li, [F.asc("l_orderkey"), F.asc("l_linenumber")])
        .filter(F.col("rk") <= 1000)
        .select(
            F.col("l_orderkey").cast("string"),
            F.col("l_quantity").cast("string"),
            F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss").alias("ship"),
        )
        .orderBy("l_orderkey", "l_quantity")
    )
    path = os.path.join(tempfile.gettempdir(), "seoul_csv_roundtrip")
    sample.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    out, _ = load_csv_with_catalog_schema(
        spark,
        path,
        column_names=["COL_001", "COL_002", "COL_003"],
        column_types=["NUMBER", "NUMBER", "DATE"],
        start_idx=100,
    )
    return out.agg(
        F.count("*").alias("n_loaded"),
        F.min("ID").alias("first_id"),
        F.sum(F.col("COL_002")).cast("double").alias("qty_sum"),
    )


@query(
    "timeseries_locf_interpolate",
    """
    WITH w AS (
      SELECT user_id, date_trunc('hour', ts) AS hr, value FROM events
      WHERE user_id < 50 AND ts >= TIMESTAMP '2024-01-01 00:00:00'
                         AND ts <  TIMESTAMP '2024-01-03 00:00:00'
    ), hourly AS (
      SELECT user_id, hr,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)
               AS v
      FROM w GROUP BY user_id, hr
    ), bounds AS (
      SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM hourly GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      FROM bounds
    ), joined AS (
      SELECT g.user_id, g.hr, h.v FROM grid g
      LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
    )
    SELECT user_id, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hr ROWS UNBOUNDED PRECEDING
           ) AS v_locf,
           CASE WHEN v IS NULL THEN 1 ELSE 0 END AS was_gap
    FROM joined
    """,
)
def timeseries_locf_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series LOCF interpolation: per-user hourly grid densified with
    ``sequence``+explode, gaps filled by last-observation-carried-forward
    (``last(..., ignorenulls=True)`` over an unbounded-preceding frame) with
    a ``was_gap`` marker. The grid explode is per-user-bounded (no global
    calendar cross join) and the fill is one window over the user partition —
    one shuffle total; the standard sensor/metrics densification shape."""
    e = load(spark, "events", sf_dir).filter(
        (F.col("user_id") < 50)
        & (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-03").cast("timestamp"))
    )
    hourly = (
        e.withColumn("hr", F.date_trunc("hour", "ts"))
        .groupBy("user_id", "hr")
        # Exact DECIMAL sum (order-independent) then one double division —
        # round(avg(<double>), 6) was order-dependent at 6-decimal rounding
        # boundaries between Spark's partial aggregation and DuckDB.
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("value")
            ).alias("v")
        )
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
        )
    )
    joined = grid.join(hourly, ["user_id", "hr"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
        F.last("v", ignorenulls=True).over(w).alias("v_locf"),
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("was_gap"),
    )


@query(
    "timeseries_ewma_trailing",
    """
    WITH w AS (
      SELECT user_id, date_trunc('hour', ts) AS hr, value FROM events
      WHERE user_id < 30
    ), hourly AS (
      SELECT user_id, hr,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)
               AS v
      FROM w GROUP BY user_id, hr
    ), framed AS (
      SELECT user_id, hr,
             list(v) OVER (
               PARTITION BY user_id ORDER BY hr
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW
             ) AS arr
      FROM hourly
    )
    SELECT user_id,
           strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           round(
             list_reduce(arr, (acc, x) -> acc / 2 + x)
             / list_reduce(list_transform(arr, x -> CAST(1 AS DOUBLE)),
                           (acc, x) -> acc / 2 + x),
             6) AS ewma
    FROM framed
    """,
)
def timeseries_ewma_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window EWMA (alpha = 1/2, 24-hour window) over per-user
    hourly series — the metrics-smoothing primitive. The window collects the
    trailing frame as an array (frame order = time order) and Horner-folds
    it: acc' = acc/2 + x gives sum(x_j / 2^lag) with only exact halvings and
    IEEE additions in a fixed sequential order — bit-deterministic
    cross-engine, which libm pow() weights would not guarantee (Spark's
    fold seeds acc=0.0, DuckDB's list_reduce seeds with the first element;
    0/2 + x1 == x1 exactly, so the folds coincide). The normalizer is the
    same fold over all-ones = 2 - 2^-(n-1). One shuffle for the hourly
    rollup, one window — no state, no recursion, scales per-key."""
    e = load(spark, "events", sf_dir).filter(F.col("user_id") < 30)
    hourly = (
        e.withColumn("hr", F.date_trunc("hour", "ts"))
        .groupBy("user_id", "hr")
        # exact DECIMAL sum then one double division (order-independent);
        # see timeseries_linear_interpolate for the defect class.
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("value")
            ).alias("v")
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(-23, Window.currentRow)
    )
    framed = hourly.select(
        "user_id", "hr", F.collect_list("v").over(w).alias("arr")
    )
    wsum = F.aggregate(
        F.col("arr"), F.lit(0.0), lambda acc, x: acc / F.lit(2) + x
    )
    norm = F.aggregate(
        F.col("arr"), F.lit(0.0), lambda acc, x: acc / F.lit(2) + F.lit(1.0)
    )
    return framed.select(
        "user_id",
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
        F.round(wsum / norm, 6).alias("ewma"),
    )


@query(
    "setop_except_all",
    """
    SELECT o_custkey AS custkey FROM orders
    EXCEPT ALL
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
    """,
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag-semantics difference (§2.6 completes the set-op
    family beyond the DISTINCT forms): a customer with k orders and one
    positive-balance row keeps k-1 copies. Spark plans it as a count-paired
    hash aggregate + generate, one shuffle on the key — never a sort."""
    o = load(spark, "orders", sf_dir).select(F.col("o_custkey").alias("custkey"))
    c = (
        load(spark, "customer", sf_dir)
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return o.exceptAll(c)


@query(
    "setop_intersect_all",
    """
    SELECT o_custkey AS custkey FROM orders
    INTERSECT ALL
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
    """,
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag-semantics intersection (min of per-side
    multiplicities); same one-shuffle count-paired shape as EXCEPT ALL."""
    o = load(spark, "orders", sf_dir).select(F.col("o_custkey").alias("custkey"))
    c = (
        load(spark, "customer", sf_dir)
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return o.intersectAll(c)


@query(
    "join_null_safe_eq",
    """
    WITH l AS (
      SELECT nullif(o_orderstatus, 'P') AS status, count(*) AS n_orders
      FROM orders GROUP BY 1
    ), r AS (
      SELECT nullif(o_orderstatus, 'P') AS status,
             CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1
    )
    SELECT l.status, l.n_orders, round(r.total, 2) AS total
    FROM l JOIN r ON l.status IS NOT DISTINCT FROM r.status
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of silently dropping — the semantics dimension-lookup
    joins need when the key is genuinely absent. Both sides pre-aggregate to
    one row per key (NULL included), so the null bucket cannot explode; the
    join itself hash-partitions on the null-safe key like any equi-join."""
    o = load(spark, "orders", sf_dir)
    status = F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status")
    l = o.groupBy(status).agg(F.count("*").alias("n_orders"))
    r = o.groupBy(status).agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total")
    )
    return l.join(r, l.status.eqNullSafe(r.status)).select(
        l.status, "n_orders", F.round("total", 2).alias("total")
    )


@query(
    "window_distribution_family",
    """
    SELECT s_suppkey,
           round(percent_rank() OVER w, 6) AS prank,
           round(cume_dist() OVER w, 6) AS cdist,
           ntile(8) OVER w AS octile
    FROM supplier
    WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
    """,
)
def window_distribution_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window family — percent_rank / cume_dist / ntile over one
    total order (tie-broken by key so every engine ranks identically). The
    exact rationals (rank-1)/(n-1) and rank/n are deterministic doubles.
    Completes the §2.5 window inventory beside the rank family."""
    s = load(spark, "supplier", sf_dir)
    w = Window.orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return s.select(
        "s_suppkey",
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(8).over(w).alias("octile"),
    )


@query(
    "json_roundtrip_load",
    """
    WITH sample AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT o_orderstatus,
           count(*) AS n_loaded,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS price_sum
    FROM sample GROUP BY o_orderstatus
    """,
)
def json_roundtrip_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-adjacent source format: JSON-lines sink + scan round trip. A
    deterministic orders subset is written as newline-delimited JSON and
    read back with an EXPLICIT schema — at 100 TB schema inference is a
    second full scan of the data, so the engine always binds the reader
    schema up front (decimals stay decimal through the round trip; the
    aggregate is exact and engine-independent). Oracle aggregates the
    same subset straight from parquet."""
    import os
    import tempfile

    o = load(spark, "orders", sf_dir)
    sample = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = os.path.join(tempfile.gettempdir(), "seoul_json_roundtrip")
    sample.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, o_totalprice decimal(12,2)"
    ).json(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_loaded"),
        F.min("o_orderkey").alias("min_key"),
        F.round(F.sum("o_totalprice").cast("double"), 2).alias("price_sum"),
    )


def _morton_oracle() -> str:
    from .functions.layout import morton_sql

    expr = morton_sql("(c_custkey % 256)", "(c_nationkey % 256)", bits=8)
    return f"""
    SELECT c_custkey, c_nationkey,
           CAST({expr} AS BIGINT) AS zcode
    FROM customer
    """


@query("layout_morton_zorder", _morton_oracle())
def layout_morton_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering code over two join/filter dimensions —
    the layout primitive behind multi-column data skipping (Delta/Iceberg
    OPTIMIZE ZORDER BY). The code is a pure bitwise Catalyst expression
    (functions/layout.py::morton_code, integer-exact so the oracle matches
    bit for bit); writing sorted by it gives parquet min/max pruning on
    BOTH dimensions at once — the file-skipping win is measured in
    tests/test_layout.py (span-coverage vs single-key sort)."""
    from .functions.layout import morton_code

    c = load(spark, "customer", sf_dir)
    return c.select(
        "c_custkey",
        "c_nationkey",
        morton_code(F.col("c_custkey") % 256, F.col("c_nationkey") % 256).alias(
            "zcode"
        ),
    )


@query(
    "join_fuzzy_blocked",
    """
    WITH p AS (
      SELECT p_partkey, p_name,
             list_extract(string_split(p_name, ' '), -1) AS blk
      FROM part WHERE p_partkey % 5 = 0
    )
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage self-join over part names (deterministic 1-in-5
    subset): block on the final token (the head noun), verify with
    levenshtein <= 2 inside each block — Σ|block|² work instead of the
    |part|² cross product (operators/joins.py::blocked_fuzzy_join). The
    subset keeps the demonstration's block sizes honest: with only ~10
    head nouns in the synthetic vocabulary, blocks grow O(N) and pair work
    O(N²/nouns) — exactly the degenerate-blocking-key hazard the operator
    docstring warns about; a production key (phonetic code, sorted-token
    prefix) keeps blocks near-constant."""
    from .operators.joins import blocked_fuzzy_join

    p = (
        load(spark, "part", sf_dir)
        .filter(F.col("p_partkey") % 5 == 0)
        .select("p_partkey", "p_name")
    )
    blk = F.element_at(F.split(F.col("p_name"), " "), -1)
    a = p.select(
        F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name_a")
    )
    b = p.select(
        F.col("p_partkey").alias("id_b"), F.col("p_name").alias("name_b")
    )
    dist = F.levenshtein("name_a", "name_b")
    out = blocked_fuzzy_join(
        a,
        b,
        F.element_at(F.split(F.col("name_a"), " "), -1),
        F.element_at(F.split(F.col("name_b"), " "), -1),
        (F.col("id_a") < F.col("id_b")) & (dist <= 2),
    )
    return out.select(
        "id_a", "id_b", "name_a", "name_b", dist.cast("int").alias("dist")
    )


@query(
    "orc_roundtrip_load",
    """
    WITH sample AS (
      SELECT l_orderkey, l_returnflag, l_quantity, l_extendedprice
      FROM lineitem WHERE l_orderkey % 11 = 0
    )
    SELECT l_returnflag,
           count(*) AS n_loaded,
           CAST(min(l_orderkey) AS BIGINT) AS min_key,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_sum,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS price_sum
    FROM sample GROUP BY l_returnflag
    """,
)
def orc_roundtrip_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-adjacent source format: ORC sink + scan round trip (the third
    columnar interchange format after parquet and CSV/JSON). A deterministic
    lineitem subset is written as ORC and read back; predicate/column
    pruning work the same as parquet (shown by plan_audit's ReadSchema
    checks there). Decimal money aggregates keep the result exact and
    engine-independent; the oracle aggregates the same subset straight from
    parquet — the round trip must be lossless."""
    import os
    import tempfile

    li = load(spark, "lineitem", sf_dir)
    sample = li.filter(F.col("l_orderkey") % 11 == 0).select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    path = os.path.join(tempfile.gettempdir(), "seoul_orc_roundtrip")
    sample.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_loaded"),
        F.min("l_orderkey").alias("min_key"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        .cast("double")
        .alias("qty_sum"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("price_sum"),
    )


@query(
    "timeseries_linear_interpolate",
    """
    WITH w AS (
      SELECT user_id, date_trunc('hour', ts) AS hr, value FROM events
      WHERE user_id < 50 AND ts >= TIMESTAMP '2024-01-01 00:00:00'
                         AND ts <  TIMESTAMP '2024-01-03 00:00:00'
    ), hourly AS (
      SELECT user_id, hr,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)
               AS v
      FROM w GROUP BY user_id, hr
    ), bounds AS (
      SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM hourly GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      FROM bounds
    ), joined AS (
      SELECT g.user_id, g.hr, epoch(g.hr) // 3600 AS pos, h.v
      FROM grid g
      LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
    ), ctx AS (
      SELECT user_id, hr, pos, v,
             last_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS)
               OVER wb AS p_pos,
             last_value(v IGNORE NULLS) OVER wb AS p_v,
             first_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS)
               OVER wf AS n_pos,
             first_value(v IGNORE NULLS) OVER wf AS n_v
      FROM joined
      WINDOW wb AS (PARTITION BY user_id ORDER BY pos
                    ROWS UNBOUNDED PRECEDING),
             wf AS (PARTITION BY user_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           CASE
             WHEN v IS NOT NULL THEN v
             WHEN p_v IS NULL THEN n_v
             WHEN n_v IS NULL THEN p_v
             ELSE p_v + (n_v - p_v) * (pos - p_pos) * 1.0 / (n_pos - p_pos)
           END AS v_interp,
           CAST(v IS NULL AS BOOLEAN) AS was_gap
    FROM ctx
    """,
)
def timeseries_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation on the densified per-user hourly grid (the
    LOCF query's twin): interior gaps take the line between the bracketing
    observations, leading gaps backfill, trailing gaps carry forward. Both
    directional context windows ride the SAME user partition as the grid
    fill — still one shuffle; the bracketing positions travel beside the
    values so the slope is pure column arithmetic."""
    e = load(spark, "events", sf_dir).filter(
        (F.col("user_id") < 50)
        & (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-03").cast("timestamp"))
    )
    hourly = (
        e.withColumn("hr", F.date_trunc("hour", "ts"))
        .groupBy("user_id", "hr")
        # Exact DECIMAL sum then one double division. The r5 gate failure:
        # round(avg(<double>), 6) flips on 6-decimal rounding boundaries
        # because double accumulation order differs between Spark's partial
        # aggregation and DuckDB — the interpolation arithmetic then
        # propagates the flipped input. DECIMAL sums are order-independent
        # and the single double division is deterministic (the pattern
        # proven by timeseries_trend_decompose, green r5).
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("value")
            ).alias("v")
        )
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
                "hr"
            ),
        )
    )
    joined = grid.join(hourly, ["user_id", "hr"], "left").select(
        "user_id",
        "hr",
        (F.unix_timestamp(F.col("hr").cast("timestamp")) / 3600)
        .cast("long")
        .alias("pos"),
        "v",
    )
    wb = Window.partitionBy("user_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wf = Window.partitionBy("user_id").orderBy("pos").rowsBetween(
        0, Window.unboundedFollowing
    )
    known_pos = F.when(F.col("v").isNotNull(), F.col("pos"))
    ctx = joined.select(
        "user_id",
        "hr",
        "pos",
        "v",
        F.last(known_pos, ignorenulls=True).over(wb).alias("p_pos"),
        F.last("v", ignorenulls=True).over(wb).alias("p_v"),
        F.first(known_pos, ignorenulls=True).over(wf).alias("n_pos"),
        F.first("v", ignorenulls=True).over(wf).alias("n_v"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("p_v").isNull(), F.col("n_v"))
        .when(F.col("n_v").isNull(), F.col("p_v"))
        .otherwise(
            F.col("p_v")
            + (F.col("n_v") - F.col("p_v"))
            * (F.col("pos") - F.col("p_pos"))
            * 1.0
            / (F.col("n_pos") - F.col("p_pos"))
        )
    )
    # Emitted UNROUNDED (like the LOCF twin's v_locf): every input to the
    # interpolation is bit-identical on both engines (exact DECIMAL sums,
    # one double division, fixed-order slope arithmetic), so the raw double
    # matches exactly — whereas a final round(x, 6) itself diverges when a
    # value lands within an ulp of a 6-decimal midpoint (Spark rounds the
    # exact decimal expansion HALF_UP; DuckDB multiplies by 1e6 in floating
    # point first).
    return ctx.select(
        "user_id",
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
        interp.alias("v_interp"),
        F.col("v").isNull().alias("was_gap"),
    )


@query(
    "timeseries_trend_decompose",
    """
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ), t AS (
      SELECT day, v,
             avg(v) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS trend,
             CAST(count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                                 AND 3 FOLLOWING) AS BIGINT) AS n_win
      FROM daily
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, round(v, 2) AS v,
           round(trend, 2) AS trend, round(v - trend, 2) AS residual
    FROM t WHERE n_win = 7
    """,
)
def timeseries_trend_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend/residual decomposition: 7-day centered moving average over the
    daily revenue series (exact-decimal daily sums so the window inputs are
    engine-identical), residual = observed - trend; edge days without a
    full window are excluded rather than padded. The first step of every
    seasonal-anomaly/forecasting pipeline; one bucket-sized aggregate + one
    ordered window over the day grain."""
    o = load(spark, "orders", sf_dir)
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("v")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    t = daily.select(
        "day",
        "v",
        F.avg("v").over(w).alias("trend"),
        F.count("*").over(w).alias("n_win"),
    )
    return t.filter(F.col("n_win") == 7).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("v", 2).alias("v"),
        F.round("trend", 2).alias("trend"),
        F.round(F.col("v") - F.col("trend"), 2).alias("residual"),
    )


@query(
    "hierarchy_flatten_ancestors",
    """
    WITH RECURSIVE edges AS (
      SELECT c_custkey AS node,
             CASE WHEN c_custkey >= 10 THEN c_custkey // 10 END AS parent
      FROM customer
    ), anc AS (
      SELECT node, parent AS ancestor, 1 AS depth
      FROM edges WHERE parent IS NOT NULL
      UNION ALL
      SELECT a.node, e.parent, a.depth + 1
      FROM anc a JOIN edges e ON a.ancestor = e.node
      WHERE e.parent IS NOT NULL
    )
    SELECT node, ancestor, depth FROM anc
    """,
)
def hierarchy_flatten_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE hierarchy flattening (BOM explosion / org-chart
    ancestors / category trees): every (node, ancestor, depth) pair of the
    decimal-digit hierarchy parent(k) = k // 10 over customer keys.

    Spark has no recursive CTE; the scalable equivalent is iterative
    doubling on the ancestor relation — each round joins the frontier one
    level up and localCheckpoints to keep the plan flat, exactly the
    connected-components/PageRank loop discipline (operators/graph.py).
    Rounds = tree depth (~7 for 10^7 keys; depth is log-bounded for
    digit-style hierarchies). Each round is one hash equi-join on the
    ancestor key + a union — at 100 TB this is |edges| x depth join work,
    the same cost a recursive CTE engine pays, with AQE handling frontier
    shrink. The oracle runs DuckDB's native WITH RECURSIVE on the same
    edge relation."""
    c = load(spark, "customer", sf_dir)
    edges = c.select(
        F.col("c_custkey").alias("node"),
        F.when(
            F.col("c_custkey") >= 10, F.floor(F.col("c_custkey") / 10)
        ).cast("long").alias("parent"),
    ).filter(F.col("parent").isNotNull()).localCheckpoint()
    up = edges.select(
        F.col("node").alias("j_node"), F.col("parent").alias("j_parent")
    )
    # anc: all (node, ancestor, depth) found so far; frontier: deepest level
    anc = edges.select(
        "node", F.col("parent").alias("ancestor"), F.lit(1).alias("depth")
    ).localCheckpoint()
    frontier = anc
    # Bounded rounds: a parent cycle in bad data would otherwise loop the
    # driver forever. 64 levels covers any real hierarchy (digit hierarchies
    # are log10-deep; org charts/BOMs are O(10)); hitting the bound raises
    # instead of silently truncating ancestry.
    for _ in range(64):
        nxt = (
            frontier.join(up, frontier.ancestor == up.j_node)
            .select(
                "node",
                F.col("j_parent").alias("ancestor"),
                (F.col("depth") + 1).alias("depth"),
            )
            .localCheckpoint()  # eager: truncates lineage every round
        )
        if nxt.isEmpty():
            return anc
        anc = anc.unionByName(nxt).localCheckpoint()
        frontier = nxt
    raise ValueError(
        "hierarchy deeper than 64 levels — cycle in parent relation?"
    )


@query(
    "join_shuffle_hash_hint",
    """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             AS segment_revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit physical-strategy control: the customer side carries a
    SHUFFLE_HASH hint, so Catalyst builds a hash map from the smaller
    (but not broadcast-small) side instead of sort-merging both.

    When it matters at 100 TB: a dimension that outgrew
    autoBroadcastJoinThreshold but still fits a per-task hash map joins
    cheaper as shuffled-hash (no sort of the 100 TB fact side; SMJ pays
    O(n log n) on both). The hint changes ONLY the physical operator —
    results are plan-invariant (oracle is the plain SQL join), and
    tests/test_joins.py asserts ShuffledHashJoin (and that the unhinted
    plan at this size picks a different strategy) from the explain output.
    Decimal sum → double keeps the aggregate engine-exact."""
    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir).hint("shuffle_hash")
    return (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("segment_revenue"),
        )
    )


@query(
    "udf_arrow_token_count",
    f"""
    SELECT doc_id,
           CAST(len({_DUCK_TOKENS}) AS INTEGER) AS n_tokens
    FROM documents
    """,
)
def udf_arrow_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 — scalar Python UDF on the Arrow path (Spark 4
    `udf(..., useArrow=True)`), pinned against the declarative token
    count the oracle computes: the UDF transport, not the logic, is what
    this certifies. Python `str.split()` and the regex tokenizer agree by
    construction (split on any whitespace, drop empties)."""
    from .operators.grouped_map import arrow_scalar_udf_tokens

    n_tokens = arrow_scalar_udf_tokens()
    return load(spark, "documents", sf_dir).select(
        "doc_id", n_tokens(F.col("text")).alias("n_tokens")
    )


@query(
    "udf_grouped_agg_trimmed_mean",
    """
    WITH bounds AS (
      SELECT l_returnflag AS g,
             quantile_cont(l_quantity, 0.1) AS lo,
             quantile_cont(l_quantity, 0.9) AS hi
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag,
           round(avg(CASE WHEN l.l_quantity >= b.lo AND l.l_quantity <= b.hi
                          THEN l.l_quantity END), 6) AS trimmed_mean
    FROM lineitem l JOIN bounds b ON b.g = l.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def udf_grouped_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 — GROUPED_AGG pandas UDF (vectorized custom aggregate): the
    whole group's column reduces in one pandas call. pandas' linear
    quantile interpolation matches quantile_cont/percentile, so the
    declarative oracle (and the cell-reduction twin in `agg_mean_family`)
    pins the result. The trade-off this surface documents: a GROUPED_AGG
    UDF shuffles FULL groups (no partial aggregation) — use it for
    reductions Catalyst can't express, not ones it can."""
    from .operators.grouped_map import grouped_agg_trimmed_mean

    tm = grouped_agg_trimmed_mean()
    li = load(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.round(tm(F.col("l_quantity")), 6).alias("trimmed_mean")
    )


@query(
    "ivm_join_incremental",
    """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def ivm_join_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over a join: the fact/dim tables are
    split into base + delta (deterministic mod splits standing in for a
    CDC batch), the maintained view = materialized base join PLUS the
    IVM delta (`operators/rollup.py::incremental_join_delta`), and the
    aggregate over that union must equal the plain full join the oracle
    runs — proving the refresh algebra loses and duplicates nothing.
    At scale only the delta terms are computed per refresh; the base
    join is the stored view."""
    from pyspark import StorageLevel

    # In production base and delta are DISTINCT inputs (stored view +
    # CDC batch); here both derive from one table, so persist the source
    # once rather than re-scanning it per split term.
    o = load(spark, "orders", sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    c = load(spark, "customer", sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    old_o, d_o = (
        o.filter(F.col("o_orderkey") % 7 != 0),
        o.filter(F.col("o_orderkey") % 7 == 0),
    )
    old_c, d_c = (
        c.filter(F.col("c_custkey") % 11 != 0),
        c.filter(F.col("c_custkey") % 11 == 0),
    )
    from .operators.rollup import incremental_join_delta

    o2 = old_o.withColumn("c_custkey", F.col("o_custkey"))
    d_o2 = d_o.withColumn("c_custkey", F.col("o_custkey"))
    base = o2.join(old_c, "c_custkey")
    delta = incremental_join_delta(o2, d_o2, old_c, d_c, "c_custkey")
    full = base.unionByName(delta)
    return full.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("double")
        .alias("revenue"),
    )


@query(
    "mv_answer_from_rollup",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                 / count(*), 6) AS avg_qty,
           CAST(min(l_quantity) AS DOUBLE) AS min_qty,
           CAST(max(l_quantity) AS DOUBLE) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def mv_answer_from_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view answering: the per-returnflag statistics are
    computed FROM a stored (returnflag × linestatus) partial rollup —
    never from the fact — by coarsening the key set
    (operators/rollup.py::answer_from_rollup). The oracle aggregates the
    fact directly: the MV answer must be indistinguishable. Count/sum are
    closed under coarsening (sums of exact decimals, so no association
    drift); avg derives at read time; min/max coarsen as min-of-min /
    max-of-max. The fact is scanned ONCE to build the rollup; the
    answered query touches only bucket-cardinality rows."""
    from .operators.rollup import answer_from_rollup, partial_rollup

    li = load(spark, "lineitem", sf_dir)
    mv = partial_rollup(li, ["l_returnflag", "l_linestatus"], "l_quantity")
    ans = answer_from_rollup(mv, ["l_returnflag"])
    return ans.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_value").cast("double").alias("sum_qty"),
        F.round(
            F.col("sum_value").cast("double") / F.col("n"), 6
        ).alias("avg_qty"),
        F.col("min_value").cast("double").alias("min_qty"),
        F.col("max_value").cast("double").alias("max_qty"),
    )


# ---------------------------------------------------------------------------
# Storage-pruning decision twins (round 5, VERDICT r4 #7). The zone-map and
# Bloom file-skipping operators (sources/zonemap.py, sources/bloomskip.py)
# make KEEP/SKIP decisions over metadata tables; the runs themselves are
# side-effecting reads, but the decisions are pure SQL. These twins rebuild
# the metadata at a synthetic file grain and emit every decision so the
# driver hash-checks the pruning logic bit-for-bit against DuckDB.
# ---------------------------------------------------------------------------


@query(
    "zonemap_prune_decisions",
    """
    SELECT file, n_rows,
           strftime(l_shipdate_min, '%Y-%m-%d %H:%M:%S') AS smin,
           strftime(l_shipdate_max, '%Y-%m-%d %H:%M:%S') AS smax,
           l_shipdate_nulls,
           CAST(l_shipdate_max >= TIMESTAMP '1996-02-15 00:00:00'
                AND l_shipdate_min <= TIMESTAMP '1996-09-10 00:00:00'
                AS INTEGER) AS keep
    FROM (
      SELECT strftime(l_shipdate, '%Y-%m') AS file,
             count(*) AS n_rows,
             min(l_shipdate) AS l_shipdate_min,
             max(l_shipdate) AS l_shipdate_max,
             CAST(sum(CAST(l_shipdate IS NULL AS INTEGER)) AS BIGINT)
               AS l_shipdate_nulls
      FROM lineitem GROUP BY 1
    )
    """,
)
def zonemap_prune_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning decisions, certified (sources/zonemap.py). Files are
    simulated at month grain (the time-partitioned layout zone maps actually
    bite on); stats come from the operator's own ``zone_stats_aggs`` and the
    KEEP decision from its ``survivor_condition`` — the exact Column
    ``prune_files`` filters with — for the range probe
    [1996-02-15, 1996-09-10]. Build is one map-side-combinable aggregate at
    file cardinality; decisions are metadata-sized. A file pruned here
    provably contains no matching row (no-false-skip pinned in
    tests/test_zonemap.py); this twin pins the decision boundary itself
    (the two straddling months must KEEP, disjoint months must SKIP)."""
    from .functions.scalar import format_timestamp
    from .sources.zonemap import survivor_condition, zone_stats_aggs

    li = load(spark, "lineitem", sf_dir).select("l_shipdate")
    zm = (
        li.withColumn("file", F.date_format("l_shipdate", "yyyy-MM"))
        .groupBy("file")
        .agg(*zone_stats_aggs(["l_shipdate"]))
    )
    lo = F.lit("1996-02-15 00:00:00").cast("timestamp")
    hi = F.lit("1996-09-10 00:00:00").cast("timestamp")
    return zm.select(
        "file",
        "n_rows",
        format_timestamp("l_shipdate_min").alias("smin"),
        format_timestamp("l_shipdate_max").alias("smax"),
        "l_shipdate_nulls",
        survivor_condition("l_shipdate", lo, hi).cast("int").alias("keep"),
    )


@query(
    "bloomskip_prune_decisions",
    """
    WITH bits AS (
      SELECT DISTINCT c_custkey % 12 AS file_id,
             ('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                                 || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
               % 4096 AS bit
      FROM customer, range(0, 3) t(j)
    ), probe AS (
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(j AS VARCHAR) || ':42'), 1, 8))::BIGINT
               % 4096 AS pbit
      FROM range(0, 3) t(j)
    ), per_file AS (
      SELECT file_id, count(*) AS n_bits_set FROM bits GROUP BY file_id
    ), hits AS (
      SELECT b.file_id, count(*) AS n_hit
      FROM bits b JOIN probe p ON b.bit = p.pbit
      GROUP BY b.file_id
    )
    SELECT f.file_id, f.n_bits_set,
           CAST(coalesce(h.n_hit, 0) = (SELECT count(*) FROM probe)
                AS INTEGER) AS keep
    FROM per_file f LEFT JOIN hits h ON f.file_id = h.file_id
    """,
)
def bloomskip_prune_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom file-skipping decisions, certified (sources/bloomskip.py).
    Files are simulated as c_custkey % 12 shards (the unsorted layout where
    zone maps are useless and Blooms are the only skip signal); per-file
    bitsets use the operator's own ``bloom_bit_exprs`` (portable salted-md5
    positions, m=4096, k=3) and the KEEP decision its ``probe_condition``
    — the exact conjunction ``prune_files_bloom`` filters with — for the
    point probe key 42. The oracle recomputes the identical md5 bit
    arithmetic in DuckDB, so a survivor-set mismatch (a false skip, the
    only correctness hazard of Bloom pruning) hashes red. Build is one
    distinct + aggregate at metadata cardinality."""
    from .sources.bloomskip import _bit_positions, bloom_bit_exprs, probe_condition

    c = load(spark, "customer", sf_dir).select(
        (F.col("c_custkey") % 12).alias("file_id"),
        F.col("c_custkey").alias("_k"),
    )
    bits = c.select(
        "file_id", F.explode(F.array(*bloom_bit_exprs("_k", 4096, 3))).alias("bit")
    ).distinct()
    per_file = bits.groupBy("file_id").agg(
        F.count("*").alias("n_bits_set"),
        F.sort_array(F.collect_set("bit")).alias("bits"),
    )
    probe = sorted(set(_bit_positions(42, 4096, 3)))
    return per_file.select(
        "file_id",
        "n_bits_set",
        probe_condition(probe).cast("int").alias("keep"),
    )
