"""Advanced analytics widening (round 3, continuation): skyline/Pareto
frontier, weighted median, Kaplan-Meier survival, CUSUM change-point,
leave-one-out target encoding, weight-of-evidence encoding, weighted
reservoir (A-ES) sampling, sorted-neighborhood dedup blocking, interval
overlap pairs, RAKE keyphrases, windowed PMI collocations, and
calibration/reliability bins.

Engine-scope breadth beyond the reference's fixed pipelines (the reference
has no analytics layer at all — its scripts end at row INSERTs,
data_seoul_3_csv.py:117-126); these are the operators a training-data /
BI workload runs on the same tables. Every query is paired with a DuckDB
oracle; scale notes on each docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import dedup
from .operators.joins import interval_overlap_join
from .registry import query
from .sources.tables import load


@query(
    "stats_skyline_parts",
    """
    SELECT p.p_partkey, p.p_size, round(p.p_retailprice, 2) AS price
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
        AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice)
    )
    """,
)
def stats_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (maximize p_size, minimize p_retailprice).

    The naive formulation is a quadratic NOT EXISTS self-join (the oracle).
    The scalable form exploits the 2-D structure: aggregate min(price) per
    size (one shuffle, pre-aggregated map-side), then a running strict-min
    over sizes descending marks frontier sizes — the window runs over the
    per-size aggregate (≤ |distinct sizes| rows, catalog-sized), never the
    fact. Frontier membership joins back as a broadcast. Identical points
    (same size AND price as a frontier row) are all kept — dominance
    requires one strict inequality — matching the oracle exactly.
    """
    p = load(spark, "part", sf_dir)
    per_size = p.groupBy(F.col("p_size").alias("f_size")).agg(
        F.min("p_retailprice").alias("best_price")
    )
    # Tiny frame (distinct sizes): the unpartitioned window is deliberate.
    w = Window.orderBy(F.col("f_size").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = per_size.withColumn(
        "min_larger", F.min("best_price").over(w)
    ).filter(
        F.col("min_larger").isNull()
        | (F.col("best_price") < F.col("min_larger"))
    )
    return (
        p.join(
            F.broadcast(frontier),
            (F.col("p_size") == F.col("f_size"))
            & (F.col("p_retailprice") == F.col("best_price")),
        )
        .select(
            "p_partkey", "p_size", F.round("p_retailprice", 2).alias("price")
        )
    )


@query(
    "agg_weighted_median",
    """
    WITH g AS (
      SELECT l_returnflag, l_quantity,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS w
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ), c AS (
      SELECT l_returnflag, l_quantity, w,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM g
    )
    SELECT l_returnflag,
           min(l_quantity) AS weighted_median_qty,
           round(CAST(min(tw) AS DOUBLE), 2) AS total_weight
    FROM c WHERE 2 * cw >= tw
    GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the smallest l_quantity whose cumulative
    extendedprice weight reaches half the group total (price-weighted
    'typical order size').

    Weights are pre-aggregated per (group, value) first — the window then
    runs over distinct values per group, not raw rows, so the shuffle and
    window state shrink to the value cardinality. All comparisons are on
    exact decimal sums (2*cw >= tw in decimal, no division), so the
    crossing point is bit-deterministic across engines and partitionings.
    """
    li = load(spark, "lineitem", sf_dir)
    g = li.groupBy("l_returnflag", "l_quantity").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("w")
    )
    wc = Window.partitionBy("l_returnflag").orderBy("l_quantity").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("l_returnflag")
    c = g.select(
        "l_returnflag",
        "l_quantity",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    return (
        c.filter(F.lit(2) * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_quantity").alias("weighted_median_qty"),
            F.round(F.min("tw").cast("double"), 2).alias("total_weight"),
        )
    )


@query(
    "events_survival_km",
    """
    WITH bounds AS (
      SELECT max(ts) AS max_ts FROM events
    ), life AS (
      SELECT user_id,
             CASE WHEN min(CASE WHEN event_type = 'purchase' THEN ts END)
                       IS NOT NULL
                  THEN date_diff('day', min(ts),
                                 min(CASE WHEN event_type = 'purchase' THEN ts END))
                  ELSE date_diff('day', min(ts), (SELECT max_ts FROM bounds))
             END AS t,
             CASE WHEN min(CASE WHEN event_type = 'purchase' THEN ts END) IS NULL
                  THEN 1 ELSE 0 END AS censored
      FROM events GROUP BY user_id
    ), per_t AS (
      SELECT t,
             CAST(sum(1 - censored) AS BIGINT) AS deaths,
             CAST(sum(censored) AS BIGINT)     AS censored_n
      FROM life GROUP BY t
    ), risk AS (
      SELECT t, deaths, censored_n,
             CAST(sum(deaths + censored_n) OVER (
               ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS BIGINT) AS n_at_risk
      FROM per_t
    )
    SELECT t, deaths, censored_n, n_at_risk,
           round(CAST(deaths AS DOUBLE) / n_at_risk, 6) AS hazard,
           CASE WHEN min(CAST(n_at_risk - deaths AS DOUBLE) / n_at_risk) OVER (
                  ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) = 0 THEN 0.0
                ELSE round(exp(sum(ln(nullif(CAST(n_at_risk - deaths AS DOUBLE)
                                             / n_at_risk, 0))) OVER (
                       ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     )), 4)
           END AS survival
    FROM risk
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival for time-to-conversion: days from a user's
    first event to their first 'purchase', right-censored at the end of
    the observation window for users who never purchase — the
    product-limit estimator behind every churn/conversion curve.

    One shuffle groups events per user (map-side combinable conditional
    mins); the KM table itself is a window pass over the per-duration
    aggregate (≤ observation-window days, catalog-sized — the
    unpartitioned windows are deliberate). The at-risk count is a reverse
    cumulative sum; the survivor product is exp∘Σln with an exact-zero
    guard (duckdb/JVM ln disagree only in ulps, absorbed by round(4);
    ln(0) never evaluates — the CASE short-circuits the all-deaths tail).
    The censoring horizon rides as a broadcast 1-row aggregate, not a
    collected scalar, keeping the whole query a single plan.
    """
    ev = load(spark, "events", sf_dir)
    bounds = ev.groupBy().agg(F.max("ts").alias("max_ts"))
    conv = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    life = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), conv.alias("conv_ts"))
        .crossJoin(F.broadcast(bounds))
        .select(
            F.when(
                F.col("conv_ts").isNotNull(),
                F.datediff(F.col("conv_ts"), F.col("first_ts")),
            )
            .otherwise(F.datediff(F.col("max_ts"), F.col("first_ts")))
            .alias("t"),
            F.when(F.col("conv_ts").isNull(), 1).otherwise(0).alias("censored"),
        )
    )
    per_t = life.groupBy("t").agg(
        F.sum(F.lit(1) - F.col("censored")).cast("bigint").alias("deaths"),
        F.sum("censored").cast("bigint").alias("censored_n"),
    )
    w_rev = Window.orderBy("t").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    w_fwd = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk = per_t.select(
        "t",
        "deaths",
        "censored_n",
        F.sum(F.col("deaths") + F.col("censored_n"))
        .over(w_rev)
        .cast("bigint")
        .alias("n_at_risk"),
    )
    factor = (F.col("n_at_risk") - F.col("deaths")).cast("double") / F.col("n_at_risk")
    return risk.select(
        "t",
        "deaths",
        "censored_n",
        "n_at_risk",
        F.round(F.col("deaths").cast("double") / F.col("n_at_risk"), 6).alias(
            "hazard"
        ),
        F.when(F.min(factor).over(w_fwd) == 0, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum(F.log(factor)).over(w_fwd)), 4))
        .alias("survival"),
    )


@query(
    "events_cusum_change_point",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ), c AS (
      SELECT day, cnt,
             sum(cnt) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run,
             row_number() OVER (ORDER BY day) AS k,
             avg(cnt) OVER () AS mean_cnt
      FROM daily
    ), s AS (
      SELECT day, cnt, run - k * mean_cnt AS cusum FROM c
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, cnt,
           round(cusum, 4) AS cusum,
           CASE WHEN row_number() OVER (ORDER BY abs(cusum) DESC, day ASC) = 1
                THEN 1 ELSE 0 END AS is_change_point
    FROM s
    """,
)
def events_cusum_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift detection on the daily event count: the running sum
    of deviations from the global mean peaks (in |S|) at the most likely
    change point — the standard offline CUSUM estimator.

    One shuffle builds the daily aggregate; every window after that runs
    over ≤ observation-window days (unpartitioned over a catalog-sized
    frame, deliberate). The CUSUM is cumsum(cnt) - k*mean — integer
    cumulative sums plus one double product, so both engines compute
    bit-identical values; the argmax tie-breaks on earliest day.
    """
    ev = load(spark, "events", sf_dir)
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("cnt")
    )
    w_ord = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = daily.select(
        "day",
        "cnt",
        F.sum("cnt").over(w_ord).alias("run"),
        F.row_number().over(Window.orderBy("day")).alias("k"),
        F.avg("cnt").over(w_all).alias("mean_cnt"),
    )
    s = c.select(
        "day", "cnt", (F.col("run") - F.col("k") * F.col("mean_cnt")).alias("cusum")
    )
    w_top = Window.orderBy(F.abs(F.col("cusum")).desc(), F.col("day").asc())
    return s.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cnt",
        F.round("cusum", 4).alias("cusum"),
        F.when(F.row_number().over(w_top) == 1, 1).otherwise(0).alias(
            "is_change_point"
        ),
    )


@query(
    "mlprep_target_encoding_loo",
    """
    WITH s AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))) OVER (PARTITION BY l_suppkey)
               AS grp_sum,
             count(*) OVER (PARTITION BY l_suppkey) AS grp_n
      FROM lineitem WHERE l_suppkey <= 10
    )
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(CAST(grp_sum - CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE)
                 / (grp_n - 1), 2) AS loo_price_enc,
           round(CAST(grp_sum AS DOUBLE) / grp_n, 2) AS grp_mean
    FROM s
    """,
)
def mlprep_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: each row's category (supplier) encoded
    by the mean target (extendedprice) of its group EXCLUDING the row
    itself — the leakage-free categorical encoder for gradient-boosted /
    linear models.

    (sum - x)/(n - 1) from one windowed pass: a single shuffle on the
    category key, no per-row subquery. Group sums are exact decimals so
    the subtraction is exact; the single double division + round(2) is
    engine-deterministic. Filtered to suppkeys ≤ 10 to bound the sample
    the gate hashes — the plan is identical unfiltered.
    """
    li = load(spark, "lineitem", sf_dir).filter(F.col("l_suppkey") <= 10)
    wg = Window.partitionBy("l_suppkey")
    price_dec = F.col("l_extendedprice").cast("decimal(12,2)")
    s = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        price_dec.alias("price_dec"),
        F.sum(price_dec).over(wg).alias("grp_sum"),
        F.count("*").over(wg).alias("grp_n"),
    )
    return s.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(
            (F.col("grp_sum") - F.col("price_dec")).cast("double")
            / (F.col("grp_n") - 1),
            2,
        ).alias("loo_price_enc"),
        F.round(F.col("grp_sum").cast("double") / F.col("grp_n"), 2).alias(
            "grp_mean"
        ),
    )


@query(
    "mlprep_woe_encoding",
    """
    WITH agg AS (
      SELECT o_orderpriority,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
               AS bad,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS BIGINT)
               AS good
      FROM orders GROUP BY o_orderpriority
    ), tot AS (
      SELECT sum(bad) AS tbad, sum(good) AS tgood FROM agg
    )
    SELECT o_orderpriority, bad, good,
           round(ln((CAST(bad AS DOUBLE) / tbad)
                    / (CAST(good AS DOUBLE) / tgood)), 6) AS woe,
           round((CAST(bad AS DOUBLE) / tbad - CAST(good AS DOUBLE) / tgood)
                 * ln((CAST(bad AS DOUBLE) / tbad)
                      / (CAST(good AS DOUBLE) / tgood)), 6) AS iv_term
    FROM agg, tot
    """,
)
def mlprep_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding of order priority against the
    'finished' status as the event class: WOE = ln((bad_i/Σbad)/(good_i/Σgood)),
    with the information-value contribution per category — the standard
    scorecard encoder.

    One hash aggregate over the fact (map-side combinable conditional
    sums); the totals ride as a broadcast 1-row aggregate (no collected
    scalar, single plan). ln of a ratio of exact integer ratios — both
    engines agree to well past round(6).
    """
    o = load(spark, "orders", sf_dir)
    bad = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    agg = o.groupBy("o_orderpriority").agg(
        F.sum(bad).cast("bigint").alias("bad"),
        F.sum(F.lit(1) - bad).cast("bigint").alias("good"),
    )
    tot = agg.groupBy().agg(
        F.sum("bad").alias("tbad"), F.sum("good").alias("tgood")
    )
    br = F.col("bad").cast("double") / F.col("tbad")
    gr = F.col("good").cast("double") / F.col("tgood")
    return agg.crossJoin(F.broadcast(tot)).select(
        "o_orderpriority",
        "bad",
        "good",
        F.round(F.log(br / gr), 6).alias("woe"),
        F.round((br - gr) * F.log(br / gr), 6).alias("iv_term"),
    )


@query(
    "sample_weighted_reservoir",
    """
    SELECT doc_id, n_chars,
           round(ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         + 1 AS DOUBLE) / 4294967296.0) / n_chars, 10) AS aes_key
    FROM documents
    ORDER BY aes_key DESC, doc_id ASC
    LIMIT 20
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    each row draws u ~ U(0,1] from md5(doc_id) and ranks by u^(1/w)
    (equivalently ln(u)/w), weight = document length; the global top-k is
    the weighted sample. Deterministic: the row's own key decides its
    draw, so the sample is identical under any partitioning or engine,
    and composes with incremental backfill.

    ORDER BY + LIMIT k compiles to TakeOrderedAndProject — a per-partition
    top-k then a k-row merge on the driver; no global sort, no shuffle of
    the fact. ln(u)/w is one ln + one division per row; round(10) absorbs
    libm ulp differences while preserving the ranking (keys are spread
    over ~1e-4 gaps).
    """
    d = load(spark, "documents", sf_dir)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 1.0
    ) / F.lit(4294967296.0)
    key = F.round(F.log(u) / F.col("n_chars"), 10)
    return (
        d.select("doc_id", "n_chars", key.alias("aes_key"))
        .orderBy(F.col("aes_key").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@query(
    "dedup_sorted_neighborhood",
    """
    WITH keyed AS (
      SELECT doc_id,
             substr(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), 1, 24)
               AS sk
      FROM documents
    ), ranked AS (
      SELECT doc_id, sk, substr(sk, 1, 1) AS blk,
             row_number() OVER (PARTITION BY substr(sk, 1, 1)
                                ORDER BY sk, doc_id) AS rnk
      FROM keyed
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(b.rnk - a.rnk AS BIGINT) AS rank_gap,
           levenshtein(a.sk, b.sk) AS key_dist
    FROM ranked a JOIN ranked b
      ON a.blk = b.blk AND b.rnk > a.rnk AND b.rnk <= a.rnk + 3
    WHERE levenshtein(a.sk, b.sk) <= 6
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup blocking: sort documents by a normalized
    key, slide a window of w=3 over the sort order, and verify only the
    pairs inside the window — the classic record-linkage alternative to
    LSH when near-duplicates share prefixes.

    The sort is PARTITIONED by the key's first character (the standard
    multi-pass SNM block split): ranks are per-block windows, not one
    global single-reducer sort, and candidate pairs never cross blocks —
    the documented recall trade every blocking scheme makes. Pair
    generation is a bucketed self-join (bucket = rank div w, each row
    joins its own and the next bucket) so the join is a hash equi-join
    with fan-out w, never a cross product; the Levenshtein verifier runs
    only on window-mates. One shuffle per side on (block, bucket).
    """
    d = load(spark, "documents", sf_dir)
    sk = F.substring(
        F.lower(F.regexp_replace("text", r"[^a-zA-Z0-9 ]", "")), 1, 24
    )
    keyed = d.select("doc_id", sk.alias("sk"), F.substring(sk, 1, 1).alias("blk"))
    w = Window.partitionBy("blk").orderBy("sk", "doc_id")
    ranked = keyed.withColumn("rnk", F.row_number().over(w))
    WIN = 3
    a = ranked.select(
        F.col("blk"),
        F.col("doc_id").alias("doc_a"),
        F.col("sk").alias("sk_a"),
        F.col("rnk").alias("rnk_a"),
        F.explode(
            F.array(
                F.floor(F.col("rnk") / WIN), F.floor(F.col("rnk") / WIN) + 1
            )
        ).alias("bkt"),
    )
    b = ranked.select(
        F.col("blk"),
        F.col("doc_id").alias("doc_b"),
        F.col("sk").alias("sk_b"),
        F.col("rnk").alias("rnk_b"),
        F.floor(F.col("rnk") / WIN).alias("bkt"),
    )
    pairs = a.join(b, ["blk", "bkt"]).filter(
        (F.col("rnk_b") > F.col("rnk_a"))
        & (F.col("rnk_b") <= F.col("rnk_a") + WIN)
    )
    return pairs.filter(
        F.levenshtein("sk_a", "sk_b") <= 6
    ).select(
        "doc_a",
        "doc_b",
        (F.col("rnk_b") - F.col("rnk_a")).cast("bigint").alias("rank_gap"),
        F.levenshtein("sk_a", "sk_b").alias("key_dist"),
    )


@query(
    "events_interval_overlap_pairs",
    """
    WITH iv AS (
      SELECT user_id,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS s,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS e
      FROM events WHERE user_id < 20
      GROUP BY user_id, date_trunc('day', ts)
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_s
    FROM iv a JOIN iv b
      ON a.user_id < b.user_id
     AND greatest(a.s, b.s) <= least(a.e, b.e)
    """,
)
def events_interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-activity detection: per-user daily activity spans
    [first event, last event], find every pair of users whose spans
    overlap and for how long — the interval × interval overlap join that
    powers co-presence / resource-contention analytics.

    Runs through ``operators.joins.interval_overlap_join``: both interval
    sides band into 6-hour bins, pairs meet only inside a shared bin (hash
    equi-join — no nested loop, no broadcast, both sides may be
    fact-sized), and the first-shared-bin guard emits each overlapping
    pair exactly once. The oracle is the quadratic non-equi self-join the
    operator avoids. Restricted to 20 users to bound the pair count the
    gate hashes; the plan shape is identical unrestricted.
    """
    ev = load(spark, "events", sf_dir).filter(F.col("user_id") < 20)
    iv = ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
        F.unix_timestamp(F.min("ts")).alias("s"),
        F.unix_timestamp(F.max("ts")).alias("e"),
    )
    a = iv.select(
        F.col("user_id").alias("user_a"),
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
    )
    b = iv.select(
        F.col("user_id").alias("user_b"),
        F.col("s").alias("s2"),
        F.col("e").alias("e2"),
    )
    pairs = interval_overlap_join(
        a,
        b,
        F.col("s1"),
        F.col("e1"),
        F.col("s2"),
        F.col("e2"),
        band_width=21600.0,
    ).filter(F.col("user_a") < F.col("user_b"))
    return pairs.select(
        "user_a",
        "user_b",
        (F.least("e1", "e2") - F.greatest("s1", "s2"))
        .cast("bigint")
        .alias("overlap_s"),
    )


@query(
    "text_rake_keywords",
    """
    WITH toks0 AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')
               AS ws
      FROM documents
    ), toks AS (
      SELECT doc_id, unnest(ws) AS w,
             unnest(generate_series(1, len(ws))) AS pos
      FROM toks0
    ), stop5 AS (
      SELECT w FROM (
        SELECT w, row_number() OVER (ORDER BY count(*) DESC, w ASC) AS r
        FROM toks GROUP BY w
      ) WHERE r <= 5
    ), marked AS (
      SELECT t.doc_id, t.pos, t.w,
             CASE WHEN s.w IS NULL THEN 0 ELSE 1 END AS is_stop,
             sum(CASE WHEN s.w IS NULL THEN 0 ELSE 1 END) OVER (
               PARTITION BY t.doc_id ORDER BY t.pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island
      FROM toks t LEFT JOIN stop5 s ON t.w = s.w
    ), pw AS (
      SELECT doc_id, island, pos, w,
             count(*) OVER (PARTITION BY doc_id, island) AS plen
      FROM marked WHERE is_stop = 0
    ), wordstats AS (
      SELECT w,
             CAST(count(*) AS DOUBLE)  AS freq,
             CAST(sum(plen) AS DOUBLE) AS degree
      FROM pw GROUP BY w
    ), scored AS (
      SELECT p.doc_id, p.island,
             string_agg(p.w, ' ' ORDER BY p.pos) AS phrase,
             round(sum(ws.degree / ws.freq), 6)  AS score
      FROM pw p JOIN wordstats ws ON p.w = ws.w
      GROUP BY p.doc_id, p.island
    )
    SELECT phrase, occurrences, score FROM (
      SELECT phrase, CAST(count(*) AS BIGINT) AS occurrences,
             max(score) AS score,
             row_number() OVER (ORDER BY max(score) DESC, phrase ASC) AS r
      FROM scored GROUP BY phrase
    ) WHERE r <= 15
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction: candidate phrases are maximal runs of
    non-stopword tokens, each word scores degree/frequency (degree = Σ
    length of phrases containing it), and a phrase scores the sum of its
    word scores — the classic unsupervised keyphrase extractor.

    The stopword list is corpus-derived (top-5 tokens by frequency, the
    data-driven variant) so the pipeline is self-contained. Phrase
    segmentation is a cumulative-stopword-count window per document
    (island numbering); word statistics are one vocabulary-sized
    aggregate, re-joined to phrase words (vocab-sized → broadcast); the
    deterministic top-15 tie-breaks on phrase text. Per-doc windows
    partition by doc_id — no global sort; everything else is hash
    aggregates. round(6) before ranking pins double-sum ulps.
    """
    from pyspark import StorageLevel

    d = load(spark, "documents", sf_dir)
    # the token table feeds the stopword ranking AND the phrase pass (which
    # itself fans out to word stats + phrase scores) — persist it so the
    # documents scan runs exactly once
    toks = (
        d.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos", "w"),
        )
        .filter(F.col("w") != "")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stop5 = (
        toks.groupBy("w")
        .count()
        .select(
            "w",
            F.row_number()
            .over(Window.orderBy(F.col("count").desc(), F.col("w").asc()))
            .alias("r"),
        )
        .filter(F.col("r") <= 5)
        .select(F.col("w").alias("sw"))
    )
    marked = toks.join(
        F.broadcast(stop5), toks["w"] == stop5["sw"], "left"
    ).select(
        "doc_id",
        "pos",
        "w",
        F.when(F.col("sw").isNull(), 0).otherwise(1).alias("is_stop"),
    )
    w_isl = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    islanded = marked.withColumn("island", F.sum("is_stop").over(w_isl)).filter(
        F.col("is_stop") == 0
    )
    w_ph = Window.partitionBy("doc_id", "island")
    # phrase-word table feeds word stats AND phrase scoring: persist so the
    # stopword join + island windows run once, not once per consumer
    pw = islanded.withColumn("plen", F.count("*").over(w_ph)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    wordstats = pw.groupBy(F.col("w").alias("ww")).agg(
        F.count("*").cast("double").alias("freq"),
        F.sum("plen").cast("double").alias("degree"),
    )
    scored = (
        pw.join(F.broadcast(wordstats), pw["w"] == wordstats["ww"])
        .groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.round(F.sum(F.col("degree") / F.col("freq")), 6).alias("score"),
        )
    )
    top = (
        scored.groupBy("phrase")
        .agg(
            F.count("*").cast("bigint").alias("occurrences"),
            F.max("score").alias("score"),
        )
        .select(
            "phrase",
            "occurrences",
            "score",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), F.col("phrase").asc()))
            .alias("r"),
        )
        .filter(F.col("r") <= 15)
    )
    return top.select("phrase", "occurrences", "score")


@query(
    "text_cooccurrence_pmi",
    """
    WITH toks0 AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')
               AS ws
      FROM documents
    ), toks AS (
      SELECT doc_id, unnest(ws) AS w,
             unnest(generate_series(1, len(ws))) AS pos
      FROM toks0
    ), tok_cnt AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY w
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS t_tok FROM tok_cnt
    ), pairs AS (
      SELECT least(a.w, b.w) AS wa, greatest(a.w, b.w) AS wb,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM toks a
      JOIN (SELECT unnest(generate_series(1, 2)) AS d) d ON true
      JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + d.d
      GROUP BY 1, 2
    ), ptot AS (
      SELECT CAST(sum(n_ab) AS BIGINT) AS t_pair FROM pairs
    )
    SELECT wa, wb, n_ab,
           round(ln((CAST(n_ab AS DOUBLE) / t_pair)
                    / ((CAST(ca.cnt AS DOUBLE) / t_tok)
                       * (CAST(cb.cnt AS DOUBLE) / t_tok))), 6) AS pmi
    FROM pairs
    JOIN tok_cnt ca ON ca.w = wa
    JOIN tok_cnt cb ON cb.w = wb
    CROSS JOIN tot CROSS JOIN ptot
    WHERE n_ab >= 50
    ORDER BY pmi DESC, wa, wb LIMIT 20
    """,
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over token co-occurrence within a
    ±2-position window — the classic collocation / word-association
    statistic (PMI = ln(p(a,b) / p(a)p(b))).

    The naive windowed co-occurrence is a per-document self-join filtered
    on |Δpos| — Σ|doc|² pairs. This runs it as an exact adjacency
    EQUI-join instead: explode offsets d ∈ {1,2} and join (doc, pos+d) to
    (doc, pos), so the pair stream is 2·|tokens| rows, linear in the
    corpus. Unigram and pair totals ride as broadcast 1-row aggregates;
    PMI is one ln over ratios of exact integer counts (deterministic to
    well past round(6)); deterministic top-20 (support floor ≥ 50,
    tiebreak on the pair). Vocabulary-sized count tables broadcast.
    """
    from pyspark import StorageLevel

    d = load(spark, "documents", sf_dir)
    toks = (
        d.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos", "w"),
        )
        .filter(F.col("w") != "")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # feeds unigram counts AND both sides of the adjacency join
    tok_cnt = toks.groupBy("w").agg(F.count("*").cast("bigint").alias("cnt"))
    tot = tok_cnt.agg(F.sum("cnt").cast("bigint").alias("t_tok"))
    a = toks.select(
        "doc_id",
        F.col("w").alias("w_a"),
        F.explode(F.array(F.lit(1), F.lit(2))).alias("dd"),
        (F.col("pos") + F.col("dd")).alias("pos_b"),
    ).drop("dd")
    b = toks.select(
        F.col("doc_id"), F.col("w").alias("w_b"), F.col("pos").alias("pos_b")
    )
    pairs = (
        a.join(b, ["doc_id", "pos_b"])
        .groupBy(
            F.least("w_a", "w_b").alias("wa"),
            F.greatest("w_a", "w_b").alias("wb"),
        )
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    ptot = pairs.agg(F.sum("n_ab").cast("bigint").alias("t_pair"))
    ca = tok_cnt.select(F.col("w").alias("wa"), F.col("cnt").alias("cnt_a"))
    cb = tok_cnt.select(F.col("w").alias("wb"), F.col("cnt").alias("cnt_b"))
    scored = (
        pairs.filter(F.col("n_ab") >= 50)
        .join(F.broadcast(ca), "wa")
        .join(F.broadcast(cb), "wb")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ptot))
        .select(
            "wa",
            "wb",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab").cast("double") / F.col("t_pair"))
                    / (
                        (F.col("cnt_a").cast("double") / F.col("t_tok"))
                        * (F.col("cnt_b").cast("double") / F.col("t_tok"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("wa").asc(), F.col("wb").asc()
    ).limit(20)


@query(
    "mlprep_calibration_bins",
    """
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
             1.0e0 / (1.0e0 + exp(-0.01e0 * (n_chars - 500))) AS score
      FROM documents
    ), binned AS (
      SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin, label, score
      FROM scored
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(score), 4) AS mean_predicted,
           round(CAST(sum(label) AS DOUBLE) / count(*), 6) AS observed_rate,
           round(avg((score - label) * (score - label)), 4) AS brier_term
    FROM binned GROUP BY bin
    """,
)
def mlprep_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability table for a classifier score: bin the
    predicted probability into deciles and compare mean prediction with
    the observed positive rate, plus the per-bin Brier contribution — the
    standard diagnostic before trusting any quality-filter threshold.
    (The score here is a fixed logistic of document length against the
    'en' label, so both engines reproduce it exactly; the IRLS-fitted
    classifier in `mlprep_quality_classifier` stays the engine-native
    path.)

    One scan, one hash aggregate over ten bins — entirely map-side
    combinable. round(4) on the double means absorbs summation-order
    ulps; the observed rate is an exact integer ratio.
    """
    d = load(spark, "documents", sf_dir)
    score = F.lit(1.0) / (
        F.lit(1.0) + F.exp(F.lit(-0.01) * (F.col("n_chars") - 500))
    )
    label = F.when(F.col("lang") == "en", 1).otherwise(0)
    binned = d.select(
        F.least(F.floor(score * 10).cast("bigint"), F.lit(9).cast("bigint")).alias(
            "bin"
        ),
        label.alias("label"),
        score.alias("score"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("score"), 4).alias("mean_predicted"),
        F.round(
            F.sum("label").cast("double") / F.count("*"), 6
        ).alias("observed_rate"),
        F.round(
            F.avg((F.col("score") - F.col("label")) * (F.col("score") - F.col("label"))),
            4,
        ).alias("brier_term"),
    )


@query(
    "stats_kendall_tau_b",
    """
    WITH cells AS (
      SELECT l_returnflag AS g, l_quantity AS x, l_discount AS y,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2, 3
    ), cd AS (
      SELECT a.g,
             CAST(sum(CASE WHEN (a.y < b.y) THEN a.n * b.n ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(sum(CASE WHEN (a.y > b.y) THEN a.n * b.n ELSE 0 END)
                  AS BIGINT) AS d
      FROM cells a JOIN cells b ON a.g = b.g AND a.x < b.x
      GROUP BY a.g
    ), marg AS (
      SELECT g,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(n) * (sum(n) - 1) / 2 AS BIGINT) AS n0
      FROM cells GROUP BY g
    ), tx AS (
      SELECT g, CAST(sum(tn * (tn - 1) / 2) AS BIGINT) AS n1
      FROM (SELECT g, x, sum(n) AS tn FROM cells GROUP BY g, x) GROUP BY g
    ), ty AS (
      SELECT g, CAST(sum(tn * (tn - 1) / 2) AS BIGINT) AS n2
      FROM (SELECT g, y, sum(n) AS tn FROM cells GROUP BY g, y) GROUP BY g
    )
    SELECT m.g AS l_returnflag,
           cd.c AS concordant, cd.d AS discordant,
           round((cd.c - cd.d)
                 / sqrt(CAST(m.n0 - tx.n1 AS DOUBLE)
                        * CAST(m.n0 - ty.n2 AS DOUBLE)), 6) AS tau_b
    FROM marg m
    JOIN cd ON cd.g = m.g
    JOIN tx ON tx.g = m.g
    JOIN ty ON ty.g = m.g
    """,
)
def stats_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b rank correlation (quantity vs discount per return
    flag) with full tie correction — the robust monotone-association
    measure Pearson's r is not.

    The textbook form compares all n² row pairs. Both variables are
    low-cardinality, so the fact reduces to a contingency CELL table first
    (one map-side-combinable aggregate, ≤ |x|·|y| cells per group);
    concordant/discordant mass is a cell×cell self-join — |cells|² work,
    independent of n — and every sum is exact integer arithmetic until
    the single final division (bit-deterministic across engines). Tie
    terms come from the cell marginals.
    """
    from pyspark import StorageLevel

    li = load(spark, "lineitem", sf_dir)
    cells = (
        li.groupBy(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").alias("x"),
            F.col("l_discount").alias("y"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # feeds the pair join (twice), marginals, and tie terms: one fact scan
    a = cells.select(
        F.col("g"), F.col("x").alias("xa"), F.col("y").alias("ya"),
        F.col("n").alias("na"),
    )
    b = cells.select(
        F.col("g"), F.col("x").alias("xb"), F.col("y").alias("yb"),
        F.col("n").alias("nb"),
    )
    cd = (
        a.join(b, "g")
        .filter(F.col("xa") < F.col("xb"))
        .groupBy("g")
        .agg(
            F.sum(
                F.when(F.col("ya") < F.col("yb"), F.col("na") * F.col("nb"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("c"),
            F.sum(
                F.when(F.col("ya") > F.col("yb"), F.col("na") * F.col("nb"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("d"),
        )
    )
    marg = cells.groupBy("g").agg(
        (F.sum("n") * (F.sum("n") - 1) / 2).cast("bigint").alias("n0")
    )
    tx = (
        cells.groupBy("g", "x")
        .agg(F.sum("n").alias("tn"))
        .groupBy("g")
        .agg(
            F.sum(F.col("tn") * (F.col("tn") - 1) / 2).cast("bigint").alias("n1")
        )
    )
    ty = (
        cells.groupBy("g", "y")
        .agg(F.sum("n").alias("tn"))
        .groupBy("g")
        .agg(
            F.sum(F.col("tn") * (F.col("tn") - 1) / 2).cast("bigint").alias("n2")
        )
    )
    out = (
        marg.join(cd, "g").join(tx, "g").join(ty, "g").select(
            F.col("g").alias("l_returnflag"),
            F.col("c").alias("concordant"),
            F.col("d").alias("discordant"),
            F.round(
                (F.col("c") - F.col("d"))
                / F.sqrt(
                    (F.col("n0") - F.col("n1")).cast("double")
                    * (F.col("n0") - F.col("n2")).cast("double")
                ),
                6,
            ).alias("tau_b"),
        )
    )
    return out


@query(
    "timeseries_autocorrelation_acf",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ), m AS (
      SELECT avg(CAST(cnt AS DOUBLE)) AS mean_cnt,
             sum((CAST(cnt AS DOUBLE) - (SELECT avg(CAST(cnt AS DOUBLE))
                                         FROM daily))
                 * (CAST(cnt AS DOUBLE) - (SELECT avg(CAST(cnt AS DOUBLE))
                                           FROM daily))) AS denom
      FROM daily
    )
    SELECT k.k AS lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(sum((CAST(a.cnt AS DOUBLE) - m.mean_cnt)
                     * (CAST(b.cnt AS DOUBLE) - m.mean_cnt)) / max(m.denom), 6)
             AS acf
    FROM daily a
    JOIN (SELECT unnest(generate_series(1, 7)) AS k) k ON true
    JOIN daily b ON b.day = a.day + to_days(CAST(k.k AS INTEGER))
    CROSS JOIN m
    GROUP BY k.k
    """,
)
def timeseries_autocorrelation_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily event count at lags 1–7 — the
    first diagnostic of any forecasting workflow (weekly seasonality shows
    as a lag-7 peak).

    The lag join is an exact equi-join on (day + k) over the per-day
    AGGREGATE (observation-window rows, catalog-sized) — the fact is
    touched once for the daily rollup. The mean and the centered
    denominator ride as a broadcast 1-row aggregate; round(6) absorbs the
    double summation-order ulps of the ≤31-term numerator.
    """
    from pyspark import StorageLevel

    ev = load(spark, "events", sf_dir)
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # day-cardinality table: feeds mean/denominator and both join sides
    mean_df = daily.agg(F.avg(F.col("cnt").cast("double")).alias("mean_cnt"))
    m = (
        daily.crossJoin(F.broadcast(mean_df))
        .agg(
            F.max("mean_cnt").alias("mean_cnt"),
            F.sum(
                (F.col("cnt").cast("double") - F.col("mean_cnt"))
                * (F.col("cnt").cast("double") - F.col("mean_cnt"))
            ).alias("denom"),
        )
    )
    a = daily.select(
        "day", F.col("cnt").alias("cnt_a"),
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("lag"),
    ).withColumn("day_b", F.date_add(F.col("day").cast("date"), F.col("lag")))
    b = daily.select(
        F.col("day").cast("date").alias("day_b"), F.col("cnt").alias("cnt_b")
    )
    return (
        a.join(b, "day_b")
        .crossJoin(F.broadcast(m))
        .groupBy("lag")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(
                    (F.col("cnt_a").cast("double") - F.col("mean_cnt"))
                    * (F.col("cnt_b").cast("double") - F.col("mean_cnt"))
                )
                / F.max("denom"),
                6,
            ).alias("acf"),
        )
    )


@query(
    "stats_benjamini_hochberg",
    """
    WITH cells AS (
      SELECT event_type, user_id % 2 AS arm,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(value AS DECIMAL(18,6))) AS s,
             sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
               AS ss
      FROM events GROUP BY 1, 2
    ), wz AS (
      SELECT a.event_type,
             (CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
             / sqrt(((CAST(a.ss AS DOUBLE) - CAST(a.s AS DOUBLE)
                      * CAST(a.s AS DOUBLE) / a.n) / (a.n - 1)) / a.n
                    + ((CAST(b.ss AS DOUBLE) - CAST(b.s AS DOUBLE)
                        * CAST(b.s AS DOUBLE) / b.n) / (b.n - 1)) / b.n)
               AS z
      FROM cells a JOIN cells b
        ON a.event_type = b.event_type AND a.arm = 0 AND b.arm = 1
    ), pv AS (
      SELECT event_type, round(z, 4) AS z,
             round(2.0e0 * (exp(-abs(z) * abs(z) / 2.0e0) / 2.5066282746310002e0)
                   * (0.31938153e0 * (1.0e0 / (1.0e0 + 0.2316419e0 * abs(z)))
                      - 0.356563782e0 * pow(1.0e0 / (1.0e0 + 0.2316419e0 * abs(z)), 2)
                      + 1.781477937e0 * pow(1.0e0 / (1.0e0 + 0.2316419e0 * abs(z)), 3)
                      - 1.821255978e0 * pow(1.0e0 / (1.0e0 + 0.2316419e0 * abs(z)), 4)
                      + 1.330274429e0 * pow(1.0e0 / (1.0e0 + 0.2316419e0 * abs(z)), 5)),
                   6) AS p_value
      FROM wz
    ), ranked AS (
      SELECT event_type, z, p_value,
             CAST(row_number() OVER (ORDER BY p_value, event_type) AS BIGINT)
               AS p_rank,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM pv
    ), crossed AS (
      SELECT *,
             max(CASE WHEN p_value <= 0.05e0 * p_rank / m THEN p_rank
                      ELSE 0 END) OVER () AS k_max
      FROM ranked
    )
    SELECT event_type, z, p_value, p_rank,
           round(0.05e0 * p_rank / m, 6) AS bh_threshold,
           CAST(CASE WHEN p_rank <= k_max THEN 1 ELSE 0 END AS INTEGER)
             AS significant
    FROM crossed
    """,
)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction over a family of Welch z-tests
    (per event type: mean value, even- vs odd-user arms) — the
    multiple-testing control every metrics platform applies before calling
    winners across many simultaneous experiments.

    Sufficient statistics (n, Σx, Σx²) come from ONE hash aggregate with
    exact decimal sums, so the z statistics are bit-deterministic; the
    normal tail probability is the Zelen-Severo polynomial approximation
    written as identical literal arithmetic on both engines (rounded to 6
    before ranking, so the BH step function compares the same numbers).
    The BH step-up (reject all ranks ≤ argmax{p_(k) ≤ αk/m}) is a window
    over the m-row test table — everything after the fact scan is
    test-family-cardinality.
    """
    from pyspark import StorageLevel

    ev = load(spark, "events", sf_dir)
    vd = F.col("value").cast("decimal(18,6)")
    cells = (
        ev.groupBy("event_type", (F.col("user_id") % 2).alias("arm"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(vd).alias("s"),
            F.sum(vd * vd).alias("ss"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # both arms of the self-join read this 10-row table, one fact scan
    a = cells.filter(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("ss").alias("ssa"),
    )
    b = cells.filter(F.col("arm") == 1).select(
        "event_type",
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("ss").alias("ssb"),
    )
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    ssa, ssb = F.col("ssa").cast("double"), F.col("ssb").cast("double")
    na, nb = F.col("na"), F.col("nb")
    z_expr = (sa / na - sb / nb) / F.sqrt(
        ((ssa - sa * sa / na) / (na - 1)) / na
        + ((ssb - sb * sb / nb) / (nb - 1)) / nb
    )
    wz = a.join(b, "event_type").select("event_type", z_expr.alias("z"))
    az = F.abs(F.col("z"))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    poly = (
        F.lit(0.31938153) * t
        - F.lit(0.356563782) * F.pow(t, 2)
        + F.lit(1.781477937) * F.pow(t, 3)
        - F.lit(1.821255978) * F.pow(t, 4)
        + F.lit(1.330274429) * F.pow(t, 5)
    )
    p = F.round(
        F.lit(2.0)
        * (F.exp(-az * az / F.lit(2.0)) / F.lit(2.5066282746310002))
        * poly,
        6,
    )
    pv = wz.select("event_type", F.round("z", 4).alias("z"), p.alias("p_value"))
    w_rank = Window.orderBy("p_value", "event_type")
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = pv.select(
        "*",
        F.row_number().over(w_rank).cast("bigint").alias("p_rank"),
        F.count("*").over(w_all).cast("bigint").alias("m"),
    )
    thresh = F.lit(0.05) * F.col("p_rank") / F.col("m")
    crossed = ranked.withColumn(
        "k_max",
        F.max(F.when(F.col("p_value") <= thresh, F.col("p_rank")).otherwise(0)).over(
            w_all
        ),
    )
    return crossed.select(
        "event_type",
        "z",
        "p_value",
        "p_rank",
        F.round(thresh, 6).alias("bh_threshold"),
        F.when(F.col("p_rank") <= F.col("k_max"), 1)
        .otherwise(0)
        .cast("int")
        .alias("significant"),
    )


@query(
    "events_power_analysis_mde",
    """
    WITH u AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events
    ), reach AS (
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS users_reached
      FROM events GROUP BY event_type
    )
    SELECT event_type, users_reached, n_users,
           round(CAST(users_reached AS DOUBLE) / n_users, 6) AS baseline_rate,
           round((1.959964e0 + 0.841621e0)
                 * sqrt(2.0e0 * (CAST(users_reached AS DOUBLE) / n_users)
                        * (1.0e0 - CAST(users_reached AS DOUBLE) / n_users)
                        / (n_users / 2)), 6) AS mde_abs,
           round((1.959964e0 + 0.841621e0)
                 * sqrt(2.0e0 * (CAST(users_reached AS DOUBLE) / n_users)
                        * (1.0e0 - CAST(users_reached AS DOUBLE) / n_users)
                        / (n_users / 2))
                 / (CAST(users_reached AS DOUBLE) / n_users), 6) AS mde_rel
    FROM reach CROSS JOIN u
    """,
)
def events_power_analysis_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test power analysis: the minimum detectable effect (absolute and
    relative) for each event type's user-reach rate at 80% power / 5%
    two-sided alpha with a 50/50 split of the observed population — the
    'is this experiment even worth running' pre-check that pairs with
    `events_ab_test_ztest`.

    Two distinct-count aggregates over one fact scan pattern (per-type
    reach + the global denominator as a broadcast 1-row aggregate);
    everything downstream is closed-form arithmetic on exact integer
    ratios with literal z constants — deterministic to round(6).
    """
    ev = load(spark, "events", sf_dir)
    u = ev.agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    reach = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("users_reached")
    )
    rate = F.col("users_reached").cast("double") / F.col("n_users")
    mde = (F.lit(1.959964) + F.lit(0.841621)) * F.sqrt(
        F.lit(2.0) * rate * (F.lit(1.0) - rate)
        / (F.col("n_users") / F.lit(2)).cast("double")
    )
    return reach.crossJoin(F.broadcast(u)).select(
        "event_type",
        "users_reached",
        "n_users",
        F.round(rate, 6).alias("baseline_rate"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / rate, 6).alias("mde_rel"),
    )


@query(
    "events_geo_neighbor_pairs",
    """
    WITH pts AS (
      SELECT DISTINCT user_id,
             ('0x' || substr(md5('x:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0e0 * 100.0e0 AS x,
             ('0x' || substr(md5('y:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0e0 * 100.0e0 AS y
      FROM events
    )
    SELECT a.user_id AS id_a, b.user_id AS id_b,
           round(sqrt((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y)), 6) AS dist
    FROM pts a JOIN pts b
      ON a.user_id < b.user_id
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 25.0e0
    """,
)
def events_geo_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join: every pair of users whose (deterministic,
    md5-derived) positions on a 100×100 km plane lie within 5 km — the
    proximity/co-location primitive behind geo dedup, store-catchment and
    contact analytics. (The synthetic tables carry no coordinates, so
    positions are a pure function of user_id — the portable stand-in that
    keeps both engines bit-identical; on real data, substitute the
    lat/lon projection.)

    Runs through ``operators/spatial.py::grid_neighbor_pairs``: points
    snap to radius-sized grid cells, the left side replicates to its 3×3
    neighborhood (fan-out 9, map-side), pairs meet in a hash EQUI-join on
    the cell id exactly once, and the exact-distance predicate runs only
    on cell-local candidates — bounded by local density, never N². The
    oracle is the quadratic self-join the operator avoids.
    """
    from .operators.spatial import grid_neighbor_pairs

    ev = load(spark, "events", sf_dir)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("x:"), F.col("user_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
        * F.lit(100.0)
    )
    v = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("y:"), F.col("user_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
        * F.lit(100.0)
    )
    from pyspark import StorageLevel

    # both sides of the cell join read the point table — persist the
    # user-cardinality reduction so the events scan runs once
    pts = (
        ev.select("user_id")
        .distinct()
        .select("user_id", u.alias("px"), v.alias("py"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = grid_neighbor_pairs(
        pts, "user_id", F.col("px"), F.col("py"), radius=5.0
    )
    return pairs.select("id_a", "id_b", F.round("dist", 6).alias("dist"))


@query(
    "stats_spearman_rho",
    """
    WITH cells AS (
      SELECT l_returnflag AS g, l_quantity AS x, l_discount AS y,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2, 3
    ), xm AS (
      SELECT g, x,
             2 * (coalesce(sum(tx) OVER (PARTITION BY g ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
             + tx + 1 AS rx2
      FROM (SELECT g, x, CAST(sum(n) AS BIGINT) AS tx FROM cells GROUP BY g, x)
    ), ym AS (
      SELECT g, y,
             2 * (coalesce(sum(ty) OVER (PARTITION BY g ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
             + ty + 1 AS ry2
      FROM (SELECT g, y, CAST(sum(n) AS BIGINT) AS ty FROM cells GROUP BY g, y)
    ), s AS (
      SELECT c.g,
             CAST(sum(c.n) AS BIGINT)                    AS nn,
             CAST(sum(c.n * xm.rx2) AS BIGINT)           AS sx,
             CAST(sum(c.n * ym.ry2) AS BIGINT)           AS sy,
             CAST(sum(c.n * xm.rx2 * xm.rx2) AS BIGINT)  AS sxx,
             CAST(sum(c.n * ym.ry2 * ym.ry2) AS BIGINT)  AS syy,
             CAST(sum(c.n * xm.rx2 * ym.ry2) AS BIGINT)  AS sxy
      FROM cells c
      JOIN xm ON xm.g = c.g AND xm.x = c.x
      JOIN ym ON ym.g = c.g AND ym.y = c.y
      GROUP BY c.g
    )
    SELECT g AS l_returnflag,
           round((CAST(nn AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(nn AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(nn AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 6) AS spearman_rho
    FROM s
    """,
)
def stats_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (quantity vs discount per return flag)
    with midrank tie handling — completing the robust-association triple
    beside the exact Pearson (`agg_corr_covar`) and Kendall tau-b.

    The textbook form ranks every ROW (a global sort). Both variables are
    low-cardinality, so midranks come from the per-value marginals of the
    contingency-cell reduction: rank(v) = (rows below v) + (ties+1)/2 — a
    window over the value-cardinality table, never the fact. Doubled
    midranks (2·rank, always integral) keep every power sum EXACT BIGINT
    arithmetic regardless of summation order; only the final Pearson
    combination is floating point, identical on both engines.
    """
    from pyspark import StorageLevel

    li = load(spark, "lineitem", sf_dir)
    cells = (
        li.groupBy(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").alias("x"),
            F.col("l_discount").alias("y"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # feeds both marginal rank tables and the moment join: one fact scan
    w_prev_x = Window.partitionBy("g").orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    xm = (
        cells.groupBy("g", "x")
        .agg(F.sum("n").cast("bigint").alias("tx"))
        .select(
            "g",
            "x",
            (
                2 * F.coalesce(F.sum("tx").over(w_prev_x), F.lit(0))
                + F.col("tx")
                + 1
            ).alias("rx2"),
        )
    )
    w_prev_y = Window.partitionBy("g").orderBy("y").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ym = (
        cells.groupBy("g", "y")
        .agg(F.sum("n").cast("bigint").alias("ty"))
        .select(
            "g",
            "y",
            (
                2 * F.coalesce(F.sum("ty").over(w_prev_y), F.lit(0))
                + F.col("ty")
                + 1
            ).alias("ry2"),
        )
    )
    s = (
        cells.join(xm, ["g", "x"])
        .join(ym, ["g", "y"])
        .groupBy("g")
        .agg(
            F.sum("n").cast("bigint").alias("nn"),
            F.sum(F.col("n") * F.col("rx2")).cast("bigint").alias("sx"),
            F.sum(F.col("n") * F.col("ry2")).cast("bigint").alias("sy"),
            F.sum(F.col("n") * F.col("rx2") * F.col("rx2"))
            .cast("bigint")
            .alias("sxx"),
            F.sum(F.col("n") * F.col("ry2") * F.col("ry2"))
            .cast("bigint")
            .alias("syy"),
            F.sum(F.col("n") * F.col("rx2") * F.col("ry2"))
            .cast("bigint")
            .alias("sxy"),
        )
    )
    nn, sx, sy = (F.col(c).cast("double") for c in ("nn", "sx", "sy"))
    sxx, syy, sxy = (F.col(c).cast("double") for c in ("sxx", "syy", "sxy"))
    return s.select(
        F.col("g").alias("l_returnflag"),
        F.round(
            (nn * sxy - sx * sy)
            / F.sqrt((nn * sxx - sx * sx) * (nn * syy - sy * sy)),
            6,
        ).alias("spearman_rho"),
    )


@query(
    "dedup_lsh_recall_eval",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x != '') AS t
      FROM documents
    ), sh0 AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            FOR i IN range(1, greatest(len(t) - 2, 1) + 1)])
               AS shingles
      FROM toks
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM sh0
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id
    ), truth AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.3
    ), mins AS (
      SELECT doc_id, j.j AS j,
             min(('0x' || substr(md5(j.j || ':' || shingle), 1, 8))::BIGINT)
               AS mh
      FROM ex CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) j
      GROUP BY doc_id, j.j
    ), bands AS (
      SELECT doc_id, j // 4 AS band,
             string_agg(CAST(mh AS VARCHAR), ':' ORDER BY j) AS bucket
      FROM mins GROUP BY doc_id, j // 4
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), joined AS (
      SELECT coalesce(c.id_a, t.id_a) AS id_a,
             CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand,
             CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_true
      FROM cand c FULL OUTER JOIN truth t
        ON c.id_a = t.id_a AND c.id_b = t.id_b
    )
    SELECT CAST(sum(is_cand) AS BIGINT) AS n_candidates,
           CAST(sum(is_true) AS BIGINT) AS n_true_pairs,
           CAST(sum(is_cand * is_true) AS BIGINT) AS true_positives,
           round(CAST(sum(is_cand * is_true) AS DOUBLE)
                 / nullif(sum(is_cand), 0), 6) AS precision_,
           round(CAST(sum(is_cand * is_true) AS DOUBLE)
                 / nullif(sum(is_true), 0), 6) AS recall_
    FROM joined
    """,
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation-as-a-query: precision and recall of the portable
    MinHash-LSH candidate generator against the exact-Jaccard ≥ 0.3 ground
    truth — the measurement that justifies (or rejects) an LSH band/row
    configuration before a 100 TB run, produced by the engine itself and,
    because both the sketch and the truth are md5/shingle-deterministic,
    verified hash-for-hash by the oracle.

    Truth is the uncapped shingle self-join (oracle scale), candidates are
    the banded signature buckets (the 100 TB scale path); both branches —
    and every sub-consumer inside them — read ONE persisted 2-column
    projection of the corpus, so the file scan runs once. The comparison
    is a full outer join on the pair key reduced to three counters + P/R.
    """
    from pyspark import StorageLevel

    d = (
        load(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    truth = dedup.ngram_jaccard_pairs(d, k_shingle=3, threshold=0.3).select(
        "id_a", "id_b"
    )
    cand = dedup.minhash_lsh_candidates(d, n_hashes=16, bands=4, portable=True)
    joined = (
        cand.withColumn("is_cand", F.lit(1))
        .join(
            truth.withColumn("is_true", F.lit(1)),
            ["id_a", "id_b"],
            "full_outer",
        )
        .select(
            F.coalesce(F.col("is_cand"), F.lit(0)).alias("is_cand"),
            F.coalesce(F.col("is_true"), F.lit(0)).alias("is_true"),
        )
    )
    return joined.agg(
        F.sum("is_cand").cast("bigint").alias("n_candidates"),
        F.sum("is_true").cast("bigint").alias("n_true_pairs"),
        F.sum(F.col("is_cand") * F.col("is_true"))
        .cast("bigint")
        .alias("true_positives"),
        F.round(
            F.sum(F.col("is_cand") * F.col("is_true")).cast("double")
            / F.nullif(F.sum("is_cand"), F.lit(0)),
            6,
        ).alias("precision_"),
        F.round(
            F.sum(F.col("is_cand") * F.col("is_true")).cast("double")
            / F.nullif(F.sum("is_true"), F.lit(0)),
            6,
        ).alias("recall_"),
    )


@query(
    "events_bot_detection",
    """
    WITH gaps AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
             - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
               ) AS gap_s
      FROM events
    ), per_user AS (
      SELECT user_id,
             CAST(count(*) + 1 AS BIGINT) AS n_events,
             CAST(min(gap_s) AS BIGINT) AS min_gap_s,
             CAST(sum(CASE WHEN gap_s <= 600 THEN 1 ELSE 0 END) AS BIGINT)
               AS rapid_count
      FROM gaps WHERE gap_s IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id, n_events, min_gap_s, rapid_count,
           round(CAST(rapid_count AS DOUBLE) / (n_events - 1), 6) AS burst_share
    FROM per_user
    ORDER BY rapid_count DESC, min_gap_s ASC, user_id LIMIT 20
    """,
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/abuse screening heuristic: per-user interarrival profile — the
    minimum gap, the count of rapid (≤10 min) successive events and their
    share — ranked most-suspicious-first. Superhuman event cadence is the
    first-line signal every ingestion pipeline screens before letting
    traffic into training data.

    One shuffle partitions events per user for the lag window; everything
    after is a user-cardinality aggregate, and the top-20 is sort+limit
    (TakeOrderedAndProject — no global window). Gaps are exact integer
    seconds (floored epochs), so ranking and shares are deterministic.
    """
    ev = load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    es = F.unix_timestamp("ts")
    gaps = ev.select(
        "user_id", (es - F.lag(es).over(w)).cast("bigint").alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    per_user = gaps.groupBy("user_id").agg(
        (F.count("*") + 1).cast("bigint").alias("n_events"),
        F.min("gap_s").cast("bigint").alias("min_gap_s"),
        F.sum((F.col("gap_s") <= 600).cast("int")).cast("bigint").alias(
            "rapid_count"
        ),
    )
    return (
        per_user.select(
            "user_id",
            "n_events",
            "min_gap_s",
            "rapid_count",
            F.round(
                F.col("rapid_count").cast("double") / (F.col("n_events") - 1), 6
            ).alias("burst_share"),
        )
        .orderBy(
            F.col("rapid_count").desc(), F.col("min_gap_s").asc(), F.col("user_id")
        )
        .limit(20)
    )


@query(
    "agg_boolean_family",
    """
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000)  AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_large
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_boolean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate surface: bool_and / bool_or (ANSI EVERY/ANY) and
    count_if — the predicate-rollup family dashboards lean on. One
    map-side-combinable hash aggregate; booleans and integer counts are
    exactly deterministic."""
    o = load(spark, "orders", sf_dir)
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count_if(F.col("o_orderstatus") == "F").cast("bigint").alias(
            "n_finished"
        ),
        F.count_if(F.col("o_totalprice") > 200000).cast("bigint").alias(
            "n_large"
        ),
    )


@query(
    "agg_bitwise_family",
    """
    SELECT l_returnflag,
           CAST(bit_and(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_bit_and,
           CAST(bit_or(CAST(l_quantity AS BIGINT))  AS BIGINT) AS qty_bit_or,
           CAST(bit_xor(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_bit_xor
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bitwise_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate surface (bit_and / bit_or / bit_xor) — the
    flag-mask rollup family; bit_xor doubles as an order-independent
    set checksum (the same trick the driver's own hash compare relies
    on). Exact integer semantics, any partitioning."""
    li = load(spark, "lineitem", sf_dir)
    q = F.col("l_quantity").cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.bit_and(q).cast("bigint").alias("qty_bit_and"),
        F.bit_or(q).cast("bigint").alias("qty_bit_or"),
        F.bit_xor(q).cast("bigint").alias("qty_bit_xor"),
    )


@query(
    "dq_sequence_gaps",
    """
    WITH keys AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'
    ), g AS (
      SELECT k AS gap_start_after,
             lead(k) OVER (ORDER BY k) AS next_k
      FROM keys
    )
    SELECT gap_start_after, next_k,
           CAST(next_k - gap_start_after - 1 AS BIGINT) AS missing
    FROM g
    WHERE next_k - gap_start_after > 1
    ORDER BY missing DESC, gap_start_after LIMIT 20
    """,
)
def dq_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap detection over the order-key space: the largest holes
    between consecutive keys — the DQ screen behind resume-by-ID ingestion
    (the reference's START_IDX checkpoint, data_seoul_2_csv_noopenapi.py:79,
    silently loses rows if the source skips ids; this measures that). Runs
    over the finished-order key stream, whose holes are the open/pending
    orders — a sequence with real gaps by construction.

    Scale shape (r4): the next-key lookup is ``windows.lead_scalable`` —
    range buckets on the key from a broadcast min/max probe, within-bucket
    lead partitioned by bucket, boundary stitched with the next bucket's
    minimum (a lead over the bounded bucket table) — no unpartitioned
    window over the key stream. Top-20 via sort+limit.
    """
    from .operators.windows import lead_scalable

    o = (
        load(spark, "orders", sf_dir)
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("k"))
    )
    g = lead_scalable(o, "k", out="next_k").select(
        F.col("k").alias("gap_start_after"), "next_k"
    )
    return (
        g.filter(F.col("next_k") - F.col("gap_start_after") > 1)
        .select(
            "gap_start_after",
            "next_k",
            (F.col("next_k") - F.col("gap_start_after") - 1)
            .cast("bigint")
            .alias("missing"),
        )
        .orderBy(F.col("missing").desc(), F.col("gap_start_after"))
        .limit(20)
    )


@query(
    "stats_empirical_bayes_shrinkage",
    """
    WITH g AS (
      SELECT l_suppkey,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS s
      FROM lineitem GROUP BY l_suppkey
    ), prior AS (
      SELECT CAST(sum(n) AS BIGINT) AS tn, sum(s) AS ts FROM g
    )
    SELECT l_suppkey, n,
           round(CAST(s AS DOUBLE) / n, 2) AS raw_mean,
           round((CAST(s AS DOUBLE) + 20.0e0 * (CAST(ts AS DOUBLE) / tn))
                 / (n + 20.0e0), 2) AS shrunk_mean
    FROM g CROSS JOIN prior
    ORDER BY l_suppkey LIMIT 100
    """,
)
def stats_empirical_bayes_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes mean shrinkage: each supplier's mean price pulled
    toward the global prior with pseudo-count k=20 — the small-sample
    stabilizer behind every leaderboard/target-encoding/CTR estimate
    (shrunk = (Σx + k·prior)/(n + k)).

    One hash aggregate to supplier cardinality; the prior rides as a
    broadcast 1-row aggregate of the SAME reduction (no second fact
    scan). Exact decimal sums; two double divisions at the end.
    """
    from pyspark import StorageLevel

    li = load(spark, "lineitem", sf_dir)
    g = (
        li.groupBy("l_suppkey")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("s"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # prior + output both read this supplier-cardinality table
    prior = g.agg(
        F.sum("n").cast("bigint").alias("tn"), F.sum("s").alias("ts")
    )
    prior_mean = F.col("ts").cast("double") / F.col("tn")
    return (
        g.crossJoin(F.broadcast(prior))
        .select(
            "l_suppkey",
            "n",
            F.round(F.col("s").cast("double") / F.col("n"), 2).alias("raw_mean"),
            F.round(
                (F.col("s").cast("double") + F.lit(20.0) * prior_mean)
                / (F.col("n") + F.lit(20.0)),
                2,
            ).alias("shrunk_mean"),
        )
        .orderBy("l_suppkey")
        .limit(100)
    )


def _textrank_oracle_sql(iterations: int = 10, damping: float = 0.85) -> str:
    """Unrolled power-iteration oracle for TextRank over the word-adjacency
    graph (same expansion technique as q_text._pagerank_oracle_sql —
    DuckDB recursive CTEs forbid aggregates in the recursive term)."""
    edges_cte = """
    WITH toks0 AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')
               AS ws
      FROM documents
    ), toks AS (
      SELECT doc_id, unnest(ws) AS w,
             unnest(generate_series(1, len(ws))) AS pos
      FROM toks0
    ), pairs AS (
      SELECT least(a.w, b.w) AS wa, greatest(a.w, b.w) AS wb
      FROM toks a
      JOIN (SELECT unnest(generate_series(1, 2)) AS d) d ON true
      JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + d.d
      GROUP BY 1, 2
      HAVING count(*) >= 3
    ), edges AS (
      SELECT wa AS src, wb AS dst FROM pairs
      UNION ALL SELECT wb, wa FROM pairs
    ), vx AS (
      SELECT DISTINCT w AS id FROM toks
    ), nn AS (
      SELECT count(*) * 1.0 AS n FROM vx
    ), outdeg AS (
      SELECT src, count(*) AS deg FROM edges GROUP BY src
    ), pr0 AS (
      SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM vx
    )"""
    steps = []
    for i in range(1, iterations + 1):
        steps.append(f""", pr{i} AS (
      SELECT vx.id,
             ({1.0 - damping:g} / (SELECT n FROM nn))
               + {damping:g} * COALESCE(agg.s, 0.0) AS rank
      FROM vx LEFT JOIN (
        SELECT e.dst AS id, sum(p.rank / o.deg) AS s
        FROM edges e
        JOIN pr{i - 1} p ON p.id = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
      ) agg ON vx.id = agg.id
    )""")
    return (
        edges_cte
        + "".join(steps)
        + f"\n    SELECT id AS word, round(rank * 1000000, 4) AS rank_ppm"
        f" FROM pr{iterations}"
    )


@query("text_textrank_keywords", _textrank_oracle_sql())
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scoring (Mihalcea & Tarau): PageRank over the
    word-adjacency graph — words co-occurring within a ±2 window (support
    ≥ 3) vote for each other's importance. The graph-based complement to
    RAKE's frequency/degree scores, composed entirely from existing
    operators: the PMI adjacency equi-join builds the edges, then
    ``operators/graph.py::pagerank`` (localCheckpoint-per-iteration) runs
    10 damped power iterations.

    The edge build is linear in tokens (exploded offsets, hash equi-join —
    never Σ|doc|²); the iteration state is vocabulary-sized. The oracle
    unrolls the identical power iteration, so every rank value
    hash-matches at 0.0001 ppm.
    """
    from pyspark import StorageLevel

    from .operators.graph import pagerank

    d = load(spark, "documents", sf_dir)
    # three consumers (both adjacency sides + the vertex set): persist the
    # token table so the documents scan runs once
    toks = (
        d.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos", "w"),
        )
        .filter(F.col("w") != "")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = toks.select(
        "doc_id",
        F.col("w").alias("w_a"),
        F.explode(F.array(F.lit(1), F.lit(2))).alias("dd"),
        (F.col("pos") + F.col("dd")).alias("pos_b"),
    ).drop("dd")
    b = toks.select(
        F.col("doc_id"), F.col("w").alias("w_b"), F.col("pos").alias("pos_b")
    )
    pairs = (
        a.join(b, ["doc_id", "pos_b"])
        .groupBy(
            F.least("w_a", "w_b").alias("wa"),
            F.greatest("w_a", "w_b").alias("wb"),
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
        .select("wa", "wb")
    )
    edges = pairs.select(
        F.col("wa").alias("src"), F.col("wb").alias("dst")
    ).unionAll(pairs.select(F.col("wb").alias("src"), F.col("wa").alias("dst")))
    vertices = toks.select(F.col("w").alias("id")).distinct()
    ranks = pagerank(vertices, edges, iterations=10)
    return ranks.select(
        F.col("id").alias("word"),
        F.round(F.col("rank") * 1000000, 4).alias("rank_ppm"),
    )


@query(
    "events_forecast_seasonal_naive",
    """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), with_pred AS (
      SELECT event_type, day, cnt,
             lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY day) AS pred
      FROM daily
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days_scored,
           CAST(sum(abs(cnt - pred)) AS BIGINT) AS abs_err_total,
           round(CAST(sum(abs(cnt - pred)) AS DOUBLE) / count(*), 4) AS mae,
           round(sum(CAST(abs(cnt - pred) AS DOUBLE) / cnt) / count(*), 6)
             AS mape,
           round(CAST(sum(cnt - pred) AS DOUBLE) / count(*), 4) AS bias
    FROM with_pred WHERE pred IS NOT NULL
    GROUP BY event_type
    """,
)
def events_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation: predict each day's event count
    with the same weekday last week (the baseline every real forecaster
    must beat) and score MAE / MAPE / bias per event type — the
    backtesting harness as a query.

    One shuffle to the (type, day) aggregate; the lag-7 prediction is a
    window over that catalog-sized table; errors are exact integers until
    the final divisions. Partitioned by event_type — no global window.
    """
    ev = load(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("day")
    wp = daily.withColumn("pred", F.lag("cnt", 7).over(w)).filter(
        F.col("pred").isNotNull()
    )
    err = F.col("cnt") - F.col("pred")
    return wp.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days_scored"),
        F.sum(F.abs(err)).cast("bigint").alias("abs_err_total"),
        F.round(F.sum(F.abs(err)).cast("double") / F.count("*"), 4).alias("mae"),
        F.round(
            F.sum(F.abs(err).cast("double") / F.col("cnt")) / F.count("*"), 6
        ).alias("mape"),
        F.round(F.sum(err).cast("double") / F.count("*"), 4).alias("bias"),
    )


@query(
    "mlprep_token_budget_allocation",
    """
    WITH src AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_src
      FROM src
    ), ordered AS (
      SELECT source, tokens,
             row_number() OVER (ORDER BY tokens, source) AS rk,
             sum(tokens) OVER (ORDER BY tokens, source
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS csum
      FROM src
    ), caps AS (
      SELECT o.source, o.tokens, o.rk, t.total, t.n_src,
             (0.5e0 * t.total - (o.csum - o.tokens)) / (t.n_src - o.rk + 1)
               AS cap_cand
      FROM ordered o CROSS JOIN tot t
    ), cap AS (
      -- every prefix's candidate is <= the true cap (and the true prefix's
      -- candidate equals it), so the solution is the max valid candidate
      SELECT max(cap_cand) AS c FROM caps WHERE cap_cand <= tokens
    )
    SELECT source, tokens,
           round(least(CAST(tokens AS DOUBLE), cap.c), 4) AS allocation,
           round(least(CAST(tokens AS DOUBLE), cap.c) / tokens, 6)
             AS keep_fraction
    FROM src CROSS JOIN cap
    """,
)
def mlprep_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation: given a 50%-of-corpus token
    budget, allocate per source with a common cap c such that
    Σ min(tokens_i, c) = budget — small sources keep everything, dominant
    sources are clipped equally. This is the anti-dominance mixture rule
    (per-source caps, proportional-fair) solved in closed form as a
    query: sort sources by size, and for each prefix the candidate cap is
    (budget − smaller-source mass)/(remaining sources); the true cap is
    the smallest candidate not exceeding its own source size.

    Everything after the per-source rollup is windows over ≤|sources|
    rows; the solve is algebra on exact integer sums — no iteration, no
    driver loop, deterministic.
    """
    from pyspark import StorageLevel

    d = load(spark, "documents", sf_dir)
    src = (
        d.groupBy("source")
        .agg(F.sum("n_chars").cast("bigint").alias("tokens"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # ordered/caps/output all read this |sources|-row table
    tot = src.agg(
        F.sum("tokens").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_src"),
    )
    w_ord = Window.orderBy("tokens", "source")
    ordered = src.select(
        "source",
        "tokens",
        F.row_number().over(w_ord).alias("rk"),
        F.sum("tokens")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("csum"),
    )
    caps = ordered.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        (
            (F.lit(0.5) * F.col("total") - (F.col("csum") - F.col("tokens")))
            / (F.col("n_src") - F.col("rk") + 1)
        ).alias("cap_cand"),
    )
    # every prefix's candidate is <= the true cap (equality at the true
    # prefix), so the solution is the max candidate passing its own bound
    cap = caps.filter(F.col("cap_cand") <= F.col("tokens")).agg(
        F.max("cap_cand").alias("c")
    )
    return src.crossJoin(F.broadcast(cap)).select(
        "source",
        "tokens",
        F.round(F.least(F.col("tokens").cast("double"), F.col("c")), 4).alias(
            "allocation"
        ),
        F.round(
            F.least(F.col("tokens").cast("double"), F.col("c")) / F.col("tokens"),
            6,
        ).alias("keep_fraction"),
    )


@query("text_compression_ratio")  # no deflate in DuckDB SQL → rows-only
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal: deflate(text)/len(text) — the
    classic corpus filter (highly repetitive or templated documents
    compress far below prose; binary-ish noise compresses above it).
    Quality suites (Gopher, FineWeb) gate on exactly this ratio.

    Runs as Arrow-batched ``mapInPandas`` with stdlib zlib — the honest
    Python path for a byte-level codec (no column expression can express
    LZ77), batched so the per-row overhead is pandas-vectorized iteration,
    not per-row task dispatch.

    Rows-only BY ORACLE-ENGINE BOUNDARY, not by nondeterminism (r8,
    VERDICT r7 #4): zlib.compress at a fixed level IS deterministic, but
    DuckDB 1.0.0 exposes no deflate/zlib SQL function (checked against
    duckdb_functions(); only internal dictionary-compression helpers
    exist), so no DuckDB-runnable oracle can recompute the compressed
    size. Deterministic-size and monotonicity (repetition => lower
    ratio) are pinned in tests; the hash-checked twin
    ``text_entropy_compressibility`` cross-checks the same quality
    signal through the SQL-expressible estimator (order-0 character
    entropy — deflate's information-theoretic floor).
    """
    from collections.abc import Iterator

    import pandas as pd

    from .session import ensure_package_shipped

    ensure_package_shipped(spark)
    d = load(spark, "documents", sf_dir).select("doc_id", "text")

    def _ratio(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            comp = raw.map(lambda b: len(zlib.compress(b, 6)))
            n = raw.map(len).clip(lower=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n.astype("int64"),
                    "compressed_bytes": comp.astype("int64"),
                    "ratio": (comp / n).round(6),
                }
            )

    return d.mapInPandas(
        _ratio,
        "doc_id long, n_bytes long, compressed_bytes long, ratio double",
    )


@query(
    "text_entropy_compressibility",
    """
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_chars,
           round(log2(n) - s / n, 6) AS entropy_bits
    FROM (
      SELECT doc_id, sum(c) AS n, sum(c * log2(c)) AS s
      FROM (
        SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
        FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
              FROM documents)
        GROUP BY doc_id, ch
      ) GROUP BY doc_id
    )
    """,
)
def text_entropy_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-0 character entropy per document (bits/char) — the
    SQL-expressible compressibility estimator and deflate's
    information-theoretic floor: ``text_compression_ratio``'s
    hash-checked twin for the quality-filter family (that query's zlib
    size has no DuckDB oracle — see its docstring).

    H = log2(n) - (sum c*log2 c)/n over per-character counts: one
    explode + two hash aggregates, map-side combinable, no window and no
    Python — at 100 TB this is a shuffle of (doc, char) partial counts,
    ~100 distinct chars per doc. The libm log2 composition keeps the
    repo's round(6) convention (irrational off a measure-zero set)."""
    d = load(spark, "documents", sf_dir)
    cnt = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").cast("double").alias("c"))
    )
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("c") * F.log2("c")).alias("s"),
        )
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_chars"),
            F.round(F.log2("n") - F.col("s") / F.col("n"), 6).alias(
                "entropy_bits"
            ),
        )
    )


@query(
    "pyds_custom_source",
    """
    WITH r AS (
      SELECT i AS reading_id, CAST(i % 10 AS INTEGER) AS sensor_id,
             ('0x' || substr(md5('v:' || i), 1, 8))::BIGINT / 4294967296.0e0
               AS value
      FROM (SELECT unnest(generate_series(0, 1999)) AS i)
    )
    SELECT sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           round(sum(value), 6) AS value_sum,
           round(min(value), 6) AS value_min,
           round(max(value), 6) AS value_max
    FROM r GROUP BY sensor_id
    """,
)
def pyds_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``): the
    engine's connector surface for systems without a native reader (the
    reference's Tibero JDBC + OpenAPI collectors). The synthetic sensor
    source plans 8 ``InputPartition`` ranges — 8 parallel executor-side
    tasks, no driver loop — and its md5-deterministic rows let the oracle
    recompute the exact dataset from ``generate_series``, so a
    user-defined SOURCE is hash-checked end to end, not just rows-counted.
    """
    from .session import ensure_package_shipped
    from .sources.pyds import SyntheticSensorDataSource

    ensure_package_shipped(spark)
    try:
        spark.dataSource.register(SyntheticSensorDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    r = (
        spark.read.format("synthetic_sensors")
        .option("n", 2000)
        .option("partitions", 8)
        .load()
    )
    return r.groupBy("sensor_id").agg(
        F.count("*").cast("bigint").alias("n_readings"),
        F.round(F.sum("value"), 6).alias("value_sum"),
        F.round(F.min("value"), 6).alias("value_min"),
        F.round(F.max("value"), 6).alias("value_max"),
    )


@query(
    "join_lateral_top3_per_customer",
    """
    SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS price
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 3
    ) t
    WHERE c.c_custkey <= 30
    """,
)
def join_lateral_top3_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL (correlated) join surface — Spark 4's
    ``DataFrame.lateralJoin``: for each customer row, the right side is a
    per-row derived table (its top-3 orders by value) referencing the
    outer row via ``.outer()`` markers. Completes the join family beside
    equi/semi/anti/asof/range/interval/spatial.

    The deterministic tie order (price desc, orderkey) is mirrored in the
    oracle's LATERAL subquery. For fact-scale per-group top-k, the
    windowed form (`window_topk_per_group`) remains the shuffle-once
    plan; LATERAL is the expressiveness surface for per-row derived
    tables that windows cannot state (per-row parameterized logic).
    """
    c = load(spark, "customer", sf_dir).filter(F.col("c_custkey") <= 30).select(
        "c_custkey"
    )
    o = load(spark, "orders", sf_dir)
    per_row = (
        o.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(3)
        .select("o_orderkey", "o_totalprice")
    )
    return c.lateralJoin(per_row).select(
        "c_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
    )


@query(
    "xml_roundtrip_load",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_loaded,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS price_sum
    FROM orders WHERE o_orderkey % 13 = 0
    GROUP BY o_orderpriority
    """,
)
def xml_roundtrip_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-adjacent source format: native XML sink + scan round trip
    (Spark 4 ships the spark-xml reader built in — rowTag-based record
    framing, schema inference off, explicit schema on read). A
    deterministic orders subset is written as XML and read back; the
    oracle aggregates the same subset straight from parquet, so the round
    trip must be lossless. Completes the interchange-format family:
    parquet, CSV, JSON, ORC, XML, binary payloads, JDBC, and the custom
    Python DataSource."""
    import os
    import tempfile

    o = load(spark, "orders", sf_dir)
    sample = o.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = os.path.join(tempfile.gettempdir(), "seoul_xml_roundtrip")
    (
        sample.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey long, o_orderpriority string, o_totalprice double")
        .load(path)
    )
    return back.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_loaded"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double"), 2
        ).alias("price_sum"),
    )


def _markov_oracle_sql(steps: int = 8) -> str:
    """Unrolled absorbing-chain oracle: h_{k+1}(s) = [s='purchase'] +
    (1-[s='purchase'])·Σ_t P(s,t)·h_k(t), expanded one CTE per step (same
    technique as the PageRank / TextRank oracles)."""
    base = """
    WITH seq AS (
      SELECT user_id, event_type AS s,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS t
      FROM events
    ), trans AS (
      SELECT s, t, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE t IS NOT NULL GROUP BY s, t
    ), p AS (
      SELECT s, t,
             CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY s) AS p
      FROM trans
    ), states AS (
      SELECT DISTINCT event_type AS s FROM events
    ), h0 AS (
      SELECT s, CASE WHEN s = 'purchase' THEN 1.0e0 ELSE 0.0e0 END AS h
      FROM states
    )"""
    steps_sql = []
    for k in range(1, steps + 1):
        steps_sql.append(f""", h{k} AS (
      SELECT st.s,
             CASE WHEN st.s = 'purchase' THEN 1.0e0
                  ELSE coalesce(agg.v, 0.0e0) END AS h
      FROM states st LEFT JOIN (
        SELECT p.s, sum(p.p * h.h) AS v
        FROM p JOIN h{k - 1} h ON h.s = p.t
        GROUP BY p.s
      ) agg ON agg.s = st.s
    )""")
    return (
        base
        + "".join(steps_sql)
        + f"\n    SELECT s AS start_state, round(h, 6) AS p_convert_within_{steps}"
        f" FROM h{steps}"
    )


@query("events_markov_absorbing_conversion", _markov_oracle_sql())
def events_markov_absorbing_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-chain conversion probability: from each starting event
    type, the probability of reaching 'purchase' within 8 transitions
    under the empirical user-journey Markov chain — the model-based
    complement to the observed funnels (`events_funnel_conversion`) and
    the transition matrix (`events_type_transition_matrix`).

    The chain estimate is one lead-window pass + a row-normalized count
    matrix (|types|² rows); the hitting probability is 8 fixed-point
    iterations over a |types|-row vector.

    r11 (VERDICT r10 #4): the fixed point runs on the DRIVER. The state is
    bounded BY CONSTRUCTION by the event-type vocabulary (|types| scalars
    for h, |types|² for P — the annotated-collect convention, independent
    of corpus size), yet each distributed iteration paid a join + agg +
    localCheckpoint JOB over a ≤|types|-row frame — 9 of the query's 11
    jobs were pure job floor (the r10 lazy checkpoint-free variant measured
    WORSE, 4.1 vs 1.9–2.7 s: AQE replans 16 nested tiny stages). Two
    distributed passes remain (the P matrix, the distinct state set); the
    Python loop sums in sorted-t order — deterministic, and inside the
    round(6) both engines already rely on (Spark's own partial-agg order
    was nondeterministic before).

    The returned frame is a snapshot fixed when this function is called:
    both collects run while it is built, and the result is a driver-side
    ``createDataFrame`` of the fixed point. Re-running an action on it does
    not re-read ``events``; call the function again for fresh data.
    """
    ev = load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
    ).filter(F.col("t").isNotNull())
    trans = seq.groupBy("s", "t").agg(F.count("*").alias("n"))
    wp = Window.partitionBy("s")
    p_rows = trans.select(
        "s", "t", (F.col("n").cast("double") / F.sum("n").over(wp)).alias("p")
    ).collect()
    states = sorted(
        r["s"] for r in ev.select(F.col("event_type").alias("s")).distinct().collect()
    )
    P: dict[str, list[tuple[str, float]]] = {}
    for r in p_rows:
        P.setdefault(r["s"], []).append((r["t"], r["p"]))
    for outs in P.values():
        outs.sort()
    h = {s: (1.0 if s == "purchase" else 0.0) for s in states}
    for _ in range(8):
        h = {
            s: 1.0
            if s == "purchase"
            else sum((pr * h.get(t, 0.0) for t, pr in P.get(s, [])), 0.0)
            for s in states
        }
    out = spark.createDataFrame(
        [(s, h[s]) for s in states], "start_state string, h double"
    )
    return out.select(
        "start_state", F.round("h", 6).alias("p_convert_within_8")
    )


@query(
    "stats_mann_whitney_u",
    """
    WITH cells AS (
      SELECT l_returnflag AS g, l_quantity AS v,
             CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
               AS na_v,
             CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
               AS nb_v
      FROM lineitem
      WHERE l_linestatus IN ('O', 'F')
      GROUP BY 1, 2
    ), ranked AS (
      SELECT g, v, na_v, nb_v, na_v + nb_v AS t,
             2 * coalesce(sum(na_v + nb_v) OVER (
                   PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (na_v + nb_v) + 1 AS r2
      FROM cells
    ), s AS (
      SELECT g,
             CAST(sum(na_v) AS BIGINT)          AS na,
             CAST(sum(nb_v) AS BIGINT)          AS nb,
             CAST(sum(na_v * r2) AS BIGINT)     AS ra2,
             CAST(sum(t * t * t - t) AS BIGINT) AS ties
      FROM ranked GROUP BY g
    )
    SELECT g AS l_returnflag, na AS n_o, nb AS n_f,
           (CAST(ra2 AS DOUBLE) - na * (na + 1)) / 2 AS u_stat,
           round(((CAST(ra2 AS DOUBLE) - na * (na + 1)) / 2
                  - CAST(na AS DOUBLE) * nb / 2)
                 / sqrt(CAST(na AS DOUBLE) * nb / 12
                        * ((na + nb + 1)
                           - CAST(ties AS DOUBLE)
                             / ((na + nb) * (na + nb - 1.0)))),
                 6) AS z_score
    FROM s
    """,
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (per return flag: quantity distribution
    of open vs fulfilled lines) with midrank tie handling and the tie-
    corrected normal approximation — the nonparametric two-sample location
    test beside the parametric z-test (`events_ab_test_ztest`) and the KS
    distribution test (`stats_ks_two_sample`).

    The textbook form ranks every row of the pooled sample — a global
    sort. The variable is low-cardinality, so ranks come from the pooled
    per-value marginals instead (same reduction as `stats_spearman_rho`):
    doubled midranks off a window over the value-cardinality cell table,
    never the fact. Every sum (rank sums, tie term Σ(t³−t)) is exact
    BIGINT; only the final U/z combination is floating point — identical
    on both engines, round(6)."""
    li = load(spark, "lineitem", sf_dir).filter(
        F.col("l_linestatus").isin("O", "F")
    )
    cells = (
        li.groupBy(
            F.col("l_returnflag").alias("g"), F.col("l_quantity").alias("v")
        )
        .agg(
            F.sum(F.when(F.col("l_linestatus") == "O", 1).otherwise(0))
            .cast("bigint")
            .alias("na_v"),
            F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0))
            .cast("bigint")
            .alias("nb_v"),
        )
    )
    w_prev = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    t = F.col("na_v") + F.col("nb_v")
    ranked = cells.select(
        "g",
        "na_v",
        "nb_v",
        t.alias("t"),
        (2 * F.coalesce(F.sum(t).over(w_prev), F.lit(0)) + t + 1).alias("r2"),
    )
    s = ranked.groupBy("g").agg(
        F.sum("na_v").cast("bigint").alias("na"),
        F.sum("nb_v").cast("bigint").alias("nb"),
        F.sum(F.col("na_v") * F.col("r2")).cast("bigint").alias("ra2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("ties"),
    )
    na, nb, ra2, ties = (F.col(c) for c in ("na", "nb", "ra2", "ties"))
    u = (ra2.cast("double") - na * (na + 1)) / 2
    mu = na.cast("double") * nb / 2
    n = na + nb
    var = (
        na.cast("double")
        * nb
        / 12
        * ((n + 1) - ties.cast("double") / (n * (n - F.lit(1.0))))
    )
    return s.select(
        F.col("g").alias("l_returnflag"),
        na.alias("n_o"),
        nb.alias("n_f"),
        u.alias("u_stat"),
        F.round((u - mu) / F.sqrt(var), 6).alias("z_score"),
    )


@query(
    "stats_theil_sen_slope",
    """
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1992-01-01',
                            CAST(l_shipdate AS DATE)) AS BIGINT) AS day,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
      FROM lineitem GROUP BY 1
    ), slopes AS (
      SELECT (b.rev - a.rev) / (b.day - a.day) AS slope
      FROM daily a JOIN daily b ON a.day < b.day
    )
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT)  AS n_days,
           CAST(count(*) AS BIGINT)                      AS n_pairs,
           round(quantile_cont(slope, 0.5), 6)           AS theil_sen_slope
    FROM slopes
    """,
)
def stats_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator over daily revenue: the median of
    all pairwise slopes — outlier-resistant where OLS
    (`stats_ols_price_vs_qty`) is not (breakdown point 29%).

    The all-pairs slope set is quadratic ONLY in the number of days: the
    fact collapses to a date-keyed aggregate first (one shuffle,
    exact-decimal sums so the day values are engine-identical), and the
    self-join runs on that calendar-sized table — at 100 TB the pair count
    is still (|days| choose 2), independent of fact rows. Median via exact
    interpolated percentile (both engines use the 1 + p·(n−1) rank
    definition); day numbers and pair counts are exact integers, slopes
    derive from exact decimals, so round(6) pins the result."""
    from pyspark import StorageLevel

    li = load(spark, "lineitem", sf_dir)
    daily = (
        li.groupBy(F.to_date("l_shipdate").alias("d"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("rev")
        )
        .select(
            F.datediff(F.col("d"), F.lit("1992-01-01").cast("date"))
            .cast("bigint")
            .alias("day"),
            "rev",
        )
        # three consumers (both self-join sides + n_days) read the
        # calendar-sized reduction, not the fact: one lineitem scan total
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = a.join(b, F.col("a.day") < F.col("b.day")).select(
        (
            (F.col("b.rev") - F.col("a.rev")) / (F.col("b.day") - F.col("a.day"))
        ).alias("slope")
    )
    n_days = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    return (
        slopes.agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.expr("percentile(slope, 0.5)"), 6).alias(
                "theil_sen_slope"
            ),
        )
        .crossJoin(F.broadcast(n_days))
        .select("n_days", "n_pairs", "theil_sen_slope")
    )


@query(
    "orders_cohort_ltv_curve",
    """
    WITH first_order AS (
      SELECT o_custkey,
             date_trunc('month', min(o_orderdate)) AS cohort
      FROM orders GROUP BY 1
    ), sized AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
      FROM first_order GROUP BY 1
    ), aged AS (
      SELECT f.cohort,
             (year(date_trunc('month', o.o_orderdate)) * 12
              + month(date_trunc('month', o.o_orderdate)))
             - (year(f.cohort) * 12 + month(f.cohort)) AS age_months,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DECIMAL(20,2))
               AS rev
      FROM orders o JOIN first_order f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    )
    SELECT strftime(a.cohort, '%Y-%m') AS cohort_month,
           CAST(a.age_months AS INTEGER) AS age_months,
           s.cohort_size,
           CAST(CAST(sum(a.rev) OVER (
                  PARTITION BY a.cohort ORDER BY a.age_months
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS DOUBLE) / s.cohort_size AS DOUBLE) AS ltv_per_customer
    FROM aged a JOIN sized s ON s.cohort = a.cohort
    """,
)
def orders_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers cohorted by first-order
    month; cumulative revenue per cohort member at each age — the
    retention economics readout beside `events_cohort_retention`.

    Two scans of orders by necessity (first-order derivation + the
    cohort join), then everything is (cohort × age)-sized: the running
    sum windows over a table bounded by months², and revenue accumulates
    as exact decimals so the cumulative division is engine-identical
    without rounding."""
    o = load(spark, "orders", sf_dir)
    first = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    sized = first.groupBy("cohort").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    month_idx = (
        F.year(F.date_trunc("month", F.col("o_orderdate"))) * 12
        + F.month(F.date_trunc("month", F.col("o_orderdate")))
    ) - (F.year(F.col("cohort")) * 12 + F.month(F.col("cohort")))
    aged = (
        o.join(first, "o_custkey")
        .groupBy("cohort", month_idx.alias("age_months"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("decimal(20,2)")
            .alias("rev")
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        aged.join(sized, "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
            F.col("age_months").cast("int").alias("age_months"),
            "cohort_size",
            (
                F.sum("rev").over(w).cast("double") / F.col("cohort_size")
            ).alias("ltv_per_customer"),
        )
    )


@query(
    "stats_wilson_proportion_ci",
    """
    WITH t AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS k
      FROM events GROUP BY 1
    ), n AS (
      SELECT CAST(sum(k) AS BIGINT) AS n FROM t
    )
    SELECT t.event_type, t.k, n.n,
           round(t.k * 1.0 / n.n, 6) AS p_hat,
           round((t.k * 1.0 / n.n + 1.959963985 * 1.959963985 / (2 * n.n)
                  - 1.959963985 * sqrt((t.k * 1.0 / n.n)
                        * (1 - t.k * 1.0 / n.n) / n.n
                        + 1.959963985 * 1.959963985 / (4.0 * n.n * n.n)))
                 / (1 + 1.959963985 * 1.959963985 / n.n), 6) AS ci_lo,
           round((t.k * 1.0 / n.n + 1.959963985 * 1.959963985 / (2 * n.n)
                  + 1.959963985 * sqrt((t.k * 1.0 / n.n)
                        * (1 - t.k * 1.0 / n.n) / n.n
                        + 1.959963985 * 1.959963985 / (4.0 * n.n * n.n)))
                 / (1 + 1.959963985 * 1.959963985 / n.n), 6) AS ci_hi
    FROM t, n
    """,
)
def stats_wilson_proportion_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence interval for each event type's traffic
    share — the proportion CI that behaves at the boundaries where the
    Wald interval collapses (the right default for rates near 0 or 1,
    e.g. error shares). Counts are exact BIGINTs; the z constant is
    spelled identically on both engines so every float op matches;
    round(6) output only. One aggregate + a broadcast 1-row total."""
    z = 1.959963985
    ev = load(spark, "events", sf_dir)
    t = ev.groupBy("event_type").agg(F.count("*").cast("bigint").alias("k"))
    n = t.agg(F.sum("k").cast("bigint").alias("n"))
    p = F.col("k") * 1.0 / F.col("n")
    half = z * F.sqrt(
        p * (1 - p) / F.col("n") + z * z / (4.0 * F.col("n") * F.col("n"))
    )
    center = p + z * z / (2 * F.col("n"))
    denom = 1 + z * z / F.col("n")
    return t.crossJoin(F.broadcast(n)).select(
        "event_type",
        "k",
        "n",
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    )


@query(
    "text_hashing_collision_rate",
    """
    WITH toks AS (
      SELECT DISTINCT unnest(list_filter(
               string_split_regex(trim(lower(text)), '\\s+'), x -> x != ''))
               AS w
      FROM documents
    ), hashed AS (
      SELECT w,
             ('0x' || substr(md5(w), 1, 8))::BIGINT % 256 AS bucket
      FROM toks
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           CAST(count(DISTINCT bucket) AS BIGINT) AS n_buckets_used,
           CAST(count(*) - count(DISTINCT bucket) AS BIGINT) AS n_collisions,
           round((count(*) - count(DISTINCT bucket)) * 1.0 / count(*), 6)
             AS collision_rate
    FROM hashed
    """,
)
def text_hashing_collision_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation-as-a-query for the hashing trick: how many distinct
    vocabulary terms share a bucket at 256 dimensions (the signed
    feature-hashing operator's quality knob, `text_feature_hashing`).
    Portable md5 bucketing so the oracle draws identical buckets; the
    collision count is (terms − used buckets) — exact integers, one
    distinct-vocabulary reduction."""
    d = load(spark, "documents", sf_dir)
    toks = (
        d.select(
            F.explode(
                F.filter(
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                    lambda t: t != F.lit(""),
                )
            ).alias("w")
        )
        .distinct()
    )
    hashed = toks.select(
        (
            F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long") % 256
        ).alias("bucket")
    )
    return hashed.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.count_distinct("bucket").cast("bigint").alias("n_buckets_used"),
        (F.count("*") - F.count_distinct("bucket"))
        .cast("bigint")
        .alias("n_collisions"),
        F.round(
            (F.count("*") - F.count_distinct("bucket")) / F.count("*"), 6
        ).alias("collision_rate"),
    )


@query(
    "sample_neyman_allocation",
    """
    WITH s AS (
      SELECT c_mktsegment,
             CAST(count(*) AS BIGINT) AS n_h,
             CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))
                      * CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS s2
      FROM customer GROUP BY 1
    ), sd AS (
      SELECT c_mktsegment, n_h,
             sqrt((s2 - s1 * s1 / n_h) / (n_h - 1)) AS sd_h
      FROM s
    ), tot AS (
      SELECT sum(n_h * sd_h) AS denom FROM sd
    )
    SELECT sd.c_mktsegment, sd.n_h,
           round(sd.sd_h, 4) AS sd_h,
           round(sd.n_h * sd.sd_h / t.denom, 6) AS alloc_frac,
           round(1000 * sd.n_h * sd.sd_h / t.denom, 2) AS n_alloc_1000
    FROM sd, tot t
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation for stratified sampling: sample size per
    stratum proportional to N_h·σ_h — the survey-design complement of the
    proportional per-source caps and weighted reservoir already in the
    sampling family (minimizes estimator variance for a fixed budget;
    here a 1000-row budget across market segments).

    σ_h comes from exact decimal power sums (Σx, Σx² are exact — acctbal
    is a 2-decimal value), so the only floats are final per-stratum
    combinations, identical on both engines. One aggregate over customer;
    the denominator rides as a broadcast 1-row aggregate."""
    c = load(spark, "customer", sf_dir)
    bal = F.col("c_acctbal").cast("decimal(12,2)")
    s = c.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_h"),
        F.sum(bal).cast("double").alias("s1"),
        F.sum(bal * bal).cast("double").alias("s2"),
    )
    sd = s.select(
        "c_mktsegment",
        "n_h",
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_h"))
            / (F.col("n_h") - 1)
        ).alias("sd_h"),
    )
    tot = sd.agg(F.sum(F.col("n_h") * F.col("sd_h")).alias("denom"))
    return sd.crossJoin(F.broadcast(tot)).select(
        "c_mktsegment",
        "n_h",
        F.round("sd_h", 4).alias("sd_h"),
        F.round(F.col("n_h") * F.col("sd_h") / F.col("denom"), 6).alias(
            "alloc_frac"
        ),
        F.round(
            1000 * F.col("n_h") * F.col("sd_h") / F.col("denom"), 2
        ).alias("n_alloc_1000"),
    )


@query(
    "stats_cohens_d_effect_size",
    """
    WITH s AS (
      SELECT l_returnflag AS g,
             CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END)
                  AS BIGINT) AS s1_a,
             CAST(sum(CASE WHEN l_linestatus = 'O'
                           THEN l_quantity * l_quantity ELSE 0 END)
                  AS BIGINT) AS s2_a,
             CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END)
                  AS BIGINT) AS s1_b,
             CAST(sum(CASE WHEN l_linestatus = 'F'
                           THEN l_quantity * l_quantity ELSE 0 END)
                  AS BIGINT) AS s2_b
      FROM lineitem WHERE l_linestatus IN ('O', 'F')
      GROUP BY 1
    )
    SELECT g AS l_returnflag, n_a, n_b,
           round(CAST(s1_a AS DOUBLE) / n_a
                 - CAST(s1_b AS DOUBLE) / n_b, 6) AS mean_diff,
           round((CAST(s1_a AS DOUBLE) / n_a - CAST(s1_b AS DOUBLE) / n_b)
                 / sqrt(((s2_a - CAST(s1_a AS DOUBLE) * s1_a / n_a)
                         + (s2_b - CAST(s1_b AS DOUBLE) * s1_b / n_b))
                        / (n_a + n_b - 2)), 6) AS cohens_d
    FROM s
    """,
)
def stats_cohens_d_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d (pooled-SD standardized mean difference, open vs
    fulfilled quantity per return flag) — the MAGNITUDE companion to the
    significance battery (z-test, Mann-Whitney, ANOVA): at 100 TB sample
    sizes everything is "significant"; d says whether anyone should
    care. One conditional-sum aggregate; all power sums exact BIGINT,
    only the final combination floats (identical cross-engine)."""
    li = load(spark, "lineitem", sf_dir).filter(
        F.col("l_linestatus").isin("O", "F")
    )
    q = F.col("l_quantity")
    is_a = F.col("l_linestatus") == "O"
    is_b = F.col("l_linestatus") == "F"
    s = li.groupBy(F.col("l_returnflag").alias("g")).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(is_a, q).otherwise(0)).cast("bigint").alias("s1_a"),
        F.sum(F.when(is_a, q * q).otherwise(0)).cast("bigint").alias("s2_a"),
        F.sum(F.when(is_b, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(is_b, q).otherwise(0)).cast("bigint").alias("s1_b"),
        F.sum(F.when(is_b, q * q).otherwise(0)).cast("bigint").alias("s2_b"),
    )
    mean_a = F.col("s1_a").cast("double") / F.col("n_a")
    mean_b = F.col("s1_b").cast("double") / F.col("n_b")
    ss_a = F.col("s2_a") - F.col("s1_a").cast("double") * F.col("s1_a") / F.col("n_a")
    ss_b = F.col("s2_b") - F.col("s1_b").cast("double") * F.col("s1_b") / F.col("n_b")
    pooled = F.sqrt((ss_a + ss_b) / (F.col("n_a") + F.col("n_b") - 2))
    return s.select(
        F.col("g").alias("l_returnflag"),
        "n_a",
        "n_b",
        F.round(mean_a - mean_b, 6).alias("mean_diff"),
        F.round((mean_a - mean_b) / pooled, 6).alias("cohens_d"),
    )
