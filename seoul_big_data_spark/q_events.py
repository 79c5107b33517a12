"""Event-stream analytics as batch queries (SURVEY.md §2.8 + engine scope):
JSON extraction, tumbling time windows, sessionization, as-of and range
joins. The identical DataFrame code is the Structured Streaming program once
``read`` becomes ``readStream`` + a watermark; batch keeps it DuckDB-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import windows
from .operators.joins import asof_join, banded_range_join, range_join
from .operators.windows import gap_moments_scalable
from .registry import query
from .sources.tables import load
from .streaming.batch_windows import hourly_rollup, session_stats


@query(
    "events_json_extract",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value
    FROM events
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props column (engine scope, §2.7)."""
    e = load(spark, "events", sf_dir)
    return e.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    )


@query(
    "events_json_schema",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
             AS total_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 2)
             AS avg_k
    FROM events GROUP BY event_type
    """,
)
def events_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with an explicit schema → typed struct → aggregate
    (vs. get_json_object string probing)."""
    e = load(spark, "events", sf_dir)
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    parsed = e.withColumn("p", F.from_json("props", schema))
    return parsed.groupBy("event_type").agg(
        F.sum("p.k").alias("total_k"),
        F.round(F.avg("p.k"), 2).alias("avg_k"),
    )


@query(
    "events_hourly_rollup",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type, count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch form of the streaming
    windowed agg, SURVEY.md §2.8)."""
    e = load(spark, "events", sf_dir)
    out = hourly_rollup(e)
    return out.select(
        F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@query(
    "events_sessionization",
    """
    WITH t AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events
    ), g AS (
      SELECT user_id, tss,
             CASE WHEN tss - lag(tss) OVER (PARTITION BY user_id ORDER BY tss)
                       > 1800
                  OR lag(tss) OVER (PARTITION BY user_id ORDER BY tss) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM t
    ), s AS (
      SELECT user_id, tss,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY tss
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           max(tss) - min(tss) AS duration_sec
    FROM s GROUP BY user_id, session_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows via lag-gap cumulative sum (30-min gap) — the batch
    equivalent of a streaming session window (SURVEY.md §2.8)."""
    e = load(spark, "events", sf_dir)
    return session_stats(e).select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "n_events",
        "duration_sec",
    )


@query(
    "events_asof_join",
    """
    WITH u AS (
      SELECT user_id, ts, 1 AS side, event_id, CAST(NULL AS BIGINT) AS p_id
      FROM events WHERE event_type = 'error'
      UNION ALL
      SELECT user_id, ts, 0 AS side, CAST(NULL AS BIGINT), event_id
      FROM events WHERE event_type = 'purchase'
    ), f AS (
      SELECT user_id, side, event_id,
             last_value(p_id IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side, p_id
               ROWS UNBOUNDED PRECEDING) AS asof_event_id
      FROM u
    )
    SELECT event_id, user_id, asof_event_id FROM f WHERE side = 1
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each error event, the latest purchase event of the
    same user at-or-before it (union-and-window implementation — one shuffle
    on user_id, no cross product; operators/joins.py::asof_join)."""
    e = load(spark, "events", sf_dir)
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), "user_id", "ts"
    )
    out = asof_join(
        errors,
        purchases.withColumnRenamed("event_id", "p_event_id"),
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["p_event_id"],
    )
    return out.select(
        "event_id", "user_id", F.col("asof_p_event_id").alias("asof_event_id")
    )


@query(
    "events_range_join",
    """
    SELECT b.band_name, count(*) AS n_events, round(sum(e.value), 2) AS total_value
    FROM events e
    JOIN (VALUES ('low', 0.0, 100.0), ('mid', 100.0, 500.0), ('high', 500.0, 1e18))
         b(band_name, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band_name
    """,
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/band join: events bucketed into value bands (broadcast
    nested-loop on a tiny dim — operators/joins.py::range_join)."""
    e = load(spark, "events", sf_dir)
    bands = spark.createDataFrame(
        [("low", 0.0, 100.0), ("mid", 100.0, 500.0), ("high", 500.0, 1e18)],
        "band_name string, lo double, hi double",
    )
    joined = range_join(e, bands, F.col("value"), F.col("lo"), F.col("hi"))
    return joined.groupBy("band_name").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "events_range_join_banded",
    """
    SELECT b.band_name, count(*) AS n_events, round(sum(e.value), 2) AS total_value
    FROM events e
    JOIN (VALUES ('low', 0.0, 100.0), ('mid', 100.0, 500.0), ('high', 500.0, 1e18))
         b(band_name, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band_name
    """,
)
def events_range_join_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via the binned equi-join (operators/joins.py::
    banded_range_join) — same semantics as ``events_range_join`` but with NO
    broadcast nested-loop, so it survives an interval table too large to
    broadcast (tiered pricing tables, IP-range geo maps). The value domain
    for clamping open-ended intervals comes from one min/max aggregate
    (driver-side scalar, catalog-sized)."""
    e = load(spark, "events", sf_dir)
    bands = spark.createDataFrame(
        [("low", 0.0, 100.0), ("mid", 100.0, 500.0), ("high", 500.0, 1e18)],
        "band_name string, lo double, hi double",
    )
    vmin, vmax = e.agg(F.min("value"), F.max("value")).first()
    joined = banded_range_join(
        e, bands, F.col("value"), F.col("lo"), F.col("hi"),
        band_width=100.0, vmin=vmin, vmax=vmax,
    )
    return joined.groupBy("band_name").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "events_type_share",
    """
    SELECT event_type, count(*) AS n,
           round(CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER () AS DOUBLE), 6)
             AS share
    FROM events GROUP BY event_type
    """,
)
def events_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate + window-over-aggregate (share of total)."""
    e = load(spark, "events", sf_dir)
    counts = e.groupBy("event_type").agg(F.count("*").alias("n"))
    return counts.select(
        "event_type",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy()), 6).alias(
            "share"
        ),
    )


@query(
    "events_funnel_conversion",
    """
    WITH w AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'),
    fv AS (SELECT user_id, min(ts) AS t_view FROM w
           WHERE event_type = 'view' GROUP BY user_id),
    fc AS (SELECT e.user_id, min(e.ts) AS t_click FROM w e
           JOIN fv ON e.user_id = fv.user_id AND e.ts > fv.t_view
           WHERE e.event_type = 'click' GROUP BY e.user_id),
    fp AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM w e
           JOIN fc ON e.user_id = fc.user_id AND e.ts > fc.t_click
           WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM fv
    UNION ALL
    SELECT 'view>click', CAST(count(*) AS BIGINT) FROM fc
    UNION ALL
    SELECT 'view>click>purchase', CAST(count(*) AS BIGINT) FROM fp
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → later click → later purchase) over
    one week of events, in one shuffle. Two unordered windows over the
    same ``partitionBy("user_id")`` give each event row its user's first
    view and first click strictly after it; they share one Exchange on
    user_id and one sort. The per-user ``groupBy`` after them needs no
    shuffle of its own and takes the first purchase strictly after that
    click, since every row already carries it. One global count per stage
    follows, and ``inline`` turns that 1-row result into the three
    ``(stage, n_users)`` rows: no join, no persist, one events scan. A null
    ``user_id`` groups as one user at the view stage but, as in the
    oracle's equi-joins, never reaches click or purchase."""
    stages = [
        ("view", "t_view"),
        ("view>click", "t_click"),
        ("view>click>purchase", "t_purchase"),
    ]
    by_user = Window.partitionBy("user_id")
    ts, kind = F.col("ts"), F.col("event_type")
    users = (
        load(spark, "events", sf_dir)
        .filter(ts < F.lit("2024-01-08").cast("timestamp"))
        .select("user_id", "event_type", "ts")
        .withColumn("t_view", F.min(F.when(kind == "view", ts)).over(by_user))
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    F.col("user_id").isNotNull()
                    & (kind == "click")
                    & (ts > F.col("t_view")),
                    ts,
                )
            ).over(by_user),
        )
        .groupBy("user_id")
        .agg(
            F.max("t_view").alias("t_view"),
            F.max("t_click").alias("t_click"),
            F.min(
                F.when((kind == "purchase") & (ts > F.col("t_click")), ts)
            ).alias("t_purchase"),
        )
    )
    counts = users.agg(*(F.count(c).alias(c) for _, c in stages))
    return counts.select(
        F.inline(
            F.array(
                *(
                    F.struct(F.lit(label).alias("stage"), F.col(c).alias("n_users"))
                    for label, c in stages
                )
            )
        )
    )


@query(
    "events_cohort_retention",
    """
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort,
           CAST((epoch(act_week) - epoch(cohort_week)) / 604800 AS INTEGER)
             AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM first_seen JOIN activity USING (user_id)
    GROUP BY cohort_week, act_week
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen week, counted
    in each later activity week. Both CTEs group on user_id, then the
    (cohort, offset) aggregate is tiny. Week offsets via epoch arithmetic
    (exact multiples of 604800 s on week-truncated UTC timestamps — no
    engine-specific week-diff semantics)."""
    e = load(spark, "events", sf_dir)
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").alias("act_week")
    ).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy("cohort_week", "act_week")
        .agg(F.count("*").alias("n_users"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort"),
            (
                (
                    F.unix_timestamp("act_week")
                    - F.unix_timestamp("cohort_week")
                )
                / 604800
            )
            .cast("int")
            .alias("week_offset"),
            "n_users",
        )
    )


@query(
    "events_sequence_pattern",
    """
    WITH seq AS (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS s
      FROM events WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
      GROUP BY user_id
    )
    SELECT user_id, CAST(length(s) AS INTEGER) AS n_events,
           CASE WHEN s LIKE '%vc%' THEN 1 ELSE 0 END AS has_view_then_click,
           CASE WHEN s LIKE '%v%c%p%' THEN 1 ELSE 0 END AS has_v_c_p_anywhere
    FROM seq
    """,
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence detection: each user's ordered
    event-initial string (v/c/s/e/p), pattern-matched for immediate
    view→click adjacency and the gapped view…click…purchase motif. The
    per-user sequence builds with sort_array(collect_list(struct)) inside
    one aggregation — ordered string aggregation without a global sort."""
    e = load(spark, "events", sf_dir).filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    seq = (
        e.select(
            "user_id",
            F.struct(
                "ts", "event_id", F.substring("event_type", 1, 1).alias("ch")
            ).alias("st"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("st")), lambda s: s["ch"]
                ),
            ).alias("s")
        )
    )
    return seq.select(
        "user_id",
        F.length("s").cast("int").alias("n_events"),
        F.when(F.col("s").contains("vc"), 1).otherwise(0).alias(
            "has_view_then_click"
        ),
        F.when(F.col("s").rlike("v.*c.*p"), 1).otherwise(0).alias(
            "has_v_c_p_anywhere"
        ),
    )


@query(
    "join_skew_salted",
    """
    SELECT t.tier, count(*) AS n_events, round(sum(e.value), 2) AS total_value
    FROM events e
    JOIN (SELECT DISTINCT user_id, user_id % 5 AS tier FROM events) t
      ON e.user_id = t.user_id
    GROUP BY t.tier
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join via explicit salting (operators/skew.py::salted_join):
    the fact side is salted n ways by a deterministic row hash and the dim
    side exploded n ways, so one hot user key spreads over n reducers — the
    fallback for skew AQE cannot split (broadcast-ineligible dim against a
    hot fact key). Result is identical to the plain equi-join, which is what
    the oracle checks; the 100 TB win is reducer balance, not semantics."""
    from .operators.skew import salted_join

    e = load(spark, "events", sf_dir)
    tiers = (
        e.select("user_id").distinct()
        .withColumn("tier", (F.col("user_id") % 5).cast("bigint"))
    )
    joined = salted_join(e.select("user_id", "value"), tiers, "user_id", n_salts=8)
    return joined.groupBy("tier").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "events_rollup_two_level",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value
    FROM events GROUP BY date_trunc('day', ts), event_type
    """,
)
def events_rollup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate (hypertable-rollup) pattern: hourly partial
    aggregates re-aggregated to daily by MERGING partials — count=Σcounts,
    sum=Σsums, min=min(mins), max=max(maxs). The oracle computes the daily
    rollup directly from raw events, proving the merge is lossless — the
    property that lets a 100 TB pipeline maintain cheap incremental hourly
    partials and serve any coarser window without rescanning raw data.
    Value sums are exact decimals so two-level and direct summation agree
    bit-for-bit regardless of merge order."""
    e = load(spark, "events", sf_dir)
    hourly = (
        e.withColumn("hour", F.date_trunc("hour", "ts"))
        .groupBy("hour", "event_type")
        .agg(
            F.count("*").alias("_n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("_sum"),
            F.min("value").alias("_min"),
            F.max("value").alias("_max"),
        )
    )
    return (
        hourly.withColumn("day", F.date_format(F.date_trunc("day", "hour"), "yyyy-MM-dd"))
        .groupBy("day", "event_type")
        .agg(
            F.sum("_n").alias("n_events"),
            F.sum("_sum").cast("double").alias("total_value"),
            F.round(F.min("_min"), 6).alias("min_value"),
            F.round(F.max("_max"), 6).alias("max_value"),
        )
    )


@query(
    "events_session_busy_overlap",
    """
    WITH t AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events
    ), g AS (
      SELECT user_id, tss,
             CASE WHEN tss - lag(tss) OVER (PARTITION BY user_id ORDER BY tss)
                       > 1800
                  OR lag(tss) OVER (PARTITION BY user_id ORDER BY tss) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM t
    ), sdf AS (
      SELECT user_id, tss,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY tss
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    ), sess AS (
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             min(tss) AS s_start, max(tss) AS s_end
      FROM sdf GROUP BY user_id, session_id
    ), hrs AS (
      SELECT CAST(floor(tss / 3600) AS BIGINT) AS hr, count(*) AS cnt
      FROM t GROUP BY 1
    ), busy AS (
      SELECT hr FROM (
        SELECT hr, row_number() OVER (ORDER BY cnt DESC, hr) AS rk FROM hrs
      ) WHERE rk <= 5
    ), spans AS (
      SELECT user_id, session_id, s_start, s_end,
             unnest(generate_series(CAST(floor(s_start / 3600) AS BIGINT),
                                    CAST(floor(s_end / 3600) AS BIGINT))) AS hr
      FROM sess
    )
    SELECT s.user_id, s.session_id, s.hr,
           CAST(least(s_end, (s.hr + 1) * 3600)
                - greatest(s_start, s.hr * 3600) AS BIGINT) AS overlap_sec
    FROM spans s JOIN busy b ON s.hr = b.hr
    """,
)
def events_session_busy_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via time banding — the scale-safe form of the
    theta join "session interval overlaps busy-hour interval". Sessions
    (lag-gap sessionization) explode into the hour buckets they cover
    (bounded by their own duration — no global grid), the busy-hour side is
    a top-5 aggregate (tiny, broadcast), and the overlap becomes an
    equi-join on the hour bucket plus an exact integer-seconds measure. A
    BroadcastNestedLoopJoin never appears; the fact side is touched twice
    (sessionize window + hourly count), both one-shuffle passes."""
    e = load(spark, "events", sf_dir)
    # bucket-and-stitch session assignment (r9): the plain window form
    # measured 1.68x at x32 with a 25%-hot user; ids bit-identical. The
    # session-grain fused form (only min/max bounds are consumed) keeps
    # everything after the bucket window at session grain.
    sess = windows.sessionize_agg_scalable(
        e.select("user_id", "ts"),
        "user_id",
        "ts",
        local_aggs=[],
        merge_aggs=[
            F.min("s_first_tss").alias("s_start"),
            F.max("s_last_tss").alias("s_end"),
        ],
        gap_minutes=30,
    )
    hrs = (
        e.select(F.floor(F.col("ts").cast("long") / 3600).cast("long").alias("hr"))
        .groupBy("hr")
        .agg(F.count("*").alias("cnt"))
    )
    wb = Window.orderBy(F.desc("cnt"), F.asc("hr"))
    busy = (
        hrs.select("hr", F.row_number().over(wb).alias("rk"))
        .filter(F.col("rk") <= 5)
        .select("hr")
    )
    spans = sess.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "s_start",
        "s_end",
        F.explode(
            F.sequence(
                F.floor(F.col("s_start") / 3600).cast("long"),
                F.floor(F.col("s_end") / 3600).cast("long"),
            )
        ).alias("hr"),
    )
    return spans.join(F.broadcast(busy), "hr").select(
        "user_id",
        "session_id",
        "hr",
        (
            F.least(F.col("s_end"), (F.col("hr") + 1) * 3600)
            - F.greatest(F.col("s_start"), F.col("hr") * 3600)
        )
        .cast("long")
        .alias("overlap_sec"),
    )


@query(
    "events_variant_extract",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10)
                AS BIGINT) AS k_mod_sum,
           count(*) AS n
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 10
    GROUP BY event_type
    """,
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics over the VARIANT type (Spark 4): props is
    parsed once into the shredded binary-JSON representation and fields are
    extracted with variant_get — at 100 TB this is the schema-on-read format
    whose per-field access does not re-parse the JSON string per expression
    (get_json_object does). Filter + aggregate push onto the extracted
    field; the oracle reads the same numbers through DuckDB's JSON path."""
    e = load(spark, "events", sf_dir)
    v = e.select("event_type", F.parse_json("props").alias("pv"))
    k = F.variant_get(F.col("pv"), "$.k", "int")
    return (
        v.select("event_type", k.alias("k"))
        .filter(F.col("k") > 10)
        .groupBy("event_type")
        .agg(
            F.sum(F.col("k") % 10).cast("long").alias("k_mod_sum"),
            F.count("*").alias("n"),
        )
    )


@query(
    "events_incremental_rollup",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance: the hourly rollup is materialized
    from TWO increments — the base load and a late-arriving batch (the last
    three days of events) — via mergeable partial aggregates
    (operators/rollup.py). The oracle recomputes the same rollup from
    scratch over all events: merge(partial(base), partial(late)) must land
    on identical bytes, which the exact-decimal sum guarantees regardless
    of increment count or association order."""
    from .operators.rollup import merge_rollups, partial_rollup

    e = load(spark, "events", sf_dir).select(
        F.date_trunc("hour", "ts").alias("hour_start"), "event_type", "value"
    )
    # ONE fact scan: reduce to hourly partials first, THEN split base/late
    # on the bucket key (the cutoff is a window max over the bucket table —
    # single-partition is fine there, it is already hours x types sized).
    # Splitting by the group key keeps every bucket wholly in one increment,
    # so merge(partial(base), partial(late)) still exercises the mergeable-
    # aggregate path the oracle recomputes from scratch.
    from pyspark import StorageLevel

    keys = ["hour_start", "event_type"]
    # persist the bucket-sized partial table: both increment branches read
    # it from cache, so the fact scan runs exactly once.
    part = (
        partial_rollup(e, keys, "value")
        .withColumn(
            "_cut",
            F.date_sub(F.max(F.col("hour_start")).over(Window.partitionBy()), 3),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    base = part.filter(F.col("hour_start").cast("date") < F.col("_cut")).drop("_cut")
    late = part.filter(F.col("hour_start").cast("date") >= F.col("_cut")).drop("_cut")
    merged = merge_rollups(base, late)
    return merged.select(
        F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
    )


@query(
    "events_asof_nearest",
    """
    WITH u AS (
      SELECT user_id, ts, 1 AS side, event_id,
             CAST(NULL AS BIGINT) AS p_id, CAST(NULL AS TIMESTAMP) AS p_ts
      FROM events WHERE event_type = 'error'
      UNION ALL
      SELECT user_id, ts, 0 AS side, CAST(NULL AS BIGINT), event_id, ts
      FROM events WHERE event_type = 'purchase'
    ), f AS (
      SELECT user_id, ts, side, event_id,
             last_value(p_id IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side, p_id
               ROWS UNBOUNDED PRECEDING) AS b_id,
             last_value(p_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side, p_id
               ROWS UNBOUNDED PRECEDING) AS b_ts,
             first_value(p_id IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side DESC, p_id DESC
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f_id,
             first_value(p_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side DESC, p_id DESC
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f_ts
      FROM u
    ), sel AS (
      SELECT event_id, user_id, ts,
             CASE WHEN b_ts IS NULL THEN f_id
                  WHEN f_ts IS NULL THEN b_id
                  WHEN epoch_us(ts) - epoch_us(b_ts)
                       <= epoch_us(f_ts) - epoch_us(ts) THEN b_id
                  ELSE f_id END AS n_id,
             CASE WHEN b_ts IS NULL THEN f_ts
                  WHEN f_ts IS NULL THEN b_ts
                  WHEN epoch_us(ts) - epoch_us(b_ts)
                       <= epoch_us(f_ts) - epoch_us(ts) THEN b_ts
                  ELSE f_ts END AS n_ts
      FROM f WHERE side = 1
    )
    SELECT event_id, user_id,
           CASE WHEN abs(epoch_us(ts) - epoch_us(n_ts)) <= 3600000000
                THEN n_id END AS asof_event_id,
           CASE WHEN abs(epoch_us(ts) - epoch_us(n_ts)) <= 3600000000
                THEN CAST(epoch_us(ts) - epoch_us(n_ts) AS BIGINT)
           END AS diff_us
    FROM sel
    """,
)
def events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of NEAREST with a 1-hour tolerance: for each error event, the
    closest purchase of the same user in either direction (ties backward),
    nulled when farther than the tolerance
    (operators/joins.py::asof_join_directional). Same one-shuffle
    union-and-window scan as the backward form — direction and tolerance
    are pure column arithmetic on top."""
    from .operators.joins import asof_join_directional

    e = load(spark, "events", sf_dir)
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"), "user_id", "ts"
    )
    out = asof_join_directional(
        errors,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["p_event_id"],
        direction="nearest",
        tolerance_seconds=3600,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_p_event_id").alias("asof_event_id"),
        (F.unix_micros("ts") - F.unix_micros("asof_ts")).alias("diff_us"),
    )


@query(
    "events_rolling_median_24h",
    """
    WITH t AS (
      SELECT event_id, user_id, value, epoch_us(ts) AS tus FROM events
    ), c AS (
      SELECT event_id, user_id,
             list(value) OVER (
               PARTITION BY user_id ORDER BY tus
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW
             ) AS arr
      FROM t
    )
    SELECT event_id, user_id,
           round(CASE WHEN len(arr) % 2 = 1
                      THEN list_sort(arr)[(len(arr) + 1) // 2]
                      ELSE (list_sort(arr)[len(arr) // 2]
                            + list_sort(arr)[len(arr) // 2 + 1]) / 2.0
                 END, 6) AS med_24h
    FROM c
    """,
)
def events_rolling_median_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-24h rolling median per user: RANGE frame over the
    event-time axis collects the window's values, the median is pure array
    arithmetic (sort + midpoint, even windows interpolated). One shuffle on
    user_id; state per row is the trailing window — O(rate x horizon), the
    same bound a streaming watermark guarantees. Exact where
    percentile_approx is not: both engines compute the identical
    sorted-midpoint convention, pinned by the hash match."""
    e = load(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-86_400_000_000, 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    med = F.when(
        n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int"))
    ).otherwise(
        (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2 + 1).cast("int"))
        )
        / 2.0
    )
    return e.select(
        "event_id", "user_id", F.round(med, 6).alias("med_24h")
    )


@query(
    "events_attribution_first_touch",
    """
    WITH t AS (
      SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tus
      FROM events
    ), g AS (
      SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                       OR tus - lag(tus) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ), s AS (
      SELECT *, sum(new_sess) OVER (
        PARTITION BY user_id ORDER BY tus, event_id
        ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    ), f AS (
      SELECT *, first_value(event_type) OVER (
        PARTITION BY user_id, session_id ORDER BY tus, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_touch
      FROM s
    )
    SELECT first_touch, CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value), 2) AS attributed_value
    FROM f WHERE event_type = 'purchase'
    GROUP BY first_touch
    """,
)
def events_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every purchase is credited to the event type
    that OPENED its session (30-min inactivity gap). The standard marketing
    attribution kernel, exact and deterministic under timestamp ties
    ((ts, event_id) total order).

    Skew-proof form (r9 — the window form measured 1.75x at x32 with a
    25%-hot user): session ids come from the bucket-and-stitch stitch math
    (microsecond gap units, bit-identical ids), and the per-session first
    touch is a COMBINABLE aggregate — min_by over the (tus, event_id)
    total order, carried with its key through the session-grain fused form
    (sessionize_agg_scalable) so fragments of boundary-spanning sessions
    merge exactly — no (user)- or (user, session)-partitioned window and
    no corpus-sized join-back anywhere in the plan."""
    e = load(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value", F.unix_micros("ts").alias("tus")
    )
    is_p = F.col("event_type") == "purchase"
    sess = windows.sessionize_agg_scalable(
        e,
        "user_id",
        "tus",
        local_aggs=[
            F.min_by("event_type", F.struct("tus", "event_id")).alias("ft"),
            F.min(F.struct("tus", "event_id")).alias("ft_key"),
            F.sum(is_p.cast("long")).alias("n_purchases"),
            F.sum(F.when(is_p, F.col("value")).otherwise(F.lit(0.0))).alias(
                "pvalue"
            ),
        ],
        merge_aggs=[
            F.min_by("ft", "ft_key").alias("first_touch"),
            F.sum("n_purchases").alias("n_purchases"),
            F.sum("pvalue").alias("pvalue"),
        ],
        gap_units=1_800_000_000,
        tiebreak_cols=["event_id"],
    )
    return (
        sess.filter(F.col("n_purchases") > 0)
        .groupBy("first_touch")
        .agg(
            F.sum("n_purchases").cast("bigint").alias("n_purchases"),
            F.round(F.sum("pvalue"), 2).alias("attributed_value"),
        )
    )


@query(
    "events_session_window_builtin",
    """
    WITH t AS (
      SELECT user_id, value, epoch_us(ts) AS tus FROM events
    ), g AS (
      SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                       OR tus - lag(tus) OVER w >= 1800000000
                     THEN 1 ELSE 0 END AS new_sess
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tus)
    ), s AS (
      SELECT *, sum(new_sess) OVER (
        PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING
      ) AS session_id
      FROM g
    )
    SELECT user_id,
           strftime(make_timestamp(min(tus)), '%Y-%m-%d %H:%M:%S')
             AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS session_value
    FROM s GROUP BY user_id, session_id
    """,
)
def events_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator (30-min inactivity gap) — the
    engine primitive behind streaming sessionization, exercised in batch and
    checked against the lag/cumsum reconstruction the oracle runs: both must
    carve identical sessions.

    Boundary convention: session_window is END-EXCLUSIVE — an event's window
    is [t, t+gap), so an event arriving EXACTLY gap after the previous one
    does NOT overlap and starts a new session. The oracle's gap predicate is
    therefore ``diff >= gap`` (not ``>``); the lag/cumsum queries that live
    entirely on the lag/cumsum convention (events_sessionization et al.) use
    ``>`` consistently on both sides, which is also self-consistent — only a
    NATIVE-vs-reconstruction comparison must adopt the native boundary.

    session_window aggregates by (key, merged window) in one pass — no
    window-function shuffle chain."""
    e = load(spark, "events", sf_dir)
    return (
        e.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "session_value",
        )
    )


@query(
    "events_cumulative_distinct_users",
    """
    WITH t AS (
      SELECT event_type, user_id, epoch_us(ts) AS tus, event_id,
             row_number() OVER (PARTITION BY event_type, user_id
                                ORDER BY epoch_us(ts), event_id) AS occ
      FROM events
    ), f AS (
      SELECT event_type, tus, event_id,
             CASE WHEN occ = 1 THEN 1 ELSE 0 END AS first_seen
      FROM t
    )
    SELECT event_type, event_id,
           CAST(sum(first_seen) OVER (
             PARTITION BY event_type ORDER BY tus, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_users_so_far
    FROM f
    """,
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative COUNT(DISTINCT) over an ordered window — not natively
    expressible as a window aggregate in either engine; the standard
    rewrite marks each (key, user)'s first occurrence with row_number, then
    a running sum of first-occurrence flags gives the exact distinct count
    at every row. Two windows over the SAME (event_type) shuffle; no
    distinct state ever materializes beyond the flag bit — the
    constant-memory trick that replaces a per-row distinct set at 100 TB."""
    e = load(spark, "events", sf_dir).select(
        "event_type", "user_id", F.unix_micros("ts").alias("tus"), "event_id"
    )
    w_occ = Window.partitionBy("event_type", "user_id").orderBy("tus", "event_id")
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = e.withColumn("occ", F.row_number().over(w_occ))
    f = t.withColumn(
        "first_seen", F.when(F.col("occ") == 1, 1).otherwise(0)
    )
    return f.select(
        "event_type",
        "event_id",
        F.sum("first_seen").over(w_cum).alias("distinct_users_so_far"),
    )


@query(
    "events_funnel_time_bounded",
    """
    WITH s AS (
      SELECT user_id, min(epoch_us(ts)) AS s_us
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.s_us
      GROUP BY e.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_signup,
           CAST(count(p.p_us) AS BIGINT) AS n_converted,
           CAST(sum(CASE WHEN p.p_us - s.s_us <= 604800000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted_7d,
           round(sum(CASE WHEN p.p_us - s.s_us <= 604800000000
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS conv_rate_7d
    FROM s LEFT JOIN p ON s.user_id = p.user_id
    """,
)
def events_funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: signup → first subsequent purchase, counted
    as converted only within a 7-day window — the time-bounded form every
    growth metric uses (the unbounded funnel is `events_funnel_conversion`).
    Two per-user aggregates on the same user_id shuffle + one join; the
    window bound is column arithmetic, not a range join."""
    from pyspark import StorageLevel

    e = load(spark, "events", sf_dir)
    # signup aggregate feeds the purchase join AND the final outer join;
    # persist the user-sized result so its events scan runs once (the
    # purchase side's scan pushes its own type filter — two scans total,
    # each reading a different pushed-down subset).
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("s_us"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.unix_micros("ts") >= F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("p_us"))
    )
    j = s.join(p, "user_id", "left")
    in7 = F.when(
        F.col("p_us") - F.col("s_us") <= 604_800_000_000, 1
    ).otherwise(0)
    return j.agg(
        F.count("*").alias("n_signup"),
        F.count("p_us").alias("n_converted"),
        F.sum(in7).alias("n_converted_7d"),
        F.round(F.sum(in7) * 1.0 / F.count("*"), 6).alias("conv_rate_7d"),
    )


@query(
    "events_type_transition_matrix",
    """
    WITH t AS (
      SELECT user_id, event_type, epoch_us(ts) AS tus, event_id FROM events
    ), s AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY tus, event_id) AS to_type
      FROM t
    )
    SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY from_type),
                 6) AS p
    FROM s WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def events_type_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    one lead window on the user_id shuffle, one bucket-sized aggregate, row
    probabilities normalized by a window over the 5x5 matrix itself. The
    sequence-mining kernel behind next-event prediction and anomaly
    scoring."""
    e = load(spark, "events", sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    s = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = s.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wt = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(wt), 6).alias("p"),
    )


@query(
    "events_anomaly_seasonal_zscore",
    """
    WITH t AS (
      SELECT date_trunc('hour', ts) AS hr,
             CAST(dayofweek(ts) AS INTEGER) AS dow,
             CAST(hour(ts) AS INTEGER) AS hod,
             value
      FROM events
    ), hourly AS (
      SELECT hr, any_value(dow) AS dow, any_value(hod) AS hod,
             count(*) AS n, round(sum(value), 4) AS v
      FROM t GROUP BY hr
    ), base AS (
      SELECT dow, hod, avg(v) AS mu,
             stddev_samp(v) AS sigma
      FROM hourly GROUP BY dow, hod
    )
    SELECT strftime(h.hr, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           round(h.v, 2) AS v,
           round((h.v - b.mu) / b.sigma, 4) AS z,
           CAST(abs((h.v - b.mu) / b.sigma) > 3 AS BOOLEAN) AS is_anomaly
    FROM hourly h JOIN base b ON h.dow = b.dow AND h.hod = b.hod
    WHERE b.sigma > 0
    """,
)
def events_anomaly_seasonal_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly detection: each hour's total is z-scored against its
    OWN (day-of-week, hour-of-day) baseline — the profile that separates "3
    AM Sunday is always quiet" from "3 AM Sunday just spiked". Two
    bucket-sized aggregates (hourly totals, then 168 baseline cells,
    broadcast back); the screen every metrics pipeline runs, with the hour
    totals rounded before the baseline so both engines z-score identical
    inputs."""
    e = load(spark, "events", sf_dir)
    t = e.select(
        F.date_trunc("hour", "ts").alias("hr"),
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hod"),
        "value",
    )
    hourly = t.groupBy("hr").agg(
        F.any_value("dow").alias("dow"),
        F.any_value("hod").alias("hod"),
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("v"),
    )
    base = hourly.groupBy("dow", "hod").agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sigma")
    )
    z = (F.col("v") - F.col("mu")) / F.col("sigma")
    return (
        hourly.join(F.broadcast(base), ["dow", "hod"])
        .filter(F.col("sigma") > 0)
        .select(
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            F.round("v", 2).alias("v"),
            F.round(z, 4).alias("z"),
            (F.abs(z) > 3).alias("is_anomaly"),
        )
    )


@query(
    "events_peak_concurrency",
    """
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS tus FROM events
    ), g AS (
      SELECT user_id, tus,
             CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w
                       > 1800000000 THEN 1 ELSE 0 END AS new_sess
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tus)
    ), s AS (
      SELECT user_id, tus,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ), sess AS (
      SELECT user_id, sid, min(tus) AS lo, max(tus) AS hi
      FROM s GROUP BY user_id, sid
    ), deltas AS (
      SELECT lo AS tus, 1 AS d FROM sess
      UNION ALL
      SELECT hi + 1, -1 FROM sess
    ), merged AS (
      SELECT tus, sum(d) AS dd FROM deltas GROUP BY tus
    )
    SELECT CAST(max(run) AS BIGINT) AS peak_concurrent_sessions,
           CAST((SELECT count(*) FROM sess) AS BIGINT) AS n_sessions
    FROM (
      SELECT sum(dd) OVER (ORDER BY tus ROWS UNBOUNDED PRECEDING) AS run
      FROM merged
    )
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions — the interval-overlap maximum via the
    sweep-line (+1 at session start, -1 after end, running sum, max): the
    capacity-planning number. Sessions come from the shared lag/cumsum
    shape; delta events are session-count-sized, so the final global
    running sum is over a small merged timeline (at 100 TB, sweep per
    shard/day and take the max of maxima — the timeline key is
    shard-local)."""
    e = load(spark, "events", sf_dir).select(
        "user_id", F.unix_micros("ts").alias("tus")
    )
    w = Window.partitionBy("user_id").orderBy("tus")
    g = e.withColumn(
        "new_sess",
        F.when(
            F.lag("tus").over(w).isNull()
            | (F.col("tus") - F.lag("tus").over(w) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    s = g.withColumn(
        "sid",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    from pyspark import StorageLevel

    # sess feeds three consumers (start deltas, end deltas, session count);
    # persist the session-sized reduction so the lag/cumsum window chain
    # over the fact runs exactly once.
    sess = (
        s.groupBy("user_id", "sid")
        .agg(F.min("tus").alias("lo"), F.max("tus").alias("hi"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Session count joins the plan as a broadcast 1-row aggregate (one job,
    # no eager .count() that would redo the sessionization window).
    ncnt = sess.agg(F.count("*").cast("long").alias("n_sessions"))
    deltas = sess.select(F.col("lo").alias("tus"), F.lit(1).alias("d")).unionAll(
        sess.select((F.col("hi") + 1).alias("tus"), F.lit(-1).alias("d"))
    )
    merged = deltas.groupBy("tus").agg(F.sum("d").alias("dd"))
    # Scale-safe sweep-line: the running sum over the merged timeline uses
    # the two-level bucketed cumulative sum (range buckets + bounded offsets
    # table) instead of an unpartitioned `Window.orderBy(tus)` — the
    # timeline is session-count-sized here but fact-scale at 100×.
    # Equivalence to the global-window form: test_scale_safe_twins.py.
    run = windows.bucketed_cumsum(merged, "tus", ["dd"])
    return (
        run.agg(F.max("cum_dd").alias("peak_concurrent_sessions"))
        .crossJoin(F.broadcast(ncnt))
    )


@query(
    "events_top_session_paths",
    """
    WITH t AS (
      SELECT user_id, event_type, epoch_us(ts) AS tus, event_id FROM events
    ), g AS (
      SELECT *, CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w
                          > 1800000000 THEN 1 ELSE 0 END AS new_sess
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ), s AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                                    ORDER BY tus, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ), paths AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY tus, event_id) AS path
      FROM s GROUP BY user_id, sid
    ), counted AS (
      SELECT path, count(*) AS n_sessions FROM paths GROUP BY path
    )
    SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions, rk FROM (
      SELECT path, n_sessions,
             row_number() OVER (ORDER BY n_sessions DESC, path) AS rk
      FROM counted
    ) WHERE rk <= 20
    """,
)
def events_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session paths (ordered event-type sequences): sessionize,
    concatenate each session's ordered types, count identical paths — the
    clickstream path-mining kernel. The path build is an ordered
    collect_list over the session grain (rides the user_id shuffle); only
    the path-count aggregate and the tiny top-k window follow."""
    e = load(spark, "events", sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus"), "event_id"
    )
    # bucket-and-stitch session assignment (r9): the inline window form
    # measured 2.01x at x32 with a 25%-hot user; ids bit-identical. The
    # path build is a mergeable session aggregate (collect fragments per
    # local session, flatten + array_sort at merge — the struct sort IS
    # the (tus, event_id) total order), so the session-grain fused form
    # applies: no per-user window and no corpus-sized join-back remain.
    sess = windows.sessionize_agg_scalable(
        e,
        "user_id",
        "tus",
        local_aggs=[
            F.collect_list(F.struct("tus", "event_id", "event_type")).alias(
                "frag"
            )
        ],
        merge_aggs=[
            F.array_join(
                F.transform(
                    F.array_sort(F.flatten(F.collect_list("frag"))),
                    lambda r: r["event_type"],
                ),
                ">",
            ).alias("path")
        ],
        gap_units=1_800_000_000,
        tiebreak_cols=["event_id"],
    )
    paths = sess.select("user_id", "session_id", "path")
    counted = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    wr = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return (
        counted.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 20)
        .select("path", "n_sessions", "rk")
    )


@query(
    "events_dau_wau_stickiness",
    """
    WITH act AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ), dau AS (
      SELECT day, count(*) AS dau FROM act GROUP BY day
    ), sliding AS (
      SELECT a.user_id, unnest(generate_series(a.day, a.day + INTERVAL 6 DAY,
                                               INTERVAL 1 DAY)) AS day
      FROM act a
    ), wau AS (
      SELECT day, count(DISTINCT user_id) AS wau FROM sliding GROUP BY day
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
           round(d.dau * 1.0 / w.wau, 6) AS stickiness
    FROM dau d JOIN wau w ON d.day = w.day
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day. The WAU uses the
    emit-forward shape: each (user, active-day) row is exploded to the 7
    report days it should count toward, then one distinct-count per day —
    linear in activity rows (x7), no day-range self-join, no per-day
    re-scan; the standard scalable sliding-distinct rewrite. Days are only
    reported where DAU exists (join), so the series matches the activity
    span."""
    e = load(spark, "events", sf_dir)
    act = e.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    dau = act.groupBy("day").agg(F.count("*").alias("dau"))
    sliding = act.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    )
    wau = sliding.groupBy("day").agg(F.count_distinct("user_id").alias("wau"))
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") * 1.0 / F.col("wau"), 6).alias("stickiness"),
        )
    )


@query(
    "events_new_vs_returning",
    """
    WITH act AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ), first AS (
      SELECT user_id, min(day) AS first_day FROM act GROUP BY user_id
    )
    SELECT strftime(a.day, '%Y-%m-%d') AS day,
           CAST(sum(CASE WHEN a.day = f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(sum(CASE WHEN a.day > f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_users
    FROM act a JOIN first f ON a.user_id = f.user_id
    GROUP BY a.day
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning split per day: each user's first-seen day (one
    user-grain aggregate) classifies every later active day. Both
    aggregates and the join ride the user_id key; the daily report is the
    only cross-key shuffle. The growth-accounting kernel (first half of
    the DAU accounting identity: DAU = new + returning)."""
    e = load(spark, "events", sf_dir)
    act = e.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    first = act.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = act.join(first, "user_id")
    return j.groupBy("day").agg(
        F.sum(
            F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
        ).alias("new_users"),
        F.sum(
            F.when(F.col("day") > F.col("first_day"), 1).otherwise(0)
        ).alias("returning_users"),
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "new_users",
        "returning_users",
    )


@query(
    "events_ab_test_ztest",
    """
    WITH assign AS (
      SELECT DISTINCT user_id,
             CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                       < '8' THEN 'A' ELSE 'B' END AS arm
      FROM events
    ), conv AS (
      SELECT user_id, 1 AS converted FROM events
      WHERE event_type = 'purchase'
      GROUP BY user_id HAVING count(*) >= 15
    ), per_arm AS (
      SELECT a.arm, count(*) AS n,
             sum(coalesce(c.converted, 0)) AS x
      FROM assign a LEFT JOIN conv c ON a.user_id = c.user_id
      GROUP BY a.arm
    ), wide AS (
      SELECT max(CASE WHEN arm = 'A' THEN n END) AS n_a,
             max(CASE WHEN arm = 'A' THEN x END) AS x_a,
             max(CASE WHEN arm = 'B' THEN n END) AS n_b,
             max(CASE WHEN arm = 'B' THEN x END) AS x_b
      FROM per_arm
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
           round(x_a * 1.0 / n_a, 6) AS p_a,
           round(x_b * 1.0 / n_b, 6) AS p_b,
           round((x_a * 1.0 / n_a - x_b * 1.0 / n_b)
                 / nullif(sqrt((x_a + x_b) * 1.0 / (n_a + n_b)
                        * (1 - (x_a + x_b) * 1.0 / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 0), 6) AS z_stat
    FROM wide
    """,
)
def events_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test over a deterministic experiment split: arms
    assigned by md5(user_id) (the same engine-independent bucketing the
    sampling layer uses — assignment survives backfills and reshuffles),
    conversion = a heavy-purchaser threshold (>= 15 purchases, near the
    per-user median so both outcomes occur), pooled-variance z statistic
    in closed form (null when an arm is degenerate).
    Two user-grain aggregates and a 2-row pivot; the whole experiment
    readout is one scan + arithmetic."""
    e = load(spark, "events", sf_dir)
    assign = e.select("user_id").distinct().select(
        "user_id",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            "A",
        )
        .otherwise("B")
        .alias("arm"),
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("_np"))
        .filter(F.col("_np") >= 15)
        .select("user_id", F.lit(1).alias("converted"))
    )
    per_arm = (
        assign.join(conv, "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce("converted", F.lit(0))).alias("x"),
        )
    )
    wide = per_arm.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("x"))).alias("x_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("x"))).alias("x_b"),
    )
    p_a = F.col("x_a") * 1.0 / F.col("n_a")
    p_b = F.col("x_b") * 1.0 / F.col("n_b")
    pool = (F.col("x_a") + F.col("x_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
    z = (p_a - p_b) / F.nullif(
        F.sqrt(pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))),
        F.lit(0.0),
    )
    return wide.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.round(z, 6).alias("z_stat"),
    )


@query(
    "events_point_in_time_tier",
    """
    WITH u AS (
      SELECT user_id, ts, 1 AS side, event_id, CAST(NULL AS BIGINT) AS tier
      FROM events WHERE event_type = 'error'
      UNION ALL
      SELECT user_id, ts, 0 AS side, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS tier
      FROM events WHERE event_type = 'purchase'
    )
    SELECT event_id, user_id,
           CAST(coalesce(last_value(tier IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, side, event_id
             ROWS UNBOUNDED PRECEDING), 0) AS BIGINT) AS tier_at_event
    FROM u QUALIFY side = 1
    """,
)
def events_point_in_time_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time lookup: each user's "tier" is a
    versioned dimension (version k opens at their k-th purchase); every
    error event reads the version valid AT ITS TIMESTAMP — never a later
    one (the leakage a naive latest-value join commits). Version numbering
    and the as-of fill ride the SAME user_id shuffle; this is the
    union-and-window PIT shape `asof_join` generalizes, with coincident
    purchase-then-error ordering pinned by the side key."""
    e = load(spark, "events", sf_dir)
    wv = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
        .withColumn("tier", F.row_number().over(wv))
        .withColumn("side", F.lit(0))
    )
    errors = (
        e.filter(F.col("event_type") == "error")
        .select("user_id", "ts", "event_id")
        .withColumn("tier", F.lit(None).cast("int"))
        .withColumn("side", F.lit(1))
    )
    u = versions.unionByName(errors)
    wf = Window.partitionBy("user_id").orderBy(
        "ts", "side", "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    return (
        u.withColumn(
            "tier_at_event",
            F.coalesce(
                F.last("tier", ignorenulls=True).over(wf), F.lit(0)
            ).cast("long"),
        )
        .filter(F.col("side") == 1)
        .select("event_id", "user_id", "tier_at_event")
    )


@query(
    "events_longest_streaks",
    """
    WITH act AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ), isl AS (
      SELECT user_id, day,
             day - INTERVAL (row_number() OVER (PARTITION BY user_id
                                                ORDER BY day)) DAY AS grp
      FROM act
    ), streaks AS (
      SELECT user_id, count(*) AS len, min(day) AS streak_start
      FROM isl GROUP BY user_id, grp
    )
    SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
)
def events_longest_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — gaps-and-islands
    via the row_number-difference trick: consecutive days share
    (day - row_number) as an island key, so streaks fall out of two
    aggregates with no self-join and no iteration. Both the window and the
    island aggregate ride the user_id shuffle."""
    e = load(spark, "events", sf_dir)
    act = e.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = act.withColumn(
        "grp",
        F.date_sub(F.col("day").cast("date"), F.row_number().over(w)),
    )
    streaks = isl.groupBy("user_id", "grp").agg(F.count("*").alias("len"))
    return streaks.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
    )


@query(
    "events_wow_growth",
    """
    WITH weekly AS (
      SELECT date_trunc('week', ts) AS week,
             round(sum(value), 2) AS revenue,
             count(*) AS n_events
      FROM events GROUP BY date_trunc('week', ts)
    )
    SELECT strftime(week, '%Y-%m-%d') AS week_start,
           revenue, CAST(n_events AS BIGINT) AS n_events,
           round((revenue - lag(revenue) OVER (ORDER BY week))
                 / lag(revenue) OVER (ORDER BY week), 6) AS wow_growth
    FROM weekly
    """,
)
def events_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth on the weekly revenue series: one bucket-sized
    aggregate, one lag window over the handful of weeks. The reporting
    staple; growth is null for the first week rather than fabricated."""
    e = load(spark, "events", sf_dir)
    weekly = e.groupBy(F.date_trunc("week", "ts").alias("week")).agg(
        F.round(F.sum("value"), 2).alias("revenue"),
        F.count("*").alias("n_events"),
    )
    w = Window.orderBy("week")
    growth = (F.col("revenue") - F.lag("revenue").over(w)) / F.lag(
        "revenue"
    ).over(w)
    return weekly.select(
        F.date_format("week", "yyyy-MM-dd").alias("week_start"),
        "revenue",
        "n_events",
        F.round(growth, 6).alias("wow_growth"),
    )


@query(
    "events_interarrival_profile",
    """
    WITH t AS (
      SELECT event_type, user_id, epoch_us(ts) AS tus, event_id FROM events
    ), d AS (
      SELECT event_type,
             tus - lag(tus) OVER (PARTITION BY event_type, user_id
                                  ORDER BY tus, event_id) AS gap_us
      FROM t
    ), m AS (
      SELECT event_type,
             CAST(count(gap_us) AS BIGINT) AS n_gaps,
             CAST(sum(gap_us) AS HUGEINT) AS s,
             CAST(sum(CAST(gap_us AS DECIMAL(19,0))
                      * CAST(gap_us AS DECIMAL(19,0))) AS HUGEINT) AS ssq
      FROM d WHERE gap_us IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, n_gaps,
           CAST(s AS DOUBLE) / n_gaps / 1000000.0 AS mean_gap_s,
           1000000.0 * n_gaps / CAST(s AS DOUBLE) AS rate_per_s,
           CASE WHEN n_gaps > 1 THEN
             sqrt(CAST(n_gaps * ssq - s * s AS DOUBLE)
                  / n_gaps / (n_gaps - 1))
             / (CAST(s AS DOUBLE) / n_gaps)
           END AS cv
    FROM m
    """,
)
def events_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival profile (per user): mean gap, implied Poisson
    rate, and the coefficient of variation (cv ≈ 1 means memoryless/
    Poisson arrivals; cv >> 1 means bursty) — the traffic-model screen
    capacity planning starts from. One lag window on the (type, user)
    shuffle and one 5-row aggregate.

    Determinism: gaps stay in integer microseconds; the moments are exact
    DECIMAL/HUGEINT sums (order-independent, unlike avg/stddev over
    doubles), so mean, rate, and cv are derived from identical exact
    integers on both engines with one fixed-order double expression each —
    the r5 timeseries_linear_interpolate defect class cannot occur.
    cv is guarded with CASE WHEN n_gaps > 1 on BOTH engines: a
    single-gap group otherwise divides 0/0, which Spark nulls but DuckDB
    evaluates to IEEE NaN — a cross-engine hash divergence (ADVICE r6).
    Derived doubles emit UNROUNDED (r7, the timeseries convention made
    uniform here): s/n quotients of exact integers CAN terminate exactly
    at a round() midpoint (n=2, s≡100 mod 200 lands mean_gap_s on
    x.xxxx5), where Spark's BigDecimal HALF_UP of the binary value and
    DuckDB's scaled-multiply round can disagree; with no final round the
    shared-op-order doubles are bit-identical and the repr canon hashes
    them equal.
    Decimal headroom: n_gaps*ssq needs |gap_us| <= ~9e12 (n=1e6 gaps of
    ~100 days) before Spark's DECIMAL(38) product can overflow to NULL
    while DuckDB's HUGEINT keeps going; asserted at the profile grain in
    tests/test_events.py.
    Skew: the gaps feed ONLY combinable moments, so the fused
    operators/windows.py::gap_moments_scalable applies (slice-and-stitch,
    no per-(type,user) single-task window — the plain window form measured
    a 1.21× skew ratio at x32 with a 25%-hot user, SCALE_RUN.json r8):
    per-(key, slice) moments partial-aggregate INSIDE the lag-window stage
    (exact DECIMAL sums, so the two-level aggregation is bit-equal to the
    flat one), and only summary-grain rows reach the groupBy here. The
    n_gaps > 0 filter keeps the fused form's row set identical to the
    gap-multiset form: a type whose every (user) series has a single event
    produces NO gap rows there, but WOULD produce an n=0 moment row here.
    The DECIMAL(19,0) gap operands are wide enough that DuckDB computes
    the square in int128 (its DECIMAL(18) path multiplies in int64 and
    overflows)."""
    e = load(spark, "events", sf_dir).select(
        "event_type", "user_id", F.unix_micros("ts").alias("tus"), "event_id"
    )
    d = gap_moments_scalable(
        e,
        part_cols=["event_type", "user_id"],
        ts_col="tus",
        tiebreak_cols=["event_id"],
        gap_col="gap_us",
    ).select("event_type", "n_gaps", "s", "ssq")
    m = d.groupBy("event_type").agg(
        F.sum("n_gaps").alias("n_gaps"),
        F.sum("s").alias("s"),
        F.sum("ssq").alias("ssq"),
    ).filter(F.col("n_gaps") > 0)
    n = F.col("n_gaps")
    s_dbl = F.col("s").cast("double")
    var_num = (n * F.col("ssq") - F.col("s") * F.col("s")).cast("double")
    cv = F.sqrt(var_num / n / (n - 1)) / (s_dbl / n)
    return m.select(
        "event_type",
        "n_gaps",
        (s_dbl / n / F.lit(1_000_000.0)).alias("mean_gap_s"),
        (F.lit(1_000_000.0) * n / s_dbl).alias("rate_per_s"),
        F.when(n > 1, cv).alias("cv"),
    )


@query(
    "events_throttle_debounce",
    """
    WITH g AS (
      SELECT user_id, event_type, ts, value,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) AS prev_us,
             epoch_us(ts) AS us
      FROM events
    )
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us >= 60000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(sum(CASE WHEN prev_us IS NULL OR us - prev_us >= 60000000
                          THEN value ELSE 0 END), 2) AS kept_value
    FROM g GROUP BY user_id, event_type
    """,
)
def events_throttle_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce/throttle: suppress events arriving within 60 s of the
    previous event of the same (user, type), as a declarative lag
    predicate. Reports per-key totals vs survivors. One shuffle on the
    composite key; deterministic tie-break by event_id in the lag
    ordering."""
    e = load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.col("ts").cast("long") * 1000000
    g = e.withColumn("prev_us", F.lag(us).over(w)).withColumn("us", us)
    keep = F.col("prev_us").isNull() | (F.col("us") - F.col("prev_us") >= 60000000)
    return g.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(keep.cast("long")).cast("bigint").alias("n_kept"),
        F.round(F.sum(F.when(keep, F.col("value")).otherwise(0.0)), 2).alias(
            "kept_value"
        ),
    )


@query(
    "events_out_of_order_profile",
    """
    WITH sh AS (
      SELECT event_id, ts,
             epoch_us(ts) + ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
               ::BIGINT % 7200000000 AS arrival_us
      FROM events
    ), arr AS (
      SELECT ts,
             max(ts) OVER (ORDER BY arrival_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM sh
    ), lat AS (
      SELECT CASE
               WHEN prev_max IS NULL OR prev_max <= ts THEN 'on_time'
               WHEN epoch_us(prev_max) - epoch_us(ts) < 60000000 THEN 'lt_1m'
               WHEN epoch_us(prev_max) - epoch_us(ts) < 600000000 THEN 'lt_10m'
               WHEN epoch_us(prev_max) - epoch_us(ts) < 3600000000 THEN 'lt_1h'
               ELSE 'ge_1h'
             END AS band
      FROM arr
    )
    SELECT band, CAST(count(*) AS BIGINT) AS n_events,
           round(count(*) * 1.0 / sum(count(*)) OVER (), 6) AS pct
    FROM lat GROUP BY band
    """,
)
def events_out_of_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile: each event's lateness versus the maximum
    event-time already seen in ARRIVAL order, banded — THE measurement that
    sizes a streaming watermark (`withWatermark` delay should cover the
    observed lateness tail; `events_throttle_debounce` inherits it). The
    synthetic events table is perfectly time-ordered, so arrival is modeled as event-time plus a
    deterministic md5 transport jitter (0–2 h) — the portable stand-in for
    the network/partition delays that produce disorder in any real feed;
    on data with a real arrival id, substitute that column.

    The naive form is a running max over the WHOLE fact in arrival order —
    an unpartitioned window (single reducer). Scalable form mirrors
    ``bucketed_cumsum``: fixed arrival-time buckets from one min/max probe
    (broadcast), per-bucket max cummax'd over the bucket-cardinality table
    (the only unpartitioned window, 1 024 rows), then a strictly-preceding
    running max WITHIN each bucket; an event's prior-max is
    greatest(bucket offset, within-bucket run). The oracle runs the plain
    window (single-node DuckDB); values identical."""
    from pyspark import StorageLevel

    # three consumers (min/max probe, per-bucket maxima, the banded join) —
    # persist the 3-column projection so the events scan runs exactly once
    e = (
        load(spark, "events", sf_dir)
        .select(
            "event_id",
            "ts",
            (
                F.unix_micros("ts")
                + F.conv(
                    F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("bigint")
                % 7200000000
            ).alias("arrival_us"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_buckets = 1024
    mm = e.agg(F.min("arrival_us").alias("_lo"), F.max("arrival_us").alias("_hi"))
    width = (F.col("_hi") - F.col("_lo") + 1) / n_buckets
    d = (
        e.crossJoin(F.broadcast(mm))
        .withColumn(
            "_bucket",
            F.least(
                F.floor((F.col("arrival_us") - F.col("_lo")) / width),
                F.lit(n_buckets - 1),
            ).cast("bigint"),
        )
        .drop("_lo", "_hi")
    )
    per_bucket = d.groupBy("_bucket").agg(F.max("ts").alias("bmax"))
    w_off = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select("_bucket", F.max("bmax").over(w_off).alias("off_max"))
    w_in = (
        Window.partitionBy("_bucket")
        .orderBy("arrival_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = (
        d.join(F.broadcast(offsets), "_bucket")
        .withColumn("run_max", F.max("ts").over(w_in))
        .withColumn(
            "prev_max",
            F.coalesce(
                F.greatest("off_max", "run_max"), F.col("off_max"), F.col("run_max")
            ),
        )
    )
    late_us = F.unix_micros("prev_max") - F.unix_micros("ts")
    band = (
        F.when(
            F.col("prev_max").isNull() | (F.col("prev_max") <= F.col("ts")),
            "on_time",
        )
        .when(late_us < 60000000, "lt_1m")
        .when(late_us < 600000000, "lt_10m")
        .when(late_us < 3600000000, "lt_1h")
        .otherwise("ge_1h")
    )
    counts = arr.select(band.alias("band")).groupBy("band").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    return counts.select(
        "band",
        "n_events",
        F.round(
            F.col("n_events") * 1.0 / F.sum("n_events").over(Window.partitionBy()), 6
        ).alias("pct"),
    )


@query(
    "events_attribution_models",
    """
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn_first,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
               AS rn_last,
             count(*) OVER (PARTITION BY user_id) AS n_touch
      FROM events
    )
    SELECT event_type AS channel,
           CAST(sum(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS first_touch,
           CAST(sum(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS last_touch,
           round(sum(1.0 / n_touch), 4) AS linear_credit
    FROM s GROUP BY event_type
    """,
)
def events_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three attribution models side by side per channel (event_type as the
    channel proxy): first-touch, last-touch, and linear (1/n credit per
    touch) — the comparison marketers run to see how model choice moves
    budget. Extends `events_attribution_first_touch` to the model-choice
    report.

    One fact scan: all three models ride the SAME user-partitioned window
    pass (two row_numbers + a count over one shuffle on user_id), then one
    aggregate by channel. Deterministic ties by event_id both ways.
    Linear credit is a float sum of reciprocals, rounded to 4."""
    e = load(spark, "events", sf_dir)
    wf = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wl = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    wc = Window.partitionBy("user_id")
    s = e.select(
        F.col("event_type").alias("channel"),
        F.row_number().over(wf).alias("rn_first"),
        F.row_number().over(wl).alias("rn_last"),
        F.count("*").over(wc).alias("n_touch"),
    )
    return s.groupBy("channel").agg(
        F.sum((F.col("rn_first") == 1).cast("long")).cast("bigint").alias(
            "first_touch"
        ),
        F.sum((F.col("rn_last") == 1).cast("long")).cast("bigint").alias("last_touch"),
        F.round(F.sum(1.0 / F.col("n_touch")), 4).alias("linear_credit"),
    )


@query(
    "timeseries_holt_forecast",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ), seq AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
      FROM daily
    ), n AS (
      SELECT event_type, count(*) AS nmax FROM seq GROUP BY 1
    ), rec AS (
      SELECT s1.event_type, 2 AS rn,
             0.5 * s2.v + (1 - 0.5) * (s1.v + (s2.v - s1.v)) AS level,
             0.3 * ((0.5 * s2.v + (1 - 0.5) * (s1.v + (s2.v - s1.v))) - s1.v)
               + (1 - 0.3) * (s2.v - s1.v) AS trend,
             s1.v AS prev_level
      FROM seq s1
      JOIN seq s2 ON s2.event_type = s1.event_type AND s2.rn = 2
      WHERE s1.rn = 1
      UNION ALL
      SELECT r.event_type, r.rn + 1,
             0.5 * s.v + (1 - 0.5) * (r.level + r.trend),
             0.3 * ((0.5 * s.v + (1 - 0.5) * (r.level + r.trend)) - r.level)
               + (1 - 0.3) * r.trend,
             r.level
      FROM rec r
      JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn + 1
    ), final AS (
      SELECT r.event_type, r.level, r.trend
      FROM rec r JOIN n ON n.event_type = r.event_type AND r.rn = n.nmax
    )
    SELECT f.event_type, CAST(h.h AS INTEGER) AS h,
           round(f.level + h.h * f.trend, 6) AS forecast
    FROM final f
    CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS h) h
    """,
)
def timeseries_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, α=0.5, β=0.3) per
    event type, forecasting 7 days past the observed window — the
    inherently SEQUENTIAL recursion SQL window frames cannot express,
    run as an Arrow grouped-map (`applyInPandas`) over each type's daily
    series. The oracle unwinds the identical recursion with WITH
    RECURSIVE; both sides spell every float expression in the same
    order/associativity (e.g. `(1 - 0.3)` computed, never a folded 0.7
    literal — the two doubles differ by 1 ulp), so the trajectories are
    bit-identical and round(6) is cosmetic.

    Scale shape: the fact reduces to (type × day) cells first — one
    shuffle — and only the calendar-sized series enters Python; each
    group's recursion is O(days). State never outgrows (types × days)."""
    import pandas as pd

    ev = load(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("double").alias("v"))

    def _holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        v = pdf["v"].tolist()
        level = v[0]
        # single-observation group: no trend information (fixtures always
        # have >=2 days; this guards the operator, the oracle's base case
        # needs rn=2 and would emit nothing for such a group)
        trend = v[1] - v[0] if len(v) > 1 else 0.0
        for t in range(1, len(v)):
            new_level = 0.5 * v[t] + (1 - 0.5) * (level + trend)
            trend = 0.3 * (new_level - level) + (1 - 0.3) * trend
            level = new_level
        et = pdf["event_type"].iloc[0]
        return pd.DataFrame(
            {
                "event_type": [et] * 7,
                "h": list(range(1, 8)),
                "forecast": [level + h * trend for h in range(1, 8)],
            }
        )

    out = daily.groupBy("event_type").applyInPandas(
        _holt, "event_type string, h int, forecast double"
    )
    return out.select(
        "event_type", "h", F.round("forecast", 6).alias("forecast")
    )


@query(
    "events_sliding_window_topk",
    """
    WITH starts AS (
      SELECT TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (h) HOUR AS ws
      FROM (SELECT unnest(generate_series(0, 24 * 30 - 1)) AS h)
    ), cells AS (
      SELECT date_trunc('hour', ts) AS hr, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), win AS (
      SELECT s.ws, c.event_type, CAST(sum(c.n) AS BIGINT) AS n
      FROM starts s
      JOIN cells c ON c.hr >= s.ws - INTERVAL 5 HOUR AND c.hr <= s.ws
      GROUP BY s.ws, c.event_type
    ), ranked AS (
      SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_end_hour,
             event_type, n,
             row_number() OVER (PARTITION BY ws
                                ORDER BY n DESC, event_type) AS rk
      FROM win
    )
    SELECT window_end_hour, event_type, n FROM ranked WHERE rk = 1
    """,
)
def events_sliding_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant event type per TRAILING 6-hour window, sliding hourly (the
    anchor is the window's last hour) — the trending-now query. Events pre-aggregate to (hour × type) cells first
    (one fact shuffle, calendar-sized output); each cell then replicates
    into the ≤6 sliding windows containing it — constant fan-out on the
    reduction, never on the fact, the same replicate-the-small-side trick
    as the banded range join. The oracle generates window starts
    explicitly and interval-joins the same cells; ranking ties break on
    event_type so the winner is deterministic. Windows anchored on the
    fixture's [2024-01-01, +30d) span; only windows ending at an hour
    with ≥1 event appear (inner join semantics on both sides)."""
    ev = load(spark, "events", sf_dir)
    cells = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr"), "event_type"
    ).agg(F.count("*").cast("bigint").alias("n"))
    # replicate each hourly cell into the 6 windows that contain it
    win = (
        cells.select(
            "event_type",
            "n",
            F.explode(F.sequence(F.lit(0), F.lit(5))).alias("back"),
            F.col("hr"),
        )
        .select(
            "event_type",
            "n",
            (F.col("hr") + F.make_interval(hours=F.col("back"))).alias("ws"),
        )
        # windows must start within the fixture span the oracle generates
        .filter(
            (F.col("ws") >= F.lit("2024-01-01 00:00:00").cast("timestamp"))
            & (
                F.col("ws")
                < F.lit("2024-01-31 00:00:00").cast("timestamp")
            )
        )
        .groupBy("ws", "event_type")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    w = Window.partitionBy("ws").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        win.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.date_format("ws", "yyyy-MM-dd HH:mm:ss").alias("window_end_hour"),
            "event_type",
            "n",
        )
    )


@query(
    "events_bounce_rate_daily",
    """
    WITH t AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events
    ), g AS (
      SELECT user_id, tss,
             CASE WHEN tss - lag(tss) OVER (PARTITION BY user_id ORDER BY tss)
                       > 1800
                  OR lag(tss) OVER (PARTITION BY user_id ORDER BY tss) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM t
    ), s AS (
      SELECT user_id, tss,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY tss
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    ), sess AS (
      SELECT user_id, session_id,
             CAST(count(*) AS BIGINT) AS n_events,
             min(tss) AS start_tss
      FROM s GROUP BY user_id, session_id
    )
    SELECT strftime(to_timestamp(start_tss), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS bounce_rate
    FROM sess GROUP BY 1
    """,
)
def events_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the fraction of sessions (30-min gap rule, same
    sessionization as `events_sessionization`) containing exactly one
    event, keyed by the session's start day — the engagement headline
    beside DAU/WAU stickiness. One window pass builds sessions, then two
    tiny aggregates; integer counts, round(6) on the ratio."""
    e = load(spark, "events", sf_dir)
    sess = session_stats(e).select(
        "user_id", "session_id", "n_events", "start_tss"
    )
    return (
        sess.groupBy(
            F.date_format(F.to_timestamp("start_tss"), "yyyy-MM-dd").alias(
                "day"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("long"))
            .cast("bigint")
            .alias("n_bounces"),
            F.round(
                F.sum((F.col("n_events") == 1).cast("long")) / F.count("*"), 6
            ).alias("bounce_rate"),
        )
    )


@query(
    "events_session_gap_sensitivity",
    """
    WITH g AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
             - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
      FROM events
    ), per_user AS (
      SELECT user_id,
             CAST(1 + sum(CASE WHEN gap_s > 300 THEN 1 ELSE 0 END) AS BIGINT)
               AS s_5m,
             CAST(1 + sum(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END) AS BIGINT)
               AS s_30m,
             CAST(1 + sum(CASE WHEN gap_s > 7200 THEN 1 ELSE 0 END) AS BIGINT)
               AS s_2h,
             CAST(count(*) AS BIGINT) AS n_events
      FROM g GROUP BY user_id
    )
    SELECT CAST(sum(s_5m) AS BIGINT)  AS sessions_5m,
           CAST(sum(s_30m) AS BIGINT) AS sessions_30m,
           CAST(sum(s_2h) AS BIGINT)  AS sessions_2h,
           round(sum(n_events) * 1.0 / sum(s_5m), 6)  AS events_per_session_5m,
           round(sum(n_events) * 1.0 / sum(s_30m), 6) AS events_per_session_30m,
           round(sum(n_events) * 1.0 / sum(s_2h), 6)  AS events_per_session_2h
    FROM per_user
    """,
)
def events_session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-gap parameter sensitivity: total sessions and mean session
    length at 5-minute / 30-minute / 2-hour inactivity thresholds — the
    tuning readout that justifies a sessionization gap BEFORE committing
    a pipeline to it. Sessions-at-threshold needs no per-threshold
    sessionization: a user's session count is 1 + #(gaps > t), so ONE lag
    pass over the fact feeds all thresholds as conditional sums — adding
    a threshold costs one more column, never another shuffle."""
    e = load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tss = F.floor(F.col("ts").cast("double")).cast("bigint")
    g = e.select(
        "user_id", (tss - F.lag(tss).over(w)).alias("gap_s")
    )
    per_user = g.groupBy("user_id").agg(
        (1 + F.sum(F.when(F.col("gap_s") > 300, 1).otherwise(0)))
        .cast("bigint")
        .alias("s_5m"),
        (1 + F.sum(F.when(F.col("gap_s") > 1800, 1).otherwise(0)))
        .cast("bigint")
        .alias("s_30m"),
        (1 + F.sum(F.when(F.col("gap_s") > 7200, 1).otherwise(0)))
        .cast("bigint")
        .alias("s_2h"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    return per_user.agg(
        F.sum("s_5m").cast("bigint").alias("sessions_5m"),
        F.sum("s_30m").cast("bigint").alias("sessions_30m"),
        F.sum("s_2h").cast("bigint").alias("sessions_2h"),
        F.round(F.sum("n_events") / F.sum("s_5m"), 6).alias(
            "events_per_session_5m"
        ),
        F.round(F.sum("n_events") / F.sum("s_30m"), 6).alias(
            "events_per_session_30m"
        ),
        F.round(F.sum("n_events") / F.sum("s_2h"), 6).alias(
            "events_per_session_2h"
        ),
    )


@query(
    "events_slo_burn_rate",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_err
      FROM events GROUP BY 1
    ), windows AS (
      SELECT hr, n, n_err,
             CAST(sum(n) OVER w6 AS BIGINT)     AS n_6h,
             CAST(sum(n_err) OVER w6 AS BIGINT) AS err_6h
      FROM hourly
      WINDOW w6 AS (ORDER BY hr ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_start,
           round(n_err * 1.0 / n, 6) AS err_rate_1h,
           round(err_6h * 1.0 / n_6h, 6) AS err_rate_6h,
           round((n_err * 1.0 / n) / 0.25, 6) AS burn_1h,
           round((err_6h * 1.0 / n_6h) / 0.25, 6) AS burn_6h,
           CAST((n_err * 1.0 / n) / 0.25 > 1.5
                AND (err_6h * 1.0 / n_6h) / 0.25 > 1.2 AS BOOLEAN) AS paging
    FROM windows
    """,
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn rate (Google SRE workbook alerting shape): the
    error-budget consumption speed over a fast (1h) and slow (6h) window,
    with the page condition = BOTH windows burning hot — the fast window
    catches the spike, the slow one suppresses flappy pages. Error budget
    here is a 25% error-rate objective against the fixture's ~20% uniform
    error share. Fact reduces to hourly cells in one shuffle; the 6h
    window runs on the calendar-sized table. At 100 TB the same query is
    the streaming continuous-rollup's read side."""
    ev = load(spark, "events", sf_dir)
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("event_type") == "error").cast("long"))
        .cast("bigint")
        .alias("n_err"),
    )
    w6 = Window.orderBy("hr").rowsBetween(-5, 0)
    windows = hourly.select(
        "hr",
        "n",
        "n_err",
        F.sum("n").over(w6).cast("bigint").alias("n_6h"),
        F.sum("n_err").over(w6).cast("bigint").alias("err_6h"),
    )
    r1 = F.col("n_err") / F.col("n")
    r6 = F.col("err_6h") / F.col("n_6h")
    return windows.select(
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        F.round(r1, 6).alias("err_rate_1h"),
        F.round(r6, 6).alias("err_rate_6h"),
        F.round(r1 / 0.25, 6).alias("burn_1h"),
        F.round(r6 / 0.25, 6).alias("burn_6h"),
        ((r1 / 0.25 > 1.5) & (r6 / 0.25 > 1.2)).alias("paging"),
    )


@query(
    "events_funnel_step_latency",
    """
    WITH v AS (
      SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id,
             min(CAST(floor(epoch(e.ts)) AS BIGINT)) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click'
        AND CAST(floor(epoch(e.ts)) AS BIGINT) > v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id,
             min(CAST(floor(epoch(e.ts)) AS BIGINT)) AS t_buy
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND CAST(floor(epoch(e.ts)) AS BIGINT) > c.t_click
      GROUP BY e.user_id
    ), j AS (
      SELECT v.user_id, v.t_view, c.t_click, p.t_buy
      FROM v LEFT JOIN c ON c.user_id = v.user_id
             LEFT JOIN p ON p.user_id = v.user_id
    )
    SELECT CAST(count(*) AS BIGINT)       AS n_viewers,
           CAST(count(t_click) AS BIGINT) AS n_clickers,
           CAST(count(t_buy) AS BIGINT)   AS n_buyers,
           round(quantile_cont(t_click - t_view, 0.5), 2)
             AS median_view_to_click_s,
           round(quantile_cont(t_buy - t_click, 0.5), 2)
             AS median_click_to_buy_s
    FROM j
    """,
)
def events_funnel_step_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel step LATENCY: median seconds from first view to first
    subsequent click, and from that click to first subsequent purchase —
    the time dimension the conversion-rate funnels
    (`events_funnel_conversion`, `events_funnel_time_bounded`) don't
    carry (a funnel can convert well but take days). Three ordered
    first-occurrence reductions chained by strictly-after joins (each one
    shuffle on user), then exact interpolated medians over the
    user-cardinality table; epoch seconds keep the deltas integral."""
    from pyspark import StorageLevel

    tss = F.floor(F.col("ts").cast("double")).cast("bigint")
    # three step filters read the same 3-column reduction: one fact scan
    ev = (
        load(spark, "events", sf_dir)
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", tss.alias("t"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("t") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("t") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_buy"))
    )
    j = v.join(c, "user_id", "left").join(p, "user_id", "left")
    return j.agg(
        F.count("*").cast("bigint").alias("n_viewers"),
        F.count("t_click").cast("bigint").alias("n_clickers"),
        F.count("t_buy").cast("bigint").alias("n_buyers"),
        F.round(
            F.expr("percentile(t_click - t_view, 0.5)"), 2
        ).alias("median_view_to_click_s"),
        F.round(
            F.expr("percentile(t_buy - t_click, 0.5)"), 2
        ).alias("median_click_to_buy_s"),
    )
