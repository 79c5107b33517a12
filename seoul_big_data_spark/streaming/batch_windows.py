"""Event-stream analytics as batch time-window aggregations (SURVEY.md §2.8).

The reference is batch-only (its incremental mechanism is the START_IDX
checkpoint, data_seoul_2_csv_noopenapi.py:115); the engine processes the
``events`` table with batch tumbling windows and lag-gap sessionization. The
identical DataFrame code runs under Structured Streaming by swapping
``spark.read`` for ``spark.readStream`` + a watermark on ``ts`` — noted here
as the v2 path; no logic would change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.windows import sessionize_agg_scalable


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + value sum.

    ``date_trunc`` keys the window start — equivalent to
    ``F.window(ts, '1 hour')`` for aligned tumbling windows and directly
    oracle-checkable. Map-side partial aggregation, one shuffle."""
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


#: Inactivity gap that closes a session (the clickstream convention).
_GAP_MINUTES = 30


def session_stats(events: DataFrame) -> DataFrame:
    """Session windows via lag-gap cumulative sum (a gap over
    ``_GAP_MINUTES`` opens a session); per-session event count and
    duration seconds.

    Uses the slice-and-stitch form: a hot user (bot/celebrity — measured
    1.61× skew at x32 with a 25%-hot key on the plain window form,
    SCALE_RUN.json) no longer serializes into one task (measured 0.74
    post-fix). Every stat here is a re-aggregable session aggregate
    (count→sum, min/max of the session bounds), so the SESSION-GRAIN fused
    form applies: the corpus collapses to local-session grain inside the
    session-window stage, and any stitch runs on session-grain frames —
    no corpus-sized persist or join-back (``sessionize_agg_scalable``'s
    docstring has the plan). Projected to the two consumed columns before
    sessionizing."""
    return sessionize_agg_scalable(
        events.select("user_id", "ts"),
        "user_id",
        "ts",
        local_aggs=[F.count("*").alias("n_events")],
        merge_aggs=[
            F.sum("n_events").alias("n_events"),
            (F.max("s_last_tss") - F.min("s_first_tss")).alias("duration_sec"),
            F.min("s_first_tss").alias("start_tss"),
        ],
        gap_minutes=_GAP_MINUTES,
    )
