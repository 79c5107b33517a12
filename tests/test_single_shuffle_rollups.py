"""The funnel and the column profile each build one plan with one pass over
their table and no cached relation: the funnel as two unordered windows
and one reduction by user, the profile as one aggregate unpivoted in place
by ``inline``.
These tests pin the answers (against the DuckDB oracle, on the sf0.001
tables and on a funnel corpus built to hit each edge), the job count, and
that no relation is left cached."""

from __future__ import annotations

import datetime as dt
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from seoul_big_data_spark.queries import ORACLES, QUERIES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from local_verify import frame_digest  # noqa: E402

ROLLUPS = ["events_funnel_conversion", "dq_profile_columns"]


def _digests(spark, name, sf_dir, tables):
    df = QUERIES[name](spark, sf_dir)
    spark_digest = frame_digest(list(df.columns), [tuple(r) for r in df.collect()])
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    cur = con.execute(ORACLES[name])
    oracle_digest = frame_digest([d[0] for d in cur.description], cur.fetchall())
    return spark_digest, oracle_digest


def _funnel_events(path):
    """A week of events hitting every funnel edge, in the sf0.001 schema."""
    t0 = dt.datetime(2024, 1, 1)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # 1: click before any view, then view, then a later click and purchase
        (1, "click", at(0)), (1, "view", at(5)), (1, "click", at(9)), (1, "purchase", at(12)),
        # 2: click at exactly t_view (strict >): reaches view only
        (2, "view", at(10)), (2, "click", at(10)),
        # 3: purchase between view and click does not count; none after the click
        (3, "view", at(1)), (3, "purchase", at(2)), (3, "click", at(3)),
        # 4: the whole funnel lands on or after 2024-01-08 (excluded)
        (4, "view", dt.datetime(2024, 1, 7, 23, 59)),
        (4, "click", dt.datetime(2024, 1, 8)), (4, "purchase", dt.datetime(2024, 1, 9)),
        # 5: null user_id: one view-stage group, never clicks through an equi-join
        (None, "view", at(1)), (None, "click", at(2)), (None, "purchase", at(3)),
        (None, "view", at(4)),
        # 6: only purchases
        (6, "purchase", at(1)), (6, "purchase", at(2)),
        # 8: a purchase at exactly t_click (strict >)
        (8, "view", at(1)), (8, "click", at(2)), (8, "purchase", at(2)),
    ]
    # 7: one hot user holding most rows, converting once late in the week
    hot = [(7, "view" if i % 3 else "purchase", at(20 + i)) for i in range(400)]
    hot += [(7, "click", at(500)), (7, "purchase", at(501))]
    rows += hot
    n = len(rows)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "event_type": pa.array([r[1] for r in rows], pa.string()),
                "value": pa.array([1.0] * n, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(path, "events.parquet"),
    )


def test_funnel_edge_cases_match_oracle(spark, tmp_path):
    _funnel_events(str(tmp_path))
    got, want = _digests(spark, "events_funnel_conversion", str(tmp_path), ["events"])
    assert got == want
    counts = {
        r.stage: r.n_users
        for r in QUERIES["events_funnel_conversion"](spark, str(tmp_path)).collect()
    }
    # view: users 1,2,3,4,7,8 and the null group; click: 1,3,7,8; purchase: 1,7
    assert counts == {"view": 7, "view>click": 4, "view>click>purchase": 2}


@pytest.mark.parametrize("name", ROLLUPS)
def test_rollup_matches_oracle(spark, sf_dir, name):
    tables = ["events"] if name == "events_funnel_conversion" else ["orders"]
    got, want = _digests(spark, name, sf_dir, tables)
    assert got == want


@pytest.mark.parametrize("name", ROLLUPS)
def test_rollup_runs_in_three_jobs_and_caches_nothing(spark, sf_dir, count_jobs, name):
    # what other tests left cached would show up in this plan, so start
    # from an empty cache, as perfbench does before every op
    spark.catalog.clearCache()
    cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    df = QUERIES[name](spark, sf_dir)
    _, n_jobs = count_jobs(df.collect)
    assert n_jobs <= 3
    assert "InMemoryRelation" not in df._jdf.queryExecution().executedPlan().toString()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached_before
