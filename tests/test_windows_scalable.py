"""sessionize_agg_scalable / gap_moments_scalable ≡ the plain window forms.

The slice-and-stitch operators exist to kill the hot-key straggler
(SCALE_RUN.json skew: 1.61× at x32 with a 25%-hot user on the window form).
They must be bit-equal to the window form — per session (user, session_id,
event count, first and last second) and per gap moment — on:

- random timelines (many users, random gaps straddling the 30-min threshold)
- one hot user owning most events (the shape the rewrite targets)
- sessions that SPAN slice boundaries (the stitch path)
- sessions aligned exactly AT the gap threshold (> opens, == continues)
- single-event users, equal-timestamp ties, tiny slice counts (forced stitches)

Sessions are disjoint time intervals per user, so the per-session tuple
pins every event's session id. The ``route`` fixture overrides the module
constants: ``hot_threshold=0`` marks EVERY key hot, forcing the sliced route
the hot routing would otherwise skip on these small frames.
"""

from __future__ import annotations

import random
import sys

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from seoul_big_data_spark.operators import windows
from seoul_big_data_spark.operators.windows import (
    _hot_key_stats,
    _static_row_bound,
    gap_moments_scalable,
    sessionize_agg_scalable,
)
from seoul_big_data_spark.sources.tables import load


@pytest.fixture
def route(monkeypatch):
    def set_(n_slices: int = windows._N_SLICES, hot_threshold: int = 0) -> None:
        monkeypatch.setattr(windows, "_N_SLICES", n_slices)
        monkeypatch.setattr(windows, "_HOT_THRESHOLD", hot_threshold)

    return set_


def _sessionize(df, user_col, ts_col, gap_units=1800, tiebreak_cols=()):
    """The plain window form — the parity reference: one
    ``partitionBy(user)`` window, a new session whenever the gap to the
    user's previous event exceeds ``gap_units``."""
    w = Window.partitionBy(user_col).orderBy(ts_col, *tiebreak_cols)
    tss = F.col(ts_col).cast("long")
    gap = tss - F.lag(tss).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_units), 1).otherwise(0)
    return df.withColumn(
        "session_id", F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


def _mk(spark, rows):
    return spark.createDataFrame(rows, "user_id bigint, tss bigint").select(
        "user_id", F.timestamp_seconds("tss").alias("ts")
    )


def _sorted(rows):  # None-safe (user_id is nullable in the null-key test)
    return sorted(
        (tuple(r) for r in rows), key=lambda r: (r[0] is not None, r[0] or 0, r[1:])
    )


def _sessions(df, user_col="user_id", ts_col="ts", gap_units=None, tiebreak_cols=None):
    """Per-session (user, session_id, n_events, lo, hi) from the operator.
    ``gap_units=None`` exercises the ``gap_minutes=30`` default."""
    out = sessionize_agg_scalable(
        df,
        user_col,
        ts_col,
        local_aggs=[F.count("*").alias("n_events")],
        merge_aggs=[
            F.sum("n_events").alias("n_events"),
            F.min("s_first_tss").alias("lo"),
            F.max("s_last_tss").alias("hi"),
        ],
        gap_units=gap_units,
        tiebreak_cols=tiebreak_cols,
    )
    return _sorted(out.collect())


def _ref_sessions(df, user_col="user_id", ts_col="ts", gap_units=None, tiebreak_cols=None):
    s = _sessionize(df, user_col, ts_col, gap_units or 1800, tiebreak_cols or ())
    tss = F.col(ts_col).cast("long")
    out = s.groupBy(user_col, "session_id").agg(
        F.count("*").alias("n_events"), F.min(tss).alias("lo"), F.max(tss).alias("hi")
    )
    return _sorted(out.collect())


def _assert_equiv(df, **kw):
    assert _sessions(df, **kw) == _ref_sessions(df, **kw)


@pytest.mark.parametrize("n_slices", [2, 7, 64])
def test_random_timelines(spark, route, n_slices):
    rng = random.Random(42 + n_slices)
    rows = []
    for u in range(25):
        t = rng.randrange(0, 10_000)
        for _ in range(rng.randrange(1, 60)):
            # gaps hug the 1800 s threshold from both sides
            t += rng.choice([1, 30, 1799, 1800, 1801, 5000, 40_000])
            rows.append((u, t))
    route(n_slices)
    _assert_equiv(_mk(spark, rows))


def test_hot_user_with_boundary_spans(spark, route):
    rng = random.Random(7)
    rows = []
    t = 0
    for _ in range(4000):  # one user, 25x everyone else, mostly tight gaps
        t += rng.choice([5, 10, 60, 1799, 2000])
        rows.append((1, t))
    for u in range(2, 12):
        tu = rng.randrange(0, t)
        for _ in range(40):
            tu += rng.choice([60, 3600])
            rows.append((u, tu))
    # few slices → almost every session crosses a slice boundary
    route(n_slices=5)
    _assert_equiv(_mk(spark, rows))


def test_threshold_exact(spark, route):
    # == gap continues the session; +1 opens a new one — across a forced
    # slice boundary too (2 slices over a 2*1800 range puts the pair in
    # different slices).
    route(n_slices=2)
    _assert_equiv(_mk(spark, [(1, 0), (1, 1800), (1, 3600), (2, 0), (2, 1801)]))


def test_ties_single_events_and_constant_time(spark, route):
    rows = [
        (1, 100), (1, 100), (1, 100),      # equal-second ties
        (2, 500),                          # single event
        (3, 0), (3, 0), (3, 90_000),       # tie then huge gap
    ]
    route(n_slices=16)
    _assert_equiv(_mk(spark, rows))
    # degenerate: all events at one instant (lo == hi ⇒ width guard)
    route(n_slices=64)
    _assert_equiv(_mk(spark, [(1, 7), (2, 7), (1, 7)]))


def test_session_count_matches_definition(spark, route):
    # independent oracle: brute-force per-user session count in Python
    rng = random.Random(3)
    rows = []
    for u in range(8):
        t = 0
        for _ in range(200):
            t += rng.choice([10, 1801, 7200])
            rows.append((u, t))
    route(n_slices=9)
    got = {}
    for u, sid, _n, _lo, _hi in _sessions(_mk(spark, rows)):
        got[u] = max(got.get(u, 0), sid)
    want = {}
    per_user: dict[int, list[int]] = {}
    for u, t in rows:
        per_user.setdefault(u, []).append(t)
    for u, ts in per_user.items():
        ts.sort()
        want[u] = 1 + sum(1 for a, b in zip(ts, ts[1:]) if b - a > 1800)
    assert got == want


def test_gap_units_microseconds_matches_window_form(spark, route):
    # the attribution/path queries sessionize on unix_micros with a
    # 1.8e9 µs gap — sub-second gaps must count (second-truncation would
    # merge sessions the µs form splits)
    rng = random.Random(99)
    rows = []
    for u in range(10):
        t = rng.randrange(0, 10**9)
        for _ in range(300):
            t += rng.choice(
                [500_000, 1_799_999_999, 1_800_000_000, 1_800_000_001, 10**10]
            )
            rows.append((u, t))
    df = spark.createDataFrame(rows, "user_id bigint, tus bigint").withColumn(
        "event_id", F.monotonically_increasing_id()
    )
    route(n_slices=7)
    _assert_equiv(
        df, ts_col="tus", gap_units=1_800_000_000, tiebreak_cols=["event_id"]
    )


@pytest.mark.parametrize("n_slices", [2, 7, 64])
def test_sessionize_agg_scalable_matches_window_form(spark, route, n_slices):
    """The session-grain fused form (local aggs per (user, slice, local
    session) + merge aggs after the stitch) must reproduce the window
    form's per-session aggregates exactly — including sessions whose
    fragments span multiple slices (count merges by sum, bounds by
    min/max)."""
    rng = random.Random(99 + n_slices)
    rows = []
    for u in range(20):
        t = rng.randrange(0, 5_000)
        for _ in range(rng.randrange(1, 80)):
            t += rng.choice([1, 30, 1799, 1800, 1801, 5000, 40_000])
            rows.append((u, t))
    # hot user: 60% of all events, long runs without a session break —
    # fragments guaranteed to span slices at small slice counts
    t = 0
    for _ in range(600):
        t += rng.choice([1, 200, 1700])
        rows.append((999, t))
    route(n_slices)
    _assert_equiv(_mk(spark, rows))


def _flat_moments(df):
    """Window-form gap moments per user (the gap multiset, aggregated)."""
    w = Window.partitionBy("user_id").orderBy("tss")
    gd = (F.col("tss") - F.lag("tss").over(w)).cast("decimal(19,0)")
    flat = (
        df.select("user_id", gd.alias("g"))
        .filter(F.col("g").isNotNull())
        .groupBy("user_id")
        .agg(F.count("g").alias("n"), F.sum("g").alias("s"),
             F.sum(F.col("g") * F.col("g")).alias("ssq"))
    )
    return sorted((r["user_id"], r["n"], int(r["s"]), int(r["ssq"]))
                  for r in flat.collect())


def _fused_moments(df):
    fused = (
        gap_moments_scalable(df, part_cols=["user_id"], ts_col="tss", gap_col="g")
        .groupBy("user_id")
        .agg(F.sum("n_gaps").alias("n"), F.sum("s").alias("s"),
             F.sum("ssq").alias("ssq"))
        .filter(F.col("n") > 0)
    )
    return sorted((r["user_id"], r["n"], int(r["s"]), int(r["ssq"]))
                  for r in fused.collect())


@pytest.mark.parametrize("n_slices", [2, 7, 64])
def test_gap_moments_scalable_matches_flat_gaps(spark, route, n_slices):
    """Fused per-(key, slice) gap moments ∪ boundary-gap moments must sum
    to the flat window form's moments exactly (integer gaps — the decimal
    sums are order-independent)."""
    rng = random.Random(1234 + n_slices)
    rows = []
    for u in range(15):
        t = rng.randrange(0, 3_000)
        for _ in range(rng.randrange(1, 70)):
            t += rng.randrange(1, 9_000)
            rows.append((u, t))
    rows.append((777, 42))  # single-event key: zero gaps, must vanish
    df = spark.createDataFrame(rows, "user_id bigint, tss bigint")
    route(n_slices)
    a = _fused_moments(df)
    assert a == _flat_moments(df)
    assert 777 not in {r[0] for r in a}


def test_fused_local_agg_rides_the_window_stage(spark, route):
    """The session-grain fusion's load-bearing plan property: the
    local-session aggregate's grouping keys (user, _slice, _ls) are a
    superset of the bucket window's partition keys (user, _slice), so
    Catalyst must plan NO Exchange between the WindowExec and the
    HashAggregate above it — the corpus collapses to session grain inside
    the window stage. If partitioning propagation ever breaks (a Spark
    upgrade, an accidental projection that re-aliases the keys), the
    corpus gets a second full shuffle and every measured claim about the
    fused form dies silently — this pins it."""
    rows = [(u, 1000 * u + 7 * i) for u in range(5) for i in range(40)]
    route(n_slices=8)
    out = sessionize_agg_scalable(
        _mk(spark, rows),
        "user_id",
        "ts",
        local_aggs=[F.count("*").alias("n")],
        merge_aggs=[F.sum("n").alias("n")],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    # locate the partial aggregate keyed by _ls and the Window below it;
    # plan strings print parent above child, so any Exchange between them
    # would appear in the slice
    agg_idx = next(
        i for i, ln in enumerate(lines) if "HashAggregate" in ln and "_ls" in ln
    )
    win_idx = next(
        i for i in range(agg_idx + 1, len(lines)) if "Window" in lines[i]
    )
    between = "\n".join(lines[agg_idx : win_idx + 1])
    assert "Exchange" not in between, between


def test_fused_forms_on_empty_and_singleton_frames(spark, route):
    """Degenerate inputs on both routes: an EMPTY frame exercises the
    probe's (0, 0) no-data sentinel (every slice expression must still
    evaluate), and a single-row frame is the smallest stitch. Both must
    match the window form (empty → empty, singleton → one session of 1)."""
    empty = _mk(spark, []).filter(F.lit(False))
    single = _mk(spark, [(7, 1000)])
    for thr in (0, windows._HOT_THRESHOLD):
        route(n_slices=4, hot_threshold=thr)
        assert _sessions(empty) == []
        assert _sessions(single) == [(7, 1, 1, 1000, 1000)]
        g = gap_moments_scalable(
            empty.select("user_id", F.col("ts").cast("long").alias("tss")),
            part_cols=["user_id"],
            ts_col="tss",
            gap_col="g",
        )
        assert g.count() == 0


def _mixed_population(spark, seed, n_hot, n_users, per_user):
    rng = random.Random(seed)
    rows = []
    t = 0
    for _ in range(n_hot):  # hot user
        t += rng.choice([5, 1799, 1801, 4000])
        rows.append((1, t))
    for u in range(2, n_users):
        tu = rng.randrange(0, t)
        for _ in range(per_user):
            tu += rng.choice([60, 1800, 2000])
            rows.append((u, tu))
    return _mk(spark, rows)


def test_hot_routing_mixed_population_gap_edges(spark, route):
    """Hot routing: the hot user sliced, cold users at slice 0 — the union
    must equal the window form over everything, at thresholds putting the
    split at every interesting place, with cold gaps exactly at 1800 s."""
    df = _mixed_population(spark, 31, n_hot=2000, n_users=25, per_user=35)
    want = _ref_sessions(df)
    for thr in (0, 100, 10**9):  # all-hot / mixed / all-cold routes
        route(n_slices=6, hot_threshold=thr)
        assert _sessions(df) == want, f"hot_threshold={thr}"


def test_hot_routing_mixed_population_fused(spark, route):
    df = _mixed_population(spark, 67, n_hot=1500, n_users=20, per_user=30)
    want = _ref_sessions(df)
    for thr in (0, 100, 10**9):
        route(n_slices=6, hot_threshold=thr)
        assert _sessions(df) == want, f"hot_threshold={thr}"


def test_hot_routing_gap_moments_mixed(spark, route):
    rng = random.Random(11)
    rows = [(1, rng.randrange(0, 10**7)) for _ in range(1200)]  # hot key
    for u in range(2, 15):
        rows += [(u, rng.randrange(0, 10**7)) for _ in range(40)]
    rows.append((777, 42))  # single-event key
    df = spark.createDataFrame(rows, "user_id bigint, tss bigint")
    want = _flat_moments(df)
    for thr in (0, 100, 10**9):
        route(n_slices=5, hot_threshold=thr)
        assert _fused_moments(df) == want, f"hot_threshold={thr}"


def test_agg_scalable_reserved_column_assertion(spark):
    df = _mk(spark, [(1, 0), (1, 10)]).withColumn("_ls", F.lit(1))
    with pytest.raises(AssertionError, match="reserves"):
        sessionize_agg_scalable(
            df, "user_id", "ts",
            local_aggs=[F.count("*").alias("n")],
            merge_aggs=[F.sum("n").alias("n")],
        )
    df2 = _mk(spark, [(1, 0), (1, 10)])
    with pytest.raises(AssertionError, match="collides"):
        sessionize_agg_scalable(
            df2, "user_id", "ts",
            local_aggs=[F.count("*").alias("_slice")],
            merge_aggs=[F.sum("_slice").alias("n")],
        )


# ---------------------------------------------------------------- r10 probe


def test_sampled_probe_detects_whale_and_matches_window_form(spark, route):
    """A hot threshold above _PROBE_SAMPLE_TARGET engages the SAMPLED probe
    (one Bernoulli-sampled scan, exact verification only over candidates).
    A whale key far above the threshold must be detected and the sliced
    result must stay bit-equal to the window form."""
    rows = [(7, 1000 + 3 * i) for i in range(5000)]  # whale: 5000 rows
    rows += [(u, 500 + 40 * u) for u in range(100)]  # cold singletons
    df = _mk(spark, rows)
    route(n_slices=16, hot_threshold=100)
    (lo, hi), hot = _hot_key_stats(df, ["user_id"], F.col("ts").cast("long"))
    assert hot is not None
    assert [r["user_id"] for r in hot.collect()] == [7]
    # exact bounds, from the verification pass (not the sample)
    assert (lo, hi) == (float(500), float(1000 + 3 * 4999))
    _assert_equiv(df)


def test_sampled_probe_uniform_short_circuit(spark, route):
    """No key close to the threshold: the sampled probe returns hot=None
    without the verification pass, and the operator takes the plain
    window route — still bit-equal."""
    rows = [(u, 100 * u + 7 * i) for u in range(40) for i in range(12)]
    df = _mk(spark, rows)
    route(n_slices=8, hot_threshold=100_000)
    (_, _), hot = _hot_key_stats(df, ["user_id"], F.col("ts").cast("long"))
    assert hot is None
    _assert_equiv(df)


def test_probe_null_keys_never_hot_and_results_match(spark, route):
    """Null-keyed rows can never be routed hot (the flag equi-join cannot
    match them) — the probe excludes them BY CONTRACT on both branches,
    and sessions still match the window form, which groups nulls as a
    plain partition."""
    rows = [(None, 100 + 3 * i) for i in range(3000)]
    rows += [(1, 10_000 + i) for i in range(50)]
    df = _mk(spark, rows)
    want = _ref_sessions(df)
    for thr in (10, 100):  # exact branch, sampled branch
        route(n_slices=6, hot_threshold=thr)
        (_, _), hot = _hot_key_stats(df, ["user_id"], F.col("ts").cast("long"))
        hot_keys = [r["user_id"] for r in hot.collect()] if hot is not None else []
        assert None not in hot_keys, f"thr={thr}"
        assert _sessions(df) == want, f"thr={thr}"


def test_no_hot_fused_fast_path_plan_is_minimal(spark):
    """When NO key is hot, sessionize_agg_scalable's plan is the minimal
    fused form — one Exchange (the session window's), no Join, no
    InMemoryTableScan (no persist): the stitch machinery must be absent.
    Results are pinned against the window form by
    test_hot_routing_mixed_population_fused (thr=10**9); this pins the
    plan shape."""
    rows = [(u, 1000 * u + 13 * i) for u in range(8) for i in range(25)]
    out = sessionize_agg_scalable(
        _mk(spark, rows),
        "user_id",
        "ts",
        local_aggs=[F.count("*").alias("n")],
        merge_aggs=[
            F.sum("n").alias("n"),
            (F.max("s_last_tss") - F.min("s_first_tss")).alias("dur"),
        ],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_static_row_bound_soundness(spark, sf_dir):
    """r11 footer fast path: the static bound is the parquet footer row
    count for scan/project/filter plans, and None for any plan node that
    can multiply rows (explode/join/aggregate) or for non-parquet frames."""
    e = load(spark, "events", sf_dir)
    n = e.count()
    assert _static_row_bound(e) == n
    assert _static_row_bound(e.select("user_id", "ts")) == n
    # Filter only ever reduces rows — bound stays sound (and unchanged).
    assert _static_row_bound(e.filter("user_id > 3")) == n
    assert _static_row_bound(
        e.select(F.explode(F.array("user_id", "user_id")).alias("u"))
    ) is None
    assert _static_row_bound(e.groupBy("user_id").count()) is None
    assert _static_row_bound(e.join(e.select("user_id"), "user_id")) is None
    assert _static_row_bound(spark.range(5)) is None  # not a parquet scan


def _poison_sample(self, *a, **k):  # pragma: no cover - must not run
    raise AssertionError("sampled probe ran despite footer bound")


def test_footer_fast_path_skips_probe_job(spark, sf_dir, route, monkeypatch):
    """When the footer bound proves no key can be hot, _hot_key_stats must
    return the no-hot route WITHOUT the sampled-probe scan (poison
    DataFrame.sample to prove it is never called), and the operator stays
    bit-equal to the window form on the same data. The poison goes on the
    frame's concrete class: pyspark 4's classic DataFrame overrides
    ``sample``, so patching ``pyspark.sql.DataFrame`` would prove nothing."""
    e = load(spark, "events", sf_dir).select("user_id", "ts")
    route(hot_threshold=10_000_000)
    with monkeypatch.context() as m:
        m.setattr(type(e), "sample", _poison_sample)
        (_, _), hot = _hot_key_stats(e, ["user_id"], F.col("ts").cast("long"))
        assert hot is None
    _assert_equiv(e)


def test_static_row_bound_without_pyarrow_falls_back_to_sampled_probe(
    spark, sf_dir, route, monkeypatch
):
    """No pyarrow, no footer reader: the bound is None (not an ImportError
    out of a query build), the sampled probe decides the route instead,
    and the sessions still match the window form."""
    e = load(spark, "events", sf_dir).select("user_id", "ts")
    route(hot_threshold=10_000_000)
    monkeypatch.setitem(sys.modules, "pyarrow.parquet", None)
    assert _static_row_bound(e) is None
    sampled = []
    real_sample = type(e).sample
    with monkeypatch.context() as m:
        m.setattr(
            type(e),
            "sample",
            lambda self, *a, **k: sampled.append(1) or real_sample(self, *a, **k),
        )
        (_, _), hot = _hot_key_stats(e, ["user_id"], F.col("ts").cast("long"))
    assert hot is None and sampled
    _assert_equiv(e)
