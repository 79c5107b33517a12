"""Skew-salting join correctness (operators/skew.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from seoul_big_data_spark.operators.skew import salted_join, spread_scan
from seoul_big_data_spark.sources.tables import load


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey", "l_quantity")
    part = load(spark, "part", sf_dir).select(
        F.col("p_partkey").alias("l_partkey"), "p_name"
    )
    plain = li.join(part, "l_partkey").groupBy("l_partkey").count()
    salted = salted_join(li, part, "l_partkey", n_salts=4).groupBy("l_partkey").count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_join_left_outer_preserves_unmatched(spark):
    fact = spark.createDataFrame([(1, "a"), (2, "b"), (99, "z")], "k long, v string")
    dim = spark.createDataFrame([(1, "one"), (2, "two")], "k long, name string")
    out = salted_join(fact, dim, "k", n_salts=3, how="left").collect()
    got = {r["k"]: r["name"] for r in out}
    assert got == {1: "one", 2: "two", 99: None}
    assert len(out) == 3  # no duplication from the salt explode


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE's runtime skew handling must actually engage: a join with one
    hot key, run with broadcast disabled and tiny advisory sizes, shows
    skew=true on the SortMergeJoin in the final adaptive plan — the
    runtime complement of the explicit salting operator."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = spark.range(200_000).select(
            F.lit(0).alias("k"), F.col("id").alias("payload")
        )
        tail = spark.range(2_000).select(
            (F.col("id") % 50 + 1).alias("k"), F.col("id").alias("payload")
        )
        left = hot.unionAll(tail)
        right = spark.range(51).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("dim")
        )
        joined = left.join(right, "k")
        # execute THIS DataFrame's own QueryExecution (count() would plan a
        # separate query and leave this one's adaptive plan unfinalized)
        assert len(joined.collect()) == 202_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_spread_scan_is_scale_adaptive(spark):
    """r10: the corpus-spread repartition before CPU-dense explodes must
    fire only when the scan is under-parallel — on an already-parallel
    input it must be the identity (no extra Exchange), because at scale
    the spread would be a full wasted shuffle of the corpus."""
    from pyspark.sql import functions as F

    from seoul_big_data_spark.operators.skew import spread_scan

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1).select(F.col("id").alias("doc_id"))
    spread = spread_scan(narrow)
    assert spread.rdd.getNumPartitions() == par
    wide = spark.range(1000).repartition(max(par, 2))
    same = spread_scan(wide)
    assert same is wide  # identity: no node added at all


def test_spread_scan_shuffled_input_is_identity_without_probe(spark):
    """r11 (ADVICE r10): a frame whose plan already contains an Exchange is
    returned unchanged WITHOUT the RDD partition probe — under AQE,
    converting a shuffled plan to an RDD finalizes query stages (runs the
    shuffle eagerly at plan-construction time). Poison .rdd to prove the
    probe never touches it."""
    from pyspark.sql import functions as F

    from seoul_big_data_spark.operators.skew import spread_scan

    shuffled = (
        spark.range(100)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
    )
    cls = type(shuffled)
    orig = cls.rdd
    try:

        def _boom(self):  # pragma: no cover - must not run
            raise AssertionError("spread_scan probed .rdd on a shuffled plan")

        cls.rdd = property(_boom)
        same = spread_scan(shuffled)
    finally:
        cls.rdd = orig
    assert same is shuffled


def test_lit_double_array_non_finite_values(spark):
    """r11 (ADVICE r10): NaN/±Infinity elements must parse (the bare
    repr-based rendering produced 'nanD', a parse error) and be bit-equal
    to the F.lit form."""
    import math

    from pyspark.sql import functions as F

    from seoul_big_data_spark.functions.vector import lit_double_array

    vals = [1.5, float("nan"), float("inf"), float("-inf"), -0.0]
    row = (
        spark.range(1)
        .select(
            lit_double_array(vals).alias("a"),
            F.array(*[F.lit(v) for v in vals]).alias("b"),
        )
        .collect()[0]
    )
    import struct as _struct

    bits = lambda x: _struct.pack("<d", x)  # noqa: E731
    assert [bits(v) for v in row["a"]] == [bits(v) for v in row["b"]]
    assert math.isnan(row["a"][1])


def test_spread_scan_leaves_broadcast_join_unprobed(spark, sf_dir, count_jobs):
    """The ``Exchange`` guard also matches ``BroadcastExchange``, and must:
    probing a broadcast-join frame's partitions would run the broadcast job
    while the query is still being built."""
    li = load(spark, "lineitem", sf_dir)
    part = load(spark, "part", sf_dir).withColumnRenamed("p_partkey", "l_partkey")
    joined = li.join(F.broadcast(part), "l_partkey")
    out, n_jobs = count_jobs(lambda: spread_scan(joined))
    assert out is joined
    assert n_jobs == 0
