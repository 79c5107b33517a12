"""Scale-feature proofs: partitioned writes prune, bucketed joins avoid the
shuffle (SURVEY.md §4.2 partition pruning / bucketing rows)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from seoul_big_data_spark.sources.tables import load
from seoul_big_data_spark.sources.writers import append_table


def _plan(spark, df, mode="formatted"):
    return spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """C6 append partitioned by dataset key → a filtered re-read scans only
    the matching partition directory (partition pruning, not a data filter)."""
    li = load(spark, "lineitem", sf_dir).withColumn(
        "dataset_id", (F.col("l_orderkey") % 4).cast("int")
    )
    path = str(tmp_path / "staged")
    append_table(li, path, partition_by=["dataset_id"])
    back = spark.read.parquet(path).filter(F.col("dataset_id") == 2)
    plan = _plan(spark, back)
    assert re.search(r"PartitionFilters: \[.*dataset_id.*2", plan), plan[:1500]
    # correct content, not just a pruned plan
    expect = li.filter(F.col("dataset_id") == 2).count()
    assert back.count() == expect


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketed saveAsTable on the join key → sort-merge join with no
    Exchange on either side (co-located join, the 100 TB join strategy for
    fact-fact joins that can't broadcast)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load(spark, "lineitem", sf_dir).select(
            "l_orderkey", "l_quantity"
        )
        o = load(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
            "path", str(tmp_path / "li_bucketed")
        ).mode("overwrite").saveAsTable("li_bucketed")
        o.withColumnRenamed("o_orderkey", "l_orderkey").write.bucketBy(
            8, "l_orderkey"
        ).sortBy("l_orderkey").option(
            "path", str(tmp_path / "o_bucketed")
        ).mode("overwrite").saveAsTable("o_bucketed")
        joined = spark.table("li_bucketed").join(
            spark.table("o_bucketed"), "l_orderkey"
        )
        plan = _plan(spark, joined, "simple")
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() == li.join(
            o, li.l_orderkey == o.o_orderkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_ivf_layout_bucket_partition_prunes(spark, sf_dir, tmp_path):
    """N3 scale layout: corpus written partitioned by LSH bucket → a probe
    reads only its own bucket's partition (the IVF inverted-file pattern
    from SCALE.md, expressed with plain partition pruning)."""
    from seoul_big_data_spark.functions.vector import random_hyperplane_signs
    from seoul_big_data_spark.q_ml import _fixed_planes
    from seoul_big_data_spark.sources.tables import load as load_table

    emb = load_table(spark, "embeddings", sf_dir)
    planes = _fixed_planes(4, 64)  # 16 buckets
    signed = emb.withColumn("bucket", random_hyperplane_signs("embedding", planes))
    path = str(tmp_path / "ivf")
    signed.write.partitionBy("bucket").parquet(path)

    probe = signed.limit(1).collect()[0]
    back = spark.read.parquet(path).filter(F.col("bucket") == probe["bucket"])
    plan = _plan(spark, back)
    assert re.search(r"PartitionFilters: \[.*bucket", plan), plan[:1500]
    # pruned read returns exactly the probe's bucket-mates
    expect = signed.filter(F.col("bucket") == probe["bucket"]).count()
    assert back.count() == expect
