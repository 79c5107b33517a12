"""M1 — resumable ingest slice (SURVEY.md §7.2) + S4/F6 semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from seoul_big_data_spark.operators import ingest
from seoul_big_data_spark.sources.tables import load


def test_numbered_contiguous(spark, sf_dir):
    li = load(spark, "lineitem", sf_dir).select("l_orderkey", "l_linenumber")
    n = li.count()
    out = ingest.numbered(li, order_by=["l_orderkey", "l_linenumber"])
    ids = out.agg(
        F.min("ID").alias("lo"), F.max("ID").alias("hi"), F.count("*").alias("n")
    ).first()
    assert (ids["lo"], ids["hi"], ids["n"]) == (1, n, n)


def test_resume_strictly_after_checkpoint(spark, sf_dir):
    li = load(spark, "lineitem", sf_dir).select("l_orderkey", "l_linenumber")
    numbered = ingest.numbered(li, order_by=["l_orderkey", "l_linenumber"])
    total = numbered.count()
    k = 100
    resumed = ingest.resume_filter(numbered, k)
    assert resumed.count() == total - k
    assert resumed.agg(F.min("ID")).first()[0] == k + 1
    # start_idx == 0 loads everything
    assert ingest.resume_filter(numbered, 0).count() == total


def test_resume_partition_union_equals_full(spark, sf_dir):
    """load(all) == load(0..k) ∪ resume(k) — SURVEY.md §5.2 property."""
    li = load(spark, "lineitem", sf_dir).select("l_orderkey", "l_linenumber")
    numbered = ingest.numbered(li, order_by=["l_orderkey", "l_linenumber"]).cache()
    k = 2500
    head = numbered.filter(F.col("ID") <= k)
    tail = ingest.resume_filter(numbered, k)
    assert head.unionByName(tail).distinct().count() == numbered.count()


def test_numbered_bucketed_matches_window(spark, sf_dir):
    """The quantile-bucketed two-pass numbering equals the global-window
    numbering row for row (unique order keys) — forced onto the bucketed
    path regardless of the adaptive size cutover, on multi-partition input."""
    li = (
        load(spark, "lineitem", sf_dir)
        .select("l_orderkey", "l_linenumber")
        .repartition(8)
    )
    win = ingest.numbered(li, order_by=["l_orderkey", "l_linenumber"])
    par = ingest.numbered_bucketed(li, ["l_orderkey", "l_linenumber"], partitions=8)
    assert win.exceptAll(par).count() == 0
    assert par.exceptAll(win).count() == 0
