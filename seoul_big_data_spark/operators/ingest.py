"""Resumable bulk ingest — the reference's core capability as one lazy plan.

Re-expresses two steps of the CSV load loop
(ref: data_seoul_2_csv_noopenapi.py:113-128) as set-oriented DataFrame
transformations instead of a per-row INSERT loop: row numbering in input or
key order (S4) and the resume-from-checkpoint offset filter (F6). The
pipeline's schema binding (J3) lives in
``sources/csv_ingest.py::load_csv_with_catalog_schema``.

Scale notes (100 TB): ``numbered`` is a global ``row_number()`` window, which
sorts on a single reducer — correct, but serial; it is the reference the
parallel forms are tested against. A file scan is numbered in file order by
``numbered_in_file_order`` (one small per-block count job, then a map-side
id projection — no shuffle of the rows); a keyed order by
``numbered_ordered_scalable``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def numbered(df: DataFrame, order_by: list[str | Column] | None = None) -> DataFrame:
    """S4 — assign a contiguous 1-based ``ID`` in input (or key) order.

    Mirrors the reference's physical-line numbering
    (data_seoul_2_csv_noopenapi.py:116,128). Global window = single-partition
    sort; fine at test scale, see ``numbered_in_file_order`` for the parallel
    variant over a file scan.
    """
    order = order_by or [F.monotonically_increasing_id()]
    w = Window.orderBy(*order)
    return df.withColumn("ID", F.row_number().over(w))


def numbered_in_file_order(df: DataFrame) -> tuple[DataFrame, int]:
    """S4 at scale — contiguous 1-based ``ID`` in file order, and the row count.

    ``df`` must be a file scan with no operator in between: the order is
    (``_metadata.file_path``, ``_metadata.file_block_start``) and then the
    row's place in its block. One small aggregate collects, per block, its
    row count and the smallest ``monotonically_increasing_id()`` of its rows.
    A block is read by one task from start to end, so its rows carry
    consecutive ids from that minimum on, and ``ID = mono + delta[block]`` is
    a map-side projection, with ``delta`` = rows of the earlier blocks + 1 −
    the block's minimum.

    The partition index is part of ``mono``, so the counts and the frame
    must be planned over the same files with the same split settings
    (``spark.sql.files.*``); a block the counts did not see raises. Not
    ``spark_partition_id()`` order: file bin-packing sorts splits by size,
    which mixes files. The offset map is a literal with one entry per block
    (a 1 GB file at the default 128 MB split is 8 entries).
    """
    block = F.struct(
        F.col("_metadata.file_path").alias("path"),
        F.col("_metadata.file_block_start").alias("start"),
    )
    mono = F.monotonically_increasing_id()
    counts = (
        df.select(block.alias("block"), mono.alias("mono"))
        .groupBy("block")
        .agg(F.count("*").alias("n"), F.min("mono").alias("first"))
        .collect()
    )
    deltas, total = [], 0
    for (path, start), n, first in sorted(counts):
        key = F.struct(
            F.lit(path).alias("path"), F.lit(start).cast("long").alias("start")
        )
        deltas += [key, F.lit(total + 1 - first).cast("long")]
        total += n
    if not deltas:  # no data rows: nothing to number
        return df.withColumn("ID", F.lit(None).cast("int")), 0
    delta = F.create_map(*deltas)[block]
    missing = F.raise_error(F.lit("input changed after its blocks were counted"))
    return df.withColumn("ID", (mono + F.coalesce(delta, missing)).cast("int")), total


def numbered_ordered_scalable(
    df: DataFrame, order_by: list[str], partitions: int | None = None
) -> DataFrame:
    """S4 with an explicit key order, without the global single-reducer sort.

    Adaptive: on small inputs (file metadata, no job) a single-reducer sort
    beats the extra quantile + counts jobs, so the windowed ``numbered``
    runs; beyond it — the regime where a global sort serializes — the
    bucketed two-pass form (``numbered_bucketed``) engages. Both produce the
    identical contiguous 1-based ``ID``.

    The 32 MB cutoff is measured, not guessed (x1/x8/x32 replicas of the
    sf0.1 lineitem, 32 cores, min-of-2): windowed wins 1.25 s vs 1.70 s at
    11 MB compressed; bucketed wins 5.3 s vs 7.7 s at 62 MB and 11.5 s vs
    32 s at 235 MB. Compressed parquet bytes understate row counts ~15x
    here, so the old 256 MB cutoff silently kept a 19 M-row sort on one
    reducer — exactly the failure mode this operator exists to avoid.
    """
    try:
        import os

        input_bytes = sum(
            os.path.getsize(f[7:] if f.startswith("file:") else f)
            for f in df.inputFiles()
        )
    except Exception:  # noqa: BLE001 — non-file source: assume big
        input_bytes = None
    if input_bytes is not None and input_bytes < 32 * 1024 * 1024:
        return numbered(df, order_by=list(order_by))
    return numbered_bucketed(df, order_by, partitions)


def _bucket_of(x: Column, bounds: list[float]) -> Column:
    """#bounds strictly below ``x`` (NULL → bucket 0), i.e. the quantile
    bucket index.

    Two physical forms, same value: a CASE chain for modest bucket counts
    (whole-stage-codegen'd — the higher-order-function form is interpreted
    per element and measured ~9 s per scan of 19.2 M rows at x32, ~0.5 s as
    CASE), falling back to the array form when the chain would approach the
    JVM's 64 KB codegen method limit (thousands of buckets → Spark would
    drop the whole stage to interpreted mode, which is worse than one
    interpreted expression)."""
    if len(bounds) <= 256:
        chain = F.when(x.isNull() | (x <= F.lit(bounds[0])), 0)
        for i, b in enumerate(bounds[1:], 1):
            chain = chain.when(x <= F.lit(b), i)
        return chain.otherwise(len(bounds))
    barr = F.array(*[F.lit(b) for b in bounds])
    return F.size(F.filter(barr, lambda b: b < x))


def numbered_bucketed(
    df: DataFrame, order_by: list[str], partitions: int | None = None
) -> DataFrame:
    """The parallel two-pass numbering: deterministic logical buckets from
    quantile bounds of the leading order key → per-bucket counts (tiny
    collect) → per-bucket ``row_number`` + bucket offset. Every stage is
    parallel; this is the 100 TB form.

    NOT ``repartitionByRange``: its sampled bounds differ between the
    offsets job and the main job, which mis-aligns offsets (observed
    overlapping IDs). Ties on a bound share a bucket — slight imbalance,
    never incorrectness.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    lead = order_by[0]
    bounds = sorted(
        set(df.approxQuantile(lead, [i / n for i in range(1, n)], 0.001))
    )
    if not bounds:
        return numbered(df, order_by=list(order_by))
    bucket = _bucket_of(F.col(lead).cast("double"), bounds)
    with_b = df.withColumn("_bucket", bucket)
    counts = {
        r["_bucket"]: r["count"] for r in with_b.groupBy("_bucket").count().collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    offset_col = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_bucket").orderBy(*order_by)
    return (
        with_b.withColumn("_rn", F.row_number().over(w))
        .withColumn("ID", (offset_col[F.col("_bucket")] + F.col("_rn")).cast("int"))
        .drop("_bucket", "_rn")
    )


def resume_filter(df: DataFrame, start_idx: int, id_col: str = "ID") -> DataFrame:
    """F6 — skip rows already loaded in a previous run.

    The reference re-inserts the boundary row (``start_idx <= row``,
    data_seoul_2_csv_noopenapi.py:115 — an off-by-one, SURVEY.md §7.4.4); the
    engine pins the fixed semantics: resume *strictly after* the checkpoint,
    and start_idx == 0 means load everything.
    """
    return df.filter((F.lit(start_idx) == 0) | (F.col(id_col) > start_idx))

