"""Sinks & bookkeeping (SURVEY.md §2.1 C6/C7/C8).

The reference's row-at-a-time INSERT loop (data_seoul_2_csv_noopenapi.py:
122-125) becomes a set-oriented ``df.write`` append; its in-place catalog
UPDATEs of many rows (data_seoul_1_category.py:80-83) become the
join-then-overwrite ``merge_update`` — plain-parquet MERGE semantics
(Delta/Iceberg would provide it natively; the pattern is the same join, so
swapping the sink later changes no call sites). The one-row audit UPDATE
(data_seoul_2_csv_noopenapi.py:133-140) needs no join: pipelines/csv_load.py
rewrites that row in a projection.

Scale notes: ``append_table`` partitions by dataset id so downstream reads
partition-prune; ``merge_update`` broadcasts the updates side (catalog-sized
by construction — never fact-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def append_table(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """C6 — bulk append sink (replaces per-row INSERT)."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def overwrite_table(df: DataFrame, path: str) -> None:
    """Full-table rewrite target for merge_update results."""
    df.write.mode("overwrite").parquet(path)


def merge_update(
    target: DataFrame, updates: DataFrame, key: str, set_cols: list[str]
) -> DataFrame:
    """C7/C8 — UPDATE ... SET c=? WHERE key=? as a join-then-coalesce.

    ``updates`` carries (key, *set_cols); unmatched target rows keep their
    values; matched rows take the update value unless it is null. Returns the
    merged frame (caller persists with ``overwrite_table`` — the atomic-swap
    analogue of the reference's per-row UPDATE)."""
    upd = updates.select(
        F.col(key), *[F.col(c).alias(f"_new_{c}") for c in set_cols]
    )
    out = target.join(F.broadcast(upd), key, "left")
    for c in set_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"_new_{c}"), F.col(c))).drop(
            f"_new_{c}"
        )
    return out


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key: str,
    delete_condition: F.Column | None = None,
) -> DataFrame:
    """Full MERGE semantics over plain parquet frames:

    - WHEN MATCHED [AND delete_condition] THEN DELETE
    - WHEN MATCHED THEN UPDATE SET * (source row wins)
    - WHEN NOT MATCHED THEN INSERT *

    Delta/Iceberg express this natively (``MERGE INTO``); on immutable
    parquet it is one full outer join + per-column coalesce, persisted via
    ``overwrite_table`` (atomic-swap analogue). Target and source must share
    a schema. The join shuffles both sides on ``key`` — at 100 TB, bucket
    both tables on the merge key so the exchange is avoided entirely;
    broadcast is wrong here because MERGE sources are usually fact-sized
    deltas, unlike ``merge_update``'s catalog-sized updates.

    ``delete_condition`` is evaluated over the joined row (source columns
    visible under their ``_src_`` prefix)."""
    cols = target.columns
    if source.columns != cols:
        raise ValueError(f"schema mismatch: {source.columns} vs {cols}")
    src = source.select(
        F.col(key).alias("_src_key"),
        *[F.col(c).alias(f"_src_{c}") for c in cols if c != key],
    )
    joined = target.join(src, target[key] == src["_src_key"], "full_outer")
    if delete_condition is not None:
        # SQL MERGE treats a NULL delete predicate as not-satisfied (the row
        # is updated, not deleted); a bare NULL here would make the whole
        # filter predicate NULL and silently drop the row.
        joined = joined.filter(
            ~(F.col("_src_key").isNotNull() & F.col(key).isNotNull()
              & F.coalesce(delete_condition, F.lit(False)))
        )
    out_cols = [F.coalesce(F.col(key), F.col("_src_key")).alias(key)] + [
        F.when(F.col("_src_key").isNotNull(), F.col(f"_src_{c}"))
        .otherwise(F.col(c))
        .alias(c)
        for c in cols
        if c != key
    ]
    return joined.select(*out_cols)


def merge_upsert_partitioned(
    spark,
    path: str,
    source: DataFrame,
    key: str,
    partition_col: str,
    delete_condition: F.Column | None = None,
) -> list:
    """Partition-pruned MERGE over a parquet table partitioned by
    ``partition_col`` — the Delta/Iceberg file-skipping shape on plain
    parquet: only partitions PRESENT IN THE SOURCE are read, merged, and
    rewritten (dynamic partition overwrite); every other partition's files
    are never opened, never rewritten, mtimes untouched. Cost is
    O(delta partitions), not O(table) like ``merge_upsert`` +
    ``overwrite_table``.

    Constraint (same as a partition-predicate-scoped Delta MERGE): a source
    row for an EXISTING key must carry that key's current partition value —
    a merge is not allowed to move rows across partitions, because the old
    partition may not be in the pruned read set. New keys may land anywhere.

    A partition whose rows are all deleted by ``delete_condition`` is
    removed explicitly (dynamic overwrite only replaces partitions that
    appear in the written data). Returns the affected partition values."""
    import os
    import shutil

    parts = [
        r[0] for r in source.select(partition_col).distinct().collect()
    ]  # delta-sized: one small distinct, catalog-scale driver state
    target = spark.read.parquet(path).filter(F.col(partition_col).isin(parts))
    # A partitioned read surfaces the partition column last; align the
    # source's column order to the on-disk layout before the merge.
    merged = merge_upsert(
        target, source.select(*target.columns), key, delete_condition
    )
    if delete_condition is None:
        # No deletes → every affected partition keeps at least its source
        # rows, so the survived set is known statically: no checkpoint, no
        # second pass, the write below is the only action.
        survived = set(parts)
    else:
        # Deletes may empty a partition; checkpoint the merge once so the
        # survived-partition probe and the write share the materialized
        # result instead of recomputing the join twice.
        merged = merged.localCheckpoint(eager=True)
        survived = {
            r[0] for r in merged.select(partition_col).distinct().collect()
        }
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    for p in set(parts) - survived:  # fully-deleted partitions
        shutil.rmtree(os.path.join(path, f"{partition_col}={p}"), ignore_errors=True)
    return parts


def delete_where_partitioned(
    spark,
    path: str,
    predicate: F.Column,
    partition_col: str,
    partition_values: list | None = None,
) -> list:
    """Partition-pruned DELETE over a parquet table partitioned by
    ``partition_col``: rewrite ONLY the partitions that can contain
    matching rows, keep every other partition's files untouched — the
    DELETE-FROM-WHERE shape on plain parquet (the simpler cousin of
    ``merge_upsert_partitioned``; an open table format swaps the
    directory rewrite for a commit-log entry, same call site).

    ``partition_values`` scopes the rewrite (the caller usually knows the
    affected partitions — e.g. a GDPR purge keyed by ingest date); when
    omitted, the affected set is discovered with one partition-pruned
    aggregate over the predicate itself. Partitions left empty by the
    delete are removed explicitly. Returns the rewritten partition
    values."""
    import os
    import shutil

    if partition_values is None:
        partition_values = [
            r[0]
            for r in spark.read.parquet(path)
            .filter(predicate)
            .select(partition_col)
            .distinct()
            .collect()  # affected-partition list: catalog-sized
        ]
    if not partition_values:
        return []
    target = spark.read.parquet(path).filter(
        F.col(partition_col).isin(partition_values)
    )
    kept = target.filter(~predicate).localCheckpoint(eager=True)
    survived = {
        r[0] for r in kept.select(partition_col).distinct().collect()
    }
    (
        kept.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    for p in set(partition_values) - survived:
        shutil.rmtree(
            os.path.join(path, f"{partition_col}={p}"), ignore_errors=True
        )
    return partition_values


def cdc_apply(
    target: DataFrame,
    changes: DataFrame,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC change feed (ops 'I'/'U'/'D' with a monotone sequence
    column) to a snapshot: per key, the HIGHEST-sequence op wins — 'D'
    removes the row, 'I'/'U' upsert the payload, untouched keys pass
    through.

    Shape: one window (latest op per key — shuffle on key) + one full-outer
    join on key. At 100 TB bucket both sides on the key so neither the
    window nor the join exchanges; this is exactly how Delta/Hudi compact a
    change stream into a snapshot, expressed over immutable parquet. The
    sequence column must totally order ops per key (ties broken by op
    descending for determinism — 'U' beats 'D' beats 'I' on equal seq)."""
    from pyspark.sql import Window

    cols = target.columns
    payload = [c for c in cols if c != key]
    w = Window.partitionBy(key).orderBy(F.desc(seq_col), F.desc(op_col))
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col(key).alias("_c_key"),
            F.col(op_col).alias("_c_op"),
            *[F.col(c).alias(f"_c_{c}") for c in payload],
        )
    )
    j = target.join(latest, target[key] == latest["_c_key"], "full_outer")
    kept = j.filter(F.coalesce(F.col("_c_op") != "D", F.lit(True)))
    return kept.select(
        F.coalesce(F.col(key), F.col("_c_key")).alias(key),
        *[
            F.when(F.col("_c_key").isNotNull(), F.col(f"_c_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in payload
        ],
    )


def scd2_apply(
    dim: DataFrame,
    snapshot: DataFrame,
    key: str,
    tracked: list[str],
    load_ts: str,
    end_of_time: str = "9999-12-31 00:00:00",
) -> DataFrame:
    """Slowly-changing-dimension type 2: maintain row history with
    ``valid_from``/``valid_to``/``is_current`` columns.

    ``dim`` carries (key, *tracked, valid_from, valid_to, is_current);
    ``snapshot`` carries (key, *tracked) — the new full extract. Rows whose
    tracked values changed are closed (valid_to = load_ts) and re-inserted
    open; new keys are inserted open; unchanged and historical rows pass
    through. One shuffle on the key; at scale, bucket the dimension on the
    key and partition by ``is_current`` so the current slice prunes.

    Change detection is null-safe (``eqNullSafe``) per tracked column."""
    cur = dim.filter(F.col("is_current"))
    hist = dim.filter(~F.col("is_current"))
    snap = snapshot.select(
        F.col(key).alias("_s_key"),
        *[F.col(c).alias(f"_s_{c}") for c in tracked],
    )
    j = cur.join(snap, cur[key] == snap["_s_key"], "full_outer")
    # Per-column null-safe comparison: concat_ws would SKIP nulls, conflating
    # (NULL,'x') with ('x',NULL) and NULL with '' — missed changes.
    same = F.lit(True)
    for c in tracked:
        same = same & F.col(c).eqNullSafe(F.col(f"_s_{c}"))
    changed = ~same
    closed = j.filter(
        F.col(key).isNotNull() & F.col("_s_key").isNotNull() & changed
    ).select(
        F.col(key),
        *[F.col(c) for c in tracked],
        F.col("valid_from"),
        F.lit(load_ts).cast("timestamp").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    deleted_keep = j.filter(F.col("_s_key").isNull()).select(
        F.col(key), *tracked, "valid_from", "valid_to", "is_current"
    )
    unchanged = j.filter(
        F.col(key).isNotNull() & F.col("_s_key").isNotNull() & ~changed
    ).select(F.col(key), *tracked, "valid_from", "valid_to", "is_current")
    opened = j.filter(
        F.col("_s_key").isNotNull()
        & (F.col(key).isNull() | changed)
    ).select(
        F.col("_s_key").alias(key),
        *[F.col(f"_s_{c}").alias(c) for c in tracked],
        F.lit(load_ts).cast("timestamp").alias("valid_from"),
        F.lit(end_of_time).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return hist.unionByName(closed).unionByName(deleted_keep).unionByName(
        unchanged
    ).unionByName(opened)


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, compare_cols: list[str]
) -> DataFrame:
    """Table-version diff (the data-diff / reconciliation kernel): classify
    every key as added / removed / changed / unchanged between two
    snapshots, with null-safe per-column comparison.

    One full-outer join on the key — bucket both snapshots on it at 100 TB
    and the diff is exchange-free; the per-column comparisons are codegen'd
    expressions, so cost is one co-located scan of both versions. Returns
    (key, diff_class, n_cols_changed)."""
    o = old.select(
        F.col(key).alias("_o_key"),
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
    )
    n = new.select(
        F.col(key).alias("_n_key"),
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
    )
    j = o.join(n, o["_o_key"] == n["_n_key"], "full_outer")
    changed_cols = sum(
        (~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))).cast("int")
        for c in compare_cols
    )
    cls = (
        F.when(F.col("_o_key").isNull(), "added")
        .when(F.col("_n_key").isNull(), "removed")
        .when(changed_cols > 0, "changed")
        .otherwise("unchanged")
    )
    return j.select(
        F.coalesce(F.col("_o_key"), F.col("_n_key")).alias(key),
        cls.alias("diff_class"),
        F.when(
            F.col("_o_key").isNotNull() & F.col("_n_key").isNotNull(),
            changed_cols,
        )
        .otherwise(F.lit(0))
        .alias("n_cols_changed"),
    )


def snapshot_to_cdc(
    old: DataFrame,
    new: DataFrame,
    key: str,
    seq: int = 1,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Derive the change feed BETWEEN two snapshots — the inverse of
    ``cdc_apply``: applying the result to ``old`` reproduces ``new``
    exactly (round-trip pinned in tests/test_merge_scd.py).

    Classification is the same one null-safe full-outer join as
    ``snapshot_diff``; unchanged keys emit nothing, so the feed is
    delta-sized. This is how a snapshot-based source backfills a CDC
    pipeline (or how two lake versions reconcile into an incremental
    feed) without any engine-side change tracking."""
    cols = old.columns
    payload = [c for c in cols if c != key]
    o = old.select(
        F.col(key).alias("_o_key"),
        *[F.col(c).alias(f"_o_{c}") for c in payload],
    )
    n = new.select(
        F.col(key).alias("_n_key"),
        *[F.col(c).alias(f"_n_{c}") for c in payload],
    )
    j = o.join(n, o["_o_key"] == n["_n_key"], "full_outer")
    same = F.lit(True)
    for c in payload:
        same = same & F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    op = (
        F.when(F.col("_o_key").isNull(), "I")
        .when(F.col("_n_key").isNull(), "D")
        .when(~same, "U")
    )
    return (
        j.withColumn(op_col, op)
        .filter(F.col(op_col).isNotNull())
        .select(
            F.coalesce(F.col("_n_key"), F.col("_o_key")).alias(key),
            F.col(op_col),
            F.lit(seq).alias(seq_col),
            *[
                F.coalesce(F.col(f"_n_{c}"), F.col(f"_o_{c}")).alias(c)
                for c in payload
            ],
        )
    )


def compact_small_files(
    spark, path: str, target_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-file compaction (the lakehouse OPTIMIZE kernel): size the
    output file count from the actual on-disk bytes so each rewritten file
    lands near ``target_bytes``, then atomically swap via a staged rewrite.
    Returns the new file count.

    Small files are the classic death-by-metadata failure at 100 TB (driver
    listing, scan task explosion, row-group fragmentation); a periodic
    compaction pass bounds file count by data volume. The rewrite is one
    coalesce — no shuffle — so it only merges, never redistributes."""
    import glob
    import os
    import shutil

    files = glob.glob(os.path.join(path, "*.parquet"))
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_bytes))
    if n_out >= len(files):
        return len(files)
    df = spark.read.parquet(path)
    staged = path.rstrip("/") + "._compact"
    old = path.rstrip("/") + "._old"
    # Crash-safe swap: each step is an atomic rename, so no window exists
    # where the dataset is gone — a crash between the renames leaves the
    # data intact under ._old (recoverable), never deleted. A failed staged
    # write cleans up after itself.
    try:
        df.coalesce(n_out).write.mode("overwrite").parquet(staged)
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old)
    return len(glob.glob(os.path.join(path, "*.parquet")))
