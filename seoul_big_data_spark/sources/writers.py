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
