"""Pipeline 2 — resumable CSV load (reference: data_seoul_2_csv_noopenapi.py).

Reference control flow (§3.2): catalog scan (site=1, Y-flag, IN-list) → per
dataset: derive NLDATA_/TMP_ names → latest checkpoint row → open CSV →
ordered column metadata → per-line INSERT with row numbers and resume filter
→ audit UPDATE.

Engine shape: four Spark jobs per dataset, none of which moves data rows
through one task. The checkpoint (a top-1 by ``id``) and the column rows are
one catalog-sized collect each; the load is one lazy plan per dataset
(C4→S4→F6→J3, sources/csv_ingest.py) whose per-block count job also gives the
loaded row count; the audit (C8) is one projection over the checkpoint table
that rewrites the checkpoint's row. Only catalog-sized rows are collected;
data rows never loop in Python."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.csv_ingest import load_csv_with_catalog_schema


@dataclass
class LoadResult:
    staging: DataFrame  # typed rows that were (newly) loaded
    ptable_updated: DataFrame  # audit table with the C8 update applied
    table_name: str
    loaded_rows: int


def staging_table_name(dataset_id: int) -> str:
    """NLDATA_<zero-padded id> (ref: data_seoul_2_csv_noopenapi.py:68)."""
    return f"NLDATA_{str(dataset_id).rjust(6, '0')}"


def select_datasets(catalog: DataFrame, id_list: list[int]) -> DataFrame:
    """F1/F3 — the reference's driving filter
    (data_seoul_2_csv_noopenapi.py:42-46)."""
    return catalog.filter(
        (F.col("collect_site_id") == 1)
        & (F.col("is_collect_yn") == "Y")
        & F.col("id").isin(id_list)
    )


def latest_checkpoint(ptable: DataFrame, dataset_id: int) -> tuple[int, int]:
    """W1/C2 — newest MANAGE_PHYSICAL_TABLE row for the dataset
    (ref: ORDER BY ID DESC + fetchall()[0], data_seoul_2_csv_noopenapi.py:
    74-79). Returns (manage_table_id, start_idx); driver-side single row."""
    row = (
        ptable.filter(F.col("data_basic_id") == dataset_id)
        .orderBy(F.desc("id"))
        .select("id", "start_idx")
        .first()
    )
    if row is None:
        raise ValueError(f"no physical table registered for dataset {dataset_id}")
    return int(row["id"]), int(row["start_idx"])


def ordered_columns(pcolumn: DataFrame, physical_id: int) -> list[tuple[str, str]]:
    """C3 — ordered (name, type) pairs for one physical table
    (ref: data_seoul_2_csv_noopenapi.py:89-96). Catalog-sized collect, sorted
    in Python: a Spark sort would add a sampling job."""
    rows = (
        pcolumn.filter(F.col("data_physical_id") == physical_id)
        .select("physical_column_order", "physical_column_name", "physical_column_type")
        .collect()
    )
    return [(name, ctype) for _, name, ctype in sorted(rows)]


def run(
    spark: SparkSession,
    catalog: DataFrame,
    ptable: DataFrame,
    pcolumn: DataFrame,
    csv_path: str,
    dataset_id: int,
) -> LoadResult:
    """Load one dataset's CSV with resume semantics + audit bookkeeping."""
    physical_id, start_idx = latest_checkpoint(ptable, dataset_id)
    cols = ordered_columns(pcolumn, physical_id)
    staging, total = load_csv_with_catalog_schema(
        spark,
        csv_path,
        column_names=[c for c, _ in cols],
        column_types=[t for _, t in cols],
        start_idx=start_idx,
    )
    loaded = max(0, total - max(0, start_idx))  # rows the resume filter keeps
    # C8 audit: inserted flag, server-side now, cumulative row count
    # (ref: list_total_count seeded with start_idx,
    #  data_seoul_2_csv_noopenapi.py:112,133-140), set on the checkpoint's row.
    audit = {
        "data_inserted_yn": F.lit("Y"),
        "data_insert_date": F.current_timestamp(),
        "data_insert_row": F.lit(start_idx + loaded).cast("long"),
    }
    is_checkpoint = F.col("id") == physical_id
    updated = ptable.select(
        *[
            F.when(is_checkpoint, audit[c]).otherwise(F.col(c)).alias(c)
            if c in audit
            else F.col(c)
            for c in ptable.columns
        ]
    )
    return LoadResult(staging, updated, staging_table_name(dataset_id), loaded)
