"""CSV source (SURVEY.md §2.1 C4 + F5): the reference's per-line reader
(data_seoul_2_csv_noopenapi.py:81-87,113-128) as a declarative scan.

All columns are read as strings, mirroring the reference's strings-only model
(§1.2); typed casts are applied explicitly from the catalog's declared types
(plans/schema_from_catalog.py) — the engine-side version of "the DB coerces
on INSERT".

Engine shape: the schema comes from the catalog's column rows, so the scan
launches no header-inference job; the rows are numbered in file order by
``operators.ingest.numbered_in_file_order`` (one per-block count job, then a
map-side projection), which also returns the row count, so the load needs no
separate count. The staging plan reads the CSV once, with no shuffle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.ingest import numbered_in_file_order, resume_filter
from ..plans.schema_from_catalog import spark_type_for


def load_csv_with_catalog_schema(
    spark: SparkSession,
    path: str,
    column_names: list[str],
    column_types: list[str] | None = None,
    start_idx: int = 0,
) -> tuple[DataFrame, int]:
    """The full reference load semantics as one lazy plan:
    scan → S4 row-number (file order) → F6 resume filter → J3 positional
    bind → explicit type coercion. Returns the typed staging DataFrame with
    the leading 1-based ``ID`` column (data_seoul_2_csv_noopenapi.py:103) and
    the number of data rows in the file, before the resume filter.

    J3 binds by position: the scan's schema is the catalog's names, all
    strings, and the header line is skipped, not read. ``FAILFAST`` makes a
    row with more or fewer fields than the catalog has columns raise when the
    frame runs, instead of being truncated or null-filled (SURVEY §7.4.3)."""
    schema = T.StructType([T.StructField(c, T.StringType()) for c in column_names])
    raw = spark.read.csv(path, schema=schema, header=True, mode="FAILFAST")
    out, total = numbered_in_file_order(raw)
    out = resume_filter(out, start_idx).select("ID", *column_names)
    if column_types:
        for name, ctype in zip(column_names, column_types):
            out = out.withColumn(name, F.col(name).cast(spark_type_for(ctype)))
    return out, total


def read_csv_quarantined(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """C4 with malformed-row quarantine: PERMISSIVE CSV parse against a
    declared schema, split into (clean, quarantine). A row that fails the
    schema (wrong arity, uncastable value) lands in the quarantine frame
    with its raw text preserved in ``_corrupt_record`` for replay after the
    upstream fix — the CSV analogue of q_dq.py's JSON bad-record routing,
    and the contract a 100 TB ingest needs: one malformed line must never
    kill a load (FAILFAST) or silently vanish (DROPMALFORMED).

    Both frames come from ONE scan plan; the split is a filter on the
    corrupt-record column, so Spark reads the file once per action. The
    returned clean frame drops the bookkeeping column."""
    raw = spark.read.csv(
        path,
        header=header,
        schema=schema_ddl + ", _corrupt_record string",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    # Spark requires caching/materializing the parsed frame before
    # referencing the corrupt-record column in a filter (documented
    # from_csv/corrupt-record restriction).
    raw = raw.cache()
    clean = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantine = raw.filter(F.col("_corrupt_record").isNotNull())
    return clean, quarantine
