"""Parquet table loaders for the driver-generated test tables.

Replaces the reference's JDBC catalog scans (C1-C3,
``data_seoul_1_category.py:41-47``) with declarative ``spark.read`` — filters
and projections written against these DataFrames push down into the parquet
scan (row-group skipping + column pruning), which is the scalable analogue of
the reference writing its WHERE clause into the SQL string by hand.

Schemas are data here too, as in the reference's column registry
``MANAGE_PHYSICAL_COLUMN``: ``load`` infers a table's schema once, keeps the
``StructType`` in ``_SCHEMAS`` under the table's real path, and hands it to
every later read as ``spark.read.schema(s).parquet(path)``. Inference is a
Spark job on the driver thread (a parallel footer merge); a read with a given
schema launches none, so a warm ``load`` runs no job. An entry also holds the
path's signature — inode, size and mtime of the file, or of each file under a
directory — and a rewritten table no longer matches it, so the next ``load``
infers again and never reads new files under a stale schema. A path that
``os.stat`` cannot see (a remote URI) is inferred on every load.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# real path -> (signature, schema inferred from the files with that signature).
# Entries are replaced whole, so two racing loads of one path at worst both
# infer. The signature is taken before inferring: a rewrite in between leaves
# an entry whose signature is older than its schema, which the next load
# re-infers.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _stamp(st: os.stat_result) -> tuple[int, int, int]:
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _signature(path: str) -> tuple:
    """The stamp of a file, or the sorted (name, stamp) of every file under a
    directory: any rewrite of the table changes it."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return _stamp(st)
    files = []
    for root, _, names in os.walk(path):
        for n in names:
            f = os.path.join(root, n)
            files.append((os.path.relpath(f, path), _stamp(os.stat(f))))
    return tuple(sorted(files))


def _read(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """``spark.read.parquet(path)`` and its schema, inferring the schema only
    when the files at ``path`` are not the ones it was last inferred from."""
    key = os.path.realpath(path)
    try:
        sig = _signature(key)
    except OSError:
        df = spark.read.parquet(path)
        return df, df.schema
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == sig:
        return spark.read.schema(hit[1]).parquet(path), hit[1]
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (sig, df.schema)
    return df, df.schema


def load(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one test table as a DataFrame (lazy parquet scan).

    ``events.ts`` has shipped as either parquet TIMESTAMP(NANOS) (read as
    raw nanos via ``nanosAsLong`` and converted) or TIMESTAMP(MICROS)
    (read natively as TIMESTAMP_NTZ); both normalize to the session-zone
    microsecond timestamp — the engine's canonical event-time type
    (sub-microsecond precision is below every window/session granularity
    used here, and the session zone is pinned UTC so NTZ→LTZ is
    value-identity).
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df, schema = _read(spark, os.path.join(sf_dir, "events.parquet"))
        ts_type = schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # integral division: a double quotient loses the microseconds
            ts = F.timestamp_micros(F.expr("ts div 1000"))
        else:
            ts = F.col("ts").cast("timestamp")
        return df.withColumn("ts", ts)
    return _read(spark, os.path.join(sf_dir, f"{name}.parquet"))[0]


def load_all(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    """Load every test table; also registers each as a temp view so the SQL
    API can be used interchangeably with the DataFrame API."""
    out = {}
    for name in TABLES:
        df = load(spark, name, sf_dir)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
