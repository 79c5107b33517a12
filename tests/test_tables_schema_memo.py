"""The loader keeps each table's schema as data (``sources/tables.py``): a
second ``load`` launches no Spark job, a rewritten table is inferred again,
``events.ts`` normalizes from the kept schema, and every query module binds
``load`` as ``tables.load`` itself, so perfbench's ``sources.load_*`` layer
counts every load."""

from __future__ import annotations

import datetime as dt
import importlib
import pkgutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

import seoul_big_data_spark as pkg
from seoul_big_data_spark.sources import tables
from seoul_big_data_spark.sources.tables import TABLES, load


@pytest.mark.parametrize("name", TABLES)
def test_second_load_launches_no_job(spark, sf_dir, count_jobs, name):
    first = load(spark, name, sf_dir)
    again, n_jobs = count_jobs(lambda: load(spark, name, sf_dir))
    assert n_jobs == 0
    assert again.schema == first.schema


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load(spark, "region", str(tmp_path)).columns == ["a", "b"]

    pq.write_table(pa.table({"a": [3], "c": [1.5], "d": ["z"]}), path)
    df = load(spark, "region", str(tmp_path))
    assert df.columns == ["a", "c", "d"]
    assert [tuple(r) for r in df.collect()] == [(3, 1.5, "z")]


def test_rewritten_directory_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    spark.createDataFrame([(1, "x")], "a int, b string").write.parquet(path)
    assert load(spark, "nation", str(tmp_path)).columns == ["a", "b"]

    spark.createDataFrame([(2, 7)], "k int, v long").write.mode("overwrite").parquet(path)
    df = load(spark, "nation", str(tmp_path))
    assert df.columns == ["k", "v"]
    assert [tuple(r) for r in df.collect()] == [(2, 7)]


_TS = [dt.datetime(2024, 1, 1, 0, 0, 0, 1), dt.datetime(2024, 3, 9, 12, 30, 5, 250000)]


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_nanos_and_micros_normalize(spark, tmp_path, unit):
    """TIMESTAMP(NANOS) and TIMESTAMP(MICROS) both read as the session-zone
    timestamp with the same values, whether the schema was just inferred or
    taken from the memo."""
    ts = pa.array(_TS, type=pa.timestamp("us")).cast(pa.timestamp(unit))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), str(tmp_path / "events.parquet"))
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type.unit == unit
    for _ in range(2):
        df = load(spark, "events", str(tmp_path))
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        assert [r.ts for r in df.orderBy("event_id").collect()] == _TS


def test_query_modules_bind_tables_load():
    """perfbench wraps ``load`` in each module where ``mod.load is
    tables.load``; a module binding anything else would drop out of the
    ``sources.load_*`` layer."""
    bound = []
    for info in pkgutil.iter_modules(pkg.__path__):
        if info.name.startswith("q_") or info.name == "queries":
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            if hasattr(mod, "load"):
                assert mod.load is tables.load, info.name
                bound.append(info.name)
    assert "queries" in bound and len(bound) > 10, bound
