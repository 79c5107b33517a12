"""The resumable CSV load's numbering, resume offsets and arity checks
(sources/csv_ingest.py, operators/ingest.py::numbered_in_file_order).

The windowed ``numbered`` (a global ``row_number()`` over
``monotonically_increasing_id()``) is the reference: on one file split into
many blocks the parallel numbering must equal it row for row. Across files
the order is path order, which ``numbered`` does not give (it follows the
partition order, and file bin-packing puts the larger file first)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seoul_big_data_spark.operators.ingest import numbered, numbered_in_file_order
from seoul_big_data_spark.sources.csv_ingest import load_csv_with_catalog_schema

_COLS = ["COL_001", "COL_002", "COL_003"]
_N = 2000


def _write(path, header: str, rows: list[str]) -> str:
    path.write_text("\n".join([header, *rows]) + "\n", encoding="utf-8")
    return str(path)


def _rows(n: int, tag: str = "r") -> list[str]:
    return [f"{tag}{i},{i},2024-01-{i % 28 + 1:02d}" for i in range(1, n + 1)]


def _scan(spark, path: str):
    schema = T.StructType([T.StructField(c, T.StringType()) for c in _COLS])
    return spark.read.csv(path, schema=schema, header=True, mode="FAILFAST")


@pytest.fixture
def small_splits(spark):
    """Splits of 1 KB, one per partition, so a small file spans many blocks."""
    conf = {
        "spark.sql.files.maxPartitionBytes": "1024",
        "spark.sql.files.openCostInBytes": "0",
    }
    for k, v in conf.items():
        spark.conf.set(k, v)
    yield
    for k in conf:
        spark.conf.unset(k)


@pytest.fixture
def big_csv(tmp_path):
    return _write(tmp_path / "big.csv", "name,qty,day", _rows(_N))


def test_file_order_matches_windowed_over_many_splits(spark, small_splits, big_csv):
    raw = _scan(spark, big_csv)
    blocks = raw.select("_metadata.file_block_start").distinct().count()
    assert blocks >= 5
    got, total = numbered_in_file_order(raw)
    assert total == _N
    want = numbered(raw).select("ID", *_COLS).orderBy("ID").collect()
    assert got.select("ID", *_COLS).orderBy("ID").collect() == want
    assert [r["COL_002"] for r in want] == [str(i) for i in range(1, _N + 1)]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_file_order_across_files_is_path_order(spark, tmp_path):
    """A 3-row file sorting first by path gets IDs 1-3, although the
    50-row file is packed into the partition first."""
    d = tmp_path / "dir"
    d.mkdir()
    _write(d / "part-a.csv", "name,qty,day", _rows(3, "a"))
    _write(d / "part-b.csv", "name,qty,day", _rows(50, "b"))
    got, total = numbered_in_file_order(_scan(spark, str(d)))
    assert total == 53
    ids = [(r["ID"], r["COL_001"]) for r in got.orderBy("ID").collect()]
    want = [(i, f"a{i}") for i in range(1, 4)] + [(i + 3, f"b{i}") for i in range(1, 51)]
    assert ids == want


def test_resume_offsets_around_block_boundaries(spark, small_splits, big_csv):
    first_block = (
        _scan(spark, big_csv)
        .groupBy("_metadata.file_block_start")
        .count()
        .orderBy("file_block_start")
        .first()["count"]
    )
    for start in (0, 1, _N // 2, first_block, first_block + 1, _N - 1, _N, _N + 7):
        staging, total = load_csv_with_catalog_schema(
            spark, big_csv, _COLS, ["VARCHAR", "INT", "DATE"], start_idx=start
        )
        assert total == _N
        got = [(r["ID"], r["COL_002"]) for r in staging.orderBy("ID").collect()]
        assert got == [(i, i) for i in range(start + 1, _N + 1)], start


def test_header_only_file_loads_nothing(spark, tmp_path):
    path = _write(tmp_path / "empty.csv", "name,qty,day", [])
    staging, total = load_csv_with_catalog_schema(
        spark, path, _COLS, ["VARCHAR", "NUMBER", "DATE"]
    )
    assert total == 0
    staging.write.parquet(str(tmp_path / "out"))
    assert spark.read.parquet(str(tmp_path / "out")).count() == 0


def test_hangul_header_and_values(spark, tmp_path):
    path = _write(
        tmp_path / "kr.csv", "이름,수량,일자", ["서울역,1,2024-01-01", "강남구,2,2024-01-02"]
    )
    staging, total = load_csv_with_catalog_schema(
        spark, path, _COLS, ["VARCHAR", "INT", "DATE"], start_idx=0
    )
    assert total == 2
    got = [(r["ID"], r["COL_001"], r["COL_002"]) for r in staging.orderBy("ID").collect()]
    assert got == [(1, "서울역", 1), (2, "강남구", 2)]


@pytest.mark.parametrize(
    "header,rows",
    [
        ("a,b,c,d", ["1,2,3,4", "5,6,7,8"]),  # one column more than the catalog
        ("a,b", ["1,2", "3,4"]),  # one column fewer
        ("a,b,c", ["1,2,3", "4,5", "6,7,8"]),  # one ragged row
    ],
    ids=["extra_column", "missing_column", "ragged_row"],
)
def test_arity_mismatch_raises_on_write(spark, tmp_path, header, rows):
    """Positional binding never truncates or null-fills a row."""
    path = _write(tmp_path / "in.csv", header, rows)
    staging, _ = load_csv_with_catalog_schema(spark, path, _COLS)
    with pytest.raises(Exception, match="(?i)malformed"):
        staging.write.parquet(str(tmp_path / "out"))
