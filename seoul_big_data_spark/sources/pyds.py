"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API).

The reference pulls rows from systems Spark has no built-in connector for
(a Tibero RDBMS over jaydebeapi, a rate-limited OpenAPI —
data_seoul_3_csv.py:69-89). The modern PySpark answer is the Python Data
Source API: implement ``DataSource``/``DataSourceReader`` once, register
it, and ``spark.read.format("...")`` plans it like any native source —
partition-parallel, executor-side, no driver loop.

``SyntheticSensorDataSource`` is the engine's reference implementation:
a deterministic generator (md5-keyed values, so any engine can recompute
the exact rows — the oracle does) that demonstrates the full surface:
options, schema declaration, partition planning (``partitions()`` →
one task per ``InputPartition``) and per-partition iteration. Swap the
generator body for an HTTP/JDBC fetch and the partition list for key
ranges to get the reference's collectors as first-class Spark sources.
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


class SyntheticSensorDataSource(DataSource):
    """Register with ``spark.dataSource.register(SyntheticSensorDataSource)``
    then ``spark.read.format("synthetic_sensors").option("n", 2000)``.

    Options: ``n`` total rows (default 1000), ``partitions`` read
    parallelism (default 8). Rows: (reading_id, sensor_id = id % 10,
    value = md5-uniform in [0, 1))."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_sensors"

    def schema(self) -> str:
        return "reading_id bigint, sensor_id int, value double"

    def reader(self, schema) -> "SyntheticSensorReader":
        return SyntheticSensorReader(self.options)


class SyntheticSensorReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n = int(options.get("n", 1000))
        self.n_parts = max(int(options.get("partitions", 8)), 1)

    def partitions(self):
        # one InputPartition per contiguous id range → one Spark task each;
        # this is the method a real connector uses to expose split points
        # (key ranges, file chunks, topic partitions)
        return [InputPartition(p) for p in range(self.n_parts)]

    def read(self, partition):
        per = self.n // self.n_parts
        start = partition.value * per
        end = self.n if partition.value == self.n_parts - 1 else start + per
        for i in range(start, end):
            u = int(hashlib.md5(f"v:{i}".encode()).hexdigest()[:8], 16) / 2**32
            yield (i, i % 10, u)

