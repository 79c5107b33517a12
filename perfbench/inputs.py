"""Seeded input generators for the benchmark workloads.

``write_tables`` writes the ten analytical tables the query suite reads
(TPC-H-style star schema plus ``events``, ``documents`` and ``embeddings``)
with the same column names and parquet types as the repository's test
tiers. ``ingest_fixture`` builds what the reference's catalog-driven ingest
reads: raw CSV files, the ``DATA_BASIC_INFO`` catalog, the
``MANAGE_PHYSICAL_TABLE`` checkpoint registry, the ``MANAGE_PHYSICAL_COLUMN``
schema rows, and the HTML pages the enrichment and OpenAPI steps scrape.
Both are pure functions of the seed: the same seed gives byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Analytical tables
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["cold", "hot", "small", "large", "new", "old", "red", "blue"]
PART_NOUN = ["widget", "bolt", "gear", "gizmo", "plate", "ring", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400_000_000


def _day_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (lineitem is ~4x orders)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100), n) / 100.0, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (dedup fixtures)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_WEIGHTS).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` as Arrow tables, deterministic in ``seed``."""
    rng = np.random.default_rng([seed, 1])
    n = table_sizes(sf)
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    }
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc).tolist(), pa.string()),
    }
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), pa.float64()),
    }
    npart = n["part"]
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
    ]
    t["part"] = {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()
        ),
        "p_type": pa.array(rng.choice(PART_TYPES, npart).tolist(), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2), pa.float64()
        ),
    }
    no = n["orders"]
    d0, d1 = _day_us("1995-01-01") // _DAY_US, _day_us("2001-08-01") // _DAY_US
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no).tolist(), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no), pa.float64()),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, no) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no).tolist(), pa.string()),
    }
    # 1..7 lines per order; (l_orderkey, l_linenumber) is a key, as in TPC-H.
    per_order = rng.integers(1, 8, no)
    nl = int(per_order.sum())
    okeys = np.repeat(np.arange(no), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenos = np.arange(nl) - starts + 1
    perm = rng.permutation(nl)  # file order is not key order
    s0, s1 = _day_us("1995-01-02") // _DAY_US, _day_us("2001-11-04") // _DAY_US
    t["lineitem"] = {
        "l_orderkey": pa.array(okeys[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenos[perm], pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl).tolist(), pa.string()),
        "l_shipdate": _ts(rng.integers(s0, s1 + 1, nl) * _DAY_US),
    }
    ne = n["events"]
    e0 = _day_us("2024-01-01")
    ts = np.sort(rng.integers(e0, e0 + 30 * _DAY_US, ne))
    t["events"] = {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(1, round(15_000 * sf)), ne), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2), pa.float64()),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()
        ),
    }
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    }
    return {name: pa.table(cols) for name, cols in t.items()}


def write_tables(out_dir: str, sf: float, seed: int) -> int:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns total rows."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        total += table.num_rows
    return total


# ---------------------------------------------------------------------------
# Catalog-driven ingest fixture
# ---------------------------------------------------------------------------

HANGUL = ["서울", "교통", "버스", "정류소", "공원", "도서관", "인구", "환경", "대기", "주차장"]
ASCII_WORDS = ["seoul", "bus", "park", "library", "station", "air", "parking"]
CATEGORIES = [("교통", "버스"), ("환경", "대기"), ("문화", "도서관"), ("인구", "가구"), ("안전", "소방")]


@dataclass
class Dataset:
    """One source file the ingest loads, with what the loader must produce."""

    id: int
    rows: int
    start_idx: int  # newest checkpoint: rows with ID > start_idx are loaded
    physical_id: int
    columns: list[tuple[str, str]]  # ordered (COL_nnn, catalog type)
    csv_path: str
    openapi: bool
    int_sum: int  # sum of COL_002 (INT) over the rows that must load
    service: str = ""  # OpenAPI service name (SNAKE_CASE is the table name)

    @property
    def expected_loaded(self) -> int:
        return max(0, self.rows - self.start_idx)


@dataclass
class IngestFixture:
    datasets: list[Dataset]
    catalog_rows: list[tuple]
    ptable_rows: list[tuple]
    pcolumn_rows: list[tuple]
    pages: dict[str, str]  # url -> html
    expected_categories: dict[int, tuple[str | None, str | None]]
    csv_bytes: int = 0
    spec_urls: dict[int, str] = field(default_factory=dict)
    tables: dict[str, str] = field(default_factory=dict)  # catalog parquet paths


def _column(rng: np.random.Generator, ctype: str, rows: int) -> list[str]:
    """Raw CSV text of one column of a catalog type, ``rows`` values."""
    if ctype == "VARCHAR":
        pool = HANGUL + ASCII_WORDS
        a = rng.integers(0, len(pool), rows)
        b = rng.integers(0, 1000, rows)
        return [f"{pool[i]}{j}" for i, j in zip(a, b)]
    if ctype == "NUMBER":
        return [f"{v / 100:.2f}" for v in rng.integers(-100000, 1000000, rows)]
    if ctype == "DATE":
        days = rng.integers(0, 3650, rows) + np.datetime64("2015-01-01")
        return [str(d) for d in days]
    if ctype == "INT":
        return [str(v) for v in rng.integers(-50000, 50000, rows)]
    return [repr(float(v)) for v in np.round(rng.normal(0, 1000, rows), 3)]


def _spec_page(service: str, n_cols: int) -> str:
    rows = ["<tr><td>공통</td><td>공통설명</td><td>RESULT</td></tr>"]
    rows += [
        f"<tr><td>{i}</td><td>항목{i}</td><td>FIELD_{i}</td></tr>"
        for i in range(1, n_cols + 1)
    ]
    return (
        '<html><body><p><a href="http://openapi.example/sample/xml/'
        f'{service}/1/5/">sample</a></p><table>' + "".join(rows)
        + "</table></body></html>"
    )


def _detail_page(big: str, small: str) -> str:
    return (
        '<html><body><div class="side-detail">'
        f'<strong class="side-detail-ctg">\t{big}\n</strong>'
        f'<span class="side-detail-stitle"><a href="#">{small}</a></span>'
        "</div></body></html>"
    )


DETAIL_BASE = "https://data.example/dataset/"


# Shape of the ingest, the same for every seed: (data rows, column types,
# checkpoint kind, loaded through the OpenAPI pipeline). COL_001 is text and
# COL_002 an INT (checked by sum). The seed picks the dataset ids and the
# values; the types are fixed because parsing cost differs by type, and a
# seed-drawn mix moved an op's time by a fifth from seed to seed. Sizes are
# kept close so that no single dataset is every pass's slowest op by a wide
# margin, and a warm pass stays short enough for three of them per run.
INGEST_SHAPE = [
    (20_000, ["VARCHAR", "INT", "NUMBER", "DATE", "INT", "FLOAT", "VARCHAR",
              "NUMBER", "DATE", "FLOAT", "VARCHAR", "NUMBER"], "start", False),
    (24_000, ["VARCHAR", "INT", "DATE", "NUMBER", "FLOAT", "VARCHAR", "DATE",
              "INT"], "mid", True),
    (8_000, ["VARCHAR", "INT", "FLOAT"], "past_end", False),
]


def ingest_fixture(out_dir: str, seed: int) -> IngestFixture:
    """Write one CSV per dataset of ``INGEST_SHAPE`` under ``out_dir`` and
    return the catalog rows, the scraped pages and the expected outcomes."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    datasets: list[Dataset] = []
    ptable_rows: list[tuple] = []
    pcolumn_rows: list[tuple] = []
    pages: dict[str, str] = {}
    spec_urls: dict[int, str] = {}
    csv_bytes = 0
    pid = 0
    for k, (rows, types, kind, openapi) in enumerate(INGEST_SHAPE):
        ds_id = 1000 + 7 * k + int(rng.integers(0, 7))
        n_cols = len(types)
        names = [f"COL_{i:03d}" for i in range(1, n_cols + 1)]
        cols = [_column(rng, t, rows) for t in types]
        start_idx = {"start": 0, "mid": rows // 2, "past_end": rows + 5}[kind]
        path = os.path.join(out_dir, f"TMP_{ds_id}.csv")
        with open(path, "w", encoding="utf-8", newline="") as fh:
            fh.write(",".join(f"항목{i}" for i in range(1, n_cols + 1)) + "\n")
            fh.writelines(",".join(r) + "\n" for r in zip(*cols))
        csv_bytes += os.path.getsize(path)
        int_sum = sum(int(v) for v in cols[1][start_idx:])
        # an older checkpoint row, then the newest one the loader must pick
        pid += 1
        ptable_rows.append((pid, ds_id, 0, "N", None, 0))
        pid += 1
        ptable_rows.append((pid, ds_id, start_idx, "N", None, start_idx))
        for order, (name, ctype) in enumerate(zip(names, types), start=1):
            pcolumn_rows.append(
                (pid * 100 + order, pid, f"항목{order}", name, ctype, order)
            )
        service = ""
        if openapi:
            service = f"TbSeoul{ds_id}Info"
            url = f"http://openapi.example/spec/{ds_id}"
            spec_urls[ds_id] = url
            pages[url] = _spec_page(service, n_cols)
        datasets.append(
            Dataset(ds_id, rows, start_idx, pid, list(zip(names, types)), path,
                    openapi, int_sum, service)
        )
    # Catalog: the loaded datasets plus rows the drivers' filters must skip.
    catalog_rows: list[tuple] = []
    expected: dict[int, tuple[str | None, str | None]] = {}
    ids = [d.id for d in datasets] + [5000 + i for i in range(20)]
    for i, ds_id in enumerate(ids):
        site = 2 if i % 5 == 4 else 1
        key = f"SeoulKey{ds_id}"
        pre = CATEGORIES[i % len(CATEGORIES)] if i % 4 == 0 else (None, None)
        catalog_rows.append(
            (ds_id, site, f"dataset-{ds_id}", key, "CSV", f"http://x/{ds_id}",
             "Y" if i % 7 else "N", pre[0], pre[1])
        )
        if site == 1 and pre[0] is None:
            big, small = CATEGORIES[int(rng.integers(0, len(CATEGORIES)))]
            small = f"{small}{ds_id}"
            pages[DETAIL_BASE + key] = _detail_page(big, small)
            expected[ds_id] = (big, small)
        else:
            expected[ds_id] = pre
    tables = {}
    for name, records, schema in (
        ("catalog", catalog_rows, CATALOG_SCHEMA),
        ("ptable", ptable_rows, PTABLE_SCHEMA),
        ("pcolumn", pcolumn_rows, PCOLUMN_SCHEMA),
    ):
        tables[name] = os.path.join(out_dir, f"{name}.parquet")
        arrays = [pa.array(c, f.type) for c, f in zip(zip(*records), schema)]
        pq.write_table(pa.table(arrays, schema=schema), tables[name])
    return IngestFixture(datasets, catalog_rows, ptable_rows, pcolumn_rows,
                         pages, expected, csv_bytes, spec_urls, tables)


# The catalog tables as the loader reads them (DATA_BASIC_INFO,
# MANAGE_PHYSICAL_TABLE, MANAGE_PHYSICAL_COLUMN).
CATALOG_SCHEMA = pa.schema([
    ("id", pa.int64()), ("collect_site_id", pa.int32()), ("data_name", pa.string()),
    ("data_origin_key", pa.string()), ("collect_data_type", pa.string()),
    ("collect_url_link", pa.string()), ("is_collect_yn", pa.string()),
    ("category_big", pa.string()), ("category_small", pa.string()),
])
PTABLE_SCHEMA = pa.schema([
    ("id", pa.int64()), ("data_basic_id", pa.int64()), ("start_idx", pa.int64()),
    ("data_inserted_yn", pa.string()), ("data_insert_date", pa.timestamp("us", "UTC")),
    ("data_insert_row", pa.int64()),
])
PCOLUMN_SCHEMA = pa.schema([
    ("id", pa.int64()), ("data_physical_id", pa.int64()),
    ("logical_column_korean", pa.string()), ("physical_column_name", pa.string()),
    ("physical_column_type", pa.string()), ("physical_column_order", pa.int32()),
])
