"""Pipeline-equivalence tests (SURVEY.md §5.2 layer 2): the reference's three
pipelines re-created on synthetic catalog fixtures (FIXTURES.md §B) —
asserting end-state of staging + audit tables, resume semantics with
start_idx ∈ {0, mid, past-end}, and enrichment idempotency."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from seoul_big_data_spark.pipelines import category_enrich, csv_load, openapi_load
from seoul_big_data_spark.sources.writers import merge_update


@pytest.fixture(scope="module")
def catalog(spark):
    rows = [
        # id, collect_site_id, data_name, data_origin_key, collect_data_type,
        # collect_url_link, is_collect_yn, category_big, category_small
        (23, 1, "ds-openapi", "OaKey23", "OpenAPI", "http://x/23", "Y", None, None),
        (239, 1, "ds-239", "OaKey239", "OpenAPI", "http://x/239", "Y", None, None),
        (240, 1, "ds-240", "OaKey240", "OpenAPI", "http://x/240", "N", None, None),
        (5758, 1, "ds-csv", "CsvKey5758", "CSV", "http://x/5758", "Y", "교통", "버스"),
        (9000, 2, "other-site", "OtherKey", "CSV", "http://y/9000", "Y", None, None),
    ]
    return spark.createDataFrame(
        rows,
        "id long, collect_site_id int, data_name string, data_origin_key string,"
        "collect_data_type string, collect_url_link string, is_collect_yn string,"
        "category_big string, category_small string",
    )


@pytest.fixture(scope="module")
def ptable(spark):
    rows = [
        # id, data_basic_id, start_idx, data_inserted_yn, data_insert_date, data_insert_row
        (1, 5758, 0, "N", None, 0),
        (2, 5758, 3, "N", None, 3),  # newest for 5758 (resume mid-file)
        (3, 23, 0, "N", None, 0),  # openapi dataset, full load
        (4, 239, 99, "N", None, 99),  # past-end checkpoint
    ]
    return spark.createDataFrame(
        rows,
        "id long, data_basic_id long, start_idx long, data_inserted_yn string,"
        "data_insert_date timestamp, data_insert_row long",
    )


@pytest.fixture(scope="module")
def pcolumn(spark):
    rows = []
    for pid in (1, 2, 3, 4):
        rows += [
            (pid * 10 + 1, pid, "이름", "COL_001", "VARCHAR", 1),
            (pid * 10 + 2, pid, "수량", "COL_002", "NUMBER", 2),
            (pid * 10 + 3, pid, "일자", "COL_003", "DATE", 3),
        ]
    return spark.createDataFrame(
        rows,
        "id long, data_physical_id long, logical_column_korean string,"
        "physical_column_name string, physical_column_type string,"
        "physical_column_order int",
    )


@pytest.fixture(scope="module")
def csv_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("seoul") / "TMP_5758.csv"
    lines = ["name,qty,day"] + [
        f"item{i},{i * 10},2024-01-{i:02d}" for i in range(1, 8)
    ]
    p.write_text("\n".join(lines) + "\n")
    return str(p)


# --- pipeline 1: category enrichment ---------------------------------------

_PAGE = """
<html><body><div class="side-detail">
<strong class="side-detail-ctg">\t교통\n</strong>
<span class="side-detail-stitle"><a href="#">버스운행{key}</a></span>
</div></body></html>
"""


def _transport(url: str) -> str:
    return _PAGE.replace("{key}", url.rsplit("/", 1)[-1])


def test_category_enrich_fills_only_pending(spark, catalog):
    out = category_enrich.run(catalog, _transport).cache()
    got = {r["id"]: (r["category_big"], r["category_small"]) for r in out.collect()}
    # pending rows (site=1, null category) got filled
    assert got[23] == ("교통", "버스운행OaKey23")
    assert got[239] == ("교통", "버스운행OaKey239")
    assert got[240] == ("교통", "버스운행OaKey240")
    # already-categorized row untouched
    assert got[5758] == ("교통", "버스")
    # other collect site never fetched
    assert got[9000] == (None, None)


def test_category_enrich_idempotent(spark, catalog):
    once = category_enrich.run(catalog, _transport).cache()
    once.count()

    def exploding_transport(url):
        raise AssertionError(f"re-run fetched {url} despite no pending work")

    # second run finds no pending rows → the transport must never be called,
    # and the catalog is unchanged (J4 anti-join semantics)
    again = category_enrich.run(once, exploding_transport).cache()
    assert again.count() == once.count()
    assert again.exceptAll(once).count() == 0


# --- pipeline 2: resumable CSV load -----------------------------------------


def test_csv_load_resume_mid_file(spark, catalog, ptable, pcolumn, csv_file):
    res = csv_load.run(spark, catalog, ptable, pcolumn, csv_file, 5758)
    rows = res.staging.orderBy("ID").collect()
    # start_idx=3 (newest checkpoint) → rows 4..7 loaded, strictly after
    assert [r["ID"] for r in rows] == [4, 5, 6, 7]
    assert res.loaded_rows == 4
    assert rows[0]["COL_001"] == "item4"
    # NUMBER column was coerced (decimal), DATE column to timestamp
    assert float(rows[0]["COL_002"]) == 40.0
    assert str(rows[0]["COL_003"]).startswith("2024-01-04")
    # audit: cumulative count seeded with start_idx (ref semantics)
    audit = {
        r["id"]: r
        for r in res.ptable_updated.collect()
    }
    assert audit[2]["data_inserted_yn"] == "Y"
    assert audit[2]["data_insert_row"] == 7
    assert audit[2]["data_insert_date"] is not None
    # untouched checkpoint rows keep their values
    assert audit[1]["data_inserted_yn"] == "N"
    assert res.table_name == "NLDATA_005758"


def test_csv_load_full_and_past_end(spark, catalog, ptable, pcolumn, csv_file):
    # start_idx=0 → everything
    res0 = csv_load.run(
        spark, catalog, ptable.filter(F.col("id") == 1), pcolumn, csv_file, 5758
    )
    assert res0.loaded_rows == 7
    # past-end checkpoint → nothing new
    res99 = csv_load.run(
        spark, catalog, ptable.filter(F.col("id") == 4), pcolumn, csv_file, 239
    )
    assert res99.loaded_rows == 0


def test_csv_load_union_property(spark, catalog, ptable, pcolumn, csv_file):
    """load(0..end) == load(0..k) ∪ resume(k) — SURVEY.md §7.4.4 pinned
    semantics (resume strictly after checkpoint; no boundary double-count)."""
    full = csv_load.run(
        spark, catalog, ptable.filter(F.col("id") == 1), pcolumn, csv_file, 5758
    ).staging
    part = csv_load.run(
        spark, catalog, ptable.filter(F.col("id") == 2), pcolumn, csv_file, 5758
    ).staging
    head = full.filter(F.col("ID") <= 3)
    assert head.unionByName(part).count() == full.count()
    assert head.unionByName(part).select("ID").distinct().count() == 7


def test_csv_load_job_and_plan_shape(
    spark, catalog, ptable, pcolumn, csv_file, tmp_path, count_jobs
):
    """Four jobs per load (checkpoint, columns, per-block counts); a staging
    plan without a shuffle and an audit rewrite without a join."""
    read = {}
    for name, df in (("ptable", ptable), ("pcolumn", pcolumn)):
        df.write.parquet(str(tmp_path / name))
        read[name] = spark.read.parquet(str(tmp_path / name))

    def load():
        return csv_load.run(
            spark, catalog, read["ptable"], read["pcolumn"], csv_file, 5758
        )

    res, n_jobs = count_jobs(load)
    assert n_jobs <= 4
    staging_plan = res.staging._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in staging_plan
    audit_plan = res.ptable_updated._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in audit_plan

    def write_audit():
        res.ptable_updated.write.parquet(str(tmp_path / "audit"))

    _, n_jobs = count_jobs(write_audit)
    assert n_jobs <= 1


# --- pipeline 3: OpenAPI-driven load ----------------------------------------

_SPEC_PAGE = """
<html><body>
<p><a href="http://openapi.example/sample/xml/TbPublicWifiInfo/1/5/">sample</a></p>
<div class="tbl-base-s"><table>
<tr><td>공통</td><td>공통설명</td><td>RESULT</td></tr>
<tr><td>1</td><td>설치명</td><td>WIFI_NAME</td></tr>
<tr><td>2</td><td>자치구</td><td>WIFI_GU</td></tr>
<tr><td>3</td><td>주소</td><td>WIFI_ADDR</td></tr>
</table></div>
</body></html>
"""


def test_openapi_schema_derivation(spark, catalog, ptable, pcolumn, csv_file):
    res, table_name, cols = openapi_load.run(
        spark,
        catalog,
        ptable,
        pcolumn,
        csv_file,
        23,
        transport=lambda url: _SPEC_PAGE,
        spec_url_of=lambda ds_id: f"http://x/openapi/{ds_id}",
    )
    assert table_name == "TB_PUBLIC_WIFI_INFO"
    # every 3rd cell, "공통" row skipped → 3 derived columns
    assert cols == ["COL_001", "COL_002", "COL_003"]
    assert res.loaded_rows == 7  # checkpoint id=3, start_idx=0


def test_master_url_branches(spark):
    """Reference semantics (data_seoul_3_csv.py:94-106): on the
    slash-terminated keyed URL, id 239 → rsplit('/',1)[0], id 240 →
    rsplit('/',2)[0], default → rsplit('/',3)[0] — asserted against the
    reference's observable outputs, computed here with rsplit itself."""
    url = "http://openapi.example/sample/xml/TbThing/1/5/"
    slashed = url.replace("/sample/", "/K/")  # already slash-terminated

    # default branch ≡ rsplit('/', 3)[0]
    out = openapi_load.derive_master_url(spark, url, dataset_id=1, auth_key="K")
    assert out == slashed.rsplit("/", 3)[0] == "http://openapi.example/K/xml/TbThing"
    # id=239 ≡ rsplit('/', 1)[0] (trailing empty segment only), train key
    out239 = openapi_load.derive_master_url(
        spark, url, 239, "K", auth_key_train="T"
    )
    assert (
        out239
        == url.replace("/sample/", "/T/").rsplit("/", 1)[0]
        == "http://openapi.example/T/xml/TbThing/1/5"
    )
    # id=240 ≡ rsplit('/', 2)[0]
    out240 = openapi_load.derive_master_url(spark, url, 240, "K")
    assert out240 == slashed.rsplit("/", 2)[0] == "http://openapi.example/K/xml/TbThing/1"


def test_master_url_launches_at_most_one_job(spark, count_jobs):
    url = "http://openapi.example/sample/xml/TbThing/1/5/"

    def derive():
        return openapi_load.derive_master_url(spark, url, dataset_id=1, auth_key="K")

    _, n_jobs = count_jobs(derive)
    assert n_jobs <= 1


# --- merge_update unit ------------------------------------------------------


def test_merge_update_null_updates_keep_old(spark):
    target = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    )
    updates = spark.createDataFrame([(1, None), (2, "B")], "id long, v string")
    got = {r["id"]: r["v"] for r in merge_update(target, updates, "id", ["v"]).collect()}
    assert got == {1: "a", 2: "B"}


def test_extract_paths_agree():
    """bs4 and regex extraction paths must agree on the marker page —
    including missing-field and attribute-bearing-tag variants — so the
    dependency-free fallback is a true drop-in when bs4 is absent."""
    from seoul_big_data_spark.sources.html_fetch import (
        _clean,
        _extract_via_regex,
        extract_categories,
    )

    pages = [
        _PAGE.replace("{key}", "X"),
        "<html><body>no markers here</body></html>",
        '<strong class="side-detail-ctg" id="z">\t문화\n</strong>',
        '<span class="side-detail-stitle">plain text, no anchor</span>',
    ]
    try:
        from seoul_big_data_spark.sources.html_fetch import _extract_via_bs4

        _extract_via_bs4("<p></p>")  # raises ImportError when bs4 absent
        have_bs4 = True
    except ImportError:
        have_bs4 = False
    for page in pages:
        rx = tuple(map(_clean, _extract_via_regex(page)))
        assert extract_categories(page) == (
            tuple(map(_clean, _extract_via_bs4(page))) if have_bs4 else rx
        )
        if have_bs4:  # the two paths themselves must agree
            assert rx == tuple(map(_clean, _extract_via_bs4(page)))
    # regex path pins exact values regardless of which libs are installed
    assert tuple(map(_clean, _extract_via_regex(pages[0]))) == ("교통", "버스운행X")
    assert _extract_via_regex(pages[1]) == (None, None)
    assert tuple(map(_clean, _extract_via_regex(pages[2]))) == ("문화", None)
    assert tuple(map(_clean, _extract_via_regex(pages[3]))) == (
        None,
        "plain text, no anchor",
    )


def test_csv_quarantine_split(spark, tmp_path):
    """PERMISSIVE CSV ingest: malformed rows (bad arity / uncastable types)
    go to quarantine with raw text preserved; clean rows parse typed; no
    row is lost or duplicated."""
    from seoul_big_data_spark.sources.csv_ingest import read_csv_quarantined

    p = tmp_path / "in.csv"
    p.write_text(
        "id,qty,name\n"
        "1,10,alpha\n"
        "2,notanumber,beta\n"
        "3,30,gamma\n"
        "4,40\n"
    )
    clean, quar = read_csv_quarantined(
        spark, str(p), "id int, qty int, name string"
    )
    got_clean = sorted(map(tuple, clean.collect()))
    assert got_clean == [(1, 10, "alpha"), (3, 30, "gamma")]
    # both the uncastable row AND the short-arity row quarantine (Spark's
    # CSV reader treats arity mismatch as malformed), raw text preserved
    quar_raw = sorted(r["_corrupt_record"] for r in quar.collect())
    assert quar_raw == ["2,notanumber,beta", "4,40"]
