"""MERGE upsert/delete and CDC-apply operators
(sources/writers.py — the Delta/Iceberg-style mutation surface expressed
over immutable parquet frames)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seoul_big_data_spark.sources.writers import merge_upsert


@pytest.fixture
def target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", -500.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k int, name string, bal double",
    )


def test_merge_upsert_update_insert_delete(spark, target):
    source = spark.createDataFrame(
        [(2, "b2", -450.0),  # matched + delete condition (negative balance)
         (3, "c2", 99.0),    # matched → update
         (9, "new", 1.0)],   # not matched → insert
        "k int, name string, bal double",
    )
    out = merge_upsert(
        target, source, "k", delete_condition=F.col("_src_bal") < 0
    )
    got = {r["k"]: (r["name"], r["bal"]) for r in out.collect()}
    assert got == {
        1: ("a", 10.0),      # untouched
        3: ("c2", 99.0),     # updated
        4: ("d", 40.0),      # untouched
        9: ("new", 1.0),     # inserted
    }                        # 2 deleted


def test_merge_upsert_null_delete_condition_updates_not_deletes(spark, target):
    """SQL MERGE: a NULL delete predicate is NOT satisfied → the matched row
    is updated, not silently dropped (regression: NULL propagated through the
    filter and deleted the row)."""
    tgt = target.unionByName(
        spark.createDataFrame([(5, "e", None)], "k int, name string, bal double")
    )
    source = spark.createDataFrame(
        [(5, "e2", None)], "k int, name string, bal double"
    )
    out = merge_upsert(tgt, source, "k", delete_condition=F.col("_src_bal") < 0)
    row = out.filter(F.col("k") == 5).collect()
    assert len(row) == 1 and row[0]["name"] == "e2" and row[0]["bal"] is None


def test_merge_upsert_schema_mismatch_raises(spark, target):
    bad = target.select("k", "name")
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(target, bad, "k")


def test_merge_upsert_null_update_value_wins(spark, target):
    """MERGE semantics: source row wins wholesale, even with nulls —
    unlike merge_update's per-column coalesce."""
    source = spark.createDataFrame(
        [(1, None, 11.0)], "k int, name string, bal double"
    )
    out = merge_upsert(target, source, "k")
    row = out.filter(F.col("k") == 1).first()
    assert row["name"] is None and row["bal"] == 11.0


def _dim(spark, rows):
    return (
        spark.createDataFrame(
            rows,
            "k int, name string, valid_from string, valid_to string,"
            " is_current boolean",
        )
        .withColumn("valid_from", F.col("valid_from").cast("timestamp"))
        .withColumn("valid_to", F.col("valid_to").cast("timestamp"))
    )


def test_cdc_apply_latest_op_wins(spark):
    from seoul_big_data_spark.sources.writers import cdc_apply

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    changes = spark.createDataFrame(
        [
            (1, "a1", "U", 1), (1, "a2", "U", 2),   # latest U wins
            (2, None, "D", 1), (2, "b2", "U", 2),   # U after D → row survives
            (3, None, "D", 5),                        # plain delete
            (9, "i9", "I", 1),                        # insert new key
            (10, None, "D", 1),                       # delete of absent key: no-op
        ],
        "k int, v string, op string, seq int",
    )
    out = {r["k"]: r["v"] for r in cdc_apply(target, changes, "k").collect()}
    assert out == {1: "a2", 2: "b2", 9: "i9"}


def test_cdc_apply_equal_seq_tiebreak_deterministic(spark):
    from seoul_big_data_spark.sources.writers import cdc_apply

    target = spark.createDataFrame([(1, "a")], "k int, v string")
    changes = spark.createDataFrame(
        [(1, None, "D", 7), (1, "u", "U", 7)], "k int, v string, op string, seq int"
    )
    # documented tie-break: op descending → 'U' beats 'D' on equal seq
    out = cdc_apply(target, changes, "k").collect()
    assert len(out) == 1 and out[0]["v"] == "u"


def test_merge_upsert_property_random(spark):
    """Property: merge_upsert == the dict-semantics oracle (source row wins
    on match, inserts on miss, delete_condition removes matched rows; null
    payloads must not resurrect target values) over randomized frames."""
    import random

    rng = random.Random(7)
    for trial in range(4):
        tgt_rows = [
            (k, rng.choice(["a", "b", None]), rng.randint(0, 9))
            for k in rng.sample(range(20), 12)
        ]
        src_rows = [
            (k, rng.choice(["x", None]), rng.randint(10, 19))
            for k in rng.sample(range(25), 10)
        ]
        t = spark.createDataFrame(tgt_rows, "k long, v string, n long")
        s = spark.createDataFrame(src_rows, "k long, v string, n long")
        delete_on_n_19 = F.col("_src_n") == 19
        got = sorted(
            map(
                tuple,
                merge_upsert(t, s, "k", delete_condition=delete_on_n_19)
                .collect(),
            )
        )
        tgt = {k: (v, n) for k, v, n in tgt_rows}
        src = {k: (v, n) for k, v, n in src_rows}
        oracle = {}
        for k, pay in tgt.items():
            if k in src:
                if src[k][1] == 19:
                    continue  # matched + delete condition
                oracle[k] = src[k]  # source wins wholesale (incl. nulls)
            else:
                oracle[k] = pay
        for k, pay in src.items():
            if k not in tgt:
                oracle[k] = pay  # insert (delete applies to matched only)
        want = sorted((k, v, n) for k, (v, n) in oracle.items())
        assert got == want, f"trial {trial}"


def test_cdc_apply_property_random(spark):
    """Property: cdc_apply == replaying the change feed in (seq, op desc)
    order into a dict — highest seq wins per key, 'U' beats 'D' beats 'I'
    on equal seq, 'D' removes, untouched keys pass through."""
    import random

    from seoul_big_data_spark.sources.writers import cdc_apply

    rng = random.Random(11)
    for trial in range(4):
        tgt_rows = [(k, f"t{k}") for k in rng.sample(range(15), 8)]
        ch_rows = [
            (
                rng.randint(0, 19),
                rng.choice(["I", "U", "D"]),
                rng.randint(1, 5),
                f"c{i}",
            )
            for i in range(14)
        ]
        t = spark.createDataFrame(tgt_rows, "k long, v string")
        c = spark.createDataFrame(ch_rows, "k long, op string, seq long, v string")
        got = sorted(map(tuple, cdc_apply(t, c, "k").collect()))
        latest = {}
        for k, op, seq, v in ch_rows:
            cur = latest.get(k)
            # same total order as the operator: seq desc, op desc
            if cur is None or (seq, op) > (cur[0], cur[1]):
                latest[k] = (seq, op, v)
        state = dict(tgt_rows)
        for k, (seq, op, v) in latest.items():
            if op == "D":
                state.pop(k, None)
            else:
                state[k] = v
        want = sorted(state.items())
        assert got == want, f"trial {trial}"
