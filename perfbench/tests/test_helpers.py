"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import inputs, measure  # noqa: E402
from perfbench.tracing import Span, Tracer, covered_seconds, self_time  # noqa: E402

# ---------------------------------------------------------------------------
# tail percentile rule
# ---------------------------------------------------------------------------


def test_tail_leaves_at_least_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    p, v = measure.tail_percentile(xs)
    assert (p, v) == (90, 90.0)  # rank 90, ten samples (91..100) beyond
    assert sum(x > v for x in xs) == 10


def test_tail_is_the_highest_such_percentile():
    for n in (20, 24, 48, 73, 200, 1000):
        xs = list(range(n))
        p, v = measure.tail_percentile(xs)
        assert sum(x > v for x in xs) >= 10
        if p < 99:  # one percentile higher would leave fewer than ten
            rank = -(-(p + 1) * n // 100)
            assert n - rank < 10


def test_tail_order_insensitive_and_none_when_too_few():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
    assert measure.tail_percentile(xs) == measure.tail_percentile(sorted(xs))
    assert measure.tail_percentile(list(range(10))) is None


def test_trend_sign():
    assert measure.trend_per_pass([10.0]) is None
    assert measure.trend_per_pass([12.0, 11.0, 10.0]) < 0
    assert measure.trend_per_pass([10.0, 10.0, 10.0]) == 0
    assert measure.trend_per_pass([10.0, 10.5, 11.0]) > 0


# ---------------------------------------------------------------------------
# /proc tree CPU sum
# ---------------------------------------------------------------------------


def _stat(pid, comm, ppid, utime, stime, cutime, cstime, rss):
    rest = [ppid, 0, 0, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime,
            20, 0, 1, 0, 100, 4096, rss]
    return f"{pid} ({comm}) S " + " ".join(str(x) for x in rest) + "\n"


@pytest.fixture
def fake_proc(tmp_path):
    procs = [
        # pid, comm, ppid, utime, stime, cutime, cstime, rss pages
        (10, "python3", 1, 100, 50, 0, 0, 1000),  # the driver
        (11, "java", 10, 400, 100, 0, 0, 5000),  # the JVM it launched
        (12, "python3.11", 11, 30, 10, 200, 60, 300),  # worker daemon + reaped workers
        (13, "python3.11", 12, 5, 5, 0, 0, 200),  # a live worker
        (20, "other (x) y", 1, 999, 999, 0, 0, 9999),  # outside the tree
    ]
    for p in procs:
        d = tmp_path / str(p[0])
        d.mkdir()
        (d / "stat").write_text(_stat(*p))
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_tree_cpu_sums_live_processes_and_reaped_children(fake_proc):
    ticks = (150) + (500) + (30 + 10 + 200 + 60) + (10)
    assert measure.tree_cpu_seconds(10, fake_proc) == pytest.approx(ticks / measure.CLK_TCK)
    assert measure.tree_cpu_seconds(12, fake_proc) == pytest.approx(310 / measure.CLK_TCK)


def test_pyworker_cpu_is_python_below_java(fake_proc):
    assert measure.pyworker_cpu_seconds(10, fake_proc) == pytest.approx(310 / measure.CLK_TCK)


def test_comm_with_spaces_and_parens_parses(fake_proc):
    assert measure.read_stat(20, fake_proc) == (1, "other (x) y", 1998, 9999)
    assert measure.read_stat(99, fake_proc) is None


def test_cpu_ticks_reads_steal_and_total(fake_proc):
    with open(os.path.join(fake_proc, "stat"), "w") as fh:
        fh.write("cpu  100 1 20 300 4 0 5 70 0 0\ncpu0 1 2 3 4 5 6 7 8 9 10\n")
    assert measure.cpu_ticks(fake_proc) == (70, 500)
    steal, total = measure.cpu_ticks()
    assert 0 <= steal <= total


def test_tree_rss(fake_proc):
    assert measure.tree_rss_bytes(10, fake_proc) == 6500 * measure.PAGE_SIZE


def test_real_child_cpu_is_counted_after_it_exits():
    before = measure.tree_cpu_seconds(os.getpid())
    subprocess.run(
        [sys.executable, "-c", "import time\nt=time.process_time()\n"
         "while time.process_time() - t < 0.3: pass"],
        check=True, timeout=60,
    )
    assert measure.tree_cpu_seconds(os.getpid()) - before >= 0.25


# ---------------------------------------------------------------------------
# span self time
# ---------------------------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("op", 0.0, 10.0, None, "a"),
        Span("build", 1.0, 4.0, 0, "a"),
        Span("load", 2.0, 3.0, 1, "a"),  # grandchild: not subtracted from op
        Span("exec", 3.5, 6.0, 0, "a"),  # overlaps build by 0.5
        Span("late", 9.0, 12.0, 0, "a"),  # runs past the parent: clipped
    ]
    assert self_time(spans, 0) == pytest.approx(10 - (5.0 + 1.0))
    assert self_time(spans, 1) == pytest.approx(3 - 1)
    assert self_time(spans, 2) == pytest.approx(1)


def test_covered_seconds_clips_and_merges():
    assert covered_seconds([], 0, 5) == 0
    assert covered_seconds([(1, 2), (1.5, 3), (4, 9)], 0, 5) == pytest.approx(3)
    assert covered_seconds([(6, 7)], 0, 5) == 0


def test_tracer_records_parent_and_op_id_and_restores_wrapped():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    t = Tracer(enabled=True)
    orig = Mod.f
    t.wrap(Mod, "f", "inner")
    with t.span("op", op_id="p1:q"):
        assert Mod.f(1) == 2
    t.unwrap_all()
    assert Mod.f is orig
    assert [(s.name, s.parent, s.op_id) for s in t.spans] == [("op", None, "p1:q"), ("inner", 0, "p1:q")]
    t.wrap(Mod, "f", "inner")
    t.enabled = False  # wrapped, then switched off: nothing is recorded
    assert Mod.f(1) == 2 and len(t.spans) == 2
    t.unwrap_all()
    off = Tracer(enabled=False)
    off.wrap(Mod, "f", "inner")
    with off.span("op", op_id="x"):
        Mod.f(1)
    assert Mod.f is orig and off.spans == []


# ---------------------------------------------------------------------------
# generator determinism
# ---------------------------------------------------------------------------


def _same_dirs(a, b):
    cmp = filecmp.dircmp(a, b)
    assert not cmp.left_only and not cmp.right_only
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors


def test_ingest_fixture_is_deterministic_in_seed(tmp_path):
    a = inputs.ingest_fixture(str(tmp_path / "a"), seed=5)
    b = inputs.ingest_fixture(str(tmp_path / "b"), seed=5)
    c = inputs.ingest_fixture(str(tmp_path / "c"), seed=6)
    assert _same_dirs(tmp_path / "a", tmp_path / "b")
    strip = lambda fx: (fx.catalog_rows, fx.ptable_rows, fx.pcolumn_rows, fx.pages,  # noqa: E731
                        fx.expected_categories, fx.csv_bytes,
                        [(d.id, d.rows, d.start_idx, d.columns, d.int_sum) for d in fx.datasets])
    assert strip(a) == strip(b)
    assert strip(a) != strip(c)
    # the shape does not depend on the seed
    assert [d.rows for d in a.datasets] == [d.rows for d in c.datasets]


def test_ingest_fixture_expectations_match_its_files(tmp_path):
    fx = inputs.ingest_fixture(str(tmp_path), seed=9)
    kinds = set()
    for d in fx.datasets:
        with open(d.csv_path, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        assert len(lines) == d.rows + 1  # header
        assert all(len(line.split(",")) == len(d.columns) for line in lines)
        assert d.int_sum == sum(int(line.split(",")[1]) for line in lines[1 + d.start_idx:])
        kinds.add("start" if d.start_idx == 0 else "past_end" if d.start_idx > d.rows else "mid")
    assert kinds == {"start", "mid", "past_end"}


def test_tables_are_deterministic_in_seed():
    a = inputs.make_tables(0.001, 3)
    b = inputs.make_tables(0.001, 3)
    c = inputs.make_tables(0.001, 4)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    keys = list(zip(a["lineitem"]["l_orderkey"].to_pylist(), a["lineitem"]["l_linenumber"].to_pylist()))
    assert len(keys) == len(set(keys))  # (l_orderkey, l_linenumber) is a key
