"""Tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from check import Deferred, percentile, tail_percentile  # noqa: E402
from run import end_to_end, resolve_deferred, run_op  # noqa: E402
from tracing import Span, self_times, split_op  # noqa: E402
from workloads import Op  # noqa: E402


# ---------------------------------------------------------------- #
# percentile rule                                                    #
# ---------------------------------------------------------------- #

@pytest.mark.parametrize("n, p", [(100, 90), (120, 91), (200, 95),
                                  (1000, 99), (40, 75), (25, 60)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    assert n * (100 - p) / 100 >= 10
    if p < 99:
        assert n * (100 - (p + 1)) / 100 < 10


def test_tail_percentile_falls_back_to_median():
    assert tail_percentile(19) == 50


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == pytest.approx(50.5)
    assert percentile(xs, 90) == pytest.approx(90.1)
    assert percentile([3.0], 90) == 3.0


# ---------------------------------------------------------------- #
# self time                                                          #
# ---------------------------------------------------------------- #

def test_self_time_subtracts_union_of_overlapping_children():
    spans = [
        Span("op", 0.0, 10.0, -1, 0),
        Span("a", 1.0, 4.0, 0, 0),
        Span("b", 3.0, 6.0, 0, 0),  # overlaps a: together they cover 1..6
        Span("c", 5.0, 5.5, 2, 0),  # grandchild: counts against b only
        Span("d", 9.0, 12.0, 0, 0),  # runs past its parent: clipped to 9..10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(0.5)


def test_split_parts_sum_to_wall():
    s = split_op((0.0, 10.0), build=[(0.0, 4.0)],
                 jobs=[(1.0, 2.0), (5.0, 8.0)], phases=[(4.0, 5.0)])
    assert s["execute_s"] == pytest.approx(4.0)
    assert s["plan_s"] == pytest.approx(1.0)
    assert s["build_s"] == pytest.approx(3.0)
    assert s["residual_s"] == pytest.approx(2.0)
    assert s["sum_s"] == pytest.approx(s["wall_s"])
    assert s["build_jobs"] == 1


def test_split_sum_shows_sources_that_double_count():
    # a planning phase measured inside a job: the sum exceeds the wall
    s = split_op((0.0, 10.0), build=[], jobs=[(0.0, 6.0)], phases=[(2.0, 6.0)])
    assert s["plan_s"] == 0.0
    assert s["sum_s"] == pytest.approx(14.0)


# ---------------------------------------------------------------- #
# generator determinism                                              #
# ---------------------------------------------------------------- #

def _read_all(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_same_seed_same_csv_bytes_and_ops(tmp_path, monkeypatch):
    monkeypatch.setitem(gen.REF_ROWS, "table1", 2000)
    gen.write_ref_csvs(7, str(tmp_path / "a"))
    gen.write_ref_csvs(7, str(tmp_path / "b"))
    gen.write_ref_csvs(8, str(tmp_path / "c"))
    a, b, c = (_read_all(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a["table1.csv"] != c["table1.csv"]
    assert b'"' in a["table1.csv"]  # some cells are quoted
    assert gen.ref_queries(7) == gen.ref_queries(7)
    assert gen.ref_queries(7) != gen.ref_queries(8)
    assert len(gen.ref_queries(7)) == len(gen.REF_TEMPLATES) * gen.REF_OPS_PER_TEMPLATE


def test_same_seed_same_tables_and_key_order():
    t1 = gen.engine_tables(3, 0.001, 50, 20)
    t2 = gen.engine_tables(3, 0.001, 50, 20)
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert not t1["lineitem"].equals(gen.engine_tables(4, 0.001, 50, 20)["lineitem"])
    pool = [f"k{i}" for i in range(30)]
    o1, o2, o3 = (gen.seeded_orders(pool, s) for s in (5, 5, 6))
    first = [next(o1), next(o1)]
    assert first == [next(o2), next(o2)]
    assert first[0] != first[1] and sorted(first[0]) == sorted(pool)
    assert next(o3) != first[0]


# ---------------------------------------------------------------- #
# failure counting                                                   #
# ---------------------------------------------------------------- #

def _raise():
    raise RuntimeError("boom")


def test_each_failed_op_counts_once():
    checked = []

    def check_ok(r):
        checked.append(r)

    ops = [
        Op("raises", _raise, check_ok),  # never checked
        Op("mismatch", lambda: 1, lambda r: "checksum differs"),
        Op("check_raises", lambda: 2, lambda r: _raise()),
        Op("ok", lambda: 3, check_ok),
        # decided after the session: one mismatches, one passes
        Op("deferred_mismatch", lambda: 4, lambda r: Deferred("k", "a")),
        Op("deferred_ok", lambda: 5, lambda r: Deferred("k", "b")),
    ]
    recs = [run_op(op, i) for i, op in enumerate(ops)]
    verified = []

    def verify(pending):
        verified.extend(d.path for d in pending)
        return ["checksum differs", None]

    resolve_deferred(recs, verify)
    assert [bool(r["error"]) for r in recs] == [True, True, True, False, True, False]
    assert checked == [3]
    assert verified == ["a", "b"]
    assert recs[0]["error"] == "RuntimeError: boom"
    assert recs[2]["error"].startswith("check raised RuntimeError")
    assert not any("deferred" in r for r in recs)
    m = end_to_end(recs, units=6, timed=1.0, setup_s=1.0, peak_rss=2**20)
    assert m["ok_ratio"][0] == pytest.approx(2 / 6)
