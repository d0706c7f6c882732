"""Fast tests of the benchmark's own logic (no Spark session):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Inputs are made at about sf0.001: a tenth of the sf0.01 TPC-H tables
and a hundredth of the sf0.1 events, documents and embeddings in
``perfbench/data``.
"""

from __future__ import annotations

import filecmp
import os
import sys
from datetime import datetime
from types import SimpleNamespace

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(1, os.path.dirname(os.path.dirname(HERE)))

import etl_inputs  # noqa: E402
import index_inputs  # noqa: E402
from common import Tally, percentile  # noqa: E402
from etl_cycle import _check_cycle, registry  # noqa: E402
from gate import close_rows, same_rows  # noqa: E402
from tracing import Span, Tracer, covered, rolled_up, self_times  # noqa: E402

SMALL = 0.1  # of the sf0.01 tables
SMALL_INDEX = 0.01  # of the sf0.1 tables


def _files(folder):
    return sorted(
        os.path.relpath(os.path.join(r, f), folder)
        for r, _d, fs in os.walk(folder)
        for f in fs
    )


# --- generator --------------------------------------------------------------


def test_etl_generator_is_deterministic(tmp_path):
    a = etl_inputs.generate(registry(), str(tmp_path / "a"), 5, SMALL)
    b = etl_inputs.generate(registry(), str(tmp_path / "b"), 5, SMALL)
    c = etl_inputs.generate(registry(), str(tmp_path / "c"), 6, SMALL)
    assert a == b
    names = _files(tmp_path / "a")
    assert names == _files(tmp_path / "b") and names
    for n in names:
        assert filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False)
    assert a.snapshot_digest != c.snapshot_digest
    # every kind of dirty row and every change kind is present
    kinds = {issue for s in a.summary for _check, issue in s}
    assert {"null_pk", "duplicate_pk", "orphan_fk"} <= kinds
    assert any(k.startswith("negative:") for k in kinds)
    assert {"insert", "update", "delete", "unchanged"} <= set(a.merge_stats[1]["orders"])


def test_index_generator_is_deterministic(tmp_path):
    pa = index_inputs.generate(str(tmp_path / "a"), 5, SMALL_INDEX)
    pb = index_inputs.generate(str(tmp_path / "b"), 5, SMALL_INDEX)
    pc = index_inputs.generate(str(tmp_path / "c"), 6, SMALL_INDEX)
    for t in pa:
        da, db, dc = (pd.read_parquet(p[t]) for p in (pa, pb, pc))
        pd.testing.assert_frame_equal(da, db)
        assert not da.equals(dc)
        assert set(da["slice"]) <= set(range(index_inputs.SLICES))


# --- the pandas model of the checks and the SCD2 merge -------------------------


def test_clean_batch_follows_the_check_rules():
    specs = etl_inputs.table_specs(registry())
    ts = pd.Timestamp("2024-01-01")
    customer = pd.DataFrame(
        {
            "c_custkey": pd.array([1, 1, 2, None, 3], dtype="Int64"),
            "c_name": ["b", "a", "c", "d", "e"],
            "c_nationkey": pd.array([1, 1, 1, 1, 1], dtype="Int64"),
            "c_acctbal": [1.0, 2.0, -3.0, 4.0, 5.0],
            "c_mktsegment": ["x"] * 5,
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": pd.array([10, 11, 12], dtype="Int64"),
            "o_custkey": pd.array([1, 99, None], dtype="Int64"),
            "o_orderstatus": ["F"] * 3,
            "o_totalprice": [1.0, 1.0, 1.0],
            "o_orderdate": [ts] * 3,
            "o_orderpriority": ["1-URGENT"] * 3,
        }
    )
    clean, counts = etl_inputs.clean_batch({"customer": customer, "orders": orders}, specs)
    assert counts == {
        ("customer.primary_key", "null_pk"): 1,
        ("customer.primary_key", "duplicate_pk"): 1,
        ("customer.negative_values", "negative:c_acctbal"): 1,
        ("orders.foreign_key", "orphan_fk"): 1,
    }
    # keep-first orders duplicates by the non-key columns: name "a" wins
    assert list(clean["customer"].sort_values("c_custkey")["c_name"]) == ["a", "c", "e"]
    # a NULL foreign key is kept, an orphan is dropped
    assert sorted(clean["orders"]["o_orderkey"]) == [10, 12]


def test_scd2_diff_classifies_by_key():
    spec = etl_inputs.table_specs(registry())["customer"]
    live = {(1,): ("a", 1, 1.0, "x"), (2,): ("b", 1, 2.0, "x"), (3,): ("c", 1, 3.0, "x")}
    inc = pd.DataFrame(
        {
            "c_custkey": [1, 2, 4],
            "c_name": ["a", "b", "d"],
            "c_nationkey": [1, 1, 1],
            "c_acctbal": [1.0, 2.5, 4.0],
            "c_mktsegment": ["x"] * 3,
        }
    )
    stats, kinds = etl_inputs.scd2_diff(inc, live, spec)
    assert stats == {"unchanged": 1, "update": 1, "insert": 1, "delete": 1}
    assert kinds[(3,)] == "delete" and kinds[(4,)] == "insert"


def test_digest_is_order_insensitive_and_exact():
    rows = [(1, "a", 1.5, datetime(2024, 1, 1), False), (2, None, 0.1, datetime(2024, 1, 2), True)]
    assert etl_inputs.digest(rows) == etl_inputs.digest(rows[::-1])
    bumped = [(1, "a", 1.5000000000000002, datetime(2024, 1, 1), False), rows[1]]
    assert etl_inputs.digest(rows) != etl_inputs.digest(bumped)


# --- tracing -----------------------------------------------------------------


def _span(i, parent, start, end, **counters):
    return Span(i, f"s{i}", "", start, end, parent, "t", counters)


def test_self_time_on_a_synthetic_tree():
    spans = [
        _span(1, None, 0.0, 10.0, jobs=1),
        _span(2, 1, 1.0, 4.0, jobs=2),
        _span(3, 1, 3.0, 6.0, jobs=3),  # overlaps span 2
        _span(4, 3, 3.5, 4.5, jobs=4),
        _span(5, 1, 9.0, 12.0),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)  # [1,6] and [9,10]
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)
    assert covered([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == pytest.approx(3.0)
    up = rolled_up(spans)
    assert up[1]["jobs"] == 10 and up[3]["jobs"] == 7 and up[2]["jobs"] == 2


def test_tracer_children_plus_self_equal_the_wall():
    tr = Tracer("t")

    class Worker:
        def step(self, n):
            for _ in range(n):
                sum(range(2000))

    with tr.patched([(Worker, "step", "worker.step", lambda self, n: str(n))]):
        with tr.span("root"):
            Worker().step(50)
            sum(range(20000))
            Worker().step(80)
    assert "step" in Worker.__dict__ and not hasattr(Worker.step, "__wrapped__")
    root = tr.totals("root")
    kids = tr.totals("worker.step")
    assert kids["calls"] == 2 and tr.totals("worker.step", "80")["calls"] == 1
    assert kids["wall_s"] + root["self_s"] == pytest.approx(root["wall_s"], rel=1e-9)


def test_percentile_interpolates():
    assert percentile([4.0, 1.0, 3.0, 2.0], 50) == pytest.approx(2.5)
    assert percentile(list(map(float, range(11))), 90) == pytest.approx(9.0)


# --- gates -------------------------------------------------------------------


def test_gate_flags_a_planted_wrong_query_result():
    cols = ["doc_a", "doc_b", "jaccard"]
    want = [(1, 2, 0.5), (3, 4, 1 / 3)]
    assert same_rows(cols, list(reversed(want)), cols[::-1], [r[::-1] for r in want])[0]
    planted = [(1, 2, 0.5), (3, 4, 0.3333333333333333 + 1e-16)]
    assert not same_rows(cols, planted, cols, want)[0]
    assert not same_rows(cols, want[:1], cols, want)[0]
    assert not same_rows(["doc_a", "doc_b", "j"], want, cols, want)[0]
    assert close_rows({"k": (3, 1.0 + 1e-12)}, {"k": (3, 1.0)})[0]
    assert not close_rows({"k": (4, 1.0)}, {"k": (3, 1.0)})[0]


def test_gate_flags_a_planted_wrong_merge_count():
    exp = etl_inputs.Expected(
        summary=[{("orders.primary_key", "null_pk"): 2}],
        merge_stats=[{"orders": {"insert": 10}}],
    )
    good = SimpleNamespace(
        violation_summary=[("orders.primary_key", "null_pk", 2)],
        merge_stats={"orders": {"insert": 10}},
    )
    planted = SimpleNamespace(
        violation_summary=good.violation_summary, merge_stats={"orders": {"insert": 9}}
    )
    tally = Tally()
    _check_cycle(tally, good, exp, 0)
    _check_cycle(tally, planted, exp, 0)
    assert (tally.attempted, tally.failed) == (2, 1)
    assert "merge stats" in tally.problems[0]
