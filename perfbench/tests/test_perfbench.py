"""Unit tests for the benchmark's own logic (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sqlite3
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import check, datagen, trace  # noqa: E402


def test_self_time_subtracts_direct_children_only():
    spans = [
        trace.Span("op", 0.0, 10.0),
        trace.Span("compile", 1.0, 4.0, parent=0),
        trace.Span("parse", 1.5, 2.0, parent=1),
        trace.Span("compile", 5.0, 6.0, parent=0),
    ]
    st = trace.self_times(spans)
    assert st["op"] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st["compile"] == pytest.approx((3.0 - 0.5) + 1.0)
    assert st["parse"] == pytest.approx(0.5)
    # self times partition the root span's wall time
    assert sum(st.values()) == pytest.approx(10.0)


def test_tracer_records_nesting_and_restores_patched_functions():
    import types

    mod = types.ModuleType("perfbench_fake_layer")
    mod.inner = lambda: "x"
    mod.outer = lambda: mod.inner() + "y"
    sys.modules[mod.__name__] = mod
    try:
        t = trace.Tracer()
        t.patch(mod.__name__, "inner", "layer.inner")
        t.patch(mod.__name__, "outer", "layer.outer")
        assert mod.outer() == "xy"
        assert [s.name for s in t.spans] == ["layer.outer", "layer.inner"]
        assert t.spans[1].parent == 0 and t.spans[0].parent is None
        t.restore()
        mod.outer()
        assert len(t.spans) == 2  # originals are back: nothing recorded
    finally:
        del sys.modules[mod.__name__]


def test_tracer_closes_span_when_wrapped_call_raises():
    t = trace.Tracer()

    def boom():
        raise ValueError("x")

    with pytest.raises(ValueError):
        t.wrap("boom", boom)()
    assert t.spans[0].end >= t.spans[0].start
    assert t.begin("next") == 1 and t.spans[1].parent is None


def test_wrong_answer_counts_in_failed_frac():
    tally = check.Tally()
    expected = [("BUILDING", 3.0), ("MACHINERY", 5.0)]
    tally.record("q1", *check.same_rows([("MACHINERY", 5), ("BUILDING", 3)], expected))
    tally.record("q2", *check.same_rows([("MACHINERY", 5), ("BUILDING", 4)], expected))
    tally.record("q3", *check.same_rows([("MACHINERY", 5)], expected))
    assert (tally.attempted, tally.failed) == (3, 2)
    assert tally.failed_frac == pytest.approx(2 / 3)
    assert "q2" in tally.errors[0] and "q3" in tally.errors[1]


def test_same_rows_tolerates_float_rounding_not_value_changes():
    import decimal

    assert check.same_rows([(1, decimal.Decimal("2.50"))], [(1.0, 2.5 + 1e-12)])[0]
    assert not check.same_rows([(1, 2.5)], [(1, 2.5001)])[0]
    assert check.same_rows([(None, "a")], [(None, "a")])[0]
    assert not check.same_rows([(None, "a")], [("a", None)])[0]


def test_median():
    assert check.median([3.0, 1.0, 2.0]) == 2.0
    assert check.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    assert check.median([]) == 0.0


def test_generated_inputs_depend_only_on_the_seed():
    a = datagen.make_tables(7, 0.0005)
    b = datagen.make_tables(7, 0.0005)
    c = datagen.make_tables(8, 0.0005)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["orders"].equals(c["orders"])
    years = {d.year for d in a["orders"].column("o_orderdate").to_pylist()}
    assert years <= set(datagen.ORDER_YEARS)


def test_sqlite_fixture_keeps_fks_and_drops_the_composite_lineitem_key(tmp_path):
    from project_graphdb_spark.schema.relational import TPCH_SCHEMA

    tables = datagen.make_tables(3, 0.0005)
    path = str(tmp_path / "src.sqlite")
    datagen.write_sqlite(tables, TPCH_SCHEMA, path)
    con = sqlite3.connect(path)
    try:
        pk = [r[1] for r in con.execute("PRAGMA table_info(lineitem)") if r[5]]
        fks = {r[3] for r in con.execute("PRAGMA foreign_key_list(lineitem)")}
        orders_pk = [r[1] for r in con.execute("PRAGMA table_info(orders)") if r[5]]
        n = con.execute("SELECT COUNT(*) FROM lineitem").fetchone()[0]
    finally:
        con.close()
    assert pk == [] and orders_pk == ["o_orderkey"]
    assert fks == {"l_orderkey", "l_partkey", "l_suppkey"}
    assert n == tables["lineitem"].num_rows
    nodes, edges = check.sqlite_counts(path)
    assert nodes["Customer"] == tables["customer"].num_rows
    assert edges["PLACED_BY"] == tables["orders"].num_rows
