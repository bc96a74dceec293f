"""Unsplittable-input spread (io.tables._spread_if_unsplittable).

The driver testdata is one parquet file with ONE row group per table, so
scans are single-task no matter the split config; load_table spreads
big-enough single-file tables across defaultParallelism by a
high-cardinality key (optimization guide §2.5). These tests pin the
firing conditions so the spread can never silently regress into either
(a) not firing for the measured-win case, or (b) firing for the cases
measured as losses (small tables, directory inputs — the at-scale
layout).
"""

from __future__ import annotations

import os

import pytest

from project_graphdb_spark.io import tables
from project_graphdb_spark.io.tables import load_table

SF01 = "/root/testdata/sf0.1"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_lineitem_sf01_spreads_to_parallelism(spark):
    df = load_table(spark, SF01, "lineitem")
    assert "REPARTITION_BY_NUM" in _plan(df)
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_small_single_file_tables_do_not_spread(spark):
    # events (100k rows) and orders (150k) measured as losses — below
    # the 200k floor they must scan unspread.
    for name in ("events", "orders", "customer"):
        df = load_table(spark, SF01, name)
        assert "REPARTITION_BY_NUM" not in _plan(df), name


def test_sf001_never_spreads(spark, sf_dir):
    for name in ("lineitem", "orders", "events"):
        df = load_table(spark, sf_dir, name)
        assert "REPARTITION_BY_NUM" not in _plan(df), name


def test_directory_input_is_never_spread(spark, tmp_path, monkeypatch):
    """Directory layouts (every at-scale dataset) must not spread even
    above the row floor — their parallelism comes from the files."""
    out = tmp_path / "lineitem.parquet"
    src = load_table(spark, SF01, "lineitem")
    src.limit(1000).repartition(4).write.parquet(str(out))
    monkeypatch.setattr(tables, "_SPREAD_MIN_ROWS", 1)
    df = load_table(spark, str(tmp_path), "lineitem")
    assert "REPARTITION_BY_NUM" not in _plan(df)


def test_copied_single_file_spreads_above_floor(spark, tmp_path, monkeypatch):
    import shutil

    shutil.copy(
        os.path.join(SF01, "orders.parquet"),
        tmp_path / "orders.parquet",
    )
    monkeypatch.setattr(tables, "_SPREAD_MIN_ROWS", 1)
    df = load_table(spark, str(tmp_path), "orders")
    assert "REPARTITION_BY_NUM" in _plan(df)


def test_min_rows_knob_is_read_per_call(spark, monkeypatch):
    """The row floor binds at call time — raising it after import
    must stop the lineitem spread."""
    monkeypatch.setattr(tables, "_SPREAD_MIN_ROWS", 100_000_000)
    df = load_table(spark, SF01, "lineitem")
    assert "REPARTITION_BY_NUM" not in _plan(df)


def test_caller_spread_key_overrides_default(spark):
    """VERDICT r13 ask #4: a caller that pre-aggregates by its own key
    can name it as the spread key so one exchange serves both."""
    df = load_table(spark, SF01, "lineitem", spread_key="l_partkey")
    plan = _plan(df)
    assert "REPARTITION_BY_NUM" in plan
    assert "hashpartitioning(l_partkey" in plan


def test_filters_still_push_below_the_spread(spark):
    """Predicate pushdown and column pruning must reach the parquet
    scan through the spread exchange."""
    from pyspark.sql import functions as F

    df = (
        load_table(spark, SF01, "lineitem")
        .filter(F.col("l_shipdate") <= "1995-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    # assert the two predicates individually (not one ordered literal —
    # predicate ORDER inside PushedFilters is a Spark implementation
    # detail; ADVICE r13)
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "IsNotNull(l_shipdate)" in pushed
    assert "LessThanOrEqual(l_shipdate" in pushed
    # ReadSchema carries only the needed columns + the spread key
    scan = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in scan


@pytest.fixture(autouse=True)
def _clean_layout_memo():
    yield
    # tmp_path entries are unique per test; keep the memo from growing
    # across the suite anyway
    tables._LAYOUT_MEMO.clear()


def test_layout_memo_replaces_a_rewritten_files_entry(tmp_path):
    """A rewritten file gets its new footer read, and the memo keeps
    one entry per path rather than one per version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    for version, rows in enumerate((10, 25, 40)):
        pq.write_table(pa.table({"k": list(range(rows))}), path)
        # distinct mtimes even on a coarse-grained filesystem clock
        os.utime(path, ns=(version * 10**9, version * 10**9))
        assert tables._single_file_layout(path) == (1, rows)
        assert tables._single_file_layout(path) == (1, rows)  # memo hit
        assert list(tables._LAYOUT_MEMO) == [path]


def test_non_parquet_file_has_no_layout(tmp_path):
    """A file that is not parquet (garbage or 0 bytes) reads as no
    layout, so it is never spread, and leaves one memo entry."""
    for i, payload in enumerate((b"not a parquet footer", b"")):
        path = tmp_path / f"x{i}.parquet"
        path.write_bytes(payload)
        assert tables._single_file_layout(str(path)) is None
        assert list(tables._LAYOUT_MEMO) == [str(path)]
        tables._LAYOUT_MEMO.clear()
