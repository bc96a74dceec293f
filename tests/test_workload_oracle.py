"""Every registered query with an oracle must match it at sf0.01 —
the same gate the driver applies (CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import contextlib
import importlib.util
import os
import sys

import pytest

from project_graphdb_spark import workload
from tests.oracle_util import compare, duckdb_con, lint_oracle_types

workload._ensure_loaded()
NAMES = sorted(workload.oracle_sql())


@pytest.fixture(scope="module")
def con(oracle_sf_dir):
    con = duckdb_con(oracle_sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(name, spark, oracle_sf_dir, con):
    qd = workload.REGISTRY[name]
    df = qd.fn(spark, oracle_sf_dir)
    problems = compare(df, con, qd.oracle)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_oracle_output_types_have_spark_twins(oracle_sf_dir):
    """Bind-time lint (no execution): no oracle may emit HUGEINT/INT128 —
    the driver's value hash is type-sensitive and Spark has no such type,
    so a value-identical answer still hash-mismatches (r7's only red row,
    ``ev_sessionization``). CAST the offending expression AS BIGINT."""
    con = duckdb_con(oracle_sf_dir)
    try:
        bad = {
            name: hits
            for name, sql in workload.oracle_sql().items()
            if (hits := lint_oracle_types(con, sql))
        }
    finally:
        con.close()
    assert not bad, f"driver-hash-hostile oracle output types: {bad}"


def test_all_queries_return_rows(spark, sf_dir):
    """Smoke: every registered query runs at sf0.001, has a schema,
    and emits NO raw decimal output columns — Spark DECIMAL surfaces
    as ``decimal.Decimal`` in pandas while DuckDB DECIMAL converts to
    float64, so a decimal output would hash-skew at the driver even
    when values match (the HUGEINT bug's sibling; cast to double)."""
    for name, fn in workload.queries().items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        decs = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if "decimal" in f.dataType.simpleString()
        ]
        assert not decs, f"{name} emits raw decimal columns: {decs}"
        df.count()  # executes without error


def test_window_priority_names_exist():
    """Every _WINDOW_PRIORITY name must be a registered query — the
    reorder silently skips unknown names, so a typo would quietly
    drop a query out of the driver's 50-entry correctness window."""
    unknown = [
        n for n in workload._WINDOW_PRIORITY if n not in workload.REGISTRY
    ]
    assert not unknown, f"window priority names not in registry: {unknown}"
    assert len(workload._WINDOW_PRIORITY) <= 50, (
        "window priority exceeds the driver's 50-query sample"
    )


@contextlib.contextmanager
def _scale_bench():
    """tools/run_scale_bench.py, loaded by path (it imports at module
    scope only stdlib + the repo package)."""
    path = os.path.join(
        os.path.dirname(__file__), "..", "tools", "run_scale_bench.py"
    )
    spec = importlib.util.spec_from_file_location("_rsb_gate", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["_rsb_gate"] = mod
    try:
        spec.loader.exec_module(mod)
        yield mod
    finally:
        sys.modules.pop("_rsb_gate", None)


def test_scale_stack_names_exist():
    """Every tools/run_scale_bench.py stack/exclusion name must be a
    registered query — the sweep resolves them with REGISTRY[n] at
    startup, so a typo (or a renamed query) would crash the per-round
    scale artifact run instead of failing loudly here."""
    with _scale_bench() as mod:
        groups = ("EXTRA_STACK", "ITERATIVE", "EXCLUDED", "BIG_SF_EXCLUDED")
        for group in groups:
            names = getattr(mod, group)
            unknown = [n for n in names if n not in workload.REGISTRY]
            assert not unknown, f"{group} names not in registry: {unknown}"


def test_scale_sweep_row_records_cold_pass_and_supersteps(
    spark, oracle_sf_dir
):
    """A sweep row carries the cold pass's time and shuffle bytes and
    the timed pass's per-superstep times."""
    from project_graphdb_spark.graph.algorithms import release_edge_layouts

    try:
        with _scale_bench() as mod:
            kcore = mod.measure(spark, oracle_sf_dir, "galg_kcore_3")
            hll = mod.measure(
                spark, oracle_sf_dir, "ev_daily_active_users_hll"
            )
    finally:
        release_edge_layouts(spark)
    assert kcore["iter_secs"]["k_core"]
    assert hll["shuffle_write_bytes"] > 0
    assert hll["stages"] > 0
    for rec in (kcore, hll):
        assert rec["cold_sec"] > 0 and rec["sec"] > 0 and rec["rows"] > 0


def test_workload_md_in_lockstep():
    """WORKLOAD.md is generated from the registry; a registry change
    without `python tools/gen_workload_md.py` is doc drift — regenerate
    and commit the result."""
    import os
    import re

    path = os.path.join(os.path.dirname(__file__), "..", "WORKLOAD.md")
    with open(path) as f:
        rows = re.findall(r"^\| `([a-z0-9_]+)` \|", f.read(), re.M)
    assert sorted(rows) == sorted(workload.queries()), (
        "WORKLOAD.md is stale — run: python tools/gen_workload_md.py"
    )
