"""Expected answers and the comparison every operation's output goes
through. Expected values come from DuckDB (registry oracle SQL, or the
per-template SQL below) over the same generated parquet, and from
SQLite SQL over the ETL source file; none of them touches Spark."""

from __future__ import annotations

import decimal
import math
import os
import sqlite3
import statistics

from perfbench.datagen import TABLES


class Tally:
    """Attempted and failed operations. An operation fails when it
    raises or when its output differs from the expected answer."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{what}: {detail}"[:500])

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def duckdb_con(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def query_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    return list(rel.columns), [tuple(r) for r in rel.fetchall()]


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def _sort_key(row: tuple) -> tuple:
    return tuple(
        (0, "") if v is None
        else (1, round(v, 6)) if isinstance(v, float)
        else (2, str(v))
        for v in row
    )


def _cell_eq(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def same_rows(got: list[tuple], expected: list[tuple]) -> tuple[bool, str]:
    """Order-insensitive row comparison; numbers compare as floats with a
    1e-9 tolerance, so an int count equals a bigint count and two exact
    decimal sums printed as doubles agree."""
    g = sorted((tuple(_norm(v) for v in r) for r in got), key=_sort_key)
    e = sorted((tuple(_norm(v) for v in r) for r in expected), key=_sort_key)
    if len(g) != len(e):
        return False, f"{len(g)} rows, expected {len(e)}"
    for rg, re_ in zip(g, e):
        if len(rg) != len(re_) or not all(map(_cell_eq, rg, re_)):
            return False, f"row {rg!r} != expected {re_!r}"
    return True, ""


def spark_rows(df, columns: list[str]) -> list[tuple]:
    return [tuple(r[c] for c in columns) for r in df.collect()]


def records_rows(records, columns: list[str]) -> list[tuple]:
    return [tuple(r.get(c) for c in columns) for r in records]


# -- agent questions: one DuckDB statement per TemplatePlanner shape ----------

def revenue_per_year_sql() -> str:
    return """
    SELECT year(o_orderdate) AS order_year,
           SUM(l_extendedprice * (1 - l_discount)) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    JOIN part ON p_partkey = l_partkey
    GROUP BY 1
    """


def question_sql(shape: str, arg) -> str:
    if shape == "total_sales":
        return (
            "SELECT SUM(o_totalprice) AS total_sales FROM orders "
            f"WHERE year(o_orderdate) = {int(arg)}"
        )
    if shape == "status_counts":
        return (
            "SELECT o_orderstatus AS status, COUNT(*) AS n FROM orders "
            f"WHERE year(o_orderdate) = {int(arg)} GROUP BY 1"
        )
    if shape == "top_customers":
        return (
            "SELECT c_name AS name, SUM(o_totalprice) AS revenue "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            f"GROUP BY 1 ORDER BY revenue DESC, name LIMIT {int(arg)}"
        )
    if shape == "segment_customers":
        return (
            "SELECT COUNT(*) AS n_customers FROM customer "
            f"WHERE lower(c_mktsegment) = '{arg.lower()}'"
        )
    if shape == "orders_by_segment":
        return (
            "SELECT c_mktsegment AS segment, COUNT(*) AS n_orders "
            "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1"
        )
    if shape == "customers_without_orders":
        return (
            "SELECT COUNT(*) AS n_customers FROM customer c WHERE NOT EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
        )
    if shape == "revenue_per_year":
        return revenue_per_year_sql()
    raise ValueError(shape)


def largest_drop_year(con) -> int:
    """The year the adaptive RCA investigator must pick: the smallest
    year-over-year revenue ratio (ties to the earlier year)."""
    _, rows = query_rows(con, revenue_per_year_sql())
    series = {int(y): float(r) for y, r in rows}
    return min(
        (series[y] / series[y - 1], y)
        for y in series
        if y - 1 in series and series[y - 1] > 0
    )[1]


# -- ETL: per-label and per-type counts straight from the SQLite source -------

SQLITE_NODE_COUNTS = {
    "Region": "SELECT COUNT(DISTINCT r_regionkey) FROM region",
    "Nation": "SELECT COUNT(DISTINCT n_nationkey) FROM nation",
    "Customer": "SELECT COUNT(DISTINCT c_custkey) FROM customer",
    "Supplier": "SELECT COUNT(DISTINCT s_suppkey) FROM supplier",
    "Part": "SELECT COUNT(DISTINCT p_partkey) FROM part",
    "Orders": "SELECT COUNT(DISTINCT o_orderkey) FROM orders",
}

SQLITE_EDGE_COUNTS = {
    "IN_REGION": """SELECT COUNT(*) FROM (SELECT DISTINCT n_nationkey, n_regionkey
        FROM nation WHERE n_regionkey IN (SELECT r_regionkey FROM region))""",
    "FROM_NATION": """SELECT COUNT(*) FROM (SELECT DISTINCT c_custkey, c_nationkey
        FROM customer WHERE c_nationkey IN (SELECT n_nationkey FROM nation))""",
    "LOCATED_IN": """SELECT COUNT(*) FROM (SELECT DISTINCT s_suppkey, s_nationkey
        FROM supplier WHERE s_nationkey IN (SELECT n_nationkey FROM nation))""",
    "PLACED_BY": """SELECT COUNT(*) FROM (SELECT DISTINCT o_orderkey, o_custkey
        FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer))""",
    "CONTAINS_ITEM": """SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey,
        l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM orders)
        AND l_partkey IN (SELECT p_partkey FROM part))""",
}


def sqlite_counts(db_path: str) -> tuple[dict[str, int], dict[str, int]]:
    con = sqlite3.connect(db_path)
    try:
        nodes = {k: con.execute(q).fetchone()[0] for k, q in SQLITE_NODE_COUNTS.items()}
        edges = {k: con.execute(q).fetchone()[0] for k, q in SQLITE_EDGE_COUNTS.items()}
    finally:
        con.close()
    return nodes, edges


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its footers (no Spark)."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
