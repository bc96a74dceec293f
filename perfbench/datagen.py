"""Seeded TPC-H-shaped input tables for the benchmark.

The tables have the same names, columns, Arrow types and value
distributions as the engine's test data (region, nation, customer,
supplier, part, orders, lineitem; one row group per file), scaled by
``sf`` with the TPC-H ratios. The same ``(seed, sf)`` always yields the
same bytes, so two runs with one seed see identical inputs.

``write_sqlite`` turns those tables into the SQLite source of the ETL
path, with DDL generated from the engine's own ``TPCH_SCHEMA``.
"""

from __future__ import annotations

import datetime as dt
import os
import sqlite3

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_ORDER_START = np.datetime64("1995-01-01", "us")
_ORDER_SPAN_DAYS = 2404  # last order date 2001-08-01, as in the test data
ORDER_YEARS = tuple(range(1995, 2002))


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(int(10_000 * sf), 5),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(_REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)].tolist(),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    adj = np.array(_ADJ)[rng.integers(0, len(_ADJ), npart)]
    noun = np.array(_NOUN)[rng.integers(0, len(_NOUN), npart)]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, npart)].tolist(),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    odays = rng.integers(0, _ORDER_SPAN_DAYS + 1, no)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)].tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": pa.array(
                _ORDER_START + odays.astype("timedelta64[D]"), pa.timestamp("us")
            ),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)].tolist(),
        }
    )
    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl)
    ship = (
        _ORDER_START
        + odays[l_order].astype("timedelta64[D]")
        + rng.integers(1, 96, nl).astype("timedelta64[D]")
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)].tolist(),
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)].tolist(),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    return out


def write_parquet(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def sqlite_ddl(schema) -> str:
    """CREATE TABLE statements for a ``RelationalSchema``: declared types,
    single-column primary keys and every foreign key.

    lineitem's composite key ``(l_orderkey, l_linenumber)`` is left out:
    the generated line numbers repeat within an order (as in the engine's
    test data, where only 456,861 of 600,000 pairs are distinct at sf0.1),
    so SQLite would reject the insert. lineitem still infers as the
    CONTAINS_ITEM edge table through the two-or-more-FK rule.
    """
    stmts = []
    for t in schema.tables.values():
        cols = [f"{c} {typ}" for c, typ in t.columns]
        if len(t.primary_keys) == 1:
            cols = [
                f"{c} {typ} PRIMARY KEY" if c == t.primary_keys[0] else f"{c} {typ}"
                for c, typ in t.columns
            ]
        cols += [
            f"FOREIGN KEY ({fk.from_col}) REFERENCES {fk.table}({fk.to_col})"
            for fk in t.foreign_keys
        ]
        stmts.append(f"CREATE TABLE {t.name} (\n  " + ",\n  ".join(cols) + "\n);")
    return "\n".join(stmts)


def _sqlite_value(v):
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return v


def write_sqlite(tables: dict[str, pa.Table], schema, path: str) -> None:
    con = sqlite3.connect(path)
    try:
        con.executescript(sqlite_ddl(schema))
        for name, info in schema.tables.items():
            t = tables[name]
            cols = [c for c, _ in info.columns]
            columns = [t.column(c).to_pylist() for c in cols]
            rows = [tuple(_sqlite_value(v) for v in r) for r in zip(*columns)]
            con.executemany(
                f"INSERT INTO {name} VALUES ({','.join('?' * len(cols))})", rows
            )
        con.commit()
    finally:
        con.close()
