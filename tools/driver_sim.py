"""Simulate the driver's correctness harness as closely as possible.

Unlike the pytest gate (which builds its SparkSession via
``get_spark()``), the driver supplies a *bare* session with none of this
library's configs. Round 1 taught us that difference matters: the
events.parquet nanos read crashed only under the driver. This script
reproduces that environment:

* a plain ``SparkSession.builder.master(...).getOrCreate()`` — no
  library defaults;
* enumerate ``__spark_entry__.queries()`` / ``oracle_sql()``;
* run every query at sf0.01, hash-compare against DuckDB;
* print one JSON line per query plus a summary.

Usage: python tools/driver_sim.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    from project_graphdb_spark.session import local_cpus

    spark = (
        SparkSession.builder.master(f"local[{local_cpus()}]")
        .appName("driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    from tests.oracle_util import compare, duckdb_con

    t_enum = time.time()
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    enum_s = time.time() - t_enum

    con = duckdb_con(sf_dir)
    results: dict[str, dict] = {}
    for name in sorted(qs):
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            if name in oracles:
                problems = compare(df, con, oracles[name])
                status = "green" if not problems else "FAIL"
                detail = "; ".join(problems[:3])
            else:
                n = df.count()
                status = "rows-only"
                detail = f"{n} rows"
            results[name] = {
                "status": status,
                "detail": detail,
                "sec": round(time.time() - t0, 2),
            }
        except Exception:
            results[name] = {
                "status": "ERR",
                "detail": traceback.format_exc().splitlines()[-1],
                "sec": round(time.time() - t0, 2),
            }
        r = results[name]
        print(json.dumps({"query": name, **r}), flush=True)

    from project_graphdb_spark.graph.algorithms import (
        release_edge_layouts,
    )

    release_edge_layouts(spark)
    n_green = sum(1 for r in results.values() if r["status"] == "green")
    n_rows = sum(1 for r in results.values() if r["status"] == "rows-only")
    bad = {k: v for k, v in results.items() if v["status"] in ("FAIL", "ERR")}
    print(
        json.dumps(
            {
                "summary": True,
                "total": len(results),
                "green": n_green,
                "rows_only": n_rows,
                "bad": bad,
                "enumerate_sec": round(enum_s, 2),
                "total_sec": round(sum(r["sec"] for r in results.values()), 1),
            }
        )
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
