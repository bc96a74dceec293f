"""Benchmark harness: runs the headline queries and prints ONE JSON line.

Usage: ``python bench.py`` — honors ``SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) and ``SPARK_GRAFT_CPUS`` (default 32).

Each headline query is executed to completion (count action, so results
are materialized but not collected to the driver) and timed individually
after one untimed warm-up of the session (JVM + parquet footer reads).
Every query is timed over ``PASSES`` passes; the headline number is the
per-query MEDIAN (single-run timings at sub-second magnitudes are noise
— a +30% delta on one pass means nothing), with min/max spread reported
alongside.

The stdout line is COMPACT: contract fields plus scalar anchor health
and ``parallelism``; bulky diagnostics (per-query spread, anchor rep series,
per-query normalized dict, standing noise notes) go to the sidecar file
named by ``SPARK_GRAFT_BENCH_DETAIL`` (default
``.bench/bench_detail.json``), whose path is echoed as ``detail_file``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from project_graphdb_spark import get_spark
from project_graphdb_spark import workload
from project_graphdb_spark.graph.algorithms import releasing_edge_layouts
from project_graphdb_spark.spark_util import materialize

# One shared honest materializer (noop sink + same-pass observe count,
# never df.count() — see spark_util.materialize for why count() prunes).
# tests/test_plans.py guards that this alias stays shared so a future
# edit can't silently revert bench to a pruning sink.
_run_once = materialize

#: timed passes per query: enough for a stable per-query median
PASSES = 5

# The stdout line must fit a bounded tail capture of stdout whole, so
# it carries only the contract fields (metric / value / unit / queries
# / sf) and compact scalars (anchor health, normalized total,
# parallelism); these bulky diagnostics go to the sidecar detail file
# whose path is echoed on the line.
_BULKY_FIELDS = (
    "spread",
    "calib_reps",
    "calib_protocol",
    "queries_calib_norm",
    "noise_note",
    "noise_model",
)


def emit_results(payload: dict) -> dict:
    """Write the full ``payload`` to the detail sidecar file
    (``SPARK_GRAFT_BENCH_DETAIL``, default ``.bench/bench_detail.json``
    next to this script) and return the compact line dict: every
    payload field except the bulky diagnostics, plus ``detail_file``."""
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            ".bench",
            "bench_detail.json",
        ),
    )
    try:
        os.makedirs(os.path.dirname(detail_path) or ".", exist_ok=True)
        with open(detail_path, "w") as f:
            json.dump(payload, f, indent=1)
    except OSError:
        detail_path = None  # read-only tree: the compact line stands alone
    compact = {k: v for k, v in payload.items() if k not in _BULKY_FIELDS}
    compact["detail_file"] = detail_path
    return compact


def calib_norm_fields(
    total: float, per_query: dict[str, float], calib: dict
) -> dict:
    """``value_calib_norm`` and ``queries_calib_norm``: the total and
    per-query medians divided by the anchor's ``calib_sec``. Empty when
    the anchor flags itself ``calib_unstable`` — a normalization by an
    unstable anchor is not comparable across runs."""
    if calib.get("calib_unstable"):
        return {}
    return {
        "value_calib_norm": round(total / calib["calib_sec"], 3),
        "queries_calib_norm": {
            n: round(v / calib["calib_sec"], 3) for n, v in per_query.items()
        },
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench")
    with releasing_edge_layouts(spark):
        payload = run(spark, sf_dir)
    print(json.dumps(emit_results(payload)))
    spark.stop()


def run(spark, sf_dir: str) -> dict:
    """Warm up, time every headline query ``PASSES`` times and return
    the full payload."""
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # name-sorted, not registry order: the registry's insertion order
    # follows the correctness-window priority list, and execution order
    # perturbs per-query timings through GC/cache neighborhood effects
    heads = dict(sorted(workload.headline_queries().items()))

    # fixed calibration anchor: a pinned scan+agg on a frozen generated
    # dataset. One rep is taken per timed pass (host state drifts within
    # a session), so calib_sec samples the same wall-clock window the
    # queries are timed in and per-query numbers can be read raw AND
    # host-normalized (see calibration.py)
    from project_graphdb_spark.calibration import CalibAnchor

    anchor = CalibAnchor(spark)

    # warm-up: run every headline once untimed, so JVM/codegen/parquet
    # footers/graph-frame derivation land outside the timed pass and
    # every query is measured steady-state (the reference's analog is a
    # warm Neo4j page cache)
    for fn in heads.values():
        _run_once(fn(spark, sf_dir))

    samples: dict[str, list[float]] = {name: [] for name in heads}
    for _ in range(PASSES):
        anchor.rep()  # one interleaved host-state sample per pass
        for name, fn in heads.items():
            t0 = time.perf_counter()
            _run_once(fn(spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
    calib = anchor.summary()

    per_query: dict[str, float] = {}
    spread: dict[str, dict[str, float]] = {}
    total = 0.0
    for name, ts in samples.items():
        med = statistics.median(ts)
        per_query[name] = round(med, 4)
        spread[name] = {
            "median": round(med, 4),
            "min": round(min(ts), 4),
            "max": round(max(ts), 4),
        }
        total += med

    return {
        "metric": "headline_queries_total_time",
        "value": round(total, 4),
        "unit": "sec",
        "queries": per_query,
        "spread": spread,
        "passes": PASSES,
        # a query's calib-normalized value is its median divided by
        # this session's calib_sec: host slowdowns cancel to first
        # order, so these are the cross-run comparable numbers
        **calib,
        **calib_norm_fields(total, per_query, calib),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # the session's real parallelism, so that SPARK_GRAFT_CPUS
        # reaching the JVM is observable in the artifact
        "parallelism": spark.sparkContext.defaultParallelism,
        # medians of sub-second queries on a shared host move more
        # between same-code runs than most code changes move them
        "noise_note": "same-code back-to-back totals differ ~15%;"
        " cross-round per-query deltas under ~30% are not signal",
        # measured bands: same-session same-code rep spread, and the
        # cross-session host band; a total delta is signal only past
        # the host band or when an interleaved A/B of two checkouts
        # (tools/run_bench_ab.py) reproduces it
        "noise_model": {
            "same_session_rep_spread_pct": 9,
            "cross_session_host_band_pct": 40,
            "attribution": "measurements/r11/bench_ab_r9_r10.json",
        },
        # the noop sink computes every output column executor-side;
        # df.count() lets Catalyst prune aggregates it does not need,
        # so totals from count()-era runs are not comparable
        "materializer": "noop-sink (r8+; prior rounds count())",
    }


if __name__ == "__main__":
    main()
