"""Benchmark harness: runs the headline queries and prints ONE JSON line.

Usage: ``python bench.py`` — honors ``SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) and ``SPARK_GRAFT_CPUS`` (default 32).

Each headline query is executed to completion (count action, so results
are materialized but not collected to the driver) and timed individually
after one untimed warm-up of the session (JVM + parquet footer reads).
Every query is timed over ``SPARK_GRAFT_BENCH_PASSES`` (default 5)
passes; the headline number is the per-query MEDIAN (single-run timings
at sub-second magnitudes are noise — a +30% delta on one pass means
nothing), with min/max spread reported alongside. Five passes (r6, was
3) tighten the median so spread-level movement between rounds stops
reading as regression.

The stdout line is COMPACT (r14): driver fields plus scalar anchor
health and ``parallelism``; bulky diagnostics (per-query spread, anchor
rep series, per-query normalized dict, standing noise notes) go to the
sidecar file named by ``SPARK_GRAFT_BENCH_DETAIL`` (default
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
from project_graphdb_spark.spark_util import materialize

# One shared honest materializer (noop sink + same-pass observe count,
# never df.count() — see spark_util.materialize for the r8 pruning
# finding). tests/test_plans.py guards that this alias stays shared so
# a future edit can't silently revert bench to a pruning sink.
_run_once = materialize


# r14 (VERDICT r13 ask #2a): the r12 round-over-round comparison was
# LOST because the one stdout JSON line had grown (spread + per-query
# normalized dicts) past the driver's bounded tail capture, which cut
# its head and made it unparseable. The contract stays ONE JSON line,
# but the line now carries only the driver fields (metric / value /
# unit / queries / sf) plus compact scalars (anchor health, normalized
# total, parallelism); the bulky diagnostics below move to a sidecar
# detail file whose path is echoed on the line. No timing semantics
# change; no query entries removed or renamed.
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
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(app_name="bench")

    # name-sorted, NOT registry order (r10): the registry's insertion
    # order changes every round with the driver-window priority list,
    # and execution order perturbs per-query timings through GC/cache
    # neighborhood effects — a stable order keeps BENCH_r{N} totals
    # comparable across rounds
    heads = dict(sorted(workload.headline_queries().items()))
    # diagnostics: SPARK_GRAFT_BENCH_SKIP / _ONLY (comma-separated
    # names) subset the headline set for A/B drift attribution runs
    skip = set(filter(None, os.environ.get("SPARK_GRAFT_BENCH_SKIP", "").split(",")))
    only = set(filter(None, os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")))
    # a typo'd name would silently bench the wrong subset (ONLY with an
    # unknown name benches nothing) — fail loudly like run_scale_bench
    unknown = (skip | only) - set(heads)
    if unknown:
        raise SystemExit(
            f"unknown headline query names in SKIP/ONLY: {sorted(unknown)}; "
            f"known: {sorted(heads)}"
        )
    heads = {
        n: fn
        for n, fn in heads.items()
        if n not in skip and (not only or n in only)
    }

    # r12 (VERDICT r11 ask #5): fixed calibration anchor — a pinned
    # scan+agg on a frozen generated dataset. One rep is taken per
    # timed pass (interleaved, not once-at-start: host state was
    # measured drifting 3x WITHIN a session), so calib_sec samples the
    # same wall-clock window the queries are timed in and per-query
    # numbers can be read raw AND host-normalized (see calibration.py).
    # Constructed AFTER the SKIP/ONLY validation so an argument typo
    # exits before any Spark work.
    from project_graphdb_spark.calibration import CalibAnchor

    anchor = CalibAnchor(spark)

    # warm-up: run every headline once untimed, so JVM/codegen/parquet
    # footers/graph-frame derivation land outside the timed pass and
    # every query is measured steady-state (the reference's analog is a
    # warm Neo4j page cache)
    for fn in heads.values():
        _run_once(fn(spark, sf_dir))

    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5")))
    samples: dict[str, list[float]] = {name: [] for name in heads}
    try:
        for _ in range(passes):
            anchor.rep()  # one interleaved host-state sample per pass
            for name, fn in heads.items():
                t0 = time.perf_counter()
                _run_once(fn(spark, sf_dir))
                samples[name].append(time.perf_counter() - t0)
    except BaseException:
        # don't orphan cache-owned bucketed edge tables on a crash.
        # The release itself can throw when the session is already
        # unusable (driver OOM, Py4J loss — exactly the scenarios
        # handled here) and must not REPLACE the original exception;
        # the atexit file backstop covers the release-failed case.
        try:
            from project_graphdb_spark.graph.algorithms import (
                release_edge_layouts,
            )

            release_edge_layouts(spark)
        except Exception:
            pass
        raise
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

    payload = {
        "metric": "headline_queries_total_time",
        "value": round(total, 4),
        "unit": "sec",
        "queries": per_query,
        "spread": spread,
        "passes": passes,
        # host anchor + normalized series (r12): a query's
        # calib-normalized value is its median divided by this
        # session's calib_sec — host slowdowns cancel to first
        # order, so THESE are the cross-round comparable numbers
        **calib,
        **calib_norm_fields(total, per_query, calib),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # r14 (VERDICT r13 ask #2b): echo the session's REAL
        # parallelism so SPARK_GRAFT_CPUS honoring is directly
        # observable in the artifact — the r13 driver false-flagged
        # `suspect_cpus_ignored` because nothing in the JSON proved
        # the env var reached the JVM (it does: session.py builds
        # master=local[$SPARK_GRAFT_CPUS]); additive field only.
        "parallelism": spark.sparkContext.defaultParallelism,
                # r8 drift attribution (verdict r7 ask #4): the uniform
                # +4-23% r6->r7 per-query drift is HARNESS NOISE, not a
                # plan or registry regression. Evidence (r8, same code,
                # same machine, minutes apart): two byte-identical full
                # bench runs scored totals 5.91 s vs 6.78 s with
                # per-query deltas +8%..+32%; removing dedup_minhash_lsh
                # (the only r7 structural change + its persisted frames)
                # made the OTHER queries 4-19% SLOWER, refuting the
                # persisted-frame-interference hypothesis. Medians of
                # sub-second queries on a shared container move more
                # between runs than r6->r7 moved between rounds.
                "noise_note": "same-code back-to-back totals differ ~15%;"
                " cross-round per-query deltas under ~30% are not signal",
                # r11 MEASURED noise model (VERDICT r10 ask #1): the
                # BENCH_r10-vs-r09 +42% total was attributed by an
                # interleaved A/B of the two pinned checkouts on one
                # idle host (tools/run_bench_ab.py, 3 reps each,
                # measurements/r11/bench_ab_r9_r10.json): r9 code
                # medians 11.37/11.48/12.36 s vs r10 code
                # 11.27/11.28/11.95 s — the r10 CODE is ~2% FASTER at
                # matched conditions; the artifact shift was entirely
                # host state at driver-run time. Bands that ARE
                # evidence: same-session same-code rep spread ±9%
                # (measured), cross-session host band up to ±40%
                # (10.20 -> 14.44 on identical-speed code). A
                # cross-round total delta is only signal past the host
                # band, or when reproduced by an interleaved A/B.
                "noise_model": {
                    "same_session_rep_spread_pct": 9,
                    "cross_session_host_band_pct": 40,
                    "attribution": "measurements/r11/bench_ab_r9_r10.json",
                },
        # r8 MEASUREMENT FIX — numbers are NOT comparable to
        # BENCH_r01..r07: materialization switched from
        # df.count() to the noop sink. count() wraps the query
        # in a row-count aggregate and Catalyst PRUNES every
        # aggregate expression the count doesn't need, so all
        # prior rounds under-measured aggregate-heavy queries
        # (pricing_summary computed zero of its 8 aggregates;
        # ev_daily_active_users shuffled 280 records instead of
        # the real 981k). The noop sink computes every output
        # column executor-side. Same-code totals: 5.9-6.8 s
        # under count(), ~11 s under noop at sf0.1.
        "materializer": "noop-sink (r8+; prior rounds count())",
    }
    print(json.dumps(emit_results(payload)))
    from project_graphdb_spark.graph.algorithms import release_edge_layouts

    release_edge_layouts(spark)
    spark.stop()


if __name__ == "__main__":
    main()
