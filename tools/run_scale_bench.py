"""Self-scaled stress run: time the headline set, the dedup/ANN stack,
the sketch/exact twins and the iterative graph family at an arbitrary
SF dir and report observed AQE decisions.

Usage: python tools/run_scale_bench.py <sf_dir> [--json out.json]
       [--only a,b,c] [--skip a,b,c]

For each query: one untimed warm-up pass, one timed pass, then the
*executed* (post-AQE) plan is scraped for the join strategies the
runtime actually picked (broadcast vs sort-merge vs shuffled-hash, and
whether the skew-join splitter fired). Each result row records:

* ``sec``, ``rows``, ``sec_norm`` and the plan facts of the timed pass;
* ``cold_sec`` of the warm-up pass, plus ``shuffle_read_bytes``,
  ``shuffle_write_bytes`` and ``stages`` of the stages it added. Shuffle
  bytes come from the cold pass because a warm pass can reuse its
  shuffle map outputs (stages show SKIPPED);
* ``iter_secs``: per-superstep wall times of the timed pass, from
  ``graph.algorithms.LAST_ITER_SECONDS``.

For a fresh JVM per query, run one invocation per ``--only`` name; its
``cold_sec`` is then a cold single-query number.

The quadratic recall-oracle tiers (dedup_ngram_jaccard,
embedding_near_dup_pairs) are intentionally excluded above sf0.01 —
they are test-scale verification operators, and excluding them is
reported, not silent.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from project_graphdb_spark import get_spark, workload  # noqa: E402
from project_graphdb_spark.graph import algorithms  # noqa: E402
from project_graphdb_spark.spark_util import (  # noqa: E402
    free_all_persistent,
    materialize as _materialize,
    stage_shuffle_bytes,
)

EXTRA_STACK = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_strict",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_clusters_lsh",
    "ann_cosine_top10",
    "ann_ivf_top10",
    "embedding_near_dup_blocked",
    "knn_join_top3",
    "doc_dup_span_profile",
    "doc_dup_span_scrub",
    "jsonl_roundtrip_lang_stats",
    "dedup_keep_best_lsh",
    "doc_shuffle_shards",
    "doc_winnow_fingerprints",
    "dedup_winnow",
    "dedup_winnow_fast",  # r10: token-hash-fold scale tier
    "doc_mix_rebalance",
    "doc_bigram_logprob",
    "corpus_bpe_merges",
    "pipeline_clean_pack",
    "doc_tfidf_terms",
    "emb_quantize_int8",
    "ann_pq_top10",
    "ann_ivfpq_top10",  # r10: composed IVFADC tier
    "emb_pq_adc_pinned",  # r11: hash-provable PQ encode + ADC face
    "ev_click_attribution",
    "ev_purchase_revenue_by_segment",
    "dedup_semantic_blocked",
    "emb_ivf_assign",
    # the r8 TPC-H additions, promoted to the standard stack (r9,
    # VERDICT ask #5) so they get the same per-round regression
    # tracking as the rest — Q4/Q7/Q8/Q13/Q19/Q21/Q22 by shape
    "late_order_priority_counts",
    "volume_shipping_nation_pair",
    "nation_market_share",
    "customer_order_count_distribution",
    "discounted_revenue_triples",
    "sole_late_supplier_orders",
    "idle_rich_customers_by_nation",
    "top_supplier_quarter_revenue",  # Q15 (r10): view reuse join-back
    # event analytics (r10): funnel / retention / paths
    "ev_funnel_conversion",
    "ev_funnel_conversion_windowed",  # r11: conversion-window variant
    "ev_funnel_time_to_convert",  # r11: conversion-latency profile
    "ev_retention_cohorts",
    "ev_top_event_paths",
    "part_cooccurrence_similarity",  # r10: basket-capped market-basket Jaccard
    "emb_label_centroid_outliers",  # r10: label-error detection
    "emb_label_confusion_pairs",  # r10: label-merge audit
    "corpus_vocab_topk",  # r12: exact twin of the MG face below
    "corpus_vocab_topk_approx",  # r12: Misra-Gries heavy hitters
    # sketch vs exact twins: wall time and shuffle volume side by side
    "ev_daily_active_users",
    "ev_daily_active_users_hll",
    "lineitem_quantity_percentiles",
    "lineitem_quantity_percentiles_approx",
    # doc_bm25_topk is NOT here: its registered face binds driver-corpus
    # terms that don't exist in the scale corpus's wordNNN vocabulary
    # (0 rows). Scale-measure it via the parameterized bm25_topk core
    # with scale-corpus terms instead (SCALE.md retrieval family).
]
# The iterative graph family runs last and together: its queries share
# the session's bucketed edge layouts, so the cold pass of the first
# galg query pays the layout write and later ones hit the cache.
ITERATIVE = [
    "galg_degrees",  # non-iterative, same graph build
    "galg_bfs_from_customer1",
    "galg_connected_components",
    "galg_shortest_paths",
    "galg_pagerank_top20",
    "galg_label_propagation",
    "galg_triangle_count",
    "galg_kcore_3",
    "cypher_shortestpath_nation_pairs",
    "cypher_varlength_customers_per_region",
]
EXCLUDED = [
    "dedup_ngram_jaccard",
    "embedding_near_dup_pairs",
    "dedup_keep_best",  # exact-pair tier: dedup_keep_best_lsh's oracle
    "dedup_semantic",  # exact-pair tier: dedup_semantic_blocked's twin
]
# Materialized-output queries whose ROW COUNT grows superlinearly with
# the planted duplicate density: excluded automatically (and loudly)
# once the embedding corpus passes BIG_SF_VECTORS. r8 lesson: at sf10
# embedding_near_dup_blocked's 1.09 B candidate pairs spilled the sort
# until the DISK filled (SPILL_OUT_OF_MEMORY / no space left) — the
# candidate-volume telemetry below measures the same thing via a 1/16
# hash sample without materializing the join.
BIG_SF_EXCLUDED = [
    "embedding_near_dup_blocked",
    # shares (and would build) the same IVF candidate-pair frame — the
    # keep stage itself is flat (SCALE.md r7 semantic table, measured
    # on a pre-built frame), but materializing the sf10 pair frame
    # cold spills past this container's disk
    "dedup_semantic_blocked",
]
BIG_SF_VECTORS = 150_000


def plan_facts(df) -> dict:
    from project_graphdb_spark.spark_util import classify_bnlj

    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "broadcast_hash_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "shuffled_hash_joins": len(re.findall(r"ShuffledHashJoin", plan)),
        "skew_splits": len(re.findall(r"skew=true", plan)),
        "exchanges": len(re.findall(r"\bExchange hashpartitioning", plan)),
        "reused_exchanges": len(re.findall(r"ReusedExchange", plan)),
        # size-aware (r10): bounded-build nested-loop joins (1-row
        # scalar cutoffs, literal-keyed probes) are counted separately
        # so `cartesian` stays a trustworthy regression signal
        **classify_bnlj(df),
    }


def query_list_arg(flag: str) -> list[str]:
    """The registered query names given as ``flag a,b,c`` (empty when
    the flag is absent)."""
    if flag not in sys.argv:
        return []
    idx = sys.argv.index(flag) + 1
    if idx >= len(sys.argv) or sys.argv[idx].startswith("--"):
        raise SystemExit(f"{flag} needs a comma-separated query list")
    names = sys.argv[idx].split(",")
    unknown = [n for n in names if n not in workload.REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries in {flag}: {unknown}")
    return names


def measure(spark, sf_dir: str, name: str) -> dict:
    """One sweep row for ``name``: the warm-up (cold) pass, then the
    timed pass (see the module docstring for the fields)."""
    fn = workload.REGISTRY[name].fn
    before = stage_shuffle_bytes(spark)
    t0 = time.perf_counter()
    _materialize(fn(spark, sf_dir))  # also trains/caches IVF centroids
    cold_sec = round(time.perf_counter() - t0, 3)
    after = stage_shuffle_bytes(spark)
    cold = [v for k, v in after.items() if k not in before]
    algorithms.LAST_ITER_SECONDS.clear()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    n = _materialize(df)
    dt = round(time.perf_counter() - t0, 3)
    return {
        "sec": dt,
        "rows": n,
        **plan_facts(df),
        "cold_sec": cold_sec,
        "shuffle_read_bytes": sum(r for r, _ in cold),
        "shuffle_write_bytes": sum(w for _, w in cold),
        "stages": len(cold),
        "iter_secs": dict(algorithms.LAST_ITER_SECONDS),
    }


def sweep(spark, sf_dir: str, out_json: str | None) -> None:
    """Measure the queries the command line selects, then the blocked
    candidate telemetry, and write the payload to ``out_json``."""
    # host-state anchor (see project_graphdb_spark/calibration.py): reps
    # are interleaved through the sweep (one every few queries), because
    # host state was measured drifting 3x within a session; sweep rows
    # are then read raw AND calib-normalized
    from project_graphdb_spark.calibration import CalibAnchor

    anchor = CalibAnchor(spark)
    anchor.rep()

    # dedupe while preserving order: some EXTRA_STACK members are also
    # headline queries and would otherwise run (and be timed) twice
    names = list(
        dict.fromkeys(
            [*workload.headline_queries(), *EXTRA_STACK, *ITERATIVE]
        )
    )
    names = query_list_arg("--only") or names  # focused run
    skipped = query_list_arg("--skip")  # loud exclusion, e.g. at sf10
    if skipped:
        names = [n for n in names if n not in skipped]
        print(f"SKIPPED (explicit): {skipped}")
    # the candidate telemetry below stands in for the blocked query when
    # a large SF auto-skips it, so it follows the selection made here
    blocked_selected = "embedding_near_dup_blocked" in names
    # only pay the corpus count when a BIG_SF_EXCLUDED query is
    # actually selected (ADVICE r8: an unconditional count here was an
    # extra corpus pass before every timed loop, --only runs included)
    if any(n in names for n in BIG_SF_EXCLUDED):
        from project_graphdb_spark.operators.similarity import _emb as _emb_pre

        n_vec = _emb_pre(spark, sf_dir).count()
        if n_vec > BIG_SF_VECTORS:
            auto = [n for n in BIG_SF_EXCLUDED if n in names]
            names = [n for n in names if n not in auto]
            skipped = [*skipped, *auto]
            print(
                f"SKIPPED (auto, {n_vec} vectors > {BIG_SF_VECTORS}): "
                f"{auto} — densest-output tier spills to disk "
                "exhaustion at this SF; candidate telemetry below "
                "measures its volume by sampling instead"
            )
    results: dict[str, dict] = {}
    for qi, name in enumerate(names):
        rec = results[name] = measure(spark, sf_dir, name)
        print(
            f"{name:35s} {rec['sec']:8.3f}s (cold {rec['cold_sec']:8.3f}s)"
            f" {rec['rows']:>10d} rows {rec}"
        )
        # free blocks pinned by checkpointing queries (dedup_clusters*)
        # and force a JVM GC so ContextCleaner reclaims the
        # finished query's shuffle/broadcast state — the source of
        # in-sequence timing drift (see spark_util.free_all_persistent)
        free_all_persistent(spark)
        if qi % 8 == 7:  # interleaved host-state sample
            anchor.rep()
    anchor.rep()
    calib = anchor.summary()
    print("calibration:", json.dumps(calib))
    # r14 (VERDICT r13 ask #7): a flagged anchor cannot support a
    # normalized column — suppress sec_norm entirely rather than emit
    # numbers a reader may cross-compare (the r13 galg_degrees row's
    # sec_norm 42.4 came from a slow-window anchor and misleads even
    # though the raw seconds stand). Raw `sec` is always recorded.
    if not calib.get("calib_unstable"):
        for rec in results.values():
            rec["sec_norm"] = round(rec["sec"] / calib["calib_sec"], 3)
    else:
        print("anchor unstable: sec_norm columns suppressed")

    # candidate-volume telemetry for the blocked embedding dedup path:
    # measured vs predicted (P^2 * n^2 / k) pair counts, so SCALE.md can
    # track whether the sub-quadratic envelope holds as data grows.
    # Only a sweep that selected embedding_near_dup_blocked pays for it.
    # Past ~100k vectors an exact second candidate generation would
    # double a multi-minute job, so switch to the 1/16 hash-sampled
    # estimate (unbiased; cost ~1/16 of the full join).
    # A telemetry failure must not lose the sweep above (r10: a
    # heap-marginal candidate count OOMed AFTER 48 measured queries and
    # took the whole payload with it) — record the error and move on.
    if not blocked_selected:
        cand_stats = {"skipped": "embedding_near_dup_blocked not selected"}
    else:
        try:
            from project_graphdb_spark.operators.similarity import (
                _emb,
                blocked_candidate_stats,
            )

            n_emb = _emb(spark, sf_dir).count()
            cand_mod = 16 if n_emb > 100_000 else None
            cand_stats = blocked_candidate_stats(
                spark, sf_dir, sample_mod=cand_mod
            )
            print("blocked_candidate_stats:", json.dumps(cand_stats))
        except Exception as e:  # noqa: BLE001 — recorded, not swallowed
            cand_stats = {"error": f"{type(e).__name__}: {str(e)[:200]}"}
            print("blocked_candidate_stats FAILED:", cand_stats["error"])

    payload = {
        "sf_dir": sf_dir,
        **calib,
        # writes vs cache-hits of the bucketed Pregel adjacency across
        # the whole sweep (r12: the galg family shares layouts)
        "edge_layout_stats": dict(algorithms.EDGE_LAYOUT_STATS),
        "results": results,
        "blocked_candidate_stats": cand_stats,
        "excluded_quadratic_oracles": EXCLUDED,
        "skipped_explicit": skipped,
    }
    if out_json:
        with open(out_json, "w") as f:
            json.dump(payload, f, indent=1)
    print(json.dumps({k: v["sec"] for k, v in results.items()}))


def main() -> None:
    sf_dir = sys.argv[1]
    out_json = None
    if "--json" in sys.argv:
        out_json = sys.argv[sys.argv.index("--json") + 1]
    spark = get_spark(app_name="scale-bench")
    workload._ensure_loaded()
    # a crashed query (OOM/disk-full is routine at sf10) must not orphan
    # cache-owned bucketed adjacency tables on disk
    with algorithms.releasing_edge_layouts(spark):
        sweep(spark, sf_dir, out_json)
    spark.stop()


if __name__ == "__main__":
    main()
