"""Physical-plan hygiene: the properties that make these plans survive
a 100 TB scale-up, asserted on the actual executed plans at sf0.001.

* no CartesianProduct anywhere in the registered workload;
* parquet scans under filters carry PushedFilters;
* dimension joins in the flagship/graph queries broadcast the small
  side (no full shuffle of a fact table against a 25-row dim);
* scan-heavy aggregates keep WholeStageCodegen spans (expressions stay
  JVM-side).
"""

from __future__ import annotations

import pytest

from project_graphdb_spark import workload

workload._ensure_loaded()

# queries whose operators are inherently iterative/driver-coordinated
# (plan strings contain many stages; cartesian check still applies)
ALL_NAMES = sorted(workload.REGISTRY)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", ALL_NAMES)
def test_no_cartesian_product(name, spark, sf_dir):
    df = workload.REGISTRY[name].fn(spark, sf_dir)
    assert "CartesianProduct" not in _plan(df), name


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = workload.REGISTRY["orders_status_counts_2000"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    # the year filter's timestamp bounds must reach the parquet reader
    assert "o_orderdate" in plan.split("PushedFilters")[1][:300]


def test_column_pruning_on_wide_table(spark, sf_dir):
    """The graph revenue query must not read all 11 lineitem columns."""
    df = workload.REGISTRY["g_revenue_by_brand"].fn(spark, sf_dir)
    plan = _plan(df)
    for unused in ("l_tax", "l_returnflag", "l_shipdate", "l_linestatus"):
        assert unused not in plan, unused


def test_dimension_joins_broadcast(spark, sf_dir):
    df = workload.REGISTRY["building_segment_brand_revenue"].fn(
        spark, sf_dir
    )
    df.collect()  # finalize AQE — broadcast choice is made at runtime
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # all sides fit broadcast at test SF


# Forced broadcast hints must exist ONLY for bounded dimensions
# (nation=25 rows, region=5 rows at every SF). customer/part/supplier/
# orders/lineitem grow linearly with SF, so a forced hint would OOM a
# 1000-executor cluster at sf100 — those joins are left to AQE.
@pytest.mark.parametrize(
    "name,expected_hints",
    [
        ("top3_customers_per_nation", 1),  # nation only
        ("building_segment_brand_revenue", 0),  # no bounded dim in query
        ("revenue_rollup_nation_year", 1),  # nation only
        ("local_supplier_volume", 2),  # nation + region
    ],
)
def test_no_forced_broadcast_of_sf_scaled_tables(
    name, expected_hints, spark, sf_dir
):
    df = workload.REGISTRY[name].fn(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == expected_hints, name


def test_whole_stage_codegen_present(spark, sf_dir):
    df = workload.REGISTRY["pricing_summary"].fn(spark, sf_dir)
    df.collect()  # finalize AQE so the plan string shows codegen spans
    plan = _plan(df)
    # '*(N) ' prefixes mark WholeStageCodegen stages in the plan string
    assert "*(1)" in plan and "HashAggregate" in plan


def test_concurrent_query_execution(spark, sf_dir):
    """Queries share one session; none may rely on session-global
    mutable state (e.g. fixed temp-view names) that concurrent or
    interleaved execution would clobber."""
    import concurrent.futures

    names = [
        "orders_grouping_sets_status_year",
        "sql_over_graph_order_priority_revenue",
        "pricing_summary",
        "ev_tumbling_hourly",
    ]

    def run(name):
        return (
            name,
            workload.REGISTRY[name].fn(spark, sf_dir).count(),
        )

    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as ex:
        results = dict(ex.map(run, names * 2))
    serial = {n: workload.REGISTRY[n].fn(spark, sf_dir).count() for n in names}
    assert results == serial


def test_contamination_broadcasts_benchmark_side(spark, sf_dir):
    """The benchmark n-gram frame must broadcast — the corpus side is
    the 100 TB side and must not shuffle on gram."""
    df = workload.REGISTRY["doc_contamination_check"].fn(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_chunk_windows_has_no_shuffle(spark, sf_dir):
    """Chunking is a pure narrow map (the orderBy in the registered
    query is display-only; the operator body adds no Exchange before
    it)."""
    from project_graphdb_spark.operators.corpus import doc_chunk_windows

    df = doc_chunk_windows(spark, sf_dir)
    plan = _plan(df)
    # exactly the one Exchange required by the global orderBy, nothing
    # from the chunking logic itself
    assert plan.count("Exchange rangepartitioning") <= 1
    assert plan.count("Exchange hashpartitioning") == 0


def test_minhash_verify_has_no_shingle_regroup(spark, sf_dir):
    """The LSH verify path must not re-aggregate shingles: no groupBy
    on (doc_a, doc_b) counting common shingles — intersection happens
    array-side."""
    from project_graphdb_spark.operators.dedup import (
        clear_shingle_cache,
        dedup_minhash_lsh,
    )

    df = dedup_minhash_lsh(spark, sf_dir)
    plan = _plan(df)
    assert "array_intersect" in plan
    clear_shingle_cache()


def test_pack_bins_window_is_partitioned(spark, sf_dir):
    """The packing window must partition by lang — a global ORDER BY
    window (Exchange SinglePartition) would funnel the corpus through
    one task at scale."""
    from project_graphdb_spark.operators.corpus import doc_pack_bins

    df = doc_pack_bins(spark, sf_dir)
    plan = _plan(df)
    window_part = plan.split("Window")[0] if "Window" in plan else plan
    # the only SinglePartition allowed is the presentation orderBy's
    # final range exchange, never upstream of the window
    assert "Exchange SinglePartition" not in window_part


def test_bm25_scores_from_cached_narrow_frame(spark, sf_dir):
    """doc_bm25_topk must (a) take the top-k via TakeOrderedAndProject
    (never a global sort of the scored corpus), and (b) read BOTH the
    stats reduce and the scoring pass from the persisted narrow tf
    frame — exactly one parquet text scan in the whole plan."""
    from project_graphdb_spark.operators.dedup import clear_shingle_cache
    from project_graphdb_spark.operators.text import doc_bm25_topk

    df = doc_bm25_topk(spark, sf_dir)
    df.collect()  # finalize AQE
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "InMemoryTableScan" in plan
    # the one FileScan is inside the InMemoryRelation's cached build
    # lineage; both live plan branches read the cache (count on the
    # final plan only — the AQE string repeats the initial plan below)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange SinglePartition") <= 1  # 1-row stats only
    clear_shingle_cache()


def test_tfidf_df_join_broadcasts_bounded_vocab(spark, sf_dir):
    """The df (vocabulary) side of the tf-idf join must broadcast when
    the measured vocabulary is bounded — a SortMergeJoin here shuffles
    the FULL posting frame onto the term key (tiny key domain), the
    sf10-measured pathology. The posting frame itself must come from
    the persisted index (no duplicate explode+aggregate subtrees)."""
    from project_graphdb_spark.operators.dedup import clear_shingle_cache
    from project_graphdb_spark.operators.text import doc_tfidf_terms

    df = doc_tfidf_terms(spark, sf_dir)
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "InMemoryTableScan" in plan
    clear_shingle_cache()


def _q21_plan_asserts(spark, at_dir):
    """Q21's single-pass shape: ONE lineitem scan and at most the two
    intended hash exchanges (the single fact exchange on l_orderkey
    feeding the (orderkey, suppkey) aggregate AND the per-order window
    — subset-clustering reuse — plus the final tiny s_name rollup; at
    SFs where the orders side stops broadcasting, its join exchange is
    the legitimate third). The r7 two-groupBy + self-join form planned
    the scan+join+aggregate subtree TWICE (sf1-measured: 5 exchanges,
    211 MB shuffled, 2 fact scans vs 68 MB / 1 scan here)."""
    from project_graphdb_spark.spark_util import materialize

    df = workload.REGISTRY["sole_late_supplier_orders"].fn(spark, at_dir)
    materialize(df)
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert plan.count("lineitem.parquet") == 1, "lineitem scanned twice"
    n_exch = plan.count("Exchange hashpartitioning")
    assert n_exch <= 3, f"{n_exch} hash exchanges (duplicate subtree?)"


def test_q21_single_fact_pass(spark, sf_dir):
    _q21_plan_asserts(spark, sf_dir)


@pytest.mark.skipif(
    not __import__("os").path.isdir("/root/repo/.scale/sf1"),
    reason="self-generated sf1 scale data absent",
)
def test_q21_single_fact_pass_sf1(spark):
    """The same shape must survive sf1, where the orders build side is
    near the broadcast threshold (the sf where r7's duplicate-subtree
    form measurably doubled the fact work)."""
    _q21_plan_asserts(spark, "/root/repo/.scale/sf1")


def test_materialize_executes_every_output_column(spark):
    """Guard for SCALE.md finding 16: the bench materializer must
    execute EVERY output column. A count()-style materializer lets
    Catalyst prune unreferenced expressions — this accumulator-bumping
    UDF column would then never run and the accumulator would stay 0,
    failing the test (verified: swapping materialize for df.count()
    fails this). Also pins the same-pass observe count (ADVICE r8
    medium: the old trailing df.count() re-executed the pruned plan
    inside every tool's timed window)."""
    import pyspark.sql.functions as F

    from project_graphdb_spark.spark_util import materialize

    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def _bump(x):
        acc.add(1)
        return x

    df = spark.range(0, 100, 1, 4).select(
        F.col("id"), _bump(F.col("id")).alias("side")
    )
    assert materialize(df) == 100
    assert acc.value >= 100, "materializer pruned an output column"


def test_stage_shuffle_bytes_from_status_store(spark):
    """The status store lists every stage with its shuffle bytes while
    the UI is off; a one-shuffle aggregation writes what it reads."""
    from pyspark.sql import functions as F

    from project_graphdb_spark.spark_util import (
        materialize,
        stage_shuffle_bytes,
    )

    assert spark.conf.get("spark.ui.enabled") == "false"
    before = stage_shuffle_bytes(spark)
    materialize(
        spark.range(20_000).groupBy((F.col("id") % 97).alias("k")).count()
    )
    after = stage_shuffle_bytes(spark)
    added = [v for k, v in after.items() if k not in before]
    read = sum(r for r, _ in added)
    written = sum(w for _, w in added)
    assert written > 0
    assert read == written


def test_bench_uses_shared_materializer():
    """bench.py must materialize through spark_util.materialize so the
    column-execution guard above covers the driver's bench path too."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_module", "/root/repo/bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from project_graphdb_spark.spark_util import materialize

    assert mod._run_once is materialize


def _join_appears_above(plan: str, upper_key: str, lower_key: str) -> bool:
    """True if the first join line mentioning upper_key prints before
    (i.e. is an ancestor of, in Spark's parent-first tree print) the
    first join line mentioning lower_key."""
    lines = plan.splitlines()
    def first(key):
        for i, ln in enumerate(lines):
            if "Join" in ln and key in ln:
                return i
        return None
    u, lo = first(upper_key), first(lower_key)
    assert u is not None and lo is not None, (upper_key, lower_key)
    return u < lo


def test_q7_dimension_filters_precede_fact_join(spark, sf_dir):
    """Q7's r9 reorder (VERDICT r8 plan nit #4): the nation-filtered
    supplier/customer slices must join into the facts BELOW the
    l_orderkey join, so the big exchange carries only the ~2/25-nation
    slice. Pinned as tree order: the l_orderkey join is the TOPMOST
    join (prints first, parent-first), with the l_suppkey and
    o_custkey joins inside its subtrees — the r8 shape had the
    suppkey/nation joins above the orderkey join instead."""
    df = workload.REGISTRY["volume_shipping_nation_pair"].fn(spark, sf_dir)
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert _join_appears_above(plan, "l_orderkey", "l_suppkey")
    assert _join_appears_above(plan, "l_orderkey", "o_custkey")


def test_q8_region_scope_precedes_fact_join(spark, sf_dir):
    """Q8's r9 reorder: orders join the region-scoped customer slice
    below the l_orderkey join (the o_custkey join is in the orderkey
    join's build subtree), so the fact exchange's orders side is
    pre-shrunk to the region's ~1/5 of customers."""
    df = workload.REGISTRY["nation_market_share"].fn(spark, sf_dir)
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert _join_appears_above(plan, "l_orderkey", "o_custkey")


def test_winnow_gram_map_not_duplicated_by_collapse(spark, sf_dir):
    """The winnow gram array must be computed ONCE per row: stacking an
    extra projection over it lets CollapseProject inline the
    md5-per-gram expression into every reference (measured r9: 4x md5 /
    36x split in the optimized plan, ~11x wall regression at sf0.1).
    Pin: exactly one md5( in the optimized plan of the exploded
    selection frame."""
    from project_graphdb_spark.io.tables import load_table
    from project_graphdb_spark.operators.dedup import _winnow_sels

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sels = _winnow_sels(docs).select("doc_id", "fp")
    plan = sels._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5(") == 1, f"gram map duplicated: {plan.count('md5(')}x"


def test_q13_join_first_no_preaggregation(spark, sf_dir):
    """Q13 is join-first (r10, SCALE.md finding 23 addendum): the r9
    pre-aggregation below the LEFT join was A/B-measured at sf10 and
    LOST 1.8x (custkey grain ~10 orders/key). Pin: the LEFT join sits
    BELOW both aggregates in the optimized plan."""
    df = workload.REGISTRY["customer_order_count_distribution"].fn(
        spark, sf_dir
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    jidx = next(i for i, l in enumerate(lines) if "Join LeftOuter" in l)
    aidx = [i for i, l in enumerate(lines) if "Aggregate" in l]
    assert all(i < jidx for i in aidx), "aggregation pushed below Q13's outer join"

def test_q6_ship_year_filter_is_pushed_down(spark, sf_dir):
    """Q6's ship-year filter must be a sargable date range (ADVICE r9:
    year(l_shipdate) == 2000 is a function over the column, which
    parquet cannot push down). Pin: l_shipdate appears inside the
    scan's PushedFilters list."""
    df = workload.REGISTRY["forecast_revenue_change"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters")[1][:400]
    assert "l_shipdate" in pushed, pushed


def test_adaptive_broadcast_bytes_guard(spark, sf_dir):
    """adaptive_broadcast must refuse a row-count-passing slice whose
    ESTIMATED bytes (rows x schema width) exceed the byte guard — the
    wide-table OOM class a rows-only guard misses (ADVICE r9)."""
    from project_graphdb_spark.io.tables import load_table
    from project_graphdb_spark.spark_util import adaptive_broadcast

    docs = load_table(spark, sf_dir, "documents")  # has a string text col
    out = adaptive_broadcast(docs, max_rows=10_000_000, max_bytes=64)
    plan = out._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" not in plan and "hints=" not in plan.lower(), plan
    # and the same frame broadcasts under a generous byte budget
    out2 = adaptive_broadcast(docs, max_rows=10_000_000)
    plan2 = out2._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" in plan2 or "UnresolvedHint" in plan2, plan2


def test_adaptive_broadcast_memoizes_measured_count(spark, sf_dir):
    """The measured count must run ONE Spark job per distinct slice
    per session: rebuilding the same plan (plan-shape tests, repeated
    fn() calls) reuses the memoized count (ADVICE r9)."""
    from project_graphdb_spark import spark_util
    from project_graphdb_spark.io.tables import load_table
    from project_graphdb_spark.spark_util import adaptive_broadcast

    region = load_table(spark, sf_dir, "region").select("r_regionkey")
    adaptive_broadcast(region)
    key = (
        "count",
        region.sparkSession._jsparkSession.hashCode(),
        region._jdf.queryExecution().analyzed().semanticHash(),
    )
    assert key in spark_util._MEASURED_MEMO
    # poison the memoized count; a rebuild of the SAME query must use
    # it (refusing the broadcast) instead of re-counting
    saved = spark_util._MEASURED_MEMO[key]
    try:
        spark_util._MEASURED_MEMO[key] = 10**12
        region2 = load_table(spark, sf_dir, "region").select("r_regionkey")
        out = adaptive_broadcast(region2)
        plan = out._jdf.queryExecution().logical().toString()
        assert "Hint" not in plan, "memo ignored: fresh count broadcast"
        assert spark_util._MEASURED_MEMO[key] == 10**12
    finally:
        spark_util._MEASURED_MEMO[key] = saved


def test_agg_pushdown_fanin_is_measured_once_per_session(spark, sf_dir):
    """The aggregation-pushdown gate measures an edge frame's fan-in
    with a Spark job; compiling the same query again reuses the memoized
    measurement and starts no job at all."""
    from project_graphdb_spark import spark_util
    from project_graphdb_spark.cypher.compiler import compile_cypher
    from project_graphdb_spark.graph.builder import tpch_graph

    g = tpch_graph(spark, sf_dir)
    q = (
        "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
        "RETURN p.p_brand AS brand, count(*) AS n ORDER BY brand"
    )
    compile_cypher(g, q)
    assert any(k[0] == "fanin:dst" for k in spark_util._MEASURED_MEMO)
    sc = spark.sparkContext
    group = "agg_pushdown_second_compile"
    sc.setJobGroup(group, group)
    try:
        compile_cypher(g, q)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_q15_reuses_revenue_exchange(spark, sf_dir):
    """Q15's revenue view feeds both its global max and the join-back
    probe; the view's shuffle must be computed ONCE (ReusedExchange)
    and the quarter slice scanned once — without the shared
    isnotnull(l_suppkey) the probe-side join pushdown makes the two
    subtrees non-identical and the scan+shuffle doubles."""
    df = workload.REGISTRY["top_supplier_quarter_revenue"].fn(
        spark, sf_dir
    )
    df.collect()  # finalize AQE
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan
    assert plan.count("lineitem.parquet") == 1


def test_g_revenue_by_brand_preaggregates_below_part_join(spark, sf_dir):
    """r10 (SCALE.md finding 23): revenue pre-aggregates per edge dst
    (partkey) BELOW the Part join — sf10-measured −21% wall / −52%
    shuffle vs join-first at ~30 edges/key."""
    df = workload.REGISTRY["g_revenue_by_brand"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    jidx = next(i for i, l in enumerate(lines) if "Join" in l)
    aidx = [i for i, l in enumerate(lines) if "Aggregate" in l]
    assert min(aidx) < jidx < max(aidx), plan


def test_classify_bnlj_three_ways(spark, sf_dir):
    """The size-aware nested-loop classifier (r10, VERDICT r9 nit #5):
    global-aggregate builds and literal-keyed builds count as bounded;
    a genuine unbounded cross product flags cartesian."""
    from project_graphdb_spark.io.tables import load_table
    from project_graphdb_spark.spark_util import classify_bnlj, materialize

    # global-scalar cutoff (Q22 shape): bounded, not cartesian
    q22 = workload.REGISTRY["idle_rich_customers_by_nation"].fn(
        spark, sf_dir
    )
    materialize(q22)
    c = classify_bnlj(q22)
    assert c["bnlj_bounded"] >= 1 and not c["cartesian"], c

    # literal-keyed probe (brute ANN): bounded, not cartesian
    ann = workload.REGISTRY["ann_cosine_top10"].fn(spark, sf_dir)
    materialize(ann)
    c = classify_bnlj(ann)
    assert c["bnlj_bounded"] >= 1 and not c["cartesian"], c

    # a genuine unbounded cross product must flag
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey")
    cross = n.crossJoin(r.hint("broadcast"))
    materialize(cross)
    c = classify_bnlj(cross)
    assert c["cartesian"] and c["bnlj_unbounded"] >= 1, c


def test_registered_workload_has_no_unbounded_cartesian(spark, sf_dir):
    """Every query previously hand-adjudicated as a harmless 1-row
    BNLJ must now classify bounded — and none may be unbounded."""
    from project_graphdb_spark.spark_util import classify_bnlj

    for name in (
        "idle_rich_customers_by_nation",
        "doc_tfidf_terms",
        "ann_cosine_top10",
        "knn_join_top3",
        "ev_asof_purchase_before_click",
        "emb_label_confusion_pairs",
    ):
        df = workload.REGISTRY[name].fn(spark, sf_dir)
        df.collect()
        c = classify_bnlj(df)
        assert not c["cartesian"], (name, c)
        assert c["bnlj_unbounded"] == 0, (name, c)


def test_confusion_pairs_bnlj_structurally_bounded(spark, sf_dir):
    """r11 (VERDICT r10 ask #2): the label-confusion pair join was the
    sweep's only ``bnlj_unbounded`` reading — safe in fact (|labels|²
    output) but invisible to the structural classifier. The enforced
    CONFUSION_MAX_LABELS collect-as-guard + literal pair domain must
    make the plan read bounded with zero hand adjudication (checked
    under BOTH actions — AQE re-optimization after collect() was what
    erased the first cut's GlobalLimit evidence), and the guard must
    actually fire on an oversized label domain."""
    import pytest

    from project_graphdb_spark.operators import similarity
    from project_graphdb_spark.spark_util import classify_bnlj, materialize

    df = workload.REGISTRY["emb_label_confusion_pairs"].fn(spark, sf_dir)
    materialize(df)
    c = classify_bnlj(df)
    assert c["bnlj_bounded"] >= 1, c
    assert c["bnlj_unbounded"] == 0 and not c["cartesian"], c

    df2 = workload.REGISTRY["emb_label_confusion_pairs"].fn(spark, sf_dir)
    df2.collect()
    c2 = classify_bnlj(df2)
    assert c2["bnlj_unbounded"] == 0 and not c2["cartesian"], c2

    orig = similarity.CONFUSION_MAX_LABELS
    similarity.CONFUSION_MAX_LABELS = 1  # below any real label domain
    try:
        with pytest.raises(ValueError, match="exceed the enforced"):
            workload.REGISTRY["emb_label_confusion_pairs"].fn(
                spark, sf_dir
            )
    finally:
        similarity.CONFUSION_MAX_LABELS = orig


def test_winnow_fast_kernels_not_duplicated(spark, sf_dir):
    """finding-22 guard for the token-hash-fold winnow tier: the
    optimized plan must carry exactly ONE xxhash64 map and ONE
    tokenize split — CollapseProject inlining either into multiple
    references is the measured ~11x pathology class."""
    from project_graphdb_spark.io.tables import load_table
    from project_graphdb_spark.operators.dedup import _winnow_sels_fast

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = (
        _winnow_sels_fast(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("xxhash64(") == 1, plan.count("xxhash64(")
    assert plan.count("split(") == 1, plan.count("split(")
