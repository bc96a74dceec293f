"""Structural persist-leak gate (r10, VERDICT r9 ask #7).

r9 fixed the lingering dup-span persists by hand (`corpus._LINGERING`);
this gate makes the CLASS structural: every registered query is run and
materialized, the DOCUMENTED session caches are released (the dup-span
one-slot lingering window and the `_persisted_memo` index frames —
shingles / MinHash signatures / BM25 + tf-idf postings / PQ codes / IVF
assignment), and the block manager must then hold NO persistent RDD
that was not already registered before the query ran. A reintroduced
leak — a `persist()` whose frame neither unpersists in-scope nor
registers with a documented release path — fails here by name, for any
FUTURE registry addition too.
"""

from __future__ import annotations

import pytest

from project_graphdb_spark import workload
from project_graphdb_spark.spark_util import (
    materialize,
    persistent_rdd_ids,
    release_lingering,
)

workload._ensure_loaded()


def _release_documented_caches() -> None:
    from project_graphdb_spark.operators.dedup import clear_shingle_cache

    release_lingering()
    clear_shingle_cache()


def test_no_query_leaks_persistent_rdds(spark, sf_dir):
    """Run EVERY registered query; after releasing the documented
    caches, the persistent-RDD set must return to (a subset of) its
    pre-query state."""
    sc = spark.sparkContext
    # other tests share this session — start from a clean slate so a
    # foreign block can't mask or fake a leak
    _release_documented_caches()
    leaks: dict[str, set[int]] = {}
    for name, qd in workload.REGISTRY.items():
        before = persistent_rdd_ids(sc)
        materialize(qd.fn(spark, sf_dir))
        _release_documented_caches()
        leaked = persistent_rdd_ids(sc) - before
        if leaked:
            leaks[name] = leaked
            # free them so one leaker can't cascade into later names
            from project_graphdb_spark.spark_util import unpersist_ids

            unpersist_ids(sc, leaked, blocking=True)
    assert not leaks, f"queries leaked persistent RDDs: {leaks}"
    # r12: the registry-wide run also exercises every galg query's
    # bucketed adjacency — after the explicit release hook the
    # warehouse must hold no pregel_edges_* table (cache-owned tables
    # are NOT leaks while cached; unreleased ones would be)
    from project_graphdb_spark.graph.algorithms import (
        release_edge_layouts,
    )

    release_edge_layouts(spark)
    leftover = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("pregel_edges_")
    ]
    assert not leftover, f"unreleased bucketed edge tables: {leftover}"


def _chain(spark):
    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "id string"
    )
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    return verts, edges


def _run_pregel(spark, sf_dir):
    from pyspark.sql import functions as F

    from project_graphdb_spark.graph import algorithms as alg

    verts, edges = _chain(spark)
    alg.pregel(
        verts,
        edges,
        initial={"x": F.col("id")},
        message=F.col("v_x"),
        agg=F.min("__msg"),
        update={"x": F.coalesce(F.col("__agg"), F.col("x"))},
        max_iter=5,
        telemetry_name="injected_failure",
    )


def _run_k_core(spark, sf_dir):
    from project_graphdb_spark.graph import algorithms as alg

    # a path peels in two rounds at k=2: the ends, then the middle
    alg.k_core(k=2, edges=_chain(spark)[1])


def _run_multi_source_hops(spark, sf_dir):
    from project_graphdb_spark.graph import algorithms as alg

    roots = spark.createDataFrame([("a",)], "root string")
    alg.multi_source_hops(_chain(spark)[1], roots, max_depth=3)


def _run_bfs_distances(spark, sf_dir):
    from project_graphdb_spark.graph import algorithms as alg
    from project_graphdb_spark.graph.builder import tpch_graph

    alg.bfs_distances(tpch_graph(spark, sf_dir), "Customer:1", max_depth=3)


def _run_bpe_train(spark, sf_dir):
    from project_graphdb_spark.operators.corpus import bpe_train

    docs = spark.createDataFrame(
        [("abab abab cdcd cdcd abab",)], "text string"
    )
    bpe_train(docs, n_merges=4, min_freq=2)


@pytest.mark.parametrize(
    "run_loop, layout",
    [
        pytest.param(_run_pregel, "bucketed", id="pregel-bucketed"),
        pytest.param(_run_pregel, "checkpoint", id="pregel-checkpoint"),
        pytest.param(_run_k_core, "checkpoint", id="k_core"),
        pytest.param(
            _run_multi_source_hops, "bucketed", id="multi_source_hops-bucketed"
        ),
        pytest.param(
            _run_multi_source_hops,
            "checkpoint",
            id="multi_source_hops-checkpoint",
        ),
        pytest.param(_run_bfs_distances, "bucketed", id="bfs_distances"),
        pytest.param(_run_bpe_train, "checkpoint", id="bpe_train"),
    ],
)
def test_injected_superstep_failure_leaves_clean_state(
    spark, sf_dir, monkeypatch, run_loop, layout
):
    """A superstep that raises mid-loop — here right after superstep
    2's first checkpoint landed, the window where fresh blocks exist
    but the loop has not used them yet — must not strand any
    checkpoint block: the superseded state, the fresh state, kept
    per-level blocks and checkpoint-layout edge blocks are all freed
    on the way out. A bucketed edge table written before the failure
    stays CACHE-owned (reusable by a retry), and the release hook
    leaves a clean warehouse."""
    from project_graphdb_spark.graph import algorithms as alg

    monkeypatch.setattr(
        alg, "_EDGE_LAYOUT_MIN_BYTES", 0 if layout == "bucketed" else 1 << 62
    )
    armed = [False]
    real_steps = alg.Supersteps.supersteps
    real_checkpoint = alg.Supersteps.checkpoint

    def steps(self, n):
        for i in real_steps(self, n):
            armed[0] = i >= 1
            yield i

    def checkpoint(self, df, slot, *args, **kwargs):
        out = real_checkpoint(self, df, slot, *args, **kwargs)
        if armed[0]:
            raise RuntimeError("injected superstep failure")
        return out

    monkeypatch.setattr(alg.Supersteps, "supersteps", steps)
    monkeypatch.setattr(alg.Supersteps, "checkpoint", checkpoint)
    alg.release_edge_layouts(spark)
    sc = spark.sparkContext
    before = persistent_rdd_ids(sc)
    with pytest.raises(RuntimeError, match="injected"):
        run_loop(spark, sf_dir)
    assert armed[0], "the loop never reached superstep 2"
    assert persistent_rdd_ids(sc) - before == set()
    alg.release_edge_layouts(spark)
    leftover = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("pregel_edges_")
    ]
    assert not leftover, leftover


def test_convergence_job_failure_frees_fresh_checkpoint(
    spark, monkeypatch
):
    """When reading the CONVERGENCE count fails after the superstep's
    state checkpoint succeeded, the freshly checkpointed blocks must be
    freed too, not only the superseded state. The count rides the
    checkpoint job as an observation, so the failure is injected into
    the observed read."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from project_graphdb_spark.graph import algorithms as alg

    alg.release_edge_layouts(spark)
    sc = spark.sparkContext
    verts = spark.createDataFrame([("a",), ("b",), ("c",)], "id string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    before = persistent_rdd_ids(sc)

    def boom(self):
        raise RuntimeError("injected convergence-count failure")

    monkeypatch.setattr(Observation, "get", property(boom))
    with pytest.raises(RuntimeError, match="injected convergence"):
        alg.pregel(
            verts,
            edges,
            initial={"x": F.col("id")},
            message=F.col("v_x"),
            agg=F.min("__msg"),
            update={"x": F.coalesce(F.col("__agg"), F.col("x"))},
            max_iter=5,
            converge_on="x",
            telemetry_name="injected_convergence_failure",
        )
    assert persistent_rdd_ids(sc) - before == set()
    alg.release_edge_layouts(spark)
