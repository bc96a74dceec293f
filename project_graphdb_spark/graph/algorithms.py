"""Iterative graph algorithms on DataFrames (Pregel-style).

SURVEY.md §2.E / BASELINE.json north star: batch graph analytics via an
aggregate-messages loop — join vertices to edges, aggregate messages at
the destination, update vertex state, repeat. The reference never runs
these (its graph analytics are delegated to Neo4j and never exercised);
they complete the "graph database capability" surface.

Scale design:

* Every iterative algorithm is one per-superstep plan run by the
  :class:`Supersteps` driver, which owns the edge layout, the
  checkpoints of superstep state and their release (also when a
  superstep raises), and per-superstep timing.
* Each iteration is one shuffle (join on vertex id) + one aggregation.
  Vertex state is narrow (id + a few scalars).
* Every superstep's state is checkpointed, which cuts the lineage chain
  — without it the plan doubles per iteration and the optimizer chokes
  long before 100 TB. On a cluster, ``GRAPHDB_SPARK_CHECKPOINT_DIR``
  switches to reliable ``checkpoint`` backed by HDFS/object storage.
* Convergence checks (``changed == 0``) are FUSED into the update
  projection: a ``__changed`` flag column computed where old and new
  state are both in scope, summed over the just-checkpointed frame —
  one narrow agg per iteration, never a new-state ⋈ old-state join.

The measurements behind the layout and pinning choices are SCALE.md
findings 30 and 34–36 (and the size tier in OPTIMIZATION_r14.md).

Vertex ids are ``"Label:key"`` strings so the whole heterogeneous graph
unions into one id space (same construction as the oracle SQL).
"""

from __future__ import annotations

import os
import threading
import time

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from project_graphdb_spark.graph.property_graph import PropertyGraph
from project_graphdb_spark.spark_util import (
    CKPT_LOCK,
    linger_ids,
    persistent_rdd_ids,
    unpersist_ids,
)

# Per-superstep wall-times of the most recent successful run of each
# iterative algorithm, keyed by algorithm name. Every superstep ends in
# an eager checkpoint (and, when converging, an eager count), so the
# loop body boundaries ARE the superstep boundaries and a perf_counter
# pair per superstep is an accurate timer. The scale-bench tooling
# (tools/run_iterative_bench.py) and perfbench read this to report how
# superstep cost grows with data size.
LAST_ITER_SECONDS: dict[str, list[float]] = {}


def _ckpt(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """Eager localCheckpoint that also reports which block-manager RDD
    ids the checkpoint created, so the caller can free superseded
    superstep state.

    Why: ``localCheckpoint`` pins its blocks until the RDD is GC'd, and
    the Python-side DataFrame wrapper gives no handle on the underlying
    checkpointed RDD — so without tracking, an N-iteration algorithm
    pins N copies of vertex state in block storage. Harmless-looking at
    test scale, but measurably toxic even at sf0.1: running the seven
    galg_* algorithms back-to-back in one session made late BFS
    supersteps ~12x slower (31s vs 2.5s) from eviction/GC pressure —
    and at 100 TB it is an executor OOM. The before/diff/after window
    is serialized by ``spark_util.CKPT_LOCK`` so concurrent algorithm
    runs on a shared session cannot capture (and later free) each
    other's checkpoint ids; foreign persists racing the window remain
    the caller's responsibility.

    Cluster mode: when ``GRAPHDB_SPARK_CHECKPOINT_DIR`` is set, the
    superstep state goes through RELIABLE ``checkpoint`` into that
    directory (HDFS / object storage on a real cluster) instead of
    ``localCheckpoint``. That removes the executor/driver block-storage
    pressure entirely — state lives in files, not the block manager —
    and survives executor loss, at the price of a write+read round
    trip per checkpoint. The returned id set is empty in this mode
    (there are no superseded block-manager blocks to free); checkpoint
    FILES are reclaimed by Spark's ContextCleaner when
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on, or by
    the cluster's retention policy on the checkpoint root.
    """
    sc = df.sparkSession.sparkContext
    ckpt_dir = os.environ.get("GRAPHDB_SPARK_CHECKPOINT_DIR")
    if ckpt_dir:
        with CKPT_LOCK:
            # setCheckpointDir appends a UUID subdir, so test by
            # prefix; re-setting would scatter state across subdirs
            cur = sc.getCheckpointDir()
            if not cur or ckpt_dir.rstrip("/") not in cur:
                sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=True), set()
    with CKPT_LOCK:
        before = persistent_rdd_ids(sc)
        out = df.localCheckpoint(eager=True)
        return out, persistent_rdd_ids(sc) - before


#: Below this edge-frame size the bucketed table write costs more than
#: the per-iteration edge exchanges it removes, so the frame is
#: checkpointed instead (measured at sf0.01 ≈ 1.3 MB vs sf0.1 ≈ 13 MB;
#: 4 MB splits the two regimes). Tests force a layout by patching it.
_EDGE_LAYOUT_MIN_BYTES = 4 * 1024 * 1024

# Session-scoped bucketed-layout cache: the galg_* family would
# otherwise write (nearly) the same symmetrized edge table once per
# algorithm. The key is the edge frame's ANALYZED-plan identity
# (Catalyst ``semanticHash`` bucket, confirmed by ``sameResult`` —
# exprId-insensitive, so two independent constructions of the same
# frame over the same files collide) plus the bucket count. Contract:
# inputs are immutable for the session (true of the parquet corpora
# everywhere in this repo); `release_edge_layouts` is the explicit
# invalidation/cleanup hook — the persist/warehouse gates and the
# long-running harnesses (bench, driver_sim, scale bench) call it at
# end of run.
_EDGE_TABLE_LOCK = threading.Lock()
_EDGE_TABLES: dict[str, dict[tuple[int, int], list]] = {}
#: counters for the current process — the sweep's structural evidence
#: that the family shares one adjacency write. ``unshareable_writes`` /
#: ``per_run_drops`` count layouts whose plans can never ``sameResult``-
#: hit (LogicalRDD / checkpoint-derived): those are dropped with their
#: run instead of cached, so a healthy sweep shows the two equal.
EDGE_LAYOUT_STATS = {
    "writes": 0,
    "hits": 0,
    "unshareable_writes": 0,
    "per_run_drops": 0,
    "tier_checkpoint_fallbacks": 0,
}


def _edge_buckets(spark) -> int:
    """Bucket count of the edge layout and of the pinned state: the
    session's shuffle-partition count. EnsureRequirements plans the
    update join's state exchange at that count, so any other bucket
    count makes the two state exchanges differ and ReuseExchange never
    fires."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _edge_plan_size_bytes(edges: DataFrame) -> int:
    """Size estimate of the edge frame — metadata-only, no jobs.

    Parquet-rooted plans: the optimizer's ``stats().sizeInBytes`` (file
    sizes, post column pruning). LogicalRDD-rooted plans (checkpointed
    pair graphs — the dedup_clusters family): the LogicalRDD inherits
    the PRE-checkpoint plan's estimate, which for a join output is off
    by orders of magnitude (measured: 25 actual pairs estimated at
    277 MB) — but the checkpoint's blocks are already materialized, so
    sum their exact sizes from the driver's storage registry instead
    (a leaf referenced twice — the symmetrize union — counts twice,
    which is the right multiplicity). A LogicalRDD whose blocks are
    not in the registry falls back to the optimizer estimate
    (conservative: over-estimates keep the bucketed path)."""
    qe = edges._jdf.queryExecution()
    leaves = qe.analyzed().collectLeaves()
    rdd_leaf_ids = []
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            rdd_leaf_ids.append(leaf.rdd().id())
    if rdd_leaf_ids:
        infos = {
            info.id(): info.memSize() + info.diskSize()
            for info in (
                edges.sparkSession.sparkContext._jsc.sc()
                .getRDDStorageInfo()
            )
        }
        if all(rid in infos for rid in rdd_leaf_ids):
            return int(sum(infos[rid] for rid in rdd_leaf_ids))
    return int(qe.optimizedPlan().stats().sizeInBytes())


def _iteration_edges(edges: DataFrame):
    """(edges_frame, cleanup_fn) for an N-iteration join loop.

    bucketed layout (edge frames of at least ``_EDGE_LAYOUT_MIN_BYTES``):
    one src-bucketed, src-sorted table write; every iteration's scan
    then reports HashPartitioning(src)/sorted-by-src, so only the (much
    smaller) vertex-state side shuffles per iteration. The repartition
    before the write aligns task boundaries with bucket boundaries
    (same murmur3 hash), producing one file per bucket — required for
    the scan to also satisfy the SMJ's sort order. Bucketed tables are
    cached per (application, plan identity, bucket count) and reused
    across algorithm invocations in the same session — the returned
    cleanup is then a no-op and ownership passes to
    :func:`release_edge_layouts`. A plan that can never hit the cache
    (see :func:`_plan_shareable`) gets a cleanup that drops its table.

    checkpoint layout (smaller frames): eager localCheckpoint — cached
    blocks, but each iteration pays an Exchange + Sort of the edge side
    into the SMJ; the cleanup frees the blocks. The size comes from
    :func:`_edge_plan_size_bytes`; when the JVM cannot estimate it the
    frame keeps the bucketed layout."""
    try:
        small = _edge_plan_size_bytes(edges) < _EDGE_LAYOUT_MIN_BYTES
    except Py4JError:
        small = False
    if small:
        with _EDGE_TABLE_LOCK:
            EDGE_LAYOUT_STATS["tier_checkpoint_fallbacks"] += 1
        e, ids = _ckpt(edges)
        return e, lambda sc: unpersist_ids(sc, ids)

    spark = edges.sparkSession
    buckets = _edge_buckets(spark)
    jplan = edges._jdf.queryExecution().analyzed()
    if not _plan_shareable(jplan):
        name = _write_bucketed(edges, buckets)
        with _EDGE_TABLE_LOCK:
            EDGE_LAYOUT_STATS["unshareable_writes"] += 1
            EDGE_LAYOUT_STATS["writes"] += 1

        def cleanup(sc):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            with _EDGE_TABLE_LOCK:
                EDGE_LAYOUT_STATS["per_run_drops"] += 1

        return spark.table(name), cleanup

    app = spark.sparkContext.applicationId
    key = (jplan.semanticHash(), buckets)
    with _EDGE_TABLE_LOCK:
        hit = _cached_layout(app, key, jplan)
    if hit is not None:
        return spark.table(hit), _noop_cleanup
    name = _write_bucketed(edges, buckets)
    # The write happens outside the lock on purpose (a corpus-scale
    # write must not serialize unrelated plans), so a concurrent call
    # with the same plan may have won the race meanwhile: the loser
    # drops its duplicate and adopts the winner's table.
    with _EDGE_TABLE_LOCK:
        winner = _cached_layout(app, key, jplan)
        if winner is None:
            EDGE_LAYOUT_STATS["writes"] += 1
            _EDGE_TABLES.setdefault(app, {}).setdefault(key, []).append(
                (jplan, name)
            )
    if winner is not None:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        return spark.table(winner), _noop_cleanup
    _track_table_dir(spark, name)
    _register_atexit()
    return spark.table(name), _noop_cleanup


def _cached_layout(app: str, key: tuple[int, int], jplan) -> str | None:
    """Name of the cached table whose plan ``sameResult``-matches
    ``jplan`` (counted as a hit), or None. Caller holds the lock."""
    for cached_plan, name in _EDGE_TABLES.get(app, {}).get(key, []):
        if cached_plan.sameResult(jplan):
            EDGE_LAYOUT_STATS["hits"] += 1
            return name
    return None


def _write_bucketed(edges: DataFrame, buckets: int) -> str:
    import uuid

    name = f"pregel_edges_{uuid.uuid4().hex[:12]}"
    (
        edges.repartition(buckets, "src")
        .write.bucketBy(buckets, "src")
        .sortBy("src")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(name)
    )
    return name


def _plan_shareable(jplan) -> bool:
    """Whether an analyzed plan can ever ``sameResult``-match a later
    independent construction of the same frame. LogicalRDD leaves
    (localCheckpoint / checkpoint / createDataFrame-from-RDD) compare
    by RDD identity, so a plan rooted in one is unshareable by
    construction — cache ownership would retain its bucketed table for
    the whole session with zero chance of a hit."""
    leaves = jplan.collectLeaves()
    for i in range(leaves.length()):
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD":
            return False
    return True


def _noop_cleanup(sc) -> None:
    """Cleanup stand-in for cache-owned bucketed layouts."""


#: managed-table directories of cache-owned layouts, for the atexit
#: backstop — a caller that exits without release_edge_layouts (a bare
#: driver session, an aborted harness) would otherwise orphan the
#: parquet on disk once the in-memory metastore dies with the JVM
_EDGE_TABLE_DIRS: set[str] = set()
_ATEXIT_REGISTERED = False


def _track_table_dir(spark, name: str) -> None:
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    if wh:
        with _EDGE_TABLE_LOCK:
            _EDGE_TABLE_DIRS.add(os.path.join(wh, name.lower()))


def _register_atexit() -> None:
    global _ATEXIT_REGISTERED
    if _ATEXIT_REGISTERED:
        return
    import atexit

    atexit.register(_atexit_cleanup)
    _ATEXIT_REGISTERED = True


def _atexit_cleanup() -> None:
    """Best-effort file-level backstop at interpreter exit: tables
    released through release_edge_layouts were already dropped (their
    dirs are gone — rmtree on them is a no-op); anything left is an
    orphan-to-be, because the in-memory metastore cannot outlive the
    process while the parquet would."""
    import shutil

    with _EDGE_TABLE_LOCK:
        dirs = list(_EDGE_TABLE_DIRS)
        _EDGE_TABLE_DIRS.clear()
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def release_edge_layouts(spark) -> None:
    """Drop every cached bucketed edge table for this application and
    clear the cache — the explicit release hook for the persist /
    warehouse gates and end-of-run harness teardown."""
    app = spark.sparkContext.applicationId
    with _EDGE_TABLE_LOCK:
        entries = _EDGE_TABLES.pop(app, {})
    for bucket in entries.values():
        for _plan, name in bucket:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


class Supersteps:
    """Driver of one iterative algorithm run: the algorithm writes only
    its per-superstep plan, the driver owns everything around it.

    ``with Supersteps(name, spark, edges) as run:``

    * ``run.edges`` is the iteration layout of ``edges``
      (:func:`_iteration_edges`); checkpoint-layout blocks or a
      per-run table are released when the block exits, whichever way.
    * ``run.checkpoint(df, slot)`` eagerly checkpoints ``df`` and holds
      its blocks under ``slot``, freeing the blocks the slot held
      before — the superseded state. Distinct slots keep several frames
      alive at once (the per-level blocks a BFS union reads);
      ``run.free(slot)`` releases one early.
    * ``for i in run.supersteps(n)`` yields ``0..n-1`` and times each
      superstep, including one left by ``break``.

    On a clean exit the timings go to ``LAST_ITER_SECONDS[name]`` and
    the blocks still held back the result, so they are handed to
    :func:`linger_ids`. If a superstep raises, every held block is
    freed before the exception propagates.
    """

    def __init__(self, name: str, spark, edges: DataFrame | None = None):
        self.name = name
        self.sc = spark.sparkContext
        self.edges = edges
        self._edge_cleanup = _noop_cleanup
        self._held: dict[str, set[int]] = {}
        self._secs: list[float] = []

    def __enter__(self) -> Supersteps:
        if self.edges is not None:
            self.edges, self._edge_cleanup = _iteration_edges(self.edges)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        held = set().union(*self._held.values())
        self._held.clear()
        try:
            if exc_type is None:
                LAST_ITER_SECONDS[self.name] = [
                    round(s, 3) for s in self._secs
                ]
                linger_ids(self.sc, held)
            else:
                unpersist_ids(self.sc, held)
        finally:
            self._edge_cleanup(self.sc)

    def checkpoint(self, df: DataFrame, slot: str) -> DataFrame:
        out, ids = _ckpt(df)
        superseded = self._held.get(slot, set())
        self._held[slot] = ids
        unpersist_ids(self.sc, superseded)
        return out

    def free(self, slot: str) -> None:
        unpersist_ids(self.sc, self._held.pop(slot, set()))

    def supersteps(self, n: int):
        for i in range(n):
            t0 = time.perf_counter()
            try:
                yield i
            finally:
                self._secs.append(time.perf_counter() - t0)


def unified_vertices(graph: PropertyGraph) -> DataFrame:
    """(id) — all nodes in the 'Label:key' id space."""
    frames = []
    for label, df in graph.nodes.items():
        key = graph.schema.node(label).key
        frames.append(
            df.select(
                F.concat_ws(
                    ":", F.lit(label), F.col(key).cast("string")
                ).alias("id")
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def unified_edges(graph: PropertyGraph, undirected: bool = False) -> DataFrame:
    """(src, dst) in the unified id space; optionally symmetrized."""
    frames = []
    for rel_type, ef in graph.edges.items():
        meta = ef.meta
        e = ef.df.select(
            F.concat_ws(
                ":", F.lit(meta.source), F.col("src").cast("string")
            ).alias("src"),
            F.concat_ws(
                ":", F.lit(meta.target), F.col("dst").cast("string")
            ).alias("dst"),
        )
        frames.append(e)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    out = out.distinct()
    if undirected:
        out = out.unionByName(
            out.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    return out


def degrees(graph: PropertyGraph) -> DataFrame:
    """(id, in_degree, out_degree, degree) over the unified graph."""
    edges = unified_edges(graph)
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_degree")
    )
    in_deg = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("in_degree")
    )
    verts = unified_vertices(graph)
    return (
        verts.join(out_deg, "id", "left")
        .join(in_deg, "id", "left")
        .na.fill(0, ["in_degree", "out_degree"])
        .withColumn("degree", F.col("in_degree") + F.col("out_degree"))
    )


def _pin_state(state: DataFrame) -> DataFrame:
    """Hash-pin the superstep's vertex-state frame to the edge bucket
    spec, so a state frame consumed by several joins moves once.

    ``localCheckpoint`` does NOT carry outputPartitioning through to
    the LogicalRDD under AQE in this Spark (``Scan ExistingRDD`` plans
    as UnknownPartitioning), so every superstep shuffles state at least
    once; without the pin EnsureRequirements plans one Exchange per
    consumer. Routing every consumer through ONE shared subtree —
    explicit null-filter INSIDE it (an inner join pushes ``isnotnull``
    into one branch only, which de-canonicalizes the pair), then an
    explicit ``repartition(buckets, id)`` — makes the exchanges
    canonically identical, so ReuseExchange plans one physical shuffle
    plus ReusedExchanges. REPARTITION_BY_NUM is exempt from AQE
    coalescing, so the partitions stay co-partitioned with the bucketed
    edge layout. The null-filter is a no-op semantically: vertex ids
    are ``concat_ws``-built (never null) in every caller.

    Only the rank loop pins: its state has three consumers per
    superstep and pinning measured faster there, while the
    two-consumer pregel shape measured slower pinned (SCALE.md
    finding 35)."""
    return state.filter(F.col("id").isNotNull()).repartition(
        _edge_buckets(state.sparkSession), "id"
    )


def send_messages(
    state: DataFrame, edges: DataFrame, message: Column
) -> DataFrame:
    """Un-aggregated message pass: (id, __msg) per in-edge of each
    destination. ``message`` sees edge columns + ``v_<state>``."""
    src_state = state.select(
        F.col("id").alias("__src_id"),
        *[F.col(c).alias(f"v_{c}") for c in state.columns if c != "id"],
    )
    return edges.join(src_state, edges.src == F.col("__src_id")).select(
        F.col("dst").alias("id"), message.alias("__msg")
    )


def aggregate_messages(
    state: DataFrame, edges: DataFrame, message: Column, agg: Column
) -> DataFrame:
    """One superstep's message pass: join source-vertex state onto the
    edges (state columns visible as ``v_<col>``), evaluate ``message``
    per edge, aggregate at the destination. Returns (id, __agg).

    This is the aggregate-messages primitive every Pregel-style
    algorithm below is built from — one shuffle (the join) plus one
    aggregation per superstep.
    """
    return (
        send_messages(state, edges, message)
        .groupBy("id")
        .agg(agg.alias("__agg"))
    )


def pregel(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    initial: dict[str, Column],
    message: Column,
    agg: Column,
    update: dict[str, Column],
    max_iter: int = 20,
    converge_on: str | None = None,
    telemetry_name: str = "pregel",
) -> DataFrame:
    """Generic Pregel loop on DataFrames.

    ``initial``: state columns over the vertex frame (may use ``id``).
    ``message``: per-edge expression over edge columns + ``v_<state>``.
    ``agg``: aggregation over ``__msg`` (e.g. ``F.min("__msg")``).
    ``update``: new state columns over old state + ``__agg`` (null when
    a vertex received no messages).
    ``converge_on``: state column — stop when no row changes it.

    Each superstep checkpoints the state (lineage stays flat); the
    convergence check is a fused ``__changed`` flag summed over the
    just-checkpointed frame (no extra join job).
    """
    proj = ["id"] + [col.alias(name) for name, col in update.items()]
    if converge_on is not None:
        proj.append(
            (~update[converge_on].eqNullSafe(F.col(converge_on)))
            .cast("int")
            .alias("__changed")
        )
    with Supersteps(telemetry_name, vertices.sparkSession, edges) as run:
        state = run.checkpoint(
            vertices.select(
                "id", *[col.alias(name) for name, col in initial.items()]
            ),
            "state",
        )
        for _ in run.supersteps(max_iter):
            msgs = aggregate_messages(state, run.edges, message, agg)
            state = run.checkpoint(
                state.join(msgs, "id", "left").select(*proj), "state"
            )
            if converge_on is not None:
                changed = state.agg(
                    F.coalesce(F.sum("__changed"), F.lit(0))
                ).collect()[0][0]
                state = state.drop("__changed")
                if changed == 0:
                    break
    return state


def connected_components(
    graph: PropertyGraph | None = None,
    vertices: DataFrame | None = None,
    edges: DataFrame | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """(id, component) — min-id label propagation to a fixed point,
    expressed on the generic :func:`pregel` driver.

    Accepts either a PropertyGraph (uses its undirected unified view) or
    explicit (vertices, edges) frames with columns (id) / (src, dst).
    """
    if graph is not None:
        vertices = unified_vertices(graph)
        # already symmetrized + distinct — re-symmetrizing would just
        # double the frame and distinct it back (an extra shuffle)
        edges = unified_edges(graph, undirected=True)
    else:
        assert vertices is not None and edges is not None
        edges = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()

    return pregel(
        vertices,
        edges,
        initial={"component": F.col("id")},
        message=F.col("v_component"),
        agg=F.min("__msg"),
        update={
            "component": F.least(
                F.col("component"),
                F.coalesce(F.col("__agg"), F.col("component")),
            )
        },
        max_iter=max_iter,
        converge_on="component",
        telemetry_name="connected_components",
    )


def k_core(
    graph: PropertyGraph | None = None,
    k: int = 3,
    edges: DataFrame | None = None,
    max_iter: int = 30,
) -> DataFrame:
    """(id, core_degree) — vertices of the k-core with their degree in
    the core subgraph: iteratively peel vertices whose surviving
    degree is < k until a fixed point (Matula-Beck peeling).

    Peeling is DELTA-based over a CANONICAL undirected edge list: the
    edge set is stored once as ``(a, b) = (least, greatest)`` — half
    the rows of a symmetrized frame, deduping reciprocal pairs the
    same way the symmetrize+distinct formulation did — checkpointed
    once and never rewritten. Per-round state is only the vertex-sized
    ``(id, deg)`` frame. Each round finds the frontier (survivors with
    deg < k), probes the static canonical frame with it from both
    endpoint sides (semi-joins whose build side is the frontier — the
    edge frame is never shuffled after its one canonicalization), and
    subtracts the resulting per-neighbor counts from the surviving
    degrees. An edge between vertices removed in different rounds is
    counted exactly once against each still-surviving endpoint, so the
    running ``deg`` always equals the degree in the current core
    subgraph — recounting ALL surviving degrees from the full
    symmetric frame every round costs one full-E shuffle + an E-sized
    checkpoint per round (measured 3.4x at 10x data, the recount
    dominating late near-empty rounds). Convergence = empty frontier, a
    count on the vertex frame. A self-loop counts 1 toward its vertex's
    degree (as in the symmetric-distinct formulation, which kept
    exactly one ``u->u`` row).
    """
    if graph is not None:
        directed = unified_edges(graph)
    else:
        assert edges is not None
        directed = edges.select("src", "dst").distinct()
    with Supersteps("k_core", directed.sparkSession) as run:
        canon = run.checkpoint(
            directed.select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            ).distinct(),
            "canon",
        )
        ends = canon.select(F.col("a").alias("id")).unionAll(
            canon.filter(F.col("a") != F.col("b")).select(
                F.col("b").alias("id")
            )
        )
        deg = run.checkpoint(
            ends.groupBy("id").agg(F.count("*").alias("deg")), "deg"
        )
        for _ in run.supersteps(max_iter):
            removed = deg.filter(F.col("deg") < k)
            if removed.count() == 0:
                break
            nbr = canon.join(
                removed.select(F.col("id").alias("a")), "a", "left_semi"
            ).select(F.col("b").alias("id")).unionAll(
                canon.join(
                    removed.select(F.col("id").alias("b")), "b", "left_semi"
                ).select(F.col("a").alias("id"))
            )
            delta = nbr.groupBy("id").agg(F.count("*").alias("__delta"))
            survivors = deg.filter(F.col("deg") >= k)
            deg = run.checkpoint(
                survivors.join(delta, "id", "left").select(
                    "id",
                    (F.col("deg") - F.coalesce("__delta", F.lit(0))).alias(
                        "deg"
                    ),
                ),
                "deg",
            )
        out = run.checkpoint(
            deg.select("id", F.col("deg").cast("bigint").alias("core_degree")),
            "out",
        )
        run.free("deg")
        run.free("canon")
    return out


def label_propagation(
    graph: PropertyGraph | None = None,
    vertices: DataFrame | None = None,
    edges: DataFrame | None = None,
    max_iter: int = 5,
) -> DataFrame:
    """(id, community) — community detection: each vertex adopts the
    modal label among its neighbors, deterministically (ties break to
    the smallest label — synchronous LP with arbitrary tie-breaks is
    unstable). Fixed iteration count: LP has no convergence guarantee."""
    from pyspark.sql import Window as W

    if graph is not None:
        vertices = unified_vertices(graph)
        edges = unified_edges(graph, undirected=True)
    assert vertices is not None and edges is not None
    w = W.partitionBy("id").orderBy(F.desc("__n"), F.asc("__msg"))
    with Supersteps("label_propagation", vertices.sparkSession, edges) as run:
        state = run.checkpoint(
            vertices.select("id", F.col("id").alias("community")), "state"
        )
        for _ in run.supersteps(max_iter):
            counts = (
                send_messages(state, run.edges, F.col("v_community"))
                .groupBy("id", "__msg")
                .agg(F.count("*").alias("__n"))
            )
            best = (
                counts.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select("id", F.col("__msg").alias("__agg"))
            )
            state = run.checkpoint(
                state.join(best, "id", "left").select(
                    "id",
                    F.coalesce(F.col("__agg"), F.col("community")).alias(
                        "community"
                    ),
                ),
                "state",
            )
    return state


def triangle_count(
    graph: PropertyGraph | None = None,
    edges: DataFrame | None = None,
) -> DataFrame:
    """One-row (n_triangles) over the undirected unified graph.

    Degree-ordered formulation (the production-scale variant of the
    canonical-orientation count): orient every undirected edge from its
    lower-``(degree, id)`` endpoint to the higher one, enumerate wedges
    at the LOWEST-ranked vertex (pairs of its out-neighbors), and close
    them against the oriented edge set. Each triangle is found exactly
    once — at its minimum-rank corner, whose two out-edges form the
    wedge and whose opposite edge is oriented low→high by the same
    total order.

    Why this beats id-orientation at scale: with id order a hot vertex
    b contributes ``|{a<b}| × |{c>b}|`` wedges — O(d²) on the planted
    10×-degree keys. Degree orientation gives every vertex out-degree
    ≤ O(√m) (arboricity bound), so wedge volume is ≤ m^1.5 *regardless
    of skew* and the hot vertices contribute ~zero wedges (all their
    edges point INTO them). Cost: two narrow degree joins to rank
    endpoints — linear, and dwarfed by the wedge-volume savings
    (sf1 measured 16.4 s → see SCALE.md for the post-change number).
    """
    if graph is not None:
        edges = unified_edges(graph, undirected=True)
    assert edges is not None
    canon = edges.filter(F.col("src") < F.col("dst"))
    deg = (
        canon.select(F.col("src").alias("id"))
        .unionByName(canon.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    ranked = canon.join(
        deg.select(F.col("id").alias("src"), F.col("deg").alias("sdeg")),
        "src",
    ).join(
        deg.select(F.col("id").alias("dst"), F.col("deg").alias("ddeg")),
        "dst",
    )
    # total order: (degree, id) — struct comparison is lexicographic
    s_ord = F.struct(F.col("sdeg").alias("d"), F.col("src").alias("i"))
    d_ord = F.struct(F.col("ddeg").alias("d"), F.col("dst").alias("i"))
    src_low = s_ord < d_ord
    oriented = ranked.select(
        F.when(src_low, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(src_low, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(src_low, d_ord).otherwise(s_ord).alias("v_ord"),
    )
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.u") == F.col("o2.u"))
        & (F.col("o1.v_ord") < F.col("o2.v_ord")),
    ).select(F.col("o1.v").alias("u"), F.col("o2.v").alias("v"))
    closing = oriented.select("u", "v")
    return wedges.join(closing, ["u", "v"]).agg(
        F.count("*").alias("n_triangles")
    )


def _rank_loop(
    name: str,
    vertices: DataFrame,
    edges: DataFrame,
    teleport: Column,
    iterations: int,
    damping: float,
) -> DataFrame:
    """(id, rank) — power iteration with restart: each superstep every
    vertex passes ``damping`` of its rank along its out-edges, and the
    rest — plus ``damping`` of the mass parked on dangling vertices —
    restarts at the ``teleport`` distribution (a per-vertex column over
    ``id`` that sums to 1, which is also the starting rank). Fixed
    iteration count keeps the plan deterministic."""
    with Supersteps(name, vertices.sparkSession, edges) as run:
        edges = run.edges
        out_deg = edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("out_degree")
        )
        state = run.checkpoint(
            vertices.join(out_deg, "id", "left")
            .na.fill(0, ["out_degree"])
            .withColumn("rank", teleport),
            "state",
        )
        for _ in run.supersteps(iterations):
            # contribs join, dangling agg and the update join all
            # consume ONE physical state exchange — see _pin_state
            pinned = _pin_state(state)
            contribs = (
                edges.join(pinned, edges.src == pinned.id)
                .select(
                    "dst", (F.col("rank") / F.col("out_degree")).alias("c")
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("c").alias("received"))
            )
            # a one-row frame broadcast-cross-joined into the update
            # (not .collect()ed), so the superstep stays one lazy plan
            # with no extra driver job
            dangling = pinned.filter(F.col("out_degree") == 0).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dangling_m")
            )
            # the state is referenced twice (dangling subtree + update),
            # so un-checkpointed lineage would double per superstep
            state = run.checkpoint(
                pinned.drop("rank")
                .join(contribs, "id", "left")
                .crossJoin(F.broadcast(dangling))
                .withColumn(
                    "rank",
                    teleport
                    * (
                        F.lit(1.0 - damping)
                        + F.lit(damping) * F.col("__dangling_m")
                    )
                    + F.lit(damping)
                    * F.coalesce(F.col("received"), F.lit(0.0)),
                )
                .drop("received", "__dangling_m"),
                "state",
            )
    return state.select("id", "rank")


def pagerank(
    graph: PropertyGraph,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """(id, rank) — classic power iteration with dangling-mass
    redistribution, fixed iteration count (deterministic plan shape):
    the rank loop with the uniform teleport vector ``1/n``."""
    vertices = unified_vertices(graph)
    return _rank_loop(
        "pagerank",
        vertices,
        unified_edges(graph),
        F.lit(1.0 / vertices.count()),
        iterations,
        damping,
    )


def personalized_pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    source_id: str,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """(id, rank) — random walk with restart to a single source
    (personalized PageRank, the standard graph-similarity /
    recommendation primitive): the rank loop with the teleport vector
    concentrated on ``source_id``, so dangling mass restarts at the
    source too and ranks measure proximity to the source rather than
    global centrality. Vertices unreachable from the source keep
    rank 0 — exact, not an artifact."""
    return _rank_loop(
        "personalized_pagerank",
        vertices,
        edges,
        F.when(F.col("id") == source_id, F.lit(1.0)).otherwise(F.lit(0.0)),
        iterations,
        damping,
    )


def shortest_paths(
    vertices: DataFrame,
    edges: DataFrame,
    start_id: str,
    max_iter: int = 20,
) -> DataFrame:
    """(id, dist) — single-source shortest paths over weighted directed
    edges (columns src, dst, weight), Bellman-Ford-style min-plus
    relaxation on the Pregel driver. Unreachable vertices keep dist
    null. Non-negative weights assumed (no negative-cycle detection)."""
    INF = float("inf")
    out = pregel(
        vertices,
        edges,
        initial={
            "dist": F.when(F.col("id") == start_id, F.lit(0.0)).otherwise(
                F.lit(INF)
            )
        },
        message=F.col("v_dist") + F.col("weight"),
        agg=F.min("__msg"),
        update={
            "dist": F.least(
                F.col("dist"), F.coalesce(F.col("__agg"), F.col("dist"))
            )
        },
        max_iter=max_iter,
        converge_on="dist",
        telemetry_name="shortest_paths",
    )
    return out.select(
        "id",
        F.when(F.col("dist") == INF, F.lit(None)).otherwise(
            F.col("dist")
        ).alias("dist"),
    )


def _hops(
    name: str, edges: DataFrame, sources: DataFrame, max_depth: int
) -> DataFrame:
    """(root, id, dist) frontier expansion from every ``root`` at once
    — see :func:`multi_source_hops`."""
    with Supersteps(name, sources.sparkSession, edges) as run:
        edges = run.edges
        visited = run.checkpoint(
            sources.select(
                "root", F.col("root").alias("id"), F.lit(0).alias("dist")
            ),
            "level0",
        )
        # ``visited`` stays a LAZY union of the per-level checkpointed
        # frontier frames: each union leaf is a checkpoint scan, so
        # lineage stays O(depth) and no row is ever written twice
        # (re-materializing the growing visited set every level would
        # be O(levels x |visited|) copy work). The level blocks back
        # the returned frame.
        frontier = visited
        for step in run.supersteps(max_depth):
            depth = step + 1
            slot = f"level{depth}"
            neighbors = run.checkpoint(
                edges.join(frontier, edges.src == frontier.id)
                .select("root", F.col("dst").alias("id"))
                .distinct()
                .join(visited, ["root", "id"], "left_anti")
                .select("root", "id", F.lit(depth).alias("dist")),
                slot,
            )
            if neighbors.isEmpty():
                run.free(slot)
                break
            visited = visited.unionByName(neighbors)
            frontier = neighbors
    return visited


def multi_source_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int,
) -> DataFrame:
    """(root, id, dist) — BFS hop counts from EVERY source at once.

    ``edges``: (src, dst) in any consistent id space; ``sources``: one
    column ``root`` (= starting vertex ids). The frontier/visited state
    is keyed by (root, id), so a single pass serves all roots — the
    Cypher shortestPath lowering uses this with the anchored endpoint
    set as roots. Each level is one join of the frontier against the
    iteration edge layout (above the size tier the family's shared
    src-bucketed table, so no level re-exchanges the edge side) and is
    checkpointed, so lineage stays flat. State size is O(sum of
    reachable sets), which is why the compiler anchors BFS on the more
    selective endpoint.
    """
    return _hops("multi_source_hops", edges, sources, max_depth)


def bfs_distances(
    graph: PropertyGraph,
    start_id: str,
    max_depth: int = 6,
    undirected: bool = True,
) -> DataFrame:
    """(id, dist) — breadth-first distances from ``start_id``:
    :func:`multi_source_hops` with the single root ``start_id``."""
    roots = (
        unified_vertices(graph)
        .filter(F.col("id") == start_id)
        .select(F.col("id").alias("root"))
    )
    return _hops(
        "bfs_distances",
        unified_edges(graph, undirected=undirected),
        roots,
        max_depth,
    ).select("id", "dist")
