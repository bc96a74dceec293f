"""Semantic unit tests for the iterative graph algorithms on hand-built
graphs with known answers."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from project_graphdb_spark.graph.algorithms import (
    connected_components,
    pagerank,
)


def _force_layout(monkeypatch, layout: str) -> None:
    """Pin the edge-layout size tier: "bucketed" or "checkpoint"."""
    from project_graphdb_spark.graph import algorithms as alg

    monkeypatch.setattr(
        alg, "_EDGE_LAYOUT_MIN_BYTES", 0 if layout == "bucketed" else 1 << 62
    )


def test_connected_components_two_islands(spark):
    verts = spark.createDataFrame(
        [(v,) for v in ["a", "b", "c", "d", "e", "f"]], "id string"
    )
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "src string, dst string"
    )
    cc = connected_components(vertices=verts, edges=edges)
    comp = {r.id: r.component for r in cc.collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"
    assert comp["f"] == "f"  # isolated vertex = its own component


def test_connected_components_chain_converges(spark):
    """A long path graph needs multiple propagation rounds."""
    n = 12
    verts = spark.createDataFrame(
        [(f"v{i:02d}",) for i in range(n)], "id string"
    )
    edges = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(n - 1)],
        "src string, dst string",
    )
    cc = connected_components(vertices=verts, edges=edges)
    assert {r.component for r in cc.collect()} == {"v00"}


def test_pagerank_simple_cycle(spark, sf_dir):
    """On a k-cycle every vertex has rank 1/k (exact fixed point)."""
    from project_graphdb_spark.graph.builder import build_graph
    from project_graphdb_spark.schema.graph_schema import (
        GraphSchema,
        NodeDef,
        RelationshipDef,
    )

    tbl = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "nid bigint, nxt bigint"
    )
    schema = GraphSchema(
        nodes=[NodeDef(name="N", key="nid", properties=["nxt"], table_names=["t"])],
        relationships=[
            RelationshipDef(
                source="N", target="N", label="NEXT",
                key_s="nid", key_t="nxt", properties=[], table_name="t",
            )
        ],
    )
    g = build_graph(spark, {"t": tbl}, schema)
    pr = pagerank(g, iterations=10)
    ranks = [r.rank for r in pr.collect()]
    assert len(ranks) == 3
    for r in ranks:
        assert abs(r - 1 / 3) < 1e-9
    assert abs(sum(ranks) - 1.0) < 1e-9


def test_pagerank_mass_conserved_on_tpch(spark, sf_dir):
    from project_graphdb_spark.graph.builder import tpch_graph

    g = tpch_graph(spark, sf_dir)
    pr = pagerank(g, iterations=3)
    total = pr.agg(F.sum("rank").alias("s")).collect()[0].s
    assert total == pytest.approx(1.0, abs=1e-6)


def test_pagerank_bucketed_edge_layout_equivalent(
    spark, sf_dir, monkeypatch
):
    """The two edge layouts (bucketed above the size tier, checkpoint
    below it) must be result-identical, and the release hook must drop
    the bucketed run's table."""
    from project_graphdb_spark.graph.builder import tpch_graph

    g = tpch_graph(spark, sf_dir)
    _force_layout(monkeypatch, "checkpoint")
    base = {
        r.id: r.rank for r in pagerank(g, iterations=3).collect()
    }
    _force_layout(monkeypatch, "bucketed")
    bkt = {r.id: r.rank for r in pagerank(g, iterations=3).collect()}
    assert set(base) == set(bkt)
    for k, v in base.items():
        assert bkt[k] == pytest.approx(v, rel=1e-9), k
    # bucketed layouts are session-cache-owned: the release hook
    # must drop every table; nothing survives it
    from project_graphdb_spark.graph.algorithms import release_edge_layouts

    release_edge_layouts(spark)
    leftover = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("pregel_edges_")
    ]
    assert not leftover, leftover


def test_bucketed_edge_layout_shared_across_invocations(
    spark, sf_dir, monkeypatch
):
    """Repeated algorithm runs over the same
    edge frame must REUSE one bucketed table (plan-identity cache), and
    two semantically different frames (directed vs symmetrized) must
    NOT share — then the release hook drops everything."""
    from project_graphdb_spark.graph.algorithms import (
        release_edge_layouts,
        unified_edges,
        unified_vertices,
    )
    from project_graphdb_spark.graph.builder import tpch_graph

    _force_layout(monkeypatch, "bucketed")
    release_edge_layouts(spark)

    def tables():
        return sorted(
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("pregel_edges_")
        )

    g = tpch_graph(spark, sf_dir)
    r1 = {r.id: r.rank for r in pagerank(g, iterations=2).collect()}
    after_first = tables()
    assert len(after_first) == 1, after_first
    # second run, independently constructed graph — same files, same
    # construction => plan-identical => cache hit, zero new writes
    g2 = tpch_graph(spark, sf_dir)
    r2 = {r.id: r.rank for r in pagerank(g2, iterations=2).collect()}
    assert tables() == after_first
    assert r1 == r2
    # the symmetrized view is a different graph identity — its own table
    from project_graphdb_spark.graph.algorithms import (
        personalized_pagerank,
    )

    personalized_pagerank(
        unified_vertices(g),
        unified_edges(g, undirected=True),
        "Customer:1",
        iterations=2,
    ).collect()
    assert len(tables()) == 2, tables()
    release_edge_layouts(spark)
    assert tables() == []


def test_personalized_pagerank_properties(spark, sf_dir):
    """Mass conservation (walk + restart redistribute, never lose),
    proximity ordering (the source out-ranks the node two hops away —
    the hub b legitimately out-ranks the source at d=0.85, since a and
    c both feed it their whole mass), and nodes disconnected from the
    source stay at exactly 0 (no teleport to them)."""
    from project_graphdb_spark.graph.algorithms import (
        personalized_pagerank,
    )

    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("y",)], "id string"
    )
    # component 1: a <-> b <-> c (sym);  component 2: x <-> y
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
         ("x", "y"), ("y", "x")],
        "src string, dst string",
    )
    ppr = personalized_pagerank(verts, edges, "a", iterations=12)
    rows = {r.id: r.rank for r in ppr.collect()}
    assert sum(rows.values()) == pytest.approx(1.0, abs=1e-9)
    assert rows["x"] == 0.0 and rows["y"] == 0.0
    assert rows["a"] > rows["c"] > 0.0
    assert rows["b"] > rows["c"]


def test_triangle_count_known_graph(spark):
    from project_graphdb_spark.graph.algorithms import triangle_count

    # K4 minus one edge: triangles {1,2,3} and {1,2,4} -> 2
    edges = spark.createDataFrame(
        [("1", "2"), ("1", "3"), ("2", "3"), ("1", "4"), ("2", "4")],
        "src string, dst string",
    )
    sym = edges.unionByName(
        edges.selectExpr("dst as src", "src as dst")
    ).distinct()
    n = triangle_count(edges=sym).collect()[0]["n_triangles"]
    assert n == 2


def test_triangle_count_skewed_hub_matches_brute_force(spark):
    """Degree-ordered counting must stay exact on the shape it exists
    for: one hot hub (degree 40) embedded in a ring of triangles, plus
    a clique. Brute force = itertools over the adjacency set."""
    import itertools

    from project_graphdb_spark.graph.algorithms import triangle_count

    pairs = set()
    # hub 0 connected to 1..40; consecutive spokes connected -> fan of
    # triangles through the hub
    for i in range(1, 41):
        pairs.add((0, i))
    for i in range(1, 40):
        pairs.add((i, i + 1))
    # separate K5 on 100..104
    for a, b in itertools.combinations(range(100, 105), 2):
        pairs.add((a, b))
    expected = 0
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    for a, b, c in itertools.combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            expected += 1
    edges = spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], "src string, dst string"
    )
    sym = edges.unionByName(
        edges.selectExpr("dst as src", "src as dst")
    ).distinct()
    n = triangle_count(edges=sym).collect()[0]["n_triangles"]
    assert n == expected == 39 + 10  # 39 hub triangles + C(5,3) clique


def _schema_graph(spark):
    """A property graph whose schema closes one label triple (A-B,
    B-C, A-C, plus the self-relationship A-A) and has one pendant type
    C-Pendant that no triangle can use. Returns (graph, undirected
    edge set over "Label:key" ids)."""
    from project_graphdb_spark.graph.property_graph import (
        EdgeFrame,
        PropertyGraph,
    )
    from project_graphdb_spark.schema.graph_schema import (
        GraphSchema,
        NodeDef,
        RelationshipDef,
    )

    rels = {
        # (source, target): edges as (src key, dst key)
        ("A", "B"): [(1, 1), (1, 2), (2, 2), (3, 1)],
        ("B", "C"): [(1, 1), (2, 1), (2, 2), (1, 3)],
        ("A", "C"): [(1, 1), (2, 1), (2, 2), (3, 3)],
        ("A", "A"): [(1, 2), (2, 3), (3, 1)],
        ("C", "Pendant"): [(1, 1), (2, 1), (3, 2), (1, 2)],
    }
    nodes, defs, frames, und = {}, [], {}, set()
    for label in ("A", "B", "C", "Pendant"):
        nodes[label] = spark.createDataFrame(
            [(k,) for k in range(1, 4)], "k int"
        )
    for (a, b), pairs in rels.items():
        meta = RelationshipDef(
            source=a, target=b, label=f"{a}_TO_{b}", key_s="s", key_t="t"
        )
        defs.append(meta)
        frames[meta.label] = EdgeFrame(
            meta=meta,
            df=spark.createDataFrame(pairs, "src int, dst int"),
        )
        for x, y in pairs:
            u, v = f"{a}:{x}", f"{b}:{y}"
            if u != v:
                und.add(frozenset((u, v)))
    schema = GraphSchema(
        nodes=[NodeDef(name=label, key="k") for label in nodes],
        relationships=defs,
    )
    return PropertyGraph(schema, nodes, frames), und


def test_triangle_count_schema_pruning_exact(spark):
    """Schema pruning drops only relationship types that close no
    triangle: the count equals brute force over ALL edges, and the
    pendant type's frame is absent from the plan."""
    import itertools

    from project_graphdb_spark.graph.algorithms import (
        _closable_rel_types,
        triangle_count,
    )

    g, und = _schema_graph(spark)
    assert _closable_rel_types(g) == {
        "A_TO_B", "B_TO_C", "A_TO_C", "A_TO_A"
    }
    verts = sorted({v for e in und for v in e})
    expected = sum(
        1
        for a, b, c in itertools.combinations(verts, 3)
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= und
    )
    df = triangle_count(graph=g)
    assert df.collect()[0]["n_triangles"] == expected > 0
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "Pendant" not in plan, plan


def test_triangle_count_tpch_schema_prunes_to_one_job(spark, sf_dir):
    """No label triple of the TPC-H graph schema is connected on all
    three sides, so the count is 0 without reading any edge: the
    result is the one-row bigint frame and collecting it runs one
    job."""
    from project_graphdb_spark.graph.algorithms import (
        _closable_rel_types,
        triangle_count,
    )
    from project_graphdb_spark.graph.builder import tpch_graph

    g = tpch_graph(spark, sf_dir)
    assert _closable_rel_types(g) == set()
    sc = spark.sparkContext
    group = "triangle_count_schema_pruned"
    sc.setJobGroup(group, group)
    try:
        df = triangle_count(g)
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows == [(0,)]
    assert df.schema.simpleString() == "struct<n_triangles:bigint>"
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_label_propagation_disconnected_cliques(spark):
    from project_graphdb_spark.graph.algorithms import label_propagation

    # two disconnected triangles -> exactly 2 communities, and the
    # deterministic tie-break makes the result reproducible
    raw = [
        ("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
        ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
    ]
    edges = spark.createDataFrame(raw, "src string, dst string")
    sym = edges.unionByName(
        edges.selectExpr("dst as src", "src as dst")
    ).distinct()
    verts = sym.select("src").withColumnRenamed("src", "id").distinct()
    out = label_propagation(vertices=verts, edges=sym, max_iter=4)
    comms = {r["id"]: r["community"] for r in out.collect()}
    a = {comms["a1"], comms["a2"], comms["a3"]}
    b = {comms["b1"], comms["b2"], comms["b3"]}
    assert len(a) == 1 and len(b) == 1 and a != b
    assert all(c.startswith("a") for c in a)
    assert all(c.startswith("b") for c in b)
    # determinism: a second run agrees exactly
    again = {
        r["id"]: r["community"]
        for r in label_propagation(
            vertices=verts, edges=sym, max_iter=4
        ).collect()
    }
    assert again == comms


def test_shortest_paths_weighted(spark):
    from project_graphdb_spark.graph.algorithms import shortest_paths

    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("e",)], "id string"
    )
    edges = spark.createDataFrame(
        [
            ("a", "b", 1.0), ("b", "c", 2.0), ("a", "c", 10.0),
            ("c", "d", 1.0), ("a", "d", 3.5),
        ],
        "src string, dst string, weight double",
    )
    got = {
        r["id"]: r["dist"]
        for r in shortest_paths(verts, edges, "a").collect()
    }
    assert got == {"a": 0.0, "b": 1.0, "c": 3.0, "d": 3.5, "e": None}


def test_shortest_paths_unit_weights_match_bfs(spark, sf_dir):
    from pyspark.sql import functions as F
    from project_graphdb_spark.graph.algorithms import (
        bfs_distances,
        shortest_paths,
        unified_edges,
        unified_vertices,
    )
    from project_graphdb_spark.graph.builder import tpch_graph

    g = tpch_graph(spark, sf_dir)
    edges = unified_edges(g, undirected=True).withColumn(
        "weight", F.lit(1.0)
    )
    sp = {
        r["id"]: r["dist"]
        for r in shortest_paths(
            unified_vertices(g), edges, "Customer:1"
        ).collect()
        if r["dist"] is not None
    }
    bfs = {
        r["id"]: float(r["dist"])
        for r in bfs_distances(g, "Customer:1", max_depth=20).collect()
    }
    assert sp == bfs


def test_kcore_every_member_has_core_degree_k(spark, oracle_sf_dir):
    """k-core semantics: the returned subgraph's degrees are all >= k,
    and peeling converged well under the oracle's unrolled bound — at
    the SAME scale the oracle is gated at (sf0.01), so this guard
    actually protects the unrolled-16-rounds assumption."""
    from project_graphdb_spark.graph.algorithms import (
        LAST_ITER_SECONDS,
        k_core,
    )
    from project_graphdb_spark.operators.graph_algo_workload import (
        KCORE_K,
        KCORE_ORACLE_ROUNDS,
        tpch_graph,
    )

    out = k_core(tpch_graph(spark, oracle_sf_dir), k=KCORE_K)
    assert out.filter(f"core_degree < {KCORE_K}").count() == 0
    assert out.count() > 0
    assert len(LAST_ITER_SECONDS["k_core"]) < KCORE_ORACLE_ROUNDS


def test_kcore_peels_low_degree_chain(spark):
    """A path graph has no 2-core; a cycle is its own 2-core."""
    from project_graphdb_spark.graph.algorithms import k_core

    path = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    assert k_core(k=2, edges=path).count() == 0
    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    got = {
        (r.id, r.core_degree) for r in k_core(k=2, edges=cycle).collect()
    }
    assert got == {("a", 2), ("b", 2), ("c", 2)}


def test_reliable_checkpoint_dir_env(spark, tmp_path, monkeypatch):
    """GRAPHDB_SPARK_CHECKPOINT_DIR switches superstep state from
    localCheckpoint (block manager) to reliable checkpoint files under
    the given directory — the cluster-mode path that removes the
    driver/executor block-storage pressure of long iterative runs.
    Same results, and checkpoint files actually land in the dir."""
    import os

    verts = spark.createDataFrame(
        [(f"v{i:02d}",) for i in range(10)], "id string"
    )
    edges = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(9)],
        "src string, dst string",
    )
    base = {
        (r.id, r.component)
        for r in connected_components(vertices=verts, edges=edges).collect()
    }

    ckdir = str(tmp_path / "ck")
    monkeypatch.setenv("GRAPHDB_SPARK_CHECKPOINT_DIR", ckdir)
    reliable = {
        (r.id, r.component)
        for r in connected_components(vertices=verts, edges=edges).collect()
    }
    assert reliable == base
    # the observed stop count matches the checkpointed frame's rows
    from project_graphdb_spark.graph.algorithms import Supersteps

    frame = spark.range(100).withColumn("x", F.col("id") % 7)
    with Supersteps("reliable_count", spark) as run:
        out, n = run.checkpoint(frame, "s", count=F.col("x") < 3)
        assert n == out.filter(F.col("x") < 3).count() == 44
        _, n_all = run.checkpoint(frame, "s", count=F.lit(True))
        assert n_all == 100
    # reliable checkpoint files were written under the env dir
    written = [
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(ckdir)
        for f in fn
    ]
    assert written, "no checkpoint files under GRAPHDB_SPARK_CHECKPOINT_DIR"


def test_supersteps_run_no_driver_action(spark, monkeypatch):
    """A converging loop's stop test rides its checkpoint job: with
    DataFrame.collect/count/isEmpty raising, pregel(converge_on=...),
    k_core and multi_source_hops still run several supersteps to their
    fixed point and return the same results."""
    from project_graphdb_spark.graph import algorithms as alg

    # pyspark 4: the classic DataFrame SUBCLASS defines the actions
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # older pyspark: single class
        from pyspark.sql import DataFrame

    chain = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    verts = spark.createDataFrame([(v,) for v in "abcde"], "id string")
    edges = spark.createDataFrame(chain, "src string, dst string")
    # a triangle with a pendant path: the 2-core is the triangle
    kc_edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    roots = spark.createDataFrame([("a",)], "root string")

    def banned(self, *args, **kwargs):
        raise AssertionError("driver action inside a superstep")

    for action in ("collect", "count", "isEmpty"):
        monkeypatch.setattr(DataFrame, action, banned)
    alg.LAST_ITER_SECONDS.clear()
    outs = {
        "pregel": alg.pregel(
            verts,
            edges,
            initial={"x": F.col("id")},
            message=F.col("v_x"),
            agg=F.min("__msg"),
            update={"x": F.least("x", F.coalesce("__agg", "x"))},
            max_iter=10,
            converge_on="x",
        ),
        "k_core": alg.k_core(k=2, edges=kc_edges),
        "multi_source_hops": alg.multi_source_hops(
            edges, roots, max_depth=10
        ),
    }
    monkeypatch.undo()
    steps = {name: len(alg.LAST_ITER_SECONDS[name]) for name in outs}
    # pregel: 4 propagating supersteps + the one that sees no change;
    # k_core: peel d-e in 2 rounds, then the empty frontier;
    # hops: 4 levels + the empty one
    assert steps == {"pregel": 5, "k_core": 3, "multi_source_hops": 5}
    assert {tuple(r) for r in outs["pregel"].collect()} == {
        (v, "a") for v in "abcde"
    }
    assert {tuple(r) for r in outs["k_core"].collect()} == {
        ("a", 2), ("b", 2), ("c", 2)
    }
    assert {tuple(r) for r in outs["multi_source_hops"].collect()} == {
        ("a", v, d) for d, v in enumerate("abcde")
    }


def test_pregel_superstep_reuses_state_exchange(spark, sf_dir, monkeypatch):
    """The superstep's vertex-state frame
    feeds two joins (message pass, update) — both must consume ONE
    physical shuffle. localCheckpoint loses outputPartitioning under
    AQE (measured — see _pin_state), so the floor is one state
    exchange per superstep; the shared pinned subtree reaches it via
    ReuseExchange. Asserted under the sf10 SMJ regime (broadcast off):
    exactly two hash exchanges total — one REPARTITION_BY_NUM for
    state, one ENSURE_REQUIREMENTS for the message aggregate — plus a
    ReusedExchange, and the bucketed edge scan stays exchange-free."""
    from project_graphdb_spark.graph import algorithms as alg

    _force_layout(monkeypatch, "bucketed")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    edges0 = orders.select(
        F.col("o_custkey").cast("string").alias("src"),
        F.col("o_orderkey").cast("string").alias("dst"),
    )
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        edges, cleanup = alg._iteration_edges(edges0)
        state = (
            orders.select(F.col("o_custkey").cast("string").alias("id"))
            .distinct()
            .select("id", F.lit(1.0).alias("rank"))
            .localCheckpoint(eager=True)
        )
        pinned = alg._pin_state(state)
        msgs = alg.aggregate_messages(
            pinned, edges, F.col("v_rank"), F.min("__msg")
        )
        upd = pinned.join(msgs, "id", "left").select(
            "id", F.coalesce("__agg", F.col("rank")).alias("rank")
        )
        upd.collect()  # finalize AQE
        plan = (
            upd._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan
        # the ReusedExchange line echoes the reused node's description,
        # so count physical REPARTITION exchanges on non-reused lines
        physical_repart = [
            ln
            for ln in plan.splitlines()
            if "REPARTITION_BY_NUM" in ln and "ReusedExchange" not in ln
        ]
        assert len(physical_repart) == 1, plan
        # total physical hash exchanges: pinned state + message agg
        reused = plan.count("ReusedExchange")
        assert (
            plan.count("Exchange hashpartitioning") - reused == 2
        ), plan
        # the bucketed edge scan feeds its SMJ directly, one bucket
        # per shuffle partition
        n = alg._edge_buckets(spark)
        assert f"SelectedBucketsCount: {n} out of {n}" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        cleanup(spark.sparkContext)
        alg.release_edge_layouts(spark)


def test_unshareable_edge_layout_dropped_per_run(spark, monkeypatch):
    """An edge frame rooted in a
    LogicalRDD (checkpoint-derived pair graphs — the dedup_clusters
    family) can never sameResult-hit the layout cache, so it must NOT
    take cache ownership: its bucketed table is dropped with the run,
    and the stats record the unshareable write + the per-run drop."""
    from project_graphdb_spark.graph import algorithms as alg

    _force_layout(monkeypatch, "bucketed")
    alg.release_edge_layouts(spark)

    def tables():
        return sorted(
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("pregel_edges_")
        )

    before = dict(alg.EDGE_LAYOUT_STATS)
    verts = spark.createDataFrame(
        [(v,) for v in ["a", "b", "c", "d"]], "id string"
    )
    edges = spark.createDataFrame(
        [("a", "b"), ("c", "d")], "src string, dst string"
    ).localCheckpoint(eager=True)  # LogicalRDD root — unshareable
    comp = {
        r.id: r.component
        for r in connected_components(vertices=verts, edges=edges).collect()
    }
    assert comp == {"a": "a", "b": "a", "c": "c", "d": "c"}
    assert tables() == [], "unshareable layout must die with its run"
    after = alg.EDGE_LAYOUT_STATS
    assert after["unshareable_writes"] == before["unshareable_writes"] + 1
    assert after["per_run_drops"] == before["per_run_drops"] + 1
    # and it never took a cache slot
    app = spark.sparkContext.applicationId
    assert not alg._EDGE_TABLES.get(app)


def test_size_tier_falls_back_to_checkpoint_below_threshold(
    spark, sf_dir, monkeypatch
):
    """An edge frame whose size estimate is below the module's
    _EDGE_LAYOUT_MIN_BYTES (sf0.001 is) must take the checkpoint shape
    (no bucketed table write) and record the tier decision."""
    from project_graphdb_spark.graph import algorithms as alg
    from project_graphdb_spark.graph.builder import tpch_graph

    g = tpch_graph(spark, sf_dir)
    edges = alg.unified_edges(g, undirected=True)
    before = dict(alg.EDGE_LAYOUT_STATS)
    e, cleanup = alg._iteration_edges(edges)
    try:
        after = dict(alg.EDGE_LAYOUT_STATS)
        assert (
            after["tier_checkpoint_fallbacks"]
            == before["tier_checkpoint_fallbacks"] + 1
        )
        assert after["writes"] == before["writes"]
        assert after["unshareable_writes"] == before["unshareable_writes"]
        assert not [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("pregel_edges_")
        ]
    finally:
        cleanup(spark.sparkContext)


def test_size_tier_keeps_bucketed_above_threshold(
    spark, sf_dir, monkeypatch
):
    """Dropping the threshold to 0 must restore the bucketed default —
    the tier only reroutes BELOW the floor."""
    from project_graphdb_spark.graph import algorithms as alg
    from project_graphdb_spark.graph.builder import tpch_graph

    _force_layout(monkeypatch, "bucketed")
    g = tpch_graph(spark, sf_dir)
    edges = alg.unified_edges(g, undirected=True)
    before = dict(alg.EDGE_LAYOUT_STATS)
    e, cleanup = alg._iteration_edges(edges)
    try:
        after = dict(alg.EDGE_LAYOUT_STATS)
        assert after["writes"] == before["writes"] + 1
        assert (
            after["tier_checkpoint_fallbacks"]
            == before["tier_checkpoint_fallbacks"]
        )
    finally:
        cleanup(spark.sparkContext)
        alg.release_edge_layouts(spark)


def test_size_estimate_failure_keeps_bucketed(spark, sf_dir, monkeypatch):
    """Only a JVM error from the size estimate is absorbed (the frame
    keeps the bucketed layout); any other error propagates."""
    from py4j.protocol import Py4JError

    from project_graphdb_spark.graph import algorithms as alg
    from project_graphdb_spark.graph.builder import tpch_graph

    g = tpch_graph(spark, sf_dir)
    edges = alg.unified_edges(g, undirected=True)

    def no_estimate(_edges):
        raise Py4JError("no estimate")

    def bug(_edges):
        raise ValueError("not a JVM error")

    alg.release_edge_layouts(spark)
    monkeypatch.setattr(alg, "_edge_plan_size_bytes", no_estimate)
    before = dict(alg.EDGE_LAYOUT_STATS)
    e, cleanup = alg._iteration_edges(edges)
    try:
        assert alg.EDGE_LAYOUT_STATS["writes"] == before["writes"] + 1
        monkeypatch.setattr(alg, "_edge_plan_size_bytes", bug)
        with pytest.raises(ValueError, match="not a JVM error"):
            alg._iteration_edges(edges)
    finally:
        cleanup(spark.sparkContext)
        alg.release_edge_layouts(spark)


def test_bfs_layouts_result_identical(spark, sf_dir, monkeypatch):
    """BFS through the bucketed family layout
    must return exactly the frontier-expansion result of the
    checkpoint shape (integer distances — bit-exact equality)."""
    from project_graphdb_spark.graph import algorithms as alg
    from project_graphdb_spark.graph.builder import tpch_graph

    g = tpch_graph(spark, sf_dir)
    _force_layout(monkeypatch, "checkpoint")
    base = {
        r.id: r.dist
        for r in alg.bfs_distances(g, "Customer:1", max_depth=6).collect()
    }
    _force_layout(monkeypatch, "bucketed")
    bkt = {
        r.id: r.dist
        for r in alg.bfs_distances(g, "Customer:1", max_depth=6).collect()
    }
    alg.release_edge_layouts(spark)
    assert base == bkt
    assert base  # non-empty sanity


def _edge_side_exchanges(plan: str) -> list[str]:
    """Plan nodes between the bucketed edge-table scan and the join
    that reads it (walking up the tree string by indentation) that
    move data: Exchange, AQE shuffle read or a shuffle query stage."""
    lines = plan.splitlines()

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :|+-"))

    scan = next(
        i for i, ln in enumerate(lines)
        if "FileScan" in ln and "pregel_edges_" in ln
    )
    found, d = [], depth(lines[scan])
    for ln in reversed(lines[:scan]):
        if depth(ln) >= d:
            continue
        d = depth(ln)
        if "Join" in ln:
            return found
        if any(k in ln for k in ("Exchange", "ShuffleRead", "QueryStage")):
            found.append(ln.strip())
    raise AssertionError("edge scan has no join above it:\n" + plan)


@pytest.mark.parametrize("algorithm", ["bfs_distances", "multi_source_hops"])
def test_bfs_bucketed_level_join_has_no_edge_exchange(
    spark, sf_dir, monkeypatch, algorithm
):
    """Every level join of the frontier expansion must read the
    bucketed edge scan directly (SelectedBucketsCount) with no
    Exchange on the edge side — the structural property the sf10 BFS
    win rests on, which the Cypher shortestPath lowering
    (multi_source_hops) shares. The level plans are captured from the
    real run, under the SMJ regime (broadcast off) like the pregel
    reuse test."""
    from project_graphdb_spark.graph import algorithms as alg
    from project_graphdb_spark.graph.builder import tpch_graph

    _force_layout(monkeypatch, "bucketed")
    g = tpch_graph(spark, sf_dir)
    checkpointed = []
    real_ckpt = alg._ckpt

    def spy(df):
        checkpointed.append(df)
        return real_ckpt(df)

    monkeypatch.setattr(alg, "_ckpt", spy)
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        if algorithm == "bfs_distances":
            alg.bfs_distances(g, "Customer:1", max_depth=3).collect()
        else:
            roots = (
                alg.unified_vertices(g)
                .filter(F.col("id").startswith("Customer:"))
                .select(F.col("id").alias("root"))
            )
            alg.multi_source_hops(
                alg.unified_edges(g, undirected=True), roots, max_depth=3
            ).collect()
        plans = [
            p
            for p in (
                df._jdf.queryExecution()
                .executedPlan()
                .toString()
                .split("== Initial Plan ==")[0]
                for df in checkpointed
            )
            if "pregel_edges_" in p
        ]
        assert len(plans) >= 2, plans  # one per expanded level
        for plan in plans:
            # level 1 may bucket-PRUNE (a single start id survives
            # localCheckpoint as a constraint); either way the scan is
            # the bucketed table and nothing shuffles it
            assert "SelectedBucketsCount:" in plan, plan
            assert _edge_side_exchanges(plan) == [], plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        alg.release_edge_layouts(spark)


def test_releasing_edge_layouts_keeps_the_block_error(monkeypatch):
    """A release that fails on a dead session must not replace the
    exception of the block it guards; a clean exit releases once."""
    from py4j.protocol import Py4JError

    from project_graphdb_spark.graph import algorithms as alg

    calls = []

    def dead_session(spark):
        calls.append(spark)
        raise Py4JError("session is gone")

    monkeypatch.setattr(alg, "release_edge_layouts", dead_session)
    with pytest.raises(ValueError, match="query failed") as info:
        with alg.releasing_edge_layouts("spark"):
            raise ValueError("query failed")
    assert calls == ["spark"]
    assert "session is gone" in "".join(info.value.__notes__)

    monkeypatch.setattr(alg, "release_edge_layouts", calls.append)
    with alg.releasing_edge_layouts("spark"):
        pass
    assert calls == ["spark", "spark"]
