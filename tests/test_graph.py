"""Unit tests for schema inference and graph construction semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from project_graphdb_spark.graph.builder import build_graph, tpch_graph
from project_graphdb_spark.graph.property_graph import EdgeFrame, PropertyGraph
from project_graphdb_spark.graph.storage import load_graph, save_graph
from project_graphdb_spark.schema.inference import (
    TPCH_REL_NAMES,
    infer_graph_schema,
    node_label,
)
from project_graphdb_spark.schema.relational import TPCH_SCHEMA, erd_text


def test_inference_rules():
    g = infer_graph_schema(TPCH_SCHEMA, rel_names=TPCH_REL_NAMES)
    labels = {n.name for n in g.nodes}
    assert labels == {"Region", "Nation", "Customer", "Supplier", "Part", "Orders"}
    rels = {r.label: r for r in g.relationships}
    # lineitem is an association table -> CONTAINS_ITEM edge with props
    ci = rels["CONTAINS_ITEM"]
    assert (ci.source, ci.target) == ("Orders", "Part")
    assert "l_quantity" in ci.properties and "l_orderkey" not in ci.properties
    # FK columns -> FK-owner → FK-target edges
    pb = rels["PLACED_BY"]
    assert (pb.source, pb.target) == ("Orders", "Customer")
    assert pb.key_s == "o_orderkey" and pb.key_t == "o_custkey"
    assert node_label("order_items") == "OrderItems"
    assert "FK -> customer.c_custkey" in erd_text(TPCH_SCHEMA)


def test_graph_build_semantics(spark):
    """Null keys dropped, dangling FKs dropped, MERGE-dedup applied."""
    rows = [
        (1, "a", 10),
        (1, "a-dup", 10),  # duplicate node key -> dedup to one
        (None, "nullkey", 10),  # null key -> dropped
        (3, "c", 99),  # dangling FK -> edge dropped, node kept
    ]
    src = spark.createDataFrame(rows, "id bigint, name string, ref bigint")
    dim = spark.createDataFrame([(10, "x")], "d_id bigint, d_name string")

    from project_graphdb_spark.schema.relational import (
        ForeignKey,
        RelationalSchema,
        TableInfo,
    )

    rschema = RelationalSchema(
        tables={
            "src": TableInfo(
                "src",
                [("id", "BIGINT"), ("name", "TEXT"), ("ref", "BIGINT")],
                primary_keys=["id"],
                foreign_keys=[ForeignKey("ref", "dim", "d_id")],
            ),
            "dim": TableInfo(
                "dim",
                [("d_id", "BIGINT"), ("d_name", "TEXT")],
                primary_keys=["d_id"],
            ),
        }
    )
    gschema = infer_graph_schema(rschema)
    g = build_graph(spark, {"src": src, "dim": dim}, gschema)

    assert g.node("Src").count() == 2  # 1 and 3; dup and null dropped
    (edge_type,) = [r.label for r in gschema.relationships]
    edges = g.edge(edge_type)
    # node 1 -> dim 10 resolves; node 3 -> 99 dangles (silently dropped)
    assert [(r.src, r.dst) for r in edges.collect()] == [(1, 10)]

    # match() consumes the raw edge tier (no dangling-FK semi-joins) —
    # the inner joins with both endpoint node frames must drop the
    # dangling row all the same, so the two tiers agree result-wise
    m = g.match("Src", edge_type)
    assert [(r.id, r.d_id) for r in m.collect()] == [(1, 10)]
    ef = g.edges[edge_type]
    assert ef.raw_df is not None
    # the raw tier really is pre-resolution: it still carries 3 -> 99
    assert ef.raw_df.count() == 2 and ef.df.count() == 1


def test_match_elides_dangling_semi_joins(spark, sf_dir):
    """A 1-hop match is exactly 2 joins (edge->src nodes, edge->dst
    nodes) — the resolved tier's dangling-FK left-semi joins are
    subsumed by those inner joins and must NOT appear in the plan
    (they'd be two extra broadcast builds + probes per hop at fact
    scale)."""
    import re

    g = tpch_graph(spark, sf_dir)
    df = g.match("Orders", "CONTAINS_ITEM", "Part")
    plan = df._jdf.queryExecution().executedPlan().toString()
    joins = len(re.findall(r"(?:BroadcastHash|ShuffledHash|SortMerge)Join", plan))
    assert joins == 2, plan
    assert "LeftSemi" not in plan, plan


def test_match_shape(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    df = g.match("Orders", "PLACED_BY", "Customer")
    assert {"o_orderkey", "c_custkey", "c_name"} <= set(df.columns)
    # direction mismatch raises (feeds the validate/correct lifecycle)
    import pytest

    with pytest.raises(ValueError):
        g.match("Customer", "PLACED_BY", "Orders")


def test_schema_describe(spark):
    g = infer_graph_schema(TPCH_SCHEMA, rel_names=TPCH_REL_NAMES)
    s = g.describe()
    assert "(:Orders)-[:PLACED_BY]->(:Customer)" in s
    assert "(:Customer {c_custkey" in s


def test_graph_save_load_roundtrip(spark, sf_dir, tmp_path):
    from project_graphdb_spark.cypher.compiler import compile_cypher

    g = tpch_graph(spark, sf_dir)
    path = str(tmp_path / "graph")
    save_graph(g, path)
    sc = spark.sparkContext
    group = "load_graph_declared_schemas"
    sc.setJobGroup(group, group)
    try:
        g2 = load_graph(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the manifest's schemas replace per-directory inference jobs
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    assert set(g2.nodes) == set(g.nodes)
    assert set(g2.edges) == set(g.edges)
    frames = [("nodes", k, df) for k, df in g2.nodes.items()] + [
        ("edges", k, ef.df) for k, ef in g2.edges.items()
    ]
    for kind, name, df in frames:
        inferred = spark.read.parquet(os.path.join(path, kind, name)).schema
        assert df.schema == inferred, (kind, name)
    for label in g.nodes:
        assert g2.nodes[label].count() == g.nodes[label].count()
    # the loaded graph serves the same compiled Cypher
    q = (
        "MATCH (o:Orders)-[:PLACED_BY]->(c:Customer) "
        "RETURN c.c_mktsegment AS seg, count(*) AS n ORDER BY seg"
    )
    got = [tuple(r) for r in compile_cypher(g2, q).collect()]
    want = [tuple(r) for r in compile_cypher(g, q).collect()]
    assert got == want


def test_merge_upsert_semantics(spark):
    from project_graphdb_spark.graph.builder import merge_upsert

    existing = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, name string, bal double"
    )
    updates = spark.createDataFrame(
        [(2, 99.0), (3, 30.0)], "k long, bal double"
    )
    out = merge_upsert(existing, updates, "k")
    rows = {r["k"]: (r["name"], r["bal"]) for r in out.collect()}
    assert rows[1] == ("a", 10.0)      # untouched
    assert rows[2] == ("b", 99.0)      # matched: bal updated, name kept
    assert rows[3] == (None, 30.0)     # inserted
    assert len(rows) == 3

    # idempotent: applying the same updates again changes nothing
    out2 = merge_upsert(out, updates, "k")
    assert sorted(map(tuple, out2.collect())) == sorted(
        map(tuple, out.collect())
    )

    # explicit null in an update column wins (SET += semantics)
    upd_null = spark.createDataFrame([(1, None)], "k long, bal double")
    out3 = merge_upsert(existing, upd_null, "k")
    assert {r["k"]: r["bal"] for r in out3.collect()}[1] is None


def test_register_views_sql_over_graph(spark, sf_dir):
    from project_graphdb_spark.graph.builder import tpch_graph

    g = tpch_graph(spark, sf_dir)
    names = g.register_views()
    assert "g_node_Customer" in names and "g_edge_PLACED_BY" in names
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM g_edge_PLACED_BY e "
        "JOIN g_node_Customer c ON e.dst = c.c_custkey"
    ).collect()[0]["n"]
    assert n == g.edge("PLACED_BY").count()


def test_failed_resave_leaves_no_manifest(spark, sf_dir, tmp_path):
    """A re-save that fails part-way has already overwritten some frame
    directories, so the old manifest must not survive next to them."""
    g = tpch_graph(spark, sf_dir)
    path = str(tmp_path / "graph")
    save_graph(g, path)
    # the last frame written raises on its first row
    rel_type, ef = list(g.edges.items())[-1]
    col = ef.df.columns[0]
    failing = ef.df.withColumn(
        col,
        F.raise_error(F.lit("injected write failure")).cast(
            ef.df.schema[col].dataType
        ),
    )
    broken = PropertyGraph(
        schema=g.schema,
        nodes=g.nodes,
        edges={**g.edges, rel_type: EdgeFrame(meta=ef.meta, df=failing)},
    )
    with pytest.raises(Exception, match="injected write failure"):
        save_graph(broken, path)

    assert not os.path.exists(os.path.join(path, "graph_schema.json"))
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    with pytest.raises(FileNotFoundError):
        load_graph(spark, path)


def test_saved_schema_matches_parquet_read_for_nested_columns(spark, tmp_path):
    """Non-null nested fields, elements and values come back nullable
    from a parquet read, declared or inferred."""
    from project_graphdb_spark.schema.graph_schema import GraphSchema, NodeDef

    df = spark.sql(
        "SELECT id, array(id) AS arr, named_struct('x', id) AS st, "
        "map(id, array(id)) AS mp FROM range(3)"
    )
    g = PropertyGraph(
        schema=GraphSchema(
            nodes=[NodeDef("T", "id", ["arr", "st", "mp"])], relationships=[]
        ),
        nodes={"T": df},
        edges={},
    )
    path = str(tmp_path / "graph")
    save_graph(g, path)
    loaded = load_graph(spark, path).nodes["T"]
    inferred = spark.read.parquet(os.path.join(path, "nodes", "T")).schema
    assert loaded.schema == inferred
    assert sorted(map(tuple, loaded.collect())) == sorted(map(tuple, df.collect()))
