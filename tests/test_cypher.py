"""Parser / compiler / corrector unit tests for the Cypher subset."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from project_graphdb_spark.cypher import (
    CypherAnalysisError,
    compile_cypher,
    correct_directions,
    parse,
)
from project_graphdb_spark.cypher.ast import Case, Cmp, FnCall, Lit, Prop, walk
from project_graphdb_spark.cypher.compiler import validate_cypher
from project_graphdb_spark.cypher.parser import CypherSyntaxError
from project_graphdb_spark.graph.builder import tpch_graph


def test_parse_shapes():
    q = parse(
        "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
        "WHERE o.o_totalprice > 100 AND p.p_brand IN ['Brand#1'] "
        "WITH p.p_brand AS b, sum(ci.l_quantity) AS q "
        "RETURN b, q ORDER BY q DESC LIMIT 5"
    )
    assert len(q.patterns) == 1
    pat = q.patterns[0]
    assert [n.label for n in pat.nodes] == ["Orders", "Part"]
    assert pat.edges[0].rel_type == "CONTAINS_ITEM"
    assert not pat.edges[0].reversed
    assert q.limit == 5 and not q.order_by[0].ascending
    assert isinstance(q.where, object)


def test_parse_reversed_and_multi():
    q = parse(
        "MATCH (c:Customer)<-[:PLACED_BY]-(o:Orders), (o)-[x:CONTAINS_ITEM]->(p:Part) "
        "RETURN count(*) AS n"
    )
    assert q.patterns[0].edges[0].reversed
    assert q.patterns[1].nodes[0].var == "o"
    item = q.ret.items[0]
    assert isinstance(item.expr, FnCall) and item.alias == "n"


def test_parse_errors():
    with pytest.raises(CypherSyntaxError):
        parse("MATCH (a:Label RETURN a")
    with pytest.raises(CypherSyntaxError):
        parse("WHERE 1")  # a query cannot start with WHERE


def test_date_component_access():
    q = parse("MATCH (o:Orders) RETURN date(o.o_orderdate).year AS y")
    e = q.ret.items[0].expr
    assert isinstance(e, Prop) and e.name == "year"


def test_compile_matches_dataframe_api(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    df = compile_cypher(
        g,
        "MATCH (o:Orders)-[:PLACED_BY]->(c:Customer) "
        "WHERE c.c_mktsegment = 'MACHINERY' AND o.o_totalprice >= 300000 "
        "RETURN o.o_orderkey AS o_orderkey ORDER BY o_orderkey",
    )
    from project_graphdb_spark.operators.graph_queries import (
        g_machinery_big_orders,
    )

    expected = [r.o_orderkey for r in g_machinery_big_orders(spark, sf_dir).collect()]
    got = [r.o_orderkey for r in df.collect()]
    assert got == expected


def test_no_cartesian_in_multi_pattern(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    df = compile_cypher(
        g,
        "MATCH (o:Orders)-[:PLACED_BY]->(c:Customer), "
        "(o)-[ci:CONTAINS_ITEM]->(p:Part) "
        "RETURN p.p_brand AS brand, count(*) AS n",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_validation_and_correction(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    assert validate_cypher(g, "MATCH (n:Nope) RETURN n") == [
        "unknown node label 'Nope'"
    ]
    assert validate_cypher(
        g, "MATCH (c:Customer) RETURN c.bogus"
    ) == ["unknown property 'bogus' on c:Customer"]
    assert validate_cypher(g, "MATCH (c:Customer) RETURN c.c_name") == []

    # wrong direction -> analysis error; corrector fixes it
    bad = "MATCH (c:Customer)-[:PLACED_BY]->(o:Orders) RETURN count(*) AS n"
    q = parse(bad)
    with pytest.raises(CypherAnalysisError):
        compile_cypher(g, parse(bad))
    notes = correct_directions(g, q)
    assert notes and "PLACED_BY" in notes[0]
    assert compile_cypher(g, q).collect()[0].n == g.edge("PLACED_BY").count()


def test_implicit_grouping_and_distinct(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    df = compile_cypher(
        g,
        "MATCH (c:Customer) RETURN DISTINCT c.c_mktsegment AS seg",
    )
    assert df.count() == 5
    df2 = compile_cypher(
        g,
        "MATCH (o:Orders) RETURN o.o_orderstatus AS st, count(*) AS n",
    )
    rows = {r.st: r.n for r in df2.collect()}
    assert sum(rows.values()) == g.node("Orders").count()


def test_parse_var_length():
    q = parse("MATCH (c:Customer)-[*1..3]->(r:Region) RETURN count(*) AS n")
    e = q.patterns[0].edges[0]
    assert e.var_length and e.min_hops == 1 and e.max_hops == 3
    e2 = parse("MATCH (a:Region)<-[:IN_REGION*2]-(b:Nation) RETURN count(*) AS n").patterns[0].edges[0]
    assert e2.min_hops == 2 and e2.max_hops == 2 and e2.reversed
    e3 = parse("MATCH (a:Region)<-[*]-(b:Nation) RETURN count(*) AS n").patterns[0].edges[0]
    assert e3.min_hops == 1 and e3.max_hops is None


def test_var_length_reachability(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    # Customer reaches Region only via Customer->Nation->Region (2 hops)
    got = compile_cypher(
        g,
        "MATCH (c:Customer)-[*1..3]->(r:Region) "
        "RETURN r.r_name AS r_name, count(*) AS n ORDER BY r_name",
    ).collect()
    # independent formulation through plain joins
    cust = g.nodes["Customer"]
    c2n = g.edges["FROM_NATION"].df
    n2r = g.edges["IN_REGION"].df
    region = g.nodes["Region"]
    want = (
        cust.join(c2n, cust.c_custkey == c2n.src)
        .join(n2r, c2n.dst == n2r.src)
        .join(region, n2r.dst == region.r_regionkey)
        .groupBy("r_name")
        .count()
        .orderBy("r_name")
        .collect()
    )
    assert [(r["r_name"], r["n"]) for r in got] == [
        (r["r_name"], r["count"]) for r in want
    ]


def test_var_length_typed_single_hop_equals_fixed(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    fixed = compile_cypher(
        g,
        "MATCH (o:Orders)-[:PLACED_BY]->(c:Customer) RETURN count(*) AS n",
    ).collect()[0]["n"]
    var = compile_cypher(
        g,
        "MATCH (o:Orders)-[:PLACED_BY*1..1]->(c:Customer) RETURN count(*) AS n",
    ).collect()[0]["n"]
    assert fixed == var


def test_var_length_errors(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError, match="binding a variable"):
        compile_cypher(
            g, "MATCH (c:Customer)-[r*1..2]->(x:Region) RETURN count(*) AS n"
        )
    with pytest.raises(CypherAnalysisError, match="exceeds the engine cap"):
        compile_cypher(
            g, "MATCH (c:Customer)-[*1..99]->(x:Region) RETURN count(*) AS n"
        )
    with pytest.raises(CypherAnalysisError, match="explicit label"):
        compile_cypher(
            g, "MATCH (c:Customer)-[*1..2]->(x) RETURN count(*) AS n"
        )


def test_optional_match(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (c:Customer) OPTIONAL MATCH (o:Orders)-[:PLACED_BY]->(c) "
        "RETURN c.c_custkey AS ck, count(o) AS n ORDER BY ck",
    ).collect()
    cust = g.nodes["Customer"]
    orders = g.edges["PLACED_BY"].df
    want = (
        cust.join(orders, cust.c_custkey == orders.dst, "left")
        .groupBy("c_custkey")
        .agg(F.count("src").alias("n"))
        .orderBy("c_custkey")
        .collect()
    )
    assert [(r["ck"], r["n"]) for r in got] == [
        (r["c_custkey"], r["n"]) for r in want
    ]
    # rows with zero matches must exist iff some customer has no orders
    n_zero = sum(1 for r in got if r["n"] == 0)
    n_custs_without = cust.join(
        orders, cust.c_custkey == orders.dst, "left_anti"
    ).count()
    assert n_zero == n_custs_without


def test_optional_match_requires_shared_var(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError, match="share at least one"):
        compile_cypher(
            g,
            "MATCH (c:Customer) OPTIONAL MATCH (s:Supplier) "
            "RETURN count(*) AS n",
        )


def test_property_map_patterns(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    via_map = compile_cypher(
        g,
        "MATCH (c:Customer {c_mktsegment: 'BUILDING'}) "
        "RETURN count(*) AS n",
    ).collect()[0]["n"]
    via_where = compile_cypher(
        g,
        "MATCH (c:Customer) WHERE c.c_mktsegment = 'BUILDING' "
        "RETURN count(*) AS n",
    ).collect()[0]["n"]
    assert via_map == via_where > 0

    q = parse(
        "MATCH (o:Orders {o_orderstatus: 'F'})-[ci:CONTAINS_ITEM "
        "{l_linenumber: 1}]->(p:Part) RETURN count(*) AS n"
    )
    assert q.patterns[0].nodes[0].props[0][0] == "o_orderstatus"
    assert q.patterns[0].edges[0].props[0][0] == "l_linenumber"
    n = compile_cypher(g, q).collect()[0]["n"]
    want = compile_cypher(
        g,
        "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
        "WHERE o.o_orderstatus = 'F' AND ci.l_linenumber = 1 "
        "RETURN count(*) AS n",
    ).collect()[0]["n"]
    assert n == want > 0


def test_property_map_unknown_property(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError, match="unknown property"):
        compile_cypher(
            g, "MATCH (c:Customer {bogus: 1}) RETURN count(*) AS n"
        )


def test_multi_with_chain(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (o:Orders)-[:PLACED_BY]->(c:Customer) "
        "WITH c.c_mktsegment AS seg, count(*) AS n "
        "WITH seg, n WHERE n > 10 "
        "RETURN seg, n ORDER BY n DESC, seg",
    ).collect()
    want = compile_cypher(
        g,
        "MATCH (o:Orders)-[:PLACED_BY]->(c:Customer) "
        "WITH c.c_mktsegment AS seg, count(*) AS n WHERE n > 10 "
        "RETURN seg, n ORDER BY n DESC, seg",
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert got  # non-empty


def test_case_expression(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (o:Orders) "
        "RETURN CASE WHEN o.o_totalprice >= 200000 THEN 'big' "
        "ELSE 'small' END AS bucket, count(*) AS n ORDER BY bucket",
    ).collect()
    got = {r["bucket"]: r["n"] for r in rows}
    orders = g.nodes["Orders"]
    big = orders.filter(F.col("o_totalprice") >= 200000).count()
    assert got["big"] == big
    assert got["big"] + got["small"] == orders.count()

    # simple-case desugaring
    rows2 = compile_cypher(
        g,
        "MATCH (o:Orders) "
        "RETURN CASE o.o_orderstatus WHEN 'F' THEN 'final' "
        "ELSE 'other' END AS st, count(*) AS n ORDER BY st",
    ).collect()
    got2 = {r["st"]: r["n"] for r in rows2}
    f_count = orders.filter(F.col("o_orderstatus") == "F").count()
    assert got2["final"] == f_count


def test_skip_limit(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    full = compile_cypher(
        g,
        "MATCH (c:Customer) RETURN c.c_custkey AS ck ORDER BY ck",
    ).collect()
    page = compile_cypher(
        g,
        "MATCH (c:Customer) RETURN c.c_custkey AS ck ORDER BY ck "
        "SKIP 5 LIMIT 10",
    ).collect()
    assert [r["ck"] for r in page] == [r["ck"] for r in full[5:15]]


def test_extended_function_surface(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (o:Orders) "
        "RETURN stDev(o.o_totalprice) AS sd, "
        "percentileCont(o.o_totalprice, 0.5) AS med, "
        "floor(avg(o.o_totalprice)) AS fl "
        "ORDER BY sd",
        exact_decimal_sums=False,
    ).collect()[0]
    orders = g.nodes["Orders"]
    want_sd = orders.agg(F.stddev_samp("o_totalprice")).collect()[0][0]
    want_med = orders.agg(
        F.percentile("o_totalprice", F.lit(0.5))
    ).collect()[0][0]
    assert rows["sd"] == pytest.approx(want_sd)
    assert rows["med"] == pytest.approx(want_med)
    assert rows["fl"] == float(int(rows["fl"]))

    s = compile_cypher(
        g,
        "MATCH (c:Customer) RETURN left(c.c_mktsegment, 3) AS pre, "
        "count(*) AS n ORDER BY pre",
    ).collect()
    assert all(len(r["pre"]) == 3 for r in s)


def test_match_after_with(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
        "WITH n, count(c) AS n_cust "
        "MATCH (s:Supplier)-[:LOCATED_IN]->(n) "
        "RETURN n.n_name AS nation, n_cust, count(s) AS n_supp "
        "ORDER BY nation",
    ).collect()
    nation = g.nodes["Nation"]
    c2n = g.edges["FROM_NATION"].df
    s2n = g.edges["LOCATED_IN"].df
    cust_per = c2n.groupBy(F.col("dst").alias("nk")).agg(
        F.count("*").alias("n_cust")
    )
    supp_per = s2n.groupBy(F.col("dst").alias("nk")).agg(
        F.count("*").alias("n_supp")
    )
    want = (
        nation.join(cust_per, nation.n_nationkey == cust_per.nk)
        .join(supp_per, nation.n_nationkey == supp_per.nk)
        .select("n_name", "n_cust", "n_supp")
        .orderBy("n_name")
        .collect()
    )
    assert [(r["nation"], r["n_cust"], r["n_supp"]) for r in got] == [
        (r["n_name"], r["n_cust"], r["n_supp"]) for r in want
    ]
    assert got


def test_with_then_optional_match(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (n:Nation) "
        "WITH n "
        "OPTIONAL MATCH (s:Supplier)-[:LOCATED_IN]->(n) "
        "RETURN n.n_name AS nation, count(s) AS n_supp ORDER BY nation",
    ).collect()
    # every nation appears, including those with zero suppliers
    assert len(rows) == g.nodes["Nation"].count()
    s2n = g.edges["LOCATED_IN"].df
    total = sum(r["n_supp"] for r in rows)
    assert total == s2n.count()


def test_unwind_literal(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g, "UNWIND [3, 1, 2] AS x RETURN x ORDER BY x"
    ).collect()
    assert [r["x"] for r in rows] == [1, 2, 3]


def test_unwind_collected_list(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
        "WITH n.n_name AS nation, collect(c.c_custkey) AS ks "
        "UNWIND ks AS k "
        "RETURN nation, count(k) AS n ORDER BY nation",
    ).collect()
    want = compile_cypher(
        g,
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
        "RETURN n.n_name AS nation, count(*) AS n ORDER BY nation",
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_label_agnostic_match_and_type_fn(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    total = compile_cypher(
        g, "MATCH (n) RETURN count(n) AS n"
    ).collect()[0]["n"]
    want = sum(df.count() for df in g.nodes.values())
    assert total == want

    by_label = compile_cypher(
        g,
        "MATCH (n) RETURN labels(n)[0] AS label, count(n) AS n "
        "ORDER BY n DESC, label",
    ).collect()
    got = {r["label"]: r["n"] for r in by_label}
    assert got == {k: v.count() for k, v in g.nodes.items()}

    t = compile_cypher(
        g,
        "MATCH (o:Orders)-[r:PLACED_BY]->(c:Customer) "
        "RETURN type(r) AS t, count(*) AS n",
    ).collect()[0]
    assert t["t"] == "PLACED_BY"


def test_first_node_label_inference(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    # unlabeled first node inferred from the edge's schema orientation
    n = compile_cypher(
        g, "MATCH (o)-[:PLACED_BY]->(c:Customer) RETURN count(*) AS n"
    ).collect()[0]["n"]
    want = g.edges["PLACED_BY"].df.count()
    assert n == want


def test_undirected_edge_forced_orientation(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    und = compile_cypher(
        g,
        "MATCH (c:Customer)-[:PLACED_BY]-(o:Orders) RETURN count(*) AS n",
    ).collect()[0]["n"]
    directed = compile_cypher(
        g,
        "MATCH (c:Customer)<-[:PLACED_BY]-(o:Orders) RETURN count(*) AS n",
    ).collect()[0]["n"]
    assert und == directed > 0


def test_undirected_self_type_symmetrizes(spark):
    from project_graphdb_spark.graph.property_graph import (
        EdgeFrame,
        PropertyGraph,
    )
    from project_graphdb_spark.schema.graph_schema import (
        GraphSchema,
        NodeDef,
        RelationshipDef,
    )

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    knows = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    meta = RelationshipDef("P", "P", "KNOWS", "src", "dst", [], "t")
    g = PropertyGraph(
        schema=GraphSchema(
            nodes=[NodeDef("P", key="id", properties=[])],
            relationships=[meta],
        ),
        nodes={"P": nodes},
        edges={"KNOWS": EdgeFrame(meta=meta, df=knows)},
    )
    rows = compile_cypher(
        g,
        "MATCH (a:P)-[:KNOWS]-(b:P) RETURN a.id AS a, b.id AS b "
        "ORDER BY a, b",
    ).collect()
    assert [(r["a"], r["b"]) for r in rows] == [
        (1, 2), (2, 1), (2, 3), (3, 2)
    ]


def test_distinct_aggregates(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    r = compile_cypher(
        g,
        "MATCH (c:Customer) RETURN count(DISTINCT c.c_mktsegment) AS n, "
        "size(toString(sum(DISTINCT c.c_nationkey))) AS s",
        exact_decimal_sums=False,
    ).collect()[0]
    assert r["n"] == 5
    cust = g.nodes["Customer"]
    want = sum(
        x["c_nationkey"]
        for x in cust.select("c_nationkey").distinct().collect()
    )
    assert int(r["s"]) == len(str(want))


def test_any_edge_scan(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH ()-[r]->() RETURN type(r) AS t, count(r) AS n "
        "ORDER BY n DESC, t",
    ).collect()
    got = {r["t"]: r["n"] for r in rows}
    assert got == {t: ef.df.count() for t, ef in g.edges.items()}
    total = compile_cypher(
        g, "MATCH ()-[r]->() RETURN count(r) AS n"
    ).collect()[0]["n"]
    assert total == sum(got.values())


def test_optional_match_where_preserves_unmatched(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (c:Customer) "
        "OPTIONAL MATCH (o:Orders)-[:PLACED_BY]->(c) "
        "WHERE o.o_totalprice >= 300000 "
        "RETURN c.c_custkey AS ck, count(o) AS n ORDER BY ck",
    ).collect()
    # every customer survives, big-order counts filtered
    assert len(rows) == g.nodes["Customer"].count()
    orders = g.edges["PLACED_BY"].df
    onodes = g.nodes["Orders"]
    big = (
        onodes.filter(F.col("o_totalprice") >= 300000)
        .join(orders, onodes.o_orderkey == orders.src)
        .groupBy("dst")
        .count()
    )
    want = {r["dst"]: r["count"] for r in big.collect()}
    for r in rows:
        assert r["n"] == want.get(r["ck"], 0)


def test_is_null_predicates(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    without = compile_cypher(
        g,
        "MATCH (c:Customer) OPTIONAL MATCH (o:Orders)-[:PLACED_BY]->(c) "
        "WITH c, o WHERE o IS NULL "
        "RETURN count(c) AS n",
    ).collect()[0]["n"]
    want = (
        g.nodes["Customer"]
        .join(
            g.edges["PLACED_BY"].df,
            g.nodes["Customer"].c_custkey == g.edges["PLACED_BY"].df.dst,
            "left_anti",
        )
        .count()
    )
    assert without == want
    with_orders = compile_cypher(
        g,
        "MATCH (c:Customer) OPTIONAL MATCH (o:Orders)-[:PLACED_BY]->(c) "
        "WITH c, o WHERE o IS NOT NULL "
        "RETURN count(DISTINCT c.c_custkey) AS n",
    ).collect()[0]["n"]
    assert with_orders == g.nodes["Customer"].count() - want


def test_head_last_on_collected_lists(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
        "WITH n.n_name AS nation, collect(c.c_custkey) AS ks "
        "RETURN nation, head(ks) AS first_k, last(ks) AS last_k, "
        "size(toString(head(ks))) AS w ORDER BY nation",
    ).collect()
    assert rows
    for r in rows:
        assert r["first_k"] is not None and r["last_k"] is not None


def test_with_order_limit_then_match(spark, sf_dir):
    """Mid-query top-k: take the 3 highest-revenue nations, then expand
    to their suppliers — the top-k-then-drill RCA shape."""
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
        "WITH n, count(c) AS n_cust ORDER BY n_cust DESC, n.n_name LIMIT 3 "
        "MATCH (s:Supplier)-[:LOCATED_IN]->(n) "
        "RETURN n.n_name AS nation, n_cust, count(s) AS n_supp "
        "ORDER BY n_cust DESC, nation",
    ).collect()
    assert len(rows) <= 3
    # the kept nations are exactly the overall top-3 by customer count
    top3 = compile_cypher(
        g,
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
        "RETURN n.n_name AS nation, count(c) AS n_cust "
        "ORDER BY n_cust DESC, nation LIMIT 3",
    ).collect()
    assert {r["nation"] for r in rows} <= {r["nation"] for r in top3}


def test_pattern_free_smoke_query(spark, sf_dir):
    """C18: RETURN 1 AS n / RETURN 'ok', datetime() — the reference's
    connection smoke queries (ref app.py:150-152)."""
    g = tpch_graph(spark, sf_dir)
    assert compile_cypher(g, "RETURN 1 AS n").collect()[0]["n"] == 1
    row = compile_cypher(
        g, "RETURN 'Connection OK' AS status, datetime() AS now"
    ).collect()[0]
    assert row["status"] == "Connection OK" and row["now"] is not None


# ---------------------------------------------------------------------------
# round-2 semantics fixes (ADVICE r1): negative IN literals, avg DISTINCT,
# relationship uniqueness, undirected var-length, exact percentileDisc
# ---------------------------------------------------------------------------


def test_negative_literals_in_list(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    n = compile_cypher(
        g,
        "MATCH (n:Nation) WHERE n.n_nationkey IN [-1, 5] "
        "RETURN count(*) AS n",
    ).collect()[0]["n"]
    assert n == 1  # -1 matches nothing, 5 matches one nation


def test_non_literal_in_list_is_an_error(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError):
        compile_cypher(
            g,
            "MATCH (n:Nation) WHERE n.n_nationkey IN [1, n.n_regionkey] "
            "RETURN count(*) AS n",
        )


def test_avg_distinct(spark, sf_dir):
    """avg(DISTINCT x) must average the distinct values, not all rows."""
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (c:Customer) RETURN avg(DISTINCT c.c_nationkey) AS a",
    ).collect()[0]["a"]
    cust = g.nodes["Customer"]
    exp = (
        cust.select("c_nationkey")
        .distinct()
        .agg(F.avg("c_nationkey").alias("a"))
        .collect()[0]["a"]
    )
    assert got == pytest.approx(exp)


def test_distinct_rejected_for_stddev(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError):
        compile_cypher(
            g,
            "MATCH (o:Orders) RETURN stdev(DISTINCT o.o_totalprice) AS s",
        )


def test_relationship_uniqueness_same_type(spark, sf_dir):
    """Within one MATCH, two edge bindings of the same type may not bind
    the same edge (openCypher edge isomorphism): the o1=o2 diagonal is
    excluded, so pair count = sum over customers of n*(n-1)."""
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (o1:Orders)-[:PLACED_BY]->(c:Customer)"
        "<-[:PLACED_BY]-(o2:Orders) RETURN count(*) AS n",
    ).collect()[0]["n"]
    per_cust = (
        g.edges["PLACED_BY"].df.groupBy("dst").agg(F.count("*").alias("n"))
    )
    exp = per_cust.agg(
        F.sum(F.col("n") * (F.col("n") - 1)).alias("t")
    ).collect()[0]["t"]
    assert got == exp


def test_relationship_uniqueness_not_across_clauses(spark, sf_dir):
    """Uniqueness is per MATCH clause: separate MATCHes may bind the
    same edge, so the diagonal is included there."""
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (o1:Orders)-[:PLACED_BY]->(c:Customer) "
        "MATCH (o2:Orders)-[:PLACED_BY]->(c) "
        "RETURN count(*) AS n",
    ).collect()[0]["n"]
    per_cust = (
        g.edges["PLACED_BY"].df.groupBy("dst").agg(F.count("*").alias("n"))
    )
    exp = per_cust.agg(F.sum(F.col("n") * F.col("n")).alias("t")).collect()[
        0
    ]["t"]
    assert got == exp


def test_undirected_var_length(spark, sf_dir):
    """-[:T*1..2]- traverses edges in either direction; here Customer
    only has PLACED_BY in-edges, so the undirected 1..2-hop match to
    Orders equals the edge count (2-hop paths land back on Customer)."""
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (c:Customer)-[:PLACED_BY*1..2]-(o:Orders) "
        "RETURN count(*) AS n",
    ).collect()[0]["n"]
    n_edges = g.edges["PLACED_BY"].df.count()
    assert got == n_edges


def test_percentile_disc_fallback_group_size_guard(spark, monkeypatch):
    """The collect_list fallback (contexts the _project window rewrite
    does not cover — every registered/hand-written shape IS rewritten,
    this is defense-in-depth) refuses a group above the configurable
    bound with an error pointing at the rewrite, instead of silently
    ballooning the aggregation buffer."""
    from project_graphdb_spark.cypher import compiler as C
    from project_graphdb_spark.cypher.parser import _Parser, tokenize

    def pdisc_expr():
        return _Parser(
            tokenize("percentileDisc(x, 0.5)")
        ).parse_expr()

    df = spark.range(100).selectExpr("CAST(id AS DOUBLE) AS x")
    scope = C._Scope(None, {"x"}, df)
    comp = C._ExprCompiler(scope, exact_decimal_sums=True)
    # pdisc_cols left empty == the un-rewritten fallback path
    monkeypatch.setattr(C, "PDISC_FALLBACK_MAX_GROUP", 10)
    col = comp.compile(pdisc_expr())
    assert not scope.errors
    with pytest.raises(Exception, match="percentileDisc fallback"):
        df.agg(col.alias("p")).collect()
    # under the bound the exact nearest-rank value comes back
    monkeypatch.setattr(C, "PDISC_FALLBACK_MAX_GROUP", 1000)
    comp2 = C._ExprCompiler(scope, exact_decimal_sums=True)
    col2 = comp2.compile(pdisc_expr())
    assert df.agg(col2.alias("p")).collect()[0]["p"] == 49.0


def test_percentile_disc_exact(spark, sf_dir):
    """percentileDisc returns an actual element (nearest-rank), exactly."""
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (o:Orders) RETURN percentileDisc(o.o_totalprice, 0.5) AS p",
    ).collect()[0]["p"]
    vals = sorted(
        r["o_totalprice"]
        for r in g.nodes["Orders"].select("o_totalprice").collect()
    )
    import math

    exp = vals[max(0, math.ceil(0.5 * len(vals)) - 1)]
    assert got == exp


def test_percentile_disc_exact_large_group_edges(spark, sf_dir):
    """Edge percentiles (p=0, tiny p, p=1) on a per-group basis over the
    full lineitem-sized Orders groups: exact nearest-rank must return an
    actual group element at exactly the ceil(p*n) 1-based rank — the
    formulation has no accuracy knob for group size to erode."""
    import math

    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (o:Orders) RETURN o.o_orderpriority AS pri, "
        "percentileDisc(o.o_totalprice, 0.0) AS p0, "
        "percentileDisc(o.o_totalprice, 0.013) AS p_lo, "
        "percentileDisc(o.o_totalprice, 0.987) AS p_hi, "
        "percentileDisc(o.o_totalprice, 1.0) AS p1",
    ).collect()
    by_pri = {}
    for r in g.nodes["Orders"].select(
        "o_orderpriority", "o_totalprice"
    ).collect():
        by_pri.setdefault(r["o_orderpriority"], []).append(
            r["o_totalprice"]
        )
    assert len(rows) == len(by_pri)
    for r in rows:
        vals = sorted(by_pri[r["pri"]])
        n = len(vals)

        def rank(p):
            return vals[max(0, math.ceil(p * n) - 1)]

        assert r["p0"] == rank(0.0) == vals[0]
        assert r["p_lo"] == rank(0.013)
        assert r["p_hi"] == rank(0.987)
        assert r["p1"] == rank(1.0) == vals[-1]


def test_to_integer_to_float(spark, sf_dir):
    """toInteger/toFloat casts (CYPHER.md scalars; the reference's LLM
    emits them around string properties)."""
    g = tpch_graph(spark, sf_dir)
    row = compile_cypher(
        g,
        "RETURN toInteger('42') AS i, toFloat('2.5') AS f, "
        "toInteger(3.9) AS t",
    ).collect()[0]
    assert row["i"] == 42 and row["f"] == 2.5 and row["t"] == 3


def test_union_all_keeps_duplicates(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    n_regions = g.nodes["Region"].count()
    got = compile_cypher(
        g,
        "MATCH (r:Region) RETURN r.r_name AS name "
        "UNION ALL MATCH (r:Region) RETURN r.r_name AS name",
    ).count()
    assert got == 2 * n_regions


def test_union_distinct_dedups_across_arms(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    n_regions = g.nodes["Region"].count()
    got = compile_cypher(
        g,
        "MATCH (r:Region) RETURN r.r_name AS name "
        "UNION MATCH (r:Region) RETURN r.r_name AS name",
    ).count()
    assert got == n_regions


def test_union_mixed_all_rejected(spark, sf_dir):
    from project_graphdb_spark.cypher.parser import CypherSyntaxError

    with pytest.raises(CypherSyntaxError, match="mix UNION"):
        parse(
            "MATCH (r:Region) RETURN r.r_name AS x "
            "UNION MATCH (n:Nation) RETURN n.n_name AS x "
            "UNION ALL MATCH (n:Nation) RETURN n.n_name AS x"
        )


def test_union_column_mismatch_rejected(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError, match="same column names"):
        compile_cypher(
            g,
            "MATCH (r:Region) RETURN r.r_name AS a "
            "UNION MATCH (n:Nation) RETURN n.n_name AS b",
        )


def test_exists_pattern_semi_join(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (c:Customer) "
        "WHERE exists((o:Orders)-[:PLACED_BY]->(c)) "
        "RETURN count(c) AS n",
    ).collect()[0]["n"]
    exp = (
        g.edges["PLACED_BY"].df.select("dst").distinct().count()
    )
    assert got == exp


def test_not_exists_pattern_anti_join(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (c:Customer) "
        "WHERE NOT exists((o:Orders)-[:PLACED_BY]->(c)) "
        "RETURN count(c) AS n",
    ).collect()[0]["n"]
    n_customers = g.nodes["Customer"].count()
    with_orders = g.edges["PLACED_BY"].df.select("dst").distinct().count()
    assert got == n_customers - with_orders


def test_exists_pattern_direction_corrected(spark, sf_dir):
    """A wrong-direction arrow inside exists() is flipped by the
    corrector stage, same as a MATCH pattern."""
    g = tpch_graph(spark, sf_dir)
    q = parse(
        "MATCH (c:Customer) "
        "WHERE exists((o:Orders)<-[:PLACED_BY]-(c)) "
        "RETURN count(c) AS n"
    )
    notes = correct_directions(g, q)
    assert any("PLACED_BY" in n for n in notes)
    got = compile_cypher(g, q).collect()[0]["n"]
    exp = g.edges["PLACED_BY"].df.select("dst").distinct().count()
    assert got == exp


def test_exists_under_or_rejected(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError, match="top-level WHERE"):
        compile_cypher(
            g,
            "MATCH (c:Customer) "
            "WHERE exists((o:Orders)-[:PLACED_BY]->(c)) "
            "OR c.c_acctbal > 0 RETURN count(c) AS n",
        )


def test_uncorrelated_exists_rejected(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError, match="share at least one"):
        compile_cypher(
            g,
            "MATCH (c:Customer) "
            "WHERE exists((o:Orders)-[:CONTAINS_ITEM]->(p:Part)) "
            "RETURN count(c) AS n",
        )


def test_exists_with_residual_where(spark, sf_dir):
    """Pattern predicate AND a plain predicate compose (semi-join plus
    filter)."""
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (c:Customer) "
        "WHERE exists((o:Orders)-[:PLACED_BY]->(c)) "
        "AND c.c_mktsegment = 'BUILDING' RETURN count(c) AS n",
    ).collect()[0]["n"]
    placed = g.edges["PLACED_BY"].df.select(
        F.col("dst").alias("c_custkey")
    ).distinct()
    exp = (
        g.nodes["Customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(placed, "c_custkey", "left_semi")
        .count()
    )
    assert got == exp


def test_bare_pattern_pred_equals_exists(spark, sf_dir):
    """WHERE (o:Orders)-[:PLACED_BY]->(c) — the bare pattern predicate
    (canonical LLM-emitted idiom) desugars to the exists() lowering."""
    g = tpch_graph(spark, sf_dir)
    bare = compile_cypher(
        g,
        "MATCH (c:Customer) "
        "WHERE (o:Orders)-[:PLACED_BY]->(c) "
        "RETURN count(c) AS n",
    ).collect()[0]["n"]
    wrapped = compile_cypher(
        g,
        "MATCH (c:Customer) "
        "WHERE exists((o:Orders)-[:PLACED_BY]->(c)) "
        "RETURN count(c) AS n",
    ).collect()[0]["n"]
    assert bare == wrapped


def test_bare_pattern_pred_negated_untyped_arrow(spark, sf_dir):
    """NOT (:Orders)-->(c): bracket-less untyped arrow resolves its
    type from the endpoint labels, then lowers to a left-anti join."""
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (c:Customer) WHERE NOT (:Orders)-->(c) "
        "RETURN count(*) AS n",
    ).collect()[0]["n"]
    n_customers = g.nodes["Customer"].count()
    with_orders = g.edges["PLACED_BY"].df.select("dst").distinct().count()
    assert got == n_customers - with_orders


def test_bare_pattern_pred_composes_with_residual(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (n:Nation) "
        "WHERE (c:Customer {c_mktsegment: 'BUILDING'})-[:FROM_NATION]->(n) "
        "AND n.n_regionkey = 0 RETURN count(*) AS n",
    ).collect()[0]["n"]
    building = (
        g.edges["FROM_NATION"]
        .df.join(
            g.nodes["Customer"].filter(
                F.col("c_mktsegment") == "BUILDING"
            ).select(F.col("c_custkey").alias("src")),
            "src",
            "left_semi",
        )
        .select("dst")
        .distinct()
    )
    exp = (
        g.nodes["Nation"]
        .filter(F.col("n_regionkey") == 0)
        .join(building.select(F.col("dst").alias("n_nationkey")),
              "n_nationkey", "left_semi")
        .count()
    )
    assert got == exp


def test_untyped_edge_resolved_in_match(spark, sf_dir):
    """(c:Customer)-->(n:Nation) and (c:Customer)--(n:Nation) resolve
    to FROM_NATION from the endpoint labels."""
    g = tpch_graph(spark, sf_dir)
    exp = g.edges["FROM_NATION"].df.count()
    for pat in ("(c:Customer)-->(n:Nation)", "(c:Customer)--(n:Nation)"):
        got = compile_cypher(
            g, f"MATCH {pat} RETURN count(*) AS n"
        ).collect()[0]["n"]
        assert got == exp, pat


def test_untyped_edge_ambiguous_rejected(spark, sf_dir):
    """Orders has two outgoing edge types; an untyped arrow to an
    unlabeled node is ambiguous — analysis error, not a guess."""
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError, match="ambiguous"):
        compile_cypher(g, "MATCH (o:Orders)-->(x) RETURN count(*) AS n")


def test_untyped_edge_wrong_direction_rejected(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError, match="no relationship type"):
        compile_cypher(
            g, "MATCH (n:Nation)-->(c:Customer) RETURN count(*) AS n"
        )


def test_call_subquery_correlated_aggregate(spark, sf_dir):
    """CALL { WITH c … RETURN count(o) } executes per row: one output
    row per customer, zero-match customers get count 0 (left join +
    backfill)."""
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (c:Customer) "
        "CALL { WITH c MATCH (o:Orders)-[:PLACED_BY]->(c) "
        "RETURN count(o) AS n_orders } "
        "RETURN c.c_custkey AS custkey, n_orders",
    ).collect()
    assert len(rows) == g.nodes["Customer"].count()
    exp = {
        r["dst"]: r["n"]
        for r in g.edges["PLACED_BY"]
        .df.groupBy("dst")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for r in rows:
        assert r["n_orders"] == exp.get(r["custkey"], 0)


def test_call_subquery_zero_match_counts_zero(spark, sf_dir):
    """Parts never ordered still yield a row with count 0."""
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (p:Part) "
        "CALL { WITH p MATCH (o:Orders)-[:CONTAINS_ITEM]->(p) "
        "RETURN count(o) AS n } "
        "WITH p, n WHERE n = 0 RETURN count(*) AS n_unordered",
    ).collect()[0]["n_unordered"]
    exp = compile_cypher(
        g,
        "MATCH (p:Part) "
        "WHERE NOT exists((o:Orders)-[:CONTAINS_ITEM]->(p)) "
        "RETURN count(p) AS n",
    ).collect()[0]["n"]
    assert got == exp


def test_call_subquery_correlated_non_aggregate(spark, sf_dir):
    """A non-aggregate subquery multiplies outer rows by its matches
    (inner-join semantics; zero-match outer rows drop)."""
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (n:Nation {n_regionkey: 0}) "
        "CALL { WITH n MATCH (c:Customer)-[:FROM_NATION]->(n) "
        "RETURN c.c_acctbal AS bal } "
        "RETURN count(*) AS n_rows",
    ).collect()[0]["n_rows"]
    exp = (
        g.edges["FROM_NATION"]
        .df.join(
            g.nodes["Nation"]
            .filter(F.col("n_regionkey") == 0)
            .select(F.col("n_nationkey").alias("dst")),
            "dst",
            "left_semi",
        )
        .count()
    )
    assert got == exp


def test_call_subquery_uncorrelated(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (r:Region) "
        "CALL { MATCH (n:Nation) RETURN count(n) AS n_nations } "
        "RETURN r.r_name AS region, n_nations",
    ).collect()
    n_nations = g.nodes["Nation"].count()
    assert len(rows) == g.nodes["Region"].count()
    assert all(r["n_nations"] == n_nations for r in rows)


def test_call_subquery_errors(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError, match="combined with aggregates"):
        compile_cypher(
            g,
            "MATCH (c:Customer) "
            "CALL { WITH c MATCH (o:Orders)-[:PLACED_BY]->(c) "
            "RETURN sum(o.o_totalprice) AS p ORDER BY p DESC LIMIT 3 } "
            "RETURN count(*) AS n",
        )
    with pytest.raises(CypherAnalysisError, match="not a bound node"):
        compile_cypher(
            g,
            "MATCH (c:Customer) "
            "CALL { WITH z MATCH (o:Orders) RETURN count(o) AS n } "
            "RETURN count(*) AS m",
        )
    with pytest.raises(CypherAnalysisError, match="already bound"):
        compile_cypher(
            g,
            "MATCH (c:Customer) WITH c.c_custkey AS n "
            "CALL { MATCH (x:Nation) RETURN count(x) AS n } "
            "RETURN count(*) AS m",
        )


def test_call_subquery_mixed_agg_drops_zero_match(spark, sf_dir):
    """RETURN mixing a grouping key with an aggregate yields no groups
    over empty input — zero-match outer rows DROP (inner join), they
    must not survive with NULL keys and a backfilled 0."""
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (p:Part) "
        "CALL { WITH p MATCH (o:Orders)-[:CONTAINS_ITEM]->(p) "
        "RETURN o.o_orderstatus AS status, count(o) AS n } "
        "RETURN p.p_partkey AS pk, status, n",
    ).collect()
    assert all(r["status"] is not None and r["n"] > 0 for r in rows)
    got_parts = {r["pk"] for r in rows}
    exp_parts = {
        r["dst"]
        for r in g.edges["CONTAINS_ITEM"].df.select("dst").distinct().collect()
    }
    assert got_parts == exp_parts


def test_call_subquery_sum_collect_backfill(spark, sf_dir):
    """All-aggregate RETURN over zero matches: sum() is 0 and collect()
    is [] (not NULL through the left join); min() stays NULL."""
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        # the inner WHERE never holds, so every outer row is zero-match
        "MATCH (c:Customer) "
        "CALL { WITH c MATCH (o:Orders)-[:PLACED_BY]->(c) "
        "WHERE o.o_totalprice < 0 "
        "RETURN sum(o.o_totalprice) AS s, collect(o.o_orderkey) AS ks, "
        "min(o.o_totalprice) AS lo } "
        "RETURN count(*) AS n_rows, sum(s) AS total, count(lo) AS n_lo, "
        "sum(size(ks)) AS total_ks",
    ).collect()[0]
    n_cust = g.nodes["Customer"].count()
    assert rows["n_rows"] == n_cust  # all outer rows survive (left)
    assert rows["total"] == 0.0  # every zero-match sum backfilled to 0
    assert rows["total_ks"] == 0  # collect() backfilled to [], not NULL
    assert rows["n_lo"] == 0  # min over zero rows stays NULL


def test_call_subquery_topk_per_row(spark, sf_dir):
    """Correlated ORDER BY … LIMIT 1: the per-entity top-1 idiom lowers
    to a row_number window over the correlation key."""
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (c:Customer) "
        "CALL { WITH c MATCH (o:Orders)-[:PLACED_BY]->(c) "
        "RETURN o.o_totalprice AS top_price ORDER BY top_price DESC "
        "LIMIT 1 } "
        "RETURN c.c_custkey AS ck, top_price",
    ).collect()
    exp = {
        r["dst"]: r["m"]
        for r in g.edges["PLACED_BY"]
        .df.join(
            g.nodes["Orders"].select(
                F.col("o_orderkey").alias("src"), "o_totalprice"
            ),
            "src",
        )
        .groupBy("dst")
        .agg(F.max("o_totalprice").alias("m"))
        .collect()
    }
    assert len(rows) == len(exp)  # zero-order customers drop (inner)
    for r in rows:
        assert r["top_price"] == exp[r["ck"]]


def test_call_subquery_topk_order_by_unreturned_prop(spark, sf_dir):
    """ORDER BY a property that is not among the RETURN items — the
    sort key is injected for the window, then dropped."""
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (n:Nation {n_nationkey: 1}) "
        "CALL { WITH n MATCH (c:Customer)-[:FROM_NATION]->(n) "
        "RETURN c.c_name AS name ORDER BY c.c_acctbal DESC LIMIT 2 } "
        "RETURN name",
    ).collect()
    exp = [
        r["c_name"]
        for r in g.nodes["Customer"]
        .filter(F.col("c_nationkey") == 1)
        .orderBy(F.col("c_acctbal").desc())
        .limit(2)
        .collect()
    ]
    assert sorted(r["name"] for r in rows) == sorted(exp)


def test_call_subquery_import_without_inner_match(spark, sf_dir):
    """CALL { WITH c RETURN c.x AS y } — importing WITH followed
    directly by RETURN binds c to its label frame."""
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (r:Region) "
        "CALL { WITH r RETURN r.r_name AS rname } "
        "RETURN r.r_regionkey AS rk, rname",
    ).collect()
    exp = {
        r["r_regionkey"]: r["r_name"] for r in g.nodes["Region"].collect()
    }
    assert len(rows) == len(exp)
    for r in rows:
        assert r["rname"] == exp[r["rk"]]


def test_call_then_unwind_in_source_order(spark, sf_dir):
    """CALL { … RETURN collect(...) AS ks } UNWIND ks AS k — the UNWIND
    consumes the CALL's output, so clause order must be preserved."""
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (r:Region) "
        "CALL { MATCH (n:Nation) RETURN collect(n.n_nationkey) AS ks } "
        "UNWIND ks AS k "
        "RETURN count(*) AS n",
    ).collect()[0]["n"]
    assert got == g.nodes["Region"].count() * g.nodes["Nation"].count()


def test_multi_label_rejected_with_repair_hint(spark, sf_dir):
    """(n:A:B) with labels that do NOT form a valid conjunction (the
    extra label is unknown, or the labels sit on different key
    columns): the error names the one existing label so the corrector
    can strip the chain. Duplicate labels (:A:A) dedup silently."""
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError, match="keep :Customer"):
        compile_cypher(
            g, "MATCH (c:Customer:Person) RETURN count(*) AS n"
        )
    with pytest.raises(CypherAnalysisError, match="keep exactly one of"):
        compile_cypher(
            g, "MATCH (x:Customer:Supplier) RETURN count(*) AS n"
        )
    got = compile_cypher(
        g, "MATCH (c:Customer:Customer) RETURN count(*) AS n"
    ).collect()[0]["n"]
    assert got == g.nodes["Customer"].count()


def test_multi_label_conjunction_compiles(spark, sf_dir):
    """(c:Customer:ActiveBuyer) over labels sharing a key column
    compiles to an intersection (inner key-join) with the UNION of the
    two labels' properties accessible on the bound variable."""
    from project_graphdb_spark.operators.cypher_workload import (
        _multilabel_graph,
    )

    g = _multilabel_graph(spark, sf_dir)
    # intersection row count == customers that placed >=1 order
    n = compile_cypher(
        g, "MATCH (c:Customer:ActiveBuyer) RETURN count(*) AS n"
    ).collect()[0]["n"]
    n_buyers = g.nodes["ActiveBuyer"].count()
    assert n == n_buyers
    assert n <= g.nodes["Customer"].count()
    # property union: one RETURN touches both labels' properties
    row = compile_cypher(
        g,
        "MATCH (c:Customer:ActiveBuyer) "
        "RETURN c.c_name AS name, c.n_orders AS n_orders "
        "ORDER BY name LIMIT 1",
    ).collect()[0]
    assert row["name"] is not None and row["n_orders"] >= 1
    # label order is irrelevant to the match set
    n2 = compile_cypher(
        g, "MATCH (c:ActiveBuyer:Customer) RETURN count(*) AS n"
    ).collect()[0]["n"]
    assert n2 == n


def test_multi_label_conjunction_on_bound_var(spark, sf_dir):
    """A conjunctive pattern re-matching an ALREADY BOUND variable
    must intersect the extra label (and expose its properties), not
    silently ignore it — both the first-node reuse path and
    attach_endpoint."""
    from project_graphdb_spark.graph.property_graph import (
        EdgeFrame,
        PropertyGraph,
    )
    from project_graphdb_spark.io.tables import load_table
    from project_graphdb_spark.operators.cypher_workload import (
        _multilabel_graph,
    )
    from project_graphdb_spark.schema.graph_schema import (
        GraphSchema,
        NodeDef,
        RelationshipDef,
    )

    g = _multilabel_graph(spark, sf_dir)
    n_buyers = g.nodes["ActiveBuyer"].count()

    # a threshold that provably discriminates (only max-order buyers)
    thr = g.nodes["ActiveBuyer"].agg(F.max("n_orders")).first()[0]
    exp5 = g.nodes["ActiveBuyer"].filter(
        F.col("n_orders") >= thr
    ).count()
    assert 0 < exp5 < n_buyers

    # first-node reuse path: the second MATCH narrows c
    n = compile_cypher(
        g,
        "MATCH (c:Customer) MATCH (c:Customer:ActiveBuyer) "
        "RETURN count(*) AS n",
    ).collect()[0]["n"]
    assert n == n_buyers
    # the extra label's properties are bound by the re-match, and the
    # intersection filter actually discriminates
    n5 = compile_cypher(
        g,
        "MATCH (c:Customer) MATCH (c:Customer:ActiveBuyer) "
        f"WHERE c.n_orders >= {thr} RETURN count(*) AS n",
    ).collect()[0]["n"]
    assert n5 == exp5

    # attach_endpoint path: c is bound by MATCH 1, then re-used as an
    # edge endpoint carrying the conjunction in MATCH 2
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    meta = RelationshipDef(
        "Orders", "Customer", "PLACED_BY", "o_orderkey", "o_custkey",
        [], "orders",
    )
    g2 = PropertyGraph(
        schema=GraphSchema(
            nodes=g.schema.nodes
            + [NodeDef("Orders", key="o_orderkey", properties=[])],
            relationships=[meta],
        ),
        nodes={
            **g.nodes,
            "Orders": orders.select("o_orderkey"),
        },
        edges={
            "PLACED_BY": EdgeFrame(
                meta=meta,
                df=orders.select(
                    F.col("o_orderkey").alias("src"),
                    F.col("o_custkey").alias("dst"),
                ),
            )
        },
    )
    got = compile_cypher(
        g2,
        "MATCH (c:Customer) "
        "MATCH (o:Orders)-[:PLACED_BY]->(c:Customer:ActiveBuyer) "
        f"WHERE c.n_orders >= {thr} RETURN count(*) AS n",
    ).collect()[0]["n"]
    exp = (
        orders.join(
            g.nodes["ActiveBuyer"].filter(F.col("n_orders") >= thr),
            orders.o_custkey == F.col("c_custkey"),
        ).count()
    )
    assert got == exp > 0


def test_compile_does_not_mutate_ast(spark, sf_dir):
    """Compilation resolves schema facts (untyped edges, imported
    labels, CALL return injection) into a private deep copy — the
    caller's parsed Query must come back byte-identical."""
    import copy as _copy

    from project_graphdb_spark.cypher.parser import parse

    g = tpch_graph(spark, sf_dir)
    for text in [
        "MATCH (c:Customer)-->(n) RETURN count(*) AS n",  # untyped edge
        "MATCH (c:Customer) "
        "CALL { WITH c MATCH (o:Orders)-[:PLACED_BY]->(c) "
        "RETURN count(o) AS n_orders } RETURN count(*) AS n",
        "MATCH (c:Customer) "
        "CALL { WITH c RETURN c.c_name AS nm } RETURN count(*) AS n",
        "MATCH (c:Customer) "
        "CALL { WITH c MATCH (o:Orders)-[:PLACED_BY]->(c) "
        "RETURN o.o_totalprice AS p ORDER BY o.o_orderdate LIMIT 1 } "
        "RETURN count(*) AS n",
    ]:
        q = parse(text)
        snap = _copy.deepcopy(q)
        compile_cypher(g, q)
        assert q == snap, text


def test_shortest_path_basic(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH p = shortestPath((c:Customer {c_custkey: 1})-[*1..4]-(r:Region)) "
        "RETURN r.r_name AS region, length(p) AS hops",
    ).collect()
    # customer 1 reaches exactly its own region, via Nation (2 hops)
    assert len(rows) == 1 and rows[0]["hops"] == 2


def test_shortest_path_directed_typed(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH p = shortestPath((n:Nation)-[:IN_REGION*1..2]->(r:Region)) "
        "RETURN count(p) AS n, min(length(p)) AS lo, max(length(p)) AS hi",
    ).collect()[0]
    n_nations = g.nodes["Nation"].count()
    assert (got["n"], got["lo"], got["hi"]) == (n_nations, 1, 1)


def test_shortest_path_anchored_on_bound_var(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (c:Customer {c_custkey: 1}) "
        "MATCH p = shortestPath((c)-[*1..2]-(s:Supplier)) "
        "RETURN count(p) AS n",
    ).collect()[0]["n"]
    # suppliers co-located in customer 1's nation (C-N-S, 2 undirected hops)
    cust_nation = (
        g.nodes["Customer"]
        .filter(F.col("c_custkey") == 1)
        .collect()[0]["c_nationkey"]
    )
    exp = (
        g.nodes["Supplier"]
        .filter(F.col("s_nationkey") == cust_nation)
        .count()
    )
    assert got == exp


def test_shortest_path_edge_var_rejected(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError, match="relationship variable"):
        compile_cypher(
            g,
            "MATCH p = shortestPath((n:Nation)-[r:IN_REGION*1..2]->(b:Region)) "
            "RETURN count(p) AS n",
        )


def test_plain_path_var_rejected(spark, sf_dir):
    from project_graphdb_spark.cypher.parser import CypherSyntaxError

    with pytest.raises(CypherSyntaxError, match="shortestPath"):
        parse("MATCH p = (a:Nation)-[:IN_REGION]->(b:Region) RETURN p")


def test_length_on_non_path_rejected(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError, match="length"):
        compile_cypher(
            g, "MATCH (n:Nation) RETURN length(n.n_name) AS x"
        )


def test_all_shortest_paths_alias(spark, sf_dir):
    """allShortestPaths: at the length/endpoint surface our lowering
    (min-hop per pair) already IS all-shortest-paths semantics."""
    g = tpch_graph(spark, sf_dir)
    a = compile_cypher(
        g,
        "MATCH p = allShortestPaths((n:Nation)-[:IN_REGION*1..2]->(r:Region)) "
        "RETURN count(p) AS n",
    ).collect()[0]["n"]
    b = compile_cypher(
        g,
        "MATCH p = shortestPath((n:Nation)-[:IN_REGION*1..2]->(r:Region)) "
        "RETURN count(p) AS n",
    ).collect()[0]["n"]
    assert a == b


def test_exists_block_with_where(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (c:Customer) WHERE EXISTS { "
        "MATCH (o:Orders)-[:PLACED_BY]->(c) WHERE o.o_totalprice > 200000 "
        "} RETURN count(c) AS n",
    ).collect()[0]["n"]
    big = (
        g.nodes["Orders"]
        .filter(F.col("o_totalprice") > 200000)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
        .count()
    )
    assert got == big


def test_exists_block_outer_var_in_where_rejected(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError, match="EXISTS block WHERE"):
        compile_cypher(
            g,
            "MATCH (c:Customer) WHERE EXISTS { "
            "MATCH (o:Orders)-[:PLACED_BY]->(x:Customer) "
            "WHERE c.c_acctbal > 0 } RETURN count(c) AS n",
        )


def test_count_block_in_return(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (c:Customer) RETURN c.c_custkey AS k, "
        "COUNT { (o:Orders)-[:PLACED_BY]->(c) } AS n",
    ).collect()
    exp = {
        r["src"]: r["n"]
        for r in g.edges["PLACED_BY"]
        .df.groupBy(F.col("dst").alias("src"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {r["k"]: r["n"] for r in rows}
    assert len(got) == g.nodes["Customer"].count()
    for k, n in got.items():
        assert n == exp.get(k, 0)


def test_count_block_in_where(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    got = compile_cypher(
        g,
        "MATCH (c:Customer) "
        "WHERE COUNT { (o:Orders)-[:PLACED_BY]->(c) } >= 10 "
        "RETURN count(c) AS n",
    ).collect()[0]["n"]
    exp = (
        g.edges["PLACED_BY"]
        .df.groupBy("dst")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 10)
        .count()
    )
    assert got == exp


def test_count_block_zero_for_unmatched(spark, sf_dir):
    """Parts never ordered must count 0, not drop out."""
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (p:Part) "
        "WHERE COUNT { (o:Orders)-[:CONTAINS_ITEM]->(p) } = 0 "
        "RETURN count(p) AS n",
    ).collect()
    n_parts = g.nodes["Part"].count()
    with_orders = (
        g.edges["CONTAINS_ITEM"].df.select("dst").distinct().count()
    )
    assert rows[0]["n"] == n_parts - with_orders


def test_count_block_inside_outer_aggregate(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (c:Customer) RETURN c.c_mktsegment AS seg, "
        "sum(COUNT { (o:Orders)-[:PLACED_BY]->(c) }) AS total "
        "ORDER BY seg",
    ).collect()
    total = sum(r["total"] for r in rows)
    assert total == g.edges["PLACED_BY"].df.count()


def test_scalar_fn_surface_extras(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    row = compile_cypher(
        g,
        "RETURN range(1, 5) AS r, range(0, 10, 5) AS r2, "
        "reverse('abc') AS rev, ltrim('  x') AS lt, rtrim('x  ') AS rt, "
        "round(exp(log(7.0)), 6) AS e7, round(log10(100), 6) AS l10, "
        "round(sin(0), 6) AS s0, round(pi(), 4) AS p",
    ).collect()[0]
    assert list(row["r"]) == [1, 2, 3, 4, 5]
    assert list(row["r2"]) == [0, 5, 10]
    assert (row["rev"], row["lt"], row["rt"]) == ("cba", "x", "x")
    assert (row["e7"], row["l10"], row["s0"], row["p"]) == (
        7.0, 2.0, 0.0, 3.1416,
    )


def test_unwind_range(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g, "UNWIND range(1, 4) AS x RETURN x ORDER BY x"
    ).collect()
    assert [r["x"] for r in rows] == [1, 2, 3, 4]


def test_node_introspection_fns(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    row = compile_cypher(
        g,
        "MATCH (r:Region) WHERE r.r_regionkey = 0 "
        "RETURN id(r) AS rid, keys(r) AS ks, properties(r) AS props",
    ).collect()[0]
    assert row["rid"] == "Region:0"
    assert "r_name" in list(row["ks"])
    assert row["props"]["r_regionkey"] == 0


def test_introspection_on_non_node_rejected(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError, match="bound node variable"):
        compile_cypher(g, "RETURN id(42) AS x")


def test_list_comprehension_filter_map(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    row = compile_cypher(
        g,
        "RETURN [x IN range(1, 6) WHERE x % 2 = 0 | x * 10] AS xs, "
        "[x IN range(1, 3)] AS plain, "
        "[x IN range(1, 5) WHERE x > 3] AS filt, "
        "[x IN range(1, 3) | x + 1] AS mapped",
    ).collect()[0]
    assert list(row["xs"]) == [20, 40, 60]
    assert list(row["plain"]) == [1, 2, 3]
    assert list(row["filt"]) == [4, 5]
    assert list(row["mapped"]) == [2, 3, 4]


def test_reduce_and_list_predicates(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    row = compile_cypher(
        g,
        "RETURN reduce(t = 0, x IN range(1, 5) | t + x) AS total, "
        "reduce(s = 0.0, x IN [1.5, 2.5] | s + x) AS fsum, "
        "any(x IN [1, 2, 3] WHERE x > 2) AS a, "
        "all(x IN [1, 2, 3] WHERE x > 0) AS al, "
        "none(x IN [1, 2, 3] WHERE x > 5) AS no, "
        "single(x IN [1, 2, 3] WHERE x = 2) AS si",
    ).collect()[0]
    assert row["total"] == 15 and row["fsum"] == 4.0
    assert (row["a"], row["al"], row["no"], row["si"]) == (
        True, True, True, True,
    )


def test_comprehension_over_collected_column(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    row = compile_cypher(
        g,
        "MATCH (n:Nation) WITH collect(n.n_name) AS names "
        "RETURN size(names) AS n, "
        "size([x IN names WHERE x CONTAINS 'a']) AS with_a",
    ).collect()[0]
    n_nations = g.nodes["Nation"].count()
    exp_a = (
        g.nodes["Nation"].filter(F.col("n_name").contains("a")).count()
    )
    assert row["n"] == n_nations and row["with_a"] == exp_a


def test_size_of_string_list_and_comprehension_variable(spark, sf_dir):
    """size() types its argument from the frame: characters of a string
    property, elements of a list, and characters of a list-comprehension
    variable over strings, a lambda variable no frame resolves, for which
    the string default holds."""
    g = tpch_graph(spark, sf_dir)
    row = compile_cypher(
        g,
        "MATCH (c:Customer) WHERE c.c_custkey = 1 "
        "RETURN size(c.c_name) AS name_len, "
        "size(split(c.c_name, '#')) AS n_parts, "
        "[x IN split(c.c_name, '#') | size(x)] AS part_lens",
    ).collect()[0]
    assert row["name_len"] == len("Customer#000000001")
    assert row["n_parts"] == 2
    assert list(row["part_lens"]) == [len("Customer"), len("000000001")]


def test_return_star(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    df = compile_cypher(g, "MATCH (r:Region) RETURN * ORDER BY r")
    assert df.columns == ["r"]
    assert df.count() == g.nodes["Region"].count()


def test_with_star_passthrough(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (n:Nation)-[:IN_REGION]->(r:Region) WITH * "
        "RETURN n.n_name AS nn, r.r_name AS rn ORDER BY nn LIMIT 3",
    ).collect()
    assert len(rows) == 3 and rows[0]["rn"] is not None


def test_return_star_with_flat_aliases(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    df = compile_cypher(
        g,
        "MATCH (n:Nation) WITH n, n.n_nationkey AS k WHERE k < 5 "
        "RETURN * ORDER BY k",
    )
    assert df.columns == ["n", "k"]
    assert df.count() == 5


def test_order_by_restated_aggregate(spark, sf_dir):
    """ORDER BY sum(...) re-stating a projected aggregate resolves to
    that item's output column (Neo4j-compatible)."""
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (o:Orders) RETURN o.o_orderstatus AS st, "
        "sum(o.o_totalprice) AS t "
        "ORDER BY sum(o.o_totalprice) DESC LIMIT 2",
    ).collect()
    assert len(rows) == 2 and rows[0]["t"] >= rows[1]["t"]


def test_with_order_by_restated_aggregate(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (c:Customer) WITH c.c_mktsegment AS seg, count(*) AS n "
        "ORDER BY count(*) DESC LIMIT 1 RETURN seg, n",
    ).collect()
    exp = (
        g.nodes["Customer"]
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc())
        .collect()[0]["n"]
    )
    assert rows[0]["n"] == exp


def test_query_parameters(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    n = compile_cypher(
        g,
        "MATCH (c:Customer {c_mktsegment: $seg}) RETURN count(c) AS n",
        params={"seg": "BUILDING"},
    ).collect()[0]["n"]
    exp = (
        g.nodes["Customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .count()
    )
    assert n == exp
    # list parameter through IN
    k = compile_cypher(
        g,
        "MATCH (x:Nation) WHERE x.n_nationkey IN $keys "
        "RETURN count(x) AS n",
        params={"keys": [1, 2, 3]},
    ).collect()[0]["n"]
    assert k == 3


def test_missing_parameter_rejected(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    with pytest.raises(CypherAnalysisError, match=r"parameter \$x"):
        compile_cypher(
            g, "MATCH (c:Customer) WHERE c.c_acctbal > $x RETURN count(c) AS n"
        )


# -- round-3 ADVICE regression tests ------------------------------------


def test_with_passthrough_var_order_by(spark, sf_dir):
    """WITH n ORDER BY n on a passthrough node var must resolve via the
    scope (key column), not the flattened out-name (ADVICE r2 medium:
    compiler ORDER BY item-matching regression)."""
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (n:Nation) WITH n ORDER BY n LIMIT 3 "
        "RETURN n.n_nationkey AS k",
    ).collect()
    assert [r["k"] for r in rows] == [0, 1, 2]


def test_return_passthrough_order_by_restated_item(spark, sf_dir):
    """ORDER BY re-stating a projected expression still matches the
    output column when it WAS flattened."""
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (n:Nation) RETURN n.n_name AS nm "
        "ORDER BY n.n_name DESC LIMIT 2",
    ).collect()
    names = [r["nm"] for r in rows]
    assert names == sorted(names, reverse=True) and len(names) == 2


def test_union_trailing_order_by_sorts_whole_union(spark, sf_dir):
    """Trailing ORDER BY/LIMIT after the last arm applies to the whole
    union (ADVICE r2: previously silently attached to the last arm and
    destroyed)."""
    g = tpch_graph(spark, sf_dir)
    rows = compile_cypher(
        g,
        "MATCH (r:Region) RETURN r.r_name AS name "
        "UNION MATCH (n:Nation) RETURN n.n_name AS name "
        "ORDER BY name LIMIT 4",
    ).collect()
    got = [r["name"] for r in rows]
    union_sorted = sorted(
        {r["r_name"] for r in g.nodes["Region"].collect()}
        | {r["n_name"] for r in g.nodes["Nation"].collect()}
    )
    assert got == union_sorted[:4]


def test_union_order_by_inside_arm_rejected():
    with pytest.raises(CypherSyntaxError, match="UNION arm"):
        parse(
            "MATCH (r:Region) RETURN r.r_name AS name ORDER BY name "
            "UNION MATCH (n:Nation) RETURN n.n_name AS name"
        )


def test_corrector_descends_into_count_subquery(spark, sf_dir):
    """COUNT { (c)<-[:PLACED_BY]-(o:Orders) } with a schema-reversed
    arrow gets flipped (ADVICE r2: PatternCount.pattern was never
    visited)."""
    g = tpch_graph(spark, sf_dir)
    q = parse(
        "MATCH (c:Customer) "
        "WHERE COUNT { (c)-[:PLACED_BY]->(o:Orders) } > 0 "
        "RETURN count(c) AS n"
    )
    notes = correct_directions(g, q)
    assert any("PLACED_BY" in note for note in notes)
    got = compile_cypher(g, q).collect()[0]["n"]
    exp = g.edges["PLACED_BY"].df.select("dst").distinct().count()
    assert got == exp


def test_corrector_scans_return_position_count(spark, sf_dir):
    g = tpch_graph(spark, sf_dir)
    q = parse(
        "MATCH (c:Customer) "
        "RETURN c.c_custkey AS k, "
        "COUNT { (c)-[:PLACED_BY]->(o:Orders) } AS deg "
        "ORDER BY k LIMIT 5"
    )
    notes = correct_directions(g, q)
    assert any("PLACED_BY" in note for note in notes)
    rows = compile_cypher(g, q).collect()
    assert len(rows) == 5


@pytest.mark.parametrize(
    "template",
    [
        pytest.param(
            "MATCH (c:Customer) "
            "WHERE CASE WHEN COUNT { (c)%s(o:Orders) } > 15 "
            "THEN true ELSE false END "
            "RETURN c.c_custkey AS k ORDER BY k",
            id="count-in-case-in-where",
        ),
        pytest.param(
            "MATCH (c:Customer) "
            "RETURN c.c_custkey AS k, "
            "CASE WHEN COUNT { (c)%s(o:Orders) } > 15 "
            "THEN 'many' ELSE 'few' END AS band "
            "ORDER BY k",
            id="count-in-case-in-return",
        ),
        pytest.param(
            "MATCH (c:Customer) "
            "CALL { WITH c MATCH (c)%s(o:Orders) RETURN count(o) AS n } "
            "RETURN c.c_custkey AS k, n ORDER BY k",
            id="correlated-call-body",
        ),
    ],
)
def test_corrector_scans_nested_positions(spark, sf_dir, template):
    """A reversed arrow is flipped wherever its pattern sits: a COUNT{}
    under CASE WHEN (WHERE or RETURN) and a correlated CALL{} body.
    The corrected query returns the rows of the same query written
    with the schema's direction."""
    g = tpch_graph(spark, sf_dir)
    q = parse(template % "-[:PLACED_BY]->")
    notes = correct_directions(g, q)
    assert any("PLACED_BY" in note for note in notes)
    forward = parse(template % "<-[:PLACED_BY]-")
    assert correct_directions(g, forward) == []
    got = compile_cypher(g, q).collect()
    assert got and got == compile_cypher(g, forward).collect()


def test_ast_walk_order_tuples_and_into():
    q = parse(
        "MATCH (c:Customer {c_name: 'x'}) "
        "RETURN CASE WHEN c.c_acctbal > 1 THEN 'hi' ELSE 'lo' END AS band, "
        "count(c.c_custkey) AS n"
    )
    nodes = list(walk(q))
    assert nodes[0] is q
    # document order, through the (prop, expr) tuples of NodePat.props
    # and the (when, then) tuples of Case.whens
    assert [n.value for n in nodes if isinstance(n, Lit)] == [
        "x", 1, "hi", "lo",
    ]
    assert [n.name for n in nodes if isinstance(n, Prop)] == [
        "c_acctbal", "c_custkey",
    ]
    # into=False stops descent below the node; the node itself and
    # its siblings are still visited
    cut = list(walk(q, into=lambda n: not isinstance(n, Case)))
    assert sum(isinstance(n, Case) for n in cut) == 1
    assert [n.value for n in cut if isinstance(n, Lit)] == ["x"]
    assert [n.name for n in cut if isinstance(n, Prop)] == ["c_custkey"]


def test_percentile_disc_skewed_group_bounded_memory(spark, sf_dir):
    """One group vastly larger than the others: grouped percentileDisc
    must stay exact AND compile to the window rewrite (no collect_list
    in the aggregate), so the giant group's values live in a spillable
    window sort, never in one aggregation buffer row."""
    import math

    from project_graphdb_spark.graph.property_graph import PropertyGraph
    from project_graphdb_spark.schema.graph_schema import (
        GraphSchema,
        NodeDef,
    )

    # 10k rows in group 'big', 3 rows in 'small', plus nulls to skip
    rows = [(i, "big", float(i % 997)) for i in range(10_000)]
    rows += [(20_000, "small", 7.0), (20_001, "small", 1.0),
             (20_002, "small", 9.0), (20_003, "small", None)]
    df = spark.createDataFrame(rows, "id long, grp string, x double")
    schema = GraphSchema(
        nodes=[NodeDef("T", "id", ["grp", "x"])], relationships=[]
    )
    g = PropertyGraph(schema, nodes={"T": df}, edges={})
    q = ("MATCH (t:T) RETURN t.grp AS grp, "
         "percentileDisc(t.x, 0.5) AS p50, "
         "percentileDisc(t.x, 0.9) AS p90")
    out = compile_cypher(g, q)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan  # rewritten to the window form
    assert "Window" in plan

    got = {r["grp"]: (r["p50"], r["p90"]) for r in out.collect()}
    by_grp: dict[str, list[float]] = {}
    for _id, grp, x in rows:
        if x is not None:
            by_grp.setdefault(grp, []).append(x)
    for grp, vals in by_grp.items():
        vals.sort()
        exp = tuple(
            vals[max(0, math.ceil(p * len(vals)) - 1)] for p in (0.5, 0.9)
        )
        assert got[grp] == exp, grp


def test_fk_join_elimination_unused_endpoint(spark, sf_dir):
    """FK join elimination (r8): a TERMINAL pattern endpoint that is
    never referenced compiles WITHOUT its node join when the edge side
    is resolution-guaranteed (own-PK or RELY-trusted FK) — the join
    would match exactly one node per edge (unique keys), so dropping
    it changes neither existence nor multiplicity."""
    g = tpch_graph(spark, sf_dir)

    def plan(q):
        df = compile_cypher(g, q)
        return df, df._jdf.queryExecution().executedPlan().toString()

    # unused named endpoint: part scan gone, count == edge count
    df, p = plan(
        "MATCH (o:Orders)-[:CONTAINS_ITEM]->(p:Part) RETURN count(*) AS n"
    )
    assert "part.parquet" not in p
    assert df.first()["n"] == g.edge("CONTAINS_ITEM").count()

    # anonymous endpoint: same elision
    df, p = plan("MATCH (o:Orders)-[:CONTAINS_ITEM]->() RETURN count(*) AS n")
    assert "part.parquet" not in p

    # endpoint referenced in RETURN: join kept
    df, p = plan(
        "MATCH (o:Orders)-[:CONTAINS_ITEM]->(p:Part) "
        "RETURN count(p.p_brand) AS n"
    )
    assert "part.parquet" in p

    # inline property filter: join kept (the node constrains the match)
    df, p = plan(
        "MATCH (o:Orders)-[:CONTAINS_ITEM]->(p:Part {p_size: 1}) "
        "RETURN count(*) AS n"
    )
    assert "part.parquet" in p

    # var re-used by a second pattern: join kept
    df, p = plan(
        "MATCH (o:Orders)-[:CONTAINS_ITEM]->(p:Part) "
        "MATCH (o2:Orders)-[:CONTAINS_ITEM]->(p) RETURN count(*) AS n"
    )
    assert "part.parquet" in p

    # non-terminal endpoint (chains into a later hop): join kept
    df, p = plan(
        "MATCH (c:Customer)<-[:PLACED_BY]-(o:Orders)"
        "-[:CONTAINS_ITEM]->(p:Part) WHERE c.c_custkey = 1 "
        "RETURN count(*) AS n"
    )
    assert "orders.parquet" in p


def test_fk_join_elimination_requires_trust(spark, sf_dir):
    """Without trust_fk (or a relational schema at all) the endpoint
    join survives — resolution is not guaranteed, so eliding it could
    keep dangling edges a MATCH must drop."""
    from pyspark.sql import functions as F

    from project_graphdb_spark.graph.property_graph import (
        EdgeFrame,
        PropertyGraph,
    )
    from project_graphdb_spark.schema.graph_schema import (
        GraphSchema,
        NodeDef,
        RelationshipDef,
    )

    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    # edge 3 -> 9 dangles on BOTH sides
    knows = spark.createDataFrame([(1, 2), (3, 9)], "src long, dst long")
    meta = RelationshipDef("P", "P", "KNOWS", "src", "dst", [], "t")
    g = PropertyGraph(
        schema=GraphSchema(
            nodes=[NodeDef("P", key="id", properties=[])],
            relationships=[meta],
        ),
        nodes={"P": nodes},
        edges={"KNOWS": EdgeFrame(meta=meta, df=knows)},
    )
    n = compile_cypher(
        g, "MATCH (a:P)-[:KNOWS]->(b:P) RETURN count(*) AS n"
    ).first()["n"]
    assert n == 1  # the dangling edge must NOT count


def test_conj_attach_no_redundant_rejoin(spark, sf_dir):
    """ADVICE r8 low: conj_attach could run twice for the same extra
    label on one bound variable (pattern-start branch + attach_endpoint,
    or simply repeated conjunctive re-MATCHes) — the second call found
    no new columns but still emitted a key-only inner join per label.
    The _BoundVar.applied_labels memo makes re-application a no-op:
    re-stating the conjunction must not add a single extra Join node."""
    from project_graphdb_spark.operators.cypher_workload import (
        _multilabel_graph,
    )

    g = _multilabel_graph(spark, sf_dir)
    n_buyers = g.nodes["ActiveBuyer"].count()

    def njoins(q):
        df = compile_cypher(g, q)
        assert df.collect()[0]["n"] == n_buyers
        return df._jdf.queryExecution().analyzed().toString().count("Join")

    once = njoins(
        "MATCH (c:Customer) MATCH (c:Customer:ActiveBuyer) "
        "RETURN count(*) AS n"
    )
    thrice = njoins(
        "MATCH (c:Customer) MATCH (c:Customer:ActiveBuyer) "
        "MATCH (c:Customer:ActiveBuyer) MATCH (c:ActiveBuyer:Customer) "
        "RETURN count(*) AS n"
    )
    assert thrice == once, f"redundant conj re-joins: {once} vs {thrice}"

    # initial conjunctive binding also records its labels: a re-MATCH
    # of the same conjunction on a var bound WITH the extra label adds
    # no join either
    first = njoins(
        "MATCH (c:Customer:ActiveBuyer) RETURN count(*) AS n"
    )
    rematch = njoins(
        "MATCH (c:Customer:ActiveBuyer) MATCH (c:Customer:ActiveBuyer) "
        "RETURN count(*) AS n"
    )
    assert rematch == first


# -- aggregation pushdown below the node join (r10) --------------------------

_PUSH_QUERIES = [
    # part-grain group keys (~30 edges/key, above the measured fan-in
    # gate): these shapes are the sf10-measured WIN (SCALE.md finding 23)
    (
        "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
        "RETURN p.p_brand AS brand, count(*) AS n, "
        "min(ci.l_quantity) AS qmin, max(ci.l_quantity) AS qmax "
        "ORDER BY brand"
    ),
    # decimal-exact sum over an edge expression
    (
        "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
        "WITH p.p_brand AS brand, "
        "sum(ci.l_extendedprice * (1 - ci.l_discount)) AS rev "
        "RETURN brand, rev ORDER BY brand"
    ),
    # reversed pattern direction, same part grain
    (
        "MATCH (p:Part)<-[ci:CONTAINS_ITEM]-(o:Orders) "
        "RETURN p.p_type AS ptype, sum(ci.l_quantity) AS q ORDER BY ptype"
    ),
    # arithmetic around the aggregate (merge composes under BinOp)
    (
        "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
        "WITH p.p_brand AS brand, sum(ci.l_quantity) * 2 AS dq "
        "RETURN brand, dq ORDER BY brand"
    ),
    # r10.1: edge-only WHERE filters the edge frame BEFORE the pre-agg
    (
        "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
        "WHERE ci.l_quantity > 10 "
        "RETURN p.p_brand AS brand, sum(ci.l_quantity) AS q ORDER BY brand"
    ),
    # r10.1: group-endpoint-only WHERE filters after the node join
    (
        "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
        "WHERE p.p_size > 10 AND ci.l_discount < 0.05 "
        "RETURN p.p_brand AS brand, count(*) AS n ORDER BY brand"
    ),
]

# eligible shapes whose measured fan-in is BELOW the gate (orderkey
# grain ~4, custkey grain ~10 edges/key — the sf10-measured losses):
# the rule must decline and the generic path must own them
_GATED_QUERIES = [
    (
        "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
        "WITH date(o.o_orderdate).year AS y, "
        "sum(ci.l_extendedprice * (1 - ci.l_discount)) AS rev "
        "RETURN y, rev ORDER BY y"
    ),
    (
        "MATCH (c:Customer)<-[pb:PLACED_BY]-(o:Orders) "
        "RETURN c.c_mktsegment AS seg, count(*) AS n ORDER BY seg"
    ),
]

_NO_PUSH_QUERIES = [
    # WHERE referencing the ELIDED endpoint (o is not the group side)
    (
        "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
        "WHERE o.o_totalprice > 100000 "
        "RETURN p.p_brand AS b, sum(ci.l_quantity) AS q ORDER BY b"
    ),
    # WHERE conjunct referencing BOTH sides
    (
        "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
        "WHERE p.p_size > ci.l_quantity "
        "RETURN p.p_brand AS b, count(*) AS n ORDER BY b"
    ),
    # avg is not decomposable without a sum/count split
    (
        "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
        "RETURN o.o_orderstatus AS st, avg(ci.l_quantity) AS q ORDER BY st"
    ),
    # DISTINCT aggregate
    (
        "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
        "RETURN o.o_orderstatus AS st, "
        "count(DISTINCT ci.l_quantity) AS q ORDER BY st"
    ),
    # aggregate references the OTHER endpoint -> not edge-only
    (
        "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
        "RETURN o.o_orderstatus AS st, min(p.p_retailprice) AS m "
        "ORDER BY st"
    ),
    # keys reference BOTH endpoints
    (
        "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
        "RETURN o.o_orderstatus AS st, p.p_brand AS b, "
        "sum(ci.l_quantity) AS q ORDER BY st, b"
    ),
]


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: tuple(map(str, t))
    )


@pytest.mark.parametrize("q", _PUSH_QUERIES + _GATED_QUERIES + _NO_PUSH_QUERIES)
def test_agg_pushdown_equivalence(q, spark, sf_dir):
    """With the pushdown disabled, every query must produce the
    IDENTICAL result (values and schema) as with it enabled."""
    from project_graphdb_spark.cypher import compiler as C

    g = tpch_graph(spark, sf_dir)
    on = compile_cypher(g, q)
    C.AGG_PUSHDOWN_ENABLED = False
    try:
        off = compile_cypher(g, q)
    finally:
        C.AGG_PUSHDOWN_ENABLED = True
    assert on.schema == off.schema
    assert _rows(on) == _rows(off)


@pytest.mark.parametrize("q", _PUSH_QUERIES)
def test_agg_pushdown_fires(q, spark, sf_dir):
    """Eligible shapes pre-aggregate BELOW the node join: the optimized
    plan's topmost Aggregate sits above a Join that itself contains an
    Aggregate (the per-edge-key partial)."""
    g = tpch_graph(spark, sf_dir)
    df = compile_cypher(g, q)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    jidx = [i for i, l in enumerate(lines) if "Join" in l]
    aidx = [i for i, l in enumerate(lines) if "Aggregate" in l]
    assert jidx and len(aidx) >= 2, plan
    assert min(aidx) < min(jidx) < max(aidx), plan


@pytest.mark.parametrize("q", _NO_PUSH_QUERIES)
def test_agg_pushdown_declines_ineligible(q, spark, sf_dir):
    """Ineligible shapes must return None from the rule (the generic
    path owns them)."""
    from project_graphdb_spark.cypher.compiler import (
        _try_agg_pushdown,
        _unused_node_vars,
    )

    g = tpch_graph(spark, sf_dir)
    ast_q = parse(q)
    seg = ast_q.segments[0]
    proj = seg.projection if seg.projection is not None else ast_q.ret
    assert (
        _try_agg_pushdown(g, seg, proj, _unused_node_vars(ast_q), True)
        is None
    )


@pytest.mark.parametrize("q", _GATED_QUERIES)
def test_agg_pushdown_fanin_gate_declines(q, spark, sf_dir):
    """Shapes below the measured fan-in threshold (the sf10-measured
    wall-clock losses: orderkey ~4, custkey ~10 edges/key) must
    decline — the generic join-first plan is faster there."""
    from project_graphdb_spark.cypher.compiler import (
        _try_agg_pushdown,
        _unused_node_vars,
    )

    g = tpch_graph(spark, sf_dir)
    ast_q = parse(q)
    seg = ast_q.segments[0]
    proj = seg.projection if seg.projection is not None else ast_q.ret
    assert (
        _try_agg_pushdown(g, seg, proj, _unused_node_vars(ast_q), True)
        is None
    )
