"""The two workloads. Each is a closed loop from one client: build the
inputs from the seed, set up, then run whole passes of operations until
the measured time is used up, checking every operation's output outside
the timed region.

* ``graph_algorithms`` — the five superstep shapes of the registry's
  graph-algorithm family (min-propagation, sum-propagation, frontier,
  wedge join, peeling), checked against the registry's DuckDB oracles.
* ``agent_etl`` — the paper's interactive path: a SQLite database is
  loaded into a property graph, stored, reloaded and updated through
  Cypher MERGE batches, then natural-language questions and an RCA
  investigation run through the agent workflow.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import sys
import time

from perfbench import check, datagen

# galg_pagerank_top20 (sum-propagation, 10 supersteps) is left out: it
# alone adds about 12 s to every run, which the run budget cannot carry.
GALG_QUERIES = (
    "galg_connected_components",
    "galg_bfs_from_customer1",
    "galg_triangle_count",
    "galg_kcore_3",
)
GALG_ALGORITHMS = ("connected_components", "bfs_distances", "triangle_count", "k_core")
GALG_SF = 0.002
AGENT_ETL_SF = 0.002
MERGE_BATCHES = 2
MERGE_BATCH_ROWS = 250
MERGE_NEW_FRAC = 0.1
SETUP_REPS = 3

NODE_UPSERT = """
UNWIND $rows AS row
MERGE (n:Customer {c_custkey: row.c_custkey})
SET n += {c_custkey: row.c_custkey, c_name: row.c_name, c_acctbal: row.c_acctbal}
RETURN count(n) AS processed
"""
REL_MERGE = """
UNWIND $rows AS row
MATCH (s:Orders) WHERE s.o_orderkey = row.order_id
WITH s, row
MATCH (t:Customer) WHERE t.c_custkey = row.cust_id
WITH s, t, row
MERGE (s)-[r:PLACED_BY]->(t)
RETURN count(r) AS relationships_created
"""


class Run:
    """State shared by a workload's set-up, operations and checks."""

    def __init__(self, session, seed: int, seconds: float, work_dir: str, tracer):
        self.session = session  # perfbench.run.Session
        self.seed = seed
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.work_dir = work_dir
        self.tracer = tracer
        self.jobs = None  # trace.JobStats in a traced run, from the first operation
        self.tally = check.Tally()
        self.latencies: list[float] = []
        self.cpu: list[float] = []
        self.setup_cpu: list[float] = []
        self.extra: dict[str, float] = {}
        self.setup_reps: list[float] = []
        self.before_ops = lambda: None
        self._t0 = time.perf_counter()

    def mark(self, label: str) -> None:
        """Progress line on stderr: seconds since the run began."""
        print(f"perfbench: +{time.perf_counter() - self._t0:.1f}s {label}", file=sys.stderr, flush=True)

    @property
    def spark(self):
        return self.session.spark

    def op(self, label: str, fn):
        """Run one timed operation; returns (result, error)."""
        if self.jobs:
            self.jobs.start()
        t0, c0 = time.perf_counter(), self.session.cpu_s()
        try:
            result, err = fn(), None
        except Exception as e:  # an operation that raises counts as failed
            result, err = None, e
        self.latencies.append(time.perf_counter() - t0)
        self.cpu.append(self.session.cpu_s() - c0)
        self.mark(f"{label} {self.latencies[-1]:.2f}s cpu {self.cpu[-1]:.2f}s")
        if self.jobs:
            self.jobs.stop()
        return result, err

    def passes(self, make_pass):
        """Run whole passes until the timed operations fill ``seconds``."""
        self.mark("set-up done")
        self.before_ops()
        n = 0
        while n == 0 or sum(self.latencies) < self.seconds:
            make_pass(n)
            n += 1
        self.mark(f"{n} passes done")

    def set_up(self, data_dir: str):
        """Start the session, then run the program's input prep
        SETUP_REPS times: derive the memoized graph and count the nodes
        of every label. Returns the graph."""
        from project_graphdb_spark import spark_util
        from project_graphdb_spark.graph import builder

        self.mark("inputs ready")
        self.session.start()
        self.mark(f"session started in {self.session.start_s:.1f}s")
        for _ in range(SETUP_REPS):
            t0, c0 = time.perf_counter(), self.session.cpu_s()
            builder._CACHE.clear()
            graph = builder.tpch_graph(self.spark, data_dir)
            spark_util.materialize(graph.node_counts())
            self.setup_reps.append(time.perf_counter() - t0)
            self.setup_cpu.append(self.session.cpu_s() - c0)
        self.mark(f"set-up reps {[round(s, 2) for s in self.setup_reps]} cpu {[round(s, 2) for s in self.setup_cpu]}")
        return graph


# ---------------------------------------------------------------------------
# graph_algorithms
# ---------------------------------------------------------------------------


def graph_algorithms(run: Run) -> None:
    from project_graphdb_spark import spark_util, workload
    from project_graphdb_spark.graph import algorithms

    data_dir = os.path.join(run.work_dir, "data")
    datagen.write_parquet(datagen.make_tables(run.seed, GALG_SF), data_dir)
    con = check.duckdb_con(data_dir)
    oracles = workload.oracle_sql()
    expected = {q: check.query_rows(con, oracles[q]) for q in GALG_QUERIES}
    con.close()
    queries = workload.queries()

    run.set_up(data_dir)

    layout0 = dict(algorithms.EDGE_LAYOUT_STATS)
    supersteps: dict[str, list[float]] = {a: [] for a in GALG_ALGORITHMS}

    def one_pass(_n: int) -> None:
        for name in GALG_QUERIES:
            algorithms.LAST_ITER_SECONDS.clear()
            qfn = queries[name]
            df_box = []

            def call():
                df = _query_fn(run, qfn, data_dir)
                df_box.append(df)
                return spark_util.materialize(df)

            rows, err = run.op(name, call)
            for alg, secs in algorithms.LAST_ITER_SECONDS.items():
                supersteps.setdefault(alg, []).extend(secs)
            if err is not None:
                run.tally.record(name, False, repr(err))
                continue
            cols, want = expected[name]
            ok, detail = check.same_rows(check.spark_rows(df_box[0], cols), want)
            if ok and rows != len(want):
                ok, detail = False, f"materialize counted {rows} rows"
            run.tally.record(name, ok, detail)

    run.passes(one_pass)
    run.extra["graph.algorithms.edge_layout_writes"] = (
        algorithms.EDGE_LAYOUT_STATS["writes"] - layout0["writes"]
    )
    run.extra["graph.algorithms.edge_layout_hits"] = (
        algorithms.EDGE_LAYOUT_STATS["hits"] - layout0["hits"]
    )
    all_steps = [s for v in supersteps.values() for s in v]
    run.extra["graph.algorithms.superstep_p50_s"] = check.median(all_steps)
    for alg in GALG_ALGORITHMS:
        run.extra[f"graph.algorithms.{alg}.supersteps"] = len(supersteps.get(alg, []))
    algorithms.release_edge_layouts(run.spark)


def _query_fn(run: Run, qfn, data_dir: str):
    if run.tracer is not None:
        qfn = run.tracer.wrap("operators.query_fn", qfn)
    return qfn(run.spark, data_dir)


# ---------------------------------------------------------------------------
# agent_etl
# ---------------------------------------------------------------------------

MISSING_SEGMENT = "aerospace"  # not one of datagen.SEGMENTS


def _questions(rng: random.Random) -> list[tuple[str, str, object]]:
    """One pass of questions: every TemplatePlanner shape with seeded
    parameters, one faulty-planner question and one whose filter value
    does not exist. Entries are (kind, question, shape argument)."""
    years = datagen.ORDER_YEARS
    segment = rng.choice(datagen.SEGMENTS)
    top_k = rng.randint(3, 10)
    return [
        ("total_sales", f"total sales for year {(y := rng.choice(years))}", y),
        ("status_counts", f"order status counts for year {(y := rng.choice(years))}", y),
        ("top_customers", f"top {top_k} customers by revenue", top_k),
        ("segment_customers", f"how many customers in the '{segment.lower()}' segment", segment),
        ("orders_by_segment", "number of orders by segment", None),
        ("customers_without_orders", "how many customers have no orders?", None),
        ("revenue_per_year", "what is the total revenue per year?", None),
        ("faulty", "top 5 customers by revenue", 5),
        ("missing", f"how many customers in the '{MISSING_SEGMENT}' segment", MISSING_SEGMENT),
    ]


def _merge_batches(rng: random.Random, tables) -> list[tuple[str, list[tuple]]]:
    """MERGE_BATCHES parameter batches, alternating Customer upserts and
    PLACED_BY merges. Each has MERGE_NEW_FRAC new keys (upserts) or new
    (order, customer) pairs (merges); the rest hit existing ones."""
    n_cust = tables["customer"].num_rows
    order_cust = tables["orders"].column("o_custkey").to_pylist()
    n_new = int(MERGE_BATCH_ROWS * MERGE_NEW_FRAC)
    n_old = MERGE_BATCH_ROWS - n_new
    new_orders = iter(rng.sample(range(len(order_cust)), n_new * MERGE_BATCHES // 2))
    batches = []
    for b in range(MERGE_BATCHES):
        if b % 2 == 0:
            keys = rng.sample(range(n_cust), n_old)
            keys += [n_cust + (b // 2) * n_new + j for j in range(n_new)]
            rows = [(k, f"Customer#{k:09d}-v{b}", round(rng.uniform(0, 9999), 2)) for k in keys]
            batches.append(("node", rows))
        else:
            olds = rng.sample(range(len(order_cust)), n_old)
            rows = [(o, order_cust[o]) for o in olds]
            for o in (next(new_orders) for _ in range(n_new)):
                other = (order_cust[o] + 1 + rng.randrange(n_cust - 1)) % n_cust
                rows.append((o, other))
            batches.append(("rel", rows))
    return batches


def agent_etl(run: Run) -> None:
    from project_graphdb_spark import spark_util
    from project_graphdb_spark.agent import rca, workflow
    from project_graphdb_spark.agent.state import new_state
    from project_graphdb_spark.cypher import write as cypher_write
    from project_graphdb_spark.graph import storage
    from project_graphdb_spark.io import sqlite as io_sqlite
    from project_graphdb_spark.operators.agent_workload import BROKEN_TOP5
    from project_graphdb_spark.schema.inference import TPCH_REL_NAMES
    from project_graphdb_spark.schema.relational import TPCH_SCHEMA

    data_dir = os.path.join(run.work_dir, "data")
    tables = datagen.make_tables(run.seed, AGENT_ETL_SF)
    datagen.write_parquet(tables, data_dir)
    db_path = os.path.join(run.work_dir, "source.sqlite")
    datagen.write_sqlite(tables, TPCH_SCHEMA, db_path)
    source_bytes = os.path.getsize(db_path)
    want_nodes, want_edges = check.sqlite_counts(db_path)
    elements = sum(want_nodes.values()) + sum(want_edges.values())
    batches = _merge_batches(run.rng, tables)
    n_new = int(MERGE_BATCH_ROWS * MERGE_NEW_FRAC) * (MERGE_BATCHES // 2)
    want_merged = (want_nodes["Customer"] + n_new, want_edges["PLACED_BY"] + n_new)

    con = check.duckdb_con(data_dir)
    drop_year = check.largest_drop_year(con)
    answer_cache: dict[tuple, tuple[list[str], list[tuple]]] = {}

    def expected_answer(shape: str, arg):
        if (shape, arg) not in answer_cache:
            answer_cache[(shape, arg)] = check.query_rows(con, check.question_sql(shape, arg))
        return answer_cache[(shape, arg)]

    graph = run.set_up(data_dir)

    def planner_for(kind: str):
        p = workflow.FaultyPlanner(BROKEN_TOP5) if kind == "faulty" else workflow.TemplatePlanner()
        if run.tracer is None:
            return p
        from perfbench.trace import TimedPlanner

        return TimedPlanner(p, run.tracer)

    q_stats = {"questions": 0, "corrections": 0, "first_pass_valid": 0}
    rca_lat: list[float] = []
    rca_subqueries: list[int] = []
    etl_phase = {"ingest_s": 0.0, "merge_s": 0.0, "cycles": 0, "bytes": 0}

    def ask(kind: str, question: str, arg) -> None:
        state, err = run.op(
            question,
            lambda: workflow.run_agent_workflow(new_state(question), graph, planner_for(kind))
        )
        if err is not None:
            run.tally.record(question, False, repr(err))
            return
        steps = state["steps"]
        q_stats["questions"] += 1
        q_stats["corrections"] += steps.count("correct_cypher")
        q_stats["first_pass_valid"] += "correct_cypher" not in steps
        if kind == "missing":
            want = workflow.VALUE_MISSING_TEMPLATE.format(
                value=arg.lower(), target="c.c_mktsegment"
            )
            ok = state["answer"] == want and state["database_records"] == []
            run.tally.record(question, ok, state["answer"])
            return
        if kind == "faulty" and "execute_cypher" not in steps:
            run.tally.record(question, False, f"never executed: {steps}")
            return
        cols, want = expected_answer("top_customers" if kind == "faulty" else kind, arg)
        records = state["database_records"]
        got = [] if isinstance(records, str) else check.records_rows(records, cols)
        run.tally.record(question, *check.same_rows(got, want))

    def investigate(adaptive: bool, year: int) -> None:
        if adaptive:
            question, inv = "why did revenue change?", rca.AdaptiveInvestigator()
        else:
            question = f"why did revenue drop in {year}?"
            inv = rca.ScriptedInvestigator.for_question(question)
        t0 = len(run.latencies)
        summary, err = run.op(
            question,
            lambda: rca.run_rca(graph, question, inv, planner_for("template"))
        )
        rca_lat.append(run.latencies[t0])
        if err is not None:
            run.tally.record(question, False, repr(err))
            return
        m = re.search(r"\((?:completed in )?(\d+) sub-queries\)", summary)
        rca_subqueries.append(int(m.group(1)) if m else 0)
        ok = m is not None and int(m.group(1)) == 4 and "could not answer" not in summary
        if adaptive:
            ok = ok and f"Largest year-over-year revenue drop: {drop_year}" in summary
        run.tally.record(question, ok, summary)

    def etl_cycle(n: int) -> None:
        loaded_dir = os.path.join(run.work_dir, "etl", f"c{n}")
        phases = {}

        def cycle():
            t0 = time.perf_counter()
            g, _, _ = io_sqlite.sqlite_to_graph(run.spark, db_path, rel_names=TPCH_REL_NAMES)
            storage.save_graph(g, loaded_dir)
            g = storage.load_graph(run.spark, loaded_dir)
            t1 = time.perf_counter()
            returned = []
            for kind, rows in batches:
                if kind == "node":
                    df = run.spark.createDataFrame(rows, "c_custkey long, c_name string, c_acctbal double")
                    g, ret = cypher_write.cypher_write(g, NODE_UPSERT, {"rows": df})
                else:
                    df = run.spark.createDataFrame(rows, "order_id long, cust_id long")
                    g, ret = cypher_write.cypher_write(g, REL_MERGE, {"rows": df})
                returned.append(ret.collect()[0][0])
            merged = (g.node("Customer").count(), g.edge("PLACED_BY").count())
            phases.update(ingest_s=t1 - t0, merge_s=time.perf_counter() - t1)
            return returned, merged

        result, err = run.op("etl_cycle", cycle)
        try:
            if err is not None:
                run.tally.record("etl_cycle", False, repr(err))
                return
            returned, merged = result
            etl_phase["ingest_s"] += phases["ingest_s"]
            etl_phase["merge_s"] += phases["merge_s"]
            etl_phase["cycles"] += 1
            etl_phase["bytes"] += check.dir_bytes(loaded_dir)
            loaded = (
                {k: check.parquet_rows(os.path.join(loaded_dir, "nodes", k)) for k in want_nodes},
                {k: check.parquet_rows(os.path.join(loaded_dir, "edges", k)) for k in want_edges},
            )
            problems = []
            if loaded != (want_nodes, want_edges):
                problems.append(f"loaded {loaded}")
            if merged != want_merged:
                problems.append(f"Customer, PLACED_BY after MERGE {merged}, expected {want_merged}")
            if returned != [MERGE_BATCH_ROWS] * MERGE_BATCHES:
                problems.append(f"RETURN counts {returned}")
            run.tally.record("etl_cycle", not problems, "; ".join(problems))
        finally:
            shutil.rmtree(loaded_dir, ignore_errors=True)

    def one_pass(n: int) -> None:
        questions = _questions(run.rng)
        etl_cycle(n)
        for q in questions[:4]:
            ask(*q)
        # one RCA session per pass, the investigator alternating by pass
        investigate((run.seed + n) % 2 == 1, run.rng.choice(datagen.ORDER_YEARS[1:]))
        for q in questions[4:]:
            ask(*q)

    run.passes(one_pass)
    con.close()
    spark_util.release_lingering()

    qs = max(q_stats["questions"], 1)
    cycles = max(etl_phase["cycles"], 1)
    run.extra.update(
        {
            "rca_p50_s": check.median(rca_lat),
            "agent.rca.subqueries_per_session": check.median(rca_subqueries),
            "agent.workflow.correction_rounds_per_q": q_stats["corrections"] / qs,
            "agent.workflow.first_pass_valid_frac": q_stats["first_pass_valid"] / qs,
            "graph_elements_per_s": (
                elements * etl_phase["cycles"] / etl_phase["ingest_s"] if etl_phase["ingest_s"] else 0.0
            ),
            "merge_rows_per_s": (
                MERGE_BATCH_ROWS * MERGE_BATCHES * etl_phase["cycles"] / etl_phase["merge_s"]
                if etl_phase["merge_s"]
                else 0.0
            ),
            "stored_bytes_per_source_byte": etl_phase["bytes"] / cycles / source_bytes,
            "graph.storage.bytes_written": etl_phase["bytes"] / cycles,
            "cypher.write.rows_per_batch": MERGE_BATCH_ROWS if etl_phase["cycles"] else 0,
            "io.sqlite.source_rows": sum(t.num_rows for t in tables.values()),
            "etl_cycles": etl_phase["cycles"],
        }
    )


WORKLOADS = {"graph_algorithms": graph_algorithms, "agent_etl": agent_etl}
