"""The generate → validate → correct → execute → answer state machine.

Structural parity with the reference's LangGraph workflow (reference:
final/langraph_neo4j3.py:508-552):

* **generate_cypher** (ref :203-221): planner produces Cypher from the
  question + schema string. The reference uses an LLM; ours is a
  pluggable ``Planner`` — the default ``TemplatePlanner`` is
  deterministic (rule/regex templates over the analytic question
  shapes), an LLM planner drops into the same slot.
* **validate_cypher** (ref :310-391), four stages exactly as there:
  (a) parse+analyze against the catalog (the EXPLAIN round-trip analog),
  (b) deterministic relationship-direction correction (ref :299-306),
  (c) error extraction — ours falls out of (a) as structured messages,
  (d) filter-value existence mapping: every string-equality filter is
  probed against the live graph (ref :344-369, the
  ``toLower(n.prop) = toLower($v) LIMIT 1`` probe → C8) and a missing
  value short-circuits to "value does not exist".
* **correct_cypher** (ref :393-451): planner repairs from the error
  list; we add a bounded retry count (the reference relies on LLM
  convergence).
* **execute_cypher** (ref :453-465): collect the DataFrame that
  validation compiled — each statement compiles once, as the reference
  runs the statement its EXPLAIN checked; empty → sentinel string.
* **generate_final_answer** (ref :467-503): deterministic record
  formatting by default, LLM synthesis pluggable.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Protocol

from pyspark.sql import functions as F

from project_graphdb_spark.agent.state import AgentState
from project_graphdb_spark.cypher import ast as A
from project_graphdb_spark.cypher.compiler import (
    CypherAnalysisError,
    compile_cypher,
)
from project_graphdb_spark.cypher.corrector import correct_directions
from project_graphdb_spark.cypher.parser import CypherSyntaxError, parse
from project_graphdb_spark.graph.property_graph import PropertyGraph

NO_RESULTS_SENTINEL = (
    "I couldn't find any relevant information in the database"
)
VALUE_MISSING_TEMPLATE = (
    "The value '{value}' does not exist in the database for {target}."
)
MAX_CORRECTION_ATTEMPTS = 3


class Planner(Protocol):
    """The LLM-shaped seam: question -> Cypher, repair, and synthesis."""

    def generate_cypher(self, question: str, schema: str) -> str: ...

    def correct_cypher(
        self, question: str, cypher: str, errors: list[str], schema: str
    ) -> str: ...

    def synthesize_answer(
        self, question: str, records: list[dict] | str
    ) -> str: ...


# ---------------------------------------------------------------------------
# Deterministic template planner (the test-path replacement for the LLM)
# ---------------------------------------------------------------------------


@dataclass
class TemplatePlanner:
    """Regex templates over the analytic question shapes the reference's
    RCA sessions ask (ref rca_tool_class.ipynb / rca_multiagent.ipynb:
    yearly totals, status counts, per-dimension breakdowns, top-k)."""

    def generate_cypher(self, question: str, schema: str) -> str:
        q = question.lower().strip()
        year = _first_year(q)
        if "revenue per year" in q or "revenue by year" in q:
            return (
                "MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Part) "
                "WITH date(o.o_orderdate).year AS order_year, "
                "sum(ci.l_extendedprice * (1 - ci.l_discount)) AS revenue "
                "RETURN order_year, revenue ORDER BY order_year"
            )
        if "status" in q and year:
            return (
                f"MATCH (o:Orders) WHERE date(o.o_orderdate).year = {year} "
                "RETURN o.o_orderstatus AS status, count(*) AS n "
                "ORDER BY status"
            )
        if ("total sales" in q or "total revenue" in q) and year:
            return (
                f"MATCH (o:Orders) WHERE date(o.o_orderdate).year = {year} "
                "RETURN sum(o.o_totalprice) AS total_sales"
            )
        m = re.search(r"top (\d+) customers", q)
        if m:
            # NOTE: arrow intentionally left to the corrector — templates
            # write patterns customer-first, like LLM output often does
            return (
                "MATCH (c:Customer)-[:PLACED_BY]->(o:Orders) "
                "RETURN c.c_name AS name, sum(o.o_totalprice) AS revenue "
                f"ORDER BY revenue DESC, name LIMIT {m.group(1)}"
            )
        m = re.search(r"customers? in (?:the )?'([^']+)' segment", q)
        if m:
            return (
                "MATCH (c:Customer) WHERE toLower(c.c_mktsegment) = "
                f"'{m.group(1).lower()}' "
                "RETURN count(*) AS n_customers"
            )
        if "orders by segment" in q or "orders per segment" in q:
            return (
                "MATCH (o:Orders)-[:PLACED_BY]->(c:Customer) "
                "WITH c.c_mktsegment AS segment, count(*) AS n_orders "
                "RETURN segment, n_orders ORDER BY segment"
            )
        if ("without orders" in q or "no orders" in q) and "customer" in q:
            return (
                "MATCH (c:Customer) "
                "OPTIONAL MATCH (o:Orders)-[:PLACED_BY]->(c) "
                "WITH c, o WHERE o IS NULL "
                "RETURN count(DISTINCT c.c_custkey) AS n_customers"
            )
        raise ValueError(f"no template matches question: {question!r}")

    def correct_cypher(
        self, question: str, cypher: str, errors: list[str], schema: str
    ) -> str:
        # the deterministic repairs (direction) happen in validate; a
        # template planner has nothing smarter to offer than regenerate
        return self.generate_cypher(question, schema)

    def synthesize_answer(
        self, question: str, records: list[dict] | str
    ) -> str:
        if isinstance(records, str):
            return records
        lines = [f"Results for: {question}"] + [
            ", ".join(f"{k}={v}" for k, v in r.items()) for r in records[:20]
        ]
        if len(records) > 20:
            lines.append(f"... ({len(records)} rows total)")
        return "\n".join(lines)


def _first_year(text: str) -> int | None:
    m = re.search(r"\b(19\d{2}|20\d{2})\b", text)
    return int(m.group(1)) if m else None


# ---------------------------------------------------------------------------
# deterministic typo repair (the correct_cypher stage, D3)
# ---------------------------------------------------------------------------


def repair_property_typos(cypher: str, errors: list[str], schema: str) -> str:
    """Deterministic analog of the reference's LLM ``correct_cypher``
    (ref final/langraph_neo4j3.py:393-451): the error list + schema
    string go in, a repaired statement comes out. Each ``unknown
    property 'X' on var:Label`` error is repaired by replacing X with
    its closest match among Label's properties as printed in the schema
    string — exactly the signal an LLM uses, minus the stochasticity.
    """
    import difflib

    fixed = cypher
    for err in errors:
        # multi-label node (n:A:B) … keep :X — strip the chain down to
        # the label the analysis error says exists in the graph
        ml = re.search(
            r"multi-label node \(\w*(:[\w:]+)\).*keep :(\w+)", err
        )
        if ml:
            chain, keep = ml.group(1), ml.group(2)
            fixed = fixed.replace(chain, f":{keep}")
            continue
        m = re.search(r"unknown property '(\w+)' on \w+:(\w+)", err)
        if not m:
            continue
        bad, label = m.group(1), m.group(2)
        sm = re.search(
            rf"\(:{re.escape(label)} \{{([^}}]*)\}}\)", schema
        )
        if not sm:
            continue
        props = [p.strip() for p in sm.group(1).split(",")]
        close = difflib.get_close_matches(bad, props, n=1, cutoff=0.6)
        if close:
            fixed = re.sub(rf"\b{re.escape(bad)}\b", close[0], fixed)
    return fixed


@dataclass
class FaultyPlanner:
    """Planner simulating an LLM that misremembers the schema: the
    first generation is a FIXED broken statement (as supplied — e.g. a
    reversed arrow plus a misspelled property), so the workflow is
    forced through the full validate → correct → re-validate → execute
    loop (D2→D3→D4; ref final/langraph_neo4j3.py:310-451). Repairs are
    the deterministic typo fixer above; answers delegate to the
    template planner."""

    cypher: str

    def generate_cypher(self, question: str, schema: str) -> str:
        return self.cypher

    def correct_cypher(
        self, question: str, cypher: str, errors: list[str], schema: str
    ) -> str:
        return repair_property_typos(cypher, errors, schema)

    def synthesize_answer(
        self, question: str, records: list[dict] | str
    ) -> str:
        return TemplatePlanner().synthesize_answer(question, records)


# ---------------------------------------------------------------------------
# validate stage (d): filter-value existence mapping
# ---------------------------------------------------------------------------


def _string_equality_filters(
    q: A.Query,
) -> list[tuple[str, str, str]]:
    """Collect (var, prop, value) for string-literal equality filters,
    including the toLower(...) = 'v' form, among the AND/OR/NOT
    conjuncts of every WHERE."""
    found: list[tuple[str, str, str]] = []
    wheres = [(seg.where, seg.proj_where) for seg in q.segments]
    conjuncts = A.walk(
        wheres, into=lambda n: isinstance(n, (A.And, A.Or, A.Not))
    )
    for e in conjuncts:
        if not (isinstance(e, A.Cmp) and e.op == "="):
            continue
        right = e.right
        if isinstance(right, A.Lit) and isinstance(right.value, str):
            target = e.left
            if (
                isinstance(target, A.FnCall)
                and target.name == "tolower"
                and len(target.args) == 1
            ):
                target = target.args[0]
            if isinstance(target, A.Prop) and isinstance(target.base, str):
                found.append((target.base, target.name, right.value))
    return found


def _probe_value_exists(
    graph: PropertyGraph, q: A.Query, var: str, prop: str, value: str
) -> bool:
    """C8 probe: lower(prop) = lower(value) LIMIT 1 on the node frame."""
    label = None
    for pat in q.patterns:
        for node in pat.nodes:
            if node.var == var and node.label:
                label = node.label
    if label is None or label not in graph.nodes:
        return True  # leave to the analyzer
    frame = graph.nodes[label]
    if prop not in frame.columns:
        return True
    return bool(
        frame.filter(F.lower(F.col(prop)) == F.lower(F.lit(value)))
        .limit(1)
        .count()
    )


# ---------------------------------------------------------------------------
# the state machine
# ---------------------------------------------------------------------------


def run_agent_workflow(
    state: AgentState,
    graph: PropertyGraph,
    planner: Planner | None = None,
) -> AgentState:
    if planner is None:
        # env-gated LLM adapter when configured, template planner
        # otherwise (the deterministic default/test path)
        from project_graphdb_spark.agent.llm_planner import default_planner

        planner = default_planner()
    steps = state.setdefault("steps", [])

    # generate_cypher
    cypher = planner.generate_cypher(state["question"], graph.schema.describe())
    state["cypher_statement"] = cypher
    steps.append("generate_cypher")

    for attempt in range(MAX_CORRECTION_ATTEMPTS + 1):
        # validate_cypher: (a) parse
        steps.append("validate_cypher")
        try:
            parsed = parse(state["cypher_statement"])
        except CypherSyntaxError as e:
            state["cypher_errors"] = [f"syntax: {e}"]
            parsed = None
        else:
            # (b) deterministic direction correction
            notes = correct_directions(graph, parsed)
            if notes:
                steps.append("correct_direction")
            # (a') analyze against the catalog
            try:
                df = compile_cypher(graph, parsed)
                state["cypher_errors"] = []
            except CypherAnalysisError as e:
                state["cypher_errors"] = e.errors

        if not state["cypher_errors"] and parsed is not None:
            # (d) value-existence mapping
            for var, prop, value in _string_equality_filters(parsed):
                if not _probe_value_exists(graph, parsed, var, prop, value):
                    state["next_action"] = "end"
                    state["database_records"] = []
                    state["answer"] = VALUE_MISSING_TEMPLATE.format(
                        value=value, target=f"{var}.{prop}"
                    )
                    steps.append("generate_final_answer")
                    return state
            break

        # correct_cypher (bounded loop)
        if attempt == MAX_CORRECTION_ATTEMPTS:
            state["answer"] = (
                "Could not produce a valid query: "
                + "; ".join(state["cypher_errors"])
            )
            steps.append("generate_final_answer")
            return state
        steps.append("correct_cypher")
        state["cypher_statement"] = planner.correct_cypher(
            state["question"],
            state["cypher_statement"],
            state["cypher_errors"],
            graph.schema.describe(),
        )

    # execute_cypher
    steps.append("execute_cypher")
    records = [row.asDict() for row in df.collect()]
    state["database_records"] = records if records else NO_RESULTS_SENTINEL

    # generate_final_answer
    steps.append("generate_final_answer")
    state["answer"] = planner.synthesize_answer(
        state["question"], state["database_records"]
    )
    return state
