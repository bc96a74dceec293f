"""Agent lifecycle + RCA loop tests (deterministic planner path)."""

from __future__ import annotations

import pytest

from project_graphdb_spark.agent import (
    new_state,
    run_agent_workflow,
    stream_rca,
)
from project_graphdb_spark.agent.rca import query_tool, run_rca
from project_graphdb_spark.agent.workflow import (
    NO_RESULTS_SENTINEL,
    TemplatePlanner,
)
from project_graphdb_spark.graph.builder import tpch_graph
from project_graphdb_spark.operators.relational import flagship_revenue_per_year


@pytest.fixture(scope="module")
def graph(spark, sf_dir):
    return tpch_graph(spark, sf_dir)


@pytest.fixture
def compiles(monkeypatch):
    """Every compile_cypher call of the workflow, as "valid" or
    "invalid" (raised an analysis error)."""
    from project_graphdb_spark.agent import workflow

    calls: list[str] = []
    real = workflow.compile_cypher

    def counting(graph, query, *args, **kwargs):
        try:
            df = real(graph, query, *args, **kwargs)
        except workflow.CypherAnalysisError:
            calls.append("invalid")
            raise
        calls.append("valid")
        return df

    monkeypatch.setattr(workflow, "compile_cypher", counting)
    return calls


def test_workflow_happy_path(spark, sf_dir, graph):
    state = run_agent_workflow(
        new_state("What is the total revenue per year?"), graph
    )
    assert state["steps"][:2] == ["generate_cypher", "validate_cypher"]
    assert "execute_cypher" in state["steps"]
    records = state["database_records"]
    expected = {
        r.order_year: r.revenue
        for r in flagship_revenue_per_year(spark, sf_dir).collect()
    }
    got = {r["order_year"]: r["revenue"] for r in records}
    assert got == expected
    assert "Results for" in state["answer"]


def test_workflow_direction_correction(graph):
    """The top-k template writes the arrow backwards on purpose — the
    validate stage must repair it (ref corrector stage)."""
    state = run_agent_workflow(
        new_state("top 3 customers by revenue"), graph
    )
    assert "correct_direction" in state["steps"]
    assert len(state["database_records"]) == 3


def test_workflow_value_missing(graph, compiles):
    state = run_agent_workflow(
        new_state("how many customers in the 'cardboard' segment?"), graph
    )
    assert "does not exist" in state["answer"]
    # validated once, then the probe ends the run before execute
    assert compiles == ["valid"]
    assert state["steps"] == [
        "generate_cypher", "validate_cypher", "generate_final_answer",
    ]
    assert state["database_records"] == []


def test_workflow_value_exists(graph):
    state = run_agent_workflow(
        new_state("how many customers in the 'BUILDING' segment?"), graph
    )
    assert state["database_records"][0]["n_customers"] > 0


def test_workflow_empty_result_sentinel(graph):
    state = run_agent_workflow(
        new_state("order status counts for year 1970"), graph
    )
    assert state["database_records"] == NO_RESULTS_SENTINEL
    assert state["answer"] == NO_RESULTS_SENTINEL


def test_workflow_unanswerable_question(graph):
    with pytest.raises(ValueError):
        run_agent_workflow(new_state("what is the meaning of life?"), graph)


def test_correction_loop_bounded(graph):
    class BrokenPlanner(TemplatePlanner):
        def generate_cypher(self, question, schema):
            return "MATCH (x:Nope) RETURN x"

        def correct_cypher(self, question, cypher, errors, schema):
            return "MATCH (x:StillNope) RETURN x"

    state = run_agent_workflow(new_state("anything"), graph, BrokenPlanner())
    assert "Could not produce a valid query" in state["answer"]
    assert state["steps"].count("correct_cypher") == 3  # bounded


def test_query_tool_and_rca_stream(graph):
    answer = query_tool(graph, "total sales for year 2000")
    assert "total_sales" in answer

    events = list(stream_rca(graph, "why did revenue drop in 2001?"))
    types = [e["type"] for e in events]
    assert types[0] == "system" and types[1] == "user"
    assert any(e["type"] == "tool" for e in events)
    assert events[-1].get("final")
    # the scripted plan issues 4 sub-queries over 3 loop iterations
    assert sum(1 for e in events if e["type"] == "tool") == 4

    summary = run_rca(graph, "why did revenue drop in 2001?")
    assert "Investigation of" in summary and "4 sub-queries" in summary


def test_adaptive_rca_reacts_to_findings(spark, graph):
    from project_graphdb_spark.agent.rca import (
        AdaptiveInvestigator,
        run_rca,
        stream_rca,
    )

    inv = AdaptiveInvestigator()
    events = list(
        stream_rca(graph, "why did revenue change?", investigator=inv)
    )
    # round 2's queries must target the data-determined worst year
    # (2001 is the partial year in the synthetic data)
    assert inv._target_year == 2001
    tool_calls = [
        q for e in events if e.get("tool_calls") for q in e["tool_calls"]
    ]
    assert "order status counts for year 2001" in tool_calls
    assert "order status counts for year 2000" in tool_calls
    final = [e for e in events if e.get("final")][0]["content"]
    assert "2001" in final

    # determinism: a fresh run reproduces the same summary
    again = run_rca(
        graph, "why did revenue change?", investigator=AdaptiveInvestigator()
    )
    assert again == final


# ---------------------------------------------------------------------------
# LLM planner adapter (mocked transport — no network; D1/D3 parity with
# ref final/langraph_neo4j3.py:154-221,393-451)
# ---------------------------------------------------------------------------


class _RecordingTransport:
    """Canned chat transport: records payloads, replays responses."""

    def __init__(self, responses):
        self.responses = list(responses)
        self.payloads = []

    def __call__(self, payload):
        self.payloads.append(payload)
        return self.responses.pop(0)


def test_llm_planner_generate_and_fence_stripping(graph):
    from project_graphdb_spark.agent.llm_planner import LLMPlanner

    t = _RecordingTransport(
        ["```cypher\nMATCH (n:Nation) RETURN count(*) AS n\n```"]
    )
    p = LLMPlanner(t, model="test-model")
    out = p.generate_cypher("how many nations?", graph.schema.describe())
    assert out == "MATCH (n:Nation) RETURN count(*) AS n"
    payload = t.payloads[0]
    assert payload["model"] == "test-model"
    assert payload["messages"][0]["role"] == "system"
    assert "how many nations?" in payload["messages"][1]["content"]
    assert "Nation" in payload["messages"][1]["content"]  # schema included


def test_llm_planner_drives_workflow_with_correction(graph):
    """A broken first generation is repaired through the correct_cypher
    stage using the validation errors — the bounded-loop D3 shape."""
    from project_graphdb_spark.agent.llm_planner import LLMPlanner

    t = _RecordingTransport(
        [
            "MATCH (n:Nonexistent) RETURN count(*) AS n",  # generate
            "MATCH (n:Nation) RETURN count(*) AS n",  # correct
            "There are 25 nations.",  # synthesize
        ]
    )
    state = run_agent_workflow(
        new_state("how many nations?"), graph, planner=LLMPlanner(t)
    )
    assert "correct_cypher" in state["steps"]
    assert state["database_records"] == [{"n": 25}]
    assert state["answer"] == "There are 25 nations."
    # the repair prompt carried the analyzer's error list
    assert "Nonexistent" in t.payloads[1]["messages"][1]["content"]


def test_llm_planner_from_env_gating(monkeypatch):
    from project_graphdb_spark.agent import llm_planner

    monkeypatch.delenv(llm_planner.ENV_API_KEY, raising=False)
    assert llm_planner.LLMPlanner.from_env() is None
    assert isinstance(llm_planner.default_planner(), TemplatePlanner)
    monkeypatch.setenv(llm_planner.ENV_API_KEY, "test-key")
    monkeypatch.setenv(llm_planner.ENV_MODEL, "m-x")
    p = llm_planner.LLMPlanner.from_env()
    assert p is not None and p.model == "m-x"
    assert isinstance(llm_planner.default_planner(), llm_planner.LLMPlanner)


def test_correction_loop_trace_reversed_arrow_and_typo(graph, compiles):
    """Live-fire D2->D3->D4 (ref final/langraph_neo4j3.py:310-451): a
    generation with a reversed arrow AND a misspelled property must walk
    generate -> validate (direction flip noted) -> correct_cypher (typo
    repaired from errors+schema) -> validate -> execute, and the final
    statement must carry the repaired property name."""
    from project_graphdb_spark.agent.workflow import FaultyPlanner
    from project_graphdb_spark.operators.agent_workload import BROKEN_TOP5

    state = run_agent_workflow(
        new_state("top 5 customers by revenue"), graph,
        FaultyPlanner(BROKEN_TOP5),
    )
    # exactly one repair round: the typo fix converges immediately; the
    # direction stage fires on both validations, and the repaired
    # statement's one compile is the frame that executes
    assert state["steps"] == [
        "generate_cypher", "validate_cypher", "correct_direction",
        "correct_cypher", "validate_cypher", "correct_direction",
        "execute_cypher", "generate_final_answer",
    ]
    assert compiles == ["invalid", "valid"]
    assert "o_totalpryce" not in state["cypher_statement"]
    assert "o_totalprice" in state["cypher_statement"]
    assert len(state["database_records"]) == 5


def test_correction_loop_repairs_multi_label(graph):
    """A generation with a multi-label node (the (c:Customer:Person)
    shape LLMs emit) must be rejected with an error naming the label to
    keep, and the deterministic corrector must strip the chain down to
    it — live-firing generate -> validate -> correct -> execute."""
    from project_graphdb_spark.agent.workflow import FaultyPlanner

    state = run_agent_workflow(
        new_state("top 5 customers by revenue"), graph,
        FaultyPlanner(
            "MATCH (o:Orders)-[:PLACED_BY]->(c:Customer:Person) "
            "RETURN c.c_name AS name, sum(o.o_totalprice) AS total "
            "ORDER BY total DESC LIMIT 5"
        ),
    )
    steps = state["steps"]
    assert "correct_cypher" in steps and "execute_cypher" in steps
    assert ":Person" not in state["cypher_statement"]
    assert ":Customer" in state["cypher_statement"]
    assert len(state["database_records"]) == 5


def test_multi_label_repair_unit():
    from project_graphdb_spark.agent.workflow import repair_property_typos

    fixed = repair_property_typos(
        "MATCH (c:Customer:Person) RETURN count(*) AS n",
        [
            "multi-label node (c:Customer:Person) is not supported: "
            "each node has exactly one label in this graph; keep "
            ":Customer (the only one that exists in this graph) and "
            "drop the rest"
        ],
        "",
    )
    assert fixed == "MATCH (c:Customer) RETURN count(*) AS n"


def test_repair_property_typos_unit():
    from project_graphdb_spark.agent.workflow import repair_property_typos

    schema = "(:Orders {o_orderkey, o_custkey, o_totalprice, o_orderdate})"
    fixed = repair_property_typos(
        "MATCH (o:Orders) RETURN sum(o.o_totalpryce) AS s",
        ["unknown property 'o_totalpryce' on o:Orders"],
        schema,
    )
    assert "o_totalprice" in fixed and "o_totalpryce" not in fixed
    # unrepairable errors leave the statement alone
    same = repair_property_typos("RETURN 1", ["syntax: boom"], schema)
    assert same == "RETURN 1"


_TEMPLATE_QUESTIONS = [
    "total sales for year 1995",
    "order status counts for year 1995",
    "top 4 customers by revenue",
    "how many customers in the 'building' segment",
    "number of orders by segment",
    "how many customers have no orders?",
    "what is the total revenue per year?",
]


@pytest.mark.parametrize("question", _TEMPLATE_QUESTIONS)
def test_template_question_compiles_once(graph, compiles, question):
    """Validation's frame is the one executed: a valid question
    compiles exactly once, and its records are those of a fresh
    compile of the direction-corrected statement."""
    from project_graphdb_spark.cypher import (
        compile_cypher,
        correct_directions,
        parse,
    )

    state = run_agent_workflow(new_state(question), graph)
    assert compiles == ["valid"]
    direction = ["correct_direction"] if "top" in question else []
    assert state["steps"] == [
        "generate_cypher", "validate_cypher", *direction,
        "execute_cypher", "generate_final_answer",
    ]
    q = parse(state["cypher_statement"])
    correct_directions(graph, q)
    want = [r.asDict() for r in compile_cypher(graph, q).collect()]
    assert state["database_records"] == (want or NO_RESULTS_SENTINEL)
