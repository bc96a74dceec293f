"""Live-fire the LLM planner's HTTP transport against a localhost stub.

The mocked-transport tests in test_agent.py cover the prompt contract;
these cover the real socket path — request headers, JSON payload
shape, response parsing, HTTP-error extraction, and the timeout — with
a threaded stdlib ``http.server`` standing in for an OpenAI-compatible
``/chat/completions`` endpoint (no network, no API key gating).
"""

from __future__ import annotations

import json
import threading
import time
import urllib.error
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from project_graphdb_spark.agent import llm_planner
from project_graphdb_spark.agent.llm_planner import (
    LLMPlanner,
    _http_transport,
)


class _StubState:
    """Per-server mutable script: each POST pops the next behavior."""

    def __init__(self) -> None:
        self.script: list[tuple] = []
        self.requests: list[dict] = []  # (headers, payload) records


class _Handler(BaseHTTPRequestHandler):
    state: _StubState  # set by the fixture

    def log_message(self, *a) -> None:  # keep pytest output clean
        pass

    def do_POST(self) -> None:
        n = int(self.headers.get("Content-Length", "0"))
        payload = json.loads(self.rfile.read(n).decode("utf-8"))
        self.state.requests.append(
            {
                "path": self.path,
                "authorization": self.headers.get("Authorization"),
                "content_type": self.headers.get("Content-Type"),
                "payload": payload,
            }
        )
        step = self.state.script.pop(0) if self.state.script else (
            "ok",
            "MATCH (n) RETURN count(n) AS n",
        )
        if step[0] == "sleep":
            time.sleep(step[1])
            step = ("ok", "late")
        if step[0] == "error":
            _, code, message = step
            body = json.dumps({"error": {"message": message}}).encode()
            step = ("raw", code, body)
        if step[0] == "raw":
            _, code, body = step
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        content = step[1]
        body = json.dumps(
            {"choices": [{"message": {"content": content}}]}
        ).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture()
def stub_server():
    state = _StubState()
    handler = type("Handler", (_Handler,), {"state": state})
    server = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base_url = f"http://127.0.0.1:{server.server_address[1]}/v1"
    try:
        yield base_url, state
    finally:
        server.shutdown()
        server.server_close()


def test_transport_happy_path_headers_and_parsing(stub_server):
    base_url, state = stub_server
    state.script = [("ok", "MATCH (c:Customer) RETURN count(c) AS n")]
    call = _http_transport(base_url, "sk-test-123", timeout_s=5.0)
    out = call(
        {
            "model": "m-x",
            "temperature": 0.0,
            "messages": [{"role": "user", "content": "hi"}],
        }
    )
    assert out == "MATCH (c:Customer) RETURN count(c) AS n"
    req = state.requests[0]
    assert req["path"] == "/v1/chat/completions"
    assert req["authorization"] == "Bearer sk-test-123"
    assert req["content_type"] == "application/json"
    assert req["payload"]["model"] == "m-x"
    assert req["payload"]["messages"][0]["role"] == "user"


def test_transport_extracts_http_error_message(stub_server):
    base_url, state = stub_server
    state.script = [("error", 429, "rate limit exceeded")]
    call = _http_transport(base_url, "sk", timeout_s=5.0)
    with pytest.raises(RuntimeError, match="HTTP 429: rate limit exceeded"):
        call({"model": "m", "messages": []})


@pytest.mark.parametrize(
    "body", [b"<html>bad gateway</html>", b"[1]"], ids=["html", "json-array"]
)
def test_transport_bad_status_without_json_body(stub_server, body):
    """An error body that is not JSON, or JSON that is not an object,
    yields the bare status with no detail."""
    base_url, state = stub_server
    state.script = [("raw", 502, body)]
    call = _http_transport(base_url, "sk", timeout_s=5.0)
    no_detail = r"^LLM endpoint returned HTTP 502$"
    with pytest.raises(RuntimeError, match=no_detail):
        call({"model": "m", "messages": []})


def test_transport_timeout(stub_server):
    base_url, state = stub_server
    state.script = [("sleep", 3.0)]
    call = _http_transport(base_url, "sk", timeout_s=0.5)
    with pytest.raises(TimeoutError):
        call({"model": "m", "messages": []})


def test_from_env_workflow_end_to_end(stub_server, monkeypatch, graph_sf):
    """from_env → real socket → full D1-D5 workflow: generation and
    answer stages both travel through the stub endpoint."""
    base_url, state = stub_server
    monkeypatch.setenv(llm_planner.ENV_API_KEY, "sk-live-test")
    monkeypatch.setenv(llm_planner.ENV_BASE_URL, base_url)
    monkeypatch.setenv(llm_planner.ENV_MODEL, "stub-model")
    planner = LLMPlanner.from_env()
    assert planner is not None and planner.model == "stub-model"

    state.script = [
        (
            "ok",
            "```cypher\nMATCH (o:Orders)-[:PLACED_BY]->(c:Customer) "
            "RETURN c.c_name AS name, sum(o.o_totalprice) AS total "
            "ORDER BY total DESC LIMIT 5\n```",
        ),
        ("ok", "The top customers are listed."),
    ]
    from project_graphdb_spark.agent import new_state, run_agent_workflow

    result = run_agent_workflow(
        new_state("top 5 customers by revenue"), graph_sf, planner
    )
    assert "execute_cypher" in result["steps"]
    assert len(result["database_records"]) == 5
    assert result["answer"] == "The top customers are listed."
    # both stages hit the endpoint with the configured model
    assert [r["payload"]["model"] for r in state.requests] == [
        "stub-model",
        "stub-model",
    ]


@pytest.fixture(scope="module")
def graph_sf(spark, sf_dir):
    from project_graphdb_spark.graph.builder import tpch_graph

    return tpch_graph(spark, sf_dir)
