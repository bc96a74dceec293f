"""LLM-backed ``Planner`` — the adapter that completes D1/D3 parity.

The reference's flagship path generates Cypher with an LLM and repairs
it from validation errors (reference: final/langraph_neo4j3.py:154-221
generate, :393-451 correct, :467-503 answer). This module drops an
LLM into the same ``Planner`` seam (`agent/workflow.py`) used by the
deterministic :class:`TemplatePlanner`:

* transport is any OpenAI-compatible ``/chat/completions`` endpoint,
  spoken over stdlib ``urllib`` — no SDK dependency, public API only;
* the adapter is **env-gated**: :meth:`LLMPlanner.from_env` returns
  ``None`` unless ``GRAPHDB_SPARK_LLM_API_KEY`` is set, so every test
  and default path stays deterministic (the template planner);
* a ``transport`` callable can be injected for tests (recorded /
  mocked responses), keeping the prompt contract unit-testable without
  a network.

The prompts mirror the reference's three stages: schema-grounded
generation, error-list-driven repair, and record synthesis.
"""

from __future__ import annotations

import json
import os
import re
import urllib.error
import urllib.request
from typing import Callable

DEFAULT_BASE_URL = "https://api.openai.com/v1"
DEFAULT_MODEL = "gpt-4o-mini"
DEFAULT_TIMEOUT_S = 60.0

ENV_API_KEY = "GRAPHDB_SPARK_LLM_API_KEY"
ENV_BASE_URL = "GRAPHDB_SPARK_LLM_BASE_URL"
ENV_MODEL = "GRAPHDB_SPARK_LLM_MODEL"

GENERATE_SYSTEM = (
    "You translate analytic questions into Cypher for a property "
    "graph. Use ONLY the node labels, relationship types, and "
    "properties in the schema. Respond with the Cypher statement and "
    "nothing else — no prose, no code fences."
)
GENERATE_USER = (
    "Schema:\n{schema}\n\nQuestion: {question}\n\nCypher:"
)
CORRECT_SYSTEM = (
    "You repair Cypher statements. Given a schema, a question, a "
    "Cypher statement, and the validation errors it produced, respond "
    "with a corrected Cypher statement and nothing else."
)
CORRECT_USER = (
    "Schema:\n{schema}\n\nQuestion: {question}\n\n"
    "Cypher:\n{cypher}\n\nErrors:\n{errors}\n\nCorrected Cypher:"
)
ANSWER_SYSTEM = (
    "You answer the user's question concisely from query results. "
    "Use only the provided records; do not invent values."
)
ANSWER_USER = "Question: {question}\n\nRecords:\n{records}\n\nAnswer:"

# transport: request-payload dict -> assistant message content
Transport = Callable[[dict], str]


def _http_transport(
    base_url: str, api_key: str, timeout_s: float
) -> Transport:
    url = base_url.rstrip("/") + "/chat/completions"

    def call(payload: dict) -> str:
        req = urllib.request.Request(
            url,
            data=json.dumps(payload).encode("utf-8"),
            headers={
                "Content-Type": "application/json",
                "Authorization": f"Bearer {api_key}",
            },
        )
        try:
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                body = json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as e:
            # surface the endpoint's own error message (OpenAI-style
            # {"error": {"message": ...}} body) instead of a bare code
            detail = ""
            try:
                err_body = json.loads(e.read().decode("utf-8"))
                detail = (err_body.get("error") or {}).get("message", "")
            except (OSError, ValueError, AttributeError):
                pass  # unreadable body, not JSON, or JSON not an object
            raise RuntimeError(
                f"LLM endpoint returned HTTP {e.code}"
                + (f": {detail}" if detail else "")
            ) from e
        return body["choices"][0]["message"]["content"]

    return call


def strip_code_fences(text: str) -> str:
    """LLMs wrap queries in ``` fences despite instructions; unwrap."""
    text = text.strip()
    m = re.match(r"^```(?:\w+)?\s*\n(.*?)\n?```$", text, re.DOTALL)
    return m.group(1).strip() if m else text


class LLMPlanner:
    """OpenAI-compatible chat planner behind the ``Planner`` protocol.

    Satisfies ``agent.workflow.Planner``; construct directly with an
    injected ``transport`` for tests, or via :meth:`from_env` for a
    real endpoint.
    """

    def __init__(
        self,
        transport: Transport,
        model: str = DEFAULT_MODEL,
        temperature: float = 0.0,
    ) -> None:
        self._transport = transport
        self.model = model
        self.temperature = temperature

    @classmethod
    def from_env(cls) -> "LLMPlanner | None":
        """Planner from environment, or ``None`` when unconfigured.

        ``GRAPHDB_SPARK_LLM_API_KEY`` gates the adapter; base URL and
        model come from ``GRAPHDB_SPARK_LLM_BASE_URL`` /
        ``GRAPHDB_SPARK_LLM_MODEL`` when set.
        """
        api_key = os.environ.get(ENV_API_KEY)
        if not api_key:
            return None
        base_url = os.environ.get(ENV_BASE_URL, DEFAULT_BASE_URL)
        model = os.environ.get(ENV_MODEL, DEFAULT_MODEL)
        return cls(
            _http_transport(base_url, api_key, DEFAULT_TIMEOUT_S),
            model=model,
        )

    def _chat(self, system: str, user: str) -> str:
        return self._transport(
            {
                "model": self.model,
                "temperature": self.temperature,
                "messages": [
                    {"role": "system", "content": system},
                    {"role": "user", "content": user},
                ],
            }
        )

    # -- Planner protocol ---------------------------------------------------

    def generate_cypher(self, question: str, schema: str) -> str:
        out = self._chat(
            GENERATE_SYSTEM,
            GENERATE_USER.format(schema=schema, question=question),
        )
        return strip_code_fences(out)

    def correct_cypher(
        self, question: str, cypher: str, errors: list[str], schema: str
    ) -> str:
        out = self._chat(
            CORRECT_SYSTEM,
            CORRECT_USER.format(
                schema=schema,
                question=question,
                cypher=cypher,
                errors="\n".join(f"- {e}" for e in errors),
            ),
        )
        return strip_code_fences(out)

    def synthesize_answer(
        self, question: str, records: list[dict] | str
    ) -> str:
        rendered = (
            records
            if isinstance(records, str)
            else json.dumps(records[:50], default=str)
        )
        return self._chat(
            ANSWER_SYSTEM,
            ANSWER_USER.format(question=question, records=rendered),
        ).strip()


def default_planner():
    """The workflow's planner resolution: the env-gated LLM adapter
    when configured, else the deterministic template planner."""
    from project_graphdb_spark.agent.workflow import TemplatePlanner

    return LLMPlanner.from_env() or TemplatePlanner()
