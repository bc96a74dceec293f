"""Two Cypher-layer conventions each live behind one function.

* How the AST nests is known only to ``cypher/ast.py`` (``walk`` and
  ``substitute_params``); every other module in ``cypher/`` and
  ``agent/`` filters ``walk`` instead of recursing over dataclass
  fields itself.
* The unified ``Label:key`` vertex id is built only by
  ``graph.property_graph.unified_id``, so every copy of an id is the
  same expression (same analyzed plans, same edge-layout cache keys).
"""

from __future__ import annotations

import inspect
import pathlib
import re

import project_graphdb_spark
from project_graphdb_spark.graph import property_graph

ROOT = pathlib.Path(project_graphdb_spark.__file__).parent


def test_ast_nesting_is_known_only_to_the_ast_module():
    pattern = re.compile(r"__dict__|dataclasses\.fields\(|is_dataclass\(")
    hits = [
        f"{path.relative_to(ROOT)}:{n}"
        for sub in ("cypher", "agent")
        for path in sorted((ROOT / sub).glob("*.py"))
        if path != ROOT / "cypher" / "ast.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert hits == []


def test_unified_id_is_built_only_by_its_helper():
    hits = {
        str(path.relative_to(ROOT)): path.read_text().count("concat_ws(")
        for sub in ("cypher", "graph")
        for path in (ROOT / sub).rglob("*.py")
    }
    hits = {path: n for path, n in hits.items() if n}
    assert hits == {"graph/property_graph.py": 1}
    assert "concat_ws(" in inspect.getsource(property_graph.unified_id)
