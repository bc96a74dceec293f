"""Relationship-direction correction.

The reference deterministically flips generated-Cypher edge directions
to fit the schema before execution (reference:
final/langraph_neo4j3.py:299-306,326-331 — LangChain's
CypherQueryCorrector). Ours operates on the parsed AST: for each edge
of every pattern in the query (MATCH and OPTIONAL MATCH, CALL bodies,
UNION arms, EXISTS{}/COUNT{} anywhere in an expression) whose
(source-label, target-label) pair contradicts the catalog but matches
when flipped, flip the pattern's arrow. Unknown types/labels are
left for the validator to report.
"""

from __future__ import annotations

from project_graphdb_spark.cypher import ast as A
from project_graphdb_spark.graph.property_graph import PropertyGraph


def _var_labels(patterns: list[A.PathPat]) -> dict[str, str]:
    labels: dict[str, str] = {}
    for pat in patterns:
        for node in pat.nodes:
            if node.var and node.label:
                labels.setdefault(node.var, node.label)
    return labels


def correct_directions(graph: PropertyGraph, query: A.Query) -> list[str]:
    """Flip mis-directed edges in place; returns descriptions of the
    corrections applied (empty = nothing to fix)."""
    notes: list[str] = []
    patterns = [n for n in A.walk(query) if isinstance(n, A.PathPat)]
    labels = _var_labels(patterns)

    def label_of(node: A.NodePat, fallback: str | None) -> str | None:
        return node.label or (labels.get(node.var) if node.var else None) or fallback

    for pat in patterns:
        for i, edge in enumerate(pat.edges):
            if edge.rel_type not in graph.edges:
                continue
            meta = graph.edges[edge.rel_type].meta
            left, right = pat.nodes[i], pat.nodes[i + 1]
            src, dst = (right, left) if edge.reversed else (left, right)
            src_label = label_of(src, meta.source)
            dst_label = label_of(dst, meta.target)
            ok = src_label == meta.source and dst_label == meta.target
            flipped_ok = (
                src_label == meta.target and dst_label == meta.source
            )
            if not ok and flipped_ok:
                edge.reversed = not edge.reversed
                notes.append(
                    f"flipped [:{edge.rel_type}] to match schema "
                    f"({meta.source})-[:{edge.rel_type}]->({meta.target})"
                )
    return notes
