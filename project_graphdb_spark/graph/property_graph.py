"""DataFrame-native property graph (SURVEY.md §1.4).

Physical layout is **typed**: one DataFrame per node label and per
relationship type — the property sets in the reference are strictly
per-label (reference: final/schema.py:51-64), so a typed layout gives
partition-pruned label scans (C1) and narrow schemas for free. The
label-agnostic view (``MATCH (n)`` analog, reference pre-flight count
final/inject_relationship.py:932) is a union of per-label counts —
never a union of wide property frames.

Edge frames carry ``src``/``dst`` key columns plus flat edge
properties; node frames carry the node key plus flat properties, exact
analog of the reference's Cypher data model
(final/inject_node.py:351-358, final/inject_relationship.py:636-644).

Scale: a 1-hop match is an equi hash join on the edge's ``src``/``dst``
keys. Dimension-label frames are tiny → Catalyst broadcasts them
(size-based, reinforced by AQE); fact-fact hops shuffle on the key with
AQE skew handling. Nothing here collects to the driver.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from project_graphdb_spark.schema.graph_schema import (
    GraphSchema,
    RelationshipDef,
)


def unified_id(label: str, key: Column) -> Column:
    """A node's id in the unified ``Label:key`` space — the one vertex-id
    domain that Cypher ``id()``, variable-length and shortestPath joins,
    relationship uniqueness and the graph algorithms all join on. Every
    builder of that id calls this, so equal ids are equal expressions
    (same analyzed plans, same edge-layout cache keys)."""
    return F.concat_ws(":", F.lit(label), key.cast("string"))


@dataclass
class EdgeFrame:
    meta: RelationshipDef
    df: DataFrame  # columns: src, dst, *meta.properties (endpoint-resolved)
    # Pre-resolution form: null keys dropped and deduped, but WITHOUT the
    # two dangling-FK left-semi joins. Only valid to consume when the
    # query inner-joins BOTH endpoint node frames on their keys — node
    # keys are unique by construction (build_node_frame dedups or the
    # PK proves it), so those inner joins drop exactly the rows the
    # semi-joins would, and the semis become pure plan overhead (two
    # extra broadcast builds + probes per hop at fact scale).
    raw_df: DataFrame | None = None
    # Endpoint-resolution guarantees on raw_df: True when every src/dst
    # key provably (own-PK side) or declaredly (RELY-style trusted FK,
    # build_graph(trust_fk=True)) resolves to a node — which lets the
    # compiler ELIDE the endpoint node join entirely for pattern
    # endpoints whose variable is never referenced (FK join
    # elimination; node keys are unique, so the join also never
    # changes row multiplicity).
    src_resolved: bool = False
    dst_resolved: bool = False

    @property
    def join_df(self) -> DataFrame:
        """The frame to use when both endpoints get inner-joined."""
        return self.raw_df if self.raw_df is not None else self.df


class PropertyGraph:
    def __init__(
        self,
        schema: GraphSchema,
        nodes: dict[str, DataFrame],
        edges: dict[str, EdgeFrame],
    ) -> None:
        self.schema = schema
        self.nodes = nodes
        self.edges = edges

    # -- label/type scans (C1) ---------------------------------------------

    def node(self, label: str) -> DataFrame:
        return self.nodes[label]

    def edge(self, rel_type: str) -> DataFrame:
        return self.edges[rel_type].df

    # -- whole-graph invariants (C2-C4) ------------------------------------

    def node_counts(self) -> DataFrame:
        """(label, n) — per-label counts, descending (C3)."""
        frames = [
            df.agg(F.count("*").alias("n")).select(F.lit(label).alias("label"), "n")
            for label, df in self.nodes.items()
        ]
        out = functools.reduce(DataFrame.unionByName, frames)
        return out.orderBy(F.desc("n"), "label")

    def edge_counts(self) -> DataFrame:
        """(rel_type, n) per relationship type (C4)."""
        frames = [
            ef.df.agg(F.count("*").alias("n")).select(
                F.lit(t).alias("rel_type"), "n"
            )
            for t, ef in self.edges.items()
        ]
        out = functools.reduce(DataFrame.unionByName, frames)
        return out.orderBy(F.desc("n"), "rel_type")

    def total_node_count(self) -> DataFrame:
        """MATCH (n) RETURN count(n) analog (C2)."""
        return self.node_counts().agg(F.sum("n").alias("n_nodes"))

    # -- caching ------------------------------------------------------------

    def persist(self) -> "PropertyGraph":
        """Persist every label/type frame (MEMORY_AND_DISK). The analog
        of the reference's warm Neo4j page cache for repeated agent/RCA
        sub-queries over the same graph (SURVEY.md §3.3)."""
        for df in self.nodes.values():
            df.persist()
        for ef in self.edges.values():
            # cache the raw tier only: the resolved .df is raw plus two
            # key-only semi-joins against the (also cached) node
            # frames, so it recomputes cheaply from cache — persisting
            # both would store every edge table roughly twice
            if ef.raw_df is not None:
                ef.raw_df.persist()
            else:
                ef.df.persist()
        return self

    def unpersist(self) -> "PropertyGraph":
        for df in self.nodes.values():
            df.unpersist()
        for ef in self.edges.values():
            if ef.raw_df is not None:
                ef.raw_df.unpersist()
            else:
                ef.df.unpersist()
        return self

    # -- SQL surface --------------------------------------------------------

    def register_views(self, prefix: str = "g_") -> list[str]:
        """Register every label/type frame as a temp view
        (``<prefix>node_<Label>`` / ``<prefix>edge_<TYPE>``), so the
        whole graph is queryable with plain ``spark.sql`` alongside the
        Cypher surface. Returns the view names."""
        names = []
        for label, df in self.nodes.items():
            name = f"{prefix}node_{label}"
            df.createOrReplaceTempView(name)
            names.append(name)
        for rel_type, ef in self.edges.items():
            name = f"{prefix}edge_{rel_type}"
            ef.df.createOrReplaceTempView(name)
            names.append(name)
        return names

    # -- pattern matching (C5/C6) ------------------------------------------

    def match(
        self,
        src_label: str,
        rel_type: str,
        dst_label: str | None = None,
    ) -> DataFrame:
        """1-hop pattern ``(s:src_label)-[r:rel_type]->(t:dst_label)``.

        Returns all source-node columns, edge property columns, and
        target-node columns (names preserved — per-table prefixes keep
        them distinct). Chain by joining the results on node keys for
        multi-hop patterns (C6).
        """
        ef = self.edges[rel_type]
        if ef.meta.source != src_label:
            raise ValueError(
                f"{rel_type} starts at {ef.meta.source!r}, not {src_label!r}"
            )
        dst_label = dst_label or ef.meta.target
        if ef.meta.target != dst_label:
            raise ValueError(
                f"{rel_type} ends at {ef.meta.target!r}, not {dst_label!r}"
            )
        src_nodes = self.nodes[src_label].alias("s")
        dst_nodes = self.nodes[dst_label].alias("t")
        src_key = self.schema.node(src_label).key
        dst_key = self.schema.node(dst_label).key
        # join_df: both endpoints are inner-joined below, which drops
        # dangling FKs exactly like the resolved frame's semi-joins —
        # using the raw tier removes two redundant joins from every hop.
        edge = ef.join_df.alias("e")
        # explicit aliases: edge and node frames may share lineage (an FK
        # edge is derived from the same table as its source node frame),
        # which otherwise trips Spark's ambiguous-self-join detection
        out = edge.join(
            src_nodes, F.col("e.src") == F.col(f"s.{src_key}")
        ).join(dst_nodes, F.col("e.dst") == F.col(f"t.{dst_key}"))
        keep = [
            F.col(f"s.{c}") for c in self.nodes[src_label].columns
        ] + [F.col(f"e.{p}") for p in ef.meta.properties]
        seen = set(self.nodes[src_label].columns) | set(ef.meta.properties)
        for c in self.nodes[dst_label].columns:
            # suffix on collision (e.g. self-relationships like a
            # Staff-MANAGES->Staff pattern)
            name = f"{c}_t" if c in seen else c
            keep.append(F.col(f"t.{c}").alias(name))
        return out.select(*keep)
