"""PropertyGraph persistence: parquet-backed graph sink and scan.

The reference's graph "sink" is batched Cypher MERGE over bolt into
Neo4j (A7/A8, reference: final/inject_node.py:241-306,
final/inject_relationship.py:437-500). Ours is the Spark-native
equivalent: one parquet directory per label and per relationship type
plus a JSON schema manifest. The per-label/type layout is the partition
strategy (SURVEY.md §1.4): a query that touches one label reads one
directory — partition pruning by construction — and each directory can
be further partitioned/bucketed independently at real scale.

The manifest also carries each frame's Spark schema, and the load
declares it, so a load runs no Spark job (an inferring
``spark.read.parquet`` runs one per directory). A file read makes a
declared schema nullable throughout, so the loaded frames report what
an inferring read reports. The manifest is removed before the first
write and written last, atomically, so a save that fails part-way
leaves nothing loadable.

Idempotent keyed upsert (the MERGE semantics, B1) is overwrite-by-label
here: node frames are already key-deduped by the builder, so a rewrite
of a label directory is exactly "MERGE all rows of that label".
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from project_graphdb_spark.graph.property_graph import (
    EdgeFrame,
    PropertyGraph,
)
from project_graphdb_spark.schema.graph_schema import (
    GraphSchema,
    NodeDef,
    RelationshipDef,
)

_MANIFEST = "graph_schema.json"


def save_graph(graph: PropertyGraph, path: str) -> None:
    """Write the graph: nodes/<label>/, edges/<type>/, schema manifest."""
    manifest_path = os.path.join(path, _MANIFEST)
    if os.path.exists(manifest_path):
        os.remove(manifest_path)
    frames: dict[str, dict[str, dict]] = {"nodes": {}, "edges": {}}

    def write(kind: str, name: str, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(os.path.join(path, kind, name))
        frames[kind][name] = df.schema.jsonValue()

    for label, df in graph.nodes.items():
        write("nodes", label, df)
    for rel_type, ef in graph.edges.items():
        write("edges", rel_type, ef.df)
    manifest = {
        "nodes": [asdict(n) for n in graph.schema.nodes],
        "relationships": [asdict(r) for r in graph.schema.relationships],
        "frames": frames,
    }
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, manifest_path)


def load_graph(spark: SparkSession, path: str) -> PropertyGraph:
    """Scan a saved graph back into lazy per-label/type DataFrames,
    each read with the schema its manifest records (no Spark job)."""
    with open(os.path.join(path, _MANIFEST)) as f:
        manifest = json.load(f)
    schema = GraphSchema(
        nodes=[NodeDef(**n) for n in manifest["nodes"]],
        relationships=[
            RelationshipDef(**r) for r in manifest["relationships"]
        ],
    )

    def read(kind: str, name: str) -> DataFrame:
        declared = T.StructType.fromJson(manifest["frames"][kind][name])
        return spark.read.schema(declared).parquet(
            os.path.join(path, kind, name)
        )

    nodes = {n.name: read("nodes", n.name) for n in schema.nodes}
    edges = {
        r.label: EdgeFrame(meta=r, df=read("edges", r.label))
        for r in schema.relationships
    }
    return PropertyGraph(schema=schema, nodes=nodes, edges=edges)
