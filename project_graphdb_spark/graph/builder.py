"""Graph construction: relational DataFrames → PropertyGraph.

This is the Spark-first collapse of the reference's entire injection
machinery (reference: final/inject_node.py:537-609,
final/inject_relationship.py:915-1069). The thread pools, bolt batching,
adaptive batch sizing and contention analysis all disappear — Spark's
scheduler, shuffle and AQE are those mechanisms. What remains are the
*semantic* operations, implemented as declarative DataFrame ops:

* **Node upsert (B1)**: per label — select key+properties, drop
  null keys, ``dropDuplicates([key])`` (MERGE idempotency,
  final/inject_node.py:332-360).
* **Multi-table node merge (B3)**: full-outer join on the key with
  column coalescing (final/inject_node.py:390-403).
* **FK-resolving edge build (B2/B5/C16)**: drop null endpoint keys
  (final/inject_relationship.py:673-677), resolve both endpoints
  against node key sets with ``left_semi`` joins (the MATCH...MATCH
  in final/inject_relationship.py:610-646 — dangling FKs silently
  dropped), then MERGE-dedup on (src, dst, properties)
  (final/inject_relationship.py:642,679-680).

Scale: endpoint resolution semi-joins against key-only projections —
at 100 TB these are narrow (one bigint column), so size-based broadcast
usually applies to dimension labels, and AQE picks shuffle strategies
for fact-sized ones. No ordering or collect anywhere.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_graphdb_spark.graph.property_graph import EdgeFrame, PropertyGraph
from project_graphdb_spark.io.tables import load_tables
from project_graphdb_spark.schema.graph_schema import GraphSchema, NodeDef
from project_graphdb_spark.schema.inference import (
    TPCH_REL_NAMES,
    infer_graph_schema,
)
from project_graphdb_spark.schema.relational import (
    TPCH_SCHEMA,
    RelationalSchema,
)


def _merge_node_tables(
    frames: list[DataFrame], key: str
) -> DataFrame:
    """B3: outer-join several source tables on the node key, coalescing
    duplicate columns (reference drops ``_dup`` columns after merge)."""

    def merge2(a: DataFrame, b: DataFrame) -> DataFrame:
        dup = [c for c in b.columns if c in a.columns and c != key]
        b2 = b
        for c in dup:
            b2 = b2.withColumnRenamed(c, f"__dup_{c}")
        out = a.join(b2, on=key, how="outer")
        for c in dup:
            out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"__dup_{c}"))).drop(
                f"__dup_{c}"
            )
        return out

    return functools.reduce(merge2, frames)


def build_node_frame(
    node: NodeDef,
    tables: dict[str, DataFrame],
    relational: RelationalSchema | None = None,
) -> DataFrame:
    frames = []
    for tname in node.table_names:
        t = tables[tname]
        cols = [node.key] + [p for p in node.properties if p in t.columns]
        frames.append(t.select(*cols))
    df = _merge_node_tables(frames, node.key)
    # add declared-but-missing properties as typed nulls (B6)
    for p in node.properties:
        if p not in df.columns:
            df = df.withColumn(p, F.lit(None).cast("string"))
    df = df.na.drop(subset=[node.key])
    # MERGE-dedup elision: if the (single) source table declares the
    # node key as its primary key, rows are already unique on it — the
    # dropDuplicates shuffle is provably a no-op, so skip it
    if not _pk_guarantees_unique(
        relational, node.table_names, {node.key}, single_table=True
    ):
        df = df.dropDuplicates([node.key])
    return df


def _pk_guarantees_unique(
    relational: RelationalSchema | None,
    table_names: list[str] | str,
    selected: set[str],
    single_table: bool = False,
) -> bool:
    """True iff the declared PK of the source table is contained in the
    selected columns — which makes any dedup over ``selected`` a no-op.
    Eliding it keeps column pruning alive through the edge/node build
    (a dedup over all columns forces the scan to read every column)."""
    if relational is None:
        return False
    names = [table_names] if isinstance(table_names, str) else table_names
    if single_table and len(names) != 1:
        return False
    ti = relational.tables.get(names[0])
    return bool(ti and ti.primary_keys and set(ti.primary_keys) <= selected)


def _side_resolved(
    relational: RelationalSchema | None,
    rel: "RelationshipDef",
    side_key: str,
    node_def,
    trust_fk: bool,
) -> bool:
    """True when every non-null ``side_key`` value of the edge table
    provably (or, with ``trust_fk``, declaredly) resolves to a node.

    * Own-PK side: the edge rows come FROM the node's own single source
      table and the side key IS that table's PK — resolution holds by
      construction, no trust involved.
    * Declared-FK side (RELY semantics): the relational schema declares
      ForeignKey(side_key -> node table.key) and the caller asserted
      the source maintains it (``trust_fk=True``).
    """
    if relational is None:
        return False
    ti = relational.tables.get(rel.table_name)
    if ti is None:
        return False
    if (
        node_def.table_names == [rel.table_name]
        and ti.primary_keys == [side_key]
    ):
        return True
    if not trust_fk:
        return False
    return any(
        fk.from_col == side_key
        and node_def.table_names == [fk.table]
        and fk.to_col == node_def.key
        for fk in ti.foreign_keys
    )


def build_graph(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    schema: GraphSchema,
    relational: RelationalSchema | None = None,
    trust_fk: bool = False,
) -> PropertyGraph:
    """``trust_fk=True`` asserts (RELY-style) that the relational
    source maintains its declared foreign keys, so the dangling-FK
    semi-joins are provable no-ops: the resolved edge tier skips them
    and the compiler may elide never-referenced endpoint node joins
    (FK join elimination). Leave False for sources whose integrity is
    not guaranteed — the semi-joins then reproduce the reference's
    MATCH-resolution drop semantics exactly."""
    nodes: dict[str, DataFrame] = {
        n.name: build_node_frame(n, tables, relational) for n in schema.nodes
    }

    edges: dict[str, EdgeFrame] = {}
    for rel in schema.relationships:
        t = tables[rel.table_name]
        src_ok = _side_resolved(
            relational, rel, rel.key_s, schema.node(rel.source), trust_fk
        )
        dst_ok = _side_resolved(
            relational, rel, rel.key_t, schema.node(rel.target), trust_fk
        )
        src_keys = nodes[rel.source].select(
            F.col(schema.node(rel.source).key).alias("__k")
        )
        dst_keys = nodes[rel.target].select(
            F.col(schema.node(rel.target).key).alias("__k")
        )
        # raw tier: null-key drop (+ full-row dedup when the PK doesn't
        # prove uniqueness). The dedup commutes with the semi filters
        # below because it covers every selected column.
        raw = t.na.drop(subset=[rel.key_s, rel.key_t]).select(
            F.col(rel.key_s).alias("src"),
            F.col(rel.key_t).alias("dst"),
            *rel.properties,
        )
        if not _pk_guarantees_unique(
            relational,
            rel.table_name,
            {rel.key_s, rel.key_t, *rel.properties},
        ):
            raw = raw.dropDuplicates(["src", "dst", *rel.properties])
        # resolved tier: drop dangling FKs via key-only left-semi joins
        # (reference inject_relationship.py:636-644 MATCH-resolution
        # parity) — skipped per side when resolution is proven/trusted
        # above. Pattern matches that inner-join both endpoint node
        # frames consume ``raw`` instead (EdgeFrame.join_df) — the inner
        # joins subsume the semis.
        df = raw
        if not src_ok:
            df = df.join(src_keys, df["src"] == src_keys["__k"], "left_semi")
        if not dst_ok:
            df = df.join(dst_keys, df["dst"] == dst_keys["__k"], "left_semi")
        edges[rel.label] = EdgeFrame(
            meta=rel,
            df=df,
            raw_df=raw,
            src_resolved=src_ok,
            dst_resolved=dst_ok,
        )

    return PropertyGraph(schema=schema, nodes=nodes, edges=edges)


def load_report(
    tables: dict[str, DataFrame],
    schema: GraphSchema,
    graph: PropertyGraph,
) -> DataFrame:
    """Load reconciliation (the reference's committed-vs-verified sweep,
    final/inject_relationship.py:853-913,1017-1031, as one DataFrame):
    per relationship — source rows, null-key drops, dangling-FK drops,
    and rows actually loaded. ``source_rows == null_key_drops +
    dangling_drops + loaded + merge_dedup`` by construction; a nonzero
    drop column is the observability signal the reference logs.
    """
    spark = next(iter(graph.nodes.values())).sparkSession
    rows = []
    for rel in schema.relationships:
        t = tables[rel.table_name]
        total = t.count()
        non_null = t.na.drop(subset=[rel.key_s, rel.key_t]).count()
        loaded = graph.edges[rel.label].df.count()
        src_keys = graph.nodes[rel.source].select(
            F.col(schema.node(rel.source).key).alias("__k")
        )
        dst_keys = graph.nodes[rel.target].select(
            F.col(schema.node(rel.target).key).alias("__k")
        )
        resolved = (
            t.na.drop(subset=[rel.key_s, rel.key_t])
            .join(src_keys, t[rel.key_s] == src_keys["__k"], "left_semi")
            .join(dst_keys, t[rel.key_t] == dst_keys["__k"], "left_semi")
            .count()
        )
        rows.append(
            (
                rel.label,
                total,
                total - non_null,
                non_null - resolved,
                resolved - loaded,
                loaded,
            )
        )
    return spark.createDataFrame(
        rows,
        "rel_type string, source_rows long, null_key_drops long, "
        "dangling_drops long, merge_dedup long, loaded long",
    )


def merge_upsert(
    existing: DataFrame, updates: DataFrame, key: str
) -> DataFrame:
    """Incremental keyed MERGE (the B1 upsert, Delta-``MERGE INTO``
    analog on immutable storage): WHEN MATCHED the update row's columns
    win (including explicit nulls — ``SET n += row`` semantics,
    reference final/inject_node.py:351-358); columns absent from
    ``updates`` keep their existing values; WHEN NOT MATCHED the update
    row inserts.

    One full-outer join on the key — no driver-side state. Write the
    result back per label directory for an idempotent incremental load.
    """
    u = updates.dropDuplicates([key])
    e = existing.alias("e")
    ua = u.alias("u")
    joined = e.join(
        ua, F.col(f"e.{key}") == F.col(f"u.{key}"), "full_outer"
    )
    matched = F.col(f"u.{key}").isNotNull()
    cols = [
        F.coalesce(F.col(f"e.{key}"), F.col(f"u.{key}")).alias(key)
    ]
    for c in existing.columns:
        if c == key:
            continue
        if c in u.columns:
            cols.append(
                F.when(matched, F.col(f"u.{c}"))
                .otherwise(F.col(f"e.{c}"))
                .alias(c)
            )
        else:
            cols.append(F.col(f"e.{c}").alias(c))
    for c in u.columns:
        if c not in existing.columns:
            cols.append(F.col(f"u.{c}").alias(c))
    return joined.select(*cols)


# ---------------------------------------------------------------------------
# Cached TPC-H-ish graph over the driver's test tables
# ---------------------------------------------------------------------------

_CACHE: dict[tuple[int, str], PropertyGraph] = {}


def tpch_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    """PropertyGraph over the test tables, memoized per (session, dir).

    The graph frames are lazy plans — memoizing avoids re-deriving them,
    and lets repeated agent/RCA sub-queries share Spark's parquet and
    shuffle caches (the analog of the reference reusing a warm Neo4j).
    """
    cache_key = (id(spark), sf_dir)
    if cache_key not in _CACHE:
        gschema = infer_graph_schema(TPCH_SCHEMA, rel_names=TPCH_REL_NAMES)
        tables = load_tables(
            spark,
            sf_dir,
            names=tuple(
                {
                    *(t for n in gschema.nodes for t in n.table_names),
                    *(r.table_name for r in gschema.relationships),
                }
            ),
            # the lineitem-backed edge frame (CONTAINS_ITEM) is consumed
            # dst-first: its heavy aggregations key on dst = l_partkey,
            # while every src-side (o_orderkey) consumer broadcasts the
            # orders endpoint. Spreading an unsplittable lineitem file
            # on l_partkey lets that one exchange double as the
            # per-part pre-aggregation exchange. Directory inputs
            # ignore the hint.
            spread_keys={"lineitem": "l_partkey"},
        )
        # trust_fk: the test-data generator maintains every declared FK
        # (verified r8: zero dangling keys at sf0.01/sf1), and every
        # graph query face is oracle-gated with INNER-join SQL — an
        # integrity violation would flip the value hash and fail the
        # gate, so the RELY assertion is itself under test.
        _CACHE[cache_key] = build_graph(
            spark, tables, gschema, relational=TPCH_SCHEMA, trust_fk=True
        )
    return _CACHE[cache_key]
