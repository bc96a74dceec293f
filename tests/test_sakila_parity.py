"""Parity on the reference's third dataset: sqlite-sakila (16 tables,
the richest FK structure — composite-PK association tables, double FKs
to one table, three-way label collisions).

The CSVs under the reference are the output of its own
``export_sqlite_to_csv`` — timestamps already exploded into six INT
component columns (the B9 rule; reference final/sqlite_to_csv.py:61-81,
re-declared INT per final/erd_text.py:36-39), so declared types here
mark them INT.

The column lists are declared here from FIXTURES.md §3, in file order
(exploded components last, as the exporter writes them), so schema
inference is checked without the files. The ``sakila`` fixture checks
each CSV's header line against its declared list before the scan,
because the typed scan maps columns by position. The data tests skip
where the reference CSVs are absent.

Expected values are computed by DuckDB directly over the same CSVs —
an independent engine on the same bytes.
"""

from __future__ import annotations

import os
import re

import duckdb
import pytest

from pyspark.sql import functions as F

from project_graphdb_spark.cypher.compiler import compile_cypher
from project_graphdb_spark.graph.builder import build_graph
from project_graphdb_spark.io.csv import read_csv_table
from project_graphdb_spark.schema.inference import infer_graph_schema
from project_graphdb_spark.schema.relational import (
    ForeignKey as FK,
    RelationalSchema,
    TableInfo,
)

DIR = "/root/reference/final/sqlite-sakila_files"

_NUMERIC = {"amount", "rental_rate", "replacement_cost"}
_INT = {"length", "rental_duration", "active", "release_year"}
_COMPONENT = re.compile(r"_(year|month|day|hour|minute|second)$")

_FKS = {
    "address": [FK("city_id", "city", "city_id")],
    "city": [FK("country_id", "country", "country_id")],
    "customer": [
        FK("address_id", "address", "address_id"),
        FK("store_id", "store", "store_id"),
    ],
    "film": [
        FK("language_id", "language", "language_id"),
        FK("original_language_id", "language", "language_id"),
    ],
    "film_actor": [
        FK("actor_id", "actor", "actor_id"),
        FK("film_id", "film", "film_id"),
    ],
    "film_category": [
        FK("category_id", "category", "category_id"),
        FK("film_id", "film", "film_id"),
    ],
    "inventory": [
        FK("film_id", "film", "film_id"),
        FK("store_id", "store", "store_id"),
    ],
    "payment": [
        FK("customer_id", "customer", "customer_id"),
        FK("rental_id", "rental", "rental_id"),
        FK("staff_id", "staff", "staff_id"),
    ],
    "rental": [
        FK("customer_id", "customer", "customer_id"),
        FK("inventory_id", "inventory", "inventory_id"),
        FK("staff_id", "staff", "staff_id"),
    ],
    "staff": [
        FK("address_id", "address", "address_id"),
        FK("store_id", "store", "store_id"),
    ],
    "store": [
        FK("address_id", "address", "address_id"),
        FK("manager_staff_id", "staff", "staff_id"),
    ],
}

# association tables have composite PKs; everything else <name>_id
_COMPOSITE_PK = {
    "film_actor": ["actor_id", "film_id"],
    "film_category": ["film_id", "category_id"],
}


def _ts(col: str) -> list[str]:
    """A timestamp column as the exporter writes it: six INT parts."""
    return [
        f"{col}_{part}"
        for part in ("year", "month", "day", "hour", "minute", "second")
    ]


# file order per FIXTURES.md §3: plain columns in source order, then the
# exploded timestamp components in source order
COLUMNS = {
    "actor": ["actor_id", "first_name", "last_name", *_ts("last_update")],
    "address": [
        "address_id", "address", "address2", "district", "city_id",
        "postal_code", "phone", *_ts("last_update"),
    ],
    "category": ["category_id", "name", *_ts("last_update")],
    "city": ["city_id", "city", "country_id", *_ts("last_update")],
    "country": ["country_id", "country", *_ts("last_update")],
    "customer": [
        "customer_id", "store_id", "first_name", "last_name", "email",
        "address_id", "active", *_ts("create_date"), *_ts("last_update"),
    ],
    "film": [
        "film_id", "title", "description", "release_year", "language_id",
        "original_language_id", "rental_duration", "rental_rate",
        "length", "replacement_cost", "rating", "special_features",
        *_ts("last_update"),
    ],
    "film_actor": ["actor_id", "film_id", *_ts("last_update")],
    "film_category": ["film_id", "category_id", *_ts("last_update")],
    "film_text": ["film_id", "title", "description"],
    "inventory": [
        "inventory_id", "film_id", "store_id", *_ts("last_update"),
    ],
    "language": ["language_id", "name", *_ts("last_update")],
    "payment": [
        "payment_id", "customer_id", "staff_id", "rental_id", "amount",
        *_ts("payment_date"), *_ts("last_update"),
    ],
    "rental": [
        "rental_id", "inventory_id", "customer_id", "staff_id",
        *_ts("rental_date"), *_ts("return_date"), *_ts("last_update"),
    ],
    "staff": [
        "staff_id", "first_name", "last_name", "address_id", "picture",
        "email", "store_id", "active", "username", "password",
        *_ts("last_update"),
    ],
    "store": [
        "store_id", "manager_staff_id", "address_id", *_ts("last_update"),
    ],
}

needs_sakila = pytest.mark.skipif(
    not os.path.isdir(DIR), reason=f"reference dataset {DIR} absent"
)


def _declared(col: str) -> str:
    if col.endswith("_id") or _COMPONENT.search(col) or col in _INT:
        return "INT"
    if col in _NUMERIC:
        return "DECIMAL(10,2)"
    return "TEXT"


def _schema() -> RelationalSchema:
    tables = {}
    for name, columns in COLUMNS.items():
        tables[name] = TableInfo(
            name=name,
            columns=[(c, _declared(c)) for c in columns],
            primary_keys=_COMPOSITE_PK.get(name, [f"{name}_id"])
            if name != "film_text"
            else ["film_id"],
            foreign_keys=_FKS.get(name, []),
        )
    return RelationalSchema(tables=tables)


def _check_headers() -> None:
    """The typed scan maps columns by position, so a declared list that
    differs from the file's header would shift columns silently."""
    for name, columns in COLUMNS.items():
        with open(f"{DIR}/{name}.csv") as f:
            header = f.readline().strip().split(",")
        if header != columns:
            pytest.fail(
                f"{name}.csv header {header} differs from the declared "
                f"columns {columns}"
            )


@pytest.fixture(scope="module")
def sakila(spark):
    _check_headers()
    rschema = _schema()
    tables = {
        t.name: read_csv_table(spark, f"{DIR}/{t.name}.csv", t)
        for t in rschema
    }
    gschema = infer_graph_schema(rschema)
    return build_graph(spark, tables, gschema, relational=rschema), rschema


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for name in COLUMNS:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_csv_auto('{DIR}/{name}.csv', header=true)"
        )
    yield con
    con.close()


def test_sakila_inference_shape():
    gschema = infer_graph_schema(_schema())
    labels = {n.name for n in gschema.nodes}
    # 14 entity tables -> nodes; 2 association tables -> edges
    assert len(labels) == 14
    assert "FilmActor" not in labels and "FilmCategory" not in labels
    rel_labels = [r.label for r in gschema.relationships]
    assert len(rel_labels) == len(set(rel_labels))  # collisions resolved
    rels = {r.label: r for r in gschema.relationships}
    assert rels["ACTOR_FILM"].source == "Actor"
    assert rels["HAS_ORIGINAL_LANGUAGE"].target == "Language"
    # three tables FK-ing store -> three distinct qualified labels
    store_edges = [
        r.label for r in gschema.relationships if r.target == "Store"
    ]
    assert len(store_edges) == len(set(store_edges)) == 3


@needs_sakila
def test_sakila_node_counts_match_duckdb(sakila, duck):
    graph, rschema = sakila
    for node in graph.schema.nodes:
        table = node.table_names[0]
        want = duck.execute(f"SELECT COUNT(*) FROM {table}").fetchone()[0]
        assert graph.nodes[node.name].count() == want, node.name


@needs_sakila
def test_sakila_edge_counts_match_duckdb(sakila, duck):
    graph, rschema = sakila
    for rel in graph.schema.relationships:
        t = rel.table_name
        src_t = graph.schema.node(rel.source).table_names[0]
        dst_t = graph.schema.node(rel.target).table_names[0]
        src_pk = rschema.tables[src_t].primary_keys[0]
        dst_pk = rschema.tables[dst_t].primary_keys[0]
        # replicate the build semantics: null-drop + endpoint existence
        # casts: an all-NULL FK column (original_language_id) is read
        # as VARCHAR by duckdb's CSV sniffer
        want = duck.execute(
            f"""
            SELECT COUNT(*) FROM {t}
            WHERE {rel.key_s} IS NOT NULL AND {rel.key_t} IS NOT NULL
              AND CAST({rel.key_s} AS BIGINT)
                  IN (SELECT CAST({src_pk} AS BIGINT) FROM {src_t})
              AND CAST({rel.key_t} AS BIGINT)
                  IN (SELECT CAST({dst_pk} AS BIGINT) FROM {dst_t})
            """
        ).fetchone()[0]
        assert graph.edges[rel.label].df.count() == want, rel.label


@needs_sakila
def test_sakila_rentals_per_category(sakila, duck):
    graph, _ = sakila
    # rentals per category: Rental -> Inventory -> Film <- Category
    rows = compile_cypher(
        graph,
        """
        MATCH (r:Rental)-[:HAS_INVENTORY]->(i:Inventory)
        MATCH (i)-[:HAS_FILM]->(f:Film)
        MATCH (c:Category)-[:CATEGORY_FILM]->(f)
        RETURN c.name AS category, count(r) AS n_rentals
        ORDER BY n_rentals DESC, category
        """,
    ).collect()
    got = {r["category"]: r["n_rentals"] for r in rows}
    want = dict(
        duck.execute(
            """
            SELECT c.name, COUNT(*) FROM rental r
            JOIN inventory i ON i.inventory_id = r.inventory_id
            JOIN film f ON f.film_id = i.film_id
            JOIN film_category fc ON fc.film_id = f.film_id
            JOIN category c ON c.category_id = fc.category_id
            GROUP BY 1
            """
        ).fetchall()
    )
    assert got == want


@needs_sakila
def test_sakila_revenue_per_staff(sakila, duck):
    graph, _ = sakila
    rows = compile_cypher(
        graph,
        """
        MATCH (p:Payment)-[:PAYMENT_HAS_STAFF]->(s:Staff)
        RETURN s.first_name AS staff, sum(p.amount) AS revenue
        ORDER BY staff
        """,
    ).collect()
    got = {r["staff"]: round(r["revenue"], 2) for r in rows}
    want = {
        name: round(float(v), 2)
        for name, v in duck.execute(
            """
            SELECT s.first_name, SUM(CAST(p.amount AS DECIMAL(18,2)))
            FROM payment p JOIN staff s ON s.staff_id = p.staff_id
            GROUP BY 1
            """
        ).fetchall()
    }
    assert got == want
