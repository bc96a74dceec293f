"""Golden parity against the reference's own datasets and recorded
results (BASELINE.md):

* bike graph flagship — "total revenue per year" = 2016: 2,427,378.5276,
  2017: 3,447,208.2425, 2018: 1,814,529.7875
  (reference: final/experimenting_new/notebook1.ipynb:833-844)
* sales_master RCA checkpoints — total sales 2004 = 4,724,162.60,
  2005 = 1,791,486.71; 2004 status counts Shipped 139 / Cancelled 3 /
  On Hold 1 / Resolved 1
  (reference: final/experimenting_new/rca_tool_class.ipynb:371-391)

The pipeline under test is the full stack: typed CSV scan → declared
relational schema → deterministic graph inference → DataFrame graph
build → Cypher parse/correct/compile/execute. The reference CSVs are
read in place (read-only); the data tests skip where a dataset's
directory is absent.
"""

from __future__ import annotations

import os

import pytest

from project_graphdb_spark.cypher.compiler import compile_cypher
from project_graphdb_spark.cypher.corrector import correct_directions
from project_graphdb_spark.cypher.parser import parse
from project_graphdb_spark.graph.builder import build_graph
from project_graphdb_spark.io.csv import read_csv_table
from project_graphdb_spark.schema.inference import infer_graph_schema
from project_graphdb_spark.schema.relational import (
    ForeignKey as FK,
    RelationalSchema,
    TableInfo,
)

BIKE_DIR = "/root/reference/final/bike_files"
SALES_DIR = "/root/reference/final/sales_master_files"

needs_bike = pytest.mark.skipif(
    not os.path.isdir(BIKE_DIR), reason=f"reference dataset {BIKE_DIR} absent"
)
needs_sales = pytest.mark.skipif(
    not os.path.isdir(SALES_DIR),
    reason=f"reference dataset {SALES_DIR} absent",
)

# Declared schema playing the role of the source database's DDL
# (the reference introspects the bikestore SQLite; we declare the same
# structure: PKs on entity tables, composite-PK order_items as the
# association table).
BIKE_SCHEMA = RelationalSchema(
    tables={
        "brands": TableInfo(
            "brands",
            [("brand_id", "INT"), ("brand_name", "TEXT")],
            primary_keys=["brand_id"],
        ),
        "categories": TableInfo(
            "categories",
            [("category_id", "INT"), ("category_name", "TEXT")],
            primary_keys=["category_id"],
        ),
        "customers": TableInfo(
            "customers",
            [(c, "TEXT") if c != "customer_id" else (c, "INT") for c in (
                "customer_id", "first_name", "last_name", "phone",
                "email", "street", "city", "state", "zip_code",
            )],
            primary_keys=["customer_id"],
        ),
        "stores": TableInfo(
            "stores",
            [(c, "TEXT") if c != "store_id" else (c, "INT") for c in (
                "store_id", "store_name", "phone", "email", "street",
                "city", "state", "zip_code",
            )],
            primary_keys=["store_id"],
        ),
        "staffs": TableInfo(
            "staffs",
            [
                ("staff_id", "INT"), ("first_name", "TEXT"),
                ("last_name", "TEXT"), ("email", "TEXT"),
                ("phone", "TEXT"), ("active", "INT"),
                ("store_id", "INT"), ("manager_id", "INT"),
            ],
            primary_keys=["staff_id"],
            foreign_keys=[
                FK("manager_id", "staffs", "staff_id"),
                FK("store_id", "stores", "store_id"),
            ],
        ),
        "products": TableInfo(
            "products",
            [
                ("product_id", "INT"), ("product_name", "TEXT"),
                ("brand_id", "INT"), ("category_id", "INT"),
                ("model_year", "INT"), ("list_price", "DECIMAL(10,2)"),
            ],
            primary_keys=["product_id"],
            foreign_keys=[
                FK("brand_id", "brands", "brand_id"),
                FK("category_id", "categories", "category_id"),
            ],
        ),
        "orders": TableInfo(
            "orders",
            [
                ("order_id", "INT"), ("customer_id", "INT"),
                ("order_status", "INT"), ("order_date", "DATE"),
                ("required_date", "DATE"), ("shipped_date", "DATE"),
                ("store_id", "INT"), ("staff_id", "INT"),
            ],
            primary_keys=["order_id"],
            foreign_keys=[
                FK("customer_id", "customers", "customer_id"),
                FK("staff_id", "staffs", "staff_id"),
                FK("store_id", "stores", "store_id"),
            ],
        ),
        "order_items": TableInfo(
            "order_items",
            [
                ("order_id", "INT"), ("item_id", "INT"),
                ("product_id", "INT"), ("quantity", "INT"),
                ("list_price", "DECIMAL(10,2)"),
                ("discount", "DECIMAL(4,2)"),
            ],
            primary_keys=["order_id", "item_id"],
            foreign_keys=[
                FK("order_id", "orders", "order_id"),
                FK("product_id", "products", "product_id"),
            ],
        ),
        "stocks": TableInfo(
            "stocks",
            [
                ("store_id", "INT"), ("product_id", "INT"),
                ("quantity", "INT"),
            ],
            foreign_keys=[
                FK("product_id", "products", "product_id"),
                FK("store_id", "stores", "store_id"),
            ],
        ),
    }
)

# the reference's LLM chose these relationship names (BASELINE.md
# per-type table); we pin them via the deterministic override map
BIKE_REL_NAMES = {
    ("order_items", ""): "CONTAINS_ITEM",
    ("stocks", ""): "HAS_STOCK",
    ("orders", "customer_id"): "PLACED_BY",
    ("orders", "staff_id"): "PROCESSED_BY",
    ("orders", "store_id"): "PLACED_AT",
    ("staffs", "manager_id"): "MANAGES",
    ("staffs", "store_id"): "WORKS_AT",
    ("products", "brand_id"): "BELONGS_TO_BRAND",
    ("products", "category_id"): "BELONGS_TO_CATEGORY",
}

SALES_SCHEMA = RelationalSchema(
    tables={
        "customer_table": TableInfo(
            "customer_table",
            [(c, "TEXT") for c in (
                "CUSTOMERNAME", "PHONE", "ADDRESSLINE1", "ADDRESSLINE2",
                "CITY", "STATE", "POSTALCODE", "COUNTRY", "TERRITORY",
                "CONTACTLASTNAME", "CONTACTFIRSTNAME",
            )],
            primary_keys=["CUSTOMERNAME"],
        ),
        "order_table": TableInfo(
            "order_table",
            [
                ("ORDERNUMBER", "INT"),
                ("ORDERDATE", "TEXT"),  # declared TEXT -> survives as str
                ("STATUS", "TEXT"), ("QTR_ID", "INT"),
                ("MONTH_ID", "INT"), ("YEAR_ID", "INT"),
                ("CUSTOMERNAME", "TEXT"),
            ],
            primary_keys=["ORDERNUMBER"],
            foreign_keys=[
                FK("CUSTOMERNAME", "customer_table", "CUSTOMERNAME")
            ],
        ),
        "product_table": TableInfo(
            "product_table",
            [
                ("PRODUCTCODE", "TEXT"), ("MSRP", "DECIMAL(10,2)"),
                ("PRODUCTLINE", "TEXT"),
            ],
            primary_keys=["PRODUCTCODE"],
        ),
        "order_product_table": TableInfo(
            "order_product_table",
            [
                ("ORDERNUMBER", "INT"), ("PRODUCTCODE", "TEXT"),
                ("QUANTITYORDERED", "INT"),
                ("PRICEEACH", "DECIMAL(10,2)"),
                ("SALES", "DECIMAL(12,2)"), ("ORDERLINENUMBER", "INT"),
                ("DEALSIZE", "TEXT"),
            ],
            foreign_keys=[
                FK("ORDERNUMBER", "order_table", "ORDERNUMBER"),
                FK("PRODUCTCODE", "product_table", "PRODUCTCODE"),
            ],
        ),
    }
)

SALES_REL_NAMES = {("order_product_table", ""): "CONTAINS"}


def _load_graph(spark, data_dir, rschema, rel_names):
    tables = {
        t.name: read_csv_table(spark, f"{data_dir}/{t.name}.csv", t)
        for t in rschema
    }
    gschema = infer_graph_schema(rschema, rel_names=rel_names)
    return build_graph(spark, tables, gschema, relational=rschema)


def _run(graph, cypher):
    q = parse(cypher)
    correct_directions(graph, q)
    return compile_cypher(graph, q)


@pytest.fixture(scope="module")
def bike(spark):
    return _load_graph(spark, BIKE_DIR, BIKE_SCHEMA, BIKE_REL_NAMES)


@pytest.fixture(scope="module")
def sales(spark):
    tables = {
        t.name: read_csv_table(
            spark, f"{SALES_DIR}/{t.name}.csv", t
        )
        for t in SALES_SCHEMA
    }
    gschema = infer_graph_schema(SALES_SCHEMA, rel_names=SALES_REL_NAMES)
    return build_graph(spark, tables, gschema, relational=SALES_SCHEMA)


@needs_bike
def test_bike_graph_shape(bike):
    # notebook1.ipynb: 3,410 nodes; per-type rel counts from BASELINE.md.
    # MANAGES: the reference's log says 10, but staff 1 (the top manager)
    # has a NULL manager_id, and the reference's own null-key drop rule
    # (final/inject_relationship.py:673-677) excludes that row — we load
    # the 9 resolvable edges.
    n_nodes = sum(df.count() for df in bike.nodes.values())
    assert n_nodes == 3410
    counts = {name: ef.df.count() for name, ef in bike.edges.items()}
    assert counts == {
        "CONTAINS_ITEM": 4722,
        "HAS_STOCK": 939,
        "PLACED_BY": 1615,
        "PROCESSED_BY": 1615,
        "PLACED_AT": 1615,
        "MANAGES": 9,
        "WORKS_AT": 10,
        "BELONGS_TO_BRAND": 321,
        "BELONGS_TO_CATEGORY": 321,
    }


def test_bike_inference_no_label_collision():
    """Without name overrides, orders.store_id and staffs.store_id must
    not silently shadow each other's relationship."""
    g = infer_graph_schema(BIKE_SCHEMA)
    labels = [r.label for r in g.relationships]
    assert len(labels) == len(set(labels))
    assert "ORDERS_HAS_STORE" in labels and "STAFFS_HAS_STORE" in labels


@needs_bike
def test_bike_flagship_revenue_per_year(bike):
    """The reference's golden NL query on its own dataset."""
    rows = _run(
        bike,
        """
        MATCH (o:Orders)-[ci:CONTAINS_ITEM]->(p:Products)
        WITH date(o.order_date).year AS year,
             sum(ci.list_price * ci.quantity * (1 - ci.discount)) AS revenue
        RETURN year, revenue ORDER BY year
        """,
    ).collect()
    got = {r["year"]: r["revenue"] for r in rows}
    assert got[2016] == pytest.approx(2427378.5276, abs=1e-3)
    assert got[2017] == pytest.approx(3447208.2425, abs=1e-3)
    assert got[2018] == pytest.approx(1814529.7875, abs=1e-3)


@needs_sales
def test_sales_master_rca_checkpoints(sales):
    total_2004 = _run(
        sales,
        """
        MATCH (o:OrderTable)-[op:CONTAINS]->(p:ProductTable)
        WHERE o.YEAR_ID = 2004
        RETURN sum(op.SALES) AS total
        """,
    ).collect()[0]["total"]
    assert total_2004 == pytest.approx(4724162.60, abs=0.01)

    total_2005 = _run(
        sales,
        """
        MATCH (o:OrderTable)-[op:CONTAINS]->(p:ProductTable)
        WHERE o.YEAR_ID = 2005
        RETURN sum(op.SALES) AS total
        """,
    ).collect()[0]["total"]
    assert total_2005 == pytest.approx(1791486.71, abs=0.01)


@needs_sales
def test_sales_master_status_counts_2004(sales):
    rows = _run(
        sales,
        """
        MATCH (o:OrderTable)
        WHERE o.YEAR_ID = 2004
        RETURN o.STATUS AS status, count(*) AS n ORDER BY n DESC
        """,
    ).collect()
    got = {r["status"]: r["n"] for r in rows}
    assert got == {"Shipped": 139, "Cancelled": 3, "On Hold": 1, "Resolved": 1}
