"""SQLite ingest path (A1-A6, §3.2): catalog scan, PRAGMA introspection,
typed scan with coerce-to-null, timestamp explosion, CSV/Parquet staging
roundtrip, and the end-to-end sqlite → PropertyGraph pipeline."""

from __future__ import annotations

import math
import sqlite3

import pytest

from project_graphdb_spark.io.sqlite import (
    export_sqlite,
    introspect,
    list_tables,
    read_arrow,
    read_normalized,
    read_staged_csv,
    read_table,
    split_count,
    sqlite_to_graph,
)
from project_graphdb_spark.schema.inference import infer_graph_schema

DDL = """
CREATE TABLE store (
    store_id INTEGER PRIMARY KEY,
    store_name TEXT,
    opened DATE
);
CREATE TABLE product (
    product_id INTEGER PRIMARY KEY,
    product_name TEXT,
    list_price DECIMAL(10,2)
);
CREATE TABLE sale (
    sale_id INTEGER PRIMARY KEY,
    store_id INTEGER REFERENCES store(store_id),
    amount REAL
);
CREATE TABLE stock (
    store_id INTEGER REFERENCES store(store_id),
    product_id INTEGER REFERENCES product(product_id),
    quantity INTEGER
);
"""


@pytest.fixture(scope="module")
def db_path(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sqlite") / "shop.db")
    con = sqlite3.connect(path)
    con.executescript(DDL)
    con.executemany(
        "INSERT INTO store VALUES (?,?,?)",
        [
            (1, "Downtown", "2016-01-15"),
            (2, "Airport", "2017-06-01 08:30:00"),
            (3, "Harbor", None),
        ],
    )
    con.executemany(
        "INSERT INTO product VALUES (?,?,?)",
        [(10, "wrench", 9.99), (11, "hammer", 14.5)],
    )
    # store_id 'oops' violates its INTEGER affinity -> coerce-to-null;
    # NULL store_id rows are dropped from the graph edge build (B5).
    con.executemany(
        "INSERT INTO sale VALUES (?,?,?)",
        [(100, 1, 20.0), (101, 2, 35.5), (102, "oops", 1.0), (103, None, 2.0)],
    )
    con.executemany(
        "INSERT INTO stock VALUES (?,?,?)",
        [(1, 10, 5), (1, 11, 3), (2, 10, 7), (1, 10, 5)],  # last is a dup
    )
    con.commit()
    con.close()
    return path


def test_catalog_scan(db_path):
    assert list_tables(db_path) == ["product", "sale", "stock", "store"]


def test_introspection(db_path):
    schema = introspect(db_path)
    store = schema.tables["store"]
    assert store.primary_keys == ["store_id"]
    assert store.columns == [
        ("store_id", "INTEGER"),
        ("store_name", "TEXT"),
        ("opened", "DATE"),
    ]
    sale = schema.tables["sale"]
    assert [(f.from_col, f.table, f.to_col) for f in sale.foreign_keys] == [
        ("store_id", "store", "store_id")
    ]
    stock = schema.tables["stock"]
    assert len(stock.foreign_keys) == 2 and stock.primary_keys == []


def test_typed_scan_and_normalize(spark, db_path):
    schema = introspect(db_path)
    raw = read_table(spark, db_path, schema.tables["sale"])
    # mixed-affinity column arrives as string, then try_cast nulls it
    assert dict(raw.dtypes)["store_id"] == "string"
    norm = read_normalized(spark, db_path, schema.tables["sale"])
    assert dict(norm.dtypes)["store_id"] == "bigint"
    rows = {r["sale_id"]: r["store_id"] for r in norm.collect()}
    assert rows == {100: 1, 101: 2, 102: None, 103: None}


def test_timestamp_explode(spark, db_path):
    schema = introspect(db_path)
    norm = read_normalized(spark, db_path, schema.tables["store"])
    cols = set(norm.columns)
    assert {"opened", "opened_year", "opened_month", "opened_second"} <= cols
    rows = {r["store_id"]: r for r in norm.collect()}
    assert rows[1]["opened_year"] == 2016 and rows[1]["opened_month"] == 1
    assert rows[2]["opened_hour"] == 8 and rows[2]["opened_minute"] == 30
    assert rows[3]["opened_year"] is None
    assert dict(norm.dtypes)["opened"] == "timestamp"


def test_csv_staging_roundtrip(spark, db_path, tmp_path):
    schema = introspect(db_path)
    paths = export_sqlite(spark, db_path, str(tmp_path), fmt="csv")
    back = read_staged_csv(spark, paths["store"], schema.tables["store"])
    direct = read_normalized(spark, db_path, schema.tables["store"])
    assert back.schema == direct.schema[: len(back.schema)]
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_parquet_staging(spark, db_path, tmp_path):
    paths = export_sqlite(spark, db_path, str(tmp_path), fmt="parquet")
    df = spark.read.parquet(paths["sale"])
    assert df.count() == 4
    assert dict(df.dtypes)["store_id"] == "bigint"


def test_schema_inference_rules(db_path):
    gschema = infer_graph_schema(introspect(db_path))
    labels = {n.name for n in gschema.nodes}
    assert labels == {"Store", "Product", "Sale"}
    rels = {r.label: r for r in gschema.relationships}
    # FK in entity table -> edge (rule 3); association table -> edge
    # (rule 2; FKs sorted by column name for determinism, so the edge
    # orients Product -> Store)
    assert rels["HAS_STORE"].source == "Sale"
    assert rels["HAS_STORE"].target == "Store"
    assert rels["PRODUCT_STORE"].source == "Product"
    assert rels["PRODUCT_STORE"].target == "Store"
    assert rels["PRODUCT_STORE"].properties == ["quantity"]


def test_sqlite_to_graph_end_to_end(spark, db_path):
    graph, gschema, rschema = sqlite_to_graph(spark, db_path)
    assert graph.nodes["Store"].count() == 3
    assert graph.nodes["Product"].count() == 2
    assert graph.nodes["Sale"].count() == 4
    # 2 sales resolve to stores; 'oops' and NULL dropped (B2/B5)
    assert graph.edges["HAS_STORE"].df.count() == 2
    # stock has one exact-dup row -> MERGE dedup keeps 3 (C16/B4)
    assert graph.edges["PRODUCT_STORE"].df.count() == 3


def test_sqlite_tables_scan_as_one_partition(spark, db_path, tmp_path):
    """Tables far below ``spark.sql.files.maxPartitionBytes`` scan as one
    partition, so every saved graph frame is one parquet file."""
    from project_graphdb_spark.graph.storage import save_graph

    graph, _, rschema = sqlite_to_graph(spark, db_path)
    for t in rschema:
        assert read_table(spark, db_path, t).rdd.getNumPartitions() == 1
    out = tmp_path / "graph"
    save_graph(graph, str(out))
    frame_dirs = [*(out / "nodes").iterdir(), *(out / "edges").iterdir()]
    assert len(frame_dirs) == len(graph.nodes) + len(graph.edges)
    for d in frame_dirs:
        assert len(list(d.glob("*.parquet"))) == 1, d


def test_read_table_partitions_follow_max_partition_bytes(spark, db_path):
    key = "spark.sql.files.maxPartitionBytes"
    table, atable = max(
        ((t, read_arrow(db_path, t)) for t in introspect(db_path)),
        key=lambda pair: pair[1].nbytes,
    )
    nbytes = atable.nbytes
    limit = math.ceil(nbytes / 2)  # below the 4 MB open cost
    before = spark.conf.get(key)
    spark.conf.set(key, str(limit))
    try:
        df = read_table(spark, db_path, table)
        assert df.rdd.getNumPartitions() == math.ceil(nbytes / limit) == 2
        assert df.count() == atable.num_rows
    finally:
        spark.conf.set(key, before)


def test_read_table_keeps_split_of_table_that_fills_cores(spark, db_path):
    """Once a table's bytes per core pass the open cost, the scan keeps
    the local relation's own split: the byte rule only ever merges."""
    key = "spark.sql.files.openCostInBytes"
    table, atable = max(
        ((t, read_arrow(db_path, t)) for t in introspect(db_path)),
        key=lambda pair: pair[1].num_rows,
    )
    local = spark.createDataFrame(atable).rdd.getNumPartitions()
    assert local > 1
    before = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        df = read_table(spark, db_path, table)
        assert df.rdd.getNumPartitions() == local
        assert df.count() == atable.num_rows
    finally:
        spark.conf.set(key, before)


def test_split_count_follows_spark_file_split():
    mb = 1 << 20
    # Spark's defaults: 128 MB maxPartitionBytes, 4 MB openCostInBytes
    assert split_count(94, 128 * mb, 4 * mb, 32) == 1
    assert split_count(0, 128 * mb, 4 * mb, 32) == 1
    # sf1 and sf10 TPC-H customer in Arrow bytes: split at the open cost
    # on 32 cores, at bytes per core on 4
    assert split_count(8_849_825, 128 * mb, 4 * mb, 32) == 3
    assert split_count(88_498_801, 128 * mb, 4 * mb, 32) == 22
    assert split_count(88_498_801, 128 * mb, 4 * mb, 4) == 4
    # past maxPartitionBytes x cores, one partition per maxPartitionBytes
    assert split_count(10 << 30, 128 * mb, 4 * mb, 4) == 80
    assert split_count(0, 128 * mb, 0, 4) == 1  # no zero split size


def test_conf_bytes_reads_spark_byte_notation(spark):
    from project_graphdb_spark.io.sqlite import _conf_bytes

    key = "spark.sql.files.maxPartitionBytes"
    assert _conf_bytes(spark, key) == 128 * 1024 * 1024  # '134217728b'
    before = spark.conf.get(key)
    try:
        for raw, want in (("4096", 4096), ("64m", 64 << 20), ("1G", 1 << 30)):
            spark.conf.set(key, raw)
            assert _conf_bytes(spark, key) == want, raw
    finally:
        spark.conf.set(key, before)


def test_viz_renderers(db_path):
    from project_graphdb_spark.schema.viz import (
        erd_dot,
        graph_schema_dot,
        graph_schema_html,
    )

    rschema = introspect(db_path)
    gschema = infer_graph_schema(rschema)
    dot = erd_dot(rschema)
    assert "digraph ERD" in dot
    assert '"sale":store_id -> "store":store_id' in dot
    gdot = graph_schema_dot(gschema)
    assert '"Sale" -> "Store" [label="HAS_STORE"]' in gdot
    page = graph_schema_html(gschema)
    assert "vis.Network" in page and '"from": "Sale"' in page


def test_load_report_reconciliation(spark, db_path):
    from project_graphdb_spark.graph.builder import load_report
    from project_graphdb_spark.io.sqlite import introspect, read_normalized

    graph, gschema, rschema = sqlite_to_graph(spark, db_path)
    tables = {
        t.name: read_normalized(spark, db_path, t) for t in rschema
    }
    report = {
        r["rel_type"]: r for r in load_report(tables, gschema, graph).collect()
    }
    sale = report["HAS_STORE"]
    # 4 sale rows: 1 coerced-to-null FK + 1 NULL FK dropped, 2 loaded
    assert sale["source_rows"] == 4
    assert sale["null_key_drops"] == 2
    assert sale["dangling_drops"] == 0
    assert sale["loaded"] == 2
    stock = report["PRODUCT_STORE"]
    # 4 stock rows, 1 exact duplicate merged away
    assert stock["source_rows"] == 4
    assert stock["merge_dedup"] == 1
    assert stock["loaded"] == 3
    # conservation: every source row is accounted for
    for r in report.values():
        assert (
            r["source_rows"]
            == r["null_key_drops"]
            + r["dangling_drops"]
            + r["merge_dedup"]
            + r["loaded"]
        )
