"""Named query workload + DuckDB oracle registry.

Every operator capability from SURVEY.md §2 that we claim as implemented
is registered here as a named query: a callable ``(spark, sf_dir) ->
DataFrame`` plus (where SQL-expressible) an equivalent ANSI-SQL oracle
string that DuckDB runs on the same parquet tables. The driver compares
row count + schema + order-insensitive value hash between the two.

Determinism rules (required for value-hash parity between engines):

* SUM/AVG over doubles is accumulation-order-dependent — never hash a
  raw double aggregate. All money/measure sums go through exact
  ``DECIMAL`` arithmetic (bit-identical in Spark and DuckDB), then cast
  to double at the end.
* Window ranks use a total order (explicit tie-breaker keys).
* Output column names are identical on both sides (the driver sorts
  columns by name before hashing).
* Types are aligned (int vs bigint matters for the schema check).

Implementations live in ``project_graphdb_spark.operators``; this module
is the registry the driver contract (``__spark_entry__.py``) re-exports.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None  # None => driver does a weaker rows-only check
    description: str = ""
    headline: bool = False  # include in bench.py timing set


REGISTRY: dict[str, QueryDef] = {}


def register(
    name: str,
    oracle: str | None = None,
    description: str = "",
    headline: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # release the PREVIOUS query's lingering persists/checkpoint
            # blocks (frames a builder persisted for its RETURNED plan
            # — spark_util's one-slot rolling window): the
            # registry is the chokepoint every harness goes through, so
            # no query's blocks outlive the next query's start. The
            # gate (tests/test_persist_gate.py) asserts nothing else
            # survives.
            from project_graphdb_spark.spark_util import release_lingering

            release_lingering()
            return fn(spark, sf_dir)

        REGISTRY[name] = QueryDef(
            name, wrapped, oracle, description, headline
        )
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: qd.fn for name, qd in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: qd.oracle for name, qd in REGISTRY.items() if qd.oracle}


def headline_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {n: qd.fn for n, qd in REGISTRY.items() if qd.headline}


_LOADED = False

# The driver's correctness gate samples the FIRST 50 registry entries in
# insertion order. The window is an explicit priority list applied after
# all imports: names here come first (in this order), everything else
# keeps import order behind them. Rule: the 50 registered names with the
# oldest latest driver row, sorted by (latest CORRECTNESS_r*.json round,
# name), so every query cycles through the window
# (tests/test_window_rotation.py checks the staleness bound).
_WINDOW_PRIORITY: tuple[str, ...] = (
    "ann_ivfpq_top10",
    "corpus_bigram_lm",
    "corpus_bpe_merges",
    "customer_order_count_distribution",
    "customer_order_gaps",
    "cypher_revenue_per_year",
    "cypher_shortestpath_nation_pairs",
    "dedup_winnow",
    "dedup_winnow_fast",
    "distinct_customers_per_segment",
    "doc_bigram_logprob",
    "doc_bpe_encode",
    "doc_dup_span_profile",
    "doc_dup_span_scrub",
    "doc_winnow_fingerprints",
    "emb_label_centroid_outliers",
    "ev_distinct_user_events",
    "ev_funnel_conversion",
    "ev_retention_cohorts",
    "ev_sliding_counts",
    "ev_top_event_paths",
    "ev_user_counts_salted",
    "events_ts_components",
    "flagship_revenue_per_year",
    "forecast_revenue_change",
    "graph_sink_roundtrip",
    "jsonl_roundtrip_lang_stats",
    "lineitem_null_profile",
    "lineitem_orderkey_contention",
    "nation_market_share",
    "order_value_rank_and_next",
    "orders_status_counts_2000",
    "part_cooccurrence_similarity",
    "pipeline_clean_pack",
    "shipping_priority_top10",
    "top_supplier_quarter_revenue",
    "volume_shipping_nation_pair",
    "ann_cosine_top10",
    "building_segment_brand_revenue",
    "corpus_vocab_topk",
    "cypher_edge_counts_by_type",
    "cypher_match_after_with",
    "cypher_node_counts_by_label",
    "cypher_optional_match_order_counts",
    "cypher_predicate_surface",
    "cypher_region_customer_counts",
    "cypher_status_counts",
    "cypher_top_customers",
    "cypher_total_node_count",
    "cypher_value_probe",
)


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Imports are for their @register side effects; import order no
    # longer decides the driver window (see _WINDOW_PRIORITY above).
    # NOTE: modules must not import registration modules at module
    # level (pure expression helpers live in operators/text_fns.py for
    # this reason) — duplicate registration raises.
    from project_graphdb_spark.operators import (  # noqa: F401
        streaming_workload,
        relational,
        similarity,
        dedup,
        skew,
        similarity_scale,
        relational_ext,
        relational_tpch,
        sketches,
        orc_workload,
        jsonl_workload,
        sqlite_workload,
        multimodal,
        rangejoin,
        streaming_enrich,
        graph_algo_workload,
        asof,
        agent_workload,
        cypher_workload,
        graph_queries,
        corpus,
        text,
        event_analytics,
    )

    # Pull the window-priority queries to the front of the registry's
    # insertion order (the driver samples the first 50).
    front = {
        n: REGISTRY[n] for n in _WINDOW_PRIORITY if n in REGISTRY
    }
    rest = {n: qd for n, qd in REGISTRY.items() if n not in front}
    REGISTRY.clear()
    REGISTRY.update(front)
    REGISTRY.update(rest)

    _LOADED = True
