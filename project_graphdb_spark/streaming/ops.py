"""Streaming operators over the ``events`` table.

The reference has no data-stream abstraction (its "streaming" is
chunked HTTP of agent events, reference: final/app.py:157-164); this is
the §2.E gap surface built on Structured Streaming. Every transformation
here is written against a plain DataFrame — the *same* function works on
``spark.read`` (batch, used by the oracle gate) and ``spark.readStream``
(incremental); that unification is the point of Structured Streaming.

Streaming-only concerns (watermarks, output modes, memory-sink tests)
live in tests/test_streaming.py; ``with_watermark=True`` adds the event-
time watermark needed for append-mode aggregation state cleanup.

Scale: windowed aggregations shuffle on (window, key) — state store
size is bounded by the watermark horizon; ``session_window`` merges
per-key sessions with the same bound. The lag/cumsum sessionization is
the batch-backfill twin of the streaming session_window path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from project_graphdb_spark.operators.exact import dec

SESSION_GAP_SECONDS = 1800


def _maybe_watermark(df: DataFrame, with_watermark: bool) -> DataFrame:
    return df.withWatermark("ts", "1 hour") if with_watermark else df


def tumbling_window_stats(
    events: DataFrame, with_watermark: bool = False
) -> DataFrame:
    """Hourly tumbling window x event_type: count + exact value sum."""
    out = (
        _maybe_watermark(events, with_watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
    )
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def sliding_window_counts(
    events: DataFrame, with_watermark: bool = False
) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in 2)."""
    out = (
        _maybe_watermark(events, with_watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
    )
    return out.select(
        F.col("w.start").alias("window_start"), "n_events"
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Batch sessionization: per-user sessions split on >30 min gaps
    (lag + cumulative sum — the classic windowed formulation).

    The streaming twin is ``session_window(ts, '30 minutes')``; this
    batch form exists so sessions are oracle-checkable and backfills
    use the same semantics.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = (
        F.when(gap_us.isNull() | (gap_us > SESSION_GAP_SECONDS * 1_000_000), 1)
        .otherwise(0)
    )
    cum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        events.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(cum))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


def streaming_session_counts(events: DataFrame) -> DataFrame:
    """Native streaming session windows (30-minute gap) per user."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def distinct_user_events(events: DataFrame) -> DataFrame:
    """(user_id, event_type) distinct — batch twin of
    ``dropDuplicatesWithinWatermark`` streaming dedup."""
    return events.select("user_id", "event_type").distinct()


def click_purchase_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon_minutes: int = 60,
    with_watermark: bool = False,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the same
    user's click(s) in the preceding ``horizon_minutes``.

    The canonical Structured Streaming two-stream shape: both sides
    watermarked, equi-key on ``user_id`` plus an event-time RANGE
    condition — which is exactly what lets the engine bound join state
    (a click older than the horizon past the watermark can never match
    a future purchase and is evicted; without the time bound the state
    store grows forever, the #1 operational failure of streaming joins
    at scale). Batch/stream unification: the same function body runs
    as a plain interval join on batch frames, and the streaming test
    asserts the two results are identical.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    if with_watermark:
        c = c.withWatermark("click_ts", "10 minutes")
        p = p.withWatermark("purchase_ts", "10 minutes")
    horizon = F.expr(f"INTERVAL {int(horizon_minutes)} MINUTES")
    # how="left_outer" emits unattributed clicks with null purchase
    # columns — in streaming mode the engine holds each click until the
    # watermark proves no in-horizon purchase can still arrive, then
    # flushes the null-padded row as it EVICTS the state (the outer
    # result is itself the state-expiry signal; inner joins just drop
    # the state silently)
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + horizon),
        how,
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def purchase_revenue_by_segment(
    purchases: DataFrame,
    customers: DataFrame,
    with_watermark: bool = False,
) -> DataFrame:
    """Stream-static enrichment + aggregation: join the purchase stream
    against a STATIC customer dimension (user_id -> market segment),
    then aggregate revenue per segment.

    The third canonical Structured Streaming join shape (after
    stream-stream and the windowed self-aggregations): the static side
    carries no watermark and holds no state — each micro-batch hash-
    joins against it, and at scale the dimension is broadcast (or
    bucket-co-located) exactly as in batch. The same body runs on
    batch frames for the oracle gate. Money sums go through
    DECIMAL(18,2) so the result hash-matches DuckDB regardless of
    accumulation order.
    """
    p = _maybe_watermark(purchases, with_watermark)
    dim = customers.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    # no forced broadcast: customer grows linearly with SF (the repo's
    # no-forced-broadcast-of-SF-scaled-tables policy) — the planner
    # broadcasts the pruned 2-column dim while it fits and falls back
    # to a shuffle join past the threshold
    return (
        p.join(dim, "user_id")
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
    )
