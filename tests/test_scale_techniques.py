"""Scale techniques that only show up in plans, not results:

* bucketed tables make the fact-fact join exchange-free (the 100 TB
  co-location strategy for repeated joins on the same key);
* approx_count_distinct bounds memory for cardinality estimation
  (exact distinct shuffles every key; HLL is one pass, mergeable).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from project_graphdb_spark.io.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    """Bucketed copies of orders/lineitem (8 buckets on the join key)."""
    # saveAsTable honors spark.sql.warehouse.dir set at session start;
    # table names are unique to this module
    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    for name, df, key in (
        ("bkt_orders", orders, "o_orderkey"),
        ("bkt_lineitem", lineitem, "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    yield
    for name in ("bkt_orders", "bkt_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_join_is_exchange_free(spark, warehouse):
    # at test SF the planner would broadcast; disable it so the plan
    # shows what a fact-fact join does at real scale
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    old_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table("bkt_orders")
        li = spark.table("bkt_lineitem")
        joined = o.join(li, o.o_orderkey == li.l_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.count("*").alias("n"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the join itself needs no shuffle: both sides are pre-bucketed
        # on the key; the only Exchange is the final groupBy's
        join_part = plan.split("HashAggregate")[-1]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in join_part
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe
            )
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    # and the result matches the plain (shuffling) join
    o2 = load_table(spark, SF, "orders")
    li2 = load_table(spark, SF, "lineitem")
    want = (
        o2.join(li2, o2.o_orderkey == li2.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_approx_count_distinct_accuracy(spark):
    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    exact = li.select(
        F.countDistinct("l_orderkey").alias("n")
    ).collect()[0]["n"]
    approx = li.select(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("n")
    ).collect()[0]["n"]
    assert abs(approx - exact) / exact < 0.05


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Date-partitioned event writes → a day filter must prune at the
    directory level (PartitionFilters), not scan-and-discard. This is
    the layout the events table would use at 100 TB (daily partitions,
    late data co-located by event date)."""
    path = str(tmp_path / "events_by_day")
    events = load_table(spark, SF, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    events.write.mode("overwrite").partitionBy("event_date").parquet(path)

    first_day = events.agg(F.min("event_date")).collect()[0][0]
    back = spark.read.parquet(path).filter(
        F.col("event_date") == F.lit(first_day)
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters")[1][:200]
    # correctness: pruned read returns exactly that day's rows
    exp = events.filter(F.col("event_date") == F.lit(first_day)).count()
    assert back.count() == exp


def test_calibration_anchor_fields_and_determinism(spark):
    """r12 (VERDICT r11 ask #5): the calibration anchor must (a) return
    the artifact fields, (b) be backed by a dataset whose content is a
    pure function of its version — a regenerated copy is row-identical,
    so calib_sec series stay comparable across sessions and rounds."""
    import shutil

    from pyspark.sql import functions as F

    from project_graphdb_spark import calibration as cal

    def content_sig(path):
        df = spark.read.parquet(path)
        return df.agg(
            F.expr("bit_xor(xxhash64(id, k, x))").alias("h"),
            F.count("*").alias("n"),
        ).collect()[0]

    # one rep under-delivers on purpose: summary() must pad to the
    # v2 floor (warmup + CALIB_MIN_REPS kept) on its own
    anchor = cal.CalibAnchor(spark)
    anchor.rep()
    out = anchor.summary()
    assert set(out) >= {
        "calib_sec",
        "calib_reps",
        "calib_version",
        "calib_warmup_rep",
        "calib_kept_reps",
        "calib_rep_spread",
        "calib_unstable",
    }
    assert out["calib_sec"] > 0
    assert out["calib_kept_reps"] >= cal.CALIB_MIN_REPS
    assert len(out["calib_reps"]) == out["calib_kept_reps"] + 1
    assert out["calib_warmup_rep"] == out["calib_reps"][0]
    # the warmup rep is excluded from the median
    import statistics

    assert out["calib_sec"] == round(
        statistics.median(out["calib_reps"][1:]), 4
    )
    path = cal._calib_path()
    sig1 = content_sig(path)
    shutil.rmtree(path)
    sig2 = content_sig(cal.ensure_calib_dataset(spark))
    assert (sig1.h, sig1.n) == (sig2.h, sig2.n)
    assert sig1.n == cal.CALIB_ROWS
