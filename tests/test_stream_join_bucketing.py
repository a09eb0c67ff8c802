"""Stream-stream joins (watermarked interval join) and bucketed
co-located batch joins (shuffle elimination) — scale-path demonstrations."""

import shutil

import pytest
from pyspark.sql import functions as F

from hive_scripts_spark.streaming.windowed import read_event_stream

SF_DIR = "/root/testdata/sf0.001"


def test_stream_stream_interval_join(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "f0.parquet")

    ev = read_event_stream(spark, str(src))
    purchases = (
        ev.where("event_type = 'purchase'")
        .select(F.col("event_id").alias("p_id"), F.col("user_id"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        ev.where("event_type = 'click'")
        .select(F.col("event_id").alias("c_id"), F.col("user_id"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.user_id)
        & (clicks.c_ts >= purchases.p_ts - F.expr("INTERVAL 1 HOUR"))
        & (clicks.c_ts <= purchases.p_ts),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {
        (r["p_id"], r["c_id"]) for r in spark.table("ssj").collect()
    }

    # batch twin
    bev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    from hive_scripts_spark.sources.readers import table as load

    bev = load(spark, SF_DIR, "events")
    p = bev.where("event_type = 'purchase'").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = bev.where("event_type = 'click'").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    expected = {
        (r["p_id"], r["c_id"])
        for r in p.join(
            c,
            (p.user_id == c.c_user)
            & (c.c_ts >= p.p_ts - F.expr("INTERVAL 1 HOUR"))
            & (c.c_ts <= p.p_ts),
        ).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Pre-bucketing both sides on the join key removes the exchange —
    the co-located-join strategy for repeated large joins at scale."""
    # (spark.sql.warehouse.dir is a static conf — bucketed tables land in
    # the session default warehouse; dropped in the finally block)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_orders")
    lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_lineitem")

    bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
    # disable broadcast so the join strategy decision is about shuffles
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the join itself must not shuffle either side (only the final
        # groupBy exchanges) — bucketed scans align partitions
        import re

        pre_agg = plan.split("HashAggregate")[-1]  # below the aggregates
        assert "SortMergeJoin" in plan
        assert len(re.findall(r"Exchange hashpartitioning", pre_agg)) == 0, plan
        # correctness unchanged
        expect = (
            orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        got = {r["o_orderstatus"]: r["n"] for r in joined.collect()}
        want = {r["o_orderstatus"]: r["count"] for r in expect.collect()}
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("drop table if exists b_orders")
        spark.sql("drop table if exists b_lineitem")