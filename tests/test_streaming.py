"""Structured Streaming tests: the stream plan must agree exactly with its
batch twin over the same files (availableNow trigger)."""

import pytest

from hive_scripts_spark.streaming.windowed import (
    hourly_event_counts,
    read_event_stream,
)

SF_DIR = "/root/testdata/sf0.001"


def test_stream_matches_batch(spark, tmp_path):
    # file stream sources need a directory; stage the events file into one
    import shutil

    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "part-0000.parquet")

    stream = read_event_stream(spark, str(stream_dir))
    assert stream.isStreaming

    out = hourly_event_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("append")  # watermark allows append for windowed aggs
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    # batch twin over the same files
    from hive_scripts_spark.plans.registry import QUERIES

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in QUERIES["x_events_hourly"](spark, SF_DIR).collect()
    }
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("hourly_test").collect()
    }
    # append mode emits only windows closed by the watermark; availableNow
    # over a finite source closes all but the trailing window(s)
    assert streamed, "stream produced output"
    for k, v in streamed.items():
        assert batch[k] == v
    # coverage: at least 90% of batch windows must have been emitted
    assert len(streamed) >= 0.9 * len(batch)


def test_streaming_partition_counts(spark, tmp_path):
    """The micro-batch twin of UC#1 partition counts (SURVEY §7.9)."""
    import shutil

    from hive_scripts_spark.streaming.windowed import streaming_partition_counts

    d = tmp_path / "ev"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "f0.parquet")
    out = streaming_partition_counts(read_event_stream(spark, str(d)))
    q = (
        out.writeStream.format("memory")
        .queryName("spc")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = spark.table("spc")
    assert got.count() > 0
    # every emitted (window, type) count matches the batch groupBy
    from hive_scripts_spark.sources.readers import table as load
    from pyspark.sql import functions as F

    ev = load(spark, SF_DIR, "events")
    batch = {
        (r["w"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.window("ts", "1 hour").start.alias("w"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in got.collect():
        assert batch[(r["window_start"], r["event_type"])] == r["row_count"]


def test_streaming_count_reconcile(spark, tmp_path):
    """SURVEY §7.9: the full micro-batch reconciliation — streaming counts
    vs a perturbed static target; mismatches localize to the perturbation."""
    import shutil

    from pyspark.sql import functions as F

    from hive_scripts_spark.sources.readers import table as load
    from hive_scripts_spark.streaming.reconcile import streaming_count_reconcile
    from hive_scripts_spark.streaming.windowed import streaming_partition_counts

    d = tmp_path / "ev"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "f0.parquet")

    ev = load(spark, SF_DIR, "events")
    # target = source minus every 7th 'click' row → those windows mismatch
    perturbed = ev.where(
        (F.col("event_type") != "click") | (F.col("event_id") % 7 != 0)
    )
    target_counts = perturbed.groupBy(
        F.window("ts", "1 hour").start.alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("row_count"))

    batches: list = []
    handler = streaming_count_reconcile(
        target_counts,
        on_batch=lambda df, bid: batches.append(df.collect()),
    )
    q = (
        streaming_partition_counts(read_event_stream(spark, str(d)))
        .writeStream.foreachBatch(handler)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    rows = [r for b in batches for r in b]
    assert rows, "reconcile emitted output"
    # exact stream<->batch parity: the union of per-micro-batch
    # reconcile rows must VALUE-match the batch face
    # (reconcile_count_frames — the same function foreachBatch runs,
    # and the shape x_stream_reconcile_batch grades) on the keys the
    # watermark finalized (streamed keys are a subset: trailing windows
    # may never finalize under availableNow)
    from hive_scripts_spark.streaming.reconcile import (
        as_count_frame,
        reconcile_count_frames,
    )

    src_counts = ev.groupBy(
        F.window("ts", "1 hour").start.alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("row_count"))
    batch_face = {
        (r["table_name"], r["partition_spec"]): (
            r["src_count"],
            r["tgt_count"],
            r["status"],
        )
        for r in reconcile_count_frames(
            as_count_frame(src_counts, "event_type"),
            as_count_frame(target_counts, "event_type"),
        ).collect()
    }
    for r in rows:
        key = (r["table_name"], r["partition_spec"])
        assert batch_face[key] == (
            r["src_count"],
            r["tgt_count"],
            r["status"],
        ), key
    statuses = {r["partition_spec"]: r["status"] for r in rows}
    # no phantom target_only (unfinalized windows never reconcile early)
    assert "target_only" not in set(statuses.values())
    # every mismatched spec is a click window; non-click specs all match
    for spec, status in statuses.items():
        if "event_type=click" in spec:
            # a window whose clicks were ALL dropped shows as source_only
            assert status in ("matched", "mismatched", "source_only")
        else:
            assert status == "matched", spec
    assert any(
        s == "mismatched" for spec, s in statuses.items() if "event_type=click" in spec
    )
    # counts agree with the batch-side truth for a mismatched window
    mism = [r for b in batches for r in b if r["status"] == "mismatched"][0]
    assert mism["src_count"] > mism["tgt_count"]


def test_reconcile_parquet_sink_is_idempotent(spark, tmp_path):
    """Retrying a batch (at-least-once foreachBatch) must not duplicate
    its reconcile rows: the per-batch overwrite makes the second
    delivery byte-equivalent to the first."""
    from pyspark.sql import functions as F

    from hive_scripts_spark.streaming.reconcile import reconcile_parquet_sink

    out = str(tmp_path / "recon")
    sink = reconcile_parquet_sink(out)
    frame = spark.createDataFrame(
        [("events", "h=1", 10, 10, "matched"), ("events", "h=2", 5, 4, "mismatched")],
        "table_name string, partition_spec string, src_count long, "
        "tgt_count long, status string",
    )
    sink(frame, 0)
    sink(frame.where("status = 'mismatched'"), 1)
    # the retry: batch 0 delivered again
    sink(frame, 0)
    got = spark.read.parquet(out)
    assert got.count() == 3
    per_batch = {
        r["batch_id"]: r["n"]
        for r in got.groupBy("batch_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_batch == {0: 2, 1: 1}


def test_watermark_drop_count_sees_late_data(spark, tmp_path):
    """Late rows beyond the watermark delay are dropped SILENTLY — the
    progress counter is the only evidence. Feed a second batch whose
    events are far older than batch one's max ts and assert the helper
    reports them (and that they are indeed absent from the output)."""
    from pyspark.sql import functions as F

    from hive_scripts_spark.sources.readers import table as load
    from hive_scripts_spark.streaming.windowed import (
        hourly_event_counts,
        watermark_drop_count,
    )

    ev = load(spark, SF_DIR, "events")
    hi = ev.agg(F.max("ts").alias("m")).first()["m"]
    d = tmp_path / "late_src"
    d.mkdir()
    # batch 0: the most recent events (advances the watermark to ~hi)
    recent = ev.where(F.col("ts") >= F.lit(hi) - F.expr("interval 2 hours"))
    recent.coalesce(1).write.parquet(str(d / "b0"))
    # batch 1: events older than (hi - delay) -> all late
    late = ev.where(F.col("ts") < F.lit(hi) - F.expr("interval 48 hours")).limit(
        200
    )
    n_late = late.count()
    assert n_late > 0
    import glob
    import shutil

    flat = tmp_path / "flat"
    flat.mkdir()
    shutil.copy(glob.glob(str(d / "b0" / "*.parquet"))[0], flat / "b0.parquet")

    emitted_rows: list = []

    def run_once():
        q = (
            hourly_event_counts(
                read_event_stream(spark, str(flat)), watermark="1 hour"
            )
            .writeStream.foreachBatch(
                lambda df, bid: emitted_rows.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        return q

    q = run_once()
    assert watermark_drop_count(q) == 0  # one batch -> nothing late yet

    late.coalesce(1).write.parquet(str(d / "b1"))
    shutil.copy(glob.glob(str(d / "b1" / "*.parquet"))[0], flat / "b1.parquet")
    emitted_rows.clear()
    q2 = run_once()
    # the counter sits AFTER map-side partial aggregation: it counts
    # dropped (window, key) PARTIAL GROUPS, a positive lower bound on
    # the dropped input events (never more than them)
    assert 0 < watermark_drop_count(q2) <= n_late
    # and none of the late rows' windows made it into the new output
    emitted = {r["window_start"] for r in emitted_rows}
    late_windows = {
        r["w"]
        for r in late.select(F.date_trunc("hour", "ts").alias("w")).distinct().collect()
    }
    assert not (emitted & late_windows)


def test_sliding_event_counts_matches_batch(spark, tmp_path):
    """Streaming sliding windows (2h/1h) must agree exactly with the
    x_events_sliding batch form on every emitted window."""
    import shutil

    from hive_scripts_spark.streaming.windowed import sliding_event_counts

    stream_dir = tmp_path / "events_sliding"
    stream_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", stream_dir / "part-0000.parquet")

    q = (
        sliding_event_counts(read_event_stream(spark, str(stream_dir)))
        .writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    from hive_scripts_spark.plans.registry import QUERIES

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in QUERIES["x_events_sliding"](spark, SF_DIR).collect()
    }
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("sliding_test").collect()
    }
    assert streamed, "stream produced output"
    for k, v in streamed.items():
        assert batch[k] == v
    assert len(streamed) >= 0.8 * len(batch)  # trailing windows stay open
