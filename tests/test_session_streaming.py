"""Session-window streaming: stream/batch parity + boundary semantics.

The streaming session operator (`streaming/sessions.py`) is the
`session_window`-native face of gap sessionization; these tests lock

* exact stream == batch agreement over the same files (the Structured
  Streaming contract applied to merging session windows), and
* the boundary agreement with the lag-based ``x_events_sessionize``:
  Spark merges TOUCHING session windows, so an exactly-gap-apart pair
  stays in ONE session under both operators (split iff strictly
  greater than gap) — and a just-past-gap pair splits under both.
"""

import datetime as dt
import shutil

from hive_scripts_spark.streaming.sessions import session_window_counts
from hive_scripts_spark.streaming.windowed import read_event_stream

SF_DIR = "/root/testdata/sf0.001"


def test_session_stream_matches_batch(spark, tmp_path):
    d = tmp_path / "ev"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "f0.parquet")

    out = session_window_counts(
        read_event_stream(spark, str(d)), watermark="2 hours"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    from hive_scripts_spark.sources.readers import table as load

    batch = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in session_window_counts(load(spark, SF_DIR, "events")).collect()
    }
    streamed = spark.table("sessions_test").collect()
    assert streamed, "stream produced output"
    for r in streamed:
        assert batch[(r["user_id"], r["session_start"])] == (
            r["session_end"],
            r["n_events"],
        )
    # append mode withholds only sessions not yet closed by the watermark
    assert len(streamed) >= 0.9 * len(batch)


def test_session_window_boundary_vs_sessionize(spark):
    # one user, three events: gaps of exactly 30 min and 30:01
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 7),
        (2, base + dt.timedelta(minutes=30), 7),               # == gap
        (3, base + dt.timedelta(minutes=60, seconds=1), 7),    # > gap after #2
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")

    sw = sorted(session_window_counts(ev).collect(), key=lambda r: r["session_start"])
    # touching windows merge: events 1+2 are ONE session; event 3 splits
    assert [r["n_events"] for r in sw] == [2, 1]
    # session end = last event ts + gap
    assert sw[0]["session_start"] == base
    assert sw[0]["session_end"] == base + dt.timedelta(minutes=60)

    # the lag-based batch sessionize agrees on membership: two sessions,
    # split at the strictly-greater-than-gap boundary
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1800 * 1_000_000
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    n_sessions = marked.agg(F.sum("new_session")).collect()[0][0]
    assert n_sessions == 2
