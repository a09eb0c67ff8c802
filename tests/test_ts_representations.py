"""Timestamp-representation regression lock (VERDICT r4 item 4).

The driver regenerated ``events.parquet`` mid-round-4 with ``ts`` stored
as ``timestamp[us]`` (no UTC flag → Spark TIMESTAMP_NTZ) where earlier
rounds shipped TIMESTAMP(NANOS)-as-long, silently breaking the
sessionize query and the streaming reader. This test writes the SAME
tiny events frame in all three representations the data layer is allowed
to pick — nanos, micros-NTZ, micros-UTC — and asserts that
``table()``, ``read_event_stream``, and the sessionize query produce
identical results over each, so this class of environment breakage can
never silently return.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

#: (representation name, pyarrow timestamp type)
REPRS = [
    ("nanos", pa.timestamp("ns")),
    ("micros_ntz", pa.timestamp("us")),
    ("micros_utc", pa.timestamp("us", tz="UTC")),
]

#: epoch-microsecond event times: two users, gaps straddling the 30-min
#: sessionize threshold (1799s / 1800s / 1801s) to pin boundary semantics
_BASE = 1_700_000_000_000_000
_ROWS = [
    (1, _BASE, 10),
    (2, _BASE + 1_799 * 1_000_000, 10),  # < 30 min → same session
    (3, _BASE + (1_799 + 1_800) * 1_000_000, 10),  # == 30 min → same
    (4, _BASE + (1_799 + 1_800 + 1_801) * 1_000_000, 10),  # > 30 min → new
    (5, _BASE + 42, 20),
    (6, _BASE + 7_200 * 1_000_000, 20),  # 2 h gap → new session
]


def _write(path: str, ts_type: pa.DataType) -> None:
    us = [r[1] for r in _ROWS]
    ts = pa.array(us, type=pa.timestamp("us")).cast(ts_type)
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in _ROWS], type=pa.int64()),
            "ts": ts,
            "user_id": pa.array([r[2] for r in _ROWS], type=pa.int64()),
            "event_type": pa.array(["click"] * len(_ROWS)),
            "value": pa.array([1.0] * len(_ROWS)),
            "props": pa.array(["{}"] * len(_ROWS)),
        }
    )
    pq.write_table(table, path)


@pytest.fixture(scope="module")
def repr_dirs(tmp_path_factory):
    """One sf_dir-shaped directory per representation."""
    dirs = {}
    for name, ts_type in REPRS:
        d = tmp_path_factory.mktemp(f"events_{name}")
        _write(str(d / "events.parquet"), ts_type)
        dirs[name] = str(d)
    return dirs


def test_table_normalizes_all_representations(spark, repr_dirs):
    from hive_scripts_spark.sources.readers import table

    results = {}
    for name, d in repr_dirs.items():
        df = table(spark, d, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", name
        results[name] = sorted(
            (r["event_id"], r["ts"]) for r in df.select("event_id", "ts").collect()
        )
    base = results["nanos"]
    # absolute instants, not just cross-representation agreement
    assert base[0][1] == dt.datetime(2023, 11, 14, 22, 13, 20)
    assert results["micros_ntz"] == base
    assert results["micros_utc"] == base


def test_sessionize_identical_across_representations(spark, repr_dirs):
    from hive_scripts_spark.plans.registry import QUERIES

    results = {}
    for name, d in repr_dirs.items():
        rows = QUERIES["x_events_sessionize"](spark, d).collect()
        results[name] = sorted(
            (r["user_id"], r["session_id"], r["n_events"], r["session_start"])
            for r in rows
        )
    base = results["nanos"]
    # user 10: 1799s and 1800s gaps chain into one session; 1801s splits
    by_user = {}
    for user_id, _sid, n, _start in base:
        by_user.setdefault(user_id, []).append(n)
    assert sorted(by_user[10]) == [1, 3]
    assert sorted(by_user[20]) == [1, 1]
    assert results["micros_ntz"] == base
    assert results["micros_utc"] == base


def test_date_columns_normalized_like_events_ts(spark, tmp_path):
    # orders.o_orderdate / lineitem.l_shipdate ride the same dtype-driven
    # path (readers._TS_COLUMNS); lock the wiring with two of the three
    # representations for orders
    us = [1_600_000_000_000_000, 1_600_086_400_000_000]
    base_cols = {
        "o_orderkey": pa.array([1, 2], type=pa.int64()),
        "o_custkey": pa.array([10, 20], type=pa.int64()),
        "o_orderstatus": pa.array(["F", "O"]),
        "o_totalprice": pa.array([1.5, 2.5]),
        "o_orderpriority": pa.array(["1-URGENT", "2-HIGH"]),
    }
    results = {}
    for name, ts_type in [("ntz", pa.timestamp("us")), ("nanos", pa.timestamp("ns"))]:
        d = tmp_path / name
        d.mkdir()
        tbl = pa.table(
            {
                **base_cols,
                "o_orderdate": pa.array(us, type=pa.timestamp("us")).cast(ts_type),
            }
        )
        pq.write_table(tbl, str(d / "orders.parquet"))
        from hive_scripts_spark.sources.readers import table

        df = table(spark, str(d), "orders")
        assert dict(df.dtypes)["o_orderdate"] == "timestamp", name
        results[name] = sorted(
            (r["o_orderkey"], r["o_orderdate"])
            for r in df.select("o_orderkey", "o_orderdate").collect()
        )
    assert results["ntz"] == results["nanos"]
    assert results["ntz"][0][1] == dt.datetime(2020, 9, 13, 12, 26, 40)


def test_stream_reads_all_representations(spark, repr_dirs):
    from hive_scripts_spark.streaming.windowed import read_event_stream

    for name, d in repr_dirs.items():
        stream = read_event_stream(spark, d)
        assert stream.isStreaming, name
        assert dict(stream.dtypes)["ts"] == "timestamp", name
        q = (
            stream.writeStream.format("memory")
            .queryName(f"ts_repr_{name}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            (r["event_id"], r["ts"])
            for r in spark.table(f"ts_repr_{name}").select("event_id", "ts").collect()
        )
        assert [e for e, _ in got] == [1, 2, 3, 4, 5, 6], name
        assert got[0][1] == dt.datetime(2023, 11, 14, 22, 13, 20), name
