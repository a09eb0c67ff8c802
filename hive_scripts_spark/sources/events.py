"""Events ingestion: dtype-robust ``ts`` normalization (batch + stream).

The ``events`` table's ``ts`` column has shipped in three different
parquet representations over the engine's life, and a real user pointing
the engine at their own lake can bring any of them:

* **TIMESTAMP(NANOS)** — no native Spark type; read as a nanosecond
  ``bigint`` under ``spark.sql.legacy.parquet.nanosAsLong``;
* **timestamp[us] without UTC flag** — read as ``TIMESTAMP_NTZ``;
* **timestamp[us] with UTC flag** — read as ``TIMESTAMP``.

Every consumer (batch queries, the streaming twins, as-of joins) funnels
through :func:`normalize_event_ts`, which canonicalizes all three to a
session-tz ``TIMESTAMP`` carrying the same epoch instant. The engine
pins the session time zone to UTC (:func:`pin_utc`) so the NTZ cast is
deterministic and matches the DuckDB oracle's naive ``epoch_us`` view of
the same file. ``tests/test_ts_representations.py`` locks all three
layouts to identical query results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def pin_utc(spark: SparkSession) -> None:
    """Pin runtime SQL confs the events reader depends on.

    Both are runtime-settable, so this also covers externally-created
    sessions (the correctness driver's) that never went through
    :func:`hive_scripts_spark.session.get_spark`.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # lets TIMESTAMP(NANOS) files load as bigint instead of erroring
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Canonicalize ``col`` to a ``TIMESTAMP`` (UTC instant).

    Dtype-driven — supports the three representations documented in the
    module docstring. Unknown dtypes raise instead of shipping an
    unresolvable plan downstream (``unix_micros`` on NTZ was exactly the
    failure mode this replaces).
    """
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise ValueError(f"events frame has no {col!r} column: {df.columns}")
    if dtype == "timestamp":
        return df
    if dtype == "bigint":  # TIMESTAMP(NANOS) under nanosAsLong
        # integer division — a double round-trip would lose precision
        # above 2^53 ns
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dtype == "timestamp_ntz":
        # session tz is pinned to UTC (pin_utc), so the cast interprets
        # the naive wall-clock as the UTC instant — matching both the
        # writer's intent and the DuckDB oracle's naive view
        return df.withColumn(col, F.col(col).cast("timestamp"))
    raise TypeError(
        f"unsupported dtype {dtype!r} for events.{col}; expected "
        "timestamp, timestamp_ntz, or bigint (TIMESTAMP(NANOS) read "
        "under nanosAsLong)"
    )


def event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over an events parquet directory.

    File streams require an explicit schema; hard-coding one breaks the
    moment the writer changes representation, so the schema is probed
    from a one-off batch read of the same directory (footer-only — no
    data scan) and the stream then shares :func:`normalize_event_ts`
    with the batch path, keeping the batch/stream parity tests exact.
    """
    pin_utc(spark)
    file_schema = spark.read.parquet(path).schema
    raw = (
        spark.readStream.schema(file_schema)
        .format("parquet")
        .option("path", path)
        .load()
    )
    return normalize_event_ts(raw)
