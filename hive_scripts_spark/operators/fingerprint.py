"""UC#2 — sampled content-integrity comparison.

Reference behavior (``verizon_automation_script.sh:186-255``): for each
table that passed UC#1, export ``SELECT * [WHERE partition] LIMIT 10`` to a
local directory per side, ``md5sum`` the first output file, and compare the
two hex strings; inconsistent tables land in a CSV report.

Spark-native design (SURVEY §3.2): deterministic hash-mod sampling (both
sides pick the *same* logical rows — ``LIMIT`` without ``ORDER BY`` cannot)
→ canonical row serialization → order-insensitive modular-sum fingerprint
(:mod:`hive_scripts_spark.functions.canonical`) → one tiny frame per side →
union + one grouped alignment + equality filter. No local-FS round trip, no
first-file-only bug (SURVEY §2.8.3), immune to row order (§2.8.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_scripts_spark.functions.canonical import (
    deterministic_sample,
    fingerprint_lanes,
    in_hash_sample,
    lane_fingerprint,
    limit_sample,
    row_hash,
    table_fingerprint,
)
from hive_scripts_spark.operators.reconcile import align_sides
from hive_scripts_spark.sources.partitions import partition_spec_col


def sampled_fingerprint(
    df: DataFrame,
    key_cols: list[str],
    table_name: str = "",
    partition_cols: list[str] | None = None,
    fraction: float = 0.10,
    hash_cols: list[str] | None = None,
    mode: str = "hash",
    rows: int = 10,
) -> DataFrame:
    """Fingerprint a deterministic sample of ``df``, per partition.

    ``mode='hash'`` (default) takes the deterministic hash-mod
    ``fraction`` sample; ``mode='rows'`` is the reference-literal
    ``LIMIT rows`` (``verizon_automation_script.sh:220``), made
    cross-engine sound by ordering on ``key_cols`` first (Catalyst plans
    it as TakeOrderedAndProject — top-``rows`` per partition then a
    single-reduce merge, no full sort shuffle).

    Returns ``table_name, partition_spec, fingerprint, row_count`` — the
    same record shape as the UC#1 count frames, so the comparison join is
    identical machinery.
    """
    if mode == "rows":
        sample = limit_sample(df, rows, order_cols=key_cols)
    elif mode == "hash":
        sample = deterministic_sample(df, key_cols, fraction=fraction)
    else:
        raise ValueError(f"unknown sample mode: {mode!r} (use 'hash' or 'rows')")
    if partition_cols:
        spec_cols = partition_cols
        fp = table_fingerprint(sample, hash_cols or df.columns, group_by=spec_cols)
        fp = fp.select(
            F.lit(table_name).alias("table_name"),
            partition_spec_col(partition_cols).alias("partition_spec"),
            "fingerprint",
            "row_count",
        )
    else:
        fp = table_fingerprint(sample, hash_cols or df.columns).select(
            F.lit(table_name).alias("table_name"),
            F.lit(None).cast("string").alias("partition_spec"),
            "fingerprint",
            "row_count",
        )
    return fp


def counts_and_sampled_fingerprint(
    df: DataFrame,
    key_cols: list[str],
    table_name: str = "",
    partition_cols: list[str] | None = None,
    fraction: float = 0.10,
) -> DataFrame:
    """UC#1 and hash-mode UC#2 of one table side in ONE grouped
    aggregate over one scan: ``table_name, partition_spec, row_count,
    fingerprint, sample_rows``.

    ``row_count`` is :func:`~hive_scripts_spark.operators.reconcile.
    partition_counts`' count of every row; ``fingerprint`` and
    ``sample_rows`` are :func:`sampled_fingerprint`'s (``mode='hash'``)
    fingerprint and row count of the :func:`~hive_scripts_spark.
    functions.canonical.deterministic_sample` rows, summed over the
    sampled rows only: the row hash is projected as NULL outside the
    sample, so the lanes of unsampled rows add nothing and are never
    hashed. The hash is staged in its own projection, bound once
    (PLANS.md trap #1), before the lanes read it three times.

    Unlike :func:`sampled_fingerprint` this keeps a row for a partition
    whose sample is empty (``sample_rows == 0``, NULL fingerprint); a
    caller that wants the sampled-fingerprint frame drops those rows on
    partitioned tables. Unpartitioned, it is one global row with a NULL
    ``partition_spec`` even when the sample is empty, as
    ``partition_counts`` and :func:`sampled_fingerprint` each give one.
    """
    h = F.when(in_hash_sample(key_cols, fraction), row_hash(df, df.columns))
    group = (
        [partition_spec_col(partition_cols).alias("partition_spec")]
        if partition_cols
        else []
    )
    staged = df.select(*group, h.alias("__h"))
    lanes = staged.select(*staged.columns, *fingerprint_lanes(F.col("__h")))
    aggs = [
        F.count(F.lit(1)).alias("row_count"),
        lane_fingerprint().alias("fingerprint"),
        F.count("__h").alias("sample_rows"),
    ]
    if partition_cols:
        out = lanes.groupBy("partition_spec").agg(*aggs)
    else:
        out = lanes.agg(*aggs).withColumn(
            "partition_spec", F.lit(None).cast("string")
        )
    return out.select(
        F.lit(table_name).alias("table_name"),
        "partition_spec",
        "row_count",
        "fingerprint",
        "sample_rows",
    )


def fingerprint_reconcile(src_fp: DataFrame, tgt_fp: DataFrame) -> DataFrame:
    """Compare per-(table, partition) fingerprints from the two sides.

    ``status`` is ``consistent`` when both fingerprint and sampled row
    count agree, else ``inconsistent`` (→ the TableDataNotConsistent
    report, ``verizon_automation_script.sh:251-255``). Both inputs have
    one row per key (``groupBy`` outputs), aligned by
    :func:`~hive_scripts_spark.operators.reconcile.align_sides`, so one
    frame may stand on both sides.
    """
    joined = align_sides(src_fp, tgt_fp, fingerprint="fingerprint", rows="row_count")
    # Null-safe: an empty sample on both sides yields fingerprint=NULL on
    # both, and NULL==NULL would fall through to 'inconsistent'. A present
    # side's row count is never NULL, so a side missing entirely still
    # compares unequal under eqNullSafe and stays 'inconsistent'.
    ok = F.col("src_fingerprint").eqNullSafe(F.col("tgt_fingerprint")) & F.col(
        "src_rows"
    ).eqNullSafe(F.col("tgt_rows"))
    return joined.select(
        "table_name",
        "partition_spec",
        "src_fingerprint",
        "tgt_fingerprint",
        F.when(ok, F.lit("consistent")).otherwise(F.lit("inconsistent")).alias("status"),
    )
