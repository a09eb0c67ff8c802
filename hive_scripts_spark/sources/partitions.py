"""Partition-metadata source (SURVEY §2.1 S5).

The reference enumerates partitions with ``show partitions $tbl``
(``verizon_automation_script.sh:104,138``) and then issues one
``count(*) ... WHERE pcol='v'`` query per partition — O(partitions) cluster
jobs. Spark-native: partition values are just a ``DISTINCT`` over the
partition columns (statically pruned on a partitioned layout), and the
whole per-partition count loop collapses into a single ``groupBy`` job
(see :mod:`hive_scripts_spark.operators.reconcile`).

Multi-level partitioning is supported (list of columns) — the reference's
single-``key=value`` assumption (``cut -d= -f1,2``,
``verizon_automation_script.sh:112-113``) is a bug we do not reproduce
(SURVEY §2.8.5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def partition_values(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """Distinct partition tuples, ordered for stable display.

    On a Hive-style partitioned parquet layout this is metadata-only after
    partition discovery; on a flat file it is one shuffle of the (tiny)
    distinct set.
    """
    if not partition_cols:
        raise ValueError("partition_cols must be non-empty")
    return df.select(*partition_cols).distinct().orderBy(*partition_cols)


def partition_spec_string(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """Render partition tuples as Hive ``k1=v1/k2=v2`` spec strings — the
    format ``SHOW PARTITIONS`` emits and the reference parses
    (``verizon_automation_script.sh:111-116``)."""
    return partition_values(df, partition_cols).select(
        partition_spec_col(partition_cols).alias("partition_spec")
    )


def partition_spec_col(partition_cols: list[str]) -> Column:
    """The Hive ``k1=v1/k2=v2`` spec of a row's partition columns: the
    one definition behind every frame keyed on ``partition_spec`` (UC#1
    counts, UC#2 fingerprints, the validation pipeline's fused
    aggregate)."""
    return F.concat_ws(
        "/",
        *[F.concat_ws("=", F.lit(c), F.col(c).cast("string")) for c in partition_cols],
    )
