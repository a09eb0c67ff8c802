"""Sinks (SURVEY §2.1 S6–S9).

The reference exports query results as comma-delimited local directories
(``INSERT OVERWRITE LOCAL DIRECTORY ... FIELDS TERMINATED BY ','``,
``verizon_automation_script.sh:219-223``) and builds report CSVs by sed
space-collapsing plus a hand-prepended header row (``:170-183,251-255``).
Spark-native: ``df.write.csv`` with a real header option; run-scoped
output prefixes replace the wipe-and-recreate workspace lifecycle
(``:24-36``).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame


def run_output_dir(base_dir: str, run_date: datetime | None = None) -> str:
    """S9: dated run directory, e.g. ``<base>/08-13-2026`` — same
    ``%m-%d-%Y`` stamp as the reference (``verizon_automation_script.sh:24``),
    but namespaced instead of ``rm -rf``-ed."""
    stamp = (run_date or datetime.now()).strftime("%m-%d-%Y")
    return f"{base_dir.rstrip('/')}/{stamp}"


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Hive-style partitioned parquet layout (``k1=v1/k2=v2`` directories
    — the on-disk shape the reference's ``SHOW PARTITIONS`` world assumes).

    Reads of this layout get **directory-level partition pruning**: a
    filter on a partition column skips whole directories at planning
    time (``PartitionFilters`` in the scan node), independent of parquet
    row-group stats. This is the 100 TB layout for the validation
    pipeline's big fact tables.
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_report_csv(
    df: DataFrame,
    path: str,
    column_names: list[str] | None = None,
    coalesce: bool = True,
) -> None:
    """S8: CSV report with a header row.

    ``column_names`` renames positionally (the reference's reports carry
    hand-written headers like ``"Table,count,partition"`` —
    ``verizon_automation_script.sh:173,182,254``). Reports are small
    (per-table rows) so a single output file is the friendly default;
    pass ``coalesce=False`` for large exports.
    """
    out = df.toDF(*column_names) if column_names else df
    if coalesce:
        out = out.coalesce(1)
    out.write.mode("overwrite").option("header", True).csv(path)
