"""UC#1 — cross-database row-count reconciliation (the flagship).

Reference behavior (``verizon_automation_script.sh:90-183``): for every
table, enumerate partitions (``show partitions``, ``:104,138``), run one
``count(*)`` query per partition per side (``:111-122,145-156``), dump
``table:count[:partition]`` lines to temp files, then

* matched   = ``grep -Fxf source.txt target.txt``  (``:179``, J1)
* mismatched = ``diff --side-by-side --suppress-common-lines`` (``:170``, J2)

Spark-native design (SURVEY §3.1): per side, **one** ``groupBy(partition
cols)`` aggregation job replaces the O(partitions) query loop; the two
tiny count frames meet in a full-outer join keyed on
``(table, partition)``; matched/mismatched are filters over that joined
frame. Counts compare as ``bigint``, not text (``07`` vs ``7`` — SURVEY
§2.8.6 fixed).

Scale posture: the scans aggregate map-side (partial count) so the
shuffle carries one row per (table, partition); the join input is
O(partitions), never O(rows). Works identically at sf0.001 and 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_scripts_spark.sources.partitions import partition_spec_col

#: column names of the count-record frame — mirrors the reference's
#: colon-delimited intermediate schema ``(table, count, partition)``
#: (``verizon_automation_script.sh:120,154``; SURVEY §2.1).
COUNT_SCHEMA = ("table_name", "partition_spec", "row_count")


def partition_counts(
    df: DataFrame,
    partition_cols: list[str] | None,
    table_name: str = "",
) -> DataFrame:
    """A2: per-partition row counts in a single aggregation job.

    ``partition_cols`` empty/None → the unpartitioned branch
    (``verizon_automation_script.sh:123-126``): one total-count row with a
    NULL partition spec. Multi-level partitions render as Hive
    ``k1=v1/k2=v2`` specs (fixing the single-level assumption, SURVEY
    §2.8.5).
    """
    if partition_cols:
        out = (
            df.groupBy(partition_spec_col(partition_cols).alias("partition_spec"))
            .agg(F.count(F.lit(1)).alias("row_count"))
        )
    else:
        out = df.agg(F.count(F.lit(1)).alias("row_count")).select(
            F.lit(None).cast("string").alias("partition_spec"), "row_count"
        )
    return out.select(
        F.lit(table_name).alias("table_name"), "partition_spec", "row_count"
    )


def count_reconcile(source_counts: DataFrame, target_counts: DataFrame) -> DataFrame:
    """J1+J2: full-outer alignment on ``(table_name, partition_spec)``.

    Returns one row per key with ``src_count``, ``tgt_count`` and a
    ``status`` column:

    * ``matched``    — both sides present, counts equal (J1 semantics)
    * ``mismatched`` — both present, counts differ
    * ``source_only`` / ``target_only`` — key missing on one side (the
      ``diff`` ``<``/``>`` rows)

    **Contract**: both inputs are COUNT frames — one row per
    ``(table_name, partition_spec)`` key, which every producer in this
    codebase guarantees by construction (:func:`partition_counts` and
    the manifest/streaming twins are all ``groupBy`` outputs). That
    uniqueness is what lets the full-outer alignment run as a
    **union + one grouped aggregation** instead of a join (r19): each
    side contributes its count in its own slot, ``max`` collapses the
    ≤ 2 rows per key, and a side with no row leaves a NULL — exactly
    the full-outer result. Grouping treats NULL keys as equal, so the
    unpartitioned branch's NULL ``partition_spec`` aligns without the
    old form's ``eqNullSafe`` join keys. One exchange instead of the
    sort-merge join's two sorted ones (full-outer cannot broadcast);
    same O(tables × partitions) rows at any scale.
    """
    src = source_counts.select(
        "table_name",
        "partition_spec",
        F.col("row_count").alias("src_count"),
        F.lit(None).cast(source_counts.schema["row_count"].dataType).alias(
            "tgt_count"
        ),
    )
    tgt = target_counts.select(
        "table_name",
        "partition_spec",
        F.lit(None).cast(target_counts.schema["row_count"].dataType).alias(
            "src_count"
        ),
        F.col("row_count").alias("tgt_count"),
    )
    joined = (
        src.unionByName(tgt)
        .groupBy("table_name", "partition_spec")
        .agg(
            F.max("src_count").alias("src_count"),
            F.max("tgt_count").alias("tgt_count"),
        )
    )
    status = (
        F.when(F.col("src_count").isNull(), F.lit("target_only"))
        .when(F.col("tgt_count").isNull(), F.lit("source_only"))
        .when(F.col("src_count") == F.col("tgt_count"), F.lit("matched"))
        .otherwise(F.lit("mismatched"))
    )
    return joined.select(
        "table_name", "partition_spec", "src_count", "tgt_count", status.alias("status")
    )


def matched(reconciled: DataFrame) -> DataFrame:
    """The ``grep -Fxf`` set — feeds UC#2 (``verizon_automation_script.sh:
    179,196-202``)."""
    return reconciled.where(F.col("status") == "matched")


def mismatched(reconciled: DataFrame) -> DataFrame:
    """The ``diff --suppress-common-lines`` set → TableMismatchedData
    report (``verizon_automation_script.sh:170-175``)."""
    return reconciled.where(F.col("status") != "matched")
