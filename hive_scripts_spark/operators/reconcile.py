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


def align_sides(src: DataFrame, tgt: DataFrame, **cols: str) -> DataFrame:
    """Full-outer alignment of two frames on ``(table_name,
    partition_spec)`` as a union + one grouped aggregation.

    Each ``out=col`` keyword gives the result a ``src_<out>`` and a
    ``tgt_<out>`` column: that side's ``col``, or NULL where the side has
    no row for the key. **Contract**: each input has at most one row per
    key (a ``groupBy`` output), so ``max`` over a key's ≤ 2 rows only
    collapses each side's value with the other side's NULL slot.
    Grouping treats NULL keys as equal, so an unpartitioned table's NULL
    ``partition_spec`` aligns without ``eqNullSafe`` join keys. One
    exchange and no self-join, where a full-outer join (which cannot
    broadcast) needs a sort-merge join over two.
    """

    def slots(df: DataFrame, own: str) -> DataFrame:
        return df.select(
            "table_name",
            "partition_spec",
            *(
                (F.col(col) if side == own else F.lit(None).cast(df.schema[col].dataType))
                .alias(f"{side}_{out}")
                for out, col in cols.items()
                for side in ("src", "tgt")
            ),
        )

    return (
        slots(src, "src")
        .unionByName(slots(tgt, "tgt"))
        .groupBy("table_name", "partition_spec")
        .agg(
            *(
                F.max(f"{side}_{out}").alias(f"{side}_{out}")
                for out in cols
                for side in ("src", "tgt")
            )
        )
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
    uniqueness is what lets the alignment run as :func:`align_sides`'
    union + one grouped aggregation instead of a join (r19): one
    exchange, same O(tables × partitions) rows at any scale.
    """
    joined = align_sides(source_counts, target_counts, count="row_count")
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
