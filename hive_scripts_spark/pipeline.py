"""End-to-end UC#1 → UC#2 validation pipeline (SURVEY §3.1–3.2).

Orchestrates, for a configured list of tables held in two path-prefix
"databases":

1. per-table (and per-partition) row-count reconciliation → matched /
   mismatched report frames (UC#1);
2. for tables whose counts matched: deterministic-sample fingerprint
   comparison → consistent / inconsistent report frame (UC#2);
3. CSV report sinks with headers, under a dated run directory.

**One scan per side.** In hash mode each side of each table is read by
one grouped aggregate that returns the UC#1 row count and the UC#2
sampled fingerprint together
(:func:`~hive_scripts_spark.operators.fingerprint.counts_and_sampled_fingerprint`).
Rows mode (the reference's ``LIMIT n``) keeps its own sample scan of the
tables that matched.

**Each verdict is computed once.** The aggregate rows of both sides are
collected in one action; the ``reconciled`` and ``consistency`` verdicts
are then computed from them and each collected once, sorted by
``(table_name, partition_spec)``. Every collect is bounded: it fetches at
most :data:`VERDICT_ROW_BOUND` + 1 rows and raises
:class:`VerdictTooLargeError` when the bound is passed, instead of
filling the driver. The collected rows come back as local frames
(:func:`~hive_scripts_spark.sources.readers.local_frame`), which the
reports and the CLI's tables and exit code read without re-running a
scan. Nothing is cached: a cached plan would outlive the call in a
long-lived session and could serve a later run stale blocks.

Driver-side iteration is over **table names only** (a dozen strings), and
the rows the driver holds are O(tables × partitions) verdict rows, never
data — every per-row operation stays a distributed DataFrame job, so the
same code path serves 6 fixture tables or a 100 TB lake.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from hive_scripts_spark.config import JobConfig
from hive_scripts_spark.operators.fingerprint import (
    counts_and_sampled_fingerprint,
    fingerprint_reconcile,
    sampled_fingerprint,
)
from hive_scripts_spark.operators.profile import schema_diff
from hive_scripts_spark.operators.reconcile import (
    COUNT_SCHEMA,
    count_reconcile,
    matched,
    mismatched,
    partition_counts,
)
from hive_scripts_spark.sources.readers import load_table, local_frame
from hive_scripts_spark.sources.sinks import run_output_dir, write_report_csv

#: most rows a verdict frame (``reconciled``, ``consistency``) may have;
#: the aggregate rows of both sides may have twice as many. Verdict rows
#: are O(tables × partitions), so a run over this many partitions should
#: be split into runs over fewer tables.
VERDICT_ROW_BOUND = 250_000

_VERDICT_ORDER = ("table_name", "partition_spec")


class VerdictTooLargeError(RuntimeError):
    """A verdict frame has more rows than :data:`VERDICT_ROW_BOUND`."""


@dataclass
class TableSpec:
    """Per-table metadata the reference gets from the Hive metastore."""

    name: str
    partition_cols: list[str] = field(default_factory=list)
    key_cols: list[str] = field(default_factory=list)  # sampling keys; default: all cols


@dataclass
class ValidationResult:
    """Local frames over the collected verdict rows (no scan behind
    them), each sorted by ``(table_name, partition_spec)``."""

    reconciled: DataFrame  # UC#1 full frame (status per table/partition)
    matched: DataFrame
    mismatched: DataFrame
    consistency: DataFrame | None  # UC#2 frame; None when nothing matched
    schema_drift: DataFrame | None = None  # pre-check: non-ok columns only
    reconciled_rows: list[Row] = field(default_factory=list)
    consistency_rows: list[Row] | None = None
    report_dir: str | None = None  # dated run directory of the CSV reports


def _union_all(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _collect_bounded(
    df: DataFrame, what: str, bound: int, order=_VERDICT_ORDER
) -> list[Row]:
    """``df``'s rows sorted by ``order`` (one ordered take, so they arrive
    in one result job); more than ``bound`` rows raise
    :class:`VerdictTooLargeError` before more than ``bound + 1`` reach
    the driver."""
    rows = df.orderBy(*order).limit(bound + 1).collect()
    if len(rows) > bound:
        raise VerdictTooLargeError(
            f"{what} has more than {bound} rows (VERDICT_ROW_BOUND is "
            f"{VERDICT_ROW_BOUND}); validate fewer tables per run"
        )
    return rows


def _materialize(df: DataFrame, what: str) -> tuple[DataFrame, list[Row]]:
    """A verdict frame collected under the bound, as a local frame and
    its rows."""
    rows = _collect_bounded(df, what, VERDICT_ROW_BOUND)
    return local_frame(df.sparkSession, df.schema, rows), rows


def run_validation(
    spark: SparkSession,
    config: JobConfig,
    table_specs: list[TableSpec],
    output_dir: str | None = None,
    sample_fraction: float = 0.10,
    sample_mode: str = "hash",
    sample_rows: int = 10,
) -> ValidationResult:
    """The flagship: UC#1 count reconciliation then UC#2 fingerprints."""
    if sample_mode not in ("hash", "rows"):
        raise ValueError(
            f"unknown sample mode: {sample_mode!r} (use 'hash' or 'rows')"
        )
    hash_mode = sample_mode == "hash"
    sources: dict[str, DataFrame] = {}
    targets: dict[str, DataFrame] = {}
    specs = {s.name: s for s in table_specs}

    # path-prefix lake if configured, else the metastore database named
    # in the reference-format DBName key
    src_db = config.source.path or config.source.db_name
    tgt_db = config.target.path or config.target.db_name
    drift_frames, side_aggs = [], []
    for spec in table_specs:
        src = load_table(spark, src_db, spec.name)
        tgt = load_table(spark, tgt_db, spec.name)
        sources[spec.name], targets[spec.name] = src, tgt
        # schema pre-check: metadata-only; a drifted column makes the
        # row-level comparison meaningless, so surface it alongside
        drift = schema_diff(src, tgt).where(F.col("status") != "ok")
        drift_frames.append(drift.select(F.lit(spec.name).alias("table_name"), "*"))
        keys = spec.key_cols or src.columns
        for side, df in (("src", src), ("tgt", tgt)):
            if hash_mode:
                agg = counts_and_sampled_fingerprint(
                    df, keys, spec.name, spec.partition_cols, sample_fraction
                )
            else:
                agg = partition_counts(df, spec.partition_cols, spec.name)
            side_aggs.append(agg.select(F.lit(side).alias("side"), "*"))
    schema_drift = _union_all(drift_frames)

    # the only scans: every table side's aggregate, in one action; each
    # side becomes its own local frame, and count_reconcile /
    # fingerprint_reconcile align the two with a union + one groupBy
    agg_df = _union_all(side_aggs)
    agg_rows = _collect_bounded(
        agg_df,
        "the aggregate rows of both sides",
        2 * VERDICT_ROW_BOUND,
        ("side", *_VERDICT_ORDER),
    )
    src_agg, tgt_agg = (
        local_frame(spark, agg_df.schema, [r for r in agg_rows if r["side"] == side])
        for side in ("src", "tgt")
    )

    reconciled, reconciled_rows = _materialize(
        count_reconcile(src_agg.select(*COUNT_SCHEMA), tgt_agg.select(*COUNT_SCHEMA)),
        "reconciled",
    )
    match_df, mismatch_df = matched(reconciled), mismatched(reconciled)
    # a filter over a local frame: no job
    matched_tables = sorted({r["table_name"] for r in match_df.collect()})

    consistency = consistency_rows = None
    if matched_tables:
        if hash_mode:
            # the sampled-fingerprint frame: a partition with an empty
            # sample has no row; an unpartitioned table (NULL spec)
            # always has its one global row
            fp_cols = (
                "table_name",
                "partition_spec",
                "fingerprint",
                F.col("sample_rows").alias("row_count"),
            )
            sampled = F.col("partition_spec").isNull() | (F.col("sample_rows") > 0)
            src_fp = src_agg.where(sampled).select(*fp_cols)
            tgt_fp = tgt_agg.where(sampled).select(*fp_cols)
        else:
            src_fps, tgt_fps = [], []
            for name in matched_tables:
                spec = specs[name]
                keys = spec.key_cols or sources[name].columns
                for frames, df in ((src_fps, sources[name]), (tgt_fps, targets[name])):
                    frames.append(
                        sampled_fingerprint(
                            df, keys, name, spec.partition_cols, mode="rows", rows=sample_rows
                        )
                    )
            src_fp, tgt_fp = _union_all(src_fps), _union_all(tgt_fps)
        fp_all = fingerprint_reconcile(src_fp, tgt_fp)
        # UC#2 only judges partitions whose counts matched (the reference
        # iterates the matched file — verizon_automation_script.sh:196-206);
        # null-safe on partition_spec for unpartitioned tables
        mk = match_df.select(
            F.col("table_name").alias("m_table"), F.col("partition_spec").alias("m_spec")
        )
        consistency, consistency_rows = _materialize(
            fp_all.join(
                mk,
                (fp_all["table_name"] == mk["m_table"])
                & fp_all["partition_spec"].eqNullSafe(mk["m_spec"]),
                "left_semi",
            ),
            "consistency",
        )

    report_dir = None
    if output_dir:
        report_dir = run_output_dir(output_dir)
        write_report_csv(match_df, f"{report_dir}/MatchedData")
        write_report_csv(mismatch_df, f"{report_dir}/TableMismatchedData")
        write_report_csv(schema_drift, f"{report_dir}/SchemaDrift")
        if consistency is not None:
            write_report_csv(
                consistency.where(F.col("status") == "inconsistent"),
                f"{report_dir}/TableDataNotConsistent",
            )

    return ValidationResult(
        reconciled,
        match_df,
        mismatch_df,
        consistency,
        schema_drift,
        reconciled_rows,
        consistency_rows,
        report_dir,
    )
