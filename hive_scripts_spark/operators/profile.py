"""Column-level table profiling and drift comparison.

The reference validates migrations by row counts (UC#1) and sampled
content hashes (UC#2). Column profiles are the natural third axis: per
column — null count, distinct count, min/max — compared across the two
databases to localize *which column* drifted (a count-preserving,
hash-breaking mutation shows up here immediately).

One pass per table: all per-column aggregates run in a single
``agg(...)`` (map-side partial), then unpivot to a long
``(column, metric...)`` frame — O(columns) result rows, never a
driver-side loop over data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_scripts_spark.sources.readers import local_frame


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column stats: ``(column, n_rows, n_nulls, n_distinct,
    min_value, max_value)`` — min/max rendered as canonical strings so
    the frame is one homogeneous type across column types.
    """
    columns = columns or df.columns
    aggs: list = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{c}"),
            F.count_distinct(F.col(c)).alias(f"__distinct_{c}"),
            F.min(F.col(c).cast("string")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("string")).alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    # unpivot: one struct per column, exploded to long form
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nulls_{c}").alias("n_nulls"),
                F.col(f"__distinct_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_value"),
                F.col(f"__max_{c}").alias("max_value"),
            )
            for c in columns
        ]
    )
    return wide.select(F.explode_outer(structs).alias("p")).select("p.*")


def profile_drift(
    source: DataFrame, target: DataFrame, columns: list[str] | None = None
) -> DataFrame:
    """Join the two sides' profiles and flag per-column drift.

    ``drift`` lists which metrics disagree (comma-joined, '' when the
    column is identical on both sides) — the report a migration operator
    reads when UC#2 says "inconsistent" and they need to know where.
    """
    sp = profile_table(source, columns)
    tp = profile_table(target, columns)
    s = sp.select(
        "column",
        *[F.col(c).alias(f"src_{c}") for c in sp.columns if c != "column"],
    )
    t = tp.select(
        "column",
        *[F.col(c).alias(f"tgt_{c}") for c in tp.columns if c != "column"],
    )
    joined = s.join(t, "column", "full_outer")
    metrics = ["n_rows", "n_nulls", "n_distinct", "min_value", "max_value"]
    flags = [
        F.when(
            ~F.col(f"src_{m}").eqNullSafe(F.col(f"tgt_{m}")), F.lit(m)
        ).otherwise(F.lit(None))
        for m in metrics
    ]
    drift = F.concat_ws(",", *flags)
    return joined.select(
        "column",
        *[f"src_{m}" for m in metrics],
        *[f"tgt_{m}" for m in metrics],
        drift.alias("drift"),
    )


_SCHEMA_DIFF = T.StructType(
    [T.StructField(c, T.StringType()) for c in ("column", "src_type", "tgt_type", "status")]
)


def schema_diff(src: DataFrame, tgt: DataFrame) -> DataFrame:
    """Column-level schema comparison of two sides of the same logical
    table: ``(column, src_type, tgt_type, status)`` with status ∈
    ``ok | type_mismatch | missing_in_src | missing_in_tgt``.

    Pure metadata (``df.schema`` on the driver — no jobs, no scans): the
    pre-check a validator runs BEFORE counting/fingerprinting, since a
    drifted schema makes row-level comparison meaningless. The result is
    a tiny local frame (:func:`~hive_scripts_spark.sources.readers.
    local_frame`) so it composes with the report sinks like every other
    validation frame.
    """
    s = {f.name: f.dataType.simpleString() for f in src.schema.fields}
    t = {f.name: f.dataType.simpleString() for f in tgt.schema.fields}
    rows = []
    for name in list(s) + [n for n in t if n not in s]:
        st, tt = s.get(name), t.get(name)
        if st is None:
            status = "missing_in_src"
        elif tt is None:
            status = "missing_in_tgt"
        elif st != tt:
            status = "type_mismatch"
        else:
            status = "ok"
        rows.append((name, st, tt, status))
    return local_frame(src.sparkSession, _SCHEMA_DIFF, rows)
