"""Skew-mitigation helpers (SURVEY §2.9 — 100 TB posture).

AQE's skew-join splitting (on in the session factory) handles most skew
at runtime; these helpers cover the two cases it doesn't:

* **salted aggregation** — a groupBy whose key distribution is so hot
  that even partial aggregation leaves one reducer with most of the
  data (e.g. count by language where 90% is English). Two-phase:
  aggregate on (key, salt) first, then re-aggregate on key — the hot
  key's load spreads over ``salts`` reducers.
* **salted broadcast-side join** — a large⋈small join where the large
  side's key is hot AND the join must shuffle (e.g. the small side is
  too big to broadcast). The small side replicates ``salts`` ways, the
  large side picks a deterministic salt per row.

Salts are deterministic (hash of the row's other columns / a row id),
never ``rand()`` — reruns produce identical partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ensure_parallelism(df: DataFrame, parallelism: int | None) -> DataFrame:
    """Width-gated pre-repartition for CPU-dense map stages (guide
    §2.5 input skew): repartition round-robin to ``parallelism`` ONLY
    when the frame's current plan is narrower than that.

    The single-row-group local testdata scans as ONE task, serializing
    md5/decode/signature stages on one core while the rest idle — the
    repartition buys full-core parallelism there. A many-file lake's
    scan is already wide, and an unconditional repartition would
    shuffle the full payload (text/blob columns) for nothing — the
    exact trade the r19 ngram A/B measured as a 1.7× loss. Gating on
    the observed width keeps the local win and deletes the lake
    regression (VERDICT r19 item 4); ``None`` stays a no-op.

    Width probe: ``df.rdd.getNumPartitions()`` plans the frame (no job
    runs) and reads the physical scan's split count — file listing is
    session-cached, so the probe costs milliseconds.

    Precondition: ``df`` must be scan-rooted — a read, optionally with
    narrow projections and filters on top, and no shuffle. On a
    shuffle-rooted plan the probe reads the static shuffle width
    (``spark.sql.shuffle.partitions``), not the data's, so a narrow
    input behind an exchange silently skips the widening. Call it on
    the caller's input frame, before any join, aggregate or
    repartition is planned on top.
    """
    if not parallelism:
        return df
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism)


def salt_column(deterministic_from: Column | str, salts: int = 16) -> Column:
    """A stable salt in [0, salts) derived from an existing column."""
    c = F.col(deterministic_from) if isinstance(deterministic_from, str) else deterministic_from
    return F.pmod(F.xxhash64(c), F.lit(salts)).cast("int")


def salted_count(
    df: DataFrame,
    group_cols: list[str],
    salt_from: str,
    salts: int = 16,
) -> DataFrame:
    """Two-phase count: groupBy(key, salt) → groupBy(key). Same result as
    a plain count, but the hot key's first-phase load spreads over
    ``salts`` reducers. Returns ``(*group_cols, row_count)``."""
    phase1 = (
        df.withColumn("__salt", salt_column(salt_from, salts))
        .groupBy(*group_cols, "__salt")
        .agg(F.count(F.lit(1)).alias("__partial"))
    )
    return phase1.groupBy(*group_cols).agg(
        F.sum("__partial").cast("bigint").alias("row_count")
    )


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    salt_from: str,
    aggs: dict[str, tuple],
    salts: int = 16,
) -> DataFrame:
    """Two-phase sum/count/min/max aggregation under salting.

    ``aggs`` maps output name → ("sum"|"count"|"min"|"max", column).
    (avg is expressible as sum+count downstream; order-sensitive
    aggregates don't belong under salting.)
    """
    phase1_exprs, phase2_exprs = [], []
    for out, (kind, col) in aggs.items():
        p = f"__p_{out}"
        if kind == "count":
            phase1_exprs.append(F.count(F.col(col)).alias(p))
            phase2_exprs.append(F.sum(p).cast("bigint").alias(out))
        elif kind == "sum":
            phase1_exprs.append(F.sum(F.col(col)).alias(p))
            phase2_exprs.append(F.sum(p).alias(out))
        elif kind == "min":
            phase1_exprs.append(F.min(F.col(col)).alias(p))
            phase2_exprs.append(F.min(p).alias(out))
        elif kind == "max":
            phase1_exprs.append(F.max(F.col(col)).alias(p))
            phase2_exprs.append(F.max(p).alias(out))
        else:
            raise ValueError(f"unsupported salted aggregate: {kind}")
    phase1 = (
        df.withColumn("__salt", salt_column(salt_from, salts))
        .groupBy(*group_cols, "__salt")
        .agg(*phase1_exprs)
    )
    return phase1.groupBy(*group_cols).agg(*phase2_exprs)


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    salt_from: str,
    salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: large side salts deterministically, small
    side replicates across all salts, join key becomes (key, salt)."""
    l = large.withColumn("__salt", salt_column(salt_from, salts))
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    return l.join(s, [on, "__salt"], how).drop("__salt")


def skew_report(
    df: DataFrame, key_cols: list[str], top_n: int = 20
) -> DataFrame:
    """Key-frequency diagnostic for join/agg planning: the ``top_n``
    heaviest key tuples with their row counts and share of the table.

    This is the pre-flight a 100 TB pipeline runs before deciding
    between a plain shuffle, :func:`salted_join`, or AQE skew-join:
    a top key holding >1-2% of rows is the broken-shuffle signature.
    One partial-agg'd groupBy + a ``top_n``-row TakeOrderedAndProject —
    never a full sort. ``share`` is one IEEE divide of exact int counts
    (engine-identical, oracle-comparable).
    """
    total = df.count()  # one lightweight count job; the report is tiny
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    return (
        counts.orderBy(F.col("n_rows").desc(), *key_cols)
        .limit(top_n)
        .withColumn(
            "share", F.col("n_rows").cast("double") / F.lit(float(total))
        )
    )


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column | str],
    k: int,
    salt_from: str,
    salts: int = 32,
    rank_name: str = "pick_order",
) -> DataFrame:
    """EXACT per-group top-``k`` that survives hot groups.

    The natural form — one ``row_number() over (partition by group
    order by ...)`` — puts EVERY row of a hot group into a single
    window partition, and windows get no AQE skew-splitting (the
    straggler shape the r9 review flagged in the line/span keeper
    elections; those were fixable with groupBy-min because they only
    needed rank 1 — top-k needs the window, so it gets the salted
    two-level treatment instead).

    Level 1 ranks within ``(group, salt)`` — the hot group's rows
    spread over ``salts`` window partitions — and keeps each salt's
    local top-k. No candidate is lost: a row in the group's global
    top-k is, a fortiori, in the top-k of its own salt. Level 2 ranks
    the ≤ ``salts * k`` survivors per group on the same key — bounded
    input per window partition regardless of group size. Result:
    exactly the ``k`` first rows per group in ``order_cols`` order,
    with their 1-based global rank as ``rank_name`` — bit-identical to
    the single-window form (which is therefore the correct ORACLE SQL
    for any query built on this: the salt is a physical detail, not a
    semantic one).

    ``order_cols`` must be a total order (include a unique id as the
    last tiebreak) or ranks are nondeterministic. ``salt_from`` feeds
    the deterministic salt (never ``rand()`` — reruns repartition
    identically).
    """
    from pyspark.sql.window import Window

    clash = [
        c
        for c in ("__salt", "__r1", rank_name)
        if c in df.columns and c not in group_cols
    ]
    if clash:
        raise ValueError(
            f"topk_per_group uses columns {clash} which already exist in "
            "the input — rename them first (they would be silently "
            "overwritten mid-plan)"
        )
    order = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    w1 = Window.partitionBy(*group_cols, "__salt").orderBy(*order)
    local = (
        df.withColumn("__salt", salt_column(salt_from, salts))
        .withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= k)
        .drop("__r1")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        local.withColumn(rank_name, F.row_number().over(w2))
        .where(F.col(rank_name) <= k)
        .drop("__salt")
    )
