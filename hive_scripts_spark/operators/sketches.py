"""Mergeable distinct / frequency sketches for incremental statistics.

At 100 TB you cannot re-scan the lake to answer "how many distinct
users landed this quarter" after every daily ingest. The standard
answer is a *mergeable sketch* per partition, persisted at write time
(KB per partition regardless of row count), merged at query time — the
incremental-statistics twin of ``incremental.incremental_count_reconcile``.
Two families here, both keyed on the engine-portable
:func:`~hive_scripts_spark.operators.dedup.portable_hash60` (md5) so
every estimate is exactly reproducible in ANSI SQL (the DuckDB-gradable
sketch family; as with ``minhash_lsh_pairs_portable``, which runs the
production MinHash pipeline with the md5 family, the hash is the only
part that differs: a production deployment would swap ``xxhash64`` in
via the ``hash_fn`` hook for ~3× cheaper hashing at identical plan
shape). Pre-images go
through :func:`sketch_pre_image` — per-column fixed-width md5 blocks
with a NULL sentinel — so distinct tuples never collide the way raw
``concat_ws`` strings do (``('a', NULL)`` vs ``(NULL, 'a')``,
separator characters inside values).

* **KMV (k-minimum-values) distinct sketch** (Bar-Yossef et al. 2002,
  "Counting distinct elements in a data stream"): keep the ``k``
  smallest *distinct* hash values; with hashes uniform on
  ``[0, 2^60)``, the k-th smallest value ``h_(k)`` estimates density,
  giving ``(k-1) * 2^60 / h_(k)`` distinct values (unbiased; relative
  error ~ ``1/sqrt(k-2)``). Merging two sketches = union + keep the
  k smallest — and the merge is EXACT: the merged sketch is
  bit-identical to sketching the concatenated input, so per-partition
  sketches compose associatively across any ingest schedule.
* **Count-min sketch** (Cormode & Muthukrishnan 2005): a
  ``depth × width`` counter grid; each key increments one counter per
  row (independent salted hashes); a point lookup takes the MIN over
  its ``depth`` counters. One-sided error (never under-counts);
  merging = counter-wise sum. The sketch is ``depth × width`` rows
  *independent of input size* — the whole point at scale: the shuffle
  behind :func:`countmin_build` carries at most ``depth × width`` rows
  per map task (map-side partial aggregation), not the key space.

Scale notes (the shapes that survive 100×):

- :func:`kmv_sketch` never shuffles raw hashes: an Arrow
  ``mapInPandas`` pass keeps the k smallest distinct per *partition*
  (bounded memory: one ``k``-long array per task), so the global
  distinct+sort touches at most ``partitions × k`` longs.
- :func:`kmv_sketch_grouped` is the same two-level shape keyed by
  group: local per-(partition, group) top-k first, then ONE hash
  exchange of the ``≤ partitions × groups × k`` survivors, then a
  final per-group merge. Raw rows never cross the wire.
- Estimation (:func:`kmv_estimate`, :func:`countmin_lookup`) runs on
  sketch tables — KB-scale inputs, sub-second at any corpus size.

Reference parity: the reference engine has no sketch surface (its
counts are exact full scans, ``verizon_automation_script.sh:90-130``);
this module is part of the training-data-pipeline extension mandate
(incremental corpus statistics between recrawl merges).
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from hive_scripts_spark.operators.dedup import portable_hash60

#: hash domain size for portable_hash60 (60-bit, always positive)
HASH_SPACE = float(2**60)


def _col_block(c: Column) -> Column:
    """Fixed-width, null-safe, separator-free encoding of one column
    for sketch pre-images: md5 of the value's string form, or the
    6-char sentinel ``<null>`` for NULL (never confusable with 32-char
    hex). Raw ``concat_ws`` pre-images conflate distinct tuples —
    ``('a', NULL)`` vs ``(NULL, 'a')``, ``'a|b'`` vs separate columns
    ``'a','b'`` — which silently biases distinct estimates low; the
    per-column md5 block removes the ambiguity at the cost of one
    extra md5 per column. DuckDB twin: ``case when c is null then
    '<null>' else md5(cast(c as varchar)) end``."""
    return F.when(c.isNull(), F.lit("<null>")).otherwise(
        F.md5(c.cast("string"))
    )


def sketch_pre_image(cols: Sequence[str]) -> Column:
    """Collision-free multi-column pre-image: the concatenation of each
    column's fixed-width :func:`_col_block`. Never NULL (blocks are
    never null), injective on tuples up to md5 collisions."""
    return F.concat(*[_col_block(F.col(c)) for c in cols])


def _hash_col(cols: Sequence[str], hash_fn: Callable[..., Column]) -> Column:
    return hash_fn(sketch_pre_image(cols)).alias("kmv_hash")


#: column names each sketch family projects internally — a group
#: column sharing one would make the plan ambiguous (or, worse, be
#: silently overwritten by a withColumn); per-family so the KMV side
#: does not ban plausible digit-side names like "total" and vice versa
_KMV_RESERVED = frozenset(
    {"kmv_hash", "_rn", "n_hashes", "kth_hash", "est_distinct"}
)
_DIGIT_RESERVED = frozenset(
    {"sign", "decade", "sub", "cnt", "ord", "cum", "total", "q", "b", "est"}
)


def _check_group_cols(
    group_cols: Sequence[str], caller: str, reserved: frozenset
) -> list[str]:
    clash = sorted(set(group_cols) & reserved)
    if clash:
        raise ValueError(
            f"{caller}: group column(s) {clash} collide with this "
            f"sketch family's internal column names {sorted(reserved)} "
            "— rename them before sketching"
        )
    return list(group_cols)


def _union_all(sketches: Sequence[DataFrame], caller: str) -> DataFrame:
    if not sketches:
        raise ValueError(f"{caller} needs at least one sketch")
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged


def _local_topk_distinct(k: int):
    """mapInPandas closure: k smallest distinct int64 values seen in
    this partition, O(batch + k) memory (``np.unique`` sorts, so the
    running state is always the sorted head)."""

    def gen(batches: Iterable) -> Iterator:
        import numpy as np
        import pandas as pd

        best = None
        for pdf in batches:
            vals = pdf["kmv_hash"].dropna().to_numpy(dtype="int64")
            if vals.size == 0:
                continue
            cand = vals if best is None else np.concatenate([best, vals])
            best = np.unique(cand)[:k]
        if best is not None and best.size:
            yield pd.DataFrame({"kmv_hash": best})

    return gen


_SKETCH_SCHEMA = StructType([StructField("kmv_hash", LongType(), False)])


def kmv_sketch(
    df: DataFrame,
    cols: Sequence[str],
    k: int = 256,
    hash_fn: Callable[..., Column] = portable_hash60,
) -> DataFrame:
    """Build a KMV distinct sketch over ``cols``: the ``k`` smallest
    distinct 60-bit hashes, as a ``k``-row table (column ``kmv_hash``,
    ascending values not guaranteed in row order — the sketch is a set).

    Plan shape: JVM-side md5 projection → per-partition Arrow top-k
    (no shuffle, bounded memory) → distinct + ordered limit over the
    ``≤ partitions × k`` survivors. At 100 TB the only full-data work
    is the scan+hash map stage.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2 (k-1 divides the estimate): {k}")
    if not cols:
        raise ValueError("kmv_sketch needs at least one value column")
    hashed = df.select(_hash_col(cols, hash_fn))
    local = hashed.mapInPandas(_local_topk_distinct(k), _SKETCH_SCHEMA)
    return local.distinct().orderBy("kmv_hash").limit(k)


def kmv_merge(sketches: Sequence[DataFrame], k: int = 256) -> DataFrame:
    """Merge KMV sketches (union → distinct → k smallest). Exact: the
    result equals :func:`kmv_sketch` over the concatenated inputs, so
    per-partition sketches compose associatively and incrementally."""
    merged = _union_all(sketches, "kmv_merge")
    extra = set(merged.columns) - {"kmv_hash"}
    if extra:
        raise ValueError(
            f"kmv_merge got grouped sketches (extra columns "
            f"{sorted(extra)}) — use kmv_merge_grouped, or drop the "
            "group columns explicitly: a global distinct over "
            "(group, hash) rows would keep duplicate hashes and "
            "silently inflate the estimate"
        )
    return merged.distinct().orderBy("kmv_hash").limit(k)


def _estimate_expr(k: int) -> Column:
    # under-full sketch (< k hashes) has seen every distinct value:
    # the count IS the exact answer; otherwise the k-th smallest hash
    # (= max of the sketch) estimates density on [0, 2^60).
    # (k-1) * 2^60 is exact in double for any practical k (< 2^53).
    #
    # k-mismatch guard (ADVICE r14): the sketch schema carries no k at
    # the library level, so a sketch estimated with a SMALLER k than it
    # was built with would read as over-full — n_hashes > k is
    # impossible for a matching k, so raise instead of emitting a
    # bogus ratio. The opposite mismatch (built k, estimated with a
    # larger one) is undetectable from the rows alone — a full k-row
    # sketch is indistinguishable from an under-full larger-k one —
    # and silently returns n_hashes as an "exact" count; see the
    # kmv_estimate docstring. The CLI closes both directions via
    # meta.json.
    return F.round(
        F.when(
            F.col("n_hashes") > k,
            F.raise_error(
                F.concat(
                    F.lit("kmv estimate k mismatch: sketch holds "),
                    F.col("n_hashes").cast("string"),
                    F.lit(
                        f" hashes, impossible for k={k}; pass the k "
                        "the sketch was built with"
                    ),
                )
            ).cast("double"),
        )
        .when(F.col("n_hashes") < k, F.col("n_hashes").cast("double"))
        .otherwise(
            F.lit(float(k - 1) * HASH_SPACE)
            / F.col("kth_hash").cast("double")
        ),
        4,
    ).alias("est_distinct")


def kmv_estimate(sketch: DataFrame, k: int = 256) -> DataFrame:
    """Distinct-count estimate from a KMV sketch: one row
    ``(n_hashes, kth_hash, est_distinct)``. Exact (= ``n_hashes``)
    while the sketch is under-full; ``(k-1)*2^60/h_(k)`` once full.
    Runs on a ≤ k-row input — driver-free and constant-time.

    ``k`` MUST be the k the sketch was built with. A smaller k reads
    as an over-full sketch and raises (``n_hashes > k`` is impossible
    for a matching k). A LARGER k is undetectable from the rows — a
    full k-row sketch looks under-full and returns ``n_hashes`` as an
    "exact" count, a large silent underestimate — so callers that
    persist sketches must persist k beside them (the sketch CLI
    records it in ``meta.json`` and refuses mismatched estimates)."""
    agg = sketch.agg(
        F.count("kmv_hash").alias("n_hashes"),
        F.max("kmv_hash").alias("kth_hash"),
    )
    return agg.select("n_hashes", "kth_hash", _estimate_expr(k))


def kmv_sketch_grouped(
    df: DataFrame,
    group_cols: Sequence[str],
    cols: Sequence[str],
    k: int = 64,
    hash_fn: Callable[..., Column] = portable_hash60,
) -> DataFrame:
    """Per-group KMV sketches: ``group_cols… , kmv_hash`` with ≤ k rows
    per group. Two-level plan (the only scalable shape without a JVM
    UDAF): per-(partition, group) Arrow top-k first — raw rows never
    shuffle — then ONE hash exchange of the ``≤ partitions×groups×k``
    survivors and a final per-group merge on co-located groups.

    This is the persist-at-write-time face of incremental distinct
    stats: sketch each ingest batch / partition directory with its
    partition values as ``group_cols``, store the k-row-per-group
    result next to the data, answer any-range distinct queries later
    via :func:`kmv_merge` + :func:`kmv_estimate_grouped` without
    touching the raw rows again.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2 (k-1 divides the estimate): {k}")
    if not cols:
        raise ValueError("kmv_sketch_grouped needs at least one value column")
    group_cols = _check_group_cols(
        group_cols, "kmv_sketch_grouped", _KMV_RESERVED
    )
    hashed = df.select(*group_cols, _hash_col(cols, hash_fn))
    # Arrow→pandas converts a NULLABLE bigint column to float64 (NaN
    # for the nulls), silently rounding group keys above 2^53 so
    # distinct groups could collide in the emitted sketch (ADVICE
    # r14). Long group columns therefore ride through both pandas
    # stages as strings — a lossless round-trip — and are cast back
    # to bigint on the way out. Smaller ints are exact in float64 and
    # strings/decimals never take the float path, so they pass
    # through untouched.
    long_cols = {
        c
        for c in group_cols
        if isinstance(hashed.schema[c].dataType, LongType)
    }
    if long_cols:
        hashed = hashed.select(
            *[
                F.col(c).cast("string").alias(c) if c in long_cols
                else F.col(c)
                for c in group_cols
            ],
            "kmv_hash",
        )
    schema = StructType(
        [hashed.schema[c] for c in group_cols]
        + [StructField("kmv_hash", LongType(), False)]
    )

    def grouped_topk(batches: Iterable) -> Iterator:
        import numpy as np
        import pandas as pd

        best: dict = {}
        for pdf in batches:
            for gvals, sub in pdf.groupby(group_cols, sort=False, dropna=False):
                key = gvals if isinstance(gvals, tuple) else (gvals,)
                vals = sub["kmv_hash"].dropna().to_numpy(dtype="int64")
                if vals.size == 0:
                    continue
                prev = best.get(key)
                cand = vals if prev is None else np.concatenate([prev, vals])
                best[key] = np.unique(cand)[:k]
        for key, arr in best.items():
            out = pd.DataFrame({"kmv_hash": arr})
            for name, val in zip(group_cols, key):
                out[name] = val
            yield out[group_cols + ["kmv_hash"]]

    local = hashed.mapInPandas(grouped_topk, schema)
    out = local.repartition(*group_cols).mapInPandas(grouped_topk, schema)
    if long_cols:
        out = out.select(
            *[
                F.col(c).cast("long").alias(c) if c in long_cols
                else F.col(c)
                for c in group_cols
            ],
            "kmv_hash",
        )
    return out


def kmv_merge_grouped(
    sketches: Sequence[DataFrame], group_cols: Sequence[str], k: int = 64
) -> DataFrame:
    """Merge grouped KMV sketches: union → distinct → k smallest per
    group (row_number window). Exact, like :func:`kmv_merge` — the
    result equals :func:`kmv_sketch_grouped` over the concatenated
    inputs. Input is sketch tables (≤ groups × k rows each), so the
    window runs on KB-scale data regardless of corpus size."""
    from pyspark.sql.window import Window

    group_cols = _check_group_cols(
        group_cols, "kmv_merge_grouped", _KMV_RESERVED
    )
    merged = _union_all(sketches, "kmv_merge_grouped")
    w = Window.partitionBy(*group_cols).orderBy("kmv_hash")
    return (
        merged.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_estimate_grouped(
    sketch: DataFrame, group_cols: Sequence[str], k: int = 64
) -> DataFrame:
    """Per-group distinct estimates from a grouped KMV sketch:
    ``group_cols… , n_hashes, est_distinct`` (same under-full-exact /
    full-ratio estimator as :func:`kmv_estimate`, including its
    k-mismatch contract: a too-small k raises on the first group with
    more than k hashes, a too-large k silently under-estimates — pass
    the build k, persist it beside stored sketches)."""
    group_cols = _check_group_cols(
        group_cols, "kmv_estimate_grouped", _KMV_RESERVED
    )
    agg = sketch.groupBy(*group_cols).agg(
        F.count("kmv_hash").alias("n_hashes"),
        F.max("kmv_hash").alias("kth_hash"),
    )
    return agg.select(*group_cols, "n_hashes", _estimate_expr(k))


# ---------------------------------------------------------------------------
# decimal-digit quantile histogram (DDSketch-flavored)
# ---------------------------------------------------------------------------


def _digit_parts(value_col: str, digits: int, scale: int):
    """(sign, decade, sub) bucket expressions for one value: base-10
    mantissa truncation on the EXACT decimal string. ``decade`` is the
    digit count of ``abs(v)·10^scale`` (= ``floor(log10)+1`` computed
    without any ``log`` — cross-engine libm ``log`` is not correctly
    rounded, so a log-based bucket index could flip at boundaries
    between engines; string length of an exact decimal cannot).
    ``sub`` is the first ``digits`` significant digits. DuckDB twin is
    the same regexp/rpad/substr pipeline over the same decimal cast."""
    vd = F.col(value_col).cast(f"decimal(38,{scale})")
    stripped = F.regexp_replace(
        F.regexp_replace(F.abs(vd).cast("string"), r"[.]", ""), r"^0+", ""
    )
    sign = (
        F.when(vd < 0, -1).when(vd > 0, 1).otherwise(0).cast("int")
    )
    decade = F.length(stripped).cast("int")
    sub = F.when(decade == 0, 0).otherwise(
        F.rpad(F.substring(stripped, 1, digits), digits, "0").cast("int")
    ).cast("int")
    return vd, sign, decade, sub


def digit_hist(
    df: DataFrame, value_col: str, digits: int = 2, scale: int = 6
) -> DataFrame:
    """Mergeable quantile histogram: bucket every non-null value by
    ``(sign, decade, sub)`` — sign, base-10 magnitude, and the first
    ``digits`` significant digits — and count per bucket. Relative
    error of any quantile read from the sketch is ≤ ``0.5·10^(1-digits)``
    for values above the scale floor (``10^-scale``); the sketch is at
    most ``~9·10^(digits-1)`` buckets per decade × ~40 decades,
    independent of row count, so the one groupBy exchange carries
    counters, never values (map-side partial agg). Merge = counter
    sum (:func:`digit_hist_merge`), exact.

    Everything is exact integer/decimal/string arithmetic — no
    ``log()`` — so the bucket index is bit-identical across engines
    (the DuckDB-gradable property; see :func:`_digit_parts`).

    Domain: finite values with ``|v| < 10^31``. NaN, ±Inf, and
    out-of-range values are excluded like NULLs (SQL-aggregate
    semantics — quantiles are over finite in-domain values); without
    the guard they would either abort the job (this repo's sessions
    keep Spark 4's ANSI default, so a decimal-cast overflow THROWS)
    or land in a garbage NULL-decade bucket that skews every
    quantile. The one-decade margin below the decimal(38,scale)
    ceiling keeps boundary values from overflowing inside the cast."""
    return digit_hist_grouped(df, [], value_col, digits=digits, scale=scale)


def digit_hist_merge(sketches: Sequence[DataFrame]) -> DataFrame:
    """Merge GLOBAL digit histograms built with the SAME (digits,
    scale): counter-wise sum. Exact: equals building on the
    concatenated input. Grouped sketches must go through
    :func:`digit_hist_merge_grouped` — this form would silently sum
    counters ACROSS groups; it refuses inputs with extra columns."""
    merged = _union_all(sketches, "digit_hist_merge")
    extra = set(merged.columns) - {"sign", "decade", "sub", "cnt"}
    if extra:
        raise ValueError(
            f"digit_hist_merge got grouped sketches (extra columns "
            f"{sorted(extra)}) — use digit_hist_merge_grouped, or the "
            "merge would silently collapse groups together"
        )
    return digit_hist_merge_grouped([merged], [])


def digit_hist_merge_grouped(
    sketches: Sequence[DataFrame], group_cols: Sequence[str]
) -> DataFrame:
    """Merge grouped digit histograms built with the SAME (digits,
    scale, group_cols): counter-wise sum per (group, bucket). Exact —
    the grouped twin of :func:`digit_hist_merge`, mirroring
    :func:`kmv_merge_grouped`."""
    group_cols = _check_group_cols(
        group_cols, "digit_hist_merge_grouped", _DIGIT_RESERVED
    )
    merged = _union_all(sketches, "digit_hist_merge_grouped")
    return merged.groupBy(*group_cols, "sign", "decade", "sub").agg(
        F.sum("cnt").alias("cnt")
    )


def digit_hist_quantiles(
    sketch: DataFrame,
    qs: Sequence[float],
    digits: int = 2,
    scale: int = 6,
) -> DataFrame:
    """Quantile estimates from a digit histogram: for each ``q`` the
    first bucket (in value order) whose cumulative count reaches
    ``ceil(q·n)``, as ``(q, sign, decade, sub, est)`` — ``est`` is the
    bucket midpoint ``sign·(sub+0.5)·10^(decade-digits-scale)``. The
    bucket choice is exact integer math (gradable); ``est`` is one
    float expression on top. Runs on the ≤ few-thousand-row sketch —
    the singleton-partition windows here sort KB, not data.
    (The grouped form with no group columns — one implementation, so
    the ord encoding / rank rule / finite guard cannot diverge.)"""
    return digit_hist_quantiles_grouped(
        sketch, [], qs, digits=digits, scale=scale
    )

def digit_hist_grouped(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    digits: int = 2,
    scale: int = 6,
) -> DataFrame:
    """Per-group digit histograms: ``group_cols…, sign, decade, sub,
    cnt`` — per-language length quantiles, per-host fetch-latency
    percentiles. Same single keyed-sum exchange as the global form
    (the group columns just widen the key); same finite-domain
    exclusions. This is THE implementation — :func:`digit_hist` is the
    empty-group special case."""
    if not 1 <= digits <= 6:
        raise ValueError(f"digits must be in [1, 6]: {digits}")
    group_cols = _check_group_cols(
        group_cols, "digit_hist_grouped", _DIGIT_RESERVED
    )
    vd, sign, decade, sub = _digit_parts(value_col, digits, scale)
    vdbl = F.col(value_col).cast("double")
    finite = (
        F.col(value_col).isNotNull()
        & ~F.isnan(vdbl)
        & (F.abs(vdbl) < F.lit(1e31))
    )
    return (
        df.where(finite)
        .select(
            *group_cols,
            sign.alias("sign"),
            decade.alias("decade"),
            sub.alias("sub"),
        )
        .groupBy(*group_cols, "sign", "decade", "sub")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def digit_hist_quantiles_grouped(
    sketch: DataFrame,
    group_cols: Sequence[str],
    qs: Sequence[float],
    digits: int = 2,
    scale: int = 6,
) -> DataFrame:
    """Per-group quantile picks from a grouped digit histogram:
    ``group_cols…, q, sign, decade, sub, est`` — the grouped twin of
    :func:`digit_hist_quantiles`, with the cumulative windows
    partitioned by group (one keyed sort over the KB-scale sketch).
    This is THE implementation — the global reader is the empty-group
    special case."""
    from pyspark.sql.window import Window

    group_cols = _check_group_cols(
        group_cols, "digit_hist_quantiles_grouped", _DIGIT_RESERVED
    )
    ordk = (
        F.col("sign")
        * (F.col("decade") * (10 ** (digits + 1)) + F.col("sub"))
    ).alias("ord")
    w = Window.partitionBy(*group_cols).orderBy("ord")
    ranked = (
        sketch.select(*group_cols, "sign", "decade", "sub", "cnt", ordk)
        .withColumn(
            "cum",
            F.sum("cnt").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "total",
            F.sum("cnt").over(
                w.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    qcol = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    eligible = ranked.select("*", qcol).where(
        F.col("cum") >= F.ceil(F.col("q") * F.col("total"))
    )
    pick = eligible.groupBy(*group_cols, "q").agg(
        F.min_by(F.struct("sign", "decade", "sub"), F.col("ord")).alias("b")
    )
    est = (
        F.col("b.sign").cast("double")
        * (F.col("b.sub") + F.lit(0.5))
        * F.pow(F.lit(10.0), F.col("b.decade") - F.lit(digits + scale))
    )
    return pick.select(
        *group_cols,
        "q",
        F.col("b.sign").alias("sign"),
        F.col("b.decade").alias("decade"),
        F.col("b.sub").alias("sub"),
        est.alias("est"),
    )


# ---------------------------------------------------------------------------
# count-min
# ---------------------------------------------------------------------------


def _cm_cells(
    block: Column, depth: int, width: int, hash_fn: Callable[..., Column]
) -> Column:
    """The (cm_row, cm_bucket) cell array for one key's
    :func:`_col_block` — the build / lookup compatibility contract,
    shared so the salting scheme can never diverge between the two.
    Each row d salts the block with ``"{d}:"``; portable_hash60 is
    always positive, so ``%`` agrees between Spark and DuckDB
    (documented on the hash). NULL keys hash via the block sentinel —
    both engines count all NULLs as one key.

    Takes the block COLUMN, not the raw key: callers project
    ``_col_block(key)`` once before building the array — inlining it
    here made every depth row recompute the inner md5 (Catalyst's
    subexpression elimination does not reach across array elements;
    measured 20% of the 4×256 build at sf0.1). Hash values are
    identical either way — this is purely where the block evaluates."""
    return F.array(
        *[
            F.struct(
                F.lit(d).cast("int").alias("cm_row"),
                (hash_fn(F.concat(F.lit(f"{d}:"), block)) % width)
                .cast("int")
                .alias("cm_bucket"),
            )
            for d in range(depth)
        ]
    )


def countmin_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
    hash_fn: Callable[..., Column] = portable_hash60,
) -> DataFrame:
    """Build a count-min sketch over ``key_col``: a
    ``(cm_row, cm_bucket, cm_count)`` table of ≤ ``depth × width``
    rows, independent of input size. Each input row (or its
    ``weight_col``) lands in one bucket per sketch row via independent
    salted hashes; map-side partial aggregation bounds the shuffle at
    ``depth × width`` rows per task, so at 100 TB the exchange carries
    counters, never keys.

    ``weight_col`` values must be non-null and non-negative — the
    one-sided ``estimate >= truth`` guarantee of
    :func:`countmin_lookup` holds only for non-negative mass, and a
    NULL would silently vanish from the sum — so violations raise at
    execution time rather than corrupting the sketch."""
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1: {depth}x{width}")
    key = F.col(key_col)
    if weight_col:
        # weight validation (ADVICE r14): the one-sided "never
        # under-counts" guarantee requires non-negative weights (min
        # over counters can dip below true mass otherwise), and a NULL
        # weight would silently drop its row from F.sum — so both fail
        # loudly at execution instead of corrupting the sketch. A null
        # here also catches a weight column whose cast to long failed.
        w = F.col(weight_col).cast("long")
        weight = F.when(
            w.isNull() | (w < 0),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"countmin_build: weight_col {weight_col!r} "
                        "must be non-null and non-negative, got "
                    ),
                    F.coalesce(
                        F.col(weight_col).cast("string"), F.lit("NULL")
                    ),
                )
            ).cast("long"),
        ).otherwise(w)
    else:
        weight = F.lit(1).cast("long")
    cells = _cm_cells(F.col("__cm_block"), depth, width, hash_fn)
    return (
        df.select(_col_block(key).alias("__cm_block"), weight.alias("w"))
        .select(F.explode(cells).alias("cell"), "w")
        .groupBy(
            F.col("cell.cm_row").alias("cm_row"),
            F.col("cell.cm_bucket").alias("cm_bucket"),
        )
        .agg(F.sum("w").alias("cm_count"))
    )


def countmin_merge(sketches: Sequence[DataFrame]) -> DataFrame:
    """Merge count-min sketches built with the SAME (depth, width,
    hash): counter-wise sum. Exact: equals building on the
    concatenated input."""
    merged = _union_all(sketches, "countmin_merge")
    return merged.groupBy("cm_row", "cm_bucket").agg(
        F.sum("cm_count").alias("cm_count")
    )


def countmin_lookup(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    hash_fn: Callable[..., Column] = portable_hash60,
) -> DataFrame:
    """Point-estimate frequencies for ``keys`` from a count-min sketch:
    ``(key_col, est_count)`` with ``est_count = min`` over the key's
    ``depth`` counters (missing bucket = 0). One-sided error:
    ``est_count >= true count`` always. The sketch side is ≤
    ``depth × width`` rows — broadcast it, so the probe never
    shuffles."""
    # the probe plan projects these internal names NEXT TO the caller's
    # key column (unlike countmin_build, which consumes the key into
    # the block projection), so a key_col reusing one would yield
    # duplicate/ambiguous columns and an opaque AnalysisException —
    # fail descriptively instead, mirroring _check_group_cols
    # (ADVICE r17)
    reserved = frozenset(
        {"__cm_block", "cell", "cm_row", "cm_bucket", "cm_count",
         "est_count"}
    )
    # case-insensitive (ADVICE r18): the module assumes the
    # spark.sql.caseSensitive=false default everywhere else, so an
    # 'EST_COUNT' key would pass a sensitive check yet still collide
    # with the est_count alias at resolution time
    if key_col.lower() in reserved:
        raise ValueError(
            f"countmin_lookup: key_col {key_col!r} collides with this "
            f"sketch family's internal column names {sorted(reserved)} "
            "— rename it before probing"
        )
    key = F.col(key_col)
    cells = _cm_cells(F.col("__cm_block"), depth, width, hash_fn)
    probes = (
        keys.select(key, _col_block(key).alias("__cm_block"))
        .select(key, F.explode(cells).alias("cell"))
        .select(
            key_col,
            F.col("cell.cm_row").alias("cm_row"),
            F.col("cell.cm_bucket").alias("cm_bucket"),
        )
    )
    joined = probes.join(
        F.broadcast(sketch), on=["cm_row", "cm_bucket"], how="left"
    )
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("cm_count"), F.lit(0))).alias("est_count")
    )
