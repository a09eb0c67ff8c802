"""Canonical row serialization + order-insensitive table fingerprints.

This replaces the reference's UC#2 fingerprint — ``md5sum`` over a
comma-delimited ``LIMIT 10`` export (``verizon_automation_script.sh:
219-238``) — which is broken in three ways the survey documents
(SURVEY §2.8.2-3): the export order is nondeterministic, the byte format
is engine-specific, and only the first output file is hashed. The design
here fixes all three:

* **canonical serialization**: every column is rendered to a
  deterministic string (doubles via ``decimal(38,9)``, timestamps via
  their ISO cast, NULL via an explicit sentinel) and joined with ``\\x01``;
* **order-insensitive aggregation**: per-row md5 → 60-bit int → modular
  SUM (commutative + associative, so partitioning and row order are
  irrelevant). The sum runs in three 20-bit **bigint lanes** (cheap
  whole-stage-codegen long adds, no per-row decimal allocation) and is
  recombined mod 2^61-1 in one ``decimal(38,0)`` expression per group —
  value-identical to a direct decimal sum, lane-overflow-safe to
  2^43 ≈ 8.8×10^12 rows per group;
* **cross-engine reproducible**: the same fingerprint is expressible in
  ANSI SQL (DuckDB oracle) — verified byte-identical in tests.

``xxhash64`` variants are provided for engine-internal use (faster, JVM
whole-stage codegen) where cross-engine parity is not needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_scripts_spark.functions.skew import ensure_parallelism

#: 2^61 - 1 (Mersenne prime) — fingerprint modulus.
FINGERPRINT_MOD = 2305843009213693951

#: sentinel for NULL values in canonical strings (never collides with
#: rendered values, which cannot contain \x00).
NULL_SENTINEL = "\x00"
FIELD_SEP = "\x01"


def _canonical_col(col: Column, dtype: T.DataType) -> Column:
    """Render one column as a deterministic, engine-portable string."""
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        # fixed-point rendering: identical in Spark and DuckDB for values
        # within decimal(38,9); avoids engine-specific float formatting.
        rendered = col.cast("decimal(38,9)").cast("string")
    elif isinstance(dtype, T.ArrayType):
        rendered = F.concat_ws(
            ",", F.transform(col, lambda x: _canonical_col(x, dtype.elementType))
        )
    else:
        rendered = col.cast("string")
    return F.coalesce(rendered, F.lit(NULL_SENTINEL))


def canonical_row_string(df: DataFrame, cols: list[str] | None = None) -> Column:
    """Canonical serialization of a row: columns in **sorted-name order**
    (stable regardless of projection order), ``\\x01``-joined."""
    names = sorted(cols or df.columns)
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    return F.concat_ws(FIELD_SEP, *[_canonical_col(F.col(n), dtypes[n]) for n in names])


def row_hash(df: DataFrame, cols: list[str] | None = None, portable: bool = True) -> Column:
    """Per-row hash of the canonical row string, as ``bigint``.

    ``portable=True`` → md5-prefix, 60-bit (reproducible in any engine
    with md5 — 15 hex chars < 2^60 always fit a bigint);
    ``portable=False`` → ``abs(xxhash64)``, 63-bit (faster, Spark-only).
    """
    s = canonical_row_string(df, cols)
    if portable:
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
    return F.abs(F.xxhash64(s))


def fingerprint_lanes(h: Column) -> list[Column]:
    """The per-row hash ``h`` split into three 20-bit bigint lanes
    ``__p2, __p1, __p0`` (``h = p2·2^40 + p1·2^20 + p0``), to be summed
    per group and recombined by :func:`lane_fingerprint`."""
    lane_mask = F.lit((1 << 20) - 1)
    return [
        F.shiftright(h, 40).alias("__p2"),
        F.shiftright(h, 20).bitwiseAND(lane_mask).alias("__p1"),
        h.bitwiseAND(lane_mask).alias("__p0"),
    ]


def lane_fingerprint() -> Column:
    """Aggregate over the columns of :func:`fingerprint_lanes`: the lane
    sums recombined mod 2^61-1 in one ``decimal(38,0)`` expression per
    group, as ``bigint``. NULL lanes (rows outside a sample) add nothing;
    a group with no non-NULL lane gets a NULL fingerprint."""
    mod = F.lit(FINGERPRINT_MOD).cast("decimal(38,0)")
    dec = lambda c: F.sum(F.col(c)).cast("decimal(38,0)")  # noqa: E731
    return (
        (
            dec("__p2") * F.lit(1 << 40).cast("decimal(38,0)")
            + dec("__p1") * F.lit(1 << 20).cast("decimal(38,0)")
            + dec("__p0")
        )
        % mod
    ).cast("bigint")


def table_fingerprint(
    df: DataFrame,
    cols: list[str] | None = None,
    group_by: list[str] | None = None,
    portable: bool = True,
    parallelism: int | None = None,
) -> DataFrame:
    """Order-insensitive content fingerprint, optionally per group.

    Returns ``[<group cols>,] fingerprint bigint, row_count bigint``. The
    aggregation is a modular sum of per-row hashes — commutative, so the
    result is independent of row order, partition count, and physical
    plan (SURVEY §2.8.2 fix). One shuffle-free map + one (tiny) agg.

    The per-row hash is decomposed into three 20-bit lanes summed as
    plain bigints (value-identical to a decimal sum of the full hash —
    ``h = p2·2^40 + p1·2^20 + p0`` — but codegen-friendly: long adds
    instead of a per-row BigDecimal). One decimal recombine per group.
    Lane sums stay inside bigint up to 2^43 ≈ 8.8e12 rows per group.

    Hashing is CPU-dense per row; when the source has fewer input splits
    than cores (single-row-group files — the local testdata case), pass
    ``parallelism`` to pre-repartition. Width-gated (r20): on a
    many-file lake the scan is already wide and the repartition
    self-disables instead of shuffling the payload.
    """
    df = ensure_parallelism(df, parallelism)
    h = row_hash(df, cols, portable=portable)
    projected = df.select(*(group_by or []), *fingerprint_lanes(h))
    aggs = [
        lane_fingerprint().alias("fingerprint"),
        F.count(F.lit(1)).alias("row_count"),
    ]
    if group_by:
        return projected.groupBy(*group_by).agg(*aggs)
    return projected.agg(*aggs)


def in_hash_sample(
    key_cols: list[str], fraction: float = 0.10, buckets: int = 1000
) -> Column:
    """The predicate of :func:`deterministic_sample`:
    ``md5(key) % buckets < fraction * buckets`` over the ``\\x01``-joined
    key columns."""
    key = F.concat_ws(FIELD_SEP, *[F.col(c).cast("string") for c in key_cols])
    # 15 hex chars < 2^60 — bigint arithmetic (a decimal(38,0) modulo here
    # costs ~2.5x: per-row BigDecimal allocation outside codegen long math)
    bucket = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint") % buckets
    return bucket < int(fraction * buckets)


def deterministic_sample(
    df: DataFrame,
    key_cols: list[str],
    fraction: float = 0.10,
    buckets: int = 1000,
) -> DataFrame:
    """Deterministic hash-mod sample, aligned across engines and runs.

    The reference's ``LIMIT $sampleDataPercentage`` (an absolute row
    count despite the name — SURVEY §2.8.1) without ``ORDER BY`` yields a
    nondeterministic sample, making its UC#2 hash comparison unsound. A
    hash-mod on the row's key columns picks the *same* logical rows on
    both sides regardless of engine, ordering, or partitioning:
    ``md5(key) % buckets < fraction * buckets``.

    Scale note: this is a narrow-dependency filter — no shuffle, pushes
    into the scan's post-filter, and samples every partition uniformly.
    """
    return df.where(in_hash_sample(key_cols, fraction, buckets))


def weighted_sample(
    df: DataFrame,
    key_cols: list[str],
    weight_col,
    buckets: int = 1_000_000,
) -> DataFrame:
    """Deterministic weight-proportional sampling: row kept iff
    ``md5-bucket(key) < floor(clamp(weight, 0, 1) · buckets)`` — an
    independent deterministic Bernoulli(weight) draw per row. This is
    the data-mixing primitive ("sample documents proportional to
    quality/recency/domain weight") that stays reproducible across
    engines, runs, and partitionings, unlike ``sample()`` whose draw
    depends on partition layout. ``weight_col`` may be a column name or
    an arbitrary numeric Column expression.

    Scale note: narrow-dependency filter — no shuffle, evaluated inside
    the scan stage; every partition is sampled independently with the
    same per-row rule.
    """
    key = F.concat_ws(FIELD_SEP, *[F.col(c).cast("string") for c in key_cols])
    bucket = (
        F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint") % buckets
    )
    w = weight_col if not isinstance(weight_col, str) else F.col(weight_col)
    clamped = F.least(F.lit(1.0), F.greatest(F.lit(0.0), w.cast("double")))
    return df.where(bucket < F.floor(clamped * buckets).cast("bigint"))


def limit_sample(df: DataFrame, n: int, order_cols: list[str] | None = None) -> DataFrame:
    """Reference-literal sampling: ``LIMIT n`` (``verizon_automation_
    script.sh:220``), made deterministic by an explicit sort when
    ``order_cols`` is given. Prefer :func:`deterministic_sample`."""
    return (df.orderBy(*order_cols) if order_cols else df).limit(n)


def group_cap(
    df: DataFrame,
    group_cols: list[str],
    n: int,
    order_key: str,
) -> DataFrame:
    """Keep at most ``n`` rows per group, chosen deterministically.

    The curation primitive behind "at most N documents per (lang,
    source)": rows rank inside their group by the portable md5 of
    ``order_key`` (same digest string on any engine — the hash-order
    pick is uniform and reproducible, unlike ``LIMIT`` inside a group),
    with the raw key as tie-break. Emits ``pick_order`` (1-based rank)
    so callers can tighten the cap downstream without re-ranking.

    Scale (r12): delegates to the salted two-level exact top-k
    (:func:`~hive_scripts_spark.functions.skew.topk_per_group`, bit-
    identity-proven against the single-window form in
    ``tests/test_properties.py``) — a hot group's rows rank inside
    ``salts`` window partitions first and only the ≤ ``salts × n``
    local survivors meet a group-keyed window, so per-task input is
    bounded no matter how hot the group. The cap itself still bounds
    what DOWNSTREAM sees; this bounds what the ranking task sees.
    """
    from hive_scripts_spark.functions.skew import topk_per_group

    if "pick_order" in df.columns:
        raise ValueError(
            "group_cap emits a 'pick_order' column; the input already has "
            "one — rename it first (silently overwriting would corrupt it)"
        )
    capped = topk_per_group(
        df,
        group_cols,
        order_cols=[F.md5(F.col(order_key).cast("string")), F.col(order_key)],
        k=n,
        salt_from=order_key,
    )
    return capped.withColumn("pick_order", F.col("pick_order").cast("long"))


def rank_trim(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    order_key: str,
    lo_pct: int = 1,
    hi_pct: int = 99,
    buckets: int = 32,
    broadcast_stats: bool = True,
) -> DataFrame:
    """Drop each group's distribution tails by RANK, not by percentile
    value: keep rows whose 1-based rank ``rn`` (by ``value_col``, ties
    broken by ``order_key``) satisfies
    ``rn*100 > n*lo_pct and rn*100 <= n*hi_pct``.

    The outlier-trim step of a curation run ("cut the shortest 1% and
    longest 1% per language"). Rank bounds are pure bigint arithmetic —
    no percentile interpolation, whose boundary semantics differ
    subtly across engines — so any SQL engine selects the identical
    row set.

    Scale (r12): ranks are EXACT but no window ever partitions on the
    raw group key over the full table — the straggler shape a hot
    group (one language = half the corpus) makes of the naive
    ``row_number() over (partition by group)``. Instead:

    1. per-group ``approx_percentile`` boundaries on ``value_col``
       split each group's value domain into ~``buckets`` ranges
       (boundaries only steer PARTITIONING — the output is invariant
       to where they land, so approx is safe);
    2. rows rank inside ``(group, bucket)`` — a hot group's sort
       shrinks ×``buckets`` (raise ``buckets`` for pathologically
       massive single groups; the prefix array grows with it, the
       output doesn't change) — while per-bucket counts fold into a
       sorted per-group prefix array (≤ ``buckets`` entries,
       broadcast back by default — ``broadcast_stats=False`` for
       group-by-user shapes with millions of groups, where the stats
       frame itself is too large to broadcast);
    3. global rank = bucket prefix + local rank; the trim predicate
       is unchanged bigint arithmetic.

    Equal values share a bucket (bucket = #boundaries < value is
    monotone w.r.t. the (value, order_key) total order), so ranks are
    bit-identical to the single-window form — the identity the
    unchanged DuckDB oracle and ``tests/test_properties.py`` pin. The
    price of skew immunity is two extra aggregate passes over the
    input (boundaries, bucket counts); the heavy sort still happens
    exactly once, now on bounded partitions. A group where ONE value
    holds most rows re-concentrates its bucket — ties are
    indivisible under any order-preserving partitioning; that shape
    needs an upstream tie-break column, not a different trim.

    Degenerate inputs keep window-form parity (pinned in
    ``test_properties``): NULL values bucket to -1 (ahead of every
    boundary — Spark windows order NULLs FIRST asc); NaN buckets to
    the last range (Spark comparisons put NaN above every numeric,
    matching its NaN-last sort order). The bucketed path only engages
    when ``value_col``'s declared type orders the same way its double
    cast does (numeric or timestamp): for any other type the window
    sorts the RAW column, so a value-derived bucket would not be
    monotone w.r.t. the window order (e.g. string ``'10' < '2'`` but
    ``10.0 > 2.0`` — the r12 ADVICE divergence) — those types collapse
    to one bucket per group (NULLs still ahead), trading skew
    spreading (which only numeric trims need in practice) for exact
    window-form parity.
    """
    from pyspark.sql import Window

    clash = [
        c
        for c in ("__rn", "__n", "__bkt", "__pfx", "__bnds", "__cl", "__g0")
        if c in df.columns and c not in group_cols
    ]
    if clash:
        raise ValueError(
            f"rank_trim uses temp columns {clash} which already exist in "
            "the input — rename them first (they would be silently "
            "replaced and then dropped)"
        )
    if not group_cols:
        # degenerate global trim: a constant key keeps one plan shape
        # (an empty using-list would turn the stats join cartesian)
        return rank_trim(
            df.withColumn("__g0", F.lit(0)),
            ["__g0"],
            value_col,
            order_key,
            lo_pct,
            hi_pct,
            buckets,
            broadcast_stats,
        ).drop("__g0")
    # value-derived buckets are only sound when the double cast orders
    # exactly like the raw column the window sorts (numeric, timestamp
    # = epoch seconds). Strings holding numeric text cast fine but sort
    # lexically ('10' < '2' vs 10.0 > 2.0), so ANY other type takes the
    # constant-bucket path: one bucket per group (NULLs ahead), exact
    # but without skew spreading.
    from pyspark.sql.types import NumericType, TimestampType

    cast_monotone = isinstance(
        df.schema[value_col].dataType, (NumericType, TimestampType)
    )
    probs = [i / buckets for i in range(1, buckets)]
    # group frame: count + range boundaries (both partial-agg'd; the
    # result is |groups| rows — curation domains, broadcastable)
    stats_aggs = [F.count(F.lit(1)).alias("__n")]
    if cast_monotone:
        stats_aggs.append(
            F.percentile_approx(
                F.col(value_col).cast("double"), probs
            ).alias("__bnds")
        )
    stats = df.groupBy(*group_cols).agg(*stats_aggs)
    # broadcast_stats=True pins both small-side joins to broadcast so
    # the big side NEVER shuffles on the raw group key — measured: the
    # hint-free form let a shuffle join land on the hot key and the 1M
    # hot-group probe regressed 2.6s -> 5.4s (AQE's runtime BHJ
    # conversion did not rescue it). The hint is the right default for
    # curation domains (|groups| small); ONLY for group-by-user shapes
    # with millions of groups — where the stats frame itself is too
    # big to broadcast — pass broadcast_stats=False and take the
    # shuffle joins (results identical either way; test_parity.py's
    # no-broadcast pass pins strategy-independence).
    hint = F.broadcast if broadcast_stats else (lambda d: d)
    if cast_monotone:
        val = F.col(value_col).cast("double")
        bkt = F.when(
            val.isNull(), F.lit(-1)  # Spark windows order NULLS FIRST
        ).otherwise(F.size(F.filter(F.col("__bnds"), lambda b: b < val)))
    else:
        bkt = F.when(F.col(value_col).isNull(), F.lit(-1)).otherwise(
            F.lit(0)
        )
    bucketed = df.join(hint(stats), group_cols).withColumn("__bkt", bkt)
    # per-(group, bucket) counts -> sorted per-group (bucket, count)
    # array; prefix(b) = rows in earlier buckets, via one groupBy (no
    # raw-group-key window even on the tiny counts frame)
    prefixes = (
        bucketed.groupBy(*group_cols, "__bkt")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(*group_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("__bkt", "__c"))
            ).alias("__cl")
        )
    )
    w = Window.partitionBy(*group_cols, "__bkt").orderBy(
        F.col(value_col), F.col(order_key)
    )
    ranked = (
        bucketed.join(hint(prefixes), group_cols)
        .withColumn(
            "__pfx",
            F.aggregate(
                F.filter(F.col("__cl"), lambda s: s["__bkt"] < F.col("__bkt")),
                F.lit(0).cast("long"),
                lambda acc, s: acc + s["__c"],
            ),
        )
        .withColumn(
            "__rn", F.col("__pfx") + F.row_number().over(w).cast("long")
        )
    )
    return (
        ranked.where(
            (F.col("__rn") * 100 > F.col("__n") * lo_pct)
            & (F.col("__rn") * 100 <= F.col("__n") * hi_pct)
        )
        # using-column joins hoist the keys to the front: restore the
        # caller's column order (and drop the temps) in one projection
        .select(*df.columns)
    )


def train_val_test_split(
    df: DataFrame,
    key_cols: list[str],
    val_pct: int = 5,
    test_pct: int = 5,
    buckets: int = 100,
) -> DataFrame:
    """Deterministic train/val/test assignment: adds a ``split`` column
    from ``md5(key) % buckets`` — the same engine-portable 60-bit
    md5-prefix idiom as :func:`deterministic_sample` /
    :func:`shard_by_hash`, so the assignment is a pure function of the
    row's key: stable across runs, engines, partitionings, and corpus
    growth (a doc never migrates between splits when new data arrives —
    the property random splits lose and eval integrity needs).

    Bucket layout: ``[0, buckets-val-test)`` → train, then val, then
    test. Narrow dependency — no shuffle; the expression pushes into the
    scan projection.

    The key is salted with a ``"split"`` literal so the split bucket is
    independent of :func:`shard_by_hash` over the same key: unsalted,
    both are residues of ONE md5 value, correlated mod
    ``gcd(buckets, n_shards)`` — with the 100/16 defaults each split
    bucket could reach only 4 of 16 shards and val/test shard sizes
    skewed ~2:1 by shard residue class.
    """
    if val_pct < 0 or test_pct < 0 or val_pct + test_pct >= buckets:
        raise ValueError(
            f"invalid split percentages: val={val_pct} test={test_pct} "
            f"of {buckets} buckets leaves no train bucket"
        )
    key = F.concat_ws(
        FIELD_SEP,
        F.lit("split"),
        *[F.col(c).cast("string") for c in key_cols],
    )
    b = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint") % buckets
    train_hi = buckets - val_pct - test_pct
    split = (
        F.when(b < train_hi, F.lit("train"))
        .when(b < train_hi + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def shard_by_hash(
    df: DataFrame, key_cols: list[str], n_shards: int = 16
) -> DataFrame:
    """Deterministic training-shard assignment: adds a ``shard`` column
    ``md5(key) % n_shards`` — the export-side twin of
    :func:`deterministic_sample` (same 60-bit md5-prefix bigint idiom).

    Unlike ``repartition(n)`` (round-robin, run-dependent) the assignment
    is a pure function of the row's key: re-running the export, adding
    machines, or changing input split sizes never moves a document to a
    different shard, so downstream training jobs can resume/diff shards.
    Narrow dependency — the physical write stays one
    ``partitionBy('shard')`` pass with no extra shuffle beyond the sink's.
    """
    key = F.concat_ws(FIELD_SEP, *[F.col(c).cast("string") for c in key_cols])
    shard = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint") % n_shards
    return df.withColumn("shard", shard)


def temperature_weights(
    agg: DataFrame,
    group_col: str = "source",
    tokens_col: str = "total_tokens",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled sampling weights over a pre-aggregated
    per-group token-count frame — the multilingual-LM mixing rule
    (sample group i with probability ∝ share_i^alpha, alpha < 1
    upweighting low-resource groups; alpha=1 is proportional, alpha→0
    uniform). Adds ``token_share``, ``sample_weight``, and
    ``upsample_factor`` (= weight/share — how many epochs of group i
    one epoch of the mixture consumes).

    Runs entirely over the AGGREGATED frame (cardinality = number of
    groups), so the windows are free at any corpus size; the heavy
    token count happens upstream in one map-side-partial exchange.

    Engine-determinism: the default ``alpha=0.5`` uses ``sqrt`` —
    correctly rounded in IEEE 754, so bit-identical across engines,
    unlike ``pow`` whose libm differs (a non-0.5 alpha is fine for
    production but not for cross-engine value grading). The scaled
    shares are 6dp-rounded DECIMALS before the normalizing sum, making
    the sum order-invariant (same discipline as the fingerprint lanes).
    """
    from pyspark.sql import Window

    if alpha == 0.5:
        scaled = F.sqrt(F.col("__share"))
    else:
        scaled = F.pow(F.col("__share"), F.lit(alpha))
    w = Window.partitionBy()  # over the ~|groups| aggregate rows only
    # zero-token groups are dropped up front: they contribute nothing
    # to a token mixture, and share=0 would otherwise make
    # upsample_factor = 0/0 = NaN — which mixture_materialize would
    # silently turn into "every doc of this group vanishes"
    shared = agg.where(F.col(tokens_col) > 0).withColumn(
        "__share",
        F.col(tokens_col) / F.sum(tokens_col).over(w).cast("double"),
    ).withColumn("__scaled", F.round(scaled, 6).cast("decimal(18,6)"))
    weight = F.round(
        F.col("__scaled").cast("double")
        / F.sum("__scaled").over(w).cast("double"),
        6,
    )
    return shared.select(
        group_col,
        *[c for c in agg.columns if c != group_col],
        F.round(F.col("__share"), 6).alias("token_share"),
        weight.alias("sample_weight"),
        F.round(weight / F.col("__share"), 6).alias("upsample_factor"),
    )


def mixture_materialize(
    docs: DataFrame,
    weights: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    scale: float = 1.0,
) -> DataFrame:
    """Materialize one epoch of a temperature mixture: each document
    appears ``floor(f)`` times plus one more for the deterministic
    ``frac(f)`` fraction of its group, where ``f = upsample_factor ×
    scale`` comes from :func:`temperature_weights` — so low-resource
    groups REPEAT (f > 1: epochs of repetition, the standard
    multilingual upsampling) and dominant groups thin out (f < 1:
    hash-stable downsampling). Output ``(id, group, copy_no)``.

    The fractional keep/extra decision is the md5-prefix bucket idiom
    (millionths, integer compare — engine-stable), salted with a
    ``"mix"`` literal so it is independent of the split/shard hashes
    over the same key. Deterministic: same corpus ⇒ byte-identical
    epoch, across runs and engines.

    Scale posture: the weights frame is ~|groups| rows (broadcast
    join); the copy expansion is a generator over a per-row sequence —
    map-only, no shuffle anywhere; output volume is ``scale ×`` corpus
    tokens by construction.
    """
    f = F.col("upsample_factor") * F.lit(float(scale))
    key = F.concat_ws(FIELD_SEP, F.lit("mix"), F.col(id_col).cast("string"))
    b = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint") % 1_000_000
    extra_bar = F.round((f - F.floor(f)) * 1_000_000, 0).cast("bigint")
    n = F.floor(f).cast("bigint") + F.when(b < extra_bar, 1).otherwise(0)
    staged = docs.join(
        F.broadcast(weights.select(group_col, "upsample_factor")), group_col
    ).select(F.col(id_col), F.col(group_col), n.alias("__n"))
    exploded = staged.where(F.col("__n") >= 1).select(
        F.col(id_col),
        F.col(group_col),
        # generators can't nest inside expressions — cast in the next
        # projection
        F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("__n"))).alias(
            "__copy"
        ),
    )
    return exploded.select(
        F.col(id_col),
        F.col(group_col),
        F.col("__copy").cast("int").alias("copy_no"),
    )
