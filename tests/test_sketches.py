"""Unit tests for operators/sketches — KMV distinct and count-min.

The load-bearing properties, each pinned here:

* KMV merge EXACTNESS: merging per-split sketches is bit-identical to
  sketching the whole input (any split), so per-partition sketches
  compose incrementally.
* Estimator contract: exact while under-full; within the published
  ~1/sqrt(k-2) error band once full; duplicate rows never move it.
* Count-min one-sided error (never under-counts) and exact counter
  merge across splits.
* Plan shape: the grouped KMV shuffles ONE exchange of survivors (raw
  rows never cross the wire); countmin_build shuffles only the
  partial-aggregated counter grid; countmin_lookup broadcasts the
  sketch side.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hive_scripts_spark.operators import sketches as SK

_SHUFFLE = re.compile(r"(?<!Reused)Exchange (hash|range|Single)")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def ids(spark):
    # 5000 distinct keys, each duplicated twice (10k rows) across
    # many partitions — exercises cross-partition dedup in the sketch.
    return (
        spark.range(0, 10000, 1, 8)
        .select((F.col("id") % 5000).alias("k"))
        .select(F.concat(F.lit("key-"), F.col("k")).alias("k"))
    )


def _rows(sketch):
    return sorted(r["kmv_hash"] for r in sketch.collect())


def test_kmv_sketch_is_k_smallest_distinct(spark, ids):
    got = _rows(SK.kmv_sketch(ids, ["k"], k=64))
    # oracle: exact k smallest distinct hashes via plain DataFrame ops
    exact = [
        r["h"]
        for r in ids.select(
            SK.portable_hash60(SK.sketch_pre_image(["k"])).alias("h")
        )
        .distinct()
        .orderBy("h")
        .limit(64)
        .collect()
    ]
    assert got == exact
    assert len(got) == 64 == len(set(got))


def test_kmv_duplicates_do_not_move_the_sketch(spark, ids):
    once = ids.distinct()
    assert _rows(SK.kmv_sketch(ids, ["k"], k=32)) == _rows(
        SK.kmv_sketch(once, ["k"], k=32)
    )


def test_kmv_merge_equals_whole_input_sketch(spark, ids):
    whole = _rows(SK.kmv_sketch(ids, ["k"], k=48))
    # split on a hash-unrelated predicate; merge of parts == whole
    left = ids.where(F.length("k") <= 7)
    right = ids.where(F.length("k") > 7)
    merged = SK.kmv_merge(
        [SK.kmv_sketch(left, ["k"], k=48), SK.kmv_sketch(right, ["k"], k=48)],
        k=48,
    )
    assert _rows(merged) == whole


def test_kmv_estimate_exact_when_underfull(spark):
    small = spark.range(100).select(F.col("id").cast("string").alias("k"))
    est = SK.kmv_estimate(SK.kmv_sketch(small, ["k"], k=256), k=256).collect()[0]
    assert est["n_hashes"] == 100
    assert est["est_distinct"] == 100.0


def test_kmv_estimate_within_error_band(spark, ids):
    # 5000 true distinct, k=256 → stderr ~ 1/sqrt(254) ≈ 6.3%; assert
    # a generous 4-sigma band (deterministic given the fixed hash).
    est = SK.kmv_estimate(SK.kmv_sketch(ids, ["k"], k=256), k=256).collect()[0]
    assert est["n_hashes"] == 256
    assert abs(est["est_distinct"] - 5000) / 5000 < 0.25


def test_kmv_empty_input(spark):
    empty = spark.range(0).select(F.col("id").cast("string").alias("k"))
    sk = SK.kmv_sketch(empty, ["k"], k=16)
    assert sk.count() == 0
    est = SK.kmv_estimate(sk, k=16).collect()[0]
    assert est["n_hashes"] == 0 and est["est_distinct"] == 0.0


def test_kmv_rejects_degenerate_k(spark, ids):
    with pytest.raises(ValueError):
        SK.kmv_sketch(ids, ["k"], k=1)
    with pytest.raises(ValueError):
        SK.kmv_sketch_grouped(ids, ["k"], ["k"], k=0)


def test_kmv_grouped_matches_per_group_global(spark, ids):
    grouped = ids.select(
        (F.length("k") % 3).cast("int").alias("g"), "k"
    )
    sk = SK.kmv_sketch_grouped(grouped, ["g"], ["k"], k=16)
    by_group = {}
    for r in sk.collect():
        by_group.setdefault(r["g"], []).append(r["kmv_hash"])
    for g in [0, 1, 2]:
        solo = _rows(
            SK.kmv_sketch(grouped.where(F.col("g") == g), ["k"], k=16)
        )
        assert sorted(by_group.get(g, [])) == solo


def test_kmv_grouped_estimates(spark):
    # group 'a': 10 distinct (under-full → exact); 'b': 3 distinct
    rows = [("a", f"v{i}") for i in range(10)] * 2 + [
        ("b", v) for v in ["x", "y", "z"]
    ]
    df = spark.createDataFrame(rows, "g string, k string")
    est = {
        r["g"]: (r["n_hashes"], r["est_distinct"])
        for r in SK.kmv_estimate_grouped(
            SK.kmv_sketch_grouped(df, ["g"], ["k"], k=64), ["g"], k=64
        ).collect()
    }
    assert est == {"a": (10, 10.0), "b": (3, 3.0)}


def test_kmv_grouped_single_survivor_exchange(spark, ids):
    grouped = ids.select((F.length("k") % 3).cast("int").alias("g"), "k")
    plan = _plan(SK.kmv_sketch_grouped(grouped, ["g"], ["k"], k=16))
    # one hashpartitioning exchange (the survivor repartition); the raw
    # rows only ever flow scan → project → local Arrow top-k
    assert len(_SHUFFLE.findall(plan)) == 1, plan


def test_countmin_never_undercounts(spark):
    # skewed stream: key-0 ×500, key-1 ×100, tail of 200 singletons
    rows = (
        [("key-0",)] * 500 + [("key-1",)] * 100 + [(f"t{i}",) for i in range(200)]
    )
    df = spark.createDataFrame(rows, "k string")
    sk = SK.countmin_build(df, "k", depth=4, width=64)
    keys = spark.createDataFrame(
        [("key-0", 500), ("key-1", 100), ("t5", 1), ("absent", 0)],
        "k string, true_n long",
    )
    got = {
        r["k"]: r["est_count"]
        for r in SK.countmin_lookup(sk, keys, "k", depth=4, width=64).collect()
    }
    for k, true_n in [("key-0", 500), ("key-1", 100), ("t5", 1)]:
        assert got[k] >= true_n
    # width 64 over ~202 keys: heavy hitters dominate their buckets
    assert got["key-0"] < 500 + 300  # collisions bounded by tail mass
    # an absent key can only pick up collision mass, never go negative
    assert got["absent"] >= 0


def test_countmin_weighted(spark):
    df = spark.createDataFrame(
        [("a", 10), ("a", 5), ("b", 2)], "k string, w long"
    )
    sk = SK.countmin_build(df, "k", depth=3, width=512, weight_col="w")
    keys = spark.createDataFrame([("a",), ("b",)], "k string")
    got = {
        r["k"]: r["est_count"]
        for r in SK.countmin_lookup(sk, keys, "k", depth=3, width=512).collect()
    }
    assert got["a"] >= 15 and got["b"] >= 2


def test_countmin_merge_equals_whole_build(spark):
    rows = [(f"k{i % 37}",) for i in range(400)]
    df = spark.createDataFrame(rows, "k string")
    # deterministic split on key length ("k0".."k9" vs "k10".."k36")
    left = df.where(F.length("k") == 2)
    right = df.where(F.length("k") == 3)
    whole = SK.countmin_build(df, "k", depth=4, width=128)
    merged = SK.countmin_merge(
        [
            SK.countmin_build(left, "k", depth=4, width=128),
            SK.countmin_build(right, "k", depth=4, width=128),
        ]
    )
    as_map = lambda s: {
        (r["cm_row"], r["cm_bucket"]): r["cm_count"] for r in s.collect()
    }
    assert as_map(merged) == as_map(whole)


def test_countmin_sketch_bounded_and_partial_agg(spark):
    df = spark.range(0, 5000, 1, 8).select(
        F.concat(F.lit("u"), (F.col("id") % 997)).alias("k")
    )
    sk = SK.countmin_build(df, "k", depth=4, width=32)
    assert sk.count() <= 4 * 32
    plan = _plan(sk)
    assert len(_SHUFFLE.findall(plan)) == 1, plan
    assert "partial_sum" in plan or "partial" in plan.lower(), plan


def test_countmin_build_shares_the_block_hash(spark):
    """r17 perf pin: the key's _col_block md5 must evaluate ONCE per
    input row, not once per depth row — Catalyst's subexpression
    elimination does not reach across array elements, so the block is
    projected before the cell array is built. depth+1 md5 calls in
    the plan (1 block + depth salted), not 2·depth; measured 20–26%
    of the build at sf0.1/10M when this regresses."""
    df = spark.range(0, 100, 1, 2).select(
        F.concat(F.lit("u"), F.col("id") % 7).alias("k")
    )
    for depth in (2, 4):
        sk = SK.countmin_build(df, "k", depth=depth, width=32)
        plan = _plan(sk)
        assert plan.count("md5(") == depth + 1, plan


def test_countmin_lookup_broadcasts_sketch(spark):
    df = spark.createDataFrame([("a",), ("b",)], "k string")
    sk = SK.countmin_build(df, "k", depth=2, width=16)
    keys = spark.createDataFrame([("a",)], "k string")
    plan = _plan(SK.countmin_lookup(sk, keys, "k", depth=2, width=16))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan, plan


def test_countmin_rejects_degenerate_dims(spark):
    df = None
    with pytest.raises(ValueError):
        SK.countmin_build(df, "k", depth=0, width=16)
    with pytest.raises(ValueError):
        SK.kmv_merge([])
    with pytest.raises(ValueError):
        SK.countmin_merge([])


def test_kmv_merge_grouped_equals_whole(spark, ids):
    grouped = ids.select((F.length("k") % 3).cast("int").alias("g"), "k")
    whole = SK.kmv_sketch_grouped(grouped, ["g"], ["k"], k=16)
    parts = [
        SK.kmv_sketch_grouped(grouped.where(F.col("k") < "key-3"), ["g"], ["k"], k=16),
        SK.kmv_sketch_grouped(grouped.where(F.col("k") >= "key-3"), ["g"], ["k"], k=16),
    ]
    merged = SK.kmv_merge_grouped(parts, ["g"], k=16)
    as_map = lambda s: {
        g: sorted(h for gg, h in rows if gg == g)
        for rows in [[(r["g"], r["kmv_hash"]) for r in s.collect()]]
        for g in {r[0] for r in rows}
    }
    assert as_map(merged) == as_map(whole)


def test_kmv_pre_image_distinguishes_nulls_and_separators(spark):
    # the raw-concat_ws failure shapes: null-position swaps and
    # separator chars inside values must stay 4 distinct tuples
    rows = [("a", None), (None, "a"), ("a", "b|c"), ("a|b", "c")]
    df = spark.createDataFrame(rows, "c1 string, c2 string")
    est = SK.kmv_estimate(
        SK.kmv_sketch(df, ["c1", "c2"], k=16), k=16
    ).collect()[0]
    assert est["n_hashes"] == 4 and est["est_distinct"] == 4.0


def test_kmv_single_column_null_vs_empty(spark):
    df = spark.createDataFrame([(None,), ("",), ("a",)], "k string")
    est = SK.kmv_estimate(SK.kmv_sketch(df, ["k"], k=16), k=16).collect()[0]
    assert est["n_hashes"] == 3


def test_kmv_null_parity_with_duckdb(spark):
    """The oracle contract on NULLS: Spark's sketch hashes and the
    DuckDB block-twin must agree hash-for-hash on a null-bearing
    column (a raw cast-as-varchar twin diverges: SQL md5 propagates
    NULL)."""
    import duckdb

    df = spark.createDataFrame(
        [(None,), ("",), ("a",), ("b|c",), (None,)], "k string"
    )
    got = sorted(r["kmv_hash"] for r in SK.kmv_sketch(df, ["k"], k=16).collect())
    block = "case when k is null then '<null>' else md5(cast(k as varchar)) end"
    want = sorted(
        r[0]
        for r in duckdb.sql(
            "with t(k) as (values (NULL), (''), ('a'), ('b|c'), (NULL)) "
            f"select distinct cast(('0x' || substr(md5({block}), 1, 15)) "
            "as bigint) from t"
        ).fetchall()
    )
    assert got == want


def test_countmin_null_keys_counted_once_and_match_duckdb(spark):
    import duckdb

    df = spark.createDataFrame(
        [(None,), (None,), ("a",)], "k string"
    )
    sk = {
        (r["cm_row"], r["cm_bucket"]): r["cm_count"]
        for r in SK.countmin_build(df, "k", depth=2, width=32).collect()
    }
    block = "case when k is null then '<null>' else md5(cast(k as varchar)) end"
    want = {
        (r[0], r[1]): r[2]
        for r in duckdb.sql(
            "with t(k) as (values (NULL), (NULL), ('a')), "
            "d(cm_row) as (values (0), (1)) "
            "select cm_row, cast(cast(('0x' || substr(md5("
            f"cast(cm_row as varchar) || ':' || {block}), 1, 15)) "
            "as bigint) % 32 as int) as cm_bucket, "
            "cast(count(*) as bigint) from t, d group by 1, 2"
        ).fetchall()
    }
    assert sk == want


# ---------------------------------------------------------------------------
# digit histogram (quantile sketch)
# ---------------------------------------------------------------------------


def test_digit_hist_hand_computed_buckets(spark):
    df = spark.createDataFrame(
        [(0.0,), (0.5,), (-12.34,), (1013.7,), (999999.0,), (None,)],
        "v double",
    )
    got = {
        (r["sign"], r["decade"], r["sub"]): r["cnt"]
        for r in SK.digit_hist(df, "v", digits=2).collect()
    }
    assert got == {
        (0, 0, 0): 1,        # zero bucket
        (1, 6, 50): 1,       # 0.5 -> "500000"
        (-1, 8, 12): 1,      # -12.34 -> "12340000"
        (1, 10, 10): 1,      # 1013.7 -> "1013700000"
        (1, 12, 99): 1,      # 999999 -> "999999000000"
    }


def test_digit_hist_merge_equals_whole(spark):
    df = spark.range(1, 1001).select((F.col("id") * 1.5).alias("v"))
    whole = SK.digit_hist(df, "v", digits=2)
    parts = [
        SK.digit_hist(df.where(F.col("id") % 2 == 0), "v", digits=2),
        SK.digit_hist(df.where(F.col("id") % 2 == 1), "v", digits=2),
    ]
    as_map = lambda s: {
        (r["sign"], r["decade"], r["sub"]): r["cnt"] for r in s.collect()
    }
    assert as_map(SK.digit_hist_merge(parts)) == as_map(whole)


def test_digit_hist_quantiles_accuracy(spark):
    # uniform 1..10000: true quantile q is ~q*10000; digits=3 bounds
    # relative error at 0.5*10^-2 = 0.5%
    df = spark.range(1, 10001).select(F.col("id").cast("double").alias("v"))
    sk = SK.digit_hist(df, "v", digits=3)
    got = {
        r["q"]: r["est"]
        for r in SK.digit_hist_quantiles(
            sk, [0.25, 0.5, 0.75, 0.9], digits=3
        ).collect()
    }
    for q, true in [(0.25, 2500), (0.5, 5000), (0.75, 7500), (0.9, 9000)]:
        assert abs(got[q] - true) / true < 0.005, (q, got[q])


def test_digit_hist_quantiles_sign_ordering(spark):
    df = spark.createDataFrame(
        [(-100.0,), (-1.0,), (1.0,), (100.0,)], "v double"
    )
    sk = SK.digit_hist(df, "v", digits=2)
    got = {
        r["q"]: (r["sign"], r["decade"], r["sub"], r["est"])
        for r in SK.digit_hist_quantiles(sk, [0.25, 1.0], digits=2).collect()
    }
    # rank 1 of 4 = the most negative value's bucket
    assert got[0.25] == (-1, 9, 10, -105.0)
    assert got[1.0] == (1, 9, 10, 105.0)


def test_digit_hist_rejects_bad_digits(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError):
        SK.digit_hist(df, "v", digits=0)
    with pytest.raises(ValueError):
        SK.digit_hist(df, "v", digits=7)


def test_digit_hist_single_exchange(spark):
    df = spark.range(1, 1001).select((F.col("id") * 1.5).alias("v"))
    plan = _plan(SK.digit_hist(df, "v", digits=2))
    assert len(_SHUFFLE.findall(plan)) == 1, plan


def test_digit_hist_excludes_nan_inf_and_overflow(spark):
    # non-finite and out-of-domain values are excluded like NULLs —
    # without the guard NaN/Inf land in a garbage NULL-decade bucket
    # (skewing every quantile) and 1e35 aborts the ANSI decimal cast
    df = spark.createDataFrame(
        [(float("nan"),), (float("inf",),), (float("-inf"),),
         (1e35,), (-1e35,), (5.0,), (None,)],
        "v double",
    )
    got = {
        (r["sign"], r["decade"], r["sub"]): r["cnt"]
        for r in SK.digit_hist(df, "v", digits=2).collect()
    }
    assert got == {(1, 7, 50): 1}  # only the finite in-domain 5.0


def test_digit_hist_grouped_matches_per_group_global(spark):
    rows = [("a", float(i)) for i in range(1, 101)] + [
        ("b", float(i * 11)) for i in range(1, 31)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    grouped = SK.digit_hist_grouped(df, ["g"], "v", digits=2)
    by_g = {}
    for r in grouped.collect():
        by_g.setdefault(r["g"], {})[(r["sign"], r["decade"], r["sub"])] = r["cnt"]
    for g in ["a", "b"]:
        solo = {
            (r["sign"], r["decade"], r["sub"]): r["cnt"]
            for r in SK.digit_hist(
                df.where(F.col("g") == g), "v", digits=2
            ).collect()
        }
        assert by_g[g] == solo


def test_digit_hist_quantiles_grouped(spark):
    # group 'a': uniform 1..1000 (median ~500); 'b': uniform 1..100
    rows = [("a", float(i)) for i in range(1, 1001)] + [
        ("b", float(i)) for i in range(1, 101)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    sk = SK.digit_hist_grouped(df, ["g"], "v", digits=3)
    got = {
        (r["g"], r["q"]): r["est"]
        for r in SK.digit_hist_quantiles_grouped(
            sk, ["g"], [0.5, 0.9], digits=3
        ).collect()
    }
    assert abs(got[("a", 0.5)] - 500) / 500 < 0.005
    assert abs(got[("a", 0.9)] - 900) / 900 < 0.005
    assert abs(got[("b", 0.5)] - 50) / 50 < 0.02  # 2-digit values: coarser
    assert abs(got[("b", 0.9)] - 90) / 90 < 0.02


def test_digit_hist_merge_refuses_grouped_input(spark):
    rows = [("a", 5.0), ("b", 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    grouped = SK.digit_hist_grouped(df, ["g"], "v")
    with pytest.raises(ValueError, match="digit_hist_merge_grouped"):
        SK.digit_hist_merge([grouped])


def test_digit_hist_merge_grouped_equals_whole(spark):
    rows = [("a", float(i)) for i in range(1, 60)] + [
        ("b", float(i * 3)) for i in range(1, 40)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    whole = SK.digit_hist_grouped(df, ["g"], "v")
    parts = [
        SK.digit_hist_grouped(df.where(F.col("v") <= 50), ["g"], "v"),
        SK.digit_hist_grouped(df.where(F.col("v") > 50), ["g"], "v"),
    ]
    as_map = lambda s: {
        (r["g"], r["sign"], r["decade"], r["sub"]): r["cnt"]
        for r in s.collect()
    }
    assert as_map(SK.digit_hist_merge_grouped(parts, ["g"])) == as_map(whole)


def test_group_cols_reserved_names_rejected(spark):
    df = spark.createDataFrame([("x", 1.0)], "sub string, v double")
    with pytest.raises(ValueError, match="collide"):
        SK.digit_hist_grouped(df, ["sub"], "v")
    df2 = spark.createDataFrame([("x", "y")], "kmv_hash string, k string")
    with pytest.raises(ValueError, match="collide"):
        SK.kmv_sketch_grouped(df2, ["kmv_hash"], ["k"])


def test_countmin_lookup_reserved_key_col_rejected(spark):
    """r17 ADVICE: countmin_lookup projects internal columns NEXT TO
    the caller's key column (unlike countmin_build, which consumes the
    key), so a key named after any of them used to fail with an opaque
    duplicate-column AnalysisException — now a descriptive ValueError,
    mirroring _check_group_cols."""
    sk = SK.countmin_build(
        spark.createDataFrame([("a",)], "k string"), "k", depth=2, width=8
    )
    for bad in ("__cm_block", "cell", "cm_row", "cm_bucket",
                "cm_count", "est_count"):
        keys = spark.createDataFrame([("a",)], f"`{bad}` string")
        with pytest.raises(ValueError, match="collides"):
            SK.countmin_lookup(sk, keys, bad, depth=2, width=8)


def test_kmv_merge_refuses_grouped_input(spark, ids):
    grouped = ids.select((F.length("k") % 3).cast("int").alias("g"), "k")
    sk = SK.kmv_sketch_grouped(grouped, ["g"], ["k"], k=8)
    # a global distinct over (group, hash) rows keeps duplicate hashes
    # and silently inflates the estimate — must refuse loudly
    with pytest.raises(ValueError, match="kmv_merge_grouped"):
        SK.kmv_merge([sk], k=8)


# ---------------------------------------------------------------------------
# ADVICE r14 regressions: k-mismatch guard, weight validation, bigint groups
# ---------------------------------------------------------------------------


def test_kmv_estimate_rejects_smaller_k_than_build(spark, ids):
    """Estimating with a smaller k than the build k used to silently
    take the ratio branch against the wrong kth hash; n_hashes > k is
    impossible for a matching k, so it now raises."""
    sk = SK.kmv_sketch(ids, ["k"], k=256)
    with pytest.raises(Exception, match="k mismatch"):
        SK.kmv_estimate(sk, k=64).collect()


def test_kmv_estimate_grouped_rejects_smaller_k(spark, ids):
    g = ids.withColumn("g", F.lit("a"))
    sk = SK.kmv_sketch_grouped(g, ["g"], ["k"], k=64)
    with pytest.raises(Exception, match="k mismatch"):
        SK.kmv_estimate_grouped(sk, ["g"], k=16).collect()


def test_countmin_rejects_negative_weight(spark):
    """Negative mass breaks the one-sided never-under-counts
    guarantee, so the build fails loudly instead."""
    df = spark.createDataFrame([("a", 10), ("b", -1)], "k string, w long")
    with pytest.raises(Exception, match="non-negative"):
        SK.countmin_build(
            df, "k", depth=2, width=32, weight_col="w"
        ).collect()


def test_countmin_rejects_null_weight(spark):
    """A NULL weight would silently drop its row from the counter sum
    (the key's estimate could then under-count its non-null truth)."""
    df = spark.createDataFrame([("a", 10), ("b", None)], "k string, w long")
    with pytest.raises(Exception, match="non-null"):
        SK.countmin_build(
            df, "k", depth=2, width=32, weight_col="w"
        ).collect()


def test_kmv_grouped_nullable_bigint_groups_beyond_2_53(spark):
    """Arrow->pandas converts a NULLABLE bigint group column to
    float64, where keys differing by 1 above 2^53 collide — two
    distinct groups would merge into one corrupted sketch. The string
    round-trip inside kmv_sketch_grouped must keep them distinct and
    hand back bigint."""
    big = 2**60 + 1  # big and big+1 both round to 2^60 in float64
    rows = [(big, "a"), (big, "b"), (big + 1, "c"), (None, "d")]
    df = spark.createDataFrame(rows, "g long, v string")
    sk = SK.kmv_sketch_grouped(df, ["g"], ["v"], k=8)
    got = {r["g"]: r["count"] for r in sk.groupBy("g").count().collect()}
    assert got == {big: 2, big + 1: 1, None: 1}
    assert dict(sk.dtypes)["g"] == "bigint"


def test_countmin_lookup_reserved_key_col_case_insensitive(spark):
    """r18 ADVICE: the reserved-name check must match the module's
    case-insensitive resolution posture — 'EST_COUNT' collides with the
    est_count alias just as surely as the lowercase form."""
    sk = SK.countmin_build(
        spark.createDataFrame([("a",)], "k string"), "k", depth=2, width=8
    )
    keys = spark.createDataFrame([("a",)], "EST_COUNT string")
    with pytest.raises(ValueError, match="collides"):
        SK.countmin_lookup(sk, keys, "EST_COUNT", depth=2, width=8)


def test_kmv_query_covers_both_estimator_arms(spark):
    """x_kmv_distinct: sf0.001 has 150 distinct custkeys (< k=256, the
    exact under-full branch) and sf0.01 has 1500 (> k, the
    (k-1)*2^60/h_k estimator branch), so the parity run covers both."""
    from hive_scripts_spark.plans.registry import QUERIES

    under = QUERIES["x_kmv_distinct"](spark, "/root/testdata/sf0.001").head()
    over = QUERIES["x_kmv_distinct"](spark, "/root/testdata/sf0.01").head()
    assert under["n_hashes"] < 256
    assert under["est_distinct"] == float(under["n_hashes"])
    assert over["n_hashes"] == 256
    assert over["est_distinct"] != float(over["n_hashes"])


def test_countmin_query_never_underestimates(spark):
    """x_countmin_heavy at sf0.01: every supplier estimate is at least
    its true lineitem frequency (count-min is one-sided)."""
    from hive_scripts_spark.plans.registry import QUERIES
    from hive_scripts_spark.sources.readers import table

    est = QUERIES["x_countmin_heavy"](spark, "/root/testdata/sf0.01")
    true = (
        table(spark, "/root/testdata/sf0.01", "lineitem")
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    joined = est.join(true, "s_suppkey", "left").select(
        "est_count", F.coalesce("true_count", F.lit(0)).alias("true_count")
    )
    assert joined.where(F.col("est_count") < F.col("true_count")).count() == 0


def test_digit_quantile_query_picks_are_value_monotone(spark):
    """x_digit_quantiles at sf0.01: the picked buckets' value order key
    ``sign * (decade*1000 + sub)`` is non-decreasing in q."""
    from hive_scripts_spark.plans.registry import QUERIES

    rows = sorted(
        QUERIES["x_digit_quantiles"](spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r["q"],
    )
    assert [r["q"] for r in rows] == [0.25, 0.5, 0.75, 0.95, 0.99]
    ords = [r["sign"] * (r["decade"] * 1000 + r["sub"]) for r in rows]
    assert ords == sorted(ords)
