"""Canonical fingerprint properties (SURVEY §5.4): order/partitioning
invariance, perturbation sensitivity, deterministic sampling."""

from pyspark.sql import functions as F

from hive_scripts_spark.functions.canonical import (
    deterministic_sample,
    table_fingerprint,
)
from hive_scripts_spark.operators.fingerprint import (
    fingerprint_reconcile,
    sampled_fingerprint,
)


def _df(spark, mutate=False, shuffle=False):
    rows = [(i, f"v{i}", float(i) * 1.5, i % 4) for i in range(200)]
    if mutate:
        rows[17] = (17, "v17", 999.75, 1)
    if shuffle:
        rows = rows[::-1]
    df = spark.createDataFrame(rows, "id long, s string, x double, p int")
    return df.repartition(7 if shuffle else 3)


def test_fingerprint_order_and_partition_invariant(spark):
    a = table_fingerprint(_df(spark)).collect()[0]
    b = table_fingerprint(_df(spark, shuffle=True)).collect()[0]
    assert a["fingerprint"] == b["fingerprint"]
    assert a["row_count"] == b["row_count"] == 200


def test_fingerprint_detects_single_value_change(spark):
    a = table_fingerprint(_df(spark)).collect()[0]
    b = table_fingerprint(_df(spark, mutate=True)).collect()[0]
    assert a["fingerprint"] != b["fingerprint"]
    assert a["row_count"] == b["row_count"]  # same cardinality, caught by content


def test_fingerprint_null_vs_empty_distinct(spark):
    e = spark.createDataFrame([(1, "")], "id long, s string")
    n = spark.createDataFrame([(1, None)], "id long, s string")
    assert (
        table_fingerprint(e).collect()[0]["fingerprint"]
        != table_fingerprint(n).collect()[0]["fingerprint"]
    )


def test_deterministic_sample_stable_and_aligned(spark):
    s1 = {r["id"] for r in deterministic_sample(_df(spark), ["id"], 0.2).select("id").collect()}
    s2 = {
        r["id"]
        for r in deterministic_sample(_df(spark, shuffle=True), ["id"], 0.2)
        .select("id")
        .collect()
    }
    assert s1 == s2  # same logical rows regardless of layout
    assert 10 <= len(s1) <= 80  # ~20% of 200, loose bounds


def test_sampled_fingerprint_reconcile_flags_only_mutated_partition(spark):
    src = sampled_fingerprint(_df(spark), ["id"], "t", ["p"], fraction=1.0)
    tgt = sampled_fingerprint(_df(spark, mutate=True), ["id"], "t", ["p"], fraction=1.0)
    rec = fingerprint_reconcile(src, tgt)
    status = {r["partition_spec"]: r["status"] for r in rec.collect()}
    assert status["p=1"] == "inconsistent"  # row 17 lives in p=1
    assert all(v == "consistent" for k, v in status.items() if k != "p=1")


def test_reordered_rows_not_flagged(spark):
    # the marks-table scenario (FIXTURES.md): same content, different order
    src = sampled_fingerprint(_df(spark), ["id"], "t", ["p"], fraction=1.0)
    tgt = sampled_fingerprint(_df(spark, shuffle=True), ["id"], "t", ["p"], fraction=1.0)
    rec = fingerprint_reconcile(src, tgt)
    assert {r["status"] for r in rec.collect()} == {"consistent"}


def test_empty_samples_both_sides_consistent(spark):
    # identical empty samples fingerprint to NULL on both sides; the
    # comparison must be null-safe (NULL==NULL would fall through to
    # 'inconsistent' — ADVICE r01)
    empty = _df(spark).where("id < 0")
    src = sampled_fingerprint(empty, ["id"], "t")
    tgt = sampled_fingerprint(empty, ["id"], "t")
    rows = fingerprint_reconcile(src, tgt).collect()
    assert [r["status"] for r in rows] == ["consistent"]


def test_one_sided_empty_sample_inconsistent(spark):
    src = sampled_fingerprint(_df(spark), ["id"], "t", fraction=1.0)
    tgt = sampled_fingerprint(_df(spark).where("id < 0"), ["id"], "t", fraction=1.0)
    rows = fingerprint_reconcile(src, tgt).collect()
    assert [r["status"] for r in rows] == ["inconsistent"]


def test_rows_mode_deterministic_across_ordering(spark):
    # reference-literal LIMIT-n mode: key-ordered, so both sides pick the
    # same logical rows regardless of physical row order
    src = sampled_fingerprint(_df(spark), ["id"], "t", mode="rows", rows=25)
    tgt = sampled_fingerprint(_df(spark, shuffle=True), ["id"], "t", mode="rows", rows=25)
    assert src.collect()[0]["row_count"] == 25
    rows = fingerprint_reconcile(src, tgt).collect()
    assert [r["status"] for r in rows] == ["consistent"]


def test_weighted_sample_probability_and_determinism(spark):
    from pyspark.sql import functions as F

    from hive_scripts_spark.functions.canonical import weighted_sample

    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        # half the rows weight 1.0 (always kept), half weight 0.25
        F.when(F.col("id") % 2 == 0, F.lit(1.0)).otherwise(F.lit(0.25)).alias("w"),
    )
    kept = weighted_sample(df, ["doc_id"], "w")
    # weight 1.0 -> kept with certainty
    assert kept.where("w = 1.0").count() == 2000
    # weight 0.25 -> ~500 of 2000 (md5 is uniform; 5 sigma ~ +/-97)
    frac = kept.where("w = 0.25").count()
    assert 400 <= frac <= 600, frac
    # weight 0 and negative weights keep nothing; >1 clamps to all
    edge = spark.range(0, 100).select(
        F.col("id").alias("doc_id"), F.lit(-3.0).alias("w")
    )
    assert weighted_sample(edge, ["doc_id"], "w").count() == 0
    edge2 = spark.range(0, 100).select(
        F.col("id").alias("doc_id"), F.lit(7.0).alias("w")
    )
    assert weighted_sample(edge2, ["doc_id"], "w").count() == 100
    # deterministic: re-evaluation picks the identical rows
    a = {r["doc_id"] for r in kept.collect()}
    b = {r["doc_id"] for r in weighted_sample(df, ["doc_id"], "w").collect()}
    assert a == b


def test_fingerprint_reconcile_aligns_without_a_join(spark):
    # both inputs are one-row-per-key frames, so the alignment is a union
    # + one groupBy: one exchange, no sort-merge join, and one frame may
    # stand on both sides (a self-join would be ambiguous)
    import re

    x = spark.createDataFrame(
        [("t", f"p={i}", 1000 + i, 10 + i) for i in range(12)],
        "table_name string, partition_spec string, fingerprint long, row_count long",
    )
    rec = fingerprint_reconcile(x, x)
    rows = rec.collect()
    assert len(rows) == 12 and {r["status"] for r in rows} == {"consistent"}
    plan = rec._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"(?<!Reused)Exchange ", final)) == 1
    assert "SortMergeJoin" not in plan
