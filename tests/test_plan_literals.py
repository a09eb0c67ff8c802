"""plan_literals: the one-parser-call literal builders must be
BIT-identical to the per-element ``F.lit`` forms they replaced (r19
optimization round) — same doubles, same schema, same struct typing.
A repr/parse divergence here would silently shift every literal-model
query (IVF, PQ, portable LSH) off its DuckDB oracle."""

import math
import random
import struct

from pyspark.sql import functions as F

from hive_scripts_spark.functions.plan_literals import (
    lit_doubles,
    lit_struct_array,
    sql_double,
    sql_double_array,
    sql_int,
    sql_struct,
)


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_lit_doubles_bit_identical(spark):
    random.seed(11)
    vals = (
        [0.1, 1e-05, 1e300, 5e-324, -0.0, 0.0, 1.0, -1.5, 2 / 3, math.pi]
        + [random.uniform(-1, 1) for _ in range(200)]
        + [random.random() * 10 ** random.randint(-30, 30) for _ in range(200)]
        + [1.7976931348623157e308, -1.7976931348623157e308]
    )
    df = spark.range(1)
    new = df.select(lit_doubles(vals).alias("a"))
    old = df.select(
        F.array(*[F.lit(float(v)).cast("double") for v in vals]).alias("a")
    )
    got_new = new.collect()[0]["a"]
    got_old = old.collect()[0]["a"]
    assert [_bits(x) for x in got_new] == [_bits(x) for x in got_old]
    assert new.schema == old.schema


def test_lit_doubles_nan_inf(spark):
    got = spark.range(1).select(
        lit_doubles([float("nan"), float("inf"), float("-inf")]).alias("a")
    ).collect()[0]["a"]
    assert math.isnan(got[0]) and got[1] == float("inf") and got[2] == float("-inf")


def test_struct_array_matches_per_element_form(spark):
    random.seed(7)
    planes = [[random.uniform(-0.5, 0.5) for _ in range(16)] for _ in range(5)]
    df = spark.range(1)
    new = df.select(
        lit_struct_array(
            sql_struct(
                cid=sql_int(k),
                c=sql_double_array(p),
                cnorm=sql_double(math.sqrt(sum(x * x for x in p))),
            )
            for k, p in enumerate(planes)
        ).alias("cells")
    )
    old = df.select(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("cid"),
                    F.array(*[F.lit(float(x)).cast("double") for x in p]).alias(
                        "c"
                    ),
                    F.lit(math.sqrt(sum(x * x for x in p)))
                    .cast("double")
                    .alias("cnorm"),
                )
                for k, p in enumerate(planes)
            ]
        ).alias("cells")
    )
    assert new.collect() == old.collect()
    assert new.schema == old.schema


def test_sql_int_typing(spark):
    df = spark.range(1)
    small = df.select(F.expr(sql_int(5)).alias("x"))
    big = df.select(F.expr(sql_int(1 << 40)).alias("x"))
    assert small.schema["x"].dataType.simpleString() == "int"
    assert big.schema["x"].dataType.simpleString() == "bigint"
    assert big.collect()[0]["x"] == 1 << 40
    # signed boundaries (ADVICE r19): the lexer sees the numeral before
    # the unary minus, so both minimums need the min+1-1 rendering to
    # parse at all (LONG_MIN) / keep F.lit's IntegerType (INT_MIN)
    for v, want in [
        (-(1 << 63), "bigint"),
        (-(1 << 31), "int"),
        ((1 << 63) - 1, "bigint"),
        ((1 << 31) - 1, "int"),
        (-(1 << 31) - 1, "bigint"),
    ]:
        col = df.select(F.expr(sql_int(v)).alias("x"))
        assert col.schema["x"].dataType.simpleString() == want, v
        assert col.collect()[0]["x"] == v
    import pytest

    with pytest.raises(ValueError, match="BIGINT range"):
        sql_int(1 << 63)
    with pytest.raises(ValueError, match="BIGINT range"):
        sql_int(-(1 << 63) - 1)


def _hyperplane_signature(vec, bits: int, seed_base: int = 0):
    """The in-row hyperplane signature the literal route replaced (the
    reference it is pinned against): hyperplane h's component for
    dimension i is g(h, i) = ((xxhash64(h, i) % 1000003) / 1000003) −
    0.5, evaluated per row; sig bit h = sign(Σ_i vec[i] * g(h, i))."""

    def _weighted(h):
        # closure factory: keeps the lambda 2-ary (pyspark infers arity)
        def weighted(x, i):
            u = (F.xxhash64(F.lit(h), i) % 1000003 + 1000003) % 1000003
            return x * (u.cast("double") / 1000003.0 - 0.5)

        return weighted

    bit_cols = []
    for h0 in range(bits):
        h = seed_base + h0
        proj = F.aggregate(
            F.zip_with(vec, F.sequence(F.lit(0), F.size(vec) - 1), _weighted(h)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit_cols.append(
            F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), h0)).otherwise(
                F.lit(0).cast("long")
            )
        )
    sig = bit_cols[0]
    for c in bit_cols[1:]:
        sig = sig.bitwiseOR(c)
    return sig


def test_hyperplane_literal_probe_matches_in_row_signature(spark):
    """The r19 probe-then-literal LSH route must emit the SAME pair set
    as the in-row hyperplane expression form it replaced."""
    import hive_scripts_spark.operators.similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    new = S.embedding_near_dup_pairs(emb, threshold=0.35, use_lsh=True)
    staged = S._drop_invalid_vecs(emb, "embedding").select(
        F.col("vec_id"), S._as_double(F.col("embedding")).alias("vec")
    )
    base = staged.select(
        "vec_id", "vec", S.l2_norm(F.col("vec")).alias("norm")
    )
    sigs = [
        F.struct(
            F.lit(t).alias("tbl"),
            _hyperplane_signature(F.col("vec"), bits=4, seed_base=t * 4).alias(
                "sig"
            ),
        )
        for t in range(4)
    ]
    blocked = base.select(
        "vec_id", F.explode(F.array(*sigs)).alias("ts")
    ).select("vec_id", F.col("ts.tbl").alias("tbl"), F.col("ts.sig").alias("sig"))
    lhs = blocked.toDF("a_id", "tbl", "sig")
    rhs = blocked.toDF("b_id", "tbl", "sig")
    cand = (
        lhs.join(rhs, ["tbl", "sig"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    pairs = cand.join(base.toDF("a_id", "a_vec", "a_norm"), "a_id").join(
        base.toDF("b_id", "b_vec", "b_norm"), "b_id"
    )
    sim = F.round(
        S.guarded_div(
            S.dot(F.col("a_vec"), F.col("b_vec")),
            F.col("a_norm") * F.col("b_norm"),
        ),
        6,
    )
    old = pairs.select("a_id", "b_id", sim.alias("cosine_sim")).where(
        F.col("cosine_sim") >= 0.35
    )
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))
