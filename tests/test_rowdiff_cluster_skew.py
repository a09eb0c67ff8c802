"""Row-level diff, connected-components clustering, skew helpers."""

from pyspark.sql import functions as F

from hive_scripts_spark.functions.skew import salted_agg, salted_count, salted_join
from hive_scripts_spark.operators.cluster import connected_components, dedup_components
from hive_scripts_spark.operators.rowdiff import content_diff_counts, row_diff


def _base(spark):
    return spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(100)], "id long, s string, x double"
    )


def test_row_diff_statuses(spark):
    src = _base(spark)
    tgt = (
        src.where("id != 7")  # 7 → source_only
        .withColumn("x", F.when(F.col("id") == 3, 999.0).otherwise(F.col("x")))  # changed
        .unionByName(spark.createDataFrame([(1000, "new", 0.0)], src.schema))  # target_only
    )
    out = {r["id"]: r["diff_status"] for r in row_diff(src, tgt, ["id"]).collect()}
    assert out == {7: "source_only", 3: "changed", 1000: "target_only"}


def test_row_diff_empty_on_identical(spark):
    src = _base(spark)
    assert row_diff(src, _base(spark).repartition(5), ["id"]).count() == 0


def test_content_diff_counts(spark):
    src = _base(spark)
    tgt = src.where("id >= 10")
    got = {r["diff_status"]: r["n_rows"] for r in content_diff_counts(src, tgt, ["id"]).collect()}
    assert got == {"source_only": 10}


def test_connected_components_chain(spark):
    # chain 1-2-3 plus isolated pair 10-11; transitive closure required
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a_id long, b_id long"
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10


def test_dedup_components_transitive(spark):
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(6)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a_id long, b_id long")
    kept = {r["doc_id"] for r in dedup_components(docs, pairs).collect()}
    # 2 AND 3 both collapse into component 1 (single-pass pair-dropping
    # would have kept 3 if only (2,3) named it with 2 already dropped)
    assert kept == {0, 1, 4, 5}


def test_salted_ops_match_plain(spark):
    skewed = spark.range(5000).select(
        F.when(F.col("id") % 10 != 0, F.lit("HOT"))
        .otherwise(F.concat(F.lit("k"), F.col("id") % 3))
        .alias("k"),
        F.col("id"),
    )
    plain = {r["k"]: r["c"] for r in skewed.groupBy("k").agg(F.count("*").alias("c")).collect()}
    salted = {r["k"]: r["row_count"] for r in salted_count(skewed, ["k"], "id").collect()}
    assert salted == plain

    agg = {
        r["k"]: (r["n"], r["mx"])
        for r in salted_agg(
            skewed, ["k"], "id", {"n": ("count", "id"), "mx": ("max", "id")}
        ).collect()
    }
    assert agg["HOT"] == (plain["HOT"], 4999)

    dim = spark.createDataFrame(
        [("HOT", "h")] + [(f"k{i}", f"d{i}") for i in range(3)], "k string, v string"
    )
    assert salted_join(skewed, dim, "k", "id").count() == skewed.join(dim, "k").count()

def test_connected_components_long_path_converges(spark):
    # pointer jumping: a 60-node path resolves well inside the default
    # 10-iteration cap (plain propagation would need ~59 rounds)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "a_id long, b_id long"
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert set(comp.values()) == {0}


def test_eager_local_checkpoint_publishes_observed_metrics(spark):
    """The contract connected_components' convergence check rests on: an
    eager localCheckpoint of an observed frame publishes the
    Observation's metrics. ``Observation.get`` blocks until they arrive,
    so if a Spark upgrade stops publishing them, this test fails within
    its bounded join instead of hanging the suite."""
    import threading

    from pyspark.sql import Observation

    obs = Observation("cc_contract")
    spark.range(5).observe(obs, F.max("id").alias("hi")).localCheckpoint(
        eager=True
    )
    got = {}
    reader = threading.Thread(
        target=lambda: got.update(obs.get), daemon=True
    )
    reader.start()
    reader.join(timeout=60)
    assert not reader.is_alive(), (
        "Observation.get still blocked 60 s after an eager localCheckpoint"
    )
    assert got == {"hi": 4}


def test_connected_components_raises_on_nonconvergence(spark):
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=1)


def test_connected_components_random_graphs_match_union_find(spark):
    # deterministic pseudo-random edge lists; oracle = driver-side
    # union-find with full path compression
    def uf_components(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in nodes}

    for seed in (3, 17, 101):
        edges = []
        x = seed
        for _ in range(120):
            x = (x * 1103515245 + 12345) % (1 << 31)
            a = x % 60
            x = (x * 1103515245 + 12345) % (1 << 31)
            b = x % 60
            if a != b:
                edges.append((min(a, b), max(a, b)))
        nodes = sorted({n for e in edges for n in e})
        pairs = spark.createDataFrame(edges, "a_id long, b_id long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(pairs).collect()
        }
        assert got == uf_components(edges, nodes), f"seed {seed}"


def test_topk_per_group_matches_single_window(spark):
    """Salted two-level top-k must be bit-identical to the naive
    single-window form (which is the oracle SQL for queries built on
    it), including on a hot group and with k > group size."""
    from pyspark.sql.window import Window

    from hive_scripts_spark.functions.skew import topk_per_group

    rows = [(i, "hot" if i % 10 else "cold", f"v{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "id long, grp string, payload string")
    order = [F.md5(F.col("id").cast("string")), F.col("id")]
    for k, salts in [(7, 4), (3, 32), (100, 8)]:
        got = topk_per_group(df, ["grp"], order, k, salt_from="id", salts=salts)
        w = Window.partitionBy("grp").orderBy(*order)
        want = df.withColumn("pick_order", F.row_number().over(w)).where(
            F.col("pick_order") <= k
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), (k, salts)
    # k larger than the cold group (50 rows): every cold row survives
    got = topk_per_group(df, ["grp"], order, 100, salt_from="id", salts=8)
    assert got.where("grp = 'cold'").count() == 50


def test_ensure_parallelism_width_gate(spark, tmp_path):
    """The r20 scale gate: narrow scans widen to the requested
    parallelism, already-wide frames pass through UNCHANGED (no extra
    exchange on a many-file lake), and None/0 stay no-ops."""
    from hive_scripts_spark.functions.skew import ensure_parallelism

    one = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(one)
    narrow = spark.read.parquet(one)
    assert narrow.rdd.getNumPartitions() < 8
    widened = ensure_parallelism(narrow, 8)
    assert widened.rdd.getNumPartitions() == 8
    assert sorted(r["id"] for r in widened.collect()) == list(range(100))

    wide = spark.range(0, 100, 1, 16)
    assert wide.rdd.getNumPartitions() >= 8
    gated = ensure_parallelism(wide, 8)
    # identity: no repartition node added, plan object unchanged
    assert gated is wide
    assert "Exchange" not in gated._sc._jvm.PythonSQLUtils.explainString(
        gated._jdf.queryExecution(), "simple"
    )
    assert ensure_parallelism(wide, None) is wide
