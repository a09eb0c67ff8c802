"""Shuffle-exchange budgets for headline queries, pinned to PLANS.md.

Every row in PLANS.md claims an exchange count; a silent extra shuffle
(a lost broadcast, a new window sort, an optimizer-trap re-evaluation
forcing a repartition) is exactly the regression class that stays
invisible at sf0.01 and hurts at 100 TB. This test counts SHUFFLE
exchanges (``Exchange hashpartitioning/rangepartitioning/
SinglePartition`` — broadcasts excluded, ReusedExchange excluded) in
each query's pre-execution physical plan and fails if any budget is
exceeded. Budgets are ceilings from PLANS.md, not exact counts — AQE
may remove exchanges at runtime, never add them.
"""

import re

import pytest

_SHUFFLE = re.compile(r"(?<!Reused)Exchange (hash|range|Single)")

#: query -> max shuffle exchanges in the planned physical tree
#: (PLANS.md "exchanges" column; +1 where the registered query passes
#: the local-parallelism repartition knob)
BUDGETS = {
    "a4_deterministic_sample": 0,  # narrow filter — any shuffle is a bug
    "g_q6_forecast_revenue": 1,  # single-row final agg merge at most
    "q1_pricing_summary": 1,
    "q2_revenue_by_nation": 1,
    "x_events_hourly": 1,
    "x_train_val_split": 1,
    "x_text_repetition": 0,  # the zero-exchange RLE fold (PLANS trap #4)
    "x_text_entropy": 0,
    # r19: union + one grouped agg replaces the full-outer SMJ (2 per-
    # side count aggs + 1 alignment agg; the join's 2 sorted exchanges
    # and the SMJ are gone — see reconcile.count_reconcile)
    "j2_count_reconcile": 3,
    "a3_table_fingerprint": 2,  # 1 agg + 1 parallelism-knob repartition
    "x_doc_chunk": 0,  # map-only chunking
    "x_dedup_fingerprint": 1,
    # salted two-level exact top-k: salt-level + reduce-level window
    # exchanges, both WindowGroupLimit-bounded (<= cap*salts rows/cell
    # shuffle); assignment is a map-only literal argmax (no exchange)
    "x_cluster_balanced_sample": 2,
    # LSH pipelines (one per hash family — production and portable twin
    # share every stage but the hash): a shuffle added to the shared
    # pipeline, e.g. a stage planned twice behind an exchange, shows here.
    # Counted at sf0.001: the (a_id, b_id) pair-dedup exchange, plus one
    # per self-join branch for the bucket cap's count window and for the
    # hyperplane (tbl, sig) repartition; the candidate and verify joins
    # plan as broadcasts.
    "x_dedup_minhash_lsh": 1,
    "x_dedup_minhash_portable": 1,
    "x_dedup_minhash_bucketcap": 3,
    "x_ann_lsh_pairs": 3,
    "x_ann_lsh_portable": 3,
    "x_dedup_cross_near": 1,
    "x_split_leakage": 1,
    # the blocked cosine-pairs kernel (similarity._blocked_cosine_pairs)
    # behind both queries, counted at sf0.001. x_embed_near_dup: the
    # global row count's SinglePartition merge + the (gi, gj) task
    # grouping. x_dedup_semantic: the kernel's pairs are consumed by
    # connected_components' eager checkpoints while the query is built,
    # so the 5 are the survivor pick over the checkpointed frames (the
    # member/label join's 2 sides, the per-component min, the semi-join's
    # 2 sides).
    "x_embed_near_dup": 2,
    "x_dedup_semantic": 5,
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_exchange_budget(spark, name):
    from hive_scripts_spark.plans.registry import QUERIES

    df = QUERIES[name](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = len(_SHUFFLE.findall(plan))
    assert n <= BUDGETS[name], (
        f"{name}: {n} shuffle exchanges (budget {BUDGETS[name]}) — "
        f"plan grew a shuffle; check PLANS.md and the optimizer traps\n{plan}"
    )


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_g_approx_distinct_within_rsd(spark, sf_dir):
    """`g_approx_distinct` is the registry's one row with no oracle AND
    no portable twin (HLL is engine-specific by nature), so its
    verification lives here (r8 judge item 3): the sketch estimate must
    sit within the configured relative standard deviation of the exact
    count it is computed alongside. Spark's `approx_count_distinct`
    default rsd is 0.05; HLL error is ~normal, so 3·rsd is a ≥99.7%
    envelope — a deterministic-input test failure means the sketch
    wiring broke, not bad luck."""
    from hive_scripts_spark.plans.registry import QUERIES

    row = QUERIES["g_approx_distinct"](spark, sf_dir).collect()[0]
    approx, exact = row["approx_orders"], row["exact_orders"]
    assert exact > 0
    assert abs(approx - exact) / exact <= 3 * 0.05, (
        f"HLL estimate {approx} vs exact {exact} at {sf_dir}: "
        f"relative error {abs(approx - exact) / exact:.4f} > 0.15"
    )


@pytest.mark.parametrize("name", ["x_group_cap", "x_length_trim"])
def test_no_raw_group_key_window(spark, name):
    """r12 de-skew lock: neither curation trim query may plan a window
    function partitioned ONLY on raw group keys over the full table —
    every windowspecdefinition must carry a salt (__salt) or range-
    bucket (__bkt) column, except group_cap's level-2 pass whose input
    is already capped to <= salts*n rows per group (identified by the
    WindowGroupLimit the level-1 filter leaves upstream of it)."""
    import re as _re

    from hive_scripts_spark.plans.registry import QUERIES

    df = QUERIES[name](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().analyzed().toString()
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, f"{name}: expected window functions in the plan"
    unbounded = [
        s
        for s in specs
        if "__salt" not in s and "__bkt" not in s
    ]
    if name == "x_group_cap":
        # level 2 ranks the level-1 survivors: bounded input by
        # construction — allow exactly that one group-keyed spec
        assert len(unbounded) <= 1, (name, unbounded)
    else:
        assert not unbounded, (name, unbounded)
