"""Link-graph authority scoring (PageRank) for crawl curation.

Real crawl pipelines use host-level link authority as a quality prior
(pages on well-linked hosts are likelier to be worth keeping), so this
sits beside the WARC → html_to_text → urls chain: build host→host
edges from extracted anchors, score hosts, join the score back onto
documents as a curation signal.

Two faces, a production face and an engine-portable twin gradable in
DuckDB (as in ``dedup``, where ``minhash_lsh_pairs_portable`` is a thin
wrapper that runs the production pipeline with the md5 hash family):

* :func:`pagerank` — standard double-precision damped PageRank with
  dangling-mass redistribution. Production face; float sums make it
  order-sensitive at the last ulp, so it is NOT hash-gradable.
* :func:`pagerank_portable` — FIXED-POINT INTEGER PageRank: ranks are
  bigint micro-units (``unit = 10^12``), every step is integer
  multiply / integer division (Spark ``div`` ≡ DuckDB ``//`` on
  positive operands), so the result is bit-identical across engines
  and across partitionings — an iterative algorithm made
  DuckDB-gradable, the same move as the repo's decimal accumulators.
  Floor losses leak ≤ 1 micro-unit per node per step (deterministic);
  mass conservation is pinned within that bound in ``test_graph.py``.

Scale notes: each iteration is two keyed equi-joins (edges⋈ranks on
``src``, inflow⋈nodes on ``node``) plus one keyed sum — all map-side
combined; the dangling mass rides a ONE-ROW broadcast equi-join on a
constant key (a hash join, not a nested-loop cartesian). Rank state is
one row per node — far smaller than the edge set — and iteration count
is fixed, so the plan is ``O(iterations)`` joins with no driver-side
data movement (the single node-count scalar is bounded metadata, the
same class as the reconcile counts). ``checkpoint_every`` (default 3)
truncates lineage with localCheckpoint every K iterations — without
it, Catalyst's analysis cost on the nested join tree grows
super-linearly with iteration count (measured: 20 un-truncated
iterations stall plan compilation for minutes); re-derivable state,
the standard iterative-algorithm tradeoff.

Reference parity: the reference engine has no graph surface; this is
part of the training-data-pipeline extension mandate (curation
priors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: fixed-point scale for the portable twin (micro-units per unit mass)
UNIT = 10**12


def _distinct_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def _one_row_broadcast(df: DataFrame, agg_col, alias: str) -> DataFrame:
    """Aggregate to one row and key it with a constant for a broadcast
    equi-join (hash join; never a nested-loop cartesian)."""
    return F.broadcast(
        df.agg(agg_col.alias(alias)).withColumn("_one", F.lit(1))
    )


def pagerank_portable(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    checkpoint_every: int | None = 3,
) -> DataFrame:
    """Fixed-point integer PageRank: ``(node, rank)`` with rank in
    micro-units of ``UNIT = 10^12`` total mass. Bit-identical across
    engines and partitionings — all arithmetic is bigint
    multiply/``div`` on positive operands, and every sum is an integer
    sum. Iteration: ``rank' = (100-d)%·base + d%·(inflow +
    dangling//N)`` with ``base = UNIT//N``, contributions
    ``rank//out_degree`` per out-edge, and the whole dangling mass
    redistributed uniformly."""
    if not 1 <= damping_pct <= 99:
        raise ValueError(f"damping_pct must be in [1, 99]: {damping_pct}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1: {iterations}")
    # the loop-invariant frames (e, nodes, deg) are deliberately NOT
    # persisted: each checkpoint segment executes as one plan, where
    # Catalyst's ReusedExchange dedupes the repeated distinct/agg
    # subtrees — a same-session A/B at 1M edges measured explicit
    # persist() 15–40 % SLOWER (cache materialization overhead beats
    # the recompute it saves; PLANS.md "PageRank scale probe r14")
    e = _distinct_edges(edges, src_col, dst_col)
    nodes = _nodes(e)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    base = UNIT // n
    teleport = ((100 - damping_pct) * base) // 100
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.select("node", F.lit(base).cast("long").alias("rank"))
    for it in range(iterations):
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .select("dst", F.expr("rank div deg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inflow"))
        )
        dangling = _one_row_broadcast(
            ranks.join(deg, ranks["node"] == deg["src"], "left_anti"),
            F.coalesce(F.sum("rank"), F.lit(0)).cast("long"),
            "dang",
        )
        ranks = (
            nodes.join(
                contribs, nodes["node"] == contribs["dst"], "left"
            )
            .withColumn("_one", F.lit(1))
            .join(dangling, "_one")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({damping_pct} * (coalesce(inflow, 0)"
                        f" + (dang div {n}))) div 100"
                    )
                ).cast("long").alias("rank"),
            )
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()
    return ranks


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int | None = 3,
) -> DataFrame:
    """Standard double-precision damped PageRank: ``(node, rank)``
    summing to ~1.0. Same loop shape as the portable twin; float sums
    are order-sensitive at the last ulp, so grade the twin, use this
    in production (no floor leakage, better small-rank resolution)."""
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1): {damping}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1: {iterations}")
    e = _distinct_edges(edges, src_col, dst_col)
    nodes = _nodes(e)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for it in range(iterations):
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .select("dst", (F.col("rank") / F.col("deg")).alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inflow"))
        )
        dangling = _one_row_broadcast(
            ranks.join(deg, ranks["node"] == deg["src"], "left_anti"),
            F.coalesce(F.sum("rank"), F.lit(0.0)),
            "dang",
        )
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .withColumn("_one", F.lit(1))
            .join(dangling, "_one")
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0))
                       + F.col("dang") / F.lit(float(n)))
                ).alias("rank"),
            )
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()
    return ranks
