"""Similarity search over embedding columns (SURVEY §2.9 — north star).

Input model: ``embeddings(vec_id bigint, embedding array<float>, label int)``
— embeddings are first-class array columns, no UDT. Two tiers:

* **brute-force cosine top-k** — the exactness baseline: equi-free join of
  queries × corpus with the dot product as a JVM higher-order-function
  fold (``zip_with`` + ``aggregate``), ranked per query by a window. The
  query side is tiny → broadcast; the corpus streams partition-parallel,
  so cost is O(|queries| × |corpus|) FLOPs but O(|corpus|) shuffle-free
  scan at any scale.
* **LSH-bucketed ANN** — the scale path: random-hyperplane signatures
  (deterministic seeded hashes, no ``rand()``) bucket the corpus; queries
  probe only their own bucket(s). Recall/latency trades via bits and
  probes. An IVF variant (k-means coarse quantizer) can slot in the same
  bucket-join shape.

All arithmetic is done in **double** with a fixed fold order so results
are reproducible and oracle-comparable (DuckDB computes the same fold).
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_scripts_spark.functions.plan_literals import (
    lit_doubles,
    lit_struct_array,
    sql_double,
    sql_double_array,
    sql_int,
    sql_struct,
)
from hive_scripts_spark.functions.skew import ensure_parallelism


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _drop_invalid_vecs(df: DataFrame, vec_col: str) -> DataFrame:
    """Exclude null/empty embedding rows at staging — a missing
    embedding can never be a neighbor, a duplicate, or a training
    point, and letting one through crashes the numpy matmul paths
    (``np.array(None)`` → object array) and the per-element size
    divides. The predicate pushes to the parquet scan. Dimension
    uniformity among the surviving rows remains the table's schema
    contract (a ragged table is data corruption, not an edge case —
    the numpy paths fail loudly on it by design)."""
    c = F.col(vec_col)
    return df.where(c.isNotNull() & (F.size(c) > 0))


def seq_cosine(q: list[float], c: list[float]) -> float:
    """Driver-side cosine with the EXACT sequential float64 operand
    order + 6dp round the engines' folds use — the determinism-critical
    replay shared by probe selection (:func:`ivfpq_search_codes`),
    model fitting (:func:`train_ivfpq_model`), and the registered
    queries' model construction. One definition on purpose: a rounding
    or accumulation-order fix applied to a private copy would silently
    de-synchronize encode, search, and oracle."""
    import math

    dp = dq = dc = 0.0
    for a, b in zip(q, c):
        dp += a * b
        dq += a * a
        dc += b * b
    return round(dp / (math.sqrt(dq) * math.sqrt(dc)), 6)


def dot(a, b):
    """Sequential-fold dot product (deterministic order, double precision)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def guarded_div(num, den):
    """``num / den`` with the zero-divisor edge pinned to 0.0.

    A zero-norm vector makes every raw cosine divide either an ANSI
    ``DIVIDE_BY_ZERO`` error (Spark 4 default) or a NaN that Spark
    orders ABOVE every number — so it would rank as the #1 neighbor in
    every top-k window and pass every ``>= threshold`` gate.
    ``try_divide`` returns NULL on a zero divisor; coalesce/nanvl map
    NULL and NaN to 0.0, the same convention as the numpy paths (zero
    norms mapped to inf → sim 0). For any non-zero divisor this is
    bit-identical to the plain IEEE divide, so oracle parity is
    untouched.

    **NULL-numerator caveat**: the same coalesce maps a NULL ``num``
    (a null/empty vector operand upstream) to 0.0 — a valid-LOOKING
    score. Callers must therefore stage their frames through
    :func:`_drop_invalid_vecs` BEFORE scoring (every scoring path in
    this module does); this helper deliberately does not distinguish
    "zero norm" from "missing input" because by contract missing
    inputs never reach it."""
    return F.nanvl(F.coalesce(F.try_divide(num, den), F.lit(0.0)), F.lit(0.0))


def cosine(a, b):
    """cosine = dot / (|a| * |b|); computed dot-first, same shape as the
    DuckDB oracle expression so values match to the ULP (rounded to 6dp
    at the query surface; zero-norm edge via :func:`guarded_div`)."""
    return guarded_div(dot(a, b), l2_norm(a) * l2_norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` is expected small (it is broadcast). Rank ties break by
    neighbor id — fully deterministic output. Returns
    ``(query_id, neighbor_id, cosine_sim, rank)``.

    Both sides stage through :func:`_drop_invalid_vecs`: a null/empty
    embedding can never be a neighbor (unfiltered, its NULL dot would
    coalesce to cosine 0.0 in :func:`guarded_div` and outrank genuine
    negative-similarity neighbors), and a null/empty query has no
    neighbor list at all — the module-wide convention.
    """
    from pyspark.sql import Window

    # norms staged per SIDE before the pair join (r19, the fold-economy
    # posture embedding_near_dup_pairs documents): join attributes are
    # never inlined back into the consumer, so each row's norm folds
    # once — scoring a pair costs ONE dot fold + a divide instead of
    # the three folds of an inline cosine() re-evaluated per pair.
    # sqrt-of-the-same-fold either way: values are bit-identical.
    q = _drop_invalid_vecs(queries, vec_col).select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q_vec")
    )
    q = q.select("query_id", "q_vec", l2_norm(F.col("q_vec")).alias("q_norm"))
    c = _drop_invalid_vecs(embeddings, vec_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("c_vec")
    )
    c = c.select(
        "neighbor_id", "c_vec", l2_norm(F.col("c_vec")).alias("c_norm")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                guarded_div(
                    dot(F.col("q_vec"), F.col("c_vec")),
                    F.col("q_norm") * F.col("c_norm"),
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_lsh: bool = True,
    lsh_tables: int = 4,
    lsh_bits: int = 4,
    max_docs: int | None = 100_000,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    With ``use_lsh`` the candidate set is blocked by banded random-
    hyperplane signatures: ``lsh_tables`` independent tables of
    ``lsh_bits`` sign bits each; a pair is a candidate if it collides in
    *any* table (the OR-construction — recall ≈ 1-(1-p^bits)^tables with
    p = 1-θ/π). This turns the O(n²) cross join into per-(table, bucket)
    self-joins — shuffle keyed on (table, signature), O(n·tables) rows.
    Exact cosine verifies every candidate, so precision is exact; recall
    is the LSH knob.

    Fold economy: each vector's L2 norm is staged ONCE per row BEFORE
    the pair join (join attributes cannot be inlined back into the
    consumer), so verifying a pair costs one dot fold + one divide —
    not the three folds of an inline ``cosine()`` re-evaluated per
    pair. Same doubles (sqrt-of-fold either way), measured 3.4× on the
    exhaustive path at sf0.1.

    **Scale guard** (same contract as
    :func:`~hive_scripts_spark.operators.dedup.ngram_jaccard_pairs`):
    the ``use_lsh=False`` path does O(n²) work — fine as an exactness
    oracle on a bounded frame, a scale-killer on a 100 TB corpus (the
    blocked-matmul form below spreads the n² over parallel bounded
    tasks, but cannot change the FLOP count). When ``use_lsh=False``
    and the input exceeds ``max_docs`` rows, the call warns loudly and
    routes through the LSH-blocked path anyway (exact cosine still
    verifies every candidate, so precision is unchanged; recall
    becomes the LSH knob). Callers whose semantics are
    exhaustive-by-contract (the ``x_embed_near_dup`` oracle twin) pass
    ``max_docs=None`` to force the exhaustive path.

    The exhaustive path is :func:`_blocked_cosine_pairs` with no key
    and 4096-row blocks — the kernel :func:`semantic_dedup` runs per
    cell — so its cosines round to 6dp half away from zero, like the
    DuckDB oracle's ``round``.
    """
    if not use_lsh and max_docs is not None:
        # bounded probe, not a full count: LocalLimit stops the scan
        # early. Count the FILTERED frame — null/empty rows never reach
        # the quadratic stage, so they must not trip the reroute.
        probe = _drop_invalid_vecs(embeddings, vec_col).select(id_col)
        if probe.limit(max_docs + 1).count() > max_docs:
            import warnings

            warnings.warn(
                f"embedding_near_dup_pairs: use_lsh=False on an input "
                f"exceeding max_docs={max_docs}; the exhaustive path "
                "is quadratic, so routing through hyperplane-LSH "
                "blocking (exact cosine verify, LSH-bounded recall). "
                "Pass max_docs=None to force the exhaustive path.",
                UserWarning,
                stacklevel=2,
            )
            use_lsh = True
    if use_lsh:
        return _hyperplane_lsh_pairs(
            embeddings, threshold, id_col, vec_col, lsh_tables, lsh_bits,
            _xxhash64_planes,
        )
    # Exhaustive all-pairs, BLOCKED (r10): still O(n²) FLOPs — that is
    # this path's declared contract (the exactness baseline for the LSH
    # route) — but as bounded blocked-matmul tasks instead of a
    # BroadcastNestedLoopJoin evaluating an interpreted dim-length fold
    # per pair: one global key, g = ceil(n / 4096) hash groups.
    # Measured at sf0.1 (10k vecs): 16.7 s (clean-window sweep) → ~3 s.
    base = _staged_with_norms(embeddings, id_col, vec_col)
    return _blocked_cosine_pairs(
        base, base.agg(F.count(F.lit(1)).alias("__n")), threshold, id_col, 4096
    )


def _blocked_cosine_pairs(
    rows: DataFrame,
    sizes: DataFrame,
    threshold: float,
    id_col: str,
    block_rows: int,
    key: str | None = None,
) -> DataFrame:
    """Every pair of ``rows`` that shares ``key`` (all pairs when
    ``key`` is None) whose 6dp-rounded cosine is ≥ ``threshold``, as
    ``(a_id, b_id, cosine_sim)`` with ``a_id < b_id`` — the one blocked
    all-pairs cosine kernel (exhaustive near-dup pairs, SemDeDup cells).

    ``rows`` carries ``[key,] id_col, vec array<double>``; ``sizes``
    carries ``[key,] __n``, the row count per key (one row without a
    key), so a caller that already holds the counts does not rescan the
    vectors. Each key's rows hash-split into g = max(1, ceil(__n /
    block_rows)) groups ``__g = pmod(xxhash64(id), g)``; each row
    replicates to its g unordered group-pair tasks ``(gi, gj)``. A
    diagonal task (gi == gj) emits its upper triangle and a cross task
    only cross-group pairs, so every pair lands in EXACTLY ONE task,
    per-task input is ≤ ~2×block_rows rows, and the n² work spreads
    over g(g+1)/2 parallel tasks. Under one block g = 1: one task per
    key, no replication.

    Each task is one numpy matmul per 2048-row slab over the id-sorted,
    L2-normalised block (a JVM self-join verifies each candidate with
    an interpreted dim-length fold — measured 234 s for ~31M candidate
    pairs at 100k×512, vs seconds as matmul). Cosines round to 6dp
    half away from zero, DuckDB's ``round``; boundary ulps vs the
    engines' sequential fold are this route's documented tolerance.
    """
    keys = [key] if key else []
    ng = sizes.select(
        *keys,
        F.greatest(F.lit(1), F.ceil(F.col("__n") / block_rows))
        .cast("int")
        .alias("__ng"),
    )
    if key is None:
        # one global group count: join it to every row on a constant
        rows = rows.withColumn("__one", F.lit(1))
        ng = ng.withColumn("__one", F.lit(1))
    tagged = rows.join(F.broadcast(ng), key or "__one").select(
        *keys,
        id_col,
        "vec",
        F.pmod(F.xxhash64(F.col(id_col)), F.col("__ng")).cast("int").alias("__g"),
        "__ng",
    )
    tasks = tagged.select(
        *keys,
        id_col,
        "vec",
        "__g",
        F.explode(F.sequence(F.lit(0), F.col("__ng") - 1)).alias("__p"),
    ).select(
        *keys,
        id_col,
        "vec",
        "__g",
        F.least("__g", "__p").alias("__gi"),
        F.greatest("__g", "__p").alias("__gj"),
    )
    id_dtype = rows.schema[id_col].dataType.simpleString()
    thr = float(threshold)

    def pair_sims(task, pdf):
        # self-contained: imports inside and no module-level name, so
        # it pickles by value for drivers that run outside the repo
        import numpy as np
        import pandas as pd

        gi, gj = task[-2:]
        if len(pdf) > max(4 * block_rows, 1024):
            # a task holds ≤ 2 hash groups of expected size ≤ block_rows
            # each; group sizes are multinomial-concentrated, so 4×
            # slack covers hash jitter while still failing loudly if the
            # sub-blocking ever delivers a whole over-block key to one
            # task (the quadratic straggler it exists to prevent)
            raise ValueError(
                f"blocked cosine-pairs task {task} got {len(pdf)} rows "
                f"(block {block_rows}): sub-blocking invariant broken"
            )

        def sorted_block(sub):
            ids = sub[id_col].to_numpy()
            order = np.argsort(ids)
            # tolist + one np.array call beats a per-row asarray loop
            # 11x (bit-identical float64); order applied to the matrix
            V = np.array(sub["vec"].tolist(), dtype=np.float64)[order]
            n = np.linalg.norm(V, axis=1)
            n[n == 0.0] = np.inf
            return ids[order], V / n[:, None]

        def r6(x):
            # 6dp round-half-away-from-zero ON THE FP-SCALED VALUE —
            # measured bit-identical to the DuckDB oracle's round()
            # over 40k doubles incl. 20k planted .5e-6 ties (np.round's
            # half-even diverged on 9.8k of them). NOT identical to
            # Spark's F.round (BigDecimal on the shortest decimal
            # repr), which differs from BOTH at shortest-decimal ties
            # like 0.0001245 — that residual LSH-path divergence is
            # fenced by the testdata ulp-margin guard
            # (test_graded_threshold_ulp_margin).
            return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

        if gi == gj:
            ids_l, Vl = sorted_block(pdf)
            ids_r, Vr = ids_l, Vl
        else:
            left = pdf[pdf["__g"] == gi]
            right = pdf[pdf["__g"] == gj]
            if len(left) == 0 or len(right) == 0:
                ids = pdf[id_col].to_numpy()[:0]
                return pd.DataFrame(
                    {"a_id": ids, "b_id": ids, "cosine_sim": np.zeros(0)}
                )
            ids_l, Vl = sorted_block(left)
            ids_r, Vr = sorted_block(right)
        a_out, b_out, s_out = [], [], []
        slab = 2048
        for s in range(0, len(ids_l), slab):
            sims = r6(Vl[s : s + slab] @ Vr.T)
            ii, jj = np.nonzero(sims >= thr)
            if gi == gj:
                # upper triangle: the block is id-sorted, so a < b
                keep = ii + s < jj
                ii, jj = ii[keep], jj[keep]
            la, rb = ids_l[ii + s], ids_r[jj]
            a_out.append(np.minimum(la, rb))
            b_out.append(np.maximum(la, rb))
            s_out.append(sims[ii, jj])
        return pd.DataFrame(
            {
                "a_id": np.concatenate(a_out),
                "b_id": np.concatenate(b_out),
                "cosine_sim": np.concatenate(s_out),
            }
        )

    return tasks.groupBy(*keys, "__gi", "__gj").applyInPandas(
        pair_sims, f"a_id {id_dtype}, b_id {id_dtype}, cosine_sim double"
    )


def _staged_with_norms(
    embeddings: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """``(id, vec array<double>, norm)`` of the valid embedding rows —
    the near-dup paths' staging. Each vector's L2 norm is staged ONCE
    per row before any pair join (see :func:`embedding_near_dup_pairs`,
    fold economy)."""
    staged = _drop_invalid_vecs(embeddings, vec_col).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("vec")
    )
    return staged.select(id_col, "vec", l2_norm(F.col("vec")).alias("norm"))


def _hyperplane_components_sql(h: int) -> str:
    """SQL text for the array of g(h, i), i in 0..len(vec)-1, with
    g(h, i) = ((xxhash64(h, i) % 1000003) / 1000003) − 0.5 — the
    production hyperplane family, evaluated on a one-row probe to turn
    the data-independent hyperplane into plan literals (r19). The
    literal route is pinned against the in-row expression form it
    replaced by ``tests/test_plan_literals.py``."""
    return (
        "transform(sequence(0, size(vec) - 1), i -> "
        f"CAST((xxhash64({h}, i) % 1000003 + 1000003) % 1000003 AS DOUBLE)"
        " / 1000003.0D - 0.5D)"
    )


def _xxhash64_planes(probe: DataFrame, n_planes: int) -> list[list[float]]:
    """The production hyperplanes: g(h, i) evaluated by the engine
    (:func:`_hyperplane_components_sql`) on the one-row ``probe`` —
    one bounded job of tables × bits × dim doubles. ``[]`` when the
    probe has no row."""
    rows = probe.select(
        *[
            F.expr(_hyperplane_components_sql(h)).alias(f"g{h}")
            for h in range(n_planes)
        ]
    ).collect()
    return [rows[0][f"g{h}"] for h in range(n_planes)] if rows else []


def portable_hyperplane(h: int, dim: int) -> list[float]:
    """Driver-side twin of the portable hyperplane family: component
    ``i`` is ``(md5_60(h '|' i) % 1000003) / 1000003 − 0.5``, computed
    with hashlib — byte-identical to Spark's ``md5``/``conv`` and
    DuckDB's ``md5``/hex-cast on the same pre-image, so the three
    engines agree on every component exactly."""
    import hashlib

    out = []
    for i in range(dim):
        u = int(hashlib.md5(f"{h}|{i}".encode()).hexdigest()[:15], 16)
        out.append((u % 1000003) / 1000003.0 - 0.5)
    return out


def _md5_planes(probe: DataFrame, n_planes: int) -> list[list[float]]:
    """The portable hyperplanes (:func:`portable_hyperplane`), sized by
    the one-row ``probe``'s dimension. ``[]`` when the probe has no
    row."""
    rows = probe.select(F.size("vec").alias("dim")).collect()
    if not rows:
        return []
    return [portable_hyperplane(h, rows[0]["dim"]) for h in range(n_planes)]


def _hyperplane_lsh_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    tables: int,
    bits: int,
    planes,
) -> DataFrame:
    """The hyperplane-LSH near-dup pipeline shared by both hyperplane
    families; ``planes(probe, tables * bits)`` (:func:`_xxhash64_planes`
    or :func:`_md5_planes`) draws the hyperplanes from a one-row probe
    of the staged frame, and is the only stage that differs.

    The hyperplanes are DATA-INDEPENDENT model parameters, so they ride
    as plan literals (r19): each row's signature is a pure arithmetic
    fold against literal doubles — no tables × bits × dim hash+mod
    evaluations per row, and no 14 s py4j construction of that
    expression forest on the driver. Empty corpus: no probe row → an
    empty result of the same schema.
    """
    base = _staged_with_norms(embeddings, id_col, vec_col)
    plane_vals = planes(base.limit(1), tables * bits)
    if not plane_vals:
        return base.select(
            F.col(id_col).alias("a_id"),
            F.col(id_col).alias("b_id"),
            F.col("norm").alias("cosine_sim"),
        ).limit(0)
    plane_sql = [sql_double_array(p) for p in plane_vals]
    dim = len(plane_vals[0])

    # the per-table signatures render as SQL strings (one parser call
    # each) — the Column-by-Column form of these 16-plane expression
    # forests cost ~2 s of py4j per query build. The SQL trees are the
    # identical expressions (same CASE/shiftleft, same left-assoc OR),
    # pinned by tests/test_plan_literals.py.
    def table_sig_sql(t):
        bits_sql = []
        for b in range(bits):
            proj = (
                f"aggregate(zip_with(vec, {plane_sql[t * bits + b]}, "
                "(x, g) -> x * g), 0.0D, (acc, v) -> acc + v)"
            )
            bits_sql.append(
                f"(CASE WHEN {proj} > 0 "
                f"THEN shiftleft(CAST(1 AS BIGINT), {b}) "
                "ELSE CAST(0 AS BIGINT) END)"
            )
        return " | ".join(bits_sql)

    # ragged-dimension guard (ADVICE r19): the plane literals are
    # pinned to the PROBE row's dimension; a mismatched row would
    # zip_with-null-pad, fold to NULL, and silently read all-zero
    # signature bits (recall degradation that varies with whichever row
    # limit(1) picked). Dimension uniformity is the table's schema
    # contract (_drop_invalid_vecs docstring), so violation fails
    # LOUDLY in-plan — one size() compare per row.
    sigs_col = F.expr(
        f"CASE WHEN size(vec) = {dim} THEN array("
        + ",".join(
            f"named_struct('tbl', {t}, 'sig', {table_sig_sql(t)})"
            for t in range(tables)
        )
        + ") ELSE raise_error(concat("
        "'hyperplane LSH: ragged embedding dimension ',"
        " cast(size(vec) as string),"
        f" ' != probe dimension {dim} (the hyperplane literals"
        " require a dimension-uniform table; clean the input)')) END"
    )
    # NARROW blocking (r10): emit (id, tbl, sig) only — no vectors.
    # The previous shape carried (vec, norm) through the self-join
    # and the pair dedup, which (a) shuffles O(candidates x vec
    # bytes) through dropDuplicates — the same melt-traffic trap
    # dedup._verify_pairs_jaccard documents — and (b) evaluates the
    # hyperplane-signature fold (tables x bits x dim HOF mults, the
    # dominant CPU) once PER JOIN BRANCH under a broadcast
    # self-join. Narrow rows are 3 longs; the shared repartition
    # makes the two branches' shuffle stages canonically identical
    # so AQE computes the signature fold ONCE and reuses the stage;
    # vectors attach AFTER the 16-byte pair dedup via two id-keyed
    # joins that AQE broadcasts (or shuffles once per side above
    # broadcast size) — the verify-join posture.
    blocked = base.select(id_col, F.explode(sigs_col).alias("ts")).select(
        id_col,
        F.col("ts.tbl").alias("tbl"),
        F.col("ts.sig").alias("sig"),
    )
    blocked = blocked.repartition("tbl", "sig")
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
    # zero-norm guard: see guarded_div — sim 0 / excluded, the numpy
    # exhaustive path's convention
    sim = F.round(
        guarded_div(
            dot(F.col("a_vec"), F.col("b_vec")),
            F.col("a_norm") * F.col("b_norm"),
        ),
        6,
    )
    return pairs.select("a_id", "b_id", sim.alias("cosine_sim")).where(
        F.col("cosine_sim") >= threshold
    )


def embedding_lsh_pairs_portable(
    embeddings: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = 2,
    bits: int = 4,
) -> DataFrame:
    """:func:`embedding_near_dup_pairs` (LSH path) with an engine-
    portable hyperplane family, so the ENTIRE pipeline — signature →
    per-table bucket join → exact-cosine verify — is replicable in
    DuckDB and value-gradable end-to-end. Every stage but the
    hyperplane draw is the production pipeline itself
    (:func:`_hyperplane_lsh_pairs`), ragged-dimension guard included.

    Hyperplane ``h``'s component for dimension ``i`` is the symmetric
    pseudo-uniform ``(md5_60(h, i) % 1000003) / 1000003 − 0.5`` (md5_60
    = :func:`~hive_scripts_spark.operators.dedup.portable_hash60`;
    driver-side :func:`portable_hyperplane`); signature bit = sign of
    the projection.
    """
    return _hyperplane_lsh_pairs(
        embeddings, threshold, id_col, vec_col, tables, bits, _md5_planes
    )


#: max centroids :func:`ivf_assign` embeds as plan literals; above it the
#: assignment routes to a numpy ``mapInPandas`` matmul.
IVF_LITERAL_THRESHOLD = 256


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    literal_threshold: int = IVF_LITERAL_THRESHOLD,
    _model: list | None = None,
) -> DataFrame:
    """IVF coarse assignment: each vector to its max-cosine centroid.

    A coarse quantizer is small by definition, so up to
    ``literal_threshold`` centroids are collected (model parameters, not
    data) and embedded as plan literals; the assignment is then a pure
    per-row argmax projection — ``array_max`` over ``(sim, -cid)``
    structs, same shape as :func:`ivf_topk`'s cell assignment — with
    **zero corpus shuffle at any corpus size**. The row vector's norm is
    staged once per row (not re-folded per centroid); each literal
    centroid's self-norm constant-folds at plan time. The single-struct
    result splits into columns via ``inline_outer`` (a generator —
    evaluated once; projecting two fields out of the argmax expression
    would re-evaluate it per field under CollapseProject).

    Beyond the threshold the assignment becomes a numpy matmul per
    Arrow batch (``mapInPandas`` with the centroid matrix in the
    closure): interpreted HOF folds at O(corpus × nlist) are the wrong
    tool past a few hundred centroids (measured 148 s → ~2 s at
    100k × 512 × 64) — still zero shuffle, still deterministic ties to
    the lowest ``centroid_id``. Downstream searches probe matching
    centroid partitions only (partition pruning on ``centroid_id``).
    """
    import math

    base = _drop_invalid_vecs(embeddings, vec_col).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("vec")
    )
    # _model: the bounded probe collect, pre-fetched by a caller that
    # already needed it (semantic_dedup's emptiness ladder) — merges two
    # sequential driver-blocking jobs over the same tiny model frame
    # into one (guide §5: the driver should do almost no data work).
    # Must be exactly `centroids.limit(literal_threshold + 1).collect()`.
    lits = (
        _model
        if _model is not None
        else centroids.limit(literal_threshold + 1).collect()
    )
    if not lits:
        # empty model: no cell to assign to — an empty assignment frame
        # with the contract schema, not an AnalysisException from an
        # element-less (VOID-typed) literal array. Callers compose
        # sanely: embedding_decontaminate on an empty benchmark drops
        # nothing, ivf_cell_stats reports zero cells.
        id_dtype = embeddings.schema[id_col].dataType.simpleString()
        return embeddings.sparkSession.createDataFrame(
            [], f"{id_col} {id_dtype}, centroid_id long, sim double"
        )
    if len(lits) <= literal_threshold:
        # centroid self-norms computed in PYTHON from the collected model
        # params (sequential sum == both engines' sequential folds, so
        # values stay oracle-exact) — the interpreted-HOF path has no
        # CSE, so leaving l2_norm(s.c) in the lambda re-folds it per row.
        # The literal array renders as ONE SQL string (plan_literals):
        # per-element F.lit calls cost 2+ py4j round trips each — 8-14 s
        # of pure driver time at 40 centroids × 64 dims (r19), vs ~10 ms
        # for the parse; the parsed plan is bit-identical.
        cells = lit_struct_array(
            sql_struct(
                cid=sql_int(int(r["centroid_id"])),
                c=sql_double_array(float(x) for x in r["centroid"]),
                cnorm=sql_double(
                    math.sqrt(sum(float(x) * float(x) for x in r["centroid"]))
                ),
            )
            for r in lits
        )
        # bind |vec| as a lambda VARIABLE (1-element transform) so it
        # folds once per row — a staged projection would be inlined back
        # into the consumer by CollapseProject (single-use attribute)
        best = F.transform(
            F.array(l2_norm(F.col("vec"))),
            lambda vn: F.array_max(
                F.transform(
                    cells,
                    lambda s: F.struct(
                        F.round(
                            guarded_div(dot(F.col("vec"), s["c"]), vn * s["cnorm"]), 6
                        ).alias("sim"),
                        (-s["cid"]).alias("neg_cid"),
                    ),
                )
            ),
        )[0]
        assigned = base.select(F.col(id_col), F.inline_outer(F.array(best)))
        return assigned.select(
            id_col, (-F.col("neg_cid")).cast("long").alias("centroid_id"), "sim"
        )

    # Beyond the literal threshold the per-(vec, centroid) fold shapes
    # are the wrong tool: higher-order functions evaluate INTERPRETED
    # (outside whole-stage codegen), so a broadcast join + window costs
    # O(corpus × nlist) lambda folds — measured 148 s for
    # 100k vecs × 512 centroids × 64 dims, vs ~2 s as ONE BLAS matmul
    # per Arrow batch. The centroid matrix ships in the closure (model
    # parameters, pickled by VALUE — safe off-repo), the corpus stays
    # distributed, and like the literal path there is ZERO shuffle.
    # Ties break to the lowest centroid_id (rows sorted by id, numpy
    # argmax takes the first max); sims round to 6dp like both exact
    # paths — near-tie ulp differences vs the sequential fold are the
    # documented cost of this route. Graded queries must never reach
    # it: the ≤8-centroid queries sit far under the default, and
    # sf-proportional callers (x_decontaminate_embedding's bench split)
    # pin an explicit literal_threshold so data growth can't silently
    # flip the route (ADVICE r9).
    lits = centroids.collect()  # the probe above stopped at threshold+1
    lits.sort(key=lambda r: int(r["centroid_id"]))
    cids = [int(r["centroid_id"]) for r in lits]
    cmat = [[float(x) for x in r["centroid"]] for r in lits]
    id_dtype = embeddings.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_dtype}, centroid_id long, sim double"

    def assign_batches(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cmat, dtype=np.float64)
        cn = np.linalg.norm(C, axis=1)
        cn[cn == 0.0] = np.inf
        Cn = C / cn[:, None]
        ids = np.asarray(cids, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            # tolist + one np.array call: 11x faster than a per-row
            # np.asarray loop (measured), bit-identical float64 result
            V = np.array(pdf["vec"].tolist(), dtype=np.float64)
            vn = np.linalg.norm(V, axis=1)
            vn[vn == 0.0] = np.inf
            sims = (V / vn[:, None]) @ Cn.T
            amax = np.argmax(sims, axis=1)
            best = sims[np.arange(len(amax)), amax]
            # NaN-element vectors read sim 0, matching the literal
            # route's guarded_div/nanvl convention — raw NaN here
            # would order ABOVE every threshold Spark-side, silently
            # flipping e.g. embedding_decontaminate's >= gate between
            # the two routes (np.argmax on an all-NaN row returns 0 =
            # the lowest cid, the same cell the literal route picks)
            best = np.where(np.isnan(best), 0.0, best)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "centroid_id": ids[amax],
                    "sim": np.round(best, 6),
                }
            )

    return base.mapInPandas(assign_batches, schema)


def ivf_cell_stats(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF index-quality report: per-cell occupancy and quantization
    quality over the coarse assignment.

    Returns ``(centroid_id, n_vectors, mean_sim, min_sim)`` — cell
    population (the balance signal: a skewed coarse quantizer makes
    nprobe recall erratic and one probe-partition hot) plus the mean
    and worst cosine of the cell's members to their centroid (the
    quantization-quality signal: a low mean says the centroid no
    longer represents its cell — retrain). This is the report an index
    operator watches before/after every retrain or append.

    Scale: rides :func:`ivf_assign`'s zero-shuffle plan-literal
    assignment; the rollup is ONE groupBy over ``nlist`` keys with
    map-side partials — output is |cells| rows no matter the corpus.
    ``mean_sim`` accumulates the 6dp-rounded sims as exact decimals
    (commutative — summation order cannot flake the value), then
    divides and re-rounds: the oracle replays it bit-for-bit.
    """
    assigned = ivf_assign(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    return assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(
            F.sum(F.col("sim").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_sim"),
        F.round(F.min("sim"), 6).alias("min_sim"),
    )


def cluster_balanced_sample(
    embeddings: DataFrame,
    centroids: DataFrame,
    cap_per_cell: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    literal_threshold: int = IVF_LITERAL_THRESHOLD,
    salts: int = 32,
) -> DataFrame:
    """Cluster-balanced subsampling (topic balancing): at most
    ``cap_per_cell`` vectors per k-means cell, picked in portable-md5
    order of the id.

    The diversity-preserving downsampling step of an embedding-curated
    training mix (the cluster-then-balance recipe of SemDeDup-style
    pipelines, arXiv:2303.09540 §2: cluster the corpus, then bound
    each cluster's contribution so giant near-duplicate topics — SEO
    boilerplate, licence pages — can't dominate the sample). The md5
    pick order is a deterministic uniform draw WITHIN each cell:
    reruns, engines, and the DuckDB oracle agree row-for-row, unlike
    ``rand()``-based sampling.

    Scale shape: assignment is :func:`ivf_assign` (literal-centroid
    argmax — zero corpus shuffle); the per-cell pick is
    :func:`~hive_scripts_spark.functions.skew.topk_per_group`, the
    salted two-level EXACT top-k, so a degenerate hot cell (the very
    thing balancing exists to neutralize) spreads over ``salts``
    window partitions instead of becoming one straggler task. The
    salting is bit-transparent: results equal the single-window form,
    which is therefore the oracle SQL
    (``row_number() over (partition by centroid_id
    order by md5(cast(id as varchar)), id) <= cap``).

    Returns ``(id_col, centroid_id, sim, pick_order)`` — ``sim`` is
    the member→centroid cosine (6dp), ``pick_order`` the 1-based
    within-cell pick rank. Rows with null/empty embeddings are
    unassignable and therefore outside the sample (a sample is a
    subset selection — handle invalid rows upstream if they must be
    retained). An empty ``centroids`` frame raises ``ValueError``: a
    silent zero-row "sample" of a non-empty corpus is data loss, not
    sampling.
    """
    from ..functions.skew import topk_per_group

    if centroids.limit(1).count() == 0:
        if embeddings.limit(1).count() == 0:
            # empty-in/empty-out (see semantic_dedup)
            id_dtype = embeddings.schema[id_col].dataType.simpleString()
            return embeddings.sparkSession.createDataFrame(
                [],
                f"{id_col} {id_dtype}, centroid_id long, sim double, "
                "pick_order int",
            )
        raise ValueError(
            "cluster_balanced_sample requires a non-empty centroids "
            "frame: with zero cells the sample would be silently empty"
        )
    assigned = ivf_assign(
        embeddings,
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        literal_threshold=literal_threshold,
    )
    return topk_per_group(
        assigned,
        ["centroid_id"],
        [F.md5(F.col(id_col).cast("string")), F.col(id_col)],
        cap_per_cell,
        salt_from=id_col,
        salts=salts,
        rank_name="pick_order",
    )


def cluster_balance_report(
    embeddings: DataFrame,
    centroids: DataFrame,
    cap_per_cell: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Before/after audit for :func:`cluster_balanced_sample` WITHOUT
    materializing the sample: per cell, the member count, the count the
    cap would keep, and the kept fraction. One groupBy over |cells|
    keys with map-side partials — |cells| output rows at any corpus
    size; ``kept_fraction`` is one IEEE divide of exact ints
    (oracle-comparable)."""
    assigned = ivf_assign(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    counts = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    kept = F.least(F.col("n_vectors"), F.lit(cap_per_cell).cast("bigint"))
    return counts.select(
        "centroid_id",
        "n_vectors",
        kept.alias("n_kept"),
        F.round(kept.cast("double") / F.col("n_vectors"), 6).alias(
            "kept_fraction"
        ),
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int = 65536,
) -> DataFrame:
    """SemDeDup: cluster-then-intra-cluster semantic deduplication.

    The published method (Abbas et al., "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication",
    arXiv:2303.09540): coarse-cluster the embeddings, then look for
    near-duplicates ONLY within each cluster — semantic twins land in
    the same cell, so the O(n²) all-pairs search collapses to
    O(Σ cell²) with cells ≈ n/nlist. Within each duplicate group the
    survivor is the member with the LOWEST cosine to its cluster
    centroid (the paper's choice — the least-prototypical example
    carries the most marginal information), ties to the lowest id;
    transitive groups (A~B, B~C) resolve via connected components, not
    single-pass pair pruning.

    Returns the SURVIVOR frame ``(id_col, centroid_id, centroid_sim)``
    — the rows to KEEP (singletons included). Rows with null/empty
    embeddings cannot be compared, so they can never be duplicates:
    they SURVIVE, emitted with NULL ``centroid_id``/``centroid_sim``
    (unassignable). An empty ``centroids`` frame raises ``ValueError``
    — with no cells NOTHING would be compared, and silently returning
    an empty survivor frame would read as "drop the whole corpus" to
    a keep-the-survivors pipeline.

    Scale shape: assignment is :func:`ivf_assign`'s zero-shuffle
    plan-literal argmax; the candidate join shuffles once keyed on
    ``centroid_id``; component resolution runs over the (tiny,
    pairs-only) edge list. Cell sizes are the scale knob — size
    ``nlist`` so cells stay balanced (audit with
    :func:`ivf_cell_stats`); ``max_cell_size`` is the ENFORCED
    backstop (r10, upgrading the r9 advisory): the intra-cell pairs
    come from :func:`_blocked_cosine_pairs` keyed on ``centroid_id``
    with ``max_cell_size`` as its block, so a cell above the cap is
    sub-blocked into ``g = ceil(size/cap)`` hash groups and its pair
    search fans out over the ``g*(g+1)/2`` unordered group pairs —
    every member pair lands in EXACTLY ONE task (the task of its
    unordered group-id pair), so survivors are bit-identical to the
    uncapped run while per-task input is ≤ 2×cap rows and the
    degenerate one-hot-cell corpus parallelizes instead of becoming a
    single quadratic straggler. Under-cap cells take the g=1
    degenerate form of the same plan (one task, no replication).
    Pair cosines round to 6dp half away from zero, as the exhaustive
    :func:`embedding_near_dup_pairs` path and DuckDB's ``round`` do,
    so a cosine on a .5e-6 tie meets the threshold here exactly when
    it does there.
    Cross-cell near-duplicates are NOT detected — that recall loss is
    the method's documented approximation, bounded by clustering
    quality (measured on the fixed testdata in
    ``tests/test_similarity.py::test_semantic_dedup_recall_vs_exhaustive``).
    """
    from hive_scripts_spark.operators.dedup import near_dup_survivors

    # ONE bounded collect serves both the emptiness ladder below and
    # ivf_assign's literal model (passed through as _model) — the r19
    # form ran a separate limit(1).count() job before ivf_assign's own
    # collect over the same tiny model frame (VERDICT r19 item 3: one
    # sequential driver-blocking job removed from the chain).
    model = centroids.limit(IVF_LITERAL_THRESHOLD + 1).collect()
    if not model:
        if embeddings.limit(1).count() == 0:
            # empty-in/empty-out: an empty incremental batch through a
            # --train-full pipeline yields zero centroids AND zero rows
            # — that is a well-defined empty result, not a misconfig
            id_dtype = embeddings.schema[id_col].dataType.simpleString()
            return embeddings.sparkSession.createDataFrame(
                [], f"{id_col} {id_dtype}, centroid_id long, centroid_sim double"
            )
        if _drop_invalid_vecs(embeddings, vec_col).limit(1).count() == 0:
            # a corpus whose rows are ALL null/empty-embedding
            # legitimately trains zero centroids; by the unassignable-
            # survivor convention below every such row survives with a
            # NULL assignment — erroring here would wrongly reject the
            # all-invalid batch a real lake occasionally emits
            return embeddings.select(
                F.col(id_col),
                F.lit(None).cast("long").alias("centroid_id"),
                F.lit(None).cast("double").alias("centroid_sim"),
            )
        raise ValueError(
            "semantic_dedup requires a non-empty centroids frame when "
            "the corpus has valid vectors: with zero cells nothing is "
            "compared and nothing would survive (check the trainer's "
            "input — kmeans_fit on an empty/all-invalid corpus returns "
            "zero centroids)"
        )
    # the assignment feeds THREE consumers (cell join, survivor quality,
    # final output) — without a checkpoint each one re-evaluates the
    # whole argmax over the corpus (no DataFrame CSE across branches);
    # the checkpointed frame is 3 narrow columns, the same bounded-state
    # pattern as connected_components' edge list
    assigned = ivf_assign(
        embeddings, centroids, id_col=id_col, vec_col=vec_col, _model=model
    ).localCheckpoint(eager=True)
    staged = _drop_invalid_vecs(embeddings, vec_col).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("vec")
    )
    cells = staged.join(assigned.select(id_col, "centroid_id"), id_col)
    # Enforced cell cap: per-cell sizes come off the (checkpointed)
    # assignment, not a second scan of the vectors — |sizes| ≤ nlist
    # rows, so the kernel's join back is a broadcast by construction.
    # An over-cap cell sub-blocks into ceil(size/cap) hash groups; an
    # under-cap cell is one task, the pre-cap plan shape.
    sizes = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("__n")
    )
    edges = _blocked_cosine_pairs(
        cells, sizes, threshold, id_col, max_cell_size, key="centroid_id"
    ).select("a_id", "b_id")
    # near_dup_survivors keeps MAX quality per component; the paper
    # keeps the LOWEST centroid cosine, so feed it the negated sim
    member_quality = assigned.select(
        F.col(id_col), (-F.col("sim")).alias("__neg_centroid_sim")
    )
    surv = near_dup_survivors(
        member_quality, edges, id_col=id_col, quality_col="__neg_centroid_sim"
    )
    kept = assigned.join(
        surv.select(F.col("survivor_id").alias(id_col)), id_col, "left_semi"
    ).select(id_col, "centroid_id", F.col("sim").alias("centroid_sim"))
    # null/empty-embedding rows are unassignable, hence incomparable,
    # hence never duplicates: they survive with a NULL assignment
    # (map-only predicate — the complement of _drop_invalid_vecs)
    c = F.col(vec_col)
    unassignable = embeddings.where(c.isNull() | (F.size(c) <= 0)).select(
        F.col(id_col),
        F.lit(None).cast("long").alias("centroid_id"),
        F.lit(None).cast("double").alias("centroid_sim"),
    )
    return kept.unionByName(unassignable)


def embedding_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    bench_vec_col: str = "embedding",
    literal_threshold: int = IVF_LITERAL_THRESHOLD,
) -> DataFrame:
    """Semantic decontamination: drop corpus rows whose embedding is
    within cosine ``threshold`` of ANY benchmark embedding.

    The embedding-space complement of the n-gram routes
    (:func:`~hive_scripts_spark.operators.dedup.contamination_overlap`):
    paraphrased or lightly-reworded eval items share no 8-gram with the
    training copy but sit next to it in embedding space — this is the
    filter that catches them. Returns the KEPT corpus rows (original
    columns unchanged).

    Scale shape: a benchmark is small by definition, so the max-cosine
    against it IS :func:`ivf_assign` with the benchmark vectors as the
    "centroids" — up to the literal threshold that's a zero-shuffle
    plan-literal argmax over the corpus (beyond it, one broadcast
    join). The verdict joins back as an ANTI-join on the CONTAMINATED
    ids — contamination is rare by definition, so the broadcast side
    stays small at any corpus size (a semi-join on the clean ids would
    broadcast something corpus-sized). Nothing corpus-sized shuffles.

    ``literal_threshold`` forwards to :func:`ivf_assign`: below it the
    max-cosine is the oracle-exact plan-literal fold; above it the
    numpy ``mapInPandas`` route engages (same values modulo boundary
    ulps). A caller whose benchmark size scales with the corpus — the
    graded ``x_decontaminate_embedding`` takes every 50th vec_id — must
    size this explicitly so the route can't silently flip as the data
    grows (ADVICE r9).
    """
    bench = benchmark.select(
        F.col(bench_id_col).alias("centroid_id"),
        _as_double(F.col(bench_vec_col)).alias("centroid"),
    )
    nearest = ivf_assign(
        corpus,
        bench,
        id_col=id_col,
        vec_col=vec_col,
        literal_threshold=literal_threshold,
    )
    dirty_ids = nearest.where(F.col("sim") >= threshold).select(id_col)
    return corpus.join(F.broadcast(dirty_ids), id_col, "left_anti")


def ivf_topk(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    parallelism: int | None = None,
) -> DataFrame:
    """IVF top-k search: probe the ``nprobe`` nearest cells per query and
    rank candidates only within them — the ANN scale path beyond
    :func:`brute_force_topk`.

    ``centroids`` are **collected model parameters** (a coarse quantizer
    is small by definition) embedded as plan literals, so cell
    assignment is a pure projection: the corpus is NEVER shuffled for
    assignment (``F.array_max`` over a literal centroid array — the
    same fold/argmax shape as ``textstats.language_id``; Catalyst
    constant-folds each centroid's self-norm at plan time). The only
    exchange in the whole search is the final per-query top-k window
    over candidates. With a pre-partitioned corpus (``partitionBy(
    cell)`` layout on disk) the probe join also prunes partitions —
    that layout is materialized and plan-asserted for the IVF+PQ
    persisted index (:func:`ivfpq_encode` / :func:`ivfpq_search_codes`,
    ``tests/test_similarity.py``); the same write recipe applies to a
    full-precision IVF corpus.

    For very large quantizers (plan-literal blowup), swap the literal
    array for a broadcast join + ``max_by`` — one corpus shuffle.

    Ties break by cell id / neighbor id everywhere — deterministic and
    oracle-comparable. Returns ``(query_id, neighbor_id, cosine_sim,
    rank)``; approximate by design (recall < 1 when the true neighbor
    lives in an unprobed cell).

    Fold economy (the interpreted-HOF path has no CSE — PLANS.md trap
    #1): centroid self-norms are computed in PYTHON from the collected
    model params and embedded as literals (a sequential ``sum`` —
    bit-identical to the Spark/DuckDB sequential folds); the row
    vector's norm is evaluated ONCE per row by binding it as a lambda
    *variable* (a 1-element ``transform``) rather than a re-evaluated
    expression, so assignment costs ``n_centroids`` dot-folds + 1 norm
    per row instead of ``3 × n_centroids`` folds. Candidate scoring
    divides by the norms staged on each join side — attributes across a
    join cannot be inlined back, so they are evaluated once per row,
    not once per candidate pair. (``parallelism``: pre-repartition when
    the corpus has fewer input splits than cores — single-row-group
    local testdata; a many-file lake doesn't need it.)
    """
    import math

    from pyspark.sql import Window

    # python-side sequential sum == the engines' sequential folds on the
    # same doubles, so values stay oracle-exact; one-parser-call literal
    # (plan_literals) — bit-identical plan, none of the py4j chatter
    cells = lit_struct_array(
        sql_struct(
            cid=sql_int(int(cid)),
            c=sql_double_array(float(x) for x in vec),
            cnorm=sql_double(math.sqrt(sum(float(x) * float(x) for x in vec))),
        )
        for cid, vec in centroids
    )

    def cell_sims(vec, vnorm):
        # (sim, -cid) structs: array_max / desc sort give sim-desc with
        # cid-asc tiebreak; round(…,6) BEFORE ranking mirrors the oracle
        return F.transform(
            cells,
            lambda s: F.struct(
                F.round(guarded_div(dot(vec, s["c"]), vnorm * s["cnorm"]), 6).alias(
                    "sim"
                ),
                (-s["cid"]).alias("neg_cid"),
            ),
        )

    def staged_norm(vec, inner):
        # bind |vec| as a lambda VARIABLE so it folds once per row —
        # staging through a projection is not enough (CollapseProject
        # inlines single-use attributes back into the consumer)
        return F.transform(F.array(l2_norm(vec)), inner)[0]

    # null/empty rows never score (module convention — unfiltered they
    # would coalesce to cosine 0.0 in guarded_div and rank as neighbors)
    corpus = _drop_invalid_vecs(embeddings, vec_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("c_vec")
    )
    corpus = ensure_parallelism(corpus, parallelism)
    corpus_cells = corpus.select(
        "neighbor_id",
        "c_vec",
        staged_norm(
            F.col("c_vec"),
            lambda vn: F.struct(
                (-F.array_max(cell_sims(F.col("c_vec"), vn))["neg_cid"]).alias(
                    "cell"
                ),
                vn.alias("c_norm"),
            ),
        ).alias("__a"),
    ).select("neighbor_id", "c_vec", "__a.cell", "__a.c_norm")

    q = _drop_invalid_vecs(queries, vec_col).select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q_vec")
    )
    probes = q.select(
        "query_id",
        "q_vec",
        staged_norm(
            F.col("q_vec"),
            lambda vn: F.struct(
                F.slice(
                    F.sort_array(cell_sims(F.col("q_vec"), vn), asc=False),
                    1,
                    nprobe,
                ).alias("cells"),
                vn.alias("q_norm"),
            ),
        ).alias("__p"),
    ).select(
        "query_id",
        "q_vec",
        F.col("__p.q_norm").alias("q_norm"),
        F.explode("__p.cells").alias("p"),
    ).select(
        "query_id", "q_vec", "q_norm", (-F.col("p")["neg_cid"]).alias("cell")
    )

    cand = corpus_cells.join(F.broadcast(probes), "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            guarded_div(
                dot(F.col("q_vec"), F.col("c_vec")),
                F.col("q_norm") * F.col("c_norm"),
            ),
            6,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_output: bool = True,
) -> DataFrame:
    """Per-vector min/max scalar quantization to int8-range codes — the
    standard 4× memory compression in front of an ANN index (codes ship
    to the index; min/scale ride along for asymmetric-distance dequant).

    Returns ``(id_col, q array<int>, v_min, v_scale, rmse)`` where
    ``q[i] = floor((x[i]−min)·255/(max−min) + 0.5)`` and ``rmse`` is the
    per-vector reconstruction error (rounded to 6dp). Constant vectors
    (max == min) quantize to all-zero codes with zero error. ``floor(x
    + 0.5)`` is used instead of ``round`` so the tie-break is pinned
    identically across engines.

    Scale shape: pure map-side HOF arithmetic in double precision — no
    shuffle, no UDF; plugs in front of :func:`ivf_assign` unchanged.
    """
    staged = _drop_invalid_vecs(df, vec_col).select(
        F.col(id_col), _as_double(vec_col).alias("__v")
    )
    v = F.col("__v")
    staged2 = staged.select(
        id_col, "__v", F.array_min(v).alias("__lo"), F.array_max(v).alias("__hi")
    )
    lo, hi = F.col("__lo"), F.col("__hi")
    scale = (hi - lo) / F.lit(255.0)
    q = F.when(hi == lo, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v, lambda x: F.floor((x - lo) * F.lit(255.0) / (hi - lo) + F.lit(0.5)).cast("int")
        )
    )
    staged3 = staged2.select(
        id_col, "__v", "__lo", "__hi", q.alias("q"), scale.alias("__scale")
    )
    deq_err_sq = F.aggregate(
        F.zip_with(
            F.col("__v"),
            F.col("q"),
            lambda x, code: (x - (lo + code.cast("double") * F.col("__scale")))
            * (x - (lo + code.cast("double") * F.col("__scale"))),
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    if not round_output:
        # full-precision min/scale for downstream dequant composition
        # (ivf_topk_quantized); the oracled query keeps rounded output
        return staged3.select(
            id_col,
            "q",
            lo.alias("v_min"),
            F.col("__scale").alias("v_scale"),
            F.sqrt(deq_err_sq / F.size("q")).alias("rmse"),
        )
    return staged3.select(
        id_col,
        "q",
        F.round(lo, 6).alias("v_min"),
        F.round(F.col("__scale"), 6).alias("v_scale"),
        F.round(F.sqrt(deq_err_sq / F.size("q")), 6).alias("rmse"),
    )


def ivf_topk_quantized(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    parallelism: int | None = None,
) -> DataFrame:
    """Memory-lean IVF search: the corpus rides as int8 codes (a 4×
    smaller index than float32), and candidate scoring dequantizes on
    the fly — asymmetric distance, full-precision query against the
    reconstructed corpus vector. The extra recall loss vs full-precision
    :func:`ivf_topk` is bounded by the quantization step (pytest checks
    the quantized search still recovers the full-precision IVF results
    almost exactly on the test corpus).

    Same plan shape as :func:`ivf_topk` (zero-shuffle assignment, one
    top-k exchange); the dequant transform is a map-side projection
    fused into the scan of the code table.
    """
    codes = quantize_embeddings(embeddings, vec_col, id_col, round_output=False)
    deq = F.transform(
        F.col("q"),
        lambda c: F.col("v_min") + c.cast("double") * F.col("v_scale"),
    )
    # generator barrier (same trick as ivf_assign's inline_outer): the
    # reconstructed vector must reach ivf_topk as a real ATTRIBUTE, not
    # a projectable expression — CollapseProject cannot cross a
    # Generate, so the dequant chain (which drags min/max/quantize with
    # it) evaluates once per row instead of once per centroid-fold site
    # inside cell assignment (measured 22 s → 2 s at sf0.1 local[32])
    reconstructed = codes.select(
        F.col(id_col), F.inline_outer(F.array(F.struct(deq.alias(vec_col))))
    )
    return ivf_topk(
        reconstructed,
        centroids,
        queries,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        parallelism=parallelism,
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Product-quantization encode: split each vector into
    ``m = len(codebooks)`` contiguous subvectors and store, per
    subspace, the index of the nearest codebook entry (squared L2,
    ties to the lowest index) — the memory leap past int8 scalar
    quantization: D floats become m small ints (D=64 float32 → 4 bytes
    at m=4: 64×), which is what makes billion-vector ANN indexes fit
    in RAM at 100 TB corpus scale.

    ``codebooks[s][j]`` is code ``j`` of subspace ``s`` (all sub-dim
    ``d = D/m``). Codebooks are MODEL PARAMETERS (m×k×d floats), so
    they embed as plan literals exactly like the IVF centroids: the
    encode is a pure map-side projection — zero shuffle at any corpus
    size. Output: ``(id, pq_codes string, pq_err double)`` — codes as
    a comma-joined string (hashable by the driver), ``pq_err`` the
    total squared reconstruction error (rounded 6dp), the quality
    metric a PQ index build monitors.

    Determinism contract (same family as ivf_assign): per-subspace
    distances are SEQUENTIAL ``zip_with``+``aggregate`` folds over the
    double-cast values — bit-identical to DuckDB's ``list_reduce``
    replay — rounded to 6dp before the argmin, ties to the lowest
    code index.
    """
    m = len(codebooks)
    d = len(codebooks[0][0])

    keep = [F.col(c) for c in (keep_cols or [])]
    base = _drop_invalid_vecs(embeddings, vec_col).select(
        F.col(id_col), *keep, _as_double(F.col(vec_col)).alias("vec")
    )
    # stage each subvector once: every staged column is referenced by
    # all k code distances — multi-referenced non-cheap aliases stay
    # staged (CollapseProject), so the slice evaluates once per row
    staged = base.select(
        F.col(id_col),
        *keep,
        *[
            F.slice(F.col("vec"), s * d + 1, d).alias(f"__s{s}")
            for s in range(m)
        ],
    )
    picks = []
    for s in range(m):
        # one-parser-call codebook literal (plan_literals): bit-identical
        # plan, not m × k × d py4j round trips
        cells = lit_struct_array(
            sql_struct(
                j=sql_int(j),
                c=sql_double_array(float(x) for x in codebooks[s][j]),
            )
            for j in range(len(codebooks[s]))
        )
        sub = F.col(f"__s{s}")
        best = F.array_min(
            F.transform(
                cells,
                lambda cell: F.struct(
                    F.round(
                        F.aggregate(
                            F.zip_with(sub, cell["c"], lambda a, b: (a - b) * (a - b)),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        ),
                        6,
                    ).alias("d2"),
                    cell["j"].alias("j"),
                ),
            )
        )
        picks.append(best.alias(f"__p{s}"))
    picked = staged.select(F.col(id_col), *keep, *picks)
    codes = F.concat_ws(
        ",", *[F.col(f"__p{s}")["j"].cast("string") for s in range(m)]
    )
    err = F.round(
        sum(F.col(f"__p{s}")["d2"] for s in range(m)), 6
    )
    return picked.select(
        F.col(id_col), *keep, codes.alias("pq_codes"), err.alias("pq_err")
    )


def pq_topk(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, a
    lookup table ``LUT[s][j] = d2(q_s, codebook[s][j])`` is computed
    DRIVER-side (m×k doubles per query — model-parameter scale) and
    embedded as plan literals; a corpus vector's approximate distance
    is then ``sum_s LUT[s][code_s]`` — m array lookups and adds per
    (query, vector), no float vector math in the scan at all. This is
    the PQ promise at 100 TB: the search touches only the m-byte codes
    and tiny literal tables; the full-precision corpus never loads.

    The LUT is computed with a plain sequential Python float loop so
    its values are bit-identical to the engines' sequential folds
    (same order, same float64 ops) — the oracle replays the whole
    computation symbolically. Output: ``(query_id, neighbor_id,
    adc_dist)``, ascending distance, ties to the lowest neighbor, the
    query itself excluded. One exchange (the per-query top-k window).

    This convenience form re-encodes the corpus per call; production
    ("build the index once, search many") persists :func:`pq_encode`
    output to parquet and searches it with :func:`pq_search_codes`.
    """
    encoded = pq_encode(embeddings, codebooks, id_col=id_col, vec_col=vec_col)
    return pq_search_codes(encoded, codebooks, queries, k=k, id_col=id_col)


def pq_search_codes(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """ADC top-k over a STORED PQ-code relation — the persisted-index
    search face: ``codes`` is (typically) a parquet scan of
    :func:`pq_encode` output, so the per-call cost is LUT literals +
    the m-int code scan + one top-k exchange; the encode is amortized
    across every search. At 100 TB this is THE operating shape — the
    code table is ~m bytes/vector (64-dim float32 → 4 bytes at m=4),
    small enough to keep hot, and the full-precision corpus is never
    read at query time. Same determinism contract and output schema as
    :func:`pq_topk` (which is now just encode → this).
    """
    from pyspark.sql import Window

    m = len(codebooks)
    d = len(codebooks[0][0])

    split = codes.select(
        F.col(id_col),
        *[
            F.get(F.split(codes_col, ","), s).cast("int").alias(f"__c{s}")
            for s in range(m)
        ],
    )

    per_query = []
    for qid, qvec in queries:
        luts = []
        for s in range(m):
            row = []
            for j in range(len(codebooks[s])):
                acc = 0.0
                for t in range(d):
                    diff = float(qvec[s * d + t]) - float(codebooks[s][j][t])
                    acc += diff * diff
                row.append(acc)
            luts.append(row)
        dist = F.round(
            sum(
                F.element_at(lit_doubles(luts[s]), F.col(f"__c{s}") + 1)
                for s in range(m)
            ),
            6,
        )
        per_query.append(
            F.struct(F.lit(int(qid)).alias("query_id"), dist.alias("adc_dist"))
        )
    melted = split.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(F.array(*per_query)).alias("q"),
    ).select("q.query_id", "neighbor_id", "q.adc_dist")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        melted.where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ivfpq_topk(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    res_codebooks: list[list[list[float]]],
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ — the production ANN index shape (coarse cells prune the
    search space, residual PQ codes compress what remains): each vector
    is assigned to its max-cosine coarse cell (plan-literal centroids,
    zero shuffle), its RESIDUAL against that centroid is PQ-encoded
    map-side, and a query scans only its ``nprobe`` best cells, scoring
    candidates by ADC over per-(query, cell) lookup tables carried on a
    broadcast probe relation. At 100 TB the corpus contribution is
    m code ints per vector, the scan is cell-pruned, and the float math
    all lives in literals/LUTs.

    ``centroids[i]`` must be ``(cid, vec)`` with ``cid == i`` (cell ids
    are positional — asserted); ``queries`` are full-precision. Probe
    selection and the LUTs are computed driver-side with sequential
    float64 loops, bit-matching the engines' folds so the ENTIRE
    pipeline (assignment → residual → codes → probes → ADC → rank)
    replays symbolically in the DuckDB oracle. Output:
    ``(query_id, neighbor_id, adc_dist, rank)``; ascending distance,
    ties to the lowest neighbor, query excluded, rank ≤ k. Exchanges:
    the per-query top-k window (plus pq_encode's none).

    This convenience form re-encodes the corpus per call; production
    persists :func:`ivfpq_encode` output parquet-partitioned by
    ``cell`` and searches it with :func:`ivfpq_search_codes`, whose
    probe-cell filter then prunes partitions at planning time.
    """
    codes = ivfpq_encode(
        embeddings, centroids, res_codebooks, id_col=id_col, vec_col=vec_col
    )
    return ivfpq_search_codes(
        codes, centroids, res_codebooks, queries, k=k, nprobe=nprobe, id_col=id_col
    )


def ivfpq_encode(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    res_codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ index build: coarse max-cosine cell assignment
    (plan-literal centroids) + residual PQ encode — the write side of
    the persisted index. Map-only at any corpus size (zero shuffle);
    write the output ``partitionBy("cell")`` so
    :func:`ivfpq_search_codes`'s probe filter prunes whole cell
    directories at planning time. Output: ``(id, cell, pq_codes,
    pq_err)``.
    """
    import math

    for i, (cid, _) in enumerate(centroids):
        if cid != i:
            raise ValueError(f"centroid ids must be positional, got {cid} at {i}")

    # --- per-row coarse assignment + residual, map-only ---------------
    # literals render as one SQL string each (plan_literals): bit-
    # identical plan, milliseconds of driver time instead of seconds
    base = embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("vec"))
    cells = lit_struct_array(
        sql_struct(
            cid=sql_int(cid),
            c=sql_double_array(float(x) for x in c),
            cnorm=sql_double(math.sqrt(sum(float(x) * float(x) for x in c))),
        )
        for cid, c in centroids
    )
    cent_by_pos = F.expr(
        "array("
        + ",".join(sql_double_array(float(x) for x in c) for _, c in centroids)
        + ")"
    )
    best = F.transform(
        F.array(l2_norm(F.col("vec"))),
        lambda vn: F.array_max(
            F.transform(
                cells,
                lambda s: F.struct(
                    F.round(
                        guarded_div(dot(F.col("vec"), s["c"]), vn * s["cnorm"]), 6
                    ).alias("sim"),
                    (-s["cid"]).alias("neg_cid"),
                ),
            )
        ),
    )[0]
    assigned = base.select(
        F.col(id_col), F.col("vec"), F.inline_outer(F.array(best))
    ).select(F.col(id_col), "vec", (-F.col("neg_cid")).cast("long").alias("cell"))
    residual = F.zip_with(
        F.col("vec"),
        F.element_at(cent_by_pos, (F.col("cell") + 1).cast("int")),
        lambda a, b: a - b,
    )
    res_df = assigned.select(F.col(id_col), F.col("cell"), residual.alias("res"))
    return pq_encode(
        res_df, res_codebooks, id_col=id_col, vec_col="res", keep_cols=["cell"]
    )


def ivfpq_search_codes(
    codes: DataFrame,
    centroids: list[tuple[int, list[float]]],
    res_codebooks: list[list[list[float]]],
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """Cell-pruned ADC search over a STORED IVF+PQ code relation — the
    persisted-index search face. ``codes`` is (typically) a parquet
    scan of :func:`ivfpq_encode` output written ``partitionBy("cell")``;
    probe cells are selected driver-side from the query vectors, and
    the union of probed cells is applied as an ``isin`` FILTER on the
    scan *before* the broadcast LUT join — semantically redundant with
    the join (inner on ``cell``), but as a static plan literal it
    lands in ``PartitionFilters``, so a partitioned layout opens only
    the ``nprobe``-cell directories (pytest-asserted in
    ``tests/test_similarity.py``). At 100 TB with nlist cells that is
    an ``nprobe/nlist`` scan-fraction cut before a single byte of code
    data is read. Same determinism contract and output schema as
    :func:`ivfpq_topk` (which is now just encode → this).
    """
    from pyspark.sql import Window

    m = len(res_codebooks)
    d = len(res_codebooks[0][0])

    probe_rows = []
    for qid, qvec in queries:
        qv = [float(x) for x in qvec]
        sims = sorted(
            ((seq_cosine(qv, [float(x) for x in c]), -cid) for cid, c in centroids),
            reverse=True,
        )[:nprobe]
        for sim, neg_cid in sims:
            cell = -neg_cid
            cvec = [float(x) for x in centroids[cell][1]]
            qres = [a - b for a, b in zip(qv, cvec)]
            luts = []
            for s in range(m):
                row = []
                for j in range(len(res_codebooks[s])):
                    acc = 0.0
                    for t in range(d):
                        diff = qres[s * d + t] - float(res_codebooks[s][j][t])
                        acc += diff * diff
                    row.append(acc)
                luts.append(row)
            probe_rows.append((int(qid), int(cell), *luts))
    spark = codes.sparkSession
    probe_df = spark.createDataFrame(
        probe_rows,
        "query_id long, cell long, "
        + ", ".join(f"lut{s} array<double>" for s in range(m)),
    )

    # static probe-cell filter: redundant with the join below, but a
    # plan-literal isin reaches PartitionFilters on a cell-partitioned
    # layout — the join key alone can't prune directories at planning
    # time (the probe relation is a runtime row set)
    probed_cells = sorted({int(cell) for _, cell, *_ in probe_rows})
    split = codes.where(F.col("cell").isin(probed_cells)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("cell").cast("long").alias("cell"),
        *[
            F.get(F.split(codes_col, ","), s).cast("int").alias(f"__c{s}")
            for s in range(m)
        ],
    )

    adc = F.round(
        sum(
            F.element_at(F.col(f"lut{s}"), F.col(f"__c{s}") + 1) for s in range(m)
        ),
        6,
    )
    cand = (
        split.join(F.broadcast(probe_df), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", adc.alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def kmeans_fit(
    embeddings: DataFrame,
    k: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """DISTRIBUTED Lloyd k-means over the full table — the trainer that
    scales where :func:`train_kmeans`'s collected-sample fitting stops.

    Each iteration is ONE map-only pass over the corpus: an Arrow-
    batched ``mapInPandas`` task assigns its rows to the max-cosine
    centroid (the same metric as :func:`ivf_assign`, so the fitted
    centroids drive assignment exactly as trained) and accumulates
    per-centroid member counts and vector sums ACROSS its whole
    partition, emitting k partial rows per task. Partials then combine
    with one ``groupBy(cid).applyInPandas`` (k reducers, each summing
    |partitions| fixed-width rows) and the k finished centroids — model
    parameters, not data — collect to the driver for the next
    iteration's closure. Nothing corpus-sized ever shuffles or
    collects: per iteration the shuffle is |partitions| × k rows of
    dim doubles and the collect is k rows, at ANY corpus size.

    Deterministic: init = the k lowest-``id_col`` vectors; float64
    numpy accumulation per partition; partials carry a deterministic
    partition tag (min id seen) and each cid's reducer sorts by it
    before summing, so the non-associative float64 combine order is
    run-to-run stable regardless of shuffle arrival order. Empty
    cells keep their previous centroid (same rule as
    :func:`train_kmeans`). Centroid update is the plain member mean —
    under cosine assignment the centroid's own norm is irrelevant, so
    the mean and the re-normalized (spherical) mean assign
    identically.

    Returns a ``(centroid_id long, centroid array<double>)`` DataFrame
    ready for :func:`ivf_assign` / :func:`semantic_dedup` /
    :func:`cluster_balanced_sample`.
    """
    spark = embeddings.sparkSession
    staged = _drop_invalid_vecs(embeddings, vec_col).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("vec")
    )
    # training additionally excludes non-finite vectors: one NaN
    # element would poison its centroid's running sum forever (and
    # Arrow maps NaN inside nested pandas lists to NULL on the partial
    # frames, crashing the driver-side float() on collect)
    staged = staged.where(
        F.forall(
            F.col("vec"),
            lambda x: x.isNotNull()
            & ~F.isnan(x)
            & (F.abs(x) < F.lit(float("inf"))),
        )
    )
    head = staged.orderBy(id_col).limit(k).collect()
    cents = [[float(x) for x in r["vec"]] for r in head]
    k_eff = len(cents)  # fewer rows than k: fit what exists
    dim = len(cents[0]) if cents else 0

    # empty input: nothing to iterate (and the worker-side
    # np.asarray([]) would be 1-D, crashing the axis-1 norm)
    for _ in range(max(0, iters) if k_eff else 0):
        cmat = [list(c) for c in cents]  # plain lists: pickles by value

        def partials_fn(batches, _cmat=cmat, _k=k_eff, _dim=dim, _id=id_col):
            # self-contained: imports inside (safe off-repo drivers)
            import numpy as np
            import pandas as pd

            C = np.asarray(_cmat, dtype=np.float64)
            cn = np.linalg.norm(C, axis=1)
            cn[cn == 0.0] = np.inf
            Cn = C / cn[:, None]
            sums = np.zeros((_k, _dim), dtype=np.float64)
            counts = np.zeros(_k, dtype=np.int64)
            seen = False
            tag = None  # deterministic partition label: min id seen
            for pdf in batches:
                if not len(pdf):
                    continue
                seen = True
                # by NAME, not position: a reorder of the staged
                # projection must not silently re-tag by vector column
                # and scramble the deterministic combine order
                batch_min = pdf[_id].min()
                if tag is None or batch_min < tag:
                    tag = batch_min
                V = np.array(pdf["vec"].tolist(), dtype=np.float64)
                vn = np.linalg.norm(V, axis=1)
                vn[vn == 0.0] = np.inf
                amax = np.argmax((V / vn[:, None]) @ Cn.T, axis=1)
                np.add.at(sums, amax, V)
                counts += np.bincount(amax, minlength=_k)
            if not seen:
                return
            yield pd.DataFrame(
                {
                    "cid": np.arange(_k, dtype=np.int64),
                    "n": counts,
                    "s": list(sums),
                    "tag": str(tag),
                }
            )

        def combine_fn(pdf):
            import numpy as np
            import pandas as pd

            # float64 addition is not associative: sort partials by
            # their deterministic partition tag so the sum order is
            # run-to-run stable regardless of shuffle arrival order
            # (parquet splits are deterministic, so tags are too)
            pdf = pdf.sort_values("tag", kind="mergesort")
            return pd.DataFrame(
                {
                    "cid": pdf["cid"].iloc[:1],
                    "n": [int(pdf["n"].sum())],
                    "s": [
                        np.array(pdf["s"].tolist(), dtype=np.float64).sum(
                            axis=0
                        )
                    ],
                }
            )

        partials = staged.mapInPandas(
            partials_fn, "cid long, n long, s array<double>, tag string"
        )
        combined = partials.groupBy("cid").applyInPandas(
            combine_fn, "cid long, n long, s array<double>"
        )
        new_cents = list(cents)
        for r in combined.collect():  # k rows — model params only
            if r["n"] > 0:
                new_cents[int(r["cid"])] = [
                    float(x) / r["n"] for x in r["s"]
                ]
        cents = new_cents

    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "centroid_id long, centroid array<double>",
    )


def train_kmeans(points: list[list[float]], k: int, iters: int = 10) -> list[list[float]]:
    """Deterministic driver-side Lloyd k-means: init = the first ``k``
    points, fixed iteration count, sequential float64 arithmetic —
    same-input ⇒ same-output on any machine (model training for the
    IVF/PQ literals; the training SET is a bounded deterministic sample,
    so this is driver-side model fitting, not driver-side data
    processing). Empty clusters keep their previous centroid."""
    cents = [list(p) for p in points[:k]]
    for _ in range(iters):
        groups: list[list[list[float]]] = [[] for _ in range(k)]
        for p in points:
            best = None
            for j, c in enumerate(cents):
                acc = 0.0
                for a, b in zip(p, c):
                    diff = a - b
                    acc += diff * diff
                if best is None or (acc, j) < best:
                    best = (acc, j)
            groups[best[1]].append(p)
        for j, g in enumerate(groups):
            if g:
                n = float(len(g))
                cents[j] = [sum(col) / n for col in zip(*g)]
    return cents


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 10,
    sample: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """K-means-trained PQ codebooks: a deterministic ``sample`` (lowest
    ``id_col`` values — stable across runs/partitionings) is collected
    driver-side and each of the ``m`` contiguous subspaces gets its own
    :func:`train_kmeans` codebook of ``k`` entries. This is the
    production replacement for the first-N-subvector placeholder books:
    same ``pq_encode``/``pq_topk`` plan.

    Measured honestly (r7): on the SYNTHETIC testdata the trained books
    do NOT beat the data-point books (recall 0.275 vs 0.275 at sf0.001,
    0.225 vs 0.263 at sf0.01) — uniform random embeddings have no
    cluster structure for Lloyd to exploit, and its mean-pulled
    centroids lose the diversity that raw data points keep. What
    k-means GUARANTEES (and pytest pins, on a clustered fixture) is
    lower total quantization error when structure exists — which real
    embedding corpora have and this testdata deliberately lacks."""
    rows = (
        _drop_invalid_vecs(embeddings, vec_col)
        .orderBy(id_col)
        .limit(sample)
        .select(vec_col)
        .collect()
    )
    vecs = [[float(x) for x in r[vec_col]] for r in rows]
    if not vecs:
        raise ValueError(
            "train_pq_codebooks: no valid embeddings to train on "
            "(corpus empty or every row null/empty) — a codebook "
            "cannot be fit from zero samples"
        )
    d = len(vecs[0]) // m
    return [
        train_kmeans([v[s * d : (s + 1) * d] for v in vecs], k, iters)
        for s in range(m)
    ]


def train_ivfpq_model(
    embeddings: DataFrame,
    nlist: int = 8,
    m: int = 4,
    k: int = 8,
    iters: int = 10,
    sample: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[tuple[int, list[float]]], list[list[list[float]]]]:
    """Full IVF+PQ model fit from ONE bounded deterministic sample
    (lowest ``id_col`` values): k-means the sample into ``nlist``
    coarse centroids, assign each sample vector to its max-cosine cell
    with the same sequential float64 + 6dp-round + lowest-cid-tiebreak
    replay :func:`ivfpq_encode` runs, then k-means each residual
    subspace into a ``k``-entry codebook. Returns ``(centroids,
    res_codebooks)`` ready for :func:`ivfpq_encode` /
    :func:`ivfpq_search_codes`. Model fitting only — the corpus is
    never collected (same bounded-sample class as
    :func:`train_pq_codebooks`)."""
    rows = (
        _drop_invalid_vecs(embeddings, vec_col)
        .orderBy(id_col)
        .limit(sample)
        .select(vec_col)
        .collect()
    )
    vecs = [[float(x) for x in r[vec_col]] for r in rows]
    if not vecs:
        raise ValueError(
            "train_ivfpq_model: no valid embeddings to train on "
            "(corpus empty or every row null/empty) — a model cannot "
            "be fit from zero samples"
        )
    cents = train_kmeans(vecs, nlist, iters)
    centroids = [(i, c) for i, c in enumerate(cents)]

    residuals = []
    for v in vecs:
        best = max(((seq_cosine(v, c), -cid) for cid, c in centroids))
        cvec = centroids[-best[1]][1]
        residuals.append([a - b for a, b in zip(v, cvec)])
    d = len(vecs[0]) // m
    books = [
        train_kmeans([r[s * d : (s + 1) * d] for r in residuals], k, iters)
        for s in range(m)
    ]
    return centroids, books
