"""Deduplication operators (SURVEY §2.9 — north-star extension).

Five dedup strategies over a ``documents(doc_id, text, ...)`` table, each
designed partition-parallel for 100 TB:

* **exact** — hash-groupBy on (normalized) content; one shuffle keyed by
  the content hash, never by the text itself (64-bit keys shuffle ~100×
  less data than raw documents).
* **MinHash + LSH** — shingle → k minhashes → b bands → bucket-join;
  candidate pairs only ever meet inside a band bucket, so the shuffle is
  O(docs × bands), not O(docs²).
* **SimHash** — 64-bit sign-sum signature; near-dups share signatures at
  small Hamming distance (bucketed by rotated prefixes).
* **n-gram Jaccard** — exact verification join over shared shingles
  (used standalone at small n, or as the verify stage after LSH).
* **embedding cosine** — see :mod:`hive_scripts_spark.operators.similarity`.

All hashing is deterministic (seeded md5/xxhash64) — no ``rand()`` — so
results are reproducible run-to-run and testable against oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_scripts_spark.functions.skew import ensure_parallelism
from hive_scripts_spark.functions.strings import normalize_whitespace

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per exact content group.

    Returns ``(id_col, n_dups)`` — the survivor id and its group size.
    Deterministic survivor choice (min id), unlike ``dropDuplicates``
    whose survivor depends on partition order.
    """
    return df.groupBy(*content_cols).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups")
    ).select(id_col, "n_dups")


def fingerprint_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on the md5 of normalized text. At scale, grouping by a
    fixed-width hash instead of the raw text keeps shuffle rows small and
    dodges wide-value skew."""
    norm_hash = F.md5(normalize_whitespace(text_col)).alias("content_hash")
    return (
        df.select(norm_hash, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups"))
        .select(id_col, "content_hash", "n_dups")
    )


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_chars: int = 10,
) -> DataFrame:
    """Corpus-wide line-level exact dedup (the C4/RefinedWeb curation
    step): every distinct line is kept only at its FIRST occurrence
    (minimal ``(doc_id, position)``); later repeats — boilerplate,
    navigation chrome, license banners — are dropped from their
    documents. Lines shorter than ``min_line_chars`` are exempt (always
    kept): deduping blank/short connector lines would tear document
    structure without removing meaningful duplication.

    Returns ``(id_col, text_deduped, n_lines_kept, n_lines_removed)``;
    documents whose every line was removed vanish from the output.

    Scale posture (de-skewed r10, VERDICT r9 item 3): keeper election
    is ``groupBy(line).agg(min(struct(doc_id, pos)))`` — partial
    aggregation collapses a corpus-hot boilerplate line to ONE row per
    map partition before the exchange, where the previous
    ``row_number`` window (no map-side combine, no AQE skew-splitting
    for windows) concentrated every occurrence of the hottest line in
    a single straggler task. Survivors come back via a semi-join keyed
    on ``(line, doc_id, pos)`` — the 3-part key spreads even the
    hottest line across partitions, so the probe side is skew-free BY
    CONSTRUCTION, independent of AQE. One more shuffle reassembles per
    document. No joins back to the corpus text and no per-document
    state beyond the collected kept-lines array. Deterministic:
    survivor choice is min ``(doc_id, pos)``, reassembly sorts by
    position.
    """
    # stage the split once: the single-projection form evaluates
    # split() three times per row (size, the generator, and the
    # inferred size-guard the non-outer generator gets); the staged
    # alias is multi-referenced and non-cheap, so CollapseProject keeps
    # it, and posexplode_OUTER skips the guard (split is never empty —
    # worst case [""]).
    lines = df.select(
        F.col(id_col), F.split(F.col(text_col), "\n").alias("__l")
    ).select(
        F.col(id_col),
        F.size("__l").alias("__total"),
        F.posexplode_outer("__l").alias("__pos", "__line"),
    )
    exempt = F.length("__line") < min_line_chars
    contested = lines.where(~exempt)
    keepers = contested.groupBy("__line").agg(
        F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__keep")
    )
    survivors = contested.join(
        keepers.select(
            "__line",
            F.col(f"__keep.{id_col}").alias(id_col),
            F.col("__keep.__pos").alias("__pos"),
        ),
        ["__line", id_col, "__pos"],
        "left_semi",
    )
    # exempt (short) lines skip the line-keyed exchange entirely — blank
    # lines are the most frequent strings in any corpus and would
    # otherwise be the hottest shuffle keys
    kept = lines.where(exempt).unionByName(survivors)
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                    lambda s: s["__line"],
                ),
                "\n",
            ).alias("text_deduped"),
            F.count(F.lit(1)).alias("n_lines_kept"),
            (F.first("__total") - F.count(F.lit(1))).alias("n_lines_removed"),
        )
    )


def dedup_lines_within_doc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_chars: int = 10,
) -> DataFrame:
    """Intra-document line dedup: repeated lines WITHIN one document
    keep only their first occurrence; other documents are untouched.

    The per-page complement of :func:`dedup_lines` (corpus-wide
    keep-first): a scraped page that repeats its own navigation block
    or footer five times keeps one copy without any cross-document
    coordination. Lines shorter than ``min_line_chars`` are exempt
    (blank/connector lines are structure, not duplication) — the same
    exemption contract as the corpus-wide pass.

    Returns ``(id_col, text_deduped, n_lines_kept, n_lines_removed)``.
    Unlike the corpus-wide pass no document can vanish (its first
    occurrence always survives).

    Scale: a pure per-row projection — split once, keep-first via a
    positional HOF filter, re-join. ZERO shuffle at any corpus size
    (the whole point: this pass runs before the shuffle-bearing
    corpus-wide ones and shrinks what they carry). The keep-first test
    is ``array_position == own index`` — O(lines²) per doc in the JVM,
    fine at realistic page sizes and still cheaper than one exchange.
    """
    staged = df.select(
        F.col(id_col), F.split(F.col(text_col), "\n").alias("__lines")
    )
    kept = staged.select(
        id_col,
        "__lines",
        F.filter(
            F.col("__lines"),
            lambda x, i: (F.length(x) < min_line_chars)
            | (F.array_position(F.col("__lines"), x) == i + F.lit(1)),
        ).alias("__kept"),
    )
    return kept.select(
        id_col,
        F.array_join("__kept", "\n").alias("text_deduped"),
        F.size("__kept").cast("bigint").alias("n_lines_kept"),
        (F.size("__lines") - F.size("__kept"))
        .cast("bigint")
        .alias("n_lines_removed"),
    )


def strip_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 3,
    min_line_chars: int = 10,
) -> DataFrame:
    """Corpus-wide boilerplate removal: lines appearing in MORE THAN
    ``max_doc_freq`` distinct documents are dropped from EVERY document
    (navigation chrome, cookie banners, license headers). The
    complement of :func:`dedup_lines`: dedup keeps a line's first
    occurrence because the content itself is wanted once; boilerplate
    carries no training signal at ANY occurrence, so it is removed
    everywhere. Lines under ``min_line_chars`` are exempt (structure,
    not signal — and blank lines would be the hottest shuffle keys).

    Returns ``(id_col, text_cleaned, n_lines_kept, n_lines_removed)``;
    documents whose every line was boilerplate vanish from the output.

    Scale posture: doc-frequency is a two-level aggregation (distinct
    (line, doc) partials, then the per-line rollup); the corpus line
    table shuffles once for the distinct and once for positional
    reassembly. The anti-join carries NO broadcast hint: the
    boilerplate set is small for sane thresholds (high-frequency lines
    only), but at ``max_doc_freq=1`` it is every line shared by ≥2
    docs — potentially corpus-scale — and a forced broadcast would
    collect that through the driver; un-hinted, AQE broadcasts when it
    measures small and degrades to a shuffle join when it isn't (the
    same OOM-proofing contract as the minhash verify join).
    Deterministic: reassembly sorts by position.
    """
    # stage the split once: the single-projection form evaluates
    # split() three times per row (size, the generator, and the
    # inferred size-guard the non-outer generator gets); the staged
    # alias is multi-referenced and non-cheap, so CollapseProject keeps
    # it, and posexplode_OUTER skips the guard (split is never empty —
    # worst case [""]).
    lines = df.select(
        F.col(id_col), F.split(F.col(text_col), "\n").alias("__l")
    ).select(
        F.col(id_col),
        F.size("__l").alias("__total"),
        F.posexplode_outer("__l").alias("__pos", "__line"),
    )
    exempt = F.length("__line") < min_line_chars
    candid = lines.where(~exempt)
    boilerplate = (
        candid.select("__line", id_col)
        .distinct()
        .groupBy("__line")
        .agg(F.count(F.lit(1)).alias("__d"))
        .where(F.col("__d") > max_doc_freq)
        .select(F.col("__line").alias("__bpline"))
    )
    kept_long = candid.join(
        boilerplate,
        F.col("__line") == F.col("__bpline"),
        "left_anti",
    )
    kept = lines.where(exempt).unionByName(kept_long)
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("text_cleaned"),
        F.count(F.lit(1)).alias("n_lines_kept"),
        (F.first("__total") - F.count(F.lit(1))).alias("n_lines_removed"),
    )


def remove_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    parallelism: int | None = None,
) -> DataFrame:
    """ExactSubstr-style repeated-span removal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499):
    every ``k``-word span that occurs MORE THAN ONCE anywhere in the
    corpus — across documents or within one — survives only at its
    first occurrence (lowest ``(doc_id, position)``); every other
    occurrence's token positions are cut from their documents.

    The span-granular complement of the document-granular passes:
    near-dup/minhash drops whole documents, :func:`strip_boilerplate`
    drops whole lines, this removes the duplicated *passage* while
    keeping the unique remainder of the page. Published measurements
    (the paper's ExactSubstr, suffix-array based, 50-token threshold)
    show this catches ~10× more duplicate text than document-level
    dedup on web corpora.

    Returns ``(id_col, text_cleaned, n_tokens_kept, n_tokens_removed)``
    for EVERY input document (documents shorter than ``k`` tokens pass
    through untouched). Tokenization is ``trim`` + whitespace split and
    the cleaned text rejoins with single spaces — layout inside the
    surviving tokens is normalized, the documented trade of every
    token-granular pass here.

    Scale shape: the suffix array the paper builds is a single-machine
    structure; the distributed re-expression is hash-grouped span
    occurrences — each document emits its ``n-k+1`` overlapping span
    hashes POSITIONALLY (an array-level ``transform`` over a staged
    token array: no token-granular explode, ONE md5 per span split into
    two 60-bit longs = 120-bit keys, birthday-safe past 10^17 spans —
    the 60-bit single-long form was collision-prone around 10^9), and
    only ``(doc_id, pos, h1, h2)`` rows shuffle, keyed on the span
    hash — O(total tokens) rows of fixed width, never the text itself.

    Keeper election (de-skewed r10, VERDICT r9 item 3): ``groupBy(h1,
    h2).agg(min(struct(doc_id, pos)), count)`` — both aggregates
    partial-combine map-side, so a corpus-hot boilerplate span (exactly
    what this operator exists to find) reduces to ONE row per map
    partition before the exchange, where the previous ``row_number``
    window (no partial agg, no AQE skew-splitting for windows) made it
    a single straggler task. Occurrences join back to the duplicated-
    hash set on ``(h1, h2)`` — the dup side is one row per hash so the
    join is 1:1 (no fan-out), and a hot probe partition is AQE-skew-
    splittable (plain equi-join). No per-hash occurrence cap is needed
    under this formulation: the aggregate is partial-combined and the
    join output is bounded by the occurrence count itself. Cut
    positions aggregate per document — rare by definition in a mostly-
    clean corpus — and join back UN-hinted (AQE broadcasts the small
    cut side; degrades to a shuffle join on a pathological all-
    duplicate corpus instead of OOMing the driver, the same contract as
    the minhash verify join). The final cut is a per-row positional
    ``filter`` — no exchange.
    """
    # span hashing is md5-dense per row; single-row-group local inputs
    # scan on one task, so a pre-repartition buys full-core parallelism
    # (same knob + rationale as minhash_lsh_pairs / table_fingerprint).
    # Width-gated (r20): a many-file lake's scan is already wide, so the
    # repartition self-disables there instead of shuffling the payload.
    df = ensure_parallelism(df, parallelism)
    staged = df.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
    )
    grams = staged.select(
        id_col,
        "__toks",
        F.when(
            F.size("__toks") >= k,
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - k),
                lambda i: F.md5(F.concat_ws(" ", F.slice("__toks", i + 1, k))),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("__grams"),
    )
    # posexplode_OUTER, not posexplode: InferFiltersFromGenerate gives
    # the non-outer generator a pushed-down `size(__grams) > 0` guard
    # with full expression substitution — the whole md5-span transform
    # re-evaluates inside the filter (measured 4.6 s vs 0.45 s at
    # sf0.1, the same ≈10× trap as minhash_band_buckets). The outer
    # variant is exempt; short docs emit one NULL row dropped right
    # after (a filter on the generator OUTPUT — nothing to substitute).
    occ = (
        grams.select(
            F.col(id_col), F.posexplode_outer("__grams").alias("__pos", "__m")
        )
        .where(F.col("__m").isNotNull())
        .select(
            id_col,
            "__pos",
            F.conv(F.substring("__m", 1, 15), 16, 10).cast("long").alias("__h1"),
            F.conv(F.substring("__m", 17, 15), 16, 10).cast("long").alias("__h2"),
        )
    )
    dup_keepers = (
        occ.groupBy("__h1", "__h2")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__keep"),
            F.count(F.lit(1)).alias("__cnt"),
        )
        .where(F.col("__cnt") > 1)
        .select("__h1", "__h2", "__keep")
    )
    cuts = (
        occ.join(dup_keepers, ["__h1", "__h2"])
        .where(
            ~(
                (F.col(id_col) == F.col(f"__keep.{id_col}"))
                & (F.col("__pos") == F.col("__keep.__pos"))
            )
        )
        .groupBy(id_col)
        .agg(F.collect_list("__pos").alias("__cut_starts"))
    )
    # the final cut needs only __toks — joining `staged` (not `grams`)
    # spares the join branch a second full evaluation of the md5-span
    # transform (DataFrame branches share no CSE)
    joined = staged.join(cuts, id_col, "left")
    kept = joined.select(
        id_col,
        F.size("__toks").alias("__total"),
        F.when(F.col("__cut_starts").isNull(), F.col("__toks"))
        .otherwise(
            F.filter(
                "__toks",
                lambda x, i: ~F.exists(
                    "__cut_starts", lambda s: (s <= i) & (i < s + k)
                ),
            )
        )
        .alias("__kept"),
    )
    return kept.select(
        id_col,
        F.concat_ws(" ", "__kept").alias("text_cleaned"),
        F.size("__kept").cast("bigint").alias("n_tokens_kept"),
        (F.col("__total") - F.size("__kept"))
        .cast("bigint")
        .alias("n_tokens_removed"),
    )


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """``(id, shingles array<string>)`` — distinct word n-grams per doc.

    Built as a **staged pipeline** (tokenize → ngram → distinct), each
    stage a separate projection so CollapseProject cannot inline an
    expensive expression into multiple call sites (that duplication costs
    ~30× on this path — see project memory / PLANS.md). Map-only: no
    shuffle, no explode.
    """
    toks = df.select(
        F.col(id_col), F.split(normalize_whitespace(text_col), " ").alias("__toks")
    )
    # docs shorter than n tokens have no shingles — filter HERE, on the
    # cheap token count: a filter on the final shingle array would be
    # predicate-pushed below the staging projections with full expression
    # substitution, re-evaluating the whole ngram chain (measured ~20×)
    t = F.col("__toks")
    ngrams = toks.where(F.size(t) >= n).select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(t, i + k) for k in range(n)]),
        ).alias("__ngrams"),
    )
    return ngrams.select(
        F.col(id_col), F.array_distinct(F.col("__ngrams")).alias("shingles")
    )


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Exploded distinct (id, shingle) pairs — the input of the Jaccard
    shingle-equi-join. (explode_outer: see minhash_band_buckets — avoids
    the InferFiltersFromGenerate fold-recompute; short docs are already
    filtered so the arrays are non-empty.)"""
    return shingle_sets(df, text_col, id_col, n).select(
        F.col(id_col), F.explode_outer("shingles").alias("shingle")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact pairwise over shared shingles)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_docs: int | None = 100_000,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard ≥ threshold.

    Join strategy: pairs meet **only through shared shingles** (equi-join
    on the shingle), so disjoint documents never pair up — no cross join.
    Shuffle keys are shingle hashes; hot shingles are the skew risk, which
    AQE skew-join splitting handles (enabled in the session factory).
    Returns ``(a_id, b_id, n_common, n_a, n_b, jaccard)`` with a < b.

    **Scale guard**: a hot shingle shared by *m* docs contributes m²/2
    join rows, so the exhaustive equi-join is quadratic inside a hot
    bucket — fine as the verify stage after LSH blocking, a scale-killer
    as the default on a 100 TB corpus. Inputs larger than ``max_docs``
    documents are therefore routed through banded-MinHash blocking
    (:func:`minhash_band_buckets`): candidates meet only inside a
    (band, bucket), bounding the pair space to O(docs × bands), and are
    then exactly Jaccard-verified — same output schema, near-total
    recall at threshold ≥ ~0.5 with the default 32 hashes / 8 bands.
    The switch is **loud** (a ``UserWarning`` on the driver), because
    blocking can miss true pairs; callers whose semantics are
    exact-by-contract (e.g. the ``*_exact`` registry queries) pass
    ``max_docs=None`` to force the exhaustive join regardless of size.
    Both regimes threshold on the same ``round(jaccard, 6)`` value, so
    boundary pairs cannot differ between them.
    """
    if max_docs is not None:
        # bounded probe, not a full count: LocalLimit stops the scan early
        if df.select(id_col).limit(max_docs + 1).count() > max_docs:
            import warnings

            warnings.warn(
                f"ngram_jaccard_pairs: input exceeds max_docs={max_docs}; "
                "routing through banded-MinHash LSH blocking (approximate "
                "candidate generation, exact verify). Pass max_docs=None "
                "to force the exhaustive equi-join.",
                UserWarning,
                stacklevel=2,
            )
            return _lsh_routed_jaccard_pairs(df, text_col, id_col, n, threshold)
    sh = shingle_table(df, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    # shared shuffle before the self-join (see simhash_near_pairs): the
    # shingle pipeline (tokenize + md5 per gram) otherwise re-evaluates
    # once per join branch under a broadcast self-join; rows are narrow
    # (id, gram-hash), so the repartition adds no payload and AQE
    # reuses the single shuffle stage for both branches.
    sh = sh.repartition("shingle")
    a = sh.toDF("a_id", "shingle")
    b = sh.toDF("b_id", "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.toDF("a_id", "n_a")
    sb = sizes.toDF("b_id", "n_b")
    out = (
        common.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("a_id", "b_id", "n_common", "n_a", "n_b", "jaccard")


def _lsh_routed_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int, threshold: float
) -> DataFrame:
    """`ngram_jaccard_pairs` above its doc cap: LSH-blocked candidates,
    exact Jaccard verify, identical output schema to the exhaustive path
    (``n_common``/``n_a``/``n_b`` from the shingle sets directly)."""
    sets = shingle_sets(df, text_col, id_col, n)
    candidates = _band_candidates(
        _xxhash64_band_rows(sets, id_col, num_hashes=32, bands=8)
    )
    n_common = F.size(F.array_intersect("a_sh", "b_sh")).cast("long")
    n_a = F.size("a_sh").cast("long")
    n_b = F.size("b_sh").cast("long")
    return (
        candidates.join(sets.toDF("a_id", "a_sh"), "a_id")
        .join(sets.toDF("b_id", "b_sh"), "b_id")
        .select(
            "a_id",
            "b_id",
            n_common.alias("n_common"),
            n_a.alias("n_a"),
            n_b.alias("n_b"),
            F.round(
                n_common.cast("double") / (n_a + n_b - n_common), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def _cap_buckets(banded: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Drop (band, bucket) groups larger than the cap via a count
    window over the banded frame.

    Why a window and not a size-agg + broadcast anti-join: the agg
    form's input is a SECOND evaluation of the whole signature chain
    (no reuse across the agg and the pair join — the chain recomputes),
    measured 10.9 s vs 4.0 s for this form on the sf0.1 portable path.
    The window's (band, bucket) exchange is the same partitioning the
    pair join needs, so the capped frame shuffles once; a degenerate
    hot bucket lands on one task either way — that's precisely the
    bucket being dropped."""
    if max_bucket_size is None:
        return banded
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket")
    return (
        banded.withColumn("__m", F.count(F.lit(1)).over(w))
        .where(F.col("__m") <= max_bucket_size)
        .drop("__m")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """Per-doc MinHash signature: for each of ``num_hashes`` seeded hash
    functions, the min hash over the doc's shingle set.

    **Map-only**: the shingle array never explodes — each signature slot
    is ``array_min(transform(shingles, s -> xxhash64(seed, s)))``, a JVM
    higher-order-function projection. Zero shuffle; at 100 TB the
    signature stage costs one scan. (The exploded-groupBy formulation
    shuffles every (doc, shingle) pair — ~50× more bytes.)

    Docs with no shingles (shorter than ``n`` tokens) are dropped (they
    cannot near-dup by shingle overlap).

    Returns ``(id, minhash array<long>)`` — kept as one array column:
    extracting 32 scalar columns would let CollapseProject inline the
    fold 32× (array extraction counts as "cheap"), re-running it per
    slot. Callers needing per-band buckets use
    :func:`minhash_band_buckets`, which derives them inside the fold's
    ``finish`` lambda where the accumulator is a variable, not a
    re-evaluated expression.
    """
    sets = shingle_sets(df, text_col, id_col, n)  # already drops shingle-less docs
    return sets.select(
        F.col(id_col), _minhash_fold(F.col("shingles"), num_hashes).alias("minhash")
    )


def _minhash_fold(shingles, num_hashes: int, finish=None):
    """Single-pass MinHash fold over PRE-HASHED shingles.

    Each shingle string is xxhash64-ed ONCE (the ``transform`` input of
    the aggregate is evaluated once per row — safe to inline); the
    ``num_hashes`` per-seed values then re-hash that single 64-bit
    value under seeded xxhash64. Hashing a fixed 8-byte long is much
    cheaper than hashing a ~20-byte UTF-8 shingle string, so per
    shingle this replaces ``num_hashes`` string hashes with one string
    hash + ``num_hashes`` long hashes. (A multiply-shift family would
    be cheaper still, but ANSI mode — Spark 4's default — raises on
    the wrapping multiply.) Seeded-xxhash64-of-xxhash64 stays a
    uniform family; the exact-Jaccard verify stage downstream makes
    candidate-set composition a recall knob, never a correctness one.
    """
    max_long = (1 << 63) - 1
    hashed = F.transform(shingles, lambda s: F.xxhash64(s))
    return F.aggregate(
        hashed,
        F.array_repeat(F.lit(max_long).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[F.xxhash64(F.lit(seed), h) for seed in range(num_hashes)]),
            lambda a, b: F.least(a, b),
        ),
        *( [finish] if finish is not None else [] ),
    )


def _bands_from_signature(sig, num_hashes: int, bands: int):
    """Band-bucket array of a MinHash signature: band ``b``'s bucket is
    ``xxhash64(b, rows...)`` over its ``num_hashes // bands`` slots.
    One definition for the fold's ``finish`` lambda
    (:func:`minhash_band_buckets`) and for STORED signatures (the
    persisted index), so an index built from signatures interoperates
    with the recompute chain by construction."""
    rows_per_band = num_hashes // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            b,
            *[
                F.element_at(sig, b * rows_per_band + r + 1)
                for r in range(rows_per_band)
            ],
        ),
    )


def _xxhash64_band_rows(
    sets: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """``(id, band, bucket)`` of the production (xxhash64) family over
    ``sets = (id_col, shingles)``.

    The band buckets are computed in the fold's ``finish`` lambda —
    ``acc`` there is a lambda variable, so hashing it per band costs one
    array read, not one fold re-evaluation (the CollapseProject trap).
    """
    bucketed = sets.select(
        F.col(id_col),
        _minhash_fold(
            F.col("shingles"),
            num_hashes,
            lambda acc: _bands_from_signature(acc, num_hashes, bands),
        ).alias("__buckets"),
    )
    # posexplode_OUTER: InferFiltersFromGenerate adds a pushed-down
    # `size(__buckets) > 0` guard for non-outer generators, substituting
    # the whole fold into the filter (≈3× recompute). The outer variant is
    # exempt, and the bucket array is always exactly `bands` long anyway.
    return bucketed.select(
        F.col(id_col), F.posexplode_outer("__buckets").alias("band", "bucket")
    )


def _md5_band_rows(
    sets: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """``(id, band, bucket)`` of the engine-portable (md5) family — the
    only stage :func:`minhash_lsh_pairs_portable` does not share with
    the production path, and the one its DuckDB oracle replays: slot
    ``i`` is the min over shingles of a 32-bit window of
    ``md5(seed | shingle)``; band ``b``'s bucket is the md5 of
    ``"<b>:<slots, comma-joined>"``."""
    rows_per_band = num_hashes // bands
    # hash family i = disjoint 8-hex (32-bit) window ⌊i/4⌋·4 of
    # md5(seed(i) | shingle): md5 bits are uniformly mixed, so disjoint
    # windows of one digest act as independent uniform draws — 4 hash
    # functions per md5 call means num_hashes/4 md5s per shingle instead
    # of num_hashes (measured ~3× on the signature stage). Staged in two
    # projections so each digest is computed once, then windowed.
    n_digests = (num_hashes + 3) // 4
    digests = F.transform(
        F.col("shingles"),
        lambda s: F.array(
            *[
                F.md5(F.concat_ws("|", F.lit(str(seed)), s))
                for seed in range(n_digests)
            ]
        ),
    )
    staged = sets.select(F.col(id_col), "shingles", digests.alias("__dg"))
    def _window(i):
        # closure factory keeps the lambda 1-ary: a 2-ary lambda would
        # receive the ARRAY INDEX as its second argument (pyspark infers
        # arity), clobbering a captured `i=i` default
        return lambda d: F.conv(
            F.substring(d[i // 4], 1 + 8 * (i % 4), 8), 16, 10
        ).cast("long")

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("__dg"), _window(i)))
            for i in range(num_hashes)
        ]
    )
    signed = staged.select(F.col(id_col), sig.alias("__sig"))
    buckets = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(str(b)),
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(
                                F.col("__sig"), b * rows_per_band + r + 1
                            ).cast("string")
                            for r in range(rows_per_band)
                        ],
                    ),
                )
            )
            for b in range(bands)
        ]
    )
    return signed.select(
        F.col(id_col), F.posexplode_outer(buckets).alias("band", "bucket")
    )


def minhash_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """``(id, band, bucket)`` rows: the LSH blocking keys of the
    production (xxhash64) family."""
    sets = shingle_sets(df, text_col, id_col, n)  # already drops shingle-less docs
    return _xxhash64_band_rows(sets, id_col, num_hashes, bands)


def _band_candidates(banded: DataFrame) -> DataFrame:
    """Distinct ``(a_id, b_id)`` pairs, ``a_id < b_id``, of docs that
    share any ``(band, bucket)`` of ``banded = (id, band, bucket)``.

    NO explicit repartition before the self-join (r20, reverting the
    r19 "shared shuffle AQE reuses" bet — VERDICT r19 item 1): the
    runtime A/B (OPTIMIZATION_r20.md §1; plans/r20/minhash_ab_*)
    measured the repartitioned form SLOWER at sf0.1 (best 1.375 vs
    1.138 s) AND at a 50k-doc synthetic 10× (2.426 vs 2.421 s, 14 vs
    9 exchanges), because at broadcastable sizes AQE picks a BHJ for
    the candidate join — the forced exchange is pure overhead — while
    the raw-scan exchange is ALREADY ReusedExchange across branches in
    the executed plan either way. Above broadcast size the join plans
    one canonically-identical exchange per branch, which AQE's stage
    cache dedupes without any help from us.
    """
    lhs = banded.toDF("a_id", "band", "bucket")
    rhs = banded.toDF("b_id", "band", "bucket")
    return (
        lhs.join(rhs, ["band", "bucket"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def _minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    max_bucket_size: int | None,
    band_rows,
) -> DataFrame:
    """The banded-MinHash LSH pipeline shared by both hash families:
    ``shingle_sets`` (once) → ``band_rows`` (the family's
    ``(id, band, bucket)``) → :func:`_cap_buckets` →
    :func:`_band_candidates` → :func:`_verify_pairs_jaccard`."""
    sets = shingle_sets(df, text_col, id_col, n)
    banded = _cap_buckets(band_rows(sets, id_col, num_hashes, bands), max_bucket_size)
    return _verify_pairs_jaccard(_band_candidates(banded), sets, id_col, threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    parallelism: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH, verified by exact
    Jaccard over shingles.

    Pipeline (all DataFrame ops, SURVEY §2.9):
    shingle → minhash (k=num_hashes) → band signatures (r=k/bands rows
    per band, xxhash64-combined) → explode bands → groupBy band bucket →
    candidate pairs → exact-Jaccard verify join.

    Scale: candidates meet only inside (band, bucket) groups; bucket
    sizes are the skew knob — more bands/rows sharpen the S-curve. The
    verify join reuses :func:`ngram_jaccard_pairs` machinery on the
    candidate semi-join, so verification cost is O(candidates), not
    O(docs²).

    ``max_bucket_size`` (off by default) drops (band, bucket) groups
    holding more than that many docs before pairing: a degenerate bucket
    of *m* docs emits m²/2 candidates, and at corpus scale such buckets
    are near-always boilerplate/empty-ish signatures. Docs in a dropped
    bucket can still pair through their other ``bands − 1`` buckets, so
    recall only degrades for docs whose EVERY band is hot (true
    boilerplate — usually exactly what dedup wants to ignore or handle
    via exact dedup first). The cap is a count window riding the pair
    join's own (band, bucket) partitioning — see :func:`_cap_buckets`
    for why not a size-agg + anti-join (2.7× measured).
    """
    # signature computation is CPU-dense per row; when the source has
    # fewer input splits than cores (single-row-group files — the local
    # testdata case), a pre-repartition buys full-core parallelism.
    # Width-gated (r20): on a many-file lake the scan is already wide
    # and ensure_parallelism self-disables instead of moving the bytes.
    # It reads the width of the caller's (scan-rooted) frame, before
    # any stage of the pipeline is planned on top of it.
    df = ensure_parallelism(df, parallelism)
    return _minhash_lsh_pairs(
        df, text_col, id_col, n, num_hashes, bands, threshold,
        max_bucket_size, _xxhash64_band_rows,
    )


def _verify_pairs_jaccard(
    candidates: DataFrame, sets: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify of ``(a_id, b_id)`` candidate pairs against
    ``sets = (id_col, shingles)``: two id-keyed joins attach each
    side's shingle array, then one in-row intersect/union fold.

    Formulation history (r6→r7): a "single-pass" variant melted the
    pairs onto one scan of ``sets`` and reassembled both arrays with a
    pair-keyed groupBy, on the theory that evaluating the
    tokenize→shingle lineage once instead of twice must win. The
    same-session A/B (PLANS.md, ``x_dedup_minhash_lsh`` row) falsified
    it at every size: equal at 5k docs (0.52 vs 0.47 s) and 20k (0.75
    vs 0.63 s), and **3.7× slower at 80k docs / 665k candidates** (16.0 vs 4.4 s)
    — the melt's extra pair-keyed exchange ships a shingle-array copy
    per (pair, side) row, which is exactly the O(candidates × array)
    traffic the theory ignored, while the two-join form lets AQE
    broadcast ``sets`` (no shuffle at all at sf0.1: 1 exchange total in
    the executed plan) or, above broadcast size, shuffle arrays once
    per side. Measurements over theory: the two-join form is the
    default.

    NO broadcast hints anywhere in the verify: a pathological corpus
    (degenerate buckets, heavy boilerplate) can emit millions of
    candidates, and a forced broadcast then OOMs — observed live on
    the 16×-duplicated 80k-doc A/B corpus. AQE's runtime size check
    picks BHJ when safe and degrades to a shuffle join when not.
    """
    a_side = sets.toDF("a_id", "a_sh")
    b_side = sets.toDF("b_id", "b_sh")
    return (
        candidates.join(a_side, "a_id")
        .join(b_side, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
                / F.size(F.array_union("a_sh", "b_sh")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def portable_hash60(*cols) -> F.Column:
    """Deterministic 60-bit hash identical across Spark and DuckDB:
    the first 15 hex digits of ``md5('|'-joined inputs)`` as a bigint.
    DuckDB twin: ``cast(('0x' || substr(md5(a || '|' || b), 1, 15)) as
    bigint)``. Always positive (< 2^60), so modular arithmetic downstream
    agrees between the engines' differing ``%``-on-negative semantics.

    Slower than ``xxhash64`` (md5 + hex decode per call) — this is the
    *gradable* hash family; production LSH paths keep xxhash64.
    """
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10
    ).cast("long")


def minhash_lsh_pairs_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """:func:`minhash_lsh_pairs` with an engine-portable (md5-based)
    hash family (:func:`_md5_band_rows`), so the ENTIRE pipeline —
    shingle → minhash → banded buckets → candidate pairs → exact-Jaccard
    verify — is replicable verbatim in ANSI-SQL/DuckDB and
    value-gradable end-to-end. Every stage but the hash family is the
    production pipeline itself, so the oracle grades the shared
    machinery (bucket cap, candidate self-join, pair dedup, verify).

    ``max_bucket_size`` is :func:`minhash_lsh_pairs`'s degenerate-
    bucket guard, so the skew knob itself is value-gradable — the
    capped registry twin replays the cap in its oracle.

    The md5 family costs more than xxhash64 even with its digest
    windowing — use :func:`minhash_lsh_pairs` for production corpora.
    """
    return _minhash_lsh_pairs(
        df, text_col, id_col, n, num_hashes, bands, threshold,
        max_bucket_size, _md5_band_rows,
    )


def dedup_keep_min(pairs: DataFrame, df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Resolve near-dup pairs to a survivor set: drop every doc that pairs
    with a smaller id (one pass of min-id propagation — for chains, union
    with iterated passes or connected components; single pass is the
    standard large-scale approximation)."""
    losers = pairs.select(F.col("b_id").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def near_dup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Quality-aware survivor per near-dup cluster.

    :func:`dedup_keep_min` keeps the *lowest-id* doc — fast but blind to
    quality. This resolves the pair list into full clusters (transitive:
    A~B, B~C ⇒ one cluster even if A,C never paired) via
    :func:`~hive_scripts_spark.operators.cluster.connected_components`,
    then keeps the cluster's BEST doc: max ``quality_col``, ties to the
    lowest id. Docs in no cluster survive as their own singleton.

    Contract: ``quality_col`` must be numeric (asserted — it is negated
    inside the ordering struct; a value of exactly ``LONG_MIN`` would
    overflow, which no realistic quality score reaches). NULL quality
    always loses (a dedicated null-flag field, not engine-specific
    NULL-struct ordering). ``id_col`` may be ANY orderable type — it is
    never negated or cast, and ``survivor_id`` keeps its input dtype.

    Returns ``(component, survivor_id, n_members)``.

    Scale shape: components is O(log diameter) pointer-jumping rounds
    over the (tiny, pairs-only) edge list; cluster membership is a
    left join of docs against the O(duplicated docs) label frame; the
    survivor pick is ONE groupBy with a map-side-partial ``min`` of a
    (quality-is-null, -quality, id) struct — no window, no per-cluster
    sort.
    """
    from pyspark.sql.types import NumericType

    from hive_scripts_spark.operators.cluster import connected_components

    if not isinstance(df.schema[quality_col].dataType, NumericType):
        raise TypeError(
            f"quality_col {quality_col!r} must be numeric, got "
            f"{df.schema[quality_col].dataType.simpleString()} (the "
            "survivor pick negates it for descending struct order)"
        )
    comp = connected_components(pairs)
    member = (
        df.select(F.col(id_col), F.col(quality_col))
        .join(comp, F.col(id_col) == F.col("node"), "left")
        .select(
            F.col(id_col),
            F.col(quality_col),
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )
    q = F.col(quality_col)
    best = member.groupBy("component").agg(
        F.min(
            F.struct(
                F.when(q.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("qnull"),
                (-F.coalesce(q, F.lit(0))).alias("neg_q"),
                F.col(id_col).alias("sid"),
            )
        ).alias("__b"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return best.select(
        "component",
        F.col("__b.sid").alias("survivor_id"),
        F.col("n_members").cast("long").alias("n_members"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    word_hash=None,
) -> DataFrame:
    """``bits``-wide SimHash per document (default 64).

    Each token hashes to ``bits`` bits; bit *i* of the signature is the
    sign of ``sum over tokens of (bit_i ? +1 : -1)``. Expressed as one
    projection: the per-bit sums are a fold over the token array (JVM
    higher-order functions, no UDF, no shuffle).

    ``word_hash``: column function mapping a token to a long whose low
    ``bits`` bits feed the signature — defaults to ``xxhash64``
    (production); the portable twin passes the md5-based family so the
    whole pipeline replays in DuckDB."""
    # staged: tokenize once, hash each token once, THEN fold bit-sums.
    # (hashing inside the per-bit extraction would re-run the hash `bits`
    # times per token — the expression-duplication trap, see shingle_sets)
    if word_hash is None:
        word_hash = F.xxhash64
    toks = df.select(
        F.col(id_col), F.split(normalize_whitespace(text_col), " ").alias("__toks")
    )
    hashed = toks.select(
        F.col(id_col),
        F.transform(F.col("__toks"), lambda w: word_hash(w)).alias("__h"),
    )
    # `h` is a lambda variable (cheap reference) — the unrolled shiftrights
    # read it, they don't recompute it. Shift amounts must be static ints.
    # Both the per-bit fold and the sign-recombine chain render as ONE
    # SQL string each (r19): the per-element Column form cost ~600 py4j
    # round trips of pure driver time per call at bits=64; the parsed
    # trees (shiftright/&/CASE/shiftleft, same left-assoc OR chain) are
    # the identical expressions, so signatures are bit-identical.
    bit_exprs = ",".join(
        f"CAST((shiftright(h, {i}) & 1) AS BIGINT)" for i in range(bits)
    )
    sums_col = F.expr(
        f"aggregate(__h, array_repeat(CAST(0 AS BIGINT), {bits}), "
        f"(acc, h) -> zip_with(acc, array({bit_exprs}), "
        "(a, b) -> a + (b * 2 - 1)))"
    )
    staged = hashed.select(F.col(id_col), sums_col.alias("__sums"))
    sig_terms = " | ".join(
        f"(CASE WHEN get(__sums, {i}) > 0 "
        f"THEN shiftleft(CAST(1 AS BIGINT), {i}) "
        "ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )
    sig = F.expr(f"CAST(0 AS BIGINT) | {sig_terms}")
    return staged.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_bits: int = 16,
    bits: int = 64,
    word_hash=None,
    max_hamming: int = 3,
    parallelism: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs whose SimHash shares one of
    ``bits // prefix_bits`` rotated prefixes (standard 64-bit /
    ≤3-Hamming blocking scheme); verified by exact Hamming distance
    ≤ ``max_hamming``. ``bits``/``word_hash`` thread through to
    :func:`simhash` (the portable twin narrows to 32-bit md5-family
    signatures with 8-bit blocks). ``parallelism``: width-gated
    pre-repartition for single-row-group local inputs whose scan would
    otherwise run the whole tokenize+hash+fold signature stage on one
    task (same knob + rationale as :func:`minhash_lsh_pairs`); on an
    already-wide many-file lake it self-disables."""
    df = ensure_parallelism(df, parallelism)
    sigs = simhash(df, text_col, id_col, bits=bits, word_hash=word_hash)
    blocks = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("block"),
                        F.shiftright(F.col("simhash"), k * prefix_bits)
                        .bitwiseAND(F.lit((1 << prefix_bits) - 1))
                        .alias("key"),
                    )
                    for k in range(bits // prefix_bits)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.block").alias("block"), F.col("bk.key").alias("key"))
    # NO explicit repartition before the self-join (r20, reverting the
    # r10 shared-shuffle posture here): the r10 "5.1 -> 2.1 s" win
    # predates the parallelism pre-repartition (whose round-robin
    # exchange is now the ReusedExchange both branches read) and the
    # re-measured trade flipped — the r20 alternating A/B
    # (OPTIMIZATION_r20.md §5,
    # plans/r20/selfjoin_simhash_{on,off}_final.txt) reads off FASTER:
    # best 0.92 vs 1.99 s over 5 reps, and 0.868 vs 1.180 s on the
    # quietest alternating pair (9 vs 12 exchanges). At broadcastable
    # sizes the forced exchange is pure overhead; above broadcast range
    # the join plans canonically-identical exchanges per branch that
    # AQE's stage cache dedupes, so the fold still evaluates once.
    a = blocks.toDF("a_id", "a_sig", "block", "key")
    b = blocks.toDF("b_id", "b_sig", "block", "key")
    pairs = (
        a.join(b, ["block", "key"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_sig", "b_sig")
        .distinct()
    )
    hamming = F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
    return pairs.select("a_id", "b_id", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def simhash_near_pairs_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """:func:`simhash_near_pairs` with the engine-portable md5 word-hash
    family on a 32-bit signature (8-bit rotated prefix blocks, Hamming
    ≤ 3 verify) — the whole pipeline replays verbatim in the DuckDB
    oracle, value-grading the SimHash machinery the same way the
    portable minhash/hyperplane twins grade theirs. Production stays on
    the 64-bit xxhash64 form."""

    def word_hash(w):
        return portable_hash60(F.lit("s"), w) % F.lit(4294967296).cast("long")

    return simhash_near_pairs(
        df.where(F.length(normalize_whitespace(text_col)) > 0),
        text_col,
        id_col,
        prefix_bits=8,
        bits=32,
        word_hash=word_hash,
        max_hamming=1,
        parallelism=parallelism,
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (cross-corpus n-gram overlap)
# ---------------------------------------------------------------------------


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document count of distinct word-``n``-grams shared with a
    benchmark/eval set — the standard train-set decontamination check
    (docs with any overlap get dropped or audited before training).

    Returns ``(id, n_shared_grams)`` for corpus docs with ≥1 shared gram.

    Scale shape: the benchmark side is small by definition (eval sets are
    thousands of docs, the corpus is billions), so its distinct gram set
    **broadcasts** and the corpus side stays map-only through tokenize →
    ngram → explode → broadcast-semi — the only exchange is the final
    per-doc count, keyed on ``id``. Both shingle pipelines reuse
    :func:`shingle_sets`'s staged projections (Catalyst-trap-safe).
    """
    bench_grams = (
        shingle_table(benchmark, text_col, id_col, n)
        .select("shingle")
        .distinct()
    )
    corpus_grams = shingle_table(corpus, text_col, id_col, n)
    return (
        corpus_grams.join(F.broadcast(bench_grams), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def bloom_contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bits_per_gram: int = 16,
    num_hashes: int = 4,
    route: str = "auto",
    literal_max_docs: int = 1_000,
) -> DataFrame:
    """:func:`contamination_overlap` with a **Bloom prefilter** —
    identical results (Bloom filters have no false negatives; false
    positives die in the exact verify join), different scale posture.

    Two build routes, keyed on benchmark size (``route='auto'`` counts
    the bench docs — one cheap small-side job — and picks; ``'literal'``
    / ``'distributed'`` force):

    * **literal** (bench ≤ ``literal_max_docs`` docs; default 1000 —
      at a 10k-doc bench the literal route measured 17.9 s vs the
      distributed route's 2.0 s, while at 1k it is the fastest of all
      three shapes): the original r7
      shape — one driver collect of the bench grams+hashes, bitset
      folded in python and embedded as ONE parsed plan-literal array,
      verify against a LocalRelation of the collected grams. Cheapest
      when the bitset is KBs and the gram list fits a collect.
    * **distributed** (above the threshold): nothing gram-shaped ever
      reaches the driver — grams → k probe positions → ``bit_or`` of
      the shifted bits grouped by bitset word (a small-side agg whose
      output is bounded by the BITSET size, not the gram count) →
      driver assembles the word array (≤ m/64 longs) and ships it as a
      ONE-ROW broadcast relation (a 1-row BroadcastNestedLoopJoin —
      constant per executor, never parsed as SQL text); the exact
      verify joins the DISTRIBUTED bench-gram frame (AQE picks
      broadcast vs shuffle). Measured (PLANS.md, ``x_decontaminate_bloom``
      row; 100k-doc corpus, disjoint bench sets): the literal route's
      driver work (the gram collect + multi-MB plan text + gram
      LocalRelation, all growing with the BENCH) is a scale-killer the
      distributed route removes entirely — 17.9 s vs 2.0 s at a 10k-doc bench.

    Literal-route shape: ONE tiny Spark job over the small side
    collects the bench grams with their k raw xxhash64 values; the
    driver folds them into a literal ``array<bigint>`` bitset (m/8
    bytes — a 65k-bit filter is 8 KB of plan, vs megabytes for a
    broadcast hash relation of gram strings) and the grams themselves
    become the verify join's LocalRelation. Either way the corpus side
    probes the bitset with pure
    WholeStageCodegen arithmetic — no broadcast exchange, no hash
    relation build per executor — and only the ~``(1-e^(-k/16))^k``
    (≈2% at the defaults) of grams that pass reach the exact
    broadcast-verify join. At 100 TB this is the difference between
    every corpus gram probing a broadcast hash map of strings and
    every gram doing k integer mod/shift/ANDs map-side.

    The bitset is sized from the observed benchmark gram count
    (``bits_per_gram`` bits each, rounded up to a power of two, floor
    8192) — in the literal route the single gram+hash collect is a
    bounded metadata operation, the same class as the IVF centroid
    literals (`similarity.py`); in the distributed route sizing is a
    count and the fold is a Spark agg.
    """
    seeds = list(range(num_hashes))
    if route == "auto":
        # one cheap small-side job: the bench is small relative to the
        # corpus by definition, and a parquet-backed count is
        # footer-only
        route = (
            "literal" if benchmark.count() <= literal_max_docs else "distributed"
        )
    if route not in ("literal", "distributed"):
        raise ValueError(f"unknown bloom route: {route!r}")

    spark = corpus.sparkSession
    bench_grams = (
        shingle_table(benchmark, text_col, id_col, n)
        .select("shingle")
        .distinct()
    )

    if route == "literal":
        # ONE job over the small side: grams AND their raw 64-bit
        # hashes together — sizing, bitset build, and the verify
        # relation all come from this single collect. (An earlier
        # formulation ran three separate bench-side evaluations — a
        # count job, a positions job, and the verify join's own lineage
        # — and the job overhead made the whole query ~10x the
        # broadcast path's cost at sf0.1.) Python's % equals Spark's
        # pmod for positive m, so the driver-side mod and the
        # probe-side pmod place identical bits.
        gram_rows = bench_grams.select(
            "shingle",
            *[
                F.xxhash64(F.lit(s), "shingle").alias(f"h{i}")
                for i, s in enumerate(seeds)
            ],
        ).collect()
        n_grams = len(gram_rows)
        m = max(8192, 1 << (max(1, n_grams * bits_per_gram) - 1).bit_length())
        words = [0] * (m // 64)
        for r in gram_rows:
            for i in range(num_hashes):
                p = r[i + 1] % m
                words[p // 64] |= 1 << (p % 64)
        # two's-complement fold to signed 64-bit LongType literals. The
        # array is built as ONE parsed SQL expression: `F.array(*
        # [F.lit(w) for w in ...])` costs a py4j round-trip per element
        # — ~2 s of pure driver time for a 4096-word bitset, every call
        # — while a single `expr("array(...)")` parses JVM-side in
        # milliseconds and constant-folds to the same literal.
        lits = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
        bits = F.expr("array(" + ",".join(f"{w}L" for w in lits) + ")")
        with_bits = lambda df: df.withColumn("__bits", bits)  # noqa: E731
        # exact verify against a LocalRelation of the already-collected
        # grams — zero recompute of the bench lineage, plain broadcast
        verify_rel = F.broadcast(
            spark.createDataFrame([(r[0],) for r in gram_rows], "shingle string")
        )
    else:
        # distributed build: nothing gram-shaped reaches the driver.
        # Size from a distinct-gram count (small-side agg), then fold
        # the bitset IN SPARK — each gram's k probe positions become
        # (word_index, shifted bit) and bit_or-aggregate per word; the
        # agg output is bounded by the BITSET size (m/64 rows), not the
        # gram count. The driver only assembles the word array and
        # ships it back as a ONE-ROW broadcast relation joined on a
        # constant key (a broadcast of m/8 bytes — never SQL-parsed,
        # unlike the literal route's plan text).
        n_grams = bench_grams.count()
        m = max(8192, 1 << (max(1, n_grams * bits_per_gram) - 1).bit_length())
        pos = bench_grams.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64(F.lit(s), "shingle"), F.lit(m))
                        for s in seeds
                    ]
                )
            ).alias("__p")
        )
        word_rows = (
            pos.groupBy(F.expr("cast(__p div 64 as int)").alias("__w"))
            .agg(
                F.bit_or(
                    F.expr("shiftleft(cast(1 as bigint), cast(__p % 64 as int))")
                ).alias("__word")
            )
            .collect()
        )
        words = [0] * (m // 64)
        for r in word_rows:
            words[r["__w"]] = r["__word"]
        bits_df = spark.createDataFrame(
            [(1, words)], "__k int, __bits array<bigint>"
        )
        # constant-key equi-join against the 1-row bitset relation:
        # O(corpus)×1, a broadcast hash join on a literal key — not a
        # data-path cross join
        with_bits = lambda df: df.withColumn(  # noqa: E731
            "__k", F.lit(1)
        ).join(F.broadcast(bits_df), "__k")
        # exact verify against the DISTRIBUTED gram frame — AQE picks
        # broadcast vs shuffle by observed size
        verify_rel = bench_grams

    corpus_grams = shingle_table(corpus, text_col, id_col, n)
    probe = with_bits(
        corpus_grams.select(
            F.col(id_col),
            "shingle",
            *[
                F.pmod(F.xxhash64(F.lit(s), "shingle"), F.lit(m)).alias(f"__p{i}")
                for i, s in enumerate(seeds)
            ],
        )
    )
    # all k bits set → might-contain (PySpark's shiftleft only takes a
    # literal shift count; the SQL expression form takes a column)
    might = F.expr(
        " AND ".join(
            f"(element_at(__bits, cast(__p{i} div 64 as int) + 1)"
            f" & shiftleft(cast(1 as bigint), cast(__p{i} % 64 as int))) != 0"
            for i in range(num_hashes)
        )
    )
    candidates = probe.where(might).select(F.col(id_col), "shingle")
    return (
        candidates.join(verify_rel, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def cross_corpus_dedup(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Docs in ``new_df`` whose normalized text does NOT already appear
    in a reference corpus (the already-trained set) — the cross-corpus
    twin of :func:`exact_dedup`, the first gate when folding a fresh
    crawl into an existing training mix.

    Scale shape: both corpora are huge, so neither side broadcasts —
    the anti-join shuffles on TWO independent 64-bit xxhash64 keys of
    the normalized text (128 bits effective → hash equality IS content
    equality for any realistic corpus; a single 64-bit key starts
    colliding at billions of docs by birthday bound). Shipping two
    bigints per row instead of the text bytes keeps the exchange
    key-light; the reference side is reduced to distinct hash pairs
    before the join. Returns ``new_df``'s rows minus the duplicates,
    original columns intact.
    """
    norm = normalize_whitespace(text_col)
    # stage the normalized text: it feeds BOTH hash keys, and a
    # single-projection form would inline the regexp chain twice per row
    # (CollapseProject keeps a multi-referenced non-cheap alias staged)
    lhs = new_df.select("*", norm.alias("__t")).select(
        *new_df.columns,
        F.xxhash64(F.lit(0), "__t").alias("__h1"),
        F.xxhash64(F.lit(1), "__t").alias("__h2"),
    )
    rhs = (
        ref_df.select(norm.alias("__t"))
        .select(
            F.xxhash64(F.lit(0), "__t").alias("__h1"),
            F.xxhash64(F.lit(1), "__t").alias("__h2"),
        )
        .distinct()
    )
    return lhs.join(rhs, ["__h1", "__h2"], "left_anti").drop("__h1", "__h2")


# ---------------------------------------------------------------------------
# persisted MinHash index (build once, dedup many batches)
# ---------------------------------------------------------------------------


def _index_meta_path(index_dir: str) -> str:
    return f"{index_dir}/meta"


def _write_index_meta(spark, index_dir: str, meta: dict) -> None:
    spark.createDataFrame([meta]).coalesce(1).write.mode("overwrite").json(
        _index_meta_path(index_dir)
    )


def read_minhash_index_meta(spark, index_dir: str) -> dict:
    """Load and return the index's parameter record (raises on a
    missing/unreadable index)."""
    row = spark.read.json(_index_meta_path(index_dir)).collect()[0]
    return {k: row[k] for k in ("id_col", "n", "num_hashes", "bands")}


def minhash_index_build(
    df: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> None:
    """Build a persisted MinHash LSH index: the ``(id, minhash)``
    signature table as parquet plus a parameter record that
    :func:`minhash_index_dedup_pairs` validates on every use.

    The dedup counterpart of the ANN build-once faces
    (``pq_encode``/``ivfpq_encode``): shingling + the minhash fold —
    the CPU-dense stage — runs ONCE over the historical corpus; every
    subsequent batch dedups against the stored signatures without
    re-reading a byte of historical TEXT. Only signatures persist
    (~32 longs/doc — single source of truth, ~3 orders smaller than
    the text); band buckets re-derive from them per batch as cheap
    long-hashes over a metadata-sized scan (:func:`_bands_from_signature`).

    Scale: the build is the map-only signature projection + one
    parquet write; no shuffle.
    """
    sigs = minhash_signatures(df, text_col, id_col, n, num_hashes)
    sigs.write.mode("overwrite").parquet(f"{index_dir}/signatures")
    _write_index_meta(
        df.sparkSession,
        index_dir,
        {"id_col": id_col, "n": n, "num_hashes": num_hashes, "bands": bands},
    )


def minhash_index_append(
    df: DataFrame, index_dir: str, text_col: str = "text"
) -> None:
    """Append a batch's signatures to an existing index (the
    ``ann-build --append`` staging discipline: parameters come from the
    stored meta, never from arguments that could drift). The caller
    owns id-uniqueness across appends — same contract as any
    append-only log."""
    meta = read_minhash_index_meta(df.sparkSession, index_dir)
    sigs = minhash_signatures(
        df, text_col, meta["id_col"], int(meta["n"]), int(meta["num_hashes"])
    )
    sigs.write.mode("append").parquet(f"{index_dir}/signatures")


def minhash_index_dedup_pairs(
    new_df: DataFrame,
    index_dir: str,
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    include_batch_pairs: bool = True,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against a persisted index (plus,
    by default, within the batch itself) WITHOUT recomputing anything
    over the historical corpus.

    Returns ``(new_id, match_id, match_source, est_jaccard)`` where
    ``match_source`` is ``'index'`` or ``'batch'`` and ``est_jaccard``
    is the signature-agreement estimate (matching minhash slots /
    num_hashes — the standard unbiased Jaccard estimator, ±1/√k). The
    exact-verify stage of the inline chain needs both texts; an
    incremental index deliberately stores none, so the estimate IS the
    verdict — with k=32 the estimator's σ ≈ 0.09, callers wanting
    exactness re-verify the (rare) reported pairs against source text.

    Scale shape: the batch side is small by definition — its buckets
    and signatures broadcast under AQE. The index side contributes one
    metadata-sized scan (signatures parquet, no text), the bucket
    equi-join on ``(band, bucket)``, and a candidate-keyed signature
    attach that AQE broadcasts (candidates are rare). Nothing
    corpus-sized shuffles; ``max_bucket_size`` drops degenerate
    buckets exactly like the inline chain (:func:`_cap_buckets`).
    """
    spark = new_df.sparkSession
    meta = read_minhash_index_meta(spark, index_dir)
    id_col = meta["id_col"]
    n, num_hashes, bands = (
        int(meta["n"]),
        int(meta["num_hashes"]),
        int(meta["bands"]),
    )
    idx_sigs = spark.read.parquet(f"{index_dir}/signatures")
    new_sigs = minhash_signatures(new_df, text_col, id_col, n, num_hashes)

    def buckets(sigs):
        b = sigs.select(
            F.col(id_col),
            F.posexplode_outer(
                _bands_from_signature(F.col("minhash"), num_hashes, bands)
            ).alias("band", "bucket"),
        )
        return _cap_buckets(b, max_bucket_size)

    new_b = buckets(new_sigs).toDF("new_id", "band", "bucket")
    idx_b = buckets(idx_sigs).toDF("match_id", "band", "bucket")
    cross = (
        new_b.join(idx_b, ["band", "bucket"])
        .select("new_id", "match_id")
        .distinct()
        .withColumn("match_source", F.lit("index"))
    )
    candidates = cross
    if include_batch_pairs:
        # keep-first: the newer id of a batch pair matches the OLDER one
        batch = _band_candidates(new_b).select(
            F.col("b_id").alias("new_id"),
            F.col("a_id").alias("match_id"),
            F.lit("batch").alias("match_source"),
        )
        candidates = cross.unionByName(batch)
    a_side = new_sigs.toDF("new_id", "__a_sig")
    b_side = (
        idx_sigs.toDF("match_id", "__b_sig")
        .withColumn("match_source", F.lit("index"))
        .unionByName(
            new_sigs.toDF("match_id", "__b_sig").withColumn(
                "match_source", F.lit("batch")
            )
        )
    )
    est = F.size(
        F.filter(
            F.zip_with("__a_sig", "__b_sig", lambda a, b: a == b),
            lambda v: v,
        )
    ).cast("double") / F.lit(num_hashes)
    return (
        candidates.join(a_side, "new_id")
        .join(b_side, ["match_id", "match_source"])
        .select(
            "new_id",
            "match_id",
            "match_source",
            F.round(est, 6).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
    )


def minhash_index_dedup(
    new_df: DataFrame,
    index_dir: str,
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Keep-first incremental dedup: the NEW batch's rows minus those
    near-duplicating the index or a lower-id batch sibling (original
    columns intact). The anti-join broadcasts the DUPLICATE id set —
    rare by definition, the same rare-side contract as
    :func:`~hive_scripts_spark.operators.similarity.embedding_decontaminate`."""
    meta = read_minhash_index_meta(new_df.sparkSession, index_dir)
    id_col = meta["id_col"]
    pairs = minhash_index_dedup_pairs(
        new_df,
        index_dir,
        text_col,
        threshold,
        max_bucket_size,
        include_batch_pairs=True,
    )
    dup_ids = pairs.select(F.col("new_id").alias(id_col)).distinct()
    return new_df.join(F.broadcast(dup_ids), id_col, "left_anti")


def contamination_substring(
    corpus: DataFrame,
    benchmark_snippets: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    snippet_col: str = "snippet",
    min_chars: int = 20,
) -> DataFrame:
    """Exact-substring decontamination: count, per corpus document, the
    benchmark snippets it contains VERBATIM. The strict complement of
    :func:`contamination_overlap` — n-gram overlap catches
    paraphrase-adjacent leaks; this catches embedded verbatim copies
    (the form eval-set leakage usually takes). Snippets shorter than
    ``min_chars`` after normalization are dropped as too generic to be
    evidence of contamination.

    Returns ``(id_col, n_bench_hits)`` for documents with ≥1 hit.

    Scale shape: eval sets are small by definition, so the snippet set
    **broadcasts** and the corpus side is a map-only
    BroadcastNestedLoopJoin `contains` scan — per-partition work is
    O(rows × snippets) substring searches JVM-side, and the only
    exchange is the final per-doc count. Whitespace is normalized on
    both sides so snippet matching is layout-insensitive.
    """
    snips = (
        benchmark_snippets.select(
            normalize_whitespace(snippet_col).alias("__snip")
        )
        .where(F.length("__snip") >= min_chars)
        .distinct()
    )
    return (
        corpus.select(
            F.col(id_col), normalize_whitespace(text_col).alias("__norm")
        )
        .join(F.broadcast(snips), F.expr("contains(__norm, __snip)"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bench_hits"))
    )
