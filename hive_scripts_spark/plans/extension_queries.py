"""Named queries for the north-star extensions (SURVEY §2.9): dedup,
similarity search, text analysis, multimodal plumbing, window/event
analytics. Prefix ``x_``.

Oracles: everything SQL-expressible gets a DuckDB oracle. The genuinely
non-SQL ops (MinHash-LSH, SimHash — banded hash blocking) are registered
without oracles → the driver records the weaker rows-only check, and
pytest covers their semantics with hand-built fixtures instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_scripts_spark.operators import dedup as D
from hive_scripts_spark.operators import multimodal as M
from hive_scripts_spark.operators import similarity as S
from hive_scripts_spark.operators import textstats as X
from hive_scripts_spark.plans.oracle_helpers import (
    duck_canonical_row,
    duck_fingerprint,
    duck_hash_bucket,
)
from hive_scripts_spark.plans.registry import ORACLES, register
from hive_scripts_spark.sources.readers import table

# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@register(
    "x_dedup_exact",
    oracle="""
    select min(doc_id) as doc_id, count(*) as n_dups
    from documents group by text
    """,
)
def x_dedup_exact(spark, sf_dir):
    """Exact dedup on raw text: one groupBy, min doc_id survives."""
    docs = table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, ["text"])


@register(
    "x_dedup_lines",
    oracle="""
    with docs as (
      select doc_id, replace(text, ' line ', chr(10)) as text from documents
    ), expl as (
      select doc_id, unnest(l) as line, generate_subscripts(l, 1) as pos,
             len(l) as total
      from (select doc_id, string_split(text, chr(10)) as l from docs)
    ), kept as (
      select doc_id, pos, line, total from expl where length(line) < 10
      union all
      select doc_id, pos, line, total from (
        select *, row_number() over (
          partition by line order by doc_id, pos) as rn
        from expl where length(line) >= 10) t
      where rn = 1
    )
    select doc_id,
           string_agg(line, chr(10) order by pos) as text_deduped,
           cast(count(*) as bigint) as n_lines_kept,
           cast(any_value(total) - count(*) as bigint) as n_lines_removed
    from kept group by doc_id
    """,
)
def x_dedup_lines(spark, sf_dir):
    """Corpus-wide line-level exact dedup (C4/RefinedWeb curation step).
    The synthetic corpus is single-line, so lines are derived
    deterministically (literal ``' line '`` → newline, identical in both
    engines) to exercise splitting, cross-document first-occurrence
    ranking, and positional reassembly against the oracle."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" line "), F.lit("\n")).alias("text"),
    )
    return D.dedup_lines(docs, min_line_chars=10)


@register(
    "x_strip_boilerplate",
    oracle="""
    with docs as (
      select doc_id, replace(text, ' line ', chr(10)) as text from documents
    ), expl as (
      select doc_id, unnest(l) as line, generate_subscripts(l, 1) as pos,
             len(l) as total
      from (select doc_id, string_split(text, chr(10)) as l from docs)
    ), bp as (
      select line from (
        select line, count(distinct doc_id) as d
        from expl where length(line) >= 10 group by line)
      where d > 1
    ), kept as (
      select doc_id, pos, line, total from expl where length(line) < 10
      union all
      select doc_id, pos, line, total from expl
      where length(line) >= 10 and line not in (select line from bp)
    )
    select doc_id,
           string_agg(line, chr(10) order by pos) as text_cleaned,
           cast(count(*) as bigint) as n_lines_kept,
           cast(any_value(total) - count(*) as bigint) as n_lines_removed
    from kept group by doc_id
    """,
)
def x_strip_boilerplate(spark, sf_dir):
    """Corpus-wide boilerplate removal (`dedup.strip_boilerplate`):
    lines in more than ``max_doc_freq=1`` distinct docs are dropped
    from EVERY document — the complement of `x_dedup_lines`' keep-first
    semantics. Same deterministic line derivation as that query
    (' line ' → newline). The boilerplate set is broadcast-anti-joined
    (high-frequency lines only — small at any corpus size);
    max_doc_freq=1 bites on testdata (32 cross-doc lines stripped at
    sf0.01)."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" line "), F.lit("\n")).alias("text"),
    )
    return D.strip_boilerplate(docs, max_doc_freq=1, min_line_chars=10)


@register(
    "x_dedup_intradoc_lines",
    oracle="""
    with lined as (
      select doc_id, replace(text, ' line ', chr(10)) as text from documents
    ), docs as (
      -- every 5th doc repeats its own first line at the end: the
      -- synthetic corpus has no natural intra-doc duplicates, so the
      -- cut path would otherwise never fire (same planted-duplication
      -- idiom as x_dedup_repeated_spans / x_dedup_cross)
      select doc_id,
             case when doc_id % 5 = 0
                  then text || chr(10) || string_split(text, chr(10))[1]
                  else text end as text
      from lined
    ), arr as (
      select doc_id, string_split(text, chr(10)) as l from docs
    ), kept as (
      select doc_id, l,
             list_filter(l, (x, i) -> length(x) < 10
                                      or list_position(l, x) = i) as k
      from arr
    )
    select doc_id,
           array_to_string(k, chr(10)) as text_deduped,
           cast(len(k) as bigint) as n_lines_kept,
           cast(len(l) - len(k) as bigint) as n_lines_removed
    from kept
    """,
)
def x_dedup_intradoc_lines(spark, sf_dir):
    """Intra-document line dedup (`dedup.dedup_lines_within_doc`):
    repeated lines WITHIN one document keep only their first occurrence,
    short lines exempt, no cross-document effect — the zero-shuffle
    per-page complement of `x_dedup_lines` (plan pinned Exchange-free in
    `test_dedup.py`). Same deterministic line derivation as the corpus-
    wide query (' line ' → newline), plus every 5th doc repeats its own
    first line at the end so the cut path demonstrably fires (planted-
    duplication idiom of `x_dedup_repeated_spans`); keep-first is
    `array_position == own index` on both engines (1-based on both)."""
    lined = F.replace(F.col("text"), F.lit(" line "), F.lit("\n"))
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", lined.alias("text")
    )
    docs = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit("\n"),
                F.element_at(F.split(F.col("text"), "\n"), 1),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return D.dedup_lines_within_doc(docs, min_line_chars=10)


#: shared passage appended to every 7th document for the repeated-span
#: query: 12 whitespace tokens, so k=8 yields 5 shared spans per tagged
#: doc — deterministically present duplication, like x_dedup_cross's
#: %10 slice (the synthetic corpus has no natural cross-doc k-grams).
_SPAN_PASSAGE = (
    "shared boilerplate passage tokens alpha beta gamma delta "
    "epsilon zeta eta theta"
)


@register(
    "x_dedup_repeated_spans",
    oracle=f"""
    with docs as (
      select doc_id,
             case when doc_id % 7 = 0
                  then trim(text) || ' ' || '{_SPAN_PASSAGE}'
                  else text end as text
      from documents
    ), toks as (
      select doc_id, string_split_regex(trim(text), '\\s+') as t from docs
    ), occ as (
      select doc_id, g.i as pos,
             md5(array_to_string(t[g.i + 1 : g.i + 8], ' ')) as m
      from toks, unnest(generate_series(0, len(t) - 8)) as g(i)
      where len(t) >= 8
    ), occ2 as (
      -- spark keys on two 60-bit md5 halves (chars 1-15, 17-31);
      -- replay the exact pair so keeper election matches
      select doc_id, pos,
             cast(('0x' || substr(m, 1, 15)) as bigint) as h1,
             cast(('0x' || substr(m, 17, 15)) as bigint) as h2
      from occ
    ), cuts as (
      select doc_id, pos from (
        select doc_id, pos,
               row_number() over (partition by h1, h2
                                  order by doc_id, pos) as rn
        from occ2) where rn > 1
    ), cutlist as (
      select doc_id, list(distinct p) as ps
      from cuts, unnest(generate_series(pos, pos + 7)) as u(p)
      group by doc_id
    ), toklists as (
      select tk.doc_id, tk.t,
             list_transform(
               list_filter(
                 list_zip(tk.t, generate_series(0, len(tk.t) - 1)),
                 z -> cl.ps is null or not list_contains(cl.ps, z[2])),
               z -> z[1]) as kept
      from toks tk left join cutlist cl using (doc_id)
    )
    select doc_id,
           -- coalesce: duckdb array_to_string is NULL on an empty list
           -- (fully-cut doc) where spark concat_ws gives ''
           coalesce(array_to_string(kept, ' '), '') as text_cleaned,
           cast(len(kept) as bigint) as n_tokens_kept,
           cast(len(t) - len(kept) as bigint) as n_tokens_removed
    from toklists
    """,
)
def x_dedup_repeated_spans(spark, sf_dir):
    """ExactSubstr repeated-span removal (`dedup.remove_repeated_spans`,
    Lee et al. 2107.06499): every duplicated 8-token span survives only
    at its first (doc_id, pos) occurrence; other occurrences' tokens are
    cut. Duplication is deterministically planted (a 12-token passage
    appended to every 7th doc, same construction idiom as
    `x_dedup_cross`'s %10 slice). Keeper election is the de-skewed
    groupBy-min + AQE-splittable equi-join over 120-bit (two-long) md5
    span keys; the oracle replays the identical hash pair in DuckDB."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat_ws(" ", F.trim(F.col("text")), F.lit(_SPAN_PASSAGE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # parallelism: md5-per-span on a single-row-group local scan would
    # otherwise run on one task (r19; same knob as a3/minhash)
    return D.remove_repeated_spans(
        docs, k=8, parallelism=spark.sparkContext.defaultParallelism
    )


@register(
    "x_dedup_fingerprint",
    oracle=r"""
    select min(doc_id) as doc_id,
           md5(trim(regexp_replace(regexp_replace(text, chr(13), '', 'g'),
                                   '\s+', ' ', 'g'))) as content_hash,
           count(*) as n_dups
    from documents
    group by content_hash
    """,
)
def x_dedup_fingerprint(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return D.fingerprint_dedup(docs)


_NORM = r"trim(regexp_replace(regexp_replace(text, chr(13), '', 'g'), '\s+', ' ', 'g'))"

# word-3-gram shingle set per doc, as DuckDB SQL (list comprehension)
_DUCK_SHINGLES = f"""
    with toks as (
      select doc_id, string_split({_NORM}, ' ') as ws from documents
    ), sh as (
      select doc_id,
             unnest(list_distinct([
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
               for i in range(1, greatest(len(ws) - 1, 1))
             ])) as shingle
      from toks where len(ws) >= 3
    )
"""


@register(
    "x_dedup_ngram_jaccard",
    oracle=f"""
    {_DUCK_SHINGLES},
    sizes as (select doc_id, count(*) as n_sh from sh group by doc_id),
    common as (
      select a.doc_id as a_id, b.doc_id as b_id, count(*) as n_common
      from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
      group by 1, 2
    )
    select a_id, b_id, n_common, sa.n_sh as n_a, sb.n_sh as n_b,
           round(cast(n_common as double) / (sa.n_sh + sb.n_sh - n_common), 6)
             as jaccard
    from common
    join sizes sa on sa.doc_id = a_id
    join sizes sb on sb.doc_id = b_id
    where round(cast(n_common as double) / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.2
    """,
)
def x_dedup_ngram_jaccard(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    # max_docs=None: the oracle is the exhaustive shingle equi-join, so
    # the approximate LSH routing must never engage at any sf
    return D.ngram_jaccard_pairs(docs, threshold=0.2, max_docs=None)


@register("x_dedup_minhash_lsh")  # banded LSH blocking — not SQL-expressible
def x_dedup_minhash_lsh(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs, threshold=0.2, parallelism=spark.sparkContext.defaultParallelism
    )


@register("x_dedup_simhash")  # bit-level blocking — not SQL-expressible
def x_dedup_simhash(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    # parallelism: the local single-row-group scan would run the whole
    # signature stage on one task otherwise (r19; same knob as minhash)
    return D.simhash_near_pairs(
        docs, parallelism=spark.sparkContext.defaultParallelism
    )


#: 60-bit md5 hash, identical in both engines (dedup.portable_hash60 twin)
def _duck_h60(pre_image: str) -> str:
    return f"cast(('0x' || substr(md5({pre_image}), 1, 15)) as bigint)"


@register(
    "x_dedup_simhash_portable",
    oracle=f"""
    with toks0 as (
      select doc_id, string_split({_NORM}, ' ') as ws
      from documents where length({_NORM}) > 0
    ), hashed as (
      select doc_id,
             list_transform(ws, w -> {_duck_h60("'s|' || w")} % 4294967296)
               as hs
      from toks0
    ), sums as (
      -- per-bit sign sum: (#tokens with bit b set)*2 - #tokens
      select doc_id, b,
             2 * len(list_filter(hs, h -> ((h >> b) & 1) = 1)) - len(hs) as s
      from hashed cross join range(32) bb(b)
    ), sig as (
      select doc_id,
             sum(case when s > 0 then (cast(1 as bigint) << b)
                      else 0 end) as simhash
      from sums group by doc_id
    ), blocks as (
      select doc_id, simhash, k, (simhash >> (k * 8)) & 255 as key
      from sig cross join range(4) kk(k)
    ), cand as (
      select distinct a.doc_id as a_id, b.doc_id as b_id,
             a.simhash as a_sig, b.simhash as b_sig
      from blocks a join blocks b
        on a.k = b.k and a.key = b.key and a.doc_id < b.doc_id
    )
    select a_id, b_id,
           cast(bit_count(xor(a_sig, b_sig)) as int) as hamming
    from cand
    where bit_count(xor(a_sig, b_sig)) <= 1
    """,
)
def x_dedup_simhash_portable(spark, sf_dir):
    """The SimHash near-dup pipeline with the md5-family word hash on a
    32-bit signature: token-hash → per-bit sign sums → rotated 8-bit
    prefix blocking → exact-Hamming(≤1) verify, replayed verbatim in the
    DuckDB oracle — the value-graded twin of the 64-bit xxhash64
    production path ``x_dedup_simhash`` (rows-only)."""
    docs = table(spark, sf_dir, "documents")
    return D.simhash_near_pairs_portable(
        docs, parallelism=spark.sparkContext.defaultParallelism
    )


def _duck_minhash_verified(bucket_cap: int | None = None) -> str:
    """The whole portable-minhash pipeline (shingle → 8 md5-window
    minhashes → 4 banded buckets → candidates → exact-Jaccard verify)
    as CTEs ending in ``mh_verified (a_id, b_id, jaccard)`` — shared by
    the within-corpus twin, the cross-corpus near-dup query, and (with
    ``bucket_cap``) the degenerate-bucket-guard twin, which pairs only
    inside (band, bucket) groups of ≤ cap docs."""
    if bucket_cap is None:
        cap_cte, cand_from = "", "from banded x"
    else:
        cap_cte = f"""okb as (
      select b, bucket from banded group by b, bucket
      having count(*) <= {bucket_cap}
    ), """
        cand_from = (
            "from banded x join okb o on x.b = o.b and x.bucket = o.bucket"
        )
    return f"""
    {{shingles}},
    sig as (
      -- hash i = 8-hex window (i % 4) of md5(seed (i // 4) | shingle):
      -- 4 independent 32-bit draws per digest (disjoint windows of a
      -- uniformly-mixed digest), 2 md5s per shingle instead of 8
      select doc_id, i,
             min(cast(('0x' || substr(
                   md5(cast(i // 4 as varchar) || '|' || shingle),
                   1 + 8 * (i % 4), 8)) as bigint)) as mh
      from sh cross join range(8) seeds(i)
      group by doc_id, i
    ), sigarr as (
      select doc_id, list(mh order by i) as s from sig group by doc_id
    ), banded as (
      select doc_id, b,
             md5(cast(b as varchar) || ':' ||
                 cast(s[b * 2 + 1] as varchar) || ',' ||
                 cast(s[b * 2 + 2] as varchar)) as bucket
      from sigarr cross join range(4) bb(b)
    ), {cap_cte}cand as (
      select distinct x.doc_id as a_id, y.doc_id as b_id
      {cand_from}
      join banded y
        on x.b = y.b and x.bucket = y.bucket and x.doc_id < y.doc_id
    ), sizes as (
      select doc_id, count(*) as n_sh from sh group by doc_id
    ), common as (
      select s1.doc_id as a_id, s2.doc_id as b_id, count(*) as n_common
      from sh s1 join sh s2
        on s1.shingle = s2.shingle and s1.doc_id < s2.doc_id
      group by 1, 2
    ), mh_verified as (
      select c.a_id, c.b_id,
             round(cast(n_common as double)
                   / (sa.n_sh + sb.n_sh - n_common), 6) as jaccard
      from cand c
      join common m on m.a_id = c.a_id and m.b_id = c.b_id
      join sizes sa on sa.doc_id = c.a_id
      join sizes sb on sb.doc_id = c.b_id
      where round(cast(n_common as double)
                  / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.2
    )
""".format(shingles=_DUCK_SHINGLES)


_DUCK_MINHASH_VERIFIED = _duck_minhash_verified()


@register(
    "x_dedup_minhash_portable",
    oracle=f"{_DUCK_MINHASH_VERIFIED} select a_id, b_id, jaccard from mh_verified",
)
def x_dedup_minhash_portable(spark, sf_dir):
    """The banded MinHash-LSH pipeline with an md5-based (engine-
    portable) hash family: shingle → 8 minhashes → 4 banded buckets →
    candidate pairs → exact-Jaccard verify, replicated VERBATIM in the
    DuckDB oracle — the value-graded twin of the xxhash64 production
    path ``x_dedup_minhash_lsh`` (same pipeline, faster hash family, so
    its candidate sets are engine-specific and graded rows-only)."""
    docs = table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs_portable(docs, threshold=0.2)


@register(
    "x_dedup_minhash_bucketcap",
    oracle=f"{_duck_minhash_verified(2)} select a_id, b_id, jaccard from mh_verified",
)
def x_dedup_minhash_bucketcap(spark, sf_dir):
    """The degenerate-bucket guard (``max_bucket_size``) made value-
    gradable: the portable MinHash-LSH pipeline pairing only inside
    (band, bucket) groups of ≤ 2 docs — oversized buckets (boilerplate
    signatures, the m²/2-candidate skew risk at corpus scale) are
    dropped BEFORE pairing, and the oracle replays the cap with a
    ``having count(*) <= 2`` on the same banded CTE. cap=2 is sized to
    BITE on the testdata (drops the 3-4-doc buckets: 25 → 22 verified
    pairs at sf0.01) so a broken guard cannot grade green; production
    uses :func:`~hive_scripts_spark.operators.dedup.minhash_lsh_pairs`
    with a ~64-1024 cap (r9 scale probe: 1M near-dup-dense docs, cap
    64 → 53.8 s vs 58.3 s uncapped, verify join stays AQE-broadcast)."""
    docs = table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs_portable(
        docs, threshold=0.2, max_bucket_size=2
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_DUCK_COSINE = """
    list_dot_product(cast(a.embedding as double[]), cast(b.embedding as double[]))
    / (sqrt(list_dot_product(cast(a.embedding as double[]), cast(a.embedding as double[])))
       * sqrt(list_dot_product(cast(b.embedding as double[]), cast(b.embedding as double[]))))
"""


@register(
    "x_ann_brute_topk",
    oracle=f"""
    with scored as (
      select a.vec_id as query_id, b.vec_id as neighbor_id,
             round({_DUCK_COSINE}, 6) as cosine_sim
      from embeddings a join embeddings b on a.vec_id <> b.vec_id
      where a.vec_id < 10
    ), ranked as (
      select *, row_number() over (
        partition by query_id order by cosine_sim desc, neighbor_id) as rank
      from scored
    )
    select query_id, neighbor_id, cosine_sim, rank from ranked where rank <= 5
    """,
)
def x_ann_brute_topk(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return S.brute_force_topk(emb, queries, k=5)


@register(
    "x_embed_near_dup",
    oracle=f"""
    select a.vec_id as a_id, b.vec_id as b_id,
           round({_DUCK_COSINE}, 6) as cosine_sim
    from embeddings a join embeddings b on a.vec_id < b.vec_id
    where round({_DUCK_COSINE}, 6) >= 0.35
    """,
)
def x_embed_near_dup(spark, sf_dir):
    # threshold 0.35 ≈ p99.9 of the testdata's cosine distribution — the
    # synthetic embeddings are near-random, so a "duplicate"-grade 0.95
    # threshold would make the test vacuous (0 rows). max_docs=None:
    # this row IS the exhaustive oracle twin, so force the cross join
    # regardless of size (the scale guard would otherwise reroute).
    return S.embedding_near_dup_pairs(
        table(spark, sf_dir, "embeddings"),
        threshold=0.35,
        use_lsh=False,
        max_docs=None,
    )


@register("x_ann_lsh_pairs")  # hyperplane-LSH blocking — not SQL-expressible
def x_ann_lsh_pairs(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs(emb, threshold=0.35, use_lsh=True)


def _ann_portable_oracle(tables: int = 2, bits: int = 4) -> str:
    """DuckDB twin of similarity.embedding_lsh_pairs_portable: one
    explicit sign-bit expression per (table, bit), generated here so the
    SQL mirrors the Spark plan literal-for-literal."""

    def proj(h: int) -> str:
        pre = f"'{h}' || '|' || cast(i as varchar)"
        return (
            f"list_sum([v[i + 1] * (({_duck_h60(pre)} % 1000003)"
            " / 1000003.0 - 0.5) for i in range(0, len(v))])"
        )

    sig_rows = []
    for t in range(tables):
        bits_sql = " || ".join(
            f"(case when ({proj(t * bits + b)}) > 0 then '1' else '0' end)"
            for b in range(bits)
        )
        sig_rows.append(
            f"select vec_id, {t} as tbl, {bits_sql} as sig from base"
        )
    sigs = "\n      union all\n      ".join(sig_rows)
    cos = (
        "round(list_dot_product(x.v, y.v)"
        " / (sqrt(list_dot_product(x.v, x.v))"
        " * sqrt(list_dot_product(y.v, y.v))), 6)"
    )
    return f"""
    with base as (
      select vec_id, cast(embedding as double[]) as v from embeddings
    ), sigs as (
      {sigs}
    ), cand as (
      select distinct a.vec_id as a_id, b.vec_id as b_id
      from sigs a join sigs b
        on a.tbl = b.tbl and a.sig = b.sig and a.vec_id < b.vec_id
    )
    select c.a_id, c.b_id, {cos} as cosine_sim
    from cand c
    join base x on x.vec_id = c.a_id
    join base y on y.vec_id = c.b_id
    where {cos} >= 0.35
    """


@register("x_ann_lsh_portable", oracle=_ann_portable_oracle())
def x_ann_lsh_portable(spark, sf_dir):
    """The hyperplane-LSH near-dup pipeline with an md5-based (engine-
    portable) hyperplane family: signature → per-table bucket join →
    exact-cosine verify, replicated verbatim in the DuckDB oracle — the
    value-graded twin of the xxhash64 production path
    ``x_ann_lsh_pairs`` (one shared pipeline, engine-specific
    hyperplanes, graded rows-only)."""
    emb = table(spark, sf_dir, "embeddings")
    return S.embedding_lsh_pairs_portable(emb, threshold=0.35)


@register(
    "x_embed_normalize",
    oracle="""
    select vec_id,
           round(sqrt(list_dot_product(cast(embedding as double[]),
                                       cast(embedding as double[]))), 6)
             as l2_norm,
           round(list_dot_product(cast(embedding as double[]),
                                  cast(embedding as double[]))
                 / (sqrt(list_dot_product(cast(embedding as double[]),
                                          cast(embedding as double[])))
                    * sqrt(list_dot_product(cast(embedding as double[]),
                                            cast(embedding as double[])))), 6)
             as self_cosine
    from embeddings
    """,
)
def x_embed_normalize(spark, sf_dir):
    # vector-transform op: L2 norm + self-cosine (≡1) as the portable
    # checksum that normalization math matches the oracle engine's
    emb = table(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    staged = emb.select("vec_id", vec.alias("__v"))
    v = F.col("__v")
    dot = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    staged2 = staged.select("vec_id", dot.alias("__dot"))
    return staged2.select(
        "vec_id",
        F.round(F.sqrt("__dot"), 6).alias("l2_norm"),
        F.round(F.col("__dot") / (F.sqrt("__dot") * F.sqrt("__dot")), 6).alias(
            "self_cosine"
        ),
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "x_text_token_count",
    oracle=f"""
    select doc_id,
           case when length({_NORM}) = 0 then 0
                else len(string_split({_NORM}, ' ')) end as n_tokens
    from documents
    """,
)
def x_text_token_count(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", X.token_count("text").alias("n_tokens"))


@register(
    "x_text_bpe_token_count",
    oracle=r"""
    select doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
             as n_bpe_tokens
    from documents
    """,
)
def x_text_bpe_token_count(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", X.bpe_ish_token_count("text").alias("n_bpe_tokens"))


@register(
    "x_doc_fingerprint",
    oracle=f"select doc_id, md5({_NORM}) as content_md5 from documents",
)
def x_doc_fingerprint(spark, sf_dir):
    """Per-doc md5 of the whitespace-normalized text."""
    docs = table(spark, sf_dir, "documents")
    return X.doc_fingerprint(docs).select("doc_id", "content_md5")


@register("x_doc_rolling_hash")  # xxhash64-based — not portable to DuckDB
def x_doc_rolling_hash(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return X.doc_fingerprint(docs).select("doc_id", "rolling_hash")


def _duck_stoplist(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in sorted(words)) + "]"


def _quality_oracle() -> str:
    from hive_scripts_spark.operators.textstats import LANG_STOPWORDS

    all_stop = _duck_stoplist({w for ws in LANG_STOPWORDS.values() for w in ws})
    return f"""
    with toks as (
      select doc_id, text,
             case when length({_NORM}) = 0 then cast([] as varchar[])
                  else string_split({_NORM}, ' ') end as t
      from documents
    ), feat as (
      select doc_id,
             len(t) as n_tokens,
             case when len(t) = 0 then 0.0
                  else cast(list_sum(list_transform(t, w -> length(w))) as double)
                       / greatest(len(t), 1) end as mean_word_len,
             cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) as double)
               / greatest(length(text), 1) as alpha_ratio,
             cast(length(text) - length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                  - length(regexp_replace(text, '[^0-9]', '', 'g'))
                  - length(regexp_replace(text, '[^\\s]', '', 'g')) as double)
               / greatest(length(text), 1) as punct_ratio,
             cast(len(list_filter(t, w -> list_contains({all_stop}, lower(w))))
                  as double) / greatest(len(t), 1) as stopword_ratio
      from toks
    )
    select doc_id, n_tokens,
           round(mean_word_len, 6) as mean_word_len,
           round(alpha_ratio, 6) as alpha_ratio,
           round(punct_ratio, 6) as punct_ratio,
           round(stopword_ratio, 6) as stopword_ratio,
           round(least(1.0, 0.4 * alpha_ratio
                            + 0.3 * least(stopword_ratio * 5, 1.0)
                            + 0.3 * (1 - least(punct_ratio * 10, 1.0))), 6)
             as quality_score
    from feat
    """


def _langid_oracle() -> str:
    from hive_scripts_spark.operators.textstats import LANG_STOPWORDS

    langs = sorted(LANG_STOPWORDS)
    norm_lower = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
    hit_exprs = ",\n             ".join(
        f"len(list_filter(t, w -> list_contains({_duck_stoplist(LANG_STOPWORDS[lang])}, w)))"
        f" as hits_{lang}"
        for lang in langs
    )
    m = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    first_max = " ".join(
        f"when hits_{lang} = {m} then '{lang}'" for lang in langs
    )
    return f"""
    with toks as (
      select doc_id,
             case when length(trim(lower(text))) = 0 then cast([] as varchar[])
                  else string_split({norm_lower}, ' ') end as t
      from documents
    ), hits as (
      select doc_id,
             {hit_exprs}
      from toks
    )
    select doc_id, {", ".join(f"hits_{lang}" for lang in langs)},
           case when {m} = 0 then 'und' {first_max} end as predicted_lang
    from hits
    """


@register("x_text_quality", oracle=_quality_oracle())
def x_text_quality(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return X.quality_features(docs)


@register("x_text_langid", oracle=_langid_oracle())
def x_text_langid(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return X.language_id(docs)


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "x_multimodal_decode_meta",
    oracle="""
    select doc_id,
           strlen(text) as byte_len,
           md5(text) as content_md5,
           cast(1 + cast(('0x' || substr(md5(text), 1, 4)) as int) % 1024 as int)
             as width,
           cast(1 + cast(('0x' || substr(md5(text), 5, 4)) as int) % 1024 as int)
             as height
    from documents
    """,
)
def x_multimodal_decode_meta(spark, sf_dir):
    """Fake-mode decode plumbing: synthetic dims from the payload md5
    (``x_multimodal_decode_real`` grades the real header parse)."""
    docs = table(spark, sf_dir, "documents")
    return M.decode_image_meta(
        M.binarize(docs, "text"),
        fake=True,
        parallelism=min(8, spark.sparkContext.defaultParallelism),
    )


@register(
    "x_multimodal_decode_real",
    oracle="""
    with p as (
      select doc_id,
             'P6 ' || cast(1 + doc_id % 640 as varchar) || ' '
                   || cast(1 + doc_id % 480 as varchar) || ' 255'
                   || chr(10) || text as payload,
             cast(1 + doc_id % 640 as int) as w,
             cast(1 + doc_id % 480 as int) as h
      from documents)
    select doc_id,
           strlen(payload) as byte_len,
           md5(payload) as content_md5,
           w as width,
           h as height
    from p
    """,
)
def x_multimodal_decode_real(spark, sf_dir):
    """REAL (non-fake) image decode: frame each document as a netpbm P6
    payload whose header carries doc_id-derived dimensions, then parse
    the header back with ``decode_image_meta(fake=False)`` — the oracle
    recomputes the dims arithmetically, so this value-checks the actual
    byte-level parser, not a stub."""
    docs = table(spark, sf_dir, "documents")
    w = (F.lit(1) + F.col("doc_id") % 640).cast("int")
    h = (F.lit(1) + F.col("doc_id") % 480).cast("int")
    framed = docs.select(
        "doc_id",
        F.concat(
            F.lit("P6 "),
            w.cast("string"),
            F.lit(" "),
            h.cast("string"),
            F.lit(" 255\n"),
            F.col("text"),
        ).alias("ppm_text"),
    )
    return M.decode_image_meta(
        M.binarize(framed, "ppm_text"),
        fake=False,
        parallelism=min(8, spark.sparkContext.defaultParallelism),
    )


@register(
    "x_multimodal_resize",
    oracle="""
    select doc_id,
           cast(224 as int) as width,
           cast(224 as int) as height,
           md5(text || '224x224') as resized_md5
    from documents
    """,
)
def x_multimodal_resize(spark, sf_dir):
    """Fake-mode resize plumbing (``x_multimodal_resize_real`` and the
    codec rows grade the real decode + resize)."""
    docs = table(spark, sf_dir, "documents")
    return M.resize_images(
        M.binarize(docs, "text"),
        target=(224, 224),
        fake=True,  # synthetic contract — this query oracles the plumbing
        parallelism=min(8, spark.sparkContext.defaultParallelism),
    )


@register(
    "x_multimodal_audio",
    oracle="""
    select doc_id,
           strlen(text) as n_samples,
           cast(strlen(text) as double) / cast(16000 as double) as duration_s,
           case when strlen(text) = 0 then cast(0.0 as double)
                else sqrt(
                  cast(list_sum(list_transform(string_split_regex(text, ''),
                                               c -> unicode(c) * unicode(c)))
                       as double)
                  / cast(strlen(text) as double)) end as rms_energy
    from documents
    """,
)
def x_multimodal_audio(spark, sf_dir):
    """Fake-mode audio plumbing: text bytes as 16 kHz samples
    (``x_multimodal_audio_real`` grades the real PCM decode)."""
    docs = table(spark, sf_dir, "documents")
    return M.audio_features(
        M.binarize(docs, "text"),
        fake=True,  # synthetic contract — this query oracles the plumbing
        parallelism=min(8, spark.sparkContext.defaultParallelism),
    )


@register(
    "x_ann_ivf_assign",
    oracle="""
    with centroids as (
      select vec_id as centroid_id, cast(embedding as double[]) as c
      from embeddings where vec_id < 8
    ), scored as (
      select e.vec_id, c.centroid_id,
             round(list_dot_product(cast(e.embedding as double[]), c.c)
                   / (sqrt(list_dot_product(cast(e.embedding as double[]),
                                            cast(e.embedding as double[])))
                      * sqrt(list_dot_product(c.c, c.c))), 6) as sim
      from embeddings e cross join centroids c
    ), ranked as (
      select *, row_number() over (
        partition by vec_id order by sim desc, centroid_id) as rn
      from scored
    )
    select vec_id, centroid_id, sim from ranked where rn = 1
    """,
)
def x_ann_ivf_assign(spark, sf_dir):
    """IVF coarse assignment: each vector's nearest of 8 centroids."""
    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
    )
    return S.ivf_assign(emb, centroids)


@register(
    "x_ann_ivf_cell_stats",
    oracle=f"""
    with centroids as (
      select vec_id as centroid_id, cast(embedding as double[]) as c
      from embeddings where vec_id < 8
    ), scored as (
      select e.vec_id, c.centroid_id,
             round(list_dot_product(cast(e.embedding as double[]), c.c)
                   / (sqrt(list_dot_product(cast(e.embedding as double[]),
                                            cast(e.embedding as double[])))
                      * sqrt(list_dot_product(c.c, c.c))), 6) as sim
      from embeddings e cross join centroids c
    ), ranked as (
      select *, row_number() over (
        partition by vec_id order by sim desc, centroid_id) as rn
      from scored
    ), assigned as (
      select vec_id, centroid_id, sim from ranked where rn = 1
    )
    select centroid_id, cast(count(*) as bigint) as n_vectors,
           round(cast(sum(cast(sim as decimal(18,6))) as double)
                 / count(*), 6) as mean_sim,
           round(min(sim), 6) as min_sim
    from assigned group by centroid_id
    """,
)
def x_ann_ivf_cell_stats(spark, sf_dir):
    """IVF index-quality report (`similarity.ivf_cell_stats`): per-cell
    occupancy + mean/worst member-to-centroid cosine over the coarse
    assignment — the balance/retrain dashboard for a deployed IVF
    index. Zero corpus shuffle (plan-literal assignment) + one
    nlist-key rollup; mean accumulates exact decimals so the oracle
    replays it bit-for-bit."""
    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
    )
    return S.ivf_cell_stats(emb, centroids)


@register(
    "x_skew_salted_count",
    oracle="select lang, count(*) as row_count from documents group by lang",
)
def x_skew_salted_count(spark, sf_dir):
    from hive_scripts_spark.functions.skew import salted_count

    docs = table(spark, sf_dir, "documents")
    return salted_count(docs, ["lang"], salt_from="doc_id", salts=16)


@register(
    "x_multimodal_frame_plan",
    oracle="""
    select doc_id, unnest(range(0, 100, 10)) as frame_index
    from documents where doc_id < 50
    """,
)
def x_multimodal_frame_plan(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return M.frame_sample_plan(docs, every_n=10)


# ---------------------------------------------------------------------------
# row-level content reconciliation (full-fidelity UC#2 upgrade)
# ---------------------------------------------------------------------------


@register(
    "x_row_diff",
    oracle="""
    with src as (select * from orders),
    tgt as (
      select o_orderkey, o_custkey, o_orderstatus,
             case when o_orderkey % 501 = 0 then o_totalprice + 1.0
                  else o_totalprice end as o_totalprice,
             o_orderdate, o_orderpriority
      from orders where o_orderkey % 997 <> 0
    )
    select coalesce(s.o_orderkey, t.o_orderkey) as o_orderkey,
           case when t.o_orderkey is null then 'source_only'
                when s.o_orderkey is null then 'target_only'
                else 'changed' end as diff_status
    from src s full outer join tgt t on s.o_orderkey = t.o_orderkey
    where t.o_orderkey is null or s.o_orderkey is null
       or s.o_custkey      is distinct from t.o_custkey
       or s.o_orderstatus  is distinct from t.o_orderstatus
       or s.o_totalprice   is distinct from t.o_totalprice
       or s.o_orderdate    is distinct from t.o_orderdate
       or s.o_orderpriority is distinct from t.o_orderpriority
    """,
)
def x_row_diff(spark, sf_dir):
    from hive_scripts_spark.operators.rowdiff import row_diff

    orders = table(spark, sf_dir, "orders")
    target = orders.where(F.col("o_orderkey") % 997 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 501 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    return row_diff(orders, target, key_cols=["o_orderkey"])


@register("x_dedup_components")  # iterative min-label propagation — rows-only
def x_dedup_components(spark, sf_dir):
    from hive_scripts_spark.operators.cluster import connected_components
    from hive_scripts_spark.operators.dedup import minhash_lsh_pairs

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.2)
    return connected_components(pairs)


# ---------------------------------------------------------------------------
# corpus statistics: tf-idf, top terms, label centroids
# ---------------------------------------------------------------------------

_TOKS = f"string_split({_NORM}, ' ')"


@register(
    "x_tfidf",
    oracle=f"""
    with toks as (
      select doc_id, unnest({_TOKS}) as term from documents
      where length({_NORM}) > 0
    ), tf as (
      select doc_id, term, count(*) as n_term from toks group by all
    ), dlen as (
      select doc_id, count(*) as n_doc from toks group by doc_id
    ), df as (
      select term, count(distinct doc_id) as doc_freq from toks group by term
    ), n as (select count(*) as n_docs from documents)
    select tf.doc_id, tf.term,
           round((cast(n_term as double) / n_doc)
                 * (ln((n_docs + 1.0) / (doc_freq + 1.0)) + 1.0), 6) as tfidf
    from tf join dlen using (doc_id) join df using (term) cross join n
    """,
)
def x_tfidf(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar (table stat), not a data-path collect
    toks = docs.select(
        "doc_id", F.explode_outer(X.tokens("text")).alias("term")
    ).where(F.col("term").isNotNull())
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("n_term"))
    dlen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_doc"))
    df_ = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("doc_freq"))
    return (
        tf.join(dlen, "doc_id")
        .join(df_, "term")
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("n_term").cast("double") / F.col("n_doc"))
                * (
                    F.log((n_docs + 1.0) / (F.col("doc_freq") + 1.0))
                    + 1.0
                ),
                6,
            ).alias("tfidf"),
        )
    )


@register(
    "x_top_terms_per_lang",
    oracle=f"""
    with toks as (
      select lang, unnest({_TOKS}) as term from documents
      where length({_NORM}) > 0
    ), counted as (
      select lang, term, count(*) as n from toks group by all
    ), ranked as (
      select *, row_number() over (
        partition by lang order by n desc, term) as rank
      from counted
    )
    select lang, term, n, rank from ranked where rank <= 5
    """,
)
def x_top_terms_per_lang(spark, sf_dir):
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode_outer(X.tokens("text")).alias("term")
    ).where(F.col("term").isNotNull())
    counted = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "term")
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("lang", "term", "n", "rank")
    )


@register(
    "x_label_centroids",
    oracle="""
    select label, cast(pos - 1 as int) as dim,
           round(avg(cast(v as double)), 6) as centroid_val
    from (select label, unnest(embedding) as v,
                 generate_subscripts(embedding, 1) as pos
          from embeddings)
    group by label, pos
    """,
)
def x_label_centroids(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode_outer("embedding").alias("dim", "v")
    )
    return exploded.groupBy("label", "dim").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val")
    )


# ---------------------------------------------------------------------------
# event-time / window analytics (events table)
# ---------------------------------------------------------------------------


@register(
    "x_events_hourly",
    oracle="""
    select date_trunc('hour', ts) as window_start,
           event_type,
           count(*) as n_events,
           cast(sum(cast(value as decimal(18,2))) as double) as total_value
    from events group by all
    """,
)
def x_events_hourly(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "x_events_sliding",
    oracle="""
    with starts as (
      select date_trunc('hour', ts) - to_hours(offs.h) as window_start,
             event_type, value
      from events cross join (values (0), (1)) as offs(h)
    )
    select window_start, event_type,
           count(*) as n_events,
           cast(sum(cast(value as decimal(18,2))) as double) as total_value
    from starts group by all
    """,
)
def x_events_sliding(spark, sf_dir):
    """Sliding-window event aggregate: 2-hour windows advancing every
    hour (`F.window(ts, '2 hours', '1 hour')`), so each event lands in
    exactly two windows — the overlapping-window shape Structured
    Streaming shares with this batch form (same expression under
    `readStream` + a watermark). Decimal-exact value sums (summation-
    order-invariant). The oracle replicates each event to its two
    containing window starts (hour-trunc and hour-trunc minus one) —
    the definition of a 2h/1h slide — and aggregates."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "x_events_transitions",
    oracle="""
    with seq as (
      select user_id, event_type,
             lag(event_type) over (
               partition by user_id order by ts, event_id) as prev_type
      from events
    )
    select prev_type, event_type as next_type,
           count(*) as n_transitions,
           cast(count(distinct user_id) as bigint) as n_users
    from seq where prev_type is not null
    group by 1, 2
    """,
)
def x_events_transitions(spark, sf_dir):
    """Per-user event-transition matrix (the Markov-chain feature table
    behavioral models train on): lag over (user, ts, event_id) pairs
    each event with its predecessor, then count transitions and
    distinct users per (prev, next) edge. The event_id tiebreak makes
    the sequence — and therefore every count — deterministic under
    equal timestamps. One window exchange on user_id + the edge
    groupBy; the matrix is |event_types|² rows, trivially small at any
    corpus size."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


@register(
    "x_events_outliers",
    oracle="""
    with v as (
      select event_type, cast(value as double) as v, event_id from events
    ), ranked as (
      select *, row_number() over (
               partition by event_type order by v, event_id) as rn,
             count(*) over (partition by event_type) as n
      from v
    ), med as (
      select event_type, v as median_v
      from ranked where rn = (n + 1) // 2
    ), ad as (
      select v.event_type, abs(v.v - m.median_v) as ad, v.event_id
      from v join med m using (event_type)
    ), ad_ranked as (
      select *, row_number() over (
               partition by event_type order by ad, event_id) as rn,
             count(*) over (partition by event_type) as n
      from ad
    ), mad as (
      select event_type, ad as mad_v
      from ad_ranked where rn = (n + 1) // 2
    )
    select v.event_type,
           cast(count(*) as bigint) as n_events,
           round(m.median_v, 6) as median_v,
           round(d.mad_v, 6) as mad_v,
           cast(sum(case when abs(v.v - m.median_v) > 3 * d.mad_v
                         then 1 else 0 end) as bigint) as n_outliers
    from v
    join med m using (event_type)
    join mad d using (event_type)
    group by v.event_type, m.median_v, d.mad_v
    """,
)
def x_events_outliers(spark, sf_dir):
    """Robust per-type outlier report (median/MAD, the data-quality
    gate that survives heavy tails where mean/stddev don't): lower
    median and median-absolute-deviation are SELECTED ELEMENTS (rank
    (n+1) div 2 ordered by (value, event_id)) — no interpolation, so
    both engines pick the identical double and the |v-med| > 3·MAD
    boundary is bit-exact. Two rank windows keyed on event_type + the
    final per-type agg; medians broadcast back (|event_types| rows)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v"), "event_id"
    )

    def elem_at_median(df, order_col):
        w = Window.partitionBy("event_type").orderBy(
            F.col(order_col).asc(), F.col("event_id").asc()
        )
        wn = Window.partitionBy("event_type")
        return (
            df.select(
                "event_type",
                F.col(order_col),
                F.row_number().over(w).alias("__rn"),
                F.count(F.lit(1)).over(wn).alias("__n"),
            )
            .where(F.col("__rn") == F.expr("(__n + 1) div 2"))
            .select("event_type", F.col(order_col).alias(f"__med_{order_col}"))
        )

    med = elem_at_median(ev, "v")
    ad = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "v",
        "event_id",
        F.abs(F.col("v") - F.col("__med_v")).alias("ad"),
        F.col("__med_v"),
    )
    mad = elem_at_median(ad.select("event_type", "ad", "event_id"), "ad")
    return (
        ad.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "__med_v", "__med_ad")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(
                F.when(
                    F.col("ad") > 3 * F.col("__med_ad"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            F.round("__med_v", 6).alias("median_v"),
            F.round("__med_ad", 6).alias("mad_v"),
            "n_outliers",
        )
    )


@register(
    "x_window_top_orders_per_cust",
    oracle="""
    with ranked as (
      select o_custkey, o_orderkey, o_totalprice,
             row_number() over (
               partition by o_custkey
               order by o_totalprice desc, o_orderkey) as rank
      from orders
    )
    select o_custkey, o_orderkey, o_totalprice, rank
    from ranked where rank <= 3
    """,
)
def x_window_top_orders_per_cust(spark, sf_dir):
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


# ONE definition of the 30-minute-gap sessionization CTE chain for all
# three oracles that replay it (sessionize, session_window, stats) —
# a gap or tiebreak change edited in one oracle but not the others
# would diverge them from the shared Spark implementation
_DUCK_SESSIONIZE = """
    with marked as (
      select user_id, ts, event_id,
             case when lag(ts) over w is null
                       or epoch_us(ts) - epoch_us(lag(ts) over w) > 1800000000
                  then 1 else 0 end as new_session
      from events
      window w as (partition by user_id order by ts, event_id)
    ), numbered as (
      select user_id, ts,
             cast(sum(new_session) over (
               partition by user_id order by ts, event_id
               rows between unbounded preceding and current row)
                  as bigint) as session_id
      from marked
    )
"""


@register(
    "x_events_sessionize",
    oracle=f"""{_DUCK_SESSIONIZE}
    select user_id, session_id, count(*) as n_events,
           min(ts) as session_start, max(ts) as session_end
    from numbered group by user_id, session_id
    """,
)
def x_events_sessionize(spark, sf_dir):
    """30-minute-gap sessionization via window functions (the batch twin
    of the streaming session-window operator). Delegates to
    :func:`hive_scripts_spark.operators.sessions.sessionize_events` in
    its default single-window form — the exact plan this query has
    always run; the operator's ``chunk_hours`` knob is the documented
    escalation for a ~100M-event bot user (r13, VERDICT r12 item 6),
    bit-identical output pinned in ``tests/test_properties.py``."""
    from hive_scripts_spark.operators.sessions import sessionize_events

    ev = table(spark, sf_dir, "events")
    return sessionize_events(ev)


@register("x_events_sessionize_chunked", oracle=ORACLES["x_events_sessionize"])
def x_events_sessionize_chunked(spark, sf_dir):
    """The time-chunked sessionize escalation
    (``operators/sessions.sessionize_events(chunk_hours=6)``) graded
    against the SAME DuckDB oracle as ``x_events_sessionize``: per-
    (user, 6h-chunk) gap-merge, then only boundary sessions cross-
    stitch (O(2 x chunks) rows), then a per-user renumber over session
    rows — the skew escape for a ~100M-event bot user where a single
    per-user window would serialize on one task. An engine-independent
    grade for the escalation plan itself, not just the pytest
    bit-identity pin against the single-window form."""
    from hive_scripts_spark.operators.sessions import sessionize_events

    ev = table(spark, sf_dir, "events")
    return sessionize_events(ev, chunk_hours=6)


@register(
    "x_events_session_stats",
    oracle=f"""{_DUCK_SESSIONIZE}
    , sess as (
      select user_id, session_id, count(*) as n_events,
             min(ts) as s, max(ts) as e
      from numbered group by user_id, session_id
    )
    select user_id,
           cast(count(*) as bigint) as n_sessions,
           cast(sum(n_events) as bigint) as total_events,
           round(cast(sum(n_events) as double) / count(*), 6)
             as avg_events_per_session,
           cast(sum(epoch_us(e) - epoch_us(s)) as bigint) as active_micros,
           cast(max(n_events) as bigint) as max_session_events
    from sess group by user_id
    """,
)
def x_events_session_stats(spark, sf_dir):
    """Per-user session behavior rollup (the feature table engagement
    models train on), composed over the 30-minute-gap sessionization:
    session count, total events, mean events/session (double division
    of exact bigints — deterministic), total active span in exact
    epoch micros, and the longest session. The rollup groups the
    already-aggregated session frame (O(sessions) rows), so the only
    added exchange beyond sessionize's user window is the per-user
    groupBy — co-keyed with the window, AQE-coalesced."""
    sess = x_events_sessionize(spark, sf_dir)
    return sess.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("total_events"),
        F.round(
            F.sum("n_events").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_events_per_session"),
        F.sum(
            F.unix_micros("session_end") - F.unix_micros("session_start")
        )
        .cast("bigint")
        .alias("active_micros"),
        F.max("n_events").cast("bigint").alias("max_session_events"),
    )


@register(
    "x_events_session_window",
    oracle=f"""{_DUCK_SESSIONIZE}
    select user_id,
           min(ts) as session_start,
           max(ts) + interval 30 minute as session_end,
           cast(count(*) as bigint) as n_events
    from numbered group by user_id, session_id
    """,
)
def x_events_session_window(spark, sf_dir):
    """Gap-merged sessions via Spark's native ``session_window`` — the
    batch face of the streaming session operator
    (:mod:`hive_scripts_spark.streaming.sessions`). Boundary semantics
    match ``x_events_sessionize`` (touching windows merge — an
    exactly-gap-apart pair stays in one session; locked by
    ``test_session_streaming.py``); the output differs only in shape:
    ``session_end`` here is last-event + gap per ``session_window``'s
    window close, not the last event time."""
    from hive_scripts_spark.streaming.sessions import session_window_counts

    ev = table(spark, sf_dir, "events")
    return session_window_counts(ev, "30 minutes")


# ---------------------------------------------------------------------------
# the composite curation pipeline (the LLM-data showcase: every stage is
# an already-oracle-verified operator, composed end-to-end)
# ---------------------------------------------------------------------------


@register(
    "x_curation_pipeline",
    oracle=r"""
    with base as (
      -- stage 1: exact dedup on normalized content (min doc_id survives,
      -- and its raw text — arg_min keeps the survivor's own payload)
      select min(doc_id) as doc_id, arg_min(text, doc_id) as text
      from documents
      group by md5(trim(regexp_replace(regexp_replace(text, chr(13), '', 'g'), '\s+', ' ', 'g')))
    ), toks as (
      select doc_id, text,
             case when length(trim(regexp_replace(regexp_replace(text, chr(13), '', 'g'), '\s+', ' ', 'g'))) = 0 then cast([] as varchar[])
                  else string_split(trim(regexp_replace(regexp_replace(text, chr(13), '', 'g'), '\s+', ' ', 'g')), ' ') end as t,
             case when length(trim(lower(text))) = 0 then cast([] as varchar[])
                  else string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') end as lt
      from base
    ), feat as (
      -- stage 2: quality gate (alpha ratio ≥ 0.5 and ≥ 10 tokens)
      select doc_id, t, lt,
             cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) as double)
               / greatest(length(text), 1) as alpha_ratio
      from toks
    ), gated as (
      select * from feat where alpha_ratio >= 0.5 and len(t) >= 10
    ), lang as (
      -- stage 3: language-ID
      select doc_id, len(t) as n_tokens,
             len(list_filter(lt, w -> list_contains(['das', 'der', 'die', 'ein', 'ist', 'nicht', 'und'], w))) as hits_de,
             len(list_filter(lt, w -> list_contains(['a', 'and', 'in', 'is', 'of', 'the', 'to'], w))) as hits_en,
             len(list_filter(lt, w -> list_contains(['de', 'el', 'en', 'la', 'los', 'que', 'y'], w))) as hits_es,
             len(list_filter(lt, w -> list_contains(['de', 'des', 'et', 'la', 'le', 'les', 'un'], w))) as hits_fr,
             len(list_filter(lt, w -> list_contains(['了', '和', '在', '我', '是', '有', '的'], w))) as hits_zh
      from gated
    )
    select case when greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) = 0 then 'und' when hits_de = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) then 'de' when hits_en = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) then 'en' when hits_es = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) then 'es' when hits_fr = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) then 'fr' when hits_zh = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) then 'zh' end as predicted_lang,
           count(*) as n_docs,
           cast(sum(n_tokens) as bigint) as total_tokens
    from lang
    group by all
    """,
)
def x_curation_pipeline(spark, sf_dir):
    """Filter → dedup → language-partition → token budget, end to end
    (a subset of ``x_curation_full``, which adds decontamination and
    repetition gates around the same stages).

    Every stage is partition-parallel: dedup is a hash-groupBy on the
    content hash; the quality gate and language-ID are projections; the
    final rollup is one aggregation. At 100 TB this is two shuffles
    total (dedup, final groupBy).
    """
    docs = table(spark, sf_dir, "documents")
    from hive_scripts_spark.functions.strings import normalize_whitespace

    # stage 1: exact dedup (min doc_id per normalized-content hash)
    deduped = (
        docs.select("doc_id", "text", F.md5(normalize_whitespace("text")).alias("__h"))
        .groupBy("__h")
        .agg(F.min_by(F.struct("doc_id", "text"), "doc_id").alias("__r"))
        .select(F.col("__r.doc_id").alias("doc_id"), F.col("__r.text").alias("text"))
    )
    # stage 2: quality gate
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast(
        "double"
    ) / F.greatest(F.length("text"), F.lit(1))
    toked = deduped.select(
        "doc_id", "text", X.tokens("text").alias("__t"), alpha.alias("__alpha")
    )
    gated = toked.where((F.col("__alpha") >= 0.5) & (F.size("__t") >= 10))
    # stage 3: language-ID + rollup. n_tokens rides through language_id's
    # projection (keep_cols) — a separate budget frame would need a
    # doc_id re-join, i.e. a third shuffle at scale
    lang = X.language_id(
        gated.withColumn("n_tokens", F.size("__t")), keep_cols=["n_tokens"]
    )
    return (
        lang.groupBy("predicted_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# column profiling / drift (the migration-validation third axis)
# ---------------------------------------------------------------------------


@register(
    "x_profile_table",
    oracle="""
    select 'o_custkey' as "column", count(*) as n_rows,
           count(*) filter (where o_custkey is null) as n_nulls,
           count(distinct o_custkey) as n_distinct,
           min(cast(o_custkey as varchar)) as min_value,
           max(cast(o_custkey as varchar)) as max_value
    from orders
    union all
    select 'o_orderstatus', count(*),
           count(*) filter (where o_orderstatus is null),
           count(distinct o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
    from orders
    union all
    select 'o_totalprice', count(*),
           count(*) filter (where o_totalprice is null),
           count(distinct o_totalprice),
           min(cast(o_totalprice as varchar)), max(cast(o_totalprice as varchar))
    from orders
    """,
)
def x_profile_table(spark, sf_dir):
    from hive_scripts_spark.operators.profile import profile_table

    orders = table(spark, sf_dir, "orders")
    return profile_table(orders, ["o_custkey", "o_orderstatus", "o_totalprice"])


_PROFILE_COLS = ("o_custkey", "o_orderpriority", "o_totalprice")


def _duck_profile(src: str) -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(f"""
      select '{c}' as "column", count(*) as n_rows,
             count(*) filter (where {c} is null) as n_nulls,
             count(distinct {c}) as n_distinct,
             min(cast({c} as varchar)) as min_value,
             max(cast({c} as varchar)) as max_value
      from {src}""")
    return " union all ".join(parts)


@register(
    "x_profile_drift",
    oracle=f"""
    with tgt_orders as (
      select o_custkey, o_totalprice,
             case when o_orderkey % 1501 = 0 then null
                  else o_orderpriority end as o_orderpriority
      from orders where o_orderkey % 997 <> 0
    ), sp as ({_duck_profile("orders")}), tp as ({_duck_profile("tgt_orders")})
    select sp."column",
           sp.n_rows as src_n_rows, sp.n_nulls as src_n_nulls,
           sp.n_distinct as src_n_distinct, sp.min_value as src_min_value,
           sp.max_value as src_max_value,
           tp.n_rows as tgt_n_rows, tp.n_nulls as tgt_n_nulls,
           tp.n_distinct as tgt_n_distinct, tp.min_value as tgt_min_value,
           tp.max_value as tgt_max_value,
           concat_ws(',',
             case when sp.n_rows     is distinct from tp.n_rows     then 'n_rows' end,
             case when sp.n_nulls    is distinct from tp.n_nulls    then 'n_nulls' end,
             case when sp.n_distinct is distinct from tp.n_distinct then 'n_distinct' end,
             case when sp.min_value  is distinct from tp.min_value  then 'min_value' end,
             case when sp.max_value  is distinct from tp.max_value  then 'max_value' end
           ) as drift
    from sp join tp on sp."column" = tp."column"
    """,
)
def x_profile_drift(spark, sf_dir):
    """Cross-database drift localization: the per-column metric-flag
    report UC#2 consumers read — verified against a DuckDB twin of both
    profiles (row-drop drift on custkey/totalprice, null-injection drift
    on orderpriority)."""
    from hive_scripts_spark.operators.profile import profile_drift

    orders = table(spark, sf_dir, "orders")
    target = orders.where(F.col("o_orderkey") % 997 != 0).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 1501 == 0, F.lit(None)).otherwise(
            F.col("o_orderpriority")
        ),
    )
    return profile_drift(orders, target, list(_PROFILE_COLS))


@register(
    "f4_regexp_extract",
    oracle="""
    select event_id, regexp_extract(props, '[0-9]+') as first_number
    from events
    """,
)
def f4_regexp_extract(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.regexp_extract("props", "[0-9]+", 0).alias("first_number")
    )


# ---------------------------------------------------------------------------
# set operations (engine completeness: UNION / INTERSECT / EXCEPT)
# ---------------------------------------------------------------------------


@register(
    "x_set_ops",
    oracle="""
    select n_nationkey, 'both' as side from (
      select distinct c_nationkey as n_nationkey from customer
      intersect
      select distinct s_nationkey from supplier)
    union all
    select n_nationkey, 'customer_only' as side from (
      select distinct c_nationkey as n_nationkey from customer
      except
      select distinct s_nationkey from supplier)
    """,
)
def x_set_ops(spark, sf_dir):
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n_nationkey")
    ).distinct()
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n_nationkey")
    ).distinct()
    both = cust.intersect(supp).withColumn("side", F.lit("both"))
    only = cust.exceptAll(supp).withColumn("side", F.lit("customer_only"))
    return both.unionByName(only)


@register(
    "x_token_budget_pack",
    oracle=f"""
    with toks as (
      select doc_id, lang,
             case when length({_NORM}) = 0 then 0
                  else len(string_split({_NORM}, ' ')) end as n_tokens
      from documents
    ), packed as (
      select lang, n_tokens,
             cast(floor((sum(n_tokens) over (partition by lang order by doc_id
                                             rows unbounded preceding)
                         - n_tokens) / 512.0) as bigint) as pack_id
      from toks
    )
    select lang, pack_id, count(*) as n_docs,
           cast(sum(n_tokens) as bigint) as pack_tokens
    from packed
    group by lang, pack_id
    """,
)
def x_token_budget_pack(spark, sf_dir):
    """Token-budget sequence packing: assign documents to fixed-budget
    packs (~512 tokens) per language — the training-data prep step that
    turns a curated corpus into model-ready groups.

    ``pack_id = floor(offset / budget)`` where offset is the running
    token count before the doc (deterministic offset packing; docs may
    straddle a boundary — the trainer's concat+split semantics). The
    window is partitioned by ``lang``, so packing parallelizes across
    languages; within a language the running sum needs that language's
    docs ordered — at 100 TB shard the stream first (e.g. partition by
    ``(lang, pmod(doc_id, shards))``) and pack per shard: packing only
    requires *an* order, not a global one.
    """
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toked = docs.select("doc_id", "lang", X.token_count("text").alias("n_tokens"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = F.sum("n_tokens").over(w) - F.col("n_tokens")
    packed = toked.select(
        "lang", "n_tokens", F.floor(offset / 512.0).cast("bigint").alias("pack_id")
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
    )


@register(
    "x_ann_ivf_topk",
    oracle=f"""
    with centroids as (
      select vec_id as cid, cast(embedding as double[]) as c
      from embeddings where vec_id < 8
    ), corpus as (
      select vec_id, cast(embedding as double[]) as v from embeddings
    ), corpus_scored as (
      select e.vec_id, c.cid,
             round(list_dot_product(e.v, c.c)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(c.c, c.c))), 6) as sim
      from corpus e cross join centroids c
    ), assign as (
      select vec_id as neighbor_id, cid as cell from (
        select *, row_number() over (
          partition by vec_id order by sim desc, cid) as rn
        from corpus_scored) where rn = 1
    ), probes as (
      select vec_id as query_id, cid as cell from (
        select *, row_number() over (
          partition by vec_id order by sim desc, cid) as rn
        from corpus_scored where vec_id < 10) where rn <= 2
    ), cand as (
      select p.query_id, a.neighbor_id,
             round({_DUCK_COSINE}, 6) as cosine_sim
      from probes p
      join assign a on a.cell = p.cell and a.neighbor_id <> p.query_id
      join embeddings a2 on a2.vec_id = p.query_id
      join embeddings b on b.vec_id = a.neighbor_id
    ), ranked as (
      select query_id, neighbor_id, cosine_sim, row_number() over (
        partition by query_id order by cosine_sim desc, neighbor_id) as rank
      from cand
    )
    select query_id, neighbor_id, cosine_sim, rank from ranked where rank <= 5
    """.replace("a.embedding", "a2.embedding"),
)
def x_ann_ivf_topk(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    cents = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.where(F.col("vec_id") < 8).collect()
    ]
    queries = emb.where(F.col("vec_id") < 10)
    return S.ivf_topk(
        emb,
        cents,
        queries,
        k=5,
        nprobe=2,
        parallelism=min(8, spark.sparkContext.defaultParallelism),
    )


@register(
    "x_ann_ivf_topk_quantized",
    oracle="""
    with corpus0 as (
      select vec_id, cast(embedding as double[]) as v from embeddings
    ), bounds as (
      select vec_id, v, list_min(v) as lo, list_max(v) as hi from corpus0
    ), recon as (
      -- int8-range quantize then dequantize: the corpus the search sees
      select vec_id,
             case when hi = lo then list_transform(v, x -> lo)
                  else list_transform(v, x -> lo +
                    cast(floor((x - lo) * 255.0 / (hi - lo) + 0.5) as int)
                    * ((hi - lo) / 255.0)) end as v
      from bounds
    ), centroids as (
      select vec_id as cid, cast(embedding as double[]) as c
      from embeddings where vec_id < 8
    ), assign as (
      select vec_id as neighbor_id, cell from (
        select r.vec_id, c.cid as cell, row_number() over (
          partition by r.vec_id order by
            round(list_dot_product(r.v, c.c)
                  / (sqrt(list_dot_product(r.v, r.v))
                     * sqrt(list_dot_product(c.c, c.c))), 6) desc, c.cid
        ) as rn
        from recon r cross join centroids c) where rn = 1
    ), probes as (
      -- queries ride FULL-precision (asymmetric distance)
      select vec_id as query_id, cell from (
        select q.vec_id, c.cid as cell, row_number() over (
          partition by q.vec_id order by
            round(list_dot_product(q.v, c.c)
                  / (sqrt(list_dot_product(q.v, q.v))
                     * sqrt(list_dot_product(c.c, c.c))), 6) desc, c.cid
        ) as rn
        from corpus0 q cross join centroids c where q.vec_id < 10)
      where rn <= 2
    ), cand as (
      select p.query_id, a.neighbor_id,
             round(list_dot_product(q.v, r.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(r.v, r.v))), 6) as cosine_sim
      from probes p
      join assign a on a.cell = p.cell and a.neighbor_id <> p.query_id
      join corpus0 q on q.vec_id = p.query_id
      join recon r on r.vec_id = a.neighbor_id
    ), ranked as (
      select query_id, neighbor_id, cosine_sim, row_number() over (
        partition by query_id order by cosine_sim desc, neighbor_id) as rank
      from cand
    )
    select query_id, neighbor_id, cosine_sim, rank from ranked where rank <= 5
    """,
)
def x_ann_ivf_topk_quantized(spark, sf_dir):
    """The memory-lean ANN path under the driver gate: IVF search over
    the int8-QUANTIZED corpus (4x smaller index), dequantized on the fly
    for asymmetric full-precision-query distance. The oracle replays the
    dequant formula exactly (floor(x+0.5) tie-break, sequential-fold
    dot products), so the whole quantize→search composition is
    value-graded, not just its stages."""
    emb = table(spark, sf_dir, "embeddings")
    cents = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.where(F.col("vec_id") < 8).collect()
    ]
    queries = emb.where(F.col("vec_id") < 10)
    return S.ivf_topk_quantized(
        emb,
        cents,
        queries,
        k=5,
        nprobe=2,
        parallelism=min(8, spark.sparkContext.defaultParallelism),
    )


@register(
    "x_decontaminate",
    oracle=f"""
    with toks as (
      select doc_id, string_split({_NORM}, ' ') as ws from documents
    ), sh as (
      select doc_id,
             unnest(list_distinct([
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
               for i in range(1, greatest(len(ws) - 1, 1))
             ])) as shingle
      from toks where len(ws) >= 3
    ), bench as (
      select distinct shingle from sh where doc_id % 23 = 0
    )
    select s.doc_id, count(*) as n_shared_grams
    from sh s join bench b on s.shingle = b.shingle
    where s.doc_id % 23 <> 0
    group by s.doc_id
    """,
)
def x_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing any word-3-gram
    with the (deterministic ~4%) benchmark slice. Benchmark gram set
    broadcasts; corpus side is map-only until the per-doc count."""
    docs = table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 23 == 0)
    corpus = docs.where(F.col("doc_id") % 23 != 0)
    return D.contamination_overlap(corpus, bench)


@register(
    "x_vocab_build",
    oracle=f"""
    with toks as (
      select doc_id, unnest({_TOKS}) as term from documents
      where length({_NORM}) > 0
    ), n as (
      select count(distinct doc_id) as n_docs from toks
    )
    select term,
           cast(count(*) as bigint) as n_occurrences,
           cast(count(distinct doc_id) as bigint) as doc_freq
    from toks cross join n
    group by term, n.n_docs
    having count(distinct doc_id) >= 3
       and count(distinct doc_id) <= 0.8 * n.n_docs
    """,
)
def x_vocab_build(spark, sf_dir):
    """Corpus vocabulary with min_df=3 / max_df=80% bounds — drops both
    hapax noise and stopword-like terms (the synthetic corpus draws from
    a ~31-word vocab, so both bounds genuinely cut); one groupBy(term)
    shuffle."""
    docs = table(spark, sf_dir, "documents")
    return X.vocabulary(docs, min_df=3, max_df_frac=0.8)


@register(
    "x_corpus_ngram_topk",
    oracle=f"""
    with toks as (
      select doc_id, string_split({_NORM}, ' ') as ws
      from documents where length({_NORM}) > 0
    ), grams as (
      select doc_id,
             unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                     for i in range(1, greatest(len(ws) - 1, 1))]) as ngram
      from toks where len(ws) >= 3
    ), dg as (
      select ngram, doc_id, count(*) as c from grams group by 1, 2
    ), agg as (
      select ngram, cast(sum(c) as bigint) as n_total,
             cast(count(*) as bigint) as n_docs
      from dg group by ngram
    )
    select ngram, n_total, n_docs from agg
    where n_total >= 2
    order by n_total desc, ngram
    limit 20
    """,
)
def x_corpus_ngram_topk(spark, sf_dir):
    """Global corpus repetition analysis (`textstats.corpus_ngram_topk`):
    the top-20 most repeated word trigrams with total-occurrence and
    containing-doc counts — the C4/RefinedWeb boilerplate-discovery
    rollup. Two-level agg (per-(gram,doc) partials, then per-gram) +
    TakeOrderedAndProject top-k; ties broken by gram string, so the
    selected SET is unique and gradable. Oracle replays both levels
    and the deterministic order-by-limit."""
    return X.corpus_ngram_topk(table(spark, sf_dir, "documents"))


@register(
    "x_events_funnel",
    oracle="""
    with v as (
      select user_id, min(ts) as t1 from events
      where event_type = 'view' group by user_id
    ), c as (
      select e.user_id, min(e.ts) as t2
      from events e join v on e.user_id = v.user_id
      where e.event_type = 'click' and e.ts > v.t1
      group by e.user_id
    ), p as (
      select e.user_id, min(e.ts) as t3
      from events e join c on e.user_id = c.user_id
      where e.event_type = 'purchase' and e.ts > c.t2
      group by e.user_id
    )
    select cast((select count(*) from v) as bigint) as n_view,
           cast((select count(*) from c) as bigint) as n_click_after_view,
           cast((select count(*) from p) as bigint)
             as n_purchase_after_click
    """,
)
def x_events_funnel(spark, sf_dir):
    """Strict-order conversion funnel (view → click → purchase): users
    advance a stage only with an event STRICTLY after their previous
    stage's first event. Three groupBys + two joins, all keyed on
    user_id — the exchanges co-partition, so each stage reuses the
    partitioning of the last."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    one, zero = F.lit(1), F.lit(0)
    tagged = (
        v.select(one.alias("v"), zero.alias("c"), zero.alias("p"))
        .unionByName(c.select(zero.alias("v"), one.alias("c"), zero.alias("p")))
        .unionByName(p.select(zero.alias("v"), zero.alias("c"), one.alias("p")))
    )
    return tagged.agg(
        F.sum("v").cast("bigint").alias("n_view"),
        F.sum("c").cast("bigint").alias("n_click_after_view"),
        F.sum("p").cast("bigint").alias("n_purchase_after_click"),
    )


@register(
    "x_events_hourly_dense",
    oracle="""
    with bounds as (
      select date_trunc('hour', min(ts)) as lo,
             date_trunc('hour', max(ts)) as hi
      from events
    ), hours as (
      select unnest(generate_series(lo, hi, interval 1 hour)) as hour
      from bounds
    ), agg as (
      select date_trunc('hour', ts) as hour,
             cast(count(*) as bigint) as n_events
      from events where event_type = 'purchase' group by 1
    )
    select h.hour, coalesce(a.n_events, 0) as n_events
    from hours h left join agg a on h.hour = a.hour
    """,
)
def x_events_hourly_dense(spark, sf_dir):
    """Gap-filled hourly purchase counts: densify the time axis with
    ``sequence`` + ``explode`` so silent hours appear as explicit zero
    rows (dashboards and anomaly detectors need the gaps, not their
    absence). The hour spine is generated from a 1-row bounds aggregate
    — O(hours) rows — and left-joins the sparse counts; the counts side
    is the only corpus-sized exchange."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("hour")
    )
    agg = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return hours.join(agg, "hour", "left").select(
        "hour", F.coalesce("n_events", F.lit(0).cast("bigint")).alias("n_events")
    )


@register(
    "x_weighted_sample",
    oracle="""
    select doc_id, lang, source, n_chars
    from documents
    where (cast(('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))
                as bigint) % 1000000)
          < cast(floor(least(1.0, greatest(0.0, n_chars / 400.0))
                       * 1000000) as bigint)
    """,
)
def x_weighted_sample(spark, sf_dir):
    """Deterministic weight-proportional sampling (keep probability =
    n_chars/400, clamped): the reproducible data-mixing draw — the same
    logical rows survive on any engine, run, or partitioning. Narrow
    filter, no shuffle."""
    from hive_scripts_spark.functions.canonical import weighted_sample

    docs = table(spark, sf_dir, "documents")
    return weighted_sample(
        docs, ["doc_id"], F.col("n_chars") / F.lit(400.0)
    ).select("doc_id", "lang", "source", "n_chars")


@register(
    "x_data_mixture",
    oracle=f"""
    with toks as (
      select doc_id, source, len(string_split({_NORM}, ' ')) as n_tokens
      from documents where length({_NORM}) > 0
    ), agg as (
      select source,
             cast(count(*) as bigint) as n_docs,
             cast(sum(n_tokens) as bigint) as total_tokens
      from toks group by source
    )
    select source, n_docs, total_tokens,
           round(total_tokens / cast(sum(total_tokens) over () as double), 6)
             as token_share
    from agg
    """,
)
def x_data_mixture(spark, sf_dir):
    """Training data-mixture report: per-source document and token
    counts plus each source's share of the corpus token budget — the
    table a pretraining run's sampling weights are set from. Token
    counting is map-side; one groupBy(source) exchange; the share
    window runs over the AGGREGATED frame (cardinality = number of
    sources), not the corpus."""
    from pyspark.sql import Window

    from hive_scripts_spark.functions.strings import normalize_whitespace

    docs = table(spark, sf_dir, "documents")
    toks = docs.where(F.length(normalize_whitespace("text")) > 0).select(
        "source", X.token_count("text").alias("__n")
    )
    agg = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n").cast("bigint").alias("total_tokens"),
    )
    total = F.sum("total_tokens").over(
        Window.partitionBy()  # over the ~|sources| aggregate rows only
    )
    return agg.select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(F.col("total_tokens") / total.cast("double"), 6).alias(
            "token_share"
        ),
    )


# stub model weights for the hashed linear quality scorer: 64 buckets
# of exact thousandths from a fixed integer recurrence — deterministic,
# and the decimal strings parse to identical doubles in every engine
# (strtod is correctly rounded). A trained model swaps in at the same
# interface; the PLAN is the load-bearing part.
_QMODEL_WEIGHTS = [((i * 2654435761) % 2001 - 1000) / 1000.0 for i in range(64)]
_QMODEL_SQL_LIST = "[" + ",".join(repr(w) for w in _QMODEL_WEIGHTS) + "]"


@register(
    "x_quality_model",
    oracle=f"""
    with t as (
      select doc_id, string_split({_NORM}, ' ') as toks
      from documents where length({_NORM}) > 0
    )
    select doc_id, cast(len(toks) as bigint) as n_tokens,
           round(list_reduce(
             list_prepend(cast(0.0 as double),
               list_transform(toks, t ->
                 ({_QMODEL_SQL_LIST})[
                   cast(cast(('0x' || substr(md5(t), 1, 15)) as bigint)
                        % 64 as int) + 1])),
             (acc, x) -> acc + x) / len(toks), 6) as quality_logit
    from t
    """,
)
def x_quality_model(spark, sf_dir):
    """Model-based quality filtering (`operators/textstats.py
    hashed_linear_score`): the serving plan of a hashed-bucket linear
    text classifier — per token, one portable-md5 bucket lookup into a
    64-entry plan-literal weight array; per doc, the sequential mean.
    This is the CCNet/fastText-quality-model inference shape reduced to
    a zero-shuffle map-side fold; the stub weights swap for a trained
    model's buckets with no plan change (same class as the k-means /
    KenLM notes). Oracle replays bucket → lookup → ordered fold → mean
    symbolically; production uses the xxhash64 bucket variant."""
    from hive_scripts_spark.operators.textstats import hashed_linear_score

    return hashed_linear_score(
        table(spark, sf_dir, "documents"), _QMODEL_WEIGHTS
    )


@register(
    "x_quality_gate_report",
    oracle=f"""
    with t as (
      select doc_id, source, string_split({_NORM}, ' ') as toks
      from documents where length({_NORM}) > 0
    ), scored as (
      select doc_id, source,
             round(list_reduce(
               list_prepend(cast(0.0 as double),
                 list_transform(toks, t ->
                   ({_QMODEL_SQL_LIST})[
                     cast(cast(('0x' || substr(md5(t), 1, 15)) as bigint)
                          % 64 as int) + 1])),
               (acc, x) -> acc + x) / len(toks), 6) as quality_logit
      from t
    )
    select source,
           cast(sum(case when quality_logit > 0 then 1 else 0 end)
                as bigint) as n_keep,
           cast(sum(case when quality_logit > 0 then 0 else 1 end)
                as bigint) as n_drop,
           round(sum(case when quality_logit > 0 then 1 else 0 end)
                 / cast(count(*) as double), 6) as keep_frac,
           round(cast(sum(cast(quality_logit as decimal(18,6))) as double)
                 / count(*), 6) as mean_logit
    from scored group by source
    """,
)
def x_quality_gate_report(spark, sf_dir):
    """Per-source keep/drop report of the quality gate
    (`textstats.quality_gate_report`, threshold 0): what a curation run
    publishes per source before committing a filter threshold. The
    group label rides the scoring fold via keep_cols (no doc_id
    re-join); one |sources|-key rollup with map-side partials;
    mean_logit accumulates exact decimals so the oracle replays it
    bit-for-bit."""
    from hive_scripts_spark.operators.textstats import quality_gate_report

    return quality_gate_report(
        table(spark, sf_dir, "documents"), _QMODEL_WEIGHTS
    )


@register(
    "x_doc_length_profile",
    oracle=f"""
    with t as (
      select source, len(string_split({_NORM}, ' ')) as n
      from documents where length({_NORM}) > 0
    )
    select source, cast(count(*) as bigint) as n_docs,
           round(quantile_cont(n, 0.5), 4) as p50_tokens,
           round(quantile_cont(n, 0.9), 4) as p90_tokens,
           cast(min(n) as bigint) as min_tokens,
           cast(max(n) as bigint) as max_tokens
    from t group by source
    """,
)
def x_doc_length_profile(spark, sf_dir):
    """Per-source token-length profile (`textstats.length_profile`):
    doc count, p50/p90 token length (continuous interpolation — the
    `g_percentiles`-proven Spark `percentile` ↔ DuckDB `quantile_cont`
    pairing), min/max — the calibration read before setting length-
    filter thresholds. Map-side token count; the shuffle carries
    (source, n) pairs only."""
    from hive_scripts_spark.operators.textstats import length_profile

    return length_profile(table(spark, sf_dir, "documents"))


# shared CTE chain ending in `tw` (the temperature-weights table) —
# used by x_mixture_temperature (reports it) and x_mixture_epoch
# (materializes it into copies)
_DUCK_TEMPERATURE = f"""
    with toks as (
      select doc_id, source, len(string_split({_NORM}, ' ')) as n_tokens
      from documents where length({_NORM}) > 0
    ), agg as (
      select source,
             cast(count(*) as bigint) as n_docs,
             cast(sum(n_tokens) as bigint) as total_tokens
      from toks group by source
    ), sh as (
      select source, n_docs, total_tokens,
             total_tokens / cast(sum(total_tokens) over () as double) as share
      from agg
    ), sq as (
      select *, cast(round(sqrt(share), 6) as decimal(18,6)) as sqrt_share
      from sh
    ), tw as (
      select source, n_docs, total_tokens,
             round(share, 6) as token_share,
             round(cast(sqrt_share as double)
                   / cast(sum(sqrt_share) over () as double), 6)
               as sample_weight,
             round((round(cast(sqrt_share as double)
                   / cast(sum(sqrt_share) over () as double), 6)) / share, 6)
               as upsample_factor
      from sq
    )
"""


@register(
    "x_mixture_temperature",
    oracle=f"""{_DUCK_TEMPERATURE}
    select source, n_docs, total_tokens, token_share, sample_weight,
           upsample_factor
    from tw
    """,
)
def x_mixture_temperature(spark, sf_dir):
    """Temperature-scaled mixture weights (`functions/canonical.py
    temperature_weights`, alpha=0.5): the multilingual-LM sampling rule
    — weight ∝ token_share^0.5, upweighting low-resource sources, with
    the per-source upsample factor (weight/share). All ratio math runs
    over the aggregated per-source frame; alpha=0.5 is sqrt (correctly
    rounded IEEE — cross-engine bit-identical, unlike pow), and the
    scaled shares are 6dp decimals before the normalizing sum so the
    sum is order-invariant. Oracle replays share → sqrt → round →
    decimal sum → weight → upsample symbolically."""
    from hive_scripts_spark.functions.canonical import temperature_weights

    _, agg = _temperature_agg(spark, sf_dir)
    return temperature_weights(agg)


def _temperature_agg(spark, sf_dir):
    """The per-source token aggregate temperature_weights consumes."""
    from hive_scripts_spark.functions.strings import normalize_whitespace

    docs = table(spark, sf_dir, "documents")
    toks = docs.where(F.length(normalize_whitespace("text")) > 0).select(
        "source", X.token_count("text").alias("__n")
    )
    return docs, toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n").cast("bigint").alias("total_tokens"),
    )


@register(
    "x_mixture_epoch",
    oracle=f"""{_DUCK_TEMPERATURE}
    , assigned as (
      select d.doc_id, d.source,
             w.upsample_factor * 1.0 as f,
             cast(('0x' || substr(
                 md5('mix' || chr(1) || cast(d.doc_id as varchar)), 1, 15))
                  as bigint) % 1000000 as b
      from documents d join tw w using (source)
    ), copies as (
      select doc_id, source,
             cast(floor(f) as bigint)
             + case when b < cast(round((f - floor(f)) * 1000000, 0) as bigint)
                    then 1 else 0 end as n
      from assigned
    )
    select doc_id, source,
           cast(unnest(generate_series(1, n)) as int) as copy_no
    from copies
    where n >= 1
    """,
)
def x_mixture_epoch(spark, sf_dir):
    """One materialized epoch of the alpha=0.5 temperature mixture
    (`functions/canonical.py mixture_materialize`): every doc appears
    floor(f) times plus one more for the deterministic frac(f) md5
    bucket of its source, f = the source's upsample factor — so
    low-resource sources repeat and dominant ones thin, byte-identically
    across runs and engines ('mix'-salted bucket, independent of the
    split/shard hashes). Map-only: the weights broadcast (~|sources|
    rows) and the copies come from a per-row sequence generator; no
    shuffle anywhere. The oracle replays weights → f → bucket → copy
    counts → generate_series symbolically."""
    from hive_scripts_spark.functions.canonical import (
        mixture_materialize,
        temperature_weights,
    )

    docs, agg = _temperature_agg(spark, sf_dir)
    return mixture_materialize(
        docs.select("doc_id", "source"), temperature_weights(agg)
    )


@register(
    "x_embed_quantize",
    oracle="""
    with s as (
      select vec_id, cast(embedding as double[]) as v
      from embeddings
    ), b as (
      select vec_id, v, list_min(v) as lo, list_max(v) as hi from s
    ), qq as (
      select vec_id, v, lo, hi, (hi - lo) / 255.0 as scale,
             case when hi = lo then list_transform(v, x -> 0)
                  else list_transform(v, x ->
                    cast(floor((x - lo) * 255.0 / (hi - lo) + 0.5) as int))
             end as q
      from b
    )
    select vec_id, array_to_string(q, ',') as q,
           round(lo, 6) as v_min, round(scale, 6) as v_scale,
           round(sqrt(list_sum([
             (v[i] - (lo + cast(q[i] as double) * scale))
             * (v[i] - (lo + cast(q[i] as double) * scale))
             for i in range(1, len(v) + 1)
           ]) / len(q)), 6) as rmse
    from qq
    """,
)
def x_embed_quantize(spark, sf_dir):
    """Per-vector int8-range scalar quantization (4x ANN memory
    compression) with reconstruction RMSE — map-only HOF arithmetic,
    no shuffle; floor(x+0.5) pins the rounding tie-break identically
    across engines.

    The registered (graded) form joins the codes array into one
    comma-separated string column: the driver canonicalizes results
    with a pandas sort, which cannot hash list-typed cells (the r5
    harness error). ``quantize_embeddings`` itself stays array-typed
    for :func:`ivf_topk_quantized` composition."""
    emb = table(spark, sf_dir, "embeddings")
    out = S.quantize_embeddings(emb)
    return out.withColumn(
        "q", F.array_join(F.col("q").cast("array<string>"), ",")
    )


@register(
    "x_events_retention",
    oracle="""
    with f as (
      select user_id, min(cast(ts as date)) as d0
      from events group by user_id
    ), a as (
      select distinct user_id, cast(ts as date) as d from events
    )
    select cast(date_diff('day', f.d0, a.d) as int) as offset_days,
           cast(count(*) as bigint) as n_users
    from a join f on a.user_id = f.user_id
    where date_diff('day', f.d0, a.d) between 0 and 7
    group by offset_days
    """,
)
def x_events_retention(spark, sf_dir):
    """Day-N retention off each user's first-seen day: how many users
    return 0..7 days after their first event (the standard cohort
    curve). distinct (user, day) + first-day groupBy + join all key on
    user_id, so the exchanges co-partition; the final rollup is 8
    rows."""
    ev = table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    a = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    off = F.datediff("d", "d0")
    return (
        a.join(f, "user_id")
        .where(off.between(0, 7))
        .select(off.alias("offset_days"))
        .groupBy("offset_days")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


@register(
    "x_events_replay_dedup",
    oracle="""
    with replayed as (
      select event_id, ts, user_id, event_type, value from events
      union all
      -- deterministic at-least-once replay: ~14% of events re-arrive
      -- one minute late (the batch stand-in for a source retry)
      select event_id, ts + interval 1 minute as ts, user_id, event_type,
             value
      from events where event_id % 7 = 0
    ), ranked as (
      select *, row_number() over (
        partition by event_id
        order by ts, user_id, event_type, value) as rn
      from replayed
    )
    select event_id, ts, user_id, event_type, value
    from ranked where rn = 1
    """,
)
def x_events_replay_dedup(spark, sf_dir):
    """Batch face of the streaming replay-dedup operators
    (``streaming.stateful.streaming_dedup`` /
    ``dedup_within_watermark``): first occurrence per event_id wins by
    event time. The frame unions a deterministic replayed subset so the
    dedup actually has duplicates to drop; the survivor pick is a
    map-side-partial min-struct — one exchange, no window sort. Exact
    stream↔batch parity is pytest-asserted."""
    from hive_scripts_spark.streaming.stateful import replay_dedup_batch

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    replay = ev.where(F.col("event_id") % 7 == 0).withColumn(
        "ts", F.col("ts") + F.expr("interval 1 minute")
    )
    return replay_dedup_batch(ev.unionByName(replay))


@register(
    "x_events_user_totals",
    oracle="""
    select user_id,
           cast(count(*) as bigint) as n_events,
           cast(sum(cast(value as decimal(18, 2))) as double)
             as total_value
    from events group by user_id
    """,
)
def x_events_user_totals(spark, sf_dir):
    """Batch face of ``streaming.stateful.running_user_totals``: the
    per-user (count, value-sum) the stateful operator converges to once
    the stream drains. Decimal accumulation keeps the double sum
    summation-order-invariant (oracle-exact on both engines); one
    map-side-partial exchange keyed on user_id."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18, 2)"))
        .cast("double")
        .alias("total_value"),
    )


@register(
    "x_doc_polyhash",
    oracle=f"""
    with toks as (
      select doc_id, string_split({_NORM}, ' ') as ws
      from documents where length({_NORM}) > 0
    )
    select doc_id,
           list_reduce(
             list_prepend(cast(0 as bigint),
               list_transform(ws, w -> {{h}} % 1000003)),
             (acc, h) -> (acc * 131 + h) % 2147483647) as poly_hash
    from toks
    """.replace(
        "{h}", "cast(('0x' || substr(md5('w|' || w), 1, 15)) as bigint)"
    ),
)
def x_doc_polyhash(spark, sf_dir):
    """Engine-portable polynomial (Karp-Rabin-style) document
    fingerprint: Horner fold ``acc = (acc*131 + h(w)) % (2^31-1)`` over
    the token stream, with the md5-based portable word hash — the
    value-gradable twin of the xxhash64 production rolling hash
    (``x_doc_rolling_hash``, graded rows-only). Order-SENSITIVE by
    construction (unlike the content md5), so it fingerprints the token
    sequence, not the bag. Map-only JVM fold, zero shuffle."""
    from hive_scripts_spark.functions.strings import normalize_whitespace
    from hive_scripts_spark.operators.dedup import portable_hash60

    docs = table(spark, sf_dir, "documents")
    norm = normalize_whitespace("text")
    toks = docs.where(F.length(norm) > 0).select(
        "doc_id", F.split(norm, " ").alias("__ws")
    )
    hashed = F.transform(
        F.col("__ws"), lambda w: portable_hash60(F.lit("w"), w) % 1000003
    )
    poly = F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 131 + h) % 2147483647,
    )
    return toks.select("doc_id", poly.alias("poly_hash"))


@register(
    "x_text_unigram_logprob",
    oracle=r"""
    with toks0 as (
      select doc_id, string_split(trim(regexp_replace(regexp_replace(text, chr(13), '', 'g'), '\s+', ' ', 'g')), ' ') as ws
      from documents where length(trim(regexp_replace(regexp_replace(text, chr(13), '', 'g'), '\s+', ' ', 'g'))) > 0
    ), positions as (
      select doc_id, ws, unnest(range(1, len(ws) + 1)) as pos from toks0
    ), toks as (
      select doc_id, pos, ws[pos] as term from positions
    ), counts as (
      select term, count(*) as c from toks group by term
    ), total as (
      select cast(sum(c) as double) as total from counts
    ), scored as (
      select doc_id, pos,
             log2(cast(c as double) / (select total from total)) as lp
      from toks join counts using (term)
    ), packed as (
      select doc_id, list(lp order by pos) as seq from scored group by doc_id
    )
    select doc_id,
           cast(len(seq) as bigint) as n_tokens,
           round(-list_reduce(list_prepend(0.0, seq), (a, b) -> a + b)
                 / len(seq), 6) as mean_neg_logprob
    from packed
    """,
)
def x_text_unigram_logprob(spark, sf_dir):
    """Unigram-LM quality score (the 'perplexity filter' stand-in): mean
    negative log2 corpus-unigram probability per document. Token
    log-probs are reassembled in POSITION order and folded sequentially
    on both engines, so the float sum is summation-order-deterministic
    (a bare groupBy().sum() would hash-flake)."""
    docs = table(spark, sf_dir, "documents")
    return X.unigram_logprob_score(docs)


@register(
    "x_text_bigram_logprob",
    oracle=f"""
    with toks0 as (
      select doc_id, string_split({_NORM}, ' ') as ws
      from documents where length({_NORM}) > 0
    ), positions as (
      select doc_id, ws, unnest(range(1, len(ws) + 1)) as pos from toks0
    ), toks as (
      select doc_id, pos, ws[pos] as term from positions
    ), pairs as (
      select doc_id, pos, ws[pos] as w1, ws[pos + 1] as w2
      from positions where pos < len(ws)
    ), c2 as (
      select w1, w2, count(*) as c2 from pairs group by w1, w2
    ), c1 as (
      select w1, count(*) as c1 from pairs group by w1
    ), v as (
      select cast(count(distinct term) as double) as v from toks
    ), scored as (
      select p.doc_id, p.pos,
             log2((cast(c2.c2 as double) + 0.5)
                  / (cast(c1.c1 as double) + 0.5 * (select v from v))) as lp
      from pairs p
      join c2 on c2.w1 = p.w1 and c2.w2 = p.w2
      join c1 on c1.w1 = p.w1
    ), packed as (
      select doc_id, list(lp order by pos) as seq from scored group by doc_id
    )
    select doc_id,
           cast(len(seq) as bigint) as n_bigrams,
           round(-list_reduce(list_prepend(0.0, seq), (a, b) -> a + b)
                 / len(seq), 6) as mean_neg_logprob
    from packed
    """,
)
def x_text_bigram_logprob(spark, sf_dir):
    """Bigram-LM quality score (the r14
    :func:`~hive_scripts_spark.operators.textstats.bigram_logprob_score`):
    add-k-smoothed corpus bigram conditionals
    ``(c(w1,w2)+k) / (c(w1)+k*V)``, folded per document in POSITION
    order — the unigram scorer's summation-order determinism contract
    one LM order up, so the float fold is bit-identical across engines."""
    docs = table(spark, sf_dir, "documents")
    return X.bigram_logprob_score(docs, k=0.5)


@register(
    "x_doc_chunk",
    oracle=f"""
    with toks as (
      select doc_id, string_split({_NORM}, ' ') as ws
      from documents where length({_NORM}) > 0
    ), starts as (
      select doc_id, ws,
             unnest(range(0, cast(ceil(len(ws) / 48.0) as bigint))) as k
      from toks
    )
    select doc_id, cast(k as int) as chunk_id,
           array_to_string(ws[k * 48 + 1 : k * 48 + 64], ' ') as chunk_text,
           cast(least(64, len(ws) - k * 48) as int) as n_tokens
    from starts
    """,
)
def x_doc_chunk(spark, sf_dir):
    """Overlapping fixed-token document chunking (64-token windows,
    16-token overlap → stride 48) — the sequence-prep step before
    embedding/RAG indexing. Map-only: tokenize once, `sequence` the
    starts, slice per start, one posexplode; zero shuffle."""
    docs = table(spark, sf_dir, "documents")
    return X.chunk_documents(docs, chunk_tokens=64, overlap=16)


@register(
    "x_decontaminate_substring",
    oracle=f"""
    with bench as (
      -- trim to match the Spark side, which re-normalizes each snippet
      -- (normalize_whitespace trims edges) before the >=20-char filter
      -- and distinct — without it an edge-whitespace snippet diverges
      select distinct trim(substr({_NORM}, 10, 40)) as snippet
      from documents
      where doc_id % 29 = 0
        and length(trim(substr({_NORM}, 10, 40))) >= 20
    )
    select d.doc_id, cast(count(*) as bigint) as n_bench_hits
    from documents d join bench b on contains({_NORM}, b.snippet)
    where d.doc_id % 29 <> 0
    group by d.doc_id
    """,
)
def x_decontaminate_substring(spark, sf_dir):
    """Exact-substring decontamination: corpus docs containing a
    benchmark snippet verbatim (snippet = chars 10..49 of each
    deterministic ~3% benchmark doc, the 'eval question' stand-in).
    Snippet set broadcasts; corpus side is a map-only contains scan."""
    docs = table(spark, sf_dir, "documents")
    from hive_scripts_spark.functions.strings import normalize_whitespace

    bench = docs.where(F.col("doc_id") % 29 == 0).select(
        F.substring(normalize_whitespace("text"), 10, 40).alias("snippet")
    )
    corpus = docs.where(F.col("doc_id") % 29 != 0)
    return D.contamination_substring(corpus, bench)


@register(
    "x_shard_assign",
    oracle="""
    select (cast(('0x' || substr(md5(cast(doc_id as varchar)), 1, 15)) as bigint)
            % 16) as shard,
           count(*) as n_docs,
           cast(sum(n_chars) as bigint) as sum_chars
    from documents
    group by 1
    """,
)
def x_shard_assign(spark, sf_dir):
    """Deterministic shard assignment for training-data export: shard
    sizes stay balanced (hash-uniform) and stable across runs/cluster
    sizes — the audit query a 100 TB export job runs before writing
    ``partitionBy('shard')``."""
    from hive_scripts_spark.functions.canonical import shard_by_hash

    docs = table(spark, sf_dir, "documents")
    return (
        shard_by_hash(docs, ["doc_id"], n_shards=16)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@register(
    "x_text_repetition",
    oracle=f"""
    with toks as (
      select doc_id, string_split({_NORM}, ' ') as ws from documents
    ), grams as (
      select doc_id,
             unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) as g
      from toks where len(ws) >= 2
    ), counts as (
      select doc_id, g, count(*) as c from grams group by doc_id, g
    )
    select doc_id,
           cast(sum(c) as bigint) as n_grams,
           count(*) as n_distinct,
           cast(sum(c) - count(*) as double) / cast(sum(c) as double)
             as dup_gram_frac,
           cast(max(c) as double) / cast(sum(c) as double) as top_gram_frac
    from counts group by doc_id
    """,
)
def x_text_repetition(spark, sf_dir):
    """Within-doc 2-gram repetition (Gopher quality signals), map-only
    run-length fold — the oracle takes the explode+groupBy road and must
    agree exactly."""
    docs = table(spark, sf_dir, "documents")
    return X.repetition_signals(docs)


@register(
    "x_text_entropy",
    oracle=f"""
    with toks as (
      select doc_id, unnest({_TOKS}) as term from documents
      where length({_NORM}) > 0
    ), tf as (
      select doc_id, term, count(*) as c from toks group by all
    )
    select doc_id,
           cast(sum(c) as bigint) as n_tokens,
           cast(count(*) as bigint) as n_types,
           round(count(*) / cast(sum(c) as double), 6) as ttr,
           round(log2(cast(sum(c) as double))
                 - sum(c * log2(cast(c as double))) / sum(c), 6)
             as entropy_bits
    from tf group by doc_id
    """,
)
def x_text_entropy(spark, sf_dir):
    """Unigram entropy + type-token ratio (lexical-diversity quality
    signals), zero-exchange sorted-run fold — the oracle takes the
    explode+groupBy road and must agree to 6 decimals."""
    docs = table(spark, sf_dir, "documents")
    return X.word_entropy(docs)


def _curation_full_oracle() -> str:
    from hive_scripts_spark.operators.textstats import LANG_STOPWORDS

    langs = sorted(LANG_STOPWORDS)
    hit_exprs = ",\n             ".join(
        f"len(list_filter(lt, w -> list_contains({_duck_stoplist(LANG_STOPWORDS[lang])}, w)))"
        f" as hits_{lang}"
        for lang in langs
    )
    m = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    first_max = " ".join(f"when hits_{lang} = {m} then '{lang}'" for lang in langs)
    norm_lower = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
    four = "ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]"
    return f"""
    with corpus as (
      select * from documents where doc_id % 23 <> 0
    ), base as (
      -- stage 1: exact dedup on normalized content
      select min(doc_id) as doc_id, arg_min(text, doc_id) as text
      from corpus group by md5({_NORM})
    ), bsh as (
      -- stage 2: benchmark 4-gram set
      select distinct unnest([{four} for i in range(1, greatest(len(ws) - 2, 1))]) as g
      from (select string_split({_NORM}, ' ') as ws
            from documents where doc_id % 23 = 0)
      where len(ws) >= 4
    ), csh as (
      select doc_id,
             unnest(list_distinct([{four} for i in range(1, greatest(len(ws) - 2, 1))])) as g
      from (select doc_id, string_split({_NORM}, ' ') as ws from base)
      where len(ws) >= 4
    ), flagged as (
      select distinct c.doc_id from csh c join bsh b on c.g = b.g
    ), clean as (
      select * from base where doc_id not in (select doc_id from flagged)
    ), grams2 as (
      -- stage 3: within-doc 2-gram repetition
      select doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) as g
      from (select doc_id, string_split({_NORM}, ' ') as ws from clean)
      where len(ws) >= 2
    ), rep as (
      select doc_id,
             cast(sum(c) - count(*) as double) / cast(sum(c) as double) as dup_frac
      from (select doc_id, g, count(*) as c from grams2 group by doc_id, g)
      group by doc_id
    ), kept as (
      select cl.doc_id, cl.text from clean cl
      join rep on rep.doc_id = cl.doc_id and rep.dup_frac <= 0.10
    ), toks as (
      select doc_id, text,
             case when length({_NORM}) = 0 then cast([] as varchar[])
                  else string_split({_NORM}, ' ') end as t,
             case when length(trim(lower(text))) = 0 then cast([] as varchar[])
                  else string_split({norm_lower}, ' ') end as lt
      from kept
    ), gated as (
      -- stage 4: quality gate
      select doc_id, t, lt from toks
      where cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) as double)
              / greatest(length(text), 1) >= 0.5
        and len(t) >= 10
    ), lang as (
      select doc_id, len(t) as n_tokens,
             {hit_exprs}
      from gated
    )
    select case when {m} = 0 then 'und' {first_max} end as predicted_lang,
           count(*) as n_docs,
           cast(sum(n_tokens) as bigint) as total_tokens
    from lang
    group by all
    """


@register("x_curation_full", oracle=_curation_full_oracle())
def x_curation_full(spark, sf_dir):
    """The complete training-data curation pipeline: exact dedup →
    benchmark decontamination (4-gram overlap) → repetition gate
    (dup-2-gram fraction ≤ 0.10) → quality gate (alpha ratio, length) →
    language-ID token rollup.

    Shuffle budget at any scale: dedup groupBy, the decontamination gram
    join's per-doc count, the repetition metric's none (map-only fold),
    and the final rollup — the contamination flag set and the benchmark
    gram set broadcast, and `repetition_signals(keep_cols=['text'])`
    carries the payload through instead of re-joining on doc_id.
    """
    from hive_scripts_spark.operators.curation import (
        curate_documents,
        curation_report,
    )

    docs = table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 23 == 0)
    corpus = docs.where(F.col("doc_id") % 23 != 0)
    return curation_report(curate_documents(corpus, bench))


@register(
    "x_dedup_components_exact",
    oracle=f"""
    {_DUCK_SHINGLES},
    sizes as (select doc_id, count(*) as n_sh from sh group by doc_id),
    common as (
      select a.doc_id as a_id, b.doc_id as b_id, count(*) as n_common
      from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
      group by 1, 2
    ), pairs as (
      select a_id, b_id from common
      join sizes sa on sa.doc_id = a_id
      join sizes sb on sb.doc_id = b_id
      where round(cast(n_common as double)
                  / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.2
    ), edges as (
      select a_id as u, b_id as v from pairs
      union select b_id, a_id from pairs
    ), reach as (
      -- transitive closure by recursion: component = min reachable id
      with recursive r(node, root) as (
        select u, u from edges
        union
        select e.u, r.root from edges e join r on r.node = e.v
      )
      select node, min(root) as component from r group by node
    )
    select node, component from reach
    """,
)
def x_dedup_components_exact(spark, sf_dir):
    """Connected components over exact-Jaccard near-dup edges — the
    iterative min-label propagation checked against a DuckDB recursive-CTE
    transitive closure (the `x_dedup_components` minhash variant stays
    rows-only because xxhash64 blocking is engine-specific)."""
    from hive_scripts_spark.operators.cluster import connected_components

    docs = table(spark, sf_dir, "documents")
    # max_docs=None: this query is exact-by-contract (recursive-CTE
    # oracle), so the approximate LSH routing must never engage
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.2, max_docs=None).select(
        "a_id", "b_id"
    )
    return connected_components(pairs)


@register(
    "x_length_histogram",
    oracle="""
    select cast(n_chars - (n_chars % 100) as bigint) as bucket,
           count(*) as n_docs,
           cast(sum(n_chars) as bigint) as sum_chars
    from documents
    group by 1
    """,
)
def x_length_histogram(spark, sf_dir):
    """Document-length histogram (100-char buckets) — the dataset-shape
    report a curation run starts from. Exact integer bucket math."""
    from hive_scripts_spark.operators.textstats import length_histogram

    return length_histogram(table(spark, sf_dir, "documents"))


@register(
    "x_pii_signals",
    # 'g' flags: DuckDB regexp_replace is first-match-only by default,
    # Spark replaces all
    oracle="""
    select doc_id,
           cast(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')) as bigint)
             as n_emails,
           cast(len(regexp_extract_all(text, '[0-9][0-9][0-9][0-9]+')) as bigint)
             as n_digit_runs,
           cast(length(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
             '[0-9][0-9][0-9][0-9]+', '<NUM>', 'g')) as bigint) as redacted_len
    from documents
    """,
)
def x_pii_signals(spark, sf_dir):
    """Per-doc PII indicators (emails, long digit runs, redacted length)
    — the scrub audit a training-data exporter runs per shard. ASCII-only
    patterns behave identically under Java regex and RE2."""
    from hive_scripts_spark.operators.textstats import pii_signals

    return pii_signals(table(spark, sf_dir, "documents"))


@register(
    "x_pii_redact",
    # 'g' flags: DuckDB regexp_replace is first-match-only by default,
    # Spark replaces all. Digit runs are counted on the EMAIL-REDACTED
    # text (t1) so digits inside a matched address don't double-count —
    # replaying pii_redact's reconcilable-count semantics.
    oracle="""
    with s as (
      select doc_id,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
               '<EMAIL>', 'g') as t1,
             cast(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+'))
               as bigint) as ne
      from documents
    )
    select doc_id,
           regexp_replace(t1, '[0-9][0-9][0-9][0-9]+', '<NUM>', 'g')
             as text_redacted,
           ne + cast(len(regexp_extract_all(t1, '[0-9][0-9][0-9][0-9]+'))
             as bigint) as n_redactions
    from s
    """,
)
def x_pii_redact(spark, sf_dir):
    """The redaction pass itself (`textstats.pii_redact`): emails →
    <EMAIL>, 4+-digit runs → <NUM>, with the per-doc redaction count —
    the frame an exporter writes in place of the raw shard. The full
    redacted TEXT is value-graded (not just its length, as in
    `x_pii_signals`); one zero-shuffle JVM projection."""
    from hive_scripts_spark.operators.textstats import pii_redact

    return pii_redact(table(spark, sf_dir, "documents"))


@register(
    "x_skew_report",
    oracle="""
    with c as (
      select user_id, count(*) as n_rows from events group by user_id
    ), t as (select count(*) as total from events)
    select user_id, n_rows,
           cast(n_rows as double) / cast((select total from t) as double) as share
    from c
    order by n_rows desc, user_id
    limit 20
    """,
)
def x_skew_report(spark, sf_dir):
    """Top-20 heaviest event users with row share — the pre-flight that
    decides plain shuffle vs salting vs AQE skew-join."""
    from hive_scripts_spark.functions.skew import skew_report

    return skew_report(table(spark, sf_dir, "events"), ["user_id"], top_n=20)


@register(
    "x_multimodal_resize_real",
    # 4x2 P6 frame from the first 24 text bytes (ASCII testdata, space-
    # padded); 2x2 nearest-neighbor picks rows {0,1} x cols {1,3} =
    # byte triplets at 1-based offsets 4,10,16,22 — the oracle recomputes
    # the resized buffer's md5 by direct substring arithmetic
    oracle="""
    with p as (
      select doc_id, rpad(substr(text, 1, 24), 24, ' ') as t24 from documents
    )
    select doc_id,
           cast(2 as int) as width,
           cast(2 as int) as height,
           md5(substr(t24, 4, 3) || substr(t24, 10, 3)
               || substr(t24, 16, 3) || substr(t24, 22, 3)) as resized_md5
    from p
    """,
)
def x_multimodal_resize_real(spark, sf_dir):
    """REAL (non-fake) nearest-neighbor resize: frame each document's
    first 24 bytes as a 4x2 binary PPM, resample to 2x2, and value-check
    the resized pixel buffer's md5 against substring arithmetic in the
    oracle — this exercises the actual numpy index-sampling path."""
    docs = table(spark, sf_dir, "documents")
    framed = docs.select(
        "doc_id",
        F.concat(
            F.lit("P6 4 2 255\n"), F.rpad(F.substring("text", 1, 24), 24, " ")
        ).alias("ppm_text"),
    )
    return M.resize_images(
        M.binarize(framed, "ppm_text"),
        target=(2, 2),
        fake=False,
        parallelism=min(8, spark.sparkContext.defaultParallelism),
    )


#: four 159-byte constant-gray baseline JPEGs (8x8, one block, flat
#: q=16 tables, custom canonical DHT) generated by the coefficient-
#: level encoder in tests/jpeg_codec.py. Gray levels {16,64,100,126}
#: are chosen so the DC round-trip is EXACT: g-128 even => DC=8(g-128)
#: divisible by q[0]=16, so decode reproduces the constant g bit-for-
#: bit and the resized buffer's md5 is pure SQL (md5 of 12 repeated
#: single-byte chars — all < 128, so DuckDB's UTF-8 md5 sees the same
#: bytes Spark hashes). The streams differ only in the DC Huffman
#: table + scan bits; header/DQT/SOF/SOS bytes are shared.
_JPEG_GRAY_HEX = {
    16: (
        "ffd8ffe000104a46494600010100000100010000ffdb00430010101010101010"
        "1010101010101010101010101010101010101010101010101010101010101010"
        "10101010101010101010101010101010101010101010101010ffc0000b080008"
        "000801011100ffc40014000100000000000000000000000000000006ffc40014"
        "100100000000000000000000000000000000ffda0008010100003f000effd9"
    ),
    64: (
        "ffd8ffe000104a46494600010100000100010000ffdb00430010101010101010"
        "1010101010101010101010101010101010101010101010101010101010101010"
        "10101010101010101010101010101010101010101010101010ffc0000b080008"
        "000801011100ffc40014000100000000000000000000000000000006ffc40014"
        "100100000000000000000000000000000000ffda0008010100003f003effd9"
    ),
    100: (
        "ffd8ffe000104a46494600010100000100010000ffdb00430010101010101010"
        "1010101010101010101010101010101010101010101010101010101010101010"
        "10101010101010101010101010101010101010101010101010ffc0000b080008"
        "000801011100ffc40014000100000000000000000000000000000004ffc40014"
        "100100000000000000000000000000000000ffda0008010100003f000bffd9"
    ),
    126: (
        "ffd8ffe000104a46494600010100000100010000ffdb00430010101010101010"
        "1010101010101010101010101010101010101010101010101010101010101010"
        "10101010101010101010101010101010101010101010101010ffc0000b080008"
        "000801011100ffc40014000100000000000000000000000000000001ffc40014"
        "100100000000000000000000000000000000ffda0008010100003f001fffd9"
    ),
}


@register(
    "x_multimodal_resize_jpeg",
    # decode of a constant-gray baseline JPEG is exact (DC multiple of
    # the quant step, zero AC), so the 2x2 resized RGB buffer is 12
    # copies of the gray byte — md5-computable in pure SQL
    oracle="""
    select doc_id,
           cast(2 as int) as width,
           cast(2 as int) as height,
           md5(repeat(chr(case cast(doc_id % 4 as int)
                          when 0 then 16 when 1 then 64
                          when 2 then 100 else 126 end), 12)) as resized_md5
    from documents
    """,
)
def x_multimodal_resize_jpeg(spark, sf_dir):
    """REAL baseline-JPEG pixel decode + resize (r12, VERDICT r11 item
    5): each document selects one of four constant-gray 8x8 baseline-
    DCT JPEG payloads by doc_id % 4; ``resize_images`` runs the actual
    numpy entropy-decode -> dequant -> IDCT -> resample path
    (JPEG being the dominant real-lake image format), and the oracle
    recomputes each resized buffer's md5 from the exactness argument
    above. Huffman/zigzag/subsampling/restart coverage beyond the
    constant-DC case is coefficient-level pytest
    (tests/test_multimodal.py round-trips against an independent
    encoder)."""
    docs = table(spark, sf_dir, "documents")
    framed = docs.select(
        "doc_id",
        F.when(F.pmod("doc_id", F.lit(4)) == 0, F.lit(bytes.fromhex(_JPEG_GRAY_HEX[16])))
        .when(F.pmod("doc_id", F.lit(4)) == 1, F.lit(bytes.fromhex(_JPEG_GRAY_HEX[64])))
        .when(F.pmod("doc_id", F.lit(4)) == 2, F.lit(bytes.fromhex(_JPEG_GRAY_HEX[100])))
        .otherwise(F.lit(bytes.fromhex(_JPEG_GRAY_HEX[126])))
        .alias("payload"),
    )
    return M.resize_images(
        framed,
        target=(2, 2),
        fake=False,
        parallelism=min(8, spark.sparkContext.defaultParallelism),
    )


#: four 2-bit PLTE-indexed 8x8 constant-color PNGs (one per palette
#: entry; shared IHDR/PLTE, only the IDAT differs) generated by the
#: test encoder — re-derived in tests/test_multimodal.py's
#: test_png_plan_literals so an edit to either side fails loudly.
#: Palette components all < 128 (md5-portable rule).
_PNG_PALETTE = ((17, 34, 51), (68, 85, 102), (85, 102, 119), (102, 119, 126))
_PNG_CONST_HEX = {
    0: (
        "89504e470d0a1a0a0000000d4948445200000008000000080203000000b961"
        "56180000000c504c544511223344556655667766777eaefec84a0000000b49"
        "444154789c6360c00e0000180001d57fc4ec0000000049454e44ae426082"
    ),
    1: (
        "89504e470d0a1a0a0000000d4948445200000008000000080203000000b961"
        "56180000000c504c544511223344556655667766777eaefec84a0000000d49"
        "444154789c63080d65c086003fd80551364da6dd0000000049454e44ae4260"
        "82"
    ),
    2: (
        "89504e470d0a1a0a0000000d4948445200000008000000080203000000b961"
        "56180000000c504c544511223344556655667766777eaefec84a0000000e49"
        "444154789c6358b58a011b02007f980aa1a10597660000000049454e44ae42"
        "6082"
    ),
    3: (
        "89504e470d0a1a0a0000000d4948445200000008000000080203000000b961"
        "56180000000c504c544511223344556655667766777eaefec84a0000000e49"
        "444154789c63f8ff9f011b0200bf580ff1ce49608e0000000049454e44ae42"
        "6082"
    ),
}

_PNG_MD5_ARMS = " ".join(
    f"when {k} then md5(repeat(chr({r}) || chr({g}) || chr({b_}), 4))"
    for k, (r, g, b_) in list(enumerate(_PNG_PALETTE))[:3]
)
_PNG_R3, _PNG_G3, _PNG_B3 = _PNG_PALETTE[3]


@register(
    "x_multimodal_resize_png",
    # decode of a constant-index 2-bit palette PNG yields 64 copies of
    # the palette RGB; the 2x2 resize keeps 4 of them, and every
    # component < 128 keeps the md5 portable to DuckDB's UTF-8 chr()
    oracle=f"""
    select doc_id,
           cast(2 as int) as width,
           cast(2 as int) as height,
           case cast(doc_id % 4 as int) {_PNG_MD5_ARMS}
                else md5(repeat(chr({_PNG_R3}) || chr({_PNG_G3}) || chr({_PNG_B3}), 4))
           end as resized_md5
    from documents
    """,
)
def x_multimodal_resize_png(spark, sf_dir):
    """REAL PNG palette decode + resize (grades the r13 full RFC 2083
    depth/type grid the way ``x_multimodal_resize_jpeg`` grades the
    JPEG entropy decoder): each document selects one of four 2-bit
    PLTE-indexed constant-color PNG plan literals by doc_id % 4;
    ``resize_images`` runs the actual inflate -> unfilter -> sub-byte
    unpack -> palette-expand path, and the oracle computes each
    resized buffer's md5 in pure SQL (4 copies of the palette RGB, all
    components < 128 — the established md5-portable rule). The
    remaining depth/type pairs (1/4/8/16-bit, gray/RGB(A), Adam7) stay
    round-trip pytest against the independent test encoder."""
    docs = table(spark, sf_dir, "documents")
    framed = docs.select(
        "doc_id",
        F.when(F.pmod("doc_id", F.lit(4)) == 0, F.lit(bytes.fromhex(_PNG_CONST_HEX[0])))
        .when(F.pmod("doc_id", F.lit(4)) == 1, F.lit(bytes.fromhex(_PNG_CONST_HEX[1])))
        .when(F.pmod("doc_id", F.lit(4)) == 2, F.lit(bytes.fromhex(_PNG_CONST_HEX[2])))
        .otherwise(F.lit(bytes.fromhex(_PNG_CONST_HEX[3])))
        .alias("payload"),
    )
    return M.resize_images(
        framed,
        target=(2, 2),
        fake=False,
        parallelism=min(8, spark.sparkContext.defaultParallelism),
    )


#: four constant-index 8x8 GIF89a literals over one shared 4-entry
#: palette (components < 128, md5-portable rule) generated by the
#: independent test encoder — tests/test_multimodal.py re-derives them
#: so an edit to either side fails loudly
_GIF_PALETTE = ((18, 35, 52), (69, 86, 103), (86, 103, 120), (103, 120, 127))
_GIF_CONST_HEX = {
    0: (
        "4749463839610800080081000012233445566756677867787f2c000000000800"
        "0800000206848fa9cbed5d003b"
    ),
    1: (
        "4749463839610800080081000012233445566756677867787f2c000000000800"
        "08000002068c8fa9cbed5d003b"
    ),
    2: (
        "4749463839610800080081000012233445566756677867787f2c000000000800"
        "0800000206948fa9cbed5d003b"
    ),
    3: (
        "4749463839610800080081000012233445566756677867787f2c000000000800"
        "08000002069c8fa9cbed5d003b"
    ),
}

_GIF_MD5_ARMS = " ".join(
    f"when {k} then md5(repeat(chr({r}) || chr({g}) || chr({b_}), 4))"
    for k, (r, g, b_) in list(enumerate(_GIF_PALETTE))[:3]
)
_GIF_R3, _GIF_G3, _GIF_B3 = _GIF_PALETTE[3]


@register(
    "x_multimodal_resize_gif",
    # decode of a constant-index GIF89a yields 64 copies of the palette
    # RGB; the 2x2 resize keeps 4 of them, and every component < 128
    # keeps the md5 portable to DuckDB's UTF-8 chr()
    oracle=f"""
    select doc_id,
           cast(2 as int) as width,
           cast(2 as int) as height,
           case cast(doc_id % 4 as int) {_GIF_MD5_ARMS}
                else md5(repeat(chr({_GIF_R3}) || chr({_GIF_G3}) || chr({_GIF_B3}), 4))
           end as resized_md5
    from documents
    """,
)
def x_multimodal_resize_gif(spark, sf_dir):
    """REAL GIF LZW decode + resize — completes the graded codec
    triple (JPEG r12, PNG r14, GIF r15): each document selects one of
    four constant-index 8x8 GIF89a plan literals by doc_id % 4;
    ``resize_images`` runs the actual header parse -> LZW decompress
    -> palette-expand path, and the oracle computes each resized
    buffer's md5 in pure SQL (4 copies of the palette RGB, all
    components < 128 — the established md5-portable rule). The wider
    GIF surface (interlace, local palettes, frame disposal) stays
    round-trip pytest against the independent test encoder."""
    docs = table(spark, sf_dir, "documents")
    framed = docs.select(
        "doc_id",
        F.when(F.pmod("doc_id", F.lit(4)) == 0, F.lit(bytes.fromhex(_GIF_CONST_HEX[0])))
        .when(F.pmod("doc_id", F.lit(4)) == 1, F.lit(bytes.fromhex(_GIF_CONST_HEX[1])))
        .when(F.pmod("doc_id", F.lit(4)) == 2, F.lit(bytes.fromhex(_GIF_CONST_HEX[2])))
        .otherwise(F.lit(bytes.fromhex(_GIF_CONST_HEX[3])))
        .alias("payload"),
    )
    return M.resize_images(
        framed,
        target=(2, 2),
        fake=False,
        parallelism=min(8, spark.sparkContext.defaultParallelism),
    )


#: md5 of each constant-gray JPEG literal above (compile-time
#: constants; tests/test_multimodal.py re-derives them with hashlib so
#: an edit to either side fails loudly)
_JPEG_GRAY_MD5 = {
    16: "8b588ab0ebdf80a92b02a1a28b0cbbf3",
    64: "365de6e45ce1170d519ae7714a4138e0",
    100: "7587fc95372b1c5c6f9bda74e7227ddd",
    126: "1f994aa7f5b83bcced1d38c60df8a5bc",
}

#: AVI skeleton for exactly three 159-byte frames: RIFF + hdrl(avih:
#: 3 frames @ 33333 us) + the movi LIST header; each frame is chunked
#: as '00dc' + size + payload + 1 pad byte (159 is odd)
_AVI3_HEAD_HEX = (
    "5249464654020000415649204c495354440000006864726c6176696838000000"
    "3582000000000000000000000000000003000000000000000000000000000000"
    "0000000000000000000000000000000000000000000000004c495354fc010000"
    "6d6f7669"
)
_AVI3_CHUNK_HDR_HEX = "303064639f000000"


def _frames_md5_case(offset: int) -> str:
    """CASE expression mapping (doc_id + offset) % 4 to the frame md5."""
    grays = (16, 64, 100, 126)
    arms = " ".join(
        f"when {i} then '{_JPEG_GRAY_MD5[g]}'" for i, g in enumerate(grays[:3])
    )
    return (
        f"case cast((doc_id + {offset}) % 4 as int) {arms} "
        f"else '{_JPEG_GRAY_MD5[126]}' end"
    )


@register(
    "x_multimodal_frames",
    # extract_frames(every_n=2) over a 3-frame clip samples frames 0
    # and 2; each sampled frame is one of the four 159-byte JPEG plan
    # literals picked by (doc_id + k) % 4, so its md5 / dims are
    # compile-time constants the oracle restates. frame_ts_us grades
    # the r13 container-clock path: the AVI literal's avih declares
    # 33333 us/frame, so frame k shows at k * 33333
    oracle=f"""
    select doc_id, cast(0 as int) as frame_index,
           cast(8 as int) as width, cast(8 as int) as height,
           {_frames_md5_case(0)} as frame_md5,
           cast(0 as bigint) as frame_ts_us
    from documents
    union all
    select doc_id, cast(2 as int) as frame_index,
           cast(8 as int) as width, cast(8 as int) as height,
           {_frames_md5_case(2)} as frame_md5,
           cast(66666 as bigint) as frame_ts_us
    from documents
    """,
)
def x_multimodal_frames(spark, sf_dir):
    """REAL video→frame extraction (grades the r12 container layer the
    way ``x_multimodal_resize_jpeg`` grades the JPEG pixel decoder):
    each document frames as a three-frame MJPEG AVI whose frames are
    the four constant-gray JPEG plan literals picked by
    ``(doc_id + k) % 4``; ``extract_frames`` walks the actual RIFF
    ``movi`` chunk list and JPEG-decodes each sampled frame's
    dimensions, and the oracle recomputes every sampled frame's
    md5/width/height from compile-time constants."""

    def frame(k):
        rem = F.pmod(F.col("doc_id") + k, F.lit(4))
        return (
            F.when(rem == 0, F.lit(bytes.fromhex(_JPEG_GRAY_HEX[16])))
            .when(rem == 1, F.lit(bytes.fromhex(_JPEG_GRAY_HEX[64])))
            .when(rem == 2, F.lit(bytes.fromhex(_JPEG_GRAY_HEX[100])))
            .otherwise(F.lit(bytes.fromhex(_JPEG_GRAY_HEX[126])))
        )

    head = F.lit(bytes.fromhex(_AVI3_HEAD_HEX))
    ch = F.lit(bytes.fromhex(_AVI3_CHUNK_HDR_HEX))
    pad = F.lit(b"\x00")
    docs = table(spark, sf_dir, "documents")
    clips = docs.select(
        "doc_id",
        F.concat(
            head, ch, frame(0), pad, ch, frame(1), pad, ch, frame(2), pad
        ).alias("payload"),
    )
    return M.extract_frames(
        clips,
        every_n=2,
        parallelism=min(8, spark.sparkContext.defaultParallelism),
    ).select(
        "doc_id", "frame_index", "width", "height", "frame_md5",
        "frame_ts_us",
    )


#: constant 44-byte WAV header: mono 8-bit PCM, 8000 Hz, 64-sample data
#: chunk (struct-packed once in Python — binary-safe as a plan literal,
#: where chr()-built headers would utf-8-inflate bytes >127)
_WAV64_HEADER_HEX = (
    "524946466400000057415645666d7420100000000100010040"
    "1f0000401f0000010008006461746140000000"
)


@register(
    "x_multimodal_audio_real",
    # 8-bit PCM decodes as (byte - 128); all-exact int square sum then
    # single IEEE divides — bit-identical across engines (same rule as
    # x_multimodal_audio)
    oracle="""
    with p as (
      select doc_id, rpad(substr(text, 1, 64), 64, ' ') as t64 from documents
    )
    select doc_id,
           cast(64 as bigint) as n_samples,
           cast(64 as double) / cast(8000 as double) as duration_s,
           sqrt(cast(list_sum(list_transform(string_split_regex(t64, ''),
                  c -> (unicode(c) - 128) * (unicode(c) - 128))) as double)
                / cast(64 as double)) as rms_energy
    from p
    """,
)
def x_multimodal_audio_real(spark, sf_dir):
    """REAL (non-fake) WAV decode: frame each document's first 64 bytes
    as a mono 8-bit-PCM RIFF/WAVE payload (constant header → plan
    literal), run the actual chunk-walk + numpy sample decode, and
    value-check n_samples/duration/RMS against exact byte arithmetic in
    the oracle."""
    header = bytes.fromhex(_WAV64_HEADER_HEX)
    docs = table(spark, sf_dir, "documents")
    framed = docs.select(
        "doc_id",
        F.concat(
            F.lit(header), F.encode(F.rpad(F.substring("text", 1, 64), 64, " "), "utf-8")
        ).alias("payload"),
        F.lit("audio").alias("modality"),
        F.lit(108).alias("byte_len"),
    )
    return M.audio_features(
        framed,
        fake=False,
        parallelism=min(8, spark.sparkContext.defaultParallelism),
    )


@register(
    "x_audio_zero_crossings",
    # zcr = (sign flips over 63 adjacent pairs) / 63 — exact-int count,
    # ONE IEEE divide: bit-identical across engines (the audio_real
    # rule). 8-bit PCM decodes as byte-128; negative iff byte < 128
    # (byte 128 -> sample 0.0, signbit False, matching np.signbit).
    oracle="""
    with p as (
      select doc_id, rpad(substr(text, 1, 64), 64, ' ') as t64 from documents
    ), s as (
      select doc_id,
             list_transform(string_split_regex(t64, ''),
                            c -> unicode(c) - 128) as a
      from p
    )
    select doc_id,
           cast(64 as bigint) as n_samples,
           cast(len(list_filter(range(2, 65),
                                i -> (a[i - 1] < 0) != (a[i] < 0)))
                as double) / 63 as zero_crossing_rate
    from s
    """,
)
def x_audio_zero_crossings(spark, sf_dir):
    """Grades the r13 ``audio_spectral_features`` decode + sign-flip
    count (the SQL-expressible columns of the FFT layer): frame each
    document's first 64 bytes as the same 8-bit-PCM WAV the graded
    ``x_multimodal_audio_real`` uses, run the REAL chunk-walk + numpy
    decode + zero-crossing count, and value-check n_samples / ZCR
    against exact byte arithmetic. The spectral columns (centroid,
    bandwidth, rolloff) stay value-checked by the analytic-oracle
    pytest (sines at exact FFT bins), which SQL cannot express."""
    header = bytes.fromhex(_WAV64_HEADER_HEX)
    docs = table(spark, sf_dir, "documents")
    framed = docs.select(
        "doc_id",
        F.concat(
            F.lit(header),
            F.encode(F.rpad(F.substring("text", 1, 64), 64, " "), "utf-8"),
        ).alias("payload"),
    )
    return M.audio_spectral_features(
        framed, parallelism=min(8, spark.sparkContext.defaultParallelism)
    ).select("doc_id", "n_samples", "zero_crossing_rate")


@register(
    "x_multimodal_video_meta",
    oracle="""
    with f as (
      select doc_id,
             1 + cast(('0x' || substr(md5(text), 1, 4)) as int) % 3600 as frames
      from documents
    )
    select doc_id,
           'fake' as container,
           cast(frames as double) / cast(30 as double) as duration_s,
           cast(frames as bigint) as n_frames
    from f
    """,
)
def x_multimodal_video_meta(spark, sf_dir):
    """Video container metadata (fake deterministic path; the real
    MP4-mvhd/AVI-avih parser is pytest-covered with crafted atoms)."""
    docs = table(spark, sf_dir, "documents")
    return M.video_meta(
        M.binarize(docs, "text"),
        fake=True,  # synthetic contract — this query oracles the plumbing
        parallelism=min(8, spark.sparkContext.defaultParallelism),
    )


# ---------------------------------------------------------------------------
# curation: per-group caps and quality-aware near-dup survivors
# ---------------------------------------------------------------------------


@register(
    "x_group_cap",
    oracle="""
    with ranked as (
      select doc_id, lang, source,
             row_number() over (
               partition by lang, source
               order by md5(cast(doc_id as varchar)), doc_id) as rn
      from documents
    )
    select doc_id, lang, source, cast(rn as bigint) as pick_order
    from ranked where rn <= 20
    """,
)
def x_group_cap(spark, sf_dir):
    """At most 20 documents per (lang, source), picked by portable md5
    hash order — the bounded-per-domain sampling step of a curation run
    (`functions/canonical.py group_cap`; same md5-prefix idiom as
    deterministic_sample/shard_by_hash, so both engines pick identical
    rows)."""
    from hive_scripts_spark.functions.canonical import group_cap

    docs = table(spark, sf_dir, "documents")
    return group_cap(docs, ["lang", "source"], n=20, order_key="doc_id").select(
        "doc_id", "lang", "source", "pick_order"
    )


@register(
    "x_dedup_survivors",
    oracle=f"""
    {_DUCK_SHINGLES},
    sizes as (select doc_id, count(*) as n_sh from sh group by doc_id),
    common as (
      select a.doc_id as a_id, b.doc_id as b_id, count(*) as n_common
      from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
      group by 1, 2
    ), pairs as (
      select a_id, b_id from common
      join sizes sa on sa.doc_id = a_id
      join sizes sb on sb.doc_id = b_id
      where round(cast(n_common as double)
                  / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.2
    ), edges as (
      select a_id as u, b_id as v from pairs
      union select b_id, a_id from pairs
    ), reach as (
      with recursive r(node, root) as (
        select u, u from edges
        union
        select e.u, r.root from edges e join r on r.node = e.v
      )
      select node, min(root) as component from r group by node
    ), members as (
      select d.doc_id, d.n_chars, coalesce(r.component, d.doc_id) as component
      from documents d left join reach r on r.node = d.doc_id
    )
    select component, survivor_id, n_members from (
      select component, doc_id as survivor_id,
             cast(count(*) over (partition by component) as bigint) as n_members,
             row_number() over (
               partition by component order by n_chars desc, doc_id) as rn
      from members) where rn = 1
    """,
)
def x_dedup_survivors(spark, sf_dir):
    """Quality-aware near-dup survivor selection: exact-Jaccard edges →
    connected components (transitive clusters) → keep each cluster's
    longest doc (ties to lowest id); singletons survive as themselves.
    Checked against a recursive-CTE closure + per-component ranking in
    DuckDB — the full curation "which docs do I actually keep" answer,
    one step past `x_dedup_components_exact`'s labels."""
    from hive_scripts_spark.operators.dedup import near_dup_survivors

    docs = table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.2, max_docs=None).select(
        "a_id", "b_id"
    )
    return near_dup_survivors(docs, pairs, quality_col="n_chars")


@register(
    "x_dedup_semantic",
    oracle=f"""
    with centroids as (
      select vec_id as centroid_id, cast(embedding as double[]) as c
      from embeddings where vec_id < 8
    ), scored as (
      select e.vec_id, c.centroid_id,
             round(list_dot_product(cast(e.embedding as double[]), c.c)
                   / (sqrt(list_dot_product(cast(e.embedding as double[]),
                                            cast(e.embedding as double[])))
                      * sqrt(list_dot_product(c.c, c.c))), 6) as sim
      from embeddings e cross join centroids c
    ), assigned as (
      select vec_id, centroid_id, sim from (
        select *, row_number() over (
          partition by vec_id order by sim desc, centroid_id) as rn
        from scored) t where rn = 1
    ), pairs as (
      select aa.vec_id as a_id, bb.vec_id as b_id
      from assigned aa join assigned bb
        on aa.centroid_id = bb.centroid_id and aa.vec_id < bb.vec_id
      join embeddings a on a.vec_id = aa.vec_id
      join embeddings b on b.vec_id = bb.vec_id
      where round({_DUCK_COSINE}, 6) >= 0.35
    ), edges as (
      select a_id as u, b_id as v from pairs
      union select b_id, a_id from pairs
    ), reach as (
      with recursive r(node, root) as (
        select u, u from edges
        union
        select e.u, r.root from edges e join r on r.node = e.v
      )
      select node, min(root) as component from r group by node
    ), members as (
      select a.vec_id, a.centroid_id, a.sim,
             coalesce(r.component, a.vec_id) as component
      from assigned a left join reach r on r.node = a.vec_id
    )
    select vec_id, centroid_id, sim as centroid_sim from (
      select *, row_number() over (
        partition by component order by sim asc, vec_id) as rn
      from members) t where rn = 1
    """,
)
def x_dedup_semantic(spark, sf_dir):
    """SemDeDup (arXiv:2303.09540) end-to-end: coarse cells → intra-cell
    cosine edges → connected components → keep the LEAST-prototypical
    member per group (lowest centroid cosine, ties to lowest id).
    Threshold 0.35 ≈ p99.9 of the near-random testdata cosine
    distribution, same rationale as `x_embed_near_dup`; centroids are
    the first 8 embeddings, same deterministic convention as
    `x_ann_ivf_assign`. The oracle replays every stage in DuckDB:
    argmax assignment, same-cell pair generation, a recursive-CTE
    transitive closure, and the per-component min-sim survivor rank."""
    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
    )
    return S.semantic_dedup(emb, centroids, threshold=0.35)


@register(
    "x_decontaminate_embedding",
    oracle=f"""
    with corpus as (select * from embeddings where vec_id % 50 <> 0),
    bench as (select * from embeddings where vec_id % 50 = 0),
    dirty as (
      select distinct a.vec_id
      from corpus a join bench b
        on round({_DUCK_COSINE}, 6) >= 0.35
    )
    select vec_id, label from corpus
    where vec_id not in (select vec_id from dirty)
    """,
)
def x_decontaminate_embedding(spark, sf_dir):
    """Embedding-space decontamination: drop corpus rows within cosine
    0.35 of ANY benchmark vector — the semantic complement of the
    n-gram `x_decontaminate*` family (catches paraphrased eval leakage
    that shares no 8-gram). Benchmark = every 50th vec_id (2% of the
    corpus at any sf), so the query scales with the table instead of
    pinning an absolute id range. The max-cos-vs-bench is `ivf_assign`
    with the bench vectors as plan literals (zero corpus shuffle) and
    the verdict joins back as a broadcast ANTI-join on the rare
    contaminated ids. literal_threshold is sized explicitly (ADVICE
    r9): the bench side is sf-proportional, and the oracle-exact
    literal fold must not silently flip to the numpy route (boundary-
    ulp tolerance) when the table outgrows the 256 default — 65536
    covers the bench split to ~3.3M embedding rows, far past any
    grading sf."""
    emb = table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % 50 != 0)
    bench = emb.where(F.col("vec_id") % 50 == 0)
    kept = S.embedding_decontaminate(
        corpus, bench, threshold=0.35, literal_threshold=65536
    )
    return kept.select("vec_id", "label")


@register(
    "x_length_trim",
    oracle="""
    with ranked as (
      select doc_id, lang, n_chars,
             row_number() over (
               partition by lang order by n_chars, doc_id) as rn,
             count(*) over (partition by lang) as n
      from documents
    )
    select doc_id, lang, n_chars from ranked
    where rn * 100 > n * 1 and rn * 100 <= n * 99
    """,
)
def x_length_trim(spark, sf_dir):
    """Per-language length-outlier trim: cut the shortest 1% and longest
    1% of docs by RANK (`functions/canonical.rank_trim`) — exact bigint
    bounds, so both engines keep the identical row set (percentile-value
    trims have engine-specific interpolation at the boundaries)."""
    from hive_scripts_spark.functions.canonical import rank_trim

    docs = table(spark, sf_dir, "documents")
    return rank_trim(
        docs, ["lang"], "n_chars", order_key="doc_id", lo_pct=1, hi_pct=99
    ).select("doc_id", "lang", "n_chars")


# ---------------------------------------------------------------------------
# incremental reconciliation + streaming UC#1 batch face (driver rows for
# operators/incremental.py and streaming/reconcile.py — VERDICT r6 items 3/4)
# ---------------------------------------------------------------------------


def _incremental_demo(spark, sf_dir: str, subdir: str):
    """Shared materialization for the incremental driver rows: a
    Hive-partitioned copy of ``orders`` (by ``o_orderstatus``) on both
    sides of a repo-local scratch dir, both manifests pinned as
    "previous state", then ONE target partition rewritten with the
    deterministic perturbation (drop ``o_orderkey % 31 == 0`` from
    ``o_orderstatus=F``). Returns ``(src_dir, tgt_dir, prev_src,
    prev_tgt)``. The output of anything computed downstream is a pure
    function of ``orders`` — no filesystem state reaches the grade."""
    import shutil
    from pathlib import Path

    from hive_scripts_spark.operators.incremental import file_manifest

    tag = sf_dir.strip("/").replace("/", "_")
    scratch = Path(__file__).resolve().parents[2] / ".scratch" / f"{subdir}_{tag}"
    shutil.rmtree(scratch, ignore_errors=True)

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    # repartition on the partition column first: a straight
    # partitionBy write fans out to (input splits × partition values)
    # files (~192 here — small-files pathology the module's own
    # small_file_report exists to flag); this way each partition
    # directory gets one file per side
    for side in ("src", "tgt"):
        orders.repartition("o_orderstatus").write.partitionBy(
            "o_orderstatus"
        ).mode("overwrite").parquet(str(scratch / side / "orders"))

    def snapshot(side: str):
        # pin the manifest's rows NOW (DataFrames are lazy — a live
        # manifest would list the post-perturbation files)
        mf = file_manifest(spark, str(scratch / side / "orders"), ["o_orderstatus"])
        return spark.createDataFrame(mf.collect(), mf.schema)

    prev_src, prev_tgt = snapshot("src"), snapshot("tgt")

    # the "new data arrived" event: one target partition rewritten
    perturbed = orders.where(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 31 != 0)
    ).drop("o_orderstatus")
    perturbed.coalesce(1).write.mode("overwrite").parquet(
        str(scratch / "tgt" / "orders" / "o_orderstatus=F")
    )
    return str(scratch / "src"), str(scratch / "tgt"), prev_src, prev_tgt


@register(
    "x_incremental_reconcile",
    oracle="""
    with src as (
      select o_orderstatus, count(*) as c from orders group by 1
    ), tgt as (
      select o_orderstatus, count(*) as c from orders
      where not (o_orderstatus = 'F' and o_orderkey % 31 = 0)
      group by 1
    )
    select 'orders' as table_name,
           'o_orderstatus=' || src.o_orderstatus as partition_spec,
           src.c as src_count, tgt.c as tgt_count,
           case when src.c = tgt.c then 'matched'
                else 'mismatched' end as status
    from src join tgt using (o_orderstatus)
    where o_orderstatus = 'F'
    """,
)
def x_incremental_reconcile(spark, sf_dir):
    """Manifest-diff incremental UC#1 (`operators/incremental.py`),
    self-materializing: write a Hive-partitioned copy of ``orders`` (by
    ``o_orderstatus``) to both sides of a repo-local scratch dir, save
    both manifests as "previous state", rewrite ONE target partition
    with a deterministic perturbation (drop ``o_orderkey % 31 == 0``
    from ``o_orderstatus=F``), then run
    :func:`incremental_count_reconcile` against the saved state. The
    manifest diff flags only the rewritten partition, the ``isin``
    predicate prunes the other directories at planning time
    (``PartitionFilters`` — pytest-asserted in ``test_incremental.py``),
    and the output is that single partition's count-reconcile row — a
    deterministic function of ``orders`` alone, which is exactly what
    the oracle recomputes (no file-system state leaks into the grade).
    The reference re-counts every partition every run
    (``verizon_automation_script.sh:104-183``); this is the 100 TB
    shape: O(files) metadata listing, rescan only what changed.
    """
    from hive_scripts_spark.operators.incremental import (
        incremental_count_reconcile,
    )

    src_dir, tgt_dir, prev_src, prev_tgt = _incremental_demo(
        spark, sf_dir, "incr"
    )
    reconciled, _, _ = incremental_count_reconcile(
        spark,
        src_dir,
        tgt_dir,
        "orders",
        ["o_orderstatus"],
        prev_src_manifest=prev_src,
        prev_tgt_manifest=prev_tgt,
    )
    return reconciled


@register(
    "x_incremental_fingerprint",
    oracle=f"""
    with base as (
      select o_orderkey, o_orderstatus from orders
      where o_orderstatus = 'F'
        and {duck_hash_bucket("cast(o_orderkey as varchar)")} < 100
    ), src as (
      select {duck_fingerprint(duck_canonical_row([("o_orderkey", "int"), ("o_orderstatus", "str")]))} as f
      from base
    ), tgt as (
      select {duck_fingerprint(duck_canonical_row([("o_orderkey", "int"), ("o_orderstatus", "str")]))} as f
      from base where o_orderkey % 31 <> 0
    )
    select 'orders' as table_name,
           'o_orderstatus=F' as partition_spec,
           src.f as src_fingerprint,
           tgt.f as tgt_fingerprint,
           case when src.f is not distinct from tgt.f
                then 'consistent' else 'inconsistent' end as status
    from src, tgt
    """,
)
def x_incremental_fingerprint(spark, sf_dir):
    """Manifest-diff incremental UC#2 (`operators/incremental.py
    incremental_fingerprint_reconcile`) — the sampled-content
    companion of `x_incremental_reconcile`, sharing its
    materialization: only the rewritten ``o_orderstatus=F`` partition
    is re-fingerprinted (deterministic 10% hash-mod sample, portable
    md5 modular-sum fingerprint), so the output is that partition's
    consistency verdict. The oracle replays sample + fingerprint on
    both sides straight from ``orders`` — same-sample-rows property of
    the hash-mod sampler is what makes the incremental verdict
    directly comparable to a full run's (and to an independent
    engine's)."""
    from hive_scripts_spark.operators.incremental import (
        incremental_fingerprint_reconcile,
    )

    src_dir, tgt_dir, prev_src, prev_tgt = _incremental_demo(
        spark, sf_dir, "incrfp"
    )
    reconciled, _, _ = incremental_fingerprint_reconcile(
        spark,
        src_dir,
        tgt_dir,
        "orders",
        ["o_orderstatus"],
        key_cols=["o_orderkey"],
        prev_src_manifest=prev_src,
        prev_tgt_manifest=prev_tgt,
        fraction=0.10,
    )
    return reconciled


@register(
    "x_stream_reconcile_batch",
    oracle="""
    with src as (
      select 'events' as table_name,
             'window_start=' || cast(date_trunc('hour', ts) as varchar)
               || '/event_type=' || event_type as partition_spec,
             count(*) as src_count
      from events group by 1, 2
    ), tgt as (
      select 'events' as table_name,
             'window_start=' || cast(date_trunc('hour', ts) as varchar)
               || '/event_type=' || event_type as partition_spec,
             count(*) as tgt_count
      from events
      where event_id % 97 <> 0 and event_type <> 'error'
      group by 1, 2
    )
    select src.table_name, src.partition_spec, src.src_count,
           tgt.tgt_count,
           case when tgt.tgt_count is null then 'source_only'
                when src.src_count = tgt.tgt_count then 'matched'
                else 'mismatched' end as status
    from src left join tgt using (table_name, partition_spec)
    """,
)
def x_stream_reconcile_batch(spark, sf_dir):
    """Batch face of the micro-batch UC#1 stream reconcile
    (`streaming/reconcile.py`): hourly per-event-type counts on both
    sides lifted into the reference's ``table:partition-spec:count``
    contract (:func:`as_count_frame`), then the EXACT per-batch body
    (:func:`reconcile_count_frames` — leftsemi-restricted target +
    full-outer count reconcile) that ``foreachBatch`` runs in
    production. The target side is a deterministic perturbation (drops
    ``event_id % 97 == 0`` and all ``error`` events), so the output
    exercises matched / mismatched / source_only; ``target_only`` is
    structurally impossible here BY DESIGN — unfinalized windows must
    never surface as phantoms (the leftsemi), which the oracle mirrors
    with a left join. Stream↔batch parity of the underlying windowed
    counts is pytest-asserted in ``test_streaming.py``."""
    from hive_scripts_spark.streaming.reconcile import (
        as_count_frame,
        reconcile_count_frames,
    )

    ev = table(spark, sf_dir, "events")

    def hourly(df):
        return (
            df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("row_count"))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "row_count",
            )
        )

    src = as_count_frame(hourly(ev), "event_type")
    tgt = as_count_frame(
        hourly(
            ev.where(
                (F.col("event_id") % 97 != 0) & (F.col("event_type") != "error")
            )
        ),
        "event_type",
    )
    return reconcile_count_frames(src, tgt)


# ---------------------------------------------------------------------------
# r7 additions: bloom-prefiltered decontamination, cross-corpus dedup,
# deterministic train/val/test split
# ---------------------------------------------------------------------------


@register(
    "x_decontaminate_bloom",
    oracle=f"""
    with toks as (
      select doc_id, string_split({_NORM}, ' ') as ws from documents
    ), sh as (
      select doc_id,
             unnest(list_distinct([
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
               for i in range(1, greatest(len(ws) - 1, 1))
             ])) as shingle
      from toks where len(ws) >= 3
    ), bench as (
      select distinct shingle from sh where doc_id % 23 = 0
    )
    select s.doc_id, count(*) as n_shared_grams
    from sh s join bench b on s.shingle = b.shingle
    where s.doc_id % 23 <> 0
    group by s.doc_id
    """,
)
def x_decontaminate_bloom(spark, sf_dir):
    """`x_decontaminate` through the plan-literal Bloom-prefilter path
    (`operators/dedup.py bloom_contamination_overlap`): the benchmark
    gram set folds into a literal bitset probed with map-side integer
    arithmetic, and only the ~2% of corpus grams that might-contain
    reach the exact broadcast-verify join. Bloom filters have no false
    negatives and the verify is exact, so the ORACLE IS THE SAME SQL as
    the broadcast-join path — the filter changes the plan, never the
    answer (and the driver row proves exactly that)."""
    docs = table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 23 == 0)
    corpus = docs.where(F.col("doc_id") % 23 != 0)
    # route pinned: the bench here is known-small, and auto's sizing
    # count job is exactly the bench-side job overhead the r7 A/B
    # showed costing ~10x at sf0.1 (the distributed route exists for
    # eval sets too big to collect — PLANS.md, x_decontaminate_bloom row)
    return D.bloom_contamination_overlap(corpus, bench, route="literal")


_NORM_OF = _NORM.replace("text", "{q}.text")


@register(
    "x_dedup_cross",
    oracle=f"""
    select d.doc_id, d.lang, d.source
    from documents d
    where not exists (
        select 1 from documents r
        where r.doc_id % 10 = 0
          and {_NORM_OF.format(q='r')} = {_NORM_OF.format(q='d')}
      )
    """,
)
def x_dedup_cross(spark, sf_dir):
    """Cross-corpus exact dedup (`operators/dedup.py
    cross_corpus_dedup`): the full table plays the fresh crawl, the
    ``doc_id % 10 == 0`` slice the already-trained reference corpus —
    so the ~10% overlap is deterministically present and the operator
    visibly drops it (the synthetic table has no naturally duplicated
    texts). The anti-join shuffles two independent xxhash64 keys (128
    bits effective — hash equality is content equality at any realistic
    corpus size) instead of text bytes; the oracle anti-joins on the
    normalized text itself, so the driver row also certifies the
    hash-pair identity assumption at this scale."""
    docs = table(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 10 == 0)
    return D.cross_corpus_dedup(docs, ref).select("doc_id", "lang", "source")


@register(
    "x_train_val_split",
    oracle="""
    with assigned as (
      select lang, n_chars,
             cast(('0x' || substr(
                 md5('split' || chr(1) || cast(doc_id as varchar)), 1, 15))
                  as bigint) % 100 as b
      from documents
    )
    select case when b < 90 then 'train'
                when b < 95 then 'val'
                else 'test' end as split,
           lang,
           count(*) as n_docs,
           cast(sum(n_chars) as bigint) as sum_chars
    from assigned
    group by 1, 2
    """,
)
def x_train_val_split(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test assignment audit
    (`functions/canonical.py train_val_test_split`): split sizes per
    language, with the same engine-portable md5-prefix bucket idiom as
    shard/sample — a doc's split is a pure function of its id, so
    re-runs, engine swaps, and corpus growth never migrate a document
    across the eval boundary. Zero-shuffle assignment; the only
    exchange is this audit's groupBy."""
    from hive_scripts_spark.functions.canonical import train_val_test_split

    docs = table(spark, sf_dir, "documents")
    return (
        train_val_test_split(docs, ["doc_id"], val_pct=5, test_pct=5)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@register(
    "x_dedup_cross_near",
    oracle=f"""
    {_DUCK_MINHASH_VERIFIED}
    select case when a_id % 10 = 0 then b_id else a_id end as new_id,
           case when a_id % 10 = 0 then a_id else b_id end as ref_id,
           jaccard
    from mh_verified
    where (a_id % 10 = 0) <> (b_id % 10 = 0)
    """,
)
def x_dedup_cross_near(spark, sf_dir):
    """Cross-corpus NEAR-dup (the fuzzy companion of `x_dedup_cross`'s
    exact gate): the portable banded-MinHash pipeline runs over the
    union of fresh crawl and reference corpus, and only pairs that
    STRADDLE the boundary survive — each row names a new-crawl doc, the
    reference doc it near-duplicates, and their exact verified Jaccard.
    Same banded blocking as within-corpus dedup (cross-pair filtering
    is a post-candidate predicate, so candidate generation cost is
    unchanged); the whole pipeline replays verbatim in the DuckDB
    oracle via the shared `mh_verified` CTE chain. Production at scale
    swaps in the xxhash64 family (`minhash_lsh_pairs`) with the same
    composition."""
    docs = table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs_portable(docs, threshold=0.2)
    a_ref = F.col("a_id") % 10 == 0
    b_ref = F.col("b_id") % 10 == 0
    return pairs.where(a_ref != b_ref).select(
        F.when(a_ref, F.col("b_id")).otherwise(F.col("a_id")).alias("new_id"),
        F.when(a_ref, F.col("a_id")).otherwise(F.col("b_id")).alias("ref_id"),
        "jaccard",
    )


@register(
    "x_embed_stats",
    oracle="""
    with per as (
      select label,
             len(embedding) as dim,
             round(sqrt(list_dot_product(cast(embedding as double[]),
                                         cast(embedding as double[]))), 6)
               as nrm,
             list_dot_product(cast(embedding as double[]),
                              cast(embedding as double[])) as dot
      from embeddings
    )
    select label,
           count(*) as n_vecs,
           cast(min(dim) as bigint) as min_dim,
           cast(max(dim) as bigint) as max_dim,
           cast(sum(cast(nrm as decimal(18,6))) as double) / count(*)
             as avg_norm,
           min(nrm) as min_norm,
           max(nrm) as max_norm,
           cast(count(*) filter (where dot = 0) as bigint) as n_zero
    from per group by label
    """,
)
def x_embed_stats(spark, sf_dir):
    """Embedding-corpus QA profile — the sanity gate a pipeline runs
    BEFORE building any ANN index at 100 TB: per-label vector counts,
    dimension range (a min≠max row means ragged embeddings that would
    crash or silently skew the index), L2-norm spread, and zero-vector
    count (cosine similarity is undefined on them — they must be
    quarantined first). Per-row norms reuse the staged sequential
    `F.aggregate` dot fold (bit-identical to DuckDB's
    `list_dot_product`, proven by `x_embed_normalize`); the cross-row
    mean goes through exact decimal accumulation of the 6dp-rounded
    norms so the double result is summation-order-invariant on both
    engines. One map-side-partial exchange on `label`."""
    emb = table(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    staged = emb.select(
        "label", F.size("embedding").cast("bigint").alias("__dim"), vec.alias("__v")
    )
    v = F.col("__v")
    dot = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    per = staged.select(
        "label",
        "__dim",
        dot.alias("__dot"),
    ).select(
        "label",
        "__dim",
        "__dot",
        F.round(F.sqrt("__dot"), 6).alias("__nrm"),
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("__dim").alias("min_dim"),
        F.max("__dim").alias("max_dim"),
        (
            F.sum(F.col("__nrm").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_norm"),
        F.min("__nrm").alias("min_norm"),
        F.max("__nrm").alias("max_norm"),
        F.sum(F.when(F.col("__dot") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
    )


# ---------------------------------------------------------------------------
# product quantization (r7): the memory leap past int8 scalar codes
# ---------------------------------------------------------------------------

#: shared oracle CTEs: codebooks = subvectors of embeddings vec_id < 8
#: (4 subspaces x 16 dims), per-(vector, subspace) nearest code by
#: squared L2 with the SEQUENTIAL list_reduce fold (bit-identical to
#: Spark's zip_with+aggregate), rounded 6dp, ties to the lowest index.
_DUCK_PQ = """
    with cb as (
      select s.range as s, e.vec_id as j,
             list_transform(e.embedding[s.range * 16 + 1 : s.range * 16 + 16],
                            x -> cast(x as double)) as c
      from embeddings e cross join range(4) s
      where e.vec_id < 8
    ), sub as (
      select e.vec_id, s.range as s,
             list_transform(e.embedding[s.range * 16 + 1 : s.range * 16 + 16],
                            x -> cast(x as double)) as v
      from embeddings e cross join range(4) s
    ), d2 as (
      select sub.vec_id, sub.s, cb.j,
             round(list_reduce(
               list_prepend(cast(0.0 as double),
                 list_transform(range(1, 17),
                   t -> (sub.v[t] - cb.c[t]) * (sub.v[t] - cb.c[t]))),
               (acc, x) -> acc + x), 6) as dist
      from sub join cb on cb.s = sub.s
    ), picked as (
      select vec_id, s, j, dist,
             row_number() over (
               partition by vec_id, s order by dist, j) as rn
      from d2
    ), codes as (
      select vec_id,
             string_agg(cast(j as varchar), ',' order by s) as pq_codes,
             round(sum(dist), 6) as pq_err
      from picked where rn = 1 group by vec_id
    )
"""


@register(
    "x_ann_pq_encode",
    oracle=f"{_DUCK_PQ} select vec_id, pq_codes, pq_err from codes",
)
def x_ann_pq_encode(spark, sf_dir):
    """Product-quantization encode (`similarity.pq_encode`): 64-dim
    vectors → 4 sub-space code indices (codebooks = the sub-vectors of
    embeddings vec_id < 8 — deterministic model parameters, embedded
    as plan literals like the IVF centroids) + the reconstruction
    error. 64 float32 → 4 small ints is the ~64× index-memory leap
    past int8 scalar quantization; encode is a zero-shuffle map-side
    projection. The oracle replays subvector slicing, the sequential
    squared-L2 folds, 6dp rounding, and the lowest-index tiebreak
    symbolically — the whole encode is value-graded."""
    emb = table(spark, sf_dir, "embeddings")
    books = _pq_codebooks(emb)
    return S.pq_encode(emb, books)


def _pq_codebooks(emb):
    """Codebooks from the first 8 vectors' subvectors (4 × 16): model
    parameters by declaration — the same deterministic-from-data trick
    as the IVF centroid literals (a production build would k-means a
    sample; the PIPELINE is identical either way)."""
    rows = (
        emb.where(F.col("vec_id") < 8)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    return [
        [[float(x) for x in r["embedding"][s * 16 : (s + 1) * 16]] for r in rows]
        for s in range(4)
    ]


# shared by x_ann_pq_topk (recompute form) and x_ann_pq_index_search
# (search-from-stored-codes form): the oracle recomputes from
# `embeddings` alone either way — the persisted index is an
# implementation detail the grade must not depend on
_DUCK_PQ_TOPK = f"""
    {_DUCK_PQ}, split as (
      select vec_id,
             list_transform(string_split(pq_codes, ','),
                            x -> cast(x as int)) as cl
      from codes
    ), q as (
      select e.vec_id as query_id, s.range as s,
             list_transform(e.embedding[s.range * 16 + 1 : s.range * 16 + 16],
                            x -> cast(x as double)) as qv
      from embeddings e cross join range(4) s
      where e.vec_id < 8
    ), lut as (
      select q.query_id, q.s, cb.j,
             list_reduce(
               list_prepend(cast(0.0 as double),
                 list_transform(range(1, 17),
                   t -> (q.qv[t] - cb.c[t]) * (q.qv[t] - cb.c[t]))),
               (acc, x) -> acc + x) as dist
      from q join cb on cb.s = q.s
    ), adc as (
      select l0.query_id, sp.vec_id as neighbor_id,
             round(l0.dist + l1.dist + l2.dist + l3.dist, 6) as adc_dist
      from split sp
      join lut l0 on l0.s = 0 and l0.j = sp.cl[1]
      join lut l1 on l1.s = 1 and l1.j = sp.cl[2]
                 and l1.query_id = l0.query_id
      join lut l2 on l2.s = 2 and l2.j = sp.cl[3]
                 and l2.query_id = l0.query_id
      join lut l3 on l3.s = 3 and l3.j = sp.cl[4]
                 and l3.query_id = l0.query_id
      where sp.vec_id <> l0.query_id
    )
    select query_id, neighbor_id, adc_dist, rank from (
      select *, cast(row_number() over (
        partition by query_id order by adc_dist, neighbor_id) as int) as rank
      from adc)
    where rank <= 10
    """


@register("x_ann_pq_topk", oracle=_DUCK_PQ_TOPK)
def x_ann_pq_topk(spark, sf_dir):
    """Asymmetric-distance PQ search (`similarity.pq_topk`): per-query
    LUTs (squared L2 of each query subvector to every code) computed
    driver-side with the same sequential float64 ops as the engines'
    folds and embedded as literals; a corpus vector's distance is 4
    LUT lookups + adds over its CODES — the full-precision corpus
    never loads. One exchange (the per-query top-k window). The oracle
    replays encode, LUT, the fixed-order 4-term sum, and the
    ascending/lowest-neighbor tiebreak symbolically — end-to-end
    value-graded, like the quantized-IVF row."""
    emb = table(spark, sf_dir, "embeddings")
    books = _pq_codebooks(emb)
    q_rows = (
        emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    )
    queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in q_rows]
    return S.pq_topk(emb, books, queries, k=10)


# shared by x_ann_ivfpq_topk and x_ann_ivfpq_index_search (see
# _DUCK_PQ_TOPK note)
_DUCK_IVFPQ_TOPK = """
    with centroids as (
      select vec_id as cid, cast(embedding as double[]) as c
      from embeddings where vec_id < 8
    ), corpus as (
      select vec_id, cast(embedding as double[]) as v from embeddings
    ), corpus_scored as (
      select e.vec_id, c.cid,
             round(list_dot_product(e.v, c.c)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(c.c, c.c))), 6) as sim
      from corpus e cross join centroids c
    ), assign as (
      select vec_id, cid as cell from (
        select *, row_number() over (
          partition by vec_id order by sim desc, cid) as rn
        from corpus_scored) where rn = 1
    ), res as (
      select a.vec_id, a.cell,
             list_transform(range(1, 65), t -> e.v[t] - c.c[t]) as r
      from assign a
      join corpus e on e.vec_id = a.vec_id
      join centroids c on c.cid = a.cell
    ), rcb as (
      select s.range as s, r.vec_id - 8 as j,
             r.r[s.range * 16 + 1 : s.range * 16 + 16] as c
      from res r cross join range(4) s
      where r.vec_id between 8 and 15
    ), d2 as (
      select r.vec_id, s.range as s, rcb.j,
             round(list_reduce(
               list_prepend(cast(0.0 as double),
                 list_transform(range(1, 17),
                   t -> (r.r[s.range * 16 + t] - rcb.c[t])
                        * (r.r[s.range * 16 + t] - rcb.c[t]))),
               (acc, x) -> acc + x), 6) as dist
      from res r cross join range(4) s
      join rcb on rcb.s = s.range
    ), codes as (
      select vec_id, list(j order by s) as cl from (
        select *, row_number() over (
          partition by vec_id, s order by dist, j) as rn
        from d2) where rn = 1 group by vec_id
    ), probes as (
      select vec_id as query_id, cid as cell from (
        select *, row_number() over (
          partition by vec_id order by sim desc, cid) as rn
        from corpus_scored where vec_id < 10) where rn <= 2
    ), qres as (
      select p.query_id, p.cell,
             list_transform(range(1, 65), t -> q.v[t] - c.c[t]) as qr
      from probes p
      join corpus q on q.vec_id = p.query_id
      join centroids c on c.cid = p.cell
    ), lut as (
      select qr.query_id, qr.cell, s.range as s, rcb.j,
             list_reduce(
               list_prepend(cast(0.0 as double),
                 list_transform(range(1, 17),
                   t -> (qr.qr[s.range * 16 + t] - rcb.c[t])
                        * (qr.qr[s.range * 16 + t] - rcb.c[t]))),
               (acc, x) -> acc + x) as dist
      from qres qr cross join range(4) s
      join rcb on rcb.s = s.range
    ), adc as (
      select l0.query_id, a.vec_id as neighbor_id,
             round(l0.dist + l1.dist + l2.dist + l3.dist, 6) as adc_dist
      from assign a
      join codes k on k.vec_id = a.vec_id
      join probes p on p.cell = a.cell and p.query_id <> a.vec_id
      join lut l0 on l0.query_id = p.query_id and l0.cell = p.cell
                 and l0.s = 0 and l0.j = k.cl[1]
      join lut l1 on l1.query_id = p.query_id and l1.cell = p.cell
                 and l1.s = 1 and l1.j = k.cl[2]
      join lut l2 on l2.query_id = p.query_id and l2.cell = p.cell
                 and l2.s = 2 and l2.j = k.cl[3]
      join lut l3 on l3.query_id = p.query_id and l3.cell = p.cell
                 and l3.s = 3 and l3.j = k.cl[4]
    )
    select query_id, neighbor_id, adc_dist, rank from (
      select *, cast(row_number() over (
        partition by query_id order by adc_dist, neighbor_id) as int) as rank
      from adc)
    where rank <= 5
    """


@register("x_ann_ivfpq_topk", oracle=_DUCK_IVFPQ_TOPK)
def x_ann_ivfpq_topk(spark, sf_dir):
    """IVF+PQ — the production ANN index shape (`similarity.ivfpq_topk`):
    coarse max-cosine cells (the x_ann_ivf_assign centroids) prune the
    search to nprobe=2 cells per query; RESIDUALS against the assigned
    centroid are PQ-encoded (codebooks = the residual subvectors of
    vec_id 8..15 — the first 8 are the centroids themselves, whose
    residuals are zero); search scores candidates by ADC over
    per-(query, cell) LUTs carried on a broadcast probe relation. The
    oracle replays ALL of it symbolically — assignment, residuals,
    residual codebooks, codes, probe selection, LUTs, the fixed-order
    4-term sums, and both tiebreaks. Queries vec_id < 10, k=5 — the
    same contract as `x_ann_ivf_topk`, but the corpus side of the
    search touches only 4 code ints per vector."""
    emb = table(spark, sf_dir, "embeddings")
    centroids, res_codebooks, queries = _ivfpq_model(emb)
    return S.ivfpq_topk(
        emb, centroids, res_codebooks, queries, k=5, nprobe=2
    )


def _ivfpq_model(emb):
    """Shared IVF+PQ model parameters: coarse centroids (vec_id < 8),
    residual codebooks (the residuals of donors vec_id 8..15, replaying
    the engine's assignment math in sequential python float64), and the
    query set (vec_id < 10) — deterministic-from-data, same trick as
    `_pq_codebooks`."""
    cent_rows = emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    centroids = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in cent_rows
    ]
    # residual codebooks from vec_id 8..15, replaying the engine's own
    # assignment/residual math via the shared sequential-float64 helper
    donor_rows = (
        emb.where((F.col("vec_id") >= 8) & (F.col("vec_id") < 16))
        .orderBy("vec_id")
        .collect()
    )
    res_codebooks = [[] for _ in range(4)]
    for r in donor_rows:
        v = [float(x) for x in r["embedding"]]
        best = max(
            ((S.seq_cosine(v, c), -cid) for cid, c in centroids)
        )
        cvec = centroids[-best[1]][1]
        resid = [a - b for a, b in zip(v, cvec)]
        for s in range(4):
            res_codebooks[s].append(resid[s * 16 : (s + 1) * 16])

    q_rows = emb.where(F.col("vec_id") < 10).orderBy("vec_id").collect()
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in q_rows
    ]
    return centroids, res_codebooks, queries


def _ann_scratch(sf_dir: str, name: str):
    """Fresh per-process scratch dir for a persisted ANN index (same
    pattern as `_incremental_demo`): the graded output stays a pure
    function of `embeddings` — the index on disk is an implementation
    detail rebuilt per run.

    Keyed by pid so two concurrent graders/pytest sessions sharing a
    checkout and sf_dir never delete each other's index mid-read, and
    falls back to the system temp dir when the package directory is
    not writable (read-only installs). Sibling dirs left by DEAD pids
    are swept on entry (pid-keying alone would accumulate one full
    index copy per past process, unboundedly); live pids are left
    alone — that's the concurrency guarantee.
    """
    import os
    import re
    import shutil
    import tempfile
    from pathlib import Path

    tag = sf_dir.strip("/").replace("/", "_")
    leaf = f"{name}_{tag}_pid{os.getpid()}"
    root = Path(__file__).resolve().parents[2] / ".scratch"
    if not os.access(root.parent, os.W_OK):
        root = Path(tempfile.gettempdir()) / "hive_scripts_spark_scratch"
    prefix = f"{name}_{tag}_pid"
    if root.is_dir():
        for sib in root.iterdir():
            m = re.fullmatch(re.escape(prefix) + r"(\d+)", sib.name)
            if not m or int(m.group(1)) == os.getpid():
                continue
            try:
                os.kill(int(m.group(1)), 0)  # raises if the pid is gone
            except ProcessLookupError:
                shutil.rmtree(sib, ignore_errors=True)
            except PermissionError:
                pass  # pid exists under another uid — leave it
    scratch = root / leaf
    shutil.rmtree(scratch, ignore_errors=True)
    return scratch


@register("x_ann_pq_index_search", oracle=_DUCK_PQ_TOPK)
def x_ann_pq_index_search(spark, sf_dir):
    """Build-once / search-many PQ index (`similarity.pq_encode` →
    parquet → `similarity.pq_search_codes`): encode the corpus ONCE to
    a stored code table (4 small ints per 64-dim vector — the ~64×
    index-memory cut), then answer the same queries as `x_ann_pq_topk`
    FROM THE STORED CODES — per-query cost is LUT literals + the
    code-table scan + one top-k exchange; the full-precision corpus is
    never read at search time. This is the production operating shape
    at 100 TB (x_ann_pq_topk re-encodes per call, grading the encode
    path; this row grades the amortized path). Same oracle: the result
    is a pure function of `embeddings` either way."""
    emb = table(spark, sf_dir, "embeddings")
    books = _pq_codebooks(emb)
    idx = _ann_scratch(sf_dir, "pq_index")
    S.pq_encode(emb, books).write.mode("overwrite").parquet(str(idx))
    stored = spark.read.parquet(str(idx))
    q_rows = emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in q_rows
    ]
    return S.pq_search_codes(stored, books, queries, k=10)


@register("x_ann_ivfpq_index_search", oracle=_DUCK_IVFPQ_TOPK)
def x_ann_ivfpq_index_search(spark, sf_dir):
    """Build-once / search-many IVF+PQ index (`similarity.ivfpq_encode`
    → parquet `partitionBy(cell)` → `similarity.ivfpq_search_codes`):
    the cell-partitioned layout the ivf_topk docstring promises,
    materialized — the probe-cell `isin` filter lands in
    `PartitionFilters`, so a search opens only its nprobe cell
    directories (plan-asserted in `tests/test_similarity.py`). One
    file per cell (repartition-by-cell before the write — the
    incremental module's small-files lesson). Same queries, k, nprobe,
    and oracle as `x_ann_ivfpq_topk`; this row grades the amortized
    search path from stored codes."""
    emb = table(spark, sf_dir, "embeddings")
    centroids, res_codebooks, queries = _ivfpq_model(emb)
    idx = _ann_scratch(sf_dir, "ivfpq_index")
    S.ivfpq_encode(emb, centroids, res_codebooks).repartition(
        "cell"
    ).write.partitionBy("cell").mode("overwrite").parquet(str(idx))
    stored = spark.read.parquet(str(idx))
    return S.ivfpq_search_codes(
        stored, centroids, res_codebooks, queries, k=5, nprobe=2
    )


@register(
    "x_cluster_balanced_sample",
    oracle="""
    with centroids as (
      select vec_id as centroid_id, cast(embedding as double[]) as c
      from embeddings where vec_id < 8
    ), scored as (
      select e.vec_id, c.centroid_id,
             round(list_dot_product(cast(e.embedding as double[]), c.c)
                   / (sqrt(list_dot_product(cast(e.embedding as double[]),
                                            cast(e.embedding as double[])))
                      * sqrt(list_dot_product(c.c, c.c))), 6) as sim
      from embeddings e cross join centroids c
    ), ranked as (
      select *, row_number() over (
        partition by vec_id order by sim desc, centroid_id) as rn
      from scored
    ), assigned as (
      select vec_id, centroid_id, sim from ranked where rn = 1
    )
    select vec_id, centroid_id, sim,
           cast(row_number() over (
             partition by centroid_id
             order by md5(cast(vec_id as varchar)), vec_id) as int
           ) as pick_order
    from assigned
    qualify pick_order <= 40
    """,
)
def x_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced sampling: assign every embedding to its
    nearest centroid (the `x_ann_ivf_assign` cells) then take a
    deterministic per-cell cap via portable-md5 pick order — the
    curation pattern for diversity-preserving downsampling of a
    100 TB corpus. The Spark side is a salted two-level exact top-k
    (`functions/skew.py`): zero corpus-wide window, hot cells split
    across salt groups then reduced, bit-identical to this oracle's
    single `row_number` window form
    (`test_properties.test_topk_per_group_equals_window_form`). Cap 40 cuts every cell at both
    sfs (~62 members/cell at sf0.001, ~625 at sf0.01)."""
    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
    )
    return S.cluster_balanced_sample(emb, centroids, cap_per_cell=40)


# ---------------------------------------------------------------------------
# declarative data-quality expectations (r14)
# ---------------------------------------------------------------------------


@register(
    "x_validate_expectations",
    oracle="""
    with rows_agg as (
      select
        cast(count(*) as bigint) as n_rows,
        cast(sum(case when o_custkey is null then 1 else 0 end)
             as bigint) as nn_bad,
        cast(count(o_orderstatus) as bigint) as st_chk,
        cast(sum(case when o_orderstatus is not null
                       and o_orderstatus not in ('O', 'F')
                      then 1 else 0 end) as bigint) as st_bad,
        cast(count(o_totalprice) as bigint) as pr_chk,
        cast(sum(case when o_totalprice is not null
                       and (o_totalprice < 0 or o_totalprice > 400000)
                      then 1 else 0 end) as bigint) as pr_bad,
        cast(count(o_orderpriority) as bigint) as re_chk,
        cast(sum(case when o_orderpriority is not null
                       and not regexp_full_match(o_orderpriority,
                                                 '[1-3]-[A-Z ]+')
                      then 1 else 0 end) as bigint) as re_bad
      from orders
    ), uniq as (
      select cast(count(*) as bigint) as n,
             cast(count(*) - count(distinct o_orderkey) as bigint) as bad
      from orders
    ), fk as (
      select cast(count(*) as bigint) as n,
             cast(sum(case when c.c_custkey is null then 1 else 0 end)
                  as bigint) as bad
      from orders o
      left join (select distinct c_custkey from customer
                 where c_custkey is not null) c
        on o.o_custkey = c.c_custkey
      where o.o_custkey is not null
    ), report as (
      select 'not_null:o_custkey' as constraint, 'not_null' as kind,
             'o_custkey' as "column", n_rows as n_checked,
             nn_bad as n_violations from rows_agg
      union all
      select 'accepted_values:o_orderstatus', 'accepted_values',
             'o_orderstatus', st_chk, st_bad from rows_agg
      union all
      select 'range:o_totalprice', 'range', 'o_totalprice',
             pr_chk, pr_bad from rows_agg
      union all
      select 'regex:o_orderpriority', 'regex', 'o_orderpriority',
             re_chk, re_bad from rows_agg
      union all
      select 'unique:o_orderkey', 'unique', 'o_orderkey', n, bad from uniq
      union all
      select 'referential:o_custkey', 'referential',
             'o_custkey->customer.c_custkey', n, bad from fk
    )
    select *, n_violations = 0 as passed from report
    """,
)
def x_validate_expectations(spark, sf_dir):
    """The r14 dbt-test/Deequ-style declarative constraint report
    (:mod:`hive_scripts_spark.operators.quality_checks`): six rules
    over orders (+customer FK) spanning every rule kind, with both
    passing AND firing constraints at the grading sf (status/range/
    regex fire; not-null/unique/referential pass — a report where no
    interesting branch executes would be a weaker row, the r10
    planted-duplication lesson). One scan grades N scan-rules; the FK
    rule is a broadcast-sized distinct-keys left join."""
    from hive_scripts_spark.operators.quality_checks import (
        validate_expectations,
    )

    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    return validate_expectations(
        orders,
        [
            {"kind": "not_null", "col": "o_custkey"},
            {"kind": "accepted_values", "col": "o_orderstatus",
             "values": ["O", "F"]},
            {"kind": "range", "col": "o_totalprice", "lo": 0.0,
             "hi": 400000.0},
            {"kind": "regex", "col": "o_orderpriority",
             "pattern": "[1-3]-[A-Z ]+"},
            {"kind": "unique", "cols": ["o_orderkey"]},
            {"kind": "referential", "col": "o_custkey",
             "ref": "customer", "ref_col": "c_custkey"},
        ],
        refs={"customer": customer},
    )


# ---------------------------------------------------------------------------
# crawl-pipeline rows (URL canonicalization, recrawl merge, SCD2)
# ---------------------------------------------------------------------------

#: the merge query pins its projection to exactly these six columns: the
#: oracle enumerates them, so a testdata regeneration that widens the
#: orders schema must not silently change the merge's output surface
_ORDER_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
)


@register(
    "x_url_canonical",
    oracle="""
    with armed as (
      select doc_id, cast(doc_id % 4 as int) as arm,
             cast(doc_id as varchar) as i
      from documents
    )
    select doc_id,
           case arm
             when 0 then 'http://example.org/doc/' || i || '?a=1&b=2'
             when 1 then 'https://sub.example.co.uk/p' || i || '?y=8&z=9'
             when 2 then 'https://x.io:8443/a/' || i || '/b'
             else 'doc ' || i || ' plain'
           end as url_canonical,
           case arm
             when 0 then 'example.org'
             when 1 then 'sub.example.co.uk'
             when 2 then 'x.io'
             else ''
           end as host,
           case arm
             when 0 then 'example.org'
             when 1 then 'example.co.uk'
             when 2 then 'x.io'
             else ''
           end as domain
    from armed
    """,
)
def x_url_canonical(spark, sf_dir):
    """The r14 URL-canonicalization surface
    (:mod:`hive_scripts_spark.functions.urls`) graded end-to-end: four
    noise-variant URL shapes built per doc (scheme/host case, default
    port, tracking-param strip + query sort, fragment strip, userinfo
    strip, non-default port kept, trailing-slash collapse, two-level
    public suffix, non-URL passthrough) through
    ``canonical_url``/``url_host``/``url_registered_domain``; the
    oracle restates each arm's normal form in pure SQL (the
    plan-literal grading philosophy of the codec rows)."""
    from hive_scripts_spark.functions.urls import (
        canonical_url,
        url_host,
        url_registered_domain,
    )

    docs = table(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    arm = F.pmod("doc_id", F.lit(4))
    url = (
        F.when(arm == 0, F.concat(
            F.lit("HTTP://Example.ORG:80/doc/"), i,
            F.lit("/?utm_source=x&b=2&a=1#frag"),
        ))
        .when(arm == 1, F.concat(
            F.lit("https://Sub.Example.CO.UK/p"), i, F.lit("?z=9&y=8"),
        ))
        .when(arm == 2, F.concat(
            F.lit("https://user:pw@X.io:8443/a/"), i, F.lit("/b/"),
        ))
        .otherwise(F.concat(F.lit("doc "), i, F.lit(" plain")))
    )
    framed = docs.select("doc_id", url.alias("url"))
    return framed.select(
        "doc_id",
        canonical_url("url").alias("url_canonical"),
        url_host("url").alias("host"),
        url_registered_domain("url").alias("domain"),
    )


@register(
    "x_merge_upsert",
    oracle="""
    select o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    from orders where o_orderkey % 7 <> 0
    union all
    select o_orderkey, o_custkey, o_orderstatus,
           o_totalprice * 2 as o_totalprice, o_orderdate,
           o_orderpriority
    from orders
    where o_orderkey % 7 = 0 and o_orderkey % 3 <> 0
    """,
)
def x_merge_upsert(spark, sf_dir):
    """The r14 recrawl merge
    (:func:`hive_scripts_spark.operators.incremental.merge_upsert`)
    graded as latest-wins set algebra: every 7th order re-priced by a
    delta, every 3rd of those tombstoned; the oracle restates
    latest-wins + tombstone semantics as UNION ALL arms. One change
    row per key, so the non-portable xxhash64 tiebreak never fires
    (its determinism is pytest-pinned in ``test_incremental.py``)."""
    from hive_scripts_spark.operators.incremental import merge_upsert

    orders = table(spark, sf_dir, "orders").select(*_ORDER_COLS)
    changes = orders.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
        (F.col("o_orderkey") % 3 == 0).alias("deleted"),
    )
    return merge_upsert(
        orders,
        changes,
        ["o_orderkey"],
        order_col="o_totalprice",
        delete_col="deleted",
    )


@register(
    "x_scd2_apply",
    oracle="""
    with chg as (
      select o_custkey as c_custkey,
             o_orderpriority as c_mktsegment,
             cast(o_orderkey as bigint) as valid_from,
             lead(cast(o_orderkey as bigint)) over (
               partition by o_custkey order by o_orderkey) as valid_to
      from orders
    ), firstc as (
      select o_custkey as c_custkey,
             cast(min(o_orderkey) as bigint) as fc
      from orders group by o_custkey
    )
    select c.c_custkey, c.c_mktsegment,
           cast(0 as bigint) as valid_from, f.fc as valid_to
    from customer c join firstc f using (c_custkey)
    union all
    select c.c_custkey, c.c_mktsegment,
           cast(0 as bigint) as valid_from, cast(null as bigint) as valid_to
    from customer c
    where c_custkey not in (select o_custkey from orders)
    union all
    select c_custkey, c_mktsegment, valid_from, valid_to from chg
    """,
)
def x_scd2_apply(spark, sf_dir):
    """The r14 slowly-changing-dimension type-2 operator
    (:func:`hive_scripts_spark.operators.incremental.scd2_apply`)
    graded end-to-end: customer segments as the dimension, orders as
    the change stream with the unique-per-key ``o_orderkey`` as the
    version clock; the oracle replays close-at-first-change +
    lead-chaining in SQL."""
    from hive_scripts_spark.operators.incremental import scd2_apply

    dim = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.lit(0).cast("bigint").alias("valid_from"),
        F.lit(None).cast("bigint").alias("valid_to"),
    )
    changes = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderpriority").alias("c_mktsegment"),
        F.col("o_orderkey").cast("bigint").alias("effective_ts"),
    )
    return scd2_apply(dim, changes, ["c_custkey"])


# ---------------------------------------------------------------------------
# mergeable-sketch rows (KMV distinct, grouped KMV, count-min heavy
# hitters)
# ---------------------------------------------------------------------------

#: DuckDB twin of sketches._col_block (null-safe fixed-width pre-image
#: slot: md5 of the value, '<null>' sentinel for NULL). A raw
#: ``cast(x as varchar)`` twin would DIVERGE on nullable columns —
#: Spark's concat_ws never returns null while SQL md5 propagates NULL;
#: the block form is null-identical on both engines, pinned by
#: ``test_sketches.py::test_kmv_null_parity_with_duckdb``.
def _duck_sketch_block(col: str) -> str:
    return (
        f"case when {col} is null then '<null>' "
        f"else md5(cast({col} as varchar)) end"
    )


@register(
    "x_kmv_distinct",
    oracle=f"""
    with h as (
      select distinct
             {_duck_h60(_duck_sketch_block("o_custkey"))} as kmv_hash
      from orders
    ), topk as (
      select kmv_hash from h order by kmv_hash limit 256
    )
    select cast(count(*) as bigint) as n_hashes,
           max(kmv_hash) as kth_hash,
           round(case when count(*) < 256 then cast(count(*) as double)
                 else (cast(255 as double)
                       * cast(1152921504606846976 as double))
                      / cast(max(kmv_hash) as double) end, 4) as est_distinct
    from topk
    """,
)
def x_kmv_distinct(spark, sf_dir):
    """The r14 KMV k-minimum-values distinct sketch
    (:mod:`hive_scripts_spark.operators.sketches`) graded end-to-end
    over ``orders.o_custkey`` (k=256): sf0.001 has 150 distinct
    custkeys (< k, the exact under-full branch) while the driver's
    grading scale sf0.01 has 1500 (> k, the ``(k-1)*2^60/h_k``
    estimator branch) — one query grades BOTH estimator arms across
    the two parity scales. The estimator constant ``(k-1) * 2^60`` is
    exact in IEEE double on both engines, the division is a single
    correctly-rounded op, and both sides round to 4 decimals (the
    graded-jaccard float discipline)."""
    from hive_scripts_spark.operators.sketches import kmv_estimate, kmv_sketch

    orders = table(spark, sf_dir, "orders")
    return kmv_estimate(kmv_sketch(orders, ["o_custkey"], k=256), k=256)


@register(
    "x_kmv_grouped",
    oracle=f"""
    with h as (
      select distinct o_orderpriority,
             {_duck_h60(_duck_sketch_block("o_custkey"))} as kmv_hash
      from orders
    ), ranked as (
      select o_orderpriority, kmv_hash,
             row_number() over (partition by o_orderpriority
                                order by kmv_hash) as rn
      from h
    ), topk as (
      select o_orderpriority, kmv_hash from ranked where rn <= 64
    )
    select o_orderpriority,
           cast(count(*) as bigint) as n_hashes,
           round(case when count(*) < 64 then cast(count(*) as double)
                 else (cast(63 as double)
                       * cast(1152921504606846976 as double))
                      / cast(max(kmv_hash) as double) end, 4) as est_distinct
    from topk
    group by o_orderpriority
    """,
)
def x_kmv_grouped(spark, sf_dir):
    """Per-``o_orderpriority`` KMV sketches (k=64) through the
    two-level no-raw-shuffle plan (partial per-partition top-k, then a
    k-bounded per-group merge — raw rows never shuffle), estimated per
    group; the oracle restates the k-smallest-distinct-md5
    construction as a row_number over distinct hashes."""
    from hive_scripts_spark.operators.sketches import (
        kmv_estimate_grouped,
        kmv_sketch_grouped,
    )

    orders = table(spark, sf_dir, "orders")
    sk = kmv_sketch_grouped(
        orders, ["o_orderpriority"], ["o_custkey"], k=64
    )
    return kmv_estimate_grouped(sk, ["o_orderpriority"], k=64)


#: DuckDB twin of sketches' count-min cell hash: row-salted 60-bit md5
#: over the null-safe block pre-image
def _duck_cm_hash(key: str) -> str:
    return _duck_h60(
        "cast(cm_row as varchar) || ':' || " + _duck_sketch_block(key)
    )


@register(
    "x_countmin_heavy",
    oracle=f"""
    with rows_d as (select unnest([0, 1, 2, 3]) as cm_row),
    sketch as (
      select cm_row,
             cast({_duck_cm_hash("l_suppkey")} % 256 as int)
               as cm_bucket,
             cast(count(*) as bigint) as cm_count
      from lineitem, rows_d
      group by 1, 2
    ),
    probes as (
      select s_suppkey, cm_row,
             cast({_duck_cm_hash("s_suppkey")} % 256 as int)
               as cm_bucket
      from supplier, rows_d
    )
    select p.s_suppkey,
           min(coalesce(sk.cm_count, 0)) as est_count
    from probes p
    left join sketch sk using (cm_row, cm_bucket)
    group by p.s_suppkey
    """,
)
def x_countmin_heavy(spark, sf_dir):
    """The r14 count-min frequency sketch (depth 4 × width 256) graded
    end-to-end over ``lineitem.l_suppkey``: build the counter grid
    (one groupBy over depth×rows salted cells), broadcast it, probe
    every supplier key with the min-over-rows lookup. One-sided error
    (estimate ≥ true count) and merge exactness are pytest-pinned in
    ``test_sketches.py``; the oracle rebuilds the salted grid and the
    min-lookup in SQL."""
    from hive_scripts_spark.operators.sketches import (
        countmin_build,
        countmin_lookup,
    )

    li = table(spark, sf_dir, "lineitem")
    keys = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    # project to the key column and pre-repartition (r19): the build is
    # 5 md5s per row, and the local single-row-group scan would run all
    # of them on one task; the shuffle moves one long per row. On a
    # many-file lake pass the frame straight through instead.
    li = li.select("l_suppkey").repartition(
        spark.sparkContext.defaultParallelism
    )
    sk = countmin_build(li, "l_suppkey", depth=4, width=256)
    out = countmin_lookup(sk, keys, "l_suppkey", depth=4, width=256)
    return out.select(
        F.col("l_suppkey").alias("s_suppkey"), "est_count"
    )


# ---------------------------------------------------------------------------
# the digit-sketch quantile face (decimal-digit histogram + cumulative-
# bucket quantile picks) and the RFC 9309 robots decision fold
# ---------------------------------------------------------------------------

#: DuckDB twin of sketches._digit_parts at digits=2, scale=6: the
#: stripped significant-digit string of |v| * 10^6. Every bucket is
#: exact integer/decimal/string arithmetic (NO ``log()`` — cross-engine
#: libm log is not correctly rounded, so a log-bucketed DDSketch could
#: flip bucket indexes between engines; the digit-string form cannot).
def _duck_digit_buckets(key: str | None = None) -> str:
    """CTEs ending in ``b (sign, decade, sub)`` — the exact digit-string
    bucket of every ``o_totalprice`` — optionally carrying a ``key``
    column through for per-group histograms."""
    k = f"{key}, " if key else ""
    return f"""
    with vals as (
      select {k}cast(o_totalprice as decimal(38,6)) as vd
      from orders
      where o_totalprice is not null
        and isfinite(o_totalprice) and abs(o_totalprice) < 1e31
    ), parts as (
      select {k}vd,
             regexp_replace(
               regexp_replace(cast(abs(vd) as varchar), '[.]', ''),
               '^0+', '') as stripped
      from vals
    ), b as (
      select {k}cast(case when vd < 0 then -1 when vd > 0 then 1
                       else 0 end as int) as sign,
             cast(length(stripped) as int) as decade,
             cast(case when length(stripped) = 0 then 0
                  else cast(rpad(substr(stripped, 1, 2), 2, '0') as int)
                  end as int) as sub
      from parts
    )
"""


_DIGIT_BUCKETS = _duck_digit_buckets()


@register(
    "x_digit_hist",
    oracle=(
        _DIGIT_BUCKETS
        + """
    select sign, decade, sub, cast(count(*) as bigint) as cnt
    from b group by 1, 2, 3
"""
    ),
)
def x_digit_hist(spark, sf_dir):
    """The r14 decimal-digit histogram sketch
    (:func:`hive_scripts_spark.operators.sketches.digit_hist`) graded
    end-to-end over ``orders.o_totalprice`` at digits=2: bucket =
    (sign, significant-digit count, first-2-digits), every component
    exact integer/decimal/string arithmetic so the bucket index is
    bit-identical across engines (a log-bucketed DDSketch could flip
    indexes on libm rounding). The oracle restates the same
    regexp/rpad/substr pipeline over the same decimal(38,6) cast."""
    from hive_scripts_spark.operators.sketches import digit_hist

    orders = table(spark, sf_dir, "orders")
    return digit_hist(orders, "o_totalprice", digits=2)


@register(
    "x_digit_quantiles",
    oracle=(
        _DIGIT_BUCKETS
        + """
    , h as (
      select sign, decade, sub, cast(count(*) as bigint) as cnt
      from b group by 1, 2, 3
    ), r as (
      select sign, decade, sub, cnt,
             sign * (decade * 1000 + sub) as ord
      from h
    ), c as (
      select *,
             sum(cnt) over (order by ord
               rows between unbounded preceding and current row) as cum,
             sum(cnt) over () as total
      from r
    ), q as (
      select unnest(cast([0.25, 0.5, 0.75, 0.95, 0.99] as double[])) as q
    ), e as (
      select q.q, c.sign, c.decade, c.sub, c.ord
      from q, c where c.cum >= ceil(q.q * c.total)
    )
    select q, sign, decade, sub from e
    qualify row_number() over (partition by q order by ord) = 1
"""
    ),
)
def x_digit_quantiles(spark, sf_dir):
    """p25/p50/p75/p95/p99 bucket selection from the digit histogram
    (:func:`~hive_scripts_spark.operators.sketches.digit_hist_quantiles`):
    cumulative counts over the value-ordered buckets, first bucket
    reaching ``ceil(q*n)``. The graded columns are the exact
    (q, sign, decade, sub) picks; the float midpoint estimate is a
    convenience column dropped here (its values are pytest-pinned in
    ``test_sketches.py``, as is merge exactness — counter sum = the
    whole-input build)."""
    from hive_scripts_spark.operators.sketches import (
        digit_hist,
        digit_hist_quantiles,
    )

    orders = table(spark, sf_dir, "orders")
    sk = digit_hist(orders, "o_totalprice", digits=2)
    return digit_hist_quantiles(
        sk, [0.25, 0.5, 0.75, 0.95, 0.99], digits=2
    ).select("q", "sign", "decade", "sub")


@register(
    "x_robots_decisions",
    # the robots LIKE patterns are plan literals, so the oracle REPLAYS
    # the RFC 9309 longest-match / allow-wins-tie fold over the same
    # fixture rules table in pure SQL — '/private/' compiles to
    # '/private/%' spec 9, '/private/ok/' to '/private/ok/%' spec 12,
    # and the $-anchored '/*.php$' to '/%.php' spec 7 (no trailing %),
    # exactly build_rules_fn's compilation
    oracle="""
    with armed as (
      select doc_id, cast(doc_id % 6 as int) as arm,
             cast(doc_id as varchar) as i
      from documents
    ), docs as (
      select doc_id,
             case arm
               when 0 then 'https://quota.example/public/p' || i
               when 1 then 'https://quota.example/private/p' || i
               when 2 then 'https://quota.example/private/ok/p' || i
               when 3 then 'https://files.example/tmp/p' || i || '.php'
               when 4 then 'https://files.example/tmp/p' || i || '.php?x=1'
               else 'doc ' || i || ' plain'
             end as url,
             case when arm <= 2 then 'quota.example'
                  when arm <= 4 then 'files.example'
                  else '' end as host,
             case arm
               when 0 then '/public/p' || i
               when 1 then '/private/p' || i
               when 2 then '/private/ok/p' || i
               when 3 then '/tmp/p' || i || '.php'
               when 4 then '/tmp/p' || i || '.php?x=1'
               else '/' end as path
      from armed
    ), rules(host, pat, spec, allow) as (
      values ('quota.example', '/private/%', 9, false),
             ('quota.example', '/private/ok/%', 12, true),
             ('files.example', '/%.php', 7, false)
    ), matched as (
      select d.doc_id, r.allow,
             row_number() over (
               partition by d.doc_id
               order by r.spec desc, r.allow desc) as rn
      from docs d
      join rules r on r.host = d.host and d.path like r.pat
    )
    select d.doc_id, d.url, coalesce(m.allow, true) as robots_allowed
    from docs d
    left join (select doc_id, allow from matched where rn = 1) m
      using (doc_id)
""",
)
def x_robots_decisions(spark, sf_dir):
    """The RFC 9309 decision fold (reference: the crawl-curation gate;
    ``operators/robots.py``) value-graded end-to-end: six URL arms per
    doc across two hosts + a non-URL, decided by :func:`apply_robots`
    against a two-payload fixture rules table compiled through the
    REAL ``robots_rules`` mapInPandas path for a NAMED agent
    (exact-token group selection). Arms exercise: no-match allow,
    prefix disallow, longer-Allow override, $-anchored wildcard
    disallow, anchor miss via query string, and the no-host
    passthrough."""
    from hive_scripts_spark.operators.robots import (
        apply_robots,
        robots_rules,
    )

    docs = table(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    arm = F.pmod("doc_id", F.lit(6))
    url = (
        F.when(arm == 0, F.concat(
            F.lit("https://quota.example/public/p"), i))
        .when(arm == 1, F.concat(
            F.lit("https://quota.example/private/p"), i))
        .when(arm == 2, F.concat(
            F.lit("https://quota.example/private/ok/p"), i))
        .when(arm == 3, F.concat(
            F.lit("https://files.example/tmp/p"), i, F.lit(".php")))
        .when(arm == 4, F.concat(
            F.lit("https://files.example/tmp/p"), i, F.lit(".php?x=1")))
        .otherwise(F.concat(F.lit("doc "), i, F.lit(" plain")))
    )
    framed = docs.select("doc_id", url.alias("url"))
    rules = robots_rules(
        spark.createDataFrame(
            [
                (
                    "quota.example",
                    "User-agent: trainbot\nDisallow: /private/\n"
                    "Allow: /private/ok/\n",
                ),
                ("files.example", "User-agent: *\nDisallow: /*.php$\n"),
            ],
            "host string, payload string",
        ),
        agent="trainbot",
    )
    # validate_rules=False (r19): the fixture rules table is conflict-
    # free by construction, so the eager fail-fast pre-scan is a pure
    # extra driver-blocking job here; the IN-PLAN conflict guard stays
    # active regardless, so a conflicting table still aborts execution.
    return apply_robots(framed, rules, url_col="url", validate_rules=False)


# ---------------------------------------------------------------------------
# link graph and lake layout
# ---------------------------------------------------------------------------

_PAGERANK_ITERATIONS = 5
_PAGERANK_DAMPING_PCT = 85
_PAGERANK_UNIT = 10**12


def _pagerank_oracle(iterations: int = _PAGERANK_ITERATIONS) -> str:
    """Chained-CTE PageRank: r0 = UNIT//N per node, then per iteration
    inflow (rank//deg summed per dst), dangling mass (ranks of nodes
    with no out-edges), and the damped update. Every step is bigint
    multiply / integer division (Spark ``div`` ≡ DuckDB ``//`` on
    positive operands) and integer sums are order-insensitive."""
    unit, d = _PAGERANK_UNIT, _PAGERANK_DAMPING_PCT
    tel = f"(({100 - d} * ({unit} // nn.n)) // 100)"
    sql = [
        f"""
    with edges as (
      select distinct cast(l_partkey as bigint) as src,
             cast(l_suppkey + 1000000 as bigint) as dst
      from lineitem
      where l_partkey is not null and l_suppkey is not null
    ), nodes as (
      select src as node from edges union select dst as node from edges
    ), nn as (
      select cast(count(*) as bigint) as n from nodes
    ), deg as (
      select src, cast(count(*) as bigint) as deg from edges group by src
    ), r0 as (
      select node, ({unit} // nn.n) as rk from nodes cross join nn
    )"""
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        sql.append(
            f""", inf{i} as (
      select e.dst as node, sum(r.rk // d.deg) as inflow
      from edges e
      join r{p} r on e.src = r.node
      join deg d on e.src = d.src
      group by e.dst
    ), dang{i} as (
      select coalesce(sum(r.rk), 0) as dang
      from r{p} r left join deg d on r.node = d.src
      where d.src is null
    ), r{i} as (
      select nd.node,
             {tel}
             + (({d} * (coalesce(i.inflow, 0)
                 + (dg.dang // nn.n))) // 100) as rk
      from nodes nd
      left join inf{i} i on nd.node = i.node
      cross join nn cross join dang{i} dg
    )"""
        )
    # sum() is HUGEINT in DuckDB: cast back to bigint for typed parity
    sql.append(
        f"""
    select node, cast(rk as bigint) as rank_units from r{iterations}"""
    )
    return "".join(sql)


@register("x_pagerank_portable", oracle=_pagerank_oracle())
def x_pagerank_portable(spark, sf_dir):
    """Fixed-point integer PageRank (``operators/graph.py``) over the
    part→supplier edge set from lineitem. Supplier ids are offset by
    10^6 so the two key spaces cannot collide: every supplier is then a
    true sink, and the dangling-mass arm runs in every iteration."""
    from hive_scripts_spark.operators.graph import pagerank_portable

    li = table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 1000000).alias("dst"),
    )
    ranks = pagerank_portable(
        edges,
        iterations=_PAGERANK_ITERATIONS,
        damping_pct=_PAGERANK_DAMPING_PCT,
    )
    return ranks.select("node", F.col("rank").alias("rank_units"))


def _zorder_oracle() -> str:
    from hive_scripts_spark.functions.zorder import morton_key_sql

    expr = morton_key_sql("(l_orderkey % 1024)", "(l_partkey % 1024)", 10)
    return f"select l_orderkey, l_partkey, {expr} as zkey from lineitem"


@register("x_zorder_key", oracle=_zorder_oracle())
def x_zorder_key(spark, sf_dir):
    """The Morton clustering key over the (order, part) grid — Spark
    and SQL twins generated from ``functions/zorder.py`` so they cannot
    drift."""
    from hive_scripts_spark.functions.zorder import morton_key

    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_partkey",
        morton_key(
            F.col("l_orderkey") % 1024, F.col("l_partkey") % 1024, bits=10
        ).alias("zkey"),
    )


# ---------------------------------------------------------------------------
# sketches, leakage and quotas
# ---------------------------------------------------------------------------


@register(
    "x_digit_quantiles_grouped",
    oracle=_duck_digit_buckets("o_orderpriority")
    + """
    , h as (
      select o_orderpriority, sign, decade, sub,
             cast(count(*) as bigint) as cnt
      from b group by 1, 2, 3, 4
    ), r as (
      select *, sign * (decade * 1000 + sub) as ord from h
    ), c as (
      select *,
             sum(cnt) over (partition by o_orderpriority order by ord
               rows between unbounded preceding and current row) as cum,
             sum(cnt) over (partition by o_orderpriority) as total
      from r
    ), q as (
      select unnest(cast([0.5, 0.95] as double[])) as q
    ), e as (
      select q.q, c.o_orderpriority, c.sign, c.decade, c.sub, c.ord
      from q, c where c.cum >= ceil(q.q * c.total)
    )
    select o_orderpriority, q, sign, decade, sub from e
    qualify row_number() over (partition by o_orderpriority, q
                               order by ord) = 1
""",
)
def x_digit_quantiles_grouped(spark, sf_dir):
    """Per-priority p50/p95 picks through ``digit_hist_grouped`` — per-
    group percentiles the way a per-language length monitor runs them;
    the cumulative windows partition by group."""
    from hive_scripts_spark.operators.sketches import (
        digit_hist_grouped,
        digit_hist_quantiles_grouped,
    )

    orders = table(spark, sf_dir, "orders")
    sk = digit_hist_grouped(
        orders, ["o_orderpriority"], "o_totalprice", digits=2
    )
    return digit_hist_quantiles_grouped(
        sk, ["o_orderpriority"], [0.5, 0.95], digits=2
    ).select("o_orderpriority", "q", "sign", "decade", "sub")


@register(
    "x_split_leakage",
    oracle=_DUCK_MINHASH_VERIFIED
    + """
    , assigned as (
      select doc_id,
             case when b < 50 then 'train'
                  when b < 75 then 'val'
                  else 'test' end as split
      from (
        select doc_id,
               cast(('0x' || substr(
                   md5('split' || chr(1) || cast(doc_id as varchar)),
                   1, 15)) as bigint) % 100 as b
        from documents
      )
    )
    select v.a_id, v.b_id, v.jaccard,
           sa.split as split_a, sb.split as split_b
    from mh_verified v
    join assigned sa on v.a_id = sa.doc_id
    join assigned sb on v.b_id = sb.doc_id
    where sa.split != sb.split
""",
)
def x_split_leakage(spark, sf_dir):
    """Near-duplicate pairs that straddle the train/val/test boundary
    (``curation.split_leakage_pairs``) over the md5 MinHash-LSH verified
    pairs (the ``x_dedup_minhash_portable`` oracle CTEs). Split shares
    are 50/25/25 so the boundary-crossing result is non-empty at both
    test scales."""
    from hive_scripts_spark.operators.curation import split_leakage_pairs

    docs = table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs_portable(docs, threshold=0.2)
    leaks = split_leakage_pairs(
        docs, pairs, key_cols=["doc_id"], val_pct=25, test_pct=25
    )
    return leaks.select("a_id", "b_id", "jaccard", "split_a", "split_b")


@register(
    "x_kmv_merge_groups",
    # restates the two-level construction (per-group survivors → global
    # k smallest) rather than the KMV exactness theorem, so the merge
    # path itself is what is checked
    oracle="""
    with h as (
      select distinct o_orderpriority,
             cast(('0x' || substr(md5(
               case when o_custkey is null then '<null>'
                    else md5(cast(o_custkey as varchar)) end
             ), 1, 15)) as bigint) as kmv_hash
      from orders
    ), ranked as (
      select o_orderpriority, kmv_hash,
             row_number() over (partition by o_orderpriority
                                order by kmv_hash) as rn
      from h
    ), survivors as (
      select kmv_hash from ranked where rn <= 128
    ), topk as (
      select distinct kmv_hash from survivors
      order by kmv_hash limit 128
    )
    select cast(count(*) as bigint) as n_hashes,
           max(kmv_hash) as kth_hash,
           round(case when count(*) < 128 then cast(count(*) as double)
                 else (cast(127 as double)
                       * cast(1152921504606846976 as double))
                      / cast(max(kmv_hash) as double) end, 4) as est_distinct
    from topk
""",
)
def x_kmv_merge_groups(spark, sf_dir):
    """Per-priority KMV sketches merged into one global estimate — the
    persist-per-partition / answer-any-range pattern."""
    from hive_scripts_spark.operators.sketches import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch_grouped,
    )

    orders = table(spark, sf_dir, "orders")
    grouped = kmv_sketch_grouped(
        orders, ["o_orderpriority"], ["o_custkey"], k=128
    )
    merged = kmv_merge([grouped.select("kmv_hash")], k=128)
    return kmv_estimate(merged, k=128)


@register(
    "x_domain_cap",
    # the salted two-level top-k is bit-transparent, so the oracle is the
    # plain row_number over (md5(id), id) partitioned by the eTLD+1 the
    # arms construct: www.big.example collapses to big.example,
    # a./b.shared.example share one quota, tiny.example (4 docs) passes
    # under-cap, and no-host URLs cap inside the '' bucket
    oracle="""
    with armed as (
      select doc_id, cast(doc_id % 10 as int) as arm,
             cast(doc_id as varchar) as i
      from documents
    ), docs as (
      select doc_id,
             case
               when arm = 9 and doc_id < 40
                 then 'https://tiny.example/p' || i
               when arm = 9 then 'doc ' || i || ' plain'
               when arm = 7 then 'https://a.shared.example/p' || i
               when arm = 8 then 'https://b.shared.example/p' || i
               else 'https://www.big.example/p' || i
             end as url,
             case
               when arm = 9 and doc_id < 40 then 'tiny.example'
               when arm = 9 then ''
               when arm in (7, 8) then 'shared.example'
               else 'big.example'
             end as domain
      from armed
    ), ranked as (
      select doc_id, url,
             cast(row_number() over (
               partition by domain
               order by md5(cast(doc_id as varchar)), doc_id) as int)
               as pick_order
      from docs
    )
    select doc_id, url, pick_order from ranked where pick_order <= 25
""",
)
def x_domain_cap(spark, sf_dir):
    """A skewed four-domain URL mix (70 % one domain — the hot group the
    salted top-k exists for) through ``curation.cap_per_domain``, cap 25,
    with ``keep_rank`` for the ``pick_order`` audit column."""
    from hive_scripts_spark.operators.curation import cap_per_domain

    docs = table(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    arm = F.pmod("doc_id", F.lit(10))
    url = (
        F.when(
            (arm == 9) & (F.col("doc_id") < 40),
            F.concat(F.lit("https://tiny.example/p"), i),
        )
        .when(arm == 9, F.concat(F.lit("doc "), i, F.lit(" plain")))
        .when(arm == 7, F.concat(F.lit("https://a.shared.example/p"), i))
        .when(arm == 8, F.concat(F.lit("https://b.shared.example/p"), i))
        .otherwise(F.concat(F.lit("https://www.big.example/p"), i))
    )
    framed = docs.select("doc_id", url.alias("url"))
    return cap_per_domain(framed, cap=25, salts=8, keep_rank=True)


@register(
    "x_clean_invisible",
    # both regex classes restated in RE2 syntax, so the value hash pins
    # the class bodies byte-for-byte across engines
    oracle=r"""
    with armed as (
      select doc_id, cast(doc_id % 5 as int) as arm,
             cast(doc_id as varchar) as i
      from documents
    ), planted as (
      select doc_id,
             case arm
               when 0 then 'plain ' || i
               when 1 then 'zw' || chr(8203) || 'sp ' || chr(8205)
                        || chr(65279) || i
               when 2 then 'ctl' || chr(1) || chr(127) || chr(154)
                        || ' ' || i
               when 3 then 'line1' || chr(13) || chr(10) || 'line2'
                        || chr(11) || 'line3 ' || i
               else 'soft' || chr(173) || 'hyphen rlm' || chr(8207)
                        || ' ' || i
             end as text
      from armed
    )
    select doc_id,
           regexp_replace(
             regexp_replace(text, '\r\n|[\x{0b}\x{0c}\x{0d}]',
                            chr(10), 'g'),
             '[\x{00}-\x{08}\x{0e}-\x{1f}\x{7f}\x{80}-\x{9f}\x{ad}\x{200b}\x{200e}-\x{200f}\x{202a}-\x{202e}\x{2060}\x{2066}-\x{2069}\x{feff}]',
             '', 'g') as text_clean
    from planted
""",
)
def x_clean_invisible(spark, sf_dir):
    """``encoding.strip_invisible_col`` over five planted arms: clean
    passthrough, ZWSP/BOM strip with a kept ZWJ (the default-keep joiner
    contract), C0/DEL/C1 strip, CRLF/VT converted to newlines (never
    deleted — deleting a bare CR fuses words), and soft-hyphen/RLM
    strip."""
    from hive_scripts_spark.operators.encoding import strip_invisible_col

    docs = table(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    arm = F.pmod("doc_id", F.lit(5))
    text = (
        F.when(arm == 0, F.concat(F.lit("plain "), i))
        .when(arm == 1, F.concat(F.lit("zw\u200bsp \u200d\ufeff"), i))
        .when(arm == 2, F.concat(F.lit("ctl\x01\x7f\x9a "), i))
        .when(arm == 3, F.concat(F.lit("line1\r\nline2\x0bline3 "), i))
        .otherwise(F.concat(F.lit("soft\u00adhyphen rlm\u200f "), i))
    )
    planted = docs.select("doc_id", text.alias("text"))
    return planted.select(
        "doc_id", strip_invisible_col("text").alias("text_clean")
    )


# ---------------------------------------------------------------------------
# planted twins: value-checked rows for the engine-specific hash paths.
# Identical copies have identical signatures under ANY hash function, so
# they are guaranteed candidates; the exact verify (engine-portable) kills
# everything below threshold, and the output is a closed-form twin list.
# tests/test_similarity.py and tests/test_dedup.py pin the data margins
# these closed forms lean on.
# ---------------------------------------------------------------------------

#: dimension 0 must carry > 2% of the squared norm, so a dim-0 flip
#: copy has cosine < 0.96 with its original — below the 0.99 threshold
PLANTED_ENERGY_CUT = 0.02
#: above the max natural near-dup Jaccard of the test corpora (0.9894)
PLANTED_MH_THRESHOLD = 0.995


def planted_embedding_copies(spark, sf_dir):
    """Three copies per kept base vector: ids 3v and 3v+1 verbatim (an
    identical twin, cosine 1.0), 3v+2 with dimension 0 sign-flipped."""
    emb = table(spark, sf_dir, "embeddings")
    staged = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    ).select(
        "vec_id",
        "vec",
        F.aggregate("vec", F.lit(0.0), lambda acc, x: acc + x * x).alias("n2"),
        F.element_at("vec", 1).alias("v0"),
    )
    kept = staged.where(
        (F.col("n2") > 0)
        & (F.col("v0") * F.col("v0") > PLANTED_ENERGY_CUT * F.col("n2"))
    )
    flipped = F.transform("vec", lambda x, i: F.when(i == 0, -x).otherwise(x))
    return kept.select(
        "vec_id",
        F.posexplode(F.array(F.col("vec"), F.col("vec"), flipped)).alias(
            "c", "embedding"
        ),
    ).select((F.col("vec_id") * 3 + F.col("c")).alias("vec_id"), "embedding")


@register(
    "x_embed_near_dup_planted",
    oracle=f"""
    with staged as (
      select vec_id, cast(embedding as double[]) as vec
      from embeddings
    ), m as (
      select vec_id,
             list_dot_product(vec, vec) as n2,
             vec[1] as v0
      from staged
    )
    select vec_id * 3 as a_id, vec_id * 3 + 1 as b_id,
           cast(1.0 as double) as cosine_sim
    from m
    where n2 > 0 and v0 * v0 > {PLANTED_ENERGY_CUT} * n2
""",
)
def x_embed_near_dup_planted(spark, sf_dir):
    """The production hyperplane-LSH + exact-cosine near-dup path at
    threshold 0.99 over :func:`planted_embedding_copies`: the output is
    exactly the kept-base twin pairs at cosine 1.0 (recall through real
    banding, precision through real verify — the flip pairs reach the
    verify join and die there)."""
    return S.embedding_near_dup_pairs(
        planted_embedding_copies(spark, sf_dir), threshold=0.99, use_lsh=True
    )


def planted_doc_copies(spark, sf_dir, n: int):
    """``n`` identical copies of every document, ids ``n*doc_id + c``."""
    docs = table(spark, sf_dir, "documents")
    ids = [F.col("doc_id") * n + c for c in range(n)]
    return docs.select(F.explode(F.array(*ids)).alias("doc_id"), "text")


@register(
    "x_dedup_minhash_planted",
    oracle=f"""
    with toks as (
      select doc_id, string_split({_NORM}, ' ') as ws from documents
    )
    select doc_id * 2 as a_id, doc_id * 2 + 1 as b_id,
           cast(1.0 as double) as jaccard
    from toks where len(ws) >= 3
""",
)
def x_dedup_minhash_planted(spark, sf_dir):
    """Two identical copies per doc through the production xxhash64
    banded MinHash-LSH + exact-Jaccard verify chain; the output is
    exactly the twin pairs."""
    return D.minhash_lsh_pairs(
        planted_doc_copies(spark, sf_dir, 2),
        threshold=PLANTED_MH_THRESHOLD,
        parallelism=spark.sparkContext.defaultParallelism,
    )


@register(
    "x_doc_rolling_hash_planted",
    oracle="""
    select doc_id * 2 as a_id, doc_id * 2 + 1 as b_id,
           true as rolling_match
    from documents
""",
)
def x_doc_rolling_hash_planted(spark, sf_dir):
    """``textstats.doc_fingerprint``'s xxhash64 rolling hash checked by
    value: twin copies joined on the portable ``content_md5``, and the
    graded value is whether the twins' rolling hashes agree — so a hash
    that depends on anything besides content (partitioning, row order,
    id) flips the boolean."""
    fp = X.doc_fingerprint(planted_doc_copies(spark, sf_dir, 2))
    a = fp.toDF("a_id", "content_md5", "a_rolling")
    b = fp.toDF("b_id", "content_md5", "b_rolling")
    return (
        a.join(b, "content_md5")
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            (F.col("a_rolling") == F.col("b_rolling")).alias("rolling_match"),
        )
    )


@register(
    "x_dedup_components_planted",
    oracle=f"""
    select doc_id * 3 + c as node, doc_id * 3 as component
    from documents, (select unnest([0, 1, 2]) as c)
    where len(string_split({_NORM}, ' ')) >= 3
""",
)
def x_dedup_components_planted(spark, sf_dir):
    """``connected_components`` over the xxhash64 MinHash-LSH edges of
    three identical copies per doc: the components are exactly
    ``{3k, 3k+1, 3k+2}`` labeled ``3k`` per eligible doc."""
    from hive_scripts_spark.operators.cluster import connected_components

    pairs = D.minhash_lsh_pairs(
        planted_doc_copies(spark, sf_dir, 3),
        threshold=PLANTED_MH_THRESHOLD,
        parallelism=spark.sparkContext.defaultParallelism,
    )
    return connected_components(pairs)
