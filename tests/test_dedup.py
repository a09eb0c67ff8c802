"""Dedup operator semantics on hand-built fixtures (the LSH/SimHash paths
have no SQL oracle — these tests are their correctness story)."""

import pytest
from pyspark.sql import functions as F

from hive_scripts_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "on the warm windowsill in the afternoon sun light"
)
NEAR = BASE.replace("lazy", "sleepy")  # one-word change → high jaccard
FAR = "completely different content about spark query engines and shuffles everywhere"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, NEAR),  # near dup of 0
        (3, FAR),
        (4, "   " + BASE + "  "),  # whitespace-only variant of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_min_id_survivor(docs):
    out = {r["doc_id"]: r["n_dups"] for r in D.exact_dedup(docs, ["text"]).collect()}
    assert out[0] == 2  # docs 0,1
    assert 1 not in out
    assert out[3] == 1


def test_fingerprint_dedup_normalizes_whitespace(docs):
    out = {r["doc_id"]: r["n_dups"] for r in D.fingerprint_dedup(docs).collect()}
    assert out[0] == 3  # docs 0, 1, 4 share normalized content
    assert 4 not in out


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.3 <= pairs[(0, 2)] < 1.0
    assert not any(3 in k for k in pairs)


def test_minhash_lsh_recovers_near_dups(docs):
    pairs = {(r["a_id"], r["b_id"]) for r in D.minhash_lsh_pairs(docs, threshold=0.3).collect()}
    assert (0, 1) in pairs  # identical docs always collide
    assert (0, 2) in pairs  # near dup collides with high probability
    assert not any(3 in p for p in pairs)


def test_minhash_jaccard_matches_exact(docs):
    exact = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(docs, threshold=0.3).collect()
    }
    for k, v in lsh.items():
        assert exact[k] == v  # verify stage computes the true jaccard


def test_simhash_blocks_near_dups(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert sigs[0] == sigs[1] == sigs[4]  # identical normalized content
    pairs = {(r["a_id"], r["b_id"]) for r in D.simhash_near_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert not any(3 in p for p in pairs)


def test_dedup_keep_min(docs, spark):
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.3)
    kept = {r["doc_id"] for r in D.dedup_keep_min(pairs, docs).collect()}
    assert 0 in kept and 3 in kept
    assert 1 not in kept and 4 not in kept


def test_contamination_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (0, "xx alpha beta gamma yy"),      # shares 1 trigram
            (1, "alpha beta gamma delta zz"),   # shares 2 trigrams
            (2, "totally unrelated words here"),
            (3, "too short"),                   # < 3 tokens after norm? 2 tokens
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n_shared_grams"]
        for r in D.contamination_overlap(corpus, bench).collect()
    }
    assert out == {0: 1, 1: 2}


def test_shard_by_hash_deterministic_and_balanced(spark):
    from hive_scripts_spark.functions.canonical import shard_by_hash

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["shard"] for r in shard_by_hash(df, ["doc_id"], 16).collect()}
    b = {
        r["doc_id"]: r["shard"]
        for r in shard_by_hash(df.repartition(7), ["doc_id"], 16).collect()
    }
    assert a == b  # pure function of the key, not of partitioning
    assert set(a.values()) <= set(range(16))
    import collections

    sizes = collections.Counter(a.values()).values()
    assert min(sizes) > 2000 / 16 * 0.6  # hash-uniform, no empty/hot shard


def test_ngram_jaccard_routes_through_lsh_above_doc_cap(spark):
    from hive_scripts_spark.operators.dedup import ngram_jaccard_pairs

    rows = []
    for i in range(8):
        base = f"the quick brown fox jumps over lazy dog number {i} " * 3
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base + " trailing tail token"))  # near-dup of 2i
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exhaustive = ngram_jaccard_pairs(df, max_docs=None)
    routed = ngram_jaccard_pairs(df, max_docs=4)  # 16 docs > cap → LSH route

    # routing must actually engage: the LSH path joins on (band, bucket)
    assert "bucket" in routed._jdf.queryExecution().toString()
    assert "bucket" not in exhaustive._jdf.queryExecution().toString()

    ex = {(r["a_id"], r["b_id"]): r for r in exhaustive.collect()}
    rt = {(r["a_id"], r["b_id"]): r for r in routed.collect()}
    # same schema, candidates are a subset, and every near-identical pair
    # (jaccard ≥ 0.8 — well above the LSH S-curve knee) survives routing
    # with identical counts and jaccard
    assert routed.columns == exhaustive.columns
    assert set(rt) <= set(ex)
    for k, r in ex.items():
        if r["jaccard"] >= 0.8:
            assert k in rt
            for c in ("n_common", "n_a", "n_b", "jaccard"):
                assert rt[k][c] == r[c]


def test_minhash_lsh_hot_bucket_cap(spark):
    from hive_scripts_spark.operators.dedup import minhash_lsh_pairs

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 4
    near = "a genuinely unique document about spark physical planning details"
    rows = [(i, boiler) for i in range(25)] + [(100, near), (101, near)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = minhash_lsh_pairs(df, threshold=0.5)
    capped = minhash_lsh_pairs(df, threshold=0.5, max_bucket_size=10)

    # the 25 identical boilerplate docs form 25×24/2 pairs uncapped...
    assert uncapped.where("a_id < 100").count() == 25 * 24 // 2
    # ...and every one of their buckets exceeds the cap, so they vanish;
    # the genuine near-dup pair (in small buckets) survives
    got = {(r["a_id"], r["b_id"]) for r in capped.collect()}
    assert got == {(100, 101)}


def test_near_dup_survivors_transitive_best_quality(spark):
    from hive_scripts_spark.operators.dedup import near_dup_survivors

    # chain 1~2, 2~3 (1 and 3 never paired directly) → ONE cluster; the
    # best doc is 2 (longest); 9 is a singleton surviving as itself
    docs = spark.createDataFrame(
        [(1, 50), (2, 90), (3, 70), (9, 10)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a_id long, b_id long")
    out = {r["component"]: r for r in near_dup_survivors(docs, pairs).collect()}
    assert out[1]["survivor_id"] == 2 and out[1]["n_members"] == 3
    assert out[9]["survivor_id"] == 9 and out[9]["n_members"] == 1


def test_near_dup_survivors_quality_tie_breaks_low_id(spark):
    from hive_scripts_spark.operators.dedup import near_dup_survivors

    docs = spark.createDataFrame(
        [(4, 80), (7, 80), (5, 20)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame([(4, 7), (4, 5)], "a_id long, b_id long")
    rows = near_dup_survivors(docs, pairs).collect()
    assert len(rows) == 1
    assert rows[0]["survivor_id"] == 4 and rows[0]["n_members"] == 3


def test_group_cap_deterministic_and_bounded(spark):
    from hive_scripts_spark.functions.canonical import group_cap

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "fr", f"s{i % 2}") for i in range(200)],
        "doc_id long, lang string, source string",
    )
    capped = group_cap(df, ["lang", "source"], n=10, order_key="doc_id")
    counts = {
        (r["lang"], r["source"]): r["c"]
        for r in capped.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert all(c <= 10 for c in counts.values())
    # groups larger than the cap are cut exactly to it
    assert counts[("en", "s0")] == 10 and counts[("fr", "s1")] == 10
    # same rows on a rerun (hash order, not LIMIT order)
    a = {r["doc_id"] for r in capped.collect()}
    b = {
        r["doc_id"]
        for r in group_cap(df, ["lang", "source"], n=10, order_key="doc_id").collect()
    }
    assert a == b
    # pick_order is a dense 1..n rank within each group
    one = [
        r["pick_order"]
        for r in capped.where("lang = 'en' and source = 's0'").collect()
    ]
    assert sorted(one) == list(range(1, 11))


def test_rank_trim_exact_integer_bounds(spark):
    from hive_scripts_spark.functions.canonical import rank_trim

    # 100 rows, one group: trim 1%/99% keeps ranks 2..99 (rn*100 > 100
    # and rn*100 <= 9900) — exactly 98 rows, lowest and highest cut
    df = spark.createDataFrame(
        [(i, "en", i * 10) for i in range(1, 101)],
        "doc_id long, lang string, n_chars long",
    )
    kept = rank_trim(df, ["lang"], "n_chars", order_key="doc_id").collect()
    vals = sorted(r["n_chars"] for r in kept)
    assert len(vals) == 98
    assert vals[0] == 20 and vals[-1] == 990  # 10 and 1000 trimmed

    # tiny group: 3 rows → rn*100 > 3 always, rn*100 <= 297 for rn<=2;
    # only the max is cut (never everything)
    tiny = spark.createDataFrame(
        [(1, "fr", 5), (2, "fr", 6), (3, "fr", 7)],
        "doc_id long, lang string, n_chars long",
    )
    got = sorted(
        r["n_chars"]
        for r in rank_trim(tiny, ["lang"], "n_chars", order_key="doc_id").collect()
    )
    assert got == [5, 6]


def test_near_dup_survivors_string_ids_and_null_quality(spark):
    # ADVICE r3: ids must not be negated/cast (string ids work) and NULL
    # quality must lose deterministically, not ride NULL-struct ordering
    from hive_scripts_spark.operators.dedup import near_dup_survivors

    docs = spark.createDataFrame(
        [("a", None), ("b", 50), ("c", 50), ("z", 7)],
        "doc_id string, n_chars int",
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "a_id string, b_id string"
    )
    rows = near_dup_survivors(docs, pairs).collect()
    by_comp = {r["component"]: r for r in rows}
    cluster = [r for r in rows if r["n_members"] == 3][0]
    # NULL-quality 'a' loses; b/c tie on 50 → lowest id 'b' survives
    assert cluster["survivor_id"] == "b"
    assert isinstance(cluster["survivor_id"], str)  # dtype preserved
    singleton = [r for r in rows if r["n_members"] == 1][0]
    assert singleton["survivor_id"] == "z"


def test_near_dup_survivors_rejects_non_numeric_quality(spark):
    from hive_scripts_spark.operators.dedup import near_dup_survivors

    docs = spark.createDataFrame([(1, "x")], "doc_id long, n_chars string")
    pairs = spark.createDataFrame([], "a_id long, b_id long")
    import pytest as _pt

    with _pt.raises(TypeError, match="must be numeric"):
        near_dup_survivors(docs, pairs)


def test_group_cap_and_rank_trim_reject_reserved_columns(spark):
    from hive_scripts_spark.functions.canonical import group_cap, rank_trim
    import pytest as _pt

    df = spark.createDataFrame(
        [(1, "en", 1, 2, 3)],
        "doc_id long, lang string, pick_order long, __rn long, __n long",
    )
    with _pt.raises(ValueError, match="pick_order"):
        group_cap(df, ["lang"], n=1, order_key="doc_id")
    with _pt.raises(ValueError, match="__rn"):
        rank_trim(df, ["lang"], "doc_id", order_key="doc_id")


def test_dedup_lines_first_occurrence_and_reassembly(spark):
    from hive_scripts_spark.operators.dedup import dedup_lines

    # boilerplate ("SUBSCRIBE TO OUR NEWSLETTER") repeats across docs and
    # within doc 3; short lines ("ok", "") are exempt everywhere; doc 4 is
    # nothing but an already-seen line -> vanishes from the output
    docs = spark.createDataFrame(
        [
            (1, "unique first line\nSUBSCRIBE TO OUR NEWSLETTER\nok"),
            (2, "SUBSCRIBE TO OUR NEWSLETTER\nanother unique line\n\nok"),
            (3, "SUBSCRIBE TO OUR NEWSLETTER\nSUBSCRIBE TO OUR NEWSLETTER\nthird doc body"),
            (4, "SUBSCRIBE TO OUR NEWSLETTER"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs).collect()}

    assert out[1]["text_deduped"] == "unique first line\nSUBSCRIBE TO OUR NEWSLETTER\nok"
    assert (out[1]["n_lines_kept"], out[1]["n_lines_removed"]) == (3, 0)
    # doc 2 loses the boilerplate (doc 1 saw it first) but keeps exempt lines
    assert out[2]["text_deduped"] == "another unique line\n\nok"
    assert (out[2]["n_lines_kept"], out[2]["n_lines_removed"]) == (3, 1)
    # doc 3 loses BOTH boilerplate copies (first occurrence is in doc 1)
    assert out[3]["text_deduped"] == "third doc body"
    assert (out[3]["n_lines_kept"], out[3]["n_lines_removed"]) == (1, 2)
    assert 4 not in out


def test_dedup_lines_exempt_threshold(spark):
    from hive_scripts_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(1, "shared!\nbody one"), (2, "shared!\nbody two")],
        "doc_id long, text string",
    )
    # "shared!" (7 chars) is exempt at the default threshold: kept twice
    out = {r["doc_id"]: r["text_deduped"] for r in dedup_lines(docs).collect()}
    assert out == {1: "shared!\nbody one", 2: "shared!\nbody two"}
    # lowering the exemption dedups it
    out2 = {
        r["doc_id"]: r["text_deduped"]
        for r in dedup_lines(docs, min_line_chars=1).collect()
    }
    assert out2 == {1: "shared!\nbody one", 2: "body two"}


def test_contamination_substring_verbatim_hits_only(spark):
    from hive_scripts_spark.operators.dedup import contamination_substring

    corpus = spark.createDataFrame(
        [
            (1, "intro text THE CAPITAL OF FRANCE IS PARIS trailing words"),
            (2, "intro text the capital of germany is berlin trailing"),
            (3, "THE CAPITAL OF FRANCE IS PARIS and also "
                "WATER BOILS AT ONE HUNDRED DEGREES here"),
            (4, "whitespace   normalized:  THE CAPITAL   OF FRANCE"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            ("THE CAPITAL OF FRANCE IS PARIS",),
            ("WATER BOILS AT ONE HUNDRED DEGREES",),
            ("short",),  # below min_chars -> ignored
        ],
        "snippet string",
    )
    out = {
        r["doc_id"]: r["n_bench_hits"]
        for r in contamination_substring(corpus, bench).collect()
    }
    # doc 1 one hit, doc 3 two hits, docs 2/4 clean (4 has only a prefix)
    assert out == {1: 1, 3: 2}


def test_contamination_substring_normalizes_both_sides(spark):
    from hive_scripts_spark.operators.dedup import contamination_substring

    corpus = spark.createDataFrame(
        [(1, "leak:  THE   ANSWER IS\tFORTY TWO  ok")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("THE ANSWER   IS FORTY TWO",)], "snippet string"
    )
    out = contamination_substring(corpus, bench).collect()
    assert len(out) == 1 and out[0]["n_bench_hits"] == 1


def test_portable_hash60_matches_duckdb(spark):
    """The md5-based portable hash must be bit-identical to its DuckDB
    twin expression — the invariant every portable-LSH oracle rests on."""
    import duckdb

    samples = ["", "a", "the quick brown", "0|shingle text here", "naïve™"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select(
            "s", D.portable_hash60(F.lit("7"), F.col("s")).alias("h")
        ).collect()
    }
    for s in samples:
        want = duckdb.sql(
            "select cast(('0x' || substr(md5('7|' || ?), 1, 15)) as bigint)",
            params=[s],
        ).fetchone()[0]
        assert got[s] == want, s


def test_minhash_portable_recovers_near_dups(docs):
    pairs = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in D.minhash_lsh_pairs_portable(docs, threshold=0.3).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_minhash_portable_jaccard_matches_exact(docs):
    exact = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    portable = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in D.minhash_lsh_pairs_portable(docs, threshold=0.3).collect()
    }
    assert set(portable) <= set(exact)  # precision exact: verified candidates
    for k, v in portable.items():
        assert exact[k] == v


def test_simhash_portable_finds_near_dups(docs):
    out = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in D.simhash_near_pairs_portable(docs).collect()
    }
    assert out[(0, 1)] == 0  # identical docs: identical signatures
    assert (0, 4) in out and out[(0, 4)] == 0  # whitespace variant
    assert all(h <= 1 for h in out.values())


def test_bloom_contamination_matches_broadcast_path(spark, docs):
    """Bloom prefilter must be invisible in the RESULT: no false
    negatives by construction, false positives killed by the exact
    verify join. Run it at a deliberately awful sizing (1 bit/gram,
    1 hash -> high false-positive rate) and it still has to agree with
    the plain broadcast-join path."""
    bench = docs.where(F.col("doc_id").isin(0))
    corpus = docs.where(~F.col("doc_id").isin(0))
    plain = {
        (r["doc_id"], r["n_shared_grams"])
        for r in D.contamination_overlap(corpus, bench).collect()
    }
    for bpg, k in ((16, 4), (1, 1)):
        bloomed = {
            (r["doc_id"], r["n_shared_grams"])
            for r in D.bloom_contamination_overlap(
                corpus, bench, bits_per_gram=bpg, num_hashes=k
            ).collect()
        }
        assert bloomed == plain, (bpg, k)
    # sanity on the fixture: dup + near-dup + ws-variant share grams,
    # the unrelated doc doesn't
    ids = {d for d, _ in plain}
    assert {1, 2, 4} <= ids and 3 not in ids


def test_bloom_empty_benchmark_flags_nothing(spark, docs):
    bench = docs.where(F.lit(False))
    assert D.bloom_contamination_overlap(docs, bench).count() == 0


def test_cross_corpus_dedup_drops_normalized_matches(spark, docs):
    ref = spark.createDataFrame(
        [(100, BASE), (101, "brand new reference-only text")],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in D.cross_corpus_dedup(docs, ref).collect()}
    # 0, 1 (exact) and 4 (whitespace variant -> same normalized text)
    # are already in the reference corpus; NEAR and FAR are not
    assert kept == {2, 3}


def test_cross_corpus_dedup_keeps_columns_and_is_stable(spark, docs):
    ref = docs.where(F.col("doc_id") == 3)
    out = D.cross_corpus_dedup(docs, ref)
    assert set(out.columns) == {"doc_id", "text"}
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in D.cross_corpus_dedup(docs, ref).collect()}
    assert a == b == {0, 1, 2, 4}


def test_cross_near_dup_boundary_pairs(spark):
    """The x_dedup_cross_near composition: only pairs straddling the
    corpus boundary survive, oriented (new_id, ref_id)."""
    from hive_scripts_spark.plans.registry import QUERIES

    rows = QUERIES["x_dedup_cross_near"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    within = {
        (r["a_id"], r["b_id"])
        for r in D.minhash_lsh_pairs_portable(
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
            threshold=0.2,
        ).collect()
    }
    cross_expected = {
        tuple(sorted(p)) for p in within if (p[0] % 10 == 0) != (p[1] % 10 == 0)
    }
    got = {tuple(sorted((r["new_id"], r["ref_id"]))) for r in rows}
    assert got == cross_expected
    for r in rows:
        assert r["ref_id"] % 10 == 0 and r["new_id"] % 10 != 0
        assert r["jaccard"] >= 0.2


def test_minhash_verify_same_pairs_without_broadcast(spark, docs):
    """The verify join's plan degrades (AQE: BHJ -> SMJ) when broadcast
    is unavailable; the PAIRS must not change. This is the 100 TB
    posture check for the r7 no-hint decision: with
    autoBroadcastJoinThreshold=-1 every join in the pipeline runs as a
    shuffle join and the output is byte-identical."""
    baseline = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in D.minhash_lsh_pairs(docs).collect()
    }
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        no_bhj = {
            (r["a_id"], r["b_id"], r["jaccard"])
            for r in D.minhash_lsh_pairs(docs).collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert no_bhj == baseline and baseline


def test_bloom_distributed_route_matches_literal(spark, docs):
    """r8 scale fix: the distributed bitset build (Spark-side bit_or
    fold + one-row broadcast relation + distributed verify) must return
    exactly the literal route's rows — the route is a plan choice, not
    a semantic one. Also exercise the awful-sizing FP path and the
    empty bench through the distributed code."""
    bench = docs.where(F.col("doc_id").isin(0))
    corpus = docs.where(~F.col("doc_id").isin(0))
    literal = {
        (r["doc_id"], r["n_shared_grams"])
        for r in D.bloom_contamination_overlap(
            corpus, bench, route="literal"
        ).collect()
    }
    for bpg, k in ((16, 4), (1, 1)):
        dist = {
            (r["doc_id"], r["n_shared_grams"])
            for r in D.bloom_contamination_overlap(
                corpus, bench, bits_per_gram=bpg, num_hashes=k,
                route="distributed",
            ).collect()
        }
        assert dist == literal, (bpg, k)
    # auto with a tiny threshold must take the distributed route and
    # still agree
    auto = {
        (r["doc_id"], r["n_shared_grams"])
        for r in D.bloom_contamination_overlap(
            corpus, bench, route="auto", literal_max_docs=0
        ).collect()
    }
    assert auto == literal
    assert (
        D.bloom_contamination_overlap(
            docs, docs.where(F.lit(False)), route="distributed"
        ).count()
        == 0
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="route"):
        D.bloom_contamination_overlap(corpus, bench, route="nope")


def test_minhash_portable_bucket_cap_subsets_pairs(spark):
    """max_bucket_size on the portable path: capped pairs are a subset
    of uncapped pairs (candidates only shrink), the cap actually BITES
    on the testdata, and surviving pairs keep identical jaccard."""
    from hive_scripts_spark.operators import dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in D.minhash_lsh_pairs_portable(docs, threshold=0.2).collect()
    }
    capped = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in D.minhash_lsh_pairs_portable(
            docs, threshold=0.2, max_bucket_size=2
        ).collect()
    }
    assert set(capped) < set(full)  # strict subset: the cap bites
    assert all(full[k] == v for k, v in capped.items())


def test_strip_boilerplate_semantics(spark):
    """Lines in > max_doc_freq docs vanish EVERYWHERE (not keep-first);
    short lines are exempt; reassembly preserves order; all-boilerplate
    docs drop out."""
    from hive_scripts_spark.operators import dedup as D

    rows = [
        (0, "unique alpha content\ncookie banner boilerplate\nshort"),
        (1, "cookie banner boilerplate\nunique beta content"),
        (2, "cookie banner boilerplate"),
        (3, "unique gamma content\nshort"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in D.strip_boilerplate(
            docs, max_doc_freq=1, min_line_chars=10
        ).collect()
    }
    # the 3-doc banner is stripped everywhere; doc 2 (only banner) vanishes
    assert set(out) == {0, 1, 3}
    assert out[0]["text_cleaned"] == "unique alpha content\nshort"
    assert out[0]["n_lines_removed"] == 1
    assert out[1]["text_cleaned"] == "unique beta content"
    # 'short' is exempt despite appearing in docs 0 and 3
    assert out[3]["text_cleaned"] == "unique gamma content\nshort"
    assert out[3]["n_lines_removed"] == 0
    # raising the cap keeps everything
    kept_all = D.strip_boilerplate(docs, max_doc_freq=3, min_line_chars=10)
    assert kept_all.agg({"n_lines_removed": "sum"}).collect()[0][0] == 0


def test_dedup_lines_within_doc(spark):
    from hive_scripts_spark.operators.dedup import dedup_lines_within_doc

    nav = "home | products | about us | contact"
    rows = [
        # nav repeated 3x inside doc 0 → keep first only
        (0, f"{nav}\nreal content paragraph one\n{nav}\nmore content\n{nav}"),
        # doc 1 contains the SAME nav once — untouched (no cross-doc effect)
        (1, f"{nav}\ncompletely different body text"),
        # short lines repeat but are exempt
        (2, "ok\nsubstantial line of content\nok\nanother substantial line\nok"),
        # no duplicates at all
        (3, "unique first line of text\nunique second line of text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_lines_within_doc(df).collect()}
    assert len(out) == 4  # no document can vanish
    assert out[0]["text_deduped"] == (
        f"{nav}\nreal content paragraph one\nmore content"
    )
    assert (out[0]["n_lines_kept"], out[0]["n_lines_removed"]) == (3, 2)
    assert out[1]["text_deduped"] == rows[1][1]  # same nav, different doc: kept
    assert out[2]["text_deduped"] == rows[2][1]  # short repeats exempt
    assert out[2]["n_lines_removed"] == 0
    assert out[3]["n_lines_removed"] == 0


def test_dedup_lines_within_doc_zero_shuffle(spark):
    from hive_scripts_spark.operators.dedup import dedup_lines_within_doc

    df = spark.createDataFrame([(0, "a\nb")], "doc_id long, text string")
    plan = (
        dedup_lines_within_doc(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # pure projection at any corpus size


def test_remove_repeated_spans_cross_doc_keeper(spark):
    from hive_scripts_spark.operators.dedup import remove_repeated_spans

    rows = [
        (1, "a b c d e f"),  # every 3-gram's first occurrence → untouched
        (2, "x y a b c z"),  # "a b c" again → its 3 tokens cut
        (3, "c d e c d e h"),  # "c d e" dup vs doc 1 AND intra-doc
        (4, "p q"),  # shorter than k → pass-through
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_repeated_spans(df, k=3).collect()}
    assert len(out) == 4  # every document present
    assert out[1]["text_cleaned"] == "a b c d e f"
    assert (out[1]["n_tokens_kept"], out[1]["n_tokens_removed"]) == (6, 0)
    assert out[2]["text_cleaned"] == "x y z"
    assert out[2]["n_tokens_removed"] == 3
    # doc 3: "c d e" keeper is (doc 1, pos 2); both doc-3 occurrences
    # (pos 0 and pos 3) cut → positions 0-5 removed, only "h" survives
    assert out[3]["text_cleaned"] == "h"
    assert (out[3]["n_tokens_kept"], out[3]["n_tokens_removed"]) == (1, 6)
    assert out[4]["text_cleaned"] == "p q"
    assert out[4]["n_tokens_removed"] == 0


def test_remove_repeated_spans_overlap_union_and_determinism(spark):
    from hive_scripts_spark.operators.dedup import remove_repeated_spans

    # doc 2 repeats doc 1's full 4-token run: the two overlapping dup
    # 3-grams ("a b c" at pos 2, "b c d" at pos 3) union to one 4-token
    # cut — tokens are not double-counted
    rows = [
        (1, "a b c d x"),
        (2, "u v a b c d w"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    first = {r["doc_id"]: r for r in remove_repeated_spans(df, k=3).collect()}
    assert first[2]["text_cleaned"] == "u v w"
    assert first[2]["n_tokens_removed"] == 4
    assert first[1]["text_cleaned"] == "a b c d x"
    again = {r["doc_id"]: r for r in remove_repeated_spans(df, k=3).collect()}
    assert {i: (r["text_cleaned"], r["n_tokens_removed"]) for i, r in first.items()} == {
        i: (r["text_cleaned"], r["n_tokens_removed"]) for i, r in again.items()
    }


def test_remove_repeated_spans_matches_duckdb_replay(spark):
    """Value check against a DuckDB replay of the whole pipeline (the
    oracle this operator will register with when a window slot frees):
    same md5-span hash family, same rn>1 cut rule, same positional
    filter."""
    import duckdb

    from hive_scripts_spark.operators.dedup import remove_repeated_spans
    from tests.conftest import SF_DIR

    k = 5
    got = {
        r["doc_id"]: r
        for r in remove_repeated_spans(
            spark.read.parquet(f"{SF_DIR}/documents.parquet"), k=k
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from '{SF_DIR}/documents.parquet'"
    )
    rows = con.execute(f"""
    with toks as (
      select doc_id, string_split_regex(trim(text), '\\s+') as t
      from documents
    ), occ as (
      select doc_id, g.i as pos,
             md5(array_to_string(t[g.i + 1 : g.i + {k}], ' ')) as m
      from toks, unnest(generate_series(0, len(t) - {k})) as g(i)
      where len(t) >= {k}
    ), occ2 as (
      -- the spark side keys on two 60-bit md5 halves (chars 1-15 and
      -- 17-31); replay the exact same pair so keeper election matches
      select doc_id, pos,
             cast(('0x' || substr(m, 1, 15)) as bigint) as h1,
             cast(('0x' || substr(m, 17, 15)) as bigint) as h2
      from occ
    ), cuts as (
      select doc_id, pos from (
        select doc_id, pos,
               row_number() over (partition by h1, h2 order by doc_id, pos) as rn
        from occ2) where rn > 1
    ), cutlist as (
      select doc_id, list(distinct p) as ps
      from cuts, unnest(generate_series(pos, pos + {k} - 1)) as u(p)
      group by doc_id
    )
    select tk.doc_id,
           -- coalesce: duckdb's array_to_string is NULL on an empty list
           -- (fully-cut doc) where spark's concat_ws gives ''
           coalesce(array_to_string(
             list_transform(
               list_filter(
                 list_zip(tk.t, generate_series(0, len(tk.t) - 1)),
                 z -> cl.ps is null or not list_contains(cl.ps, z[2])),
               z -> z[1]),
             ' '), '') as text_cleaned
    from toks tk left join cutlist cl using (doc_id)
    """).fetchall()
    duck = dict(rows)
    assert set(duck) == set(got)
    mismatches = [d for d in duck if duck[d] != got[d]["text_cleaned"]]
    assert mismatches == []


def test_remove_repeated_spans_hot_span_no_window(spark):
    """A corpus-hot span — the exact skew case the r10 de-skew targets —
    dedups correctly, and the plan carries NO Window operator: keeper
    election is a partial-aggregable groupBy + AQE-splittable equi-join
    (windows get neither map-side combine nor AQE skew-splitting)."""
    from hive_scripts_spark.operators.dedup import remove_repeated_spans

    # one 3-gram ("hot span three") shared by every document; the two
    # other 3-grams per doc are unique (carry the doc-local tokens)
    rows = [(i, f"u{i} v{i} hot span three") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    result = remove_repeated_spans(df, k=3)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    out = {r["doc_id"]: r for r in result.collect()}
    assert len(out) == 300
    assert out[0]["text_cleaned"] == "u0 v0 hot span three"  # keeper doc
    assert out[0]["n_tokens_removed"] == 0
    for i in (1, 7, 299):
        assert out[i]["text_cleaned"] == f"u{i} v{i}"
        assert out[i]["n_tokens_removed"] == 3


def test_dedup_lines_hot_line_no_window(spark):
    """Corpus-hot boilerplate line: every doc shares one long line; the
    keeper (min doc_id, pos) survives, every other copy drops, and the
    plan has no Window — election is groupBy-min + a semi-join whose
    3-part key (line, doc_id, pos) is skew-free by construction."""
    from hive_scripts_spark.operators.dedup import dedup_lines

    hot = "common hot boilerplate navigation line"
    rows = [(i, f"unique content line number {i}\n{hot}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    result = dedup_lines(df)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    out = {r["doc_id"]: r for r in result.collect()}
    assert len(out) == 300
    assert out[0]["text_deduped"] == f"unique content line number 0\n{hot}"
    for i in (1, 13, 299):
        assert out[i]["text_deduped"] == f"unique content line number {i}"
        assert out[i]["n_lines_removed"] == 1


# ---------------------------------------------------------------------------
# persisted MinHash index (build once, dedup many batches)
# ---------------------------------------------------------------------------

_BASE = (
    "the quick brown fox jumps over the lazy dog and runs through "
    "the quiet forest near the wide river bank at dawn today"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_index_build_and_dedup(spark, tmp_path):
    """Build-once/dedup-many: a batch near-dup of an INDEXED doc is
    caught via the stored signatures (match_source='index'), a
    within-batch near-dup via keep-first (match_source='batch'), and
    the survivor frame keeps originals intact."""
    from hive_scripts_spark.operators import dedup as D

    idx = str(tmp_path / "mh_index")
    corpus = _docs(
        spark,
        [
            (1, _BASE),
            (2, _BASE.replace("dawn", "noon").replace("fox", "cat")),
            (3, "completely different text about spark physical plans "
                "and shuffle exchanges in adaptive query execution"),
        ],
    )
    D.minhash_index_build(corpus, idx)
    meta = D.read_minhash_index_meta(spark, idx)
    assert (meta["n"], meta["num_hashes"], meta["bands"]) == (3, 32, 8)

    batch = _docs(
        spark,
        [
            (101, _BASE.replace("today", "tonight")),  # near-dup of doc 1
            (102, "fresh unrelated content line about parquet footers "
                  "predicate pushdown and column pruning at scale"),
            (103, "fresh unrelated content line about parquet footers "
                  "predicate pushdown and column pruning at speed"),  # ~102
        ],
    )
    pairs = {
        (r["new_id"], r["match_id"]): r
        for r in D.minhash_index_dedup_pairs(batch, idx, threshold=0.5).collect()
    }
    assert (101, 1) in pairs
    assert pairs[(101, 1)]["match_source"] == "index"
    assert pairs[(101, 1)]["est_jaccard"] >= 0.5
    assert (103, 102) in pairs  # keep-first: newer id matches the older
    assert pairs[(103, 102)]["match_source"] == "batch"
    assert (102, 103) not in pairs

    kept = D.minhash_index_dedup(batch, idx, threshold=0.5)
    assert kept.columns == batch.columns
    assert {r["doc_id"] for r in kept.collect()} == {102}


def test_minhash_index_append_and_estimator(spark, tmp_path):
    """Append extends the index under the STORED parameters, and the
    signature-agreement estimate is exact (1.0) for identical text."""
    from hive_scripts_spark.operators import dedup as D

    idx = str(tmp_path / "mh_index")
    D.minhash_index_build(_docs(spark, [(1, _BASE)]), idx)
    appended = _docs(
        spark,
        [(50, "a second corpus shard with its own distinctive words "
              "covering streaming watermarks and stateful aggregation")],
    )
    D.minhash_index_append(appended, idx)

    batch = _docs(spark, [(200, appended.collect()[0]["text"])])  # verbatim
    pairs = D.minhash_index_dedup_pairs(batch, idx, threshold=0.5).collect()
    assert {(r["new_id"], r["match_id"]) for r in pairs} == {(200, 50)}
    assert pairs[0]["est_jaccard"] == 1.0
    assert pairs[0]["match_source"] == "index"


def test_minhash_index_interoperates_with_inline_chain(spark, tmp_path):
    """Bucket derivation from STORED signatures is byte-identical to
    minhash_band_buckets' inline finish lambda — an index built from
    signatures and the recompute chain block identically."""
    from pyspark.sql import functions as F

    from hive_scripts_spark.operators import dedup as D

    docs = _docs(spark, [(1, _BASE), (2, _BASE.replace("dawn", "noon"))])
    inline = {
        (r["doc_id"], r["band"], r["bucket"])
        for r in D.minhash_band_buckets(docs).collect()
    }
    sigs = D.minhash_signatures(docs)
    derived = {
        (r["doc_id"], r["band"], r["bucket"])
        for r in sigs.select(
            "doc_id",
            F.posexplode_outer(
                D._bands_from_signature(F.col("minhash"), 32, 8)
            ).alias("band", "bucket"),
        ).collect()
    }
    assert inline == derived


#: engine-faithful shingle sets (word 3-grams over the normalized token
#: stream, distinct, sorted for set comparison)
_MH_SETS = r"""
    with toks as (
      select doc_id, string_split(trim(regexp_replace(regexp_replace(
               text, chr(13), '', 'g'), '\s+', ' ', 'g')), ' ') as ws
      from documents
    ), sets as (
      select doc_id, list_sort(list_distinct([
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
               for i in range(1, greatest(len(ws) - 1, 1))
             ])) as sh
      from toks where len(ws) >= 3
    )
"""


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_minhash_planted_margins(sf_dir):
    """The data properties x_dedup_minhash_planted and
    x_dedup_components_planted lean on, with margin: no two distinct
    docs share an identical shingle set (else their cross-copy pairs
    would join the output), and the max natural pair Jaccard stays
    below 0.991 (threshold 0.995 minus margin), so natural near-dups
    always die at exact verify."""
    from hive_scripts_spark.plans.oracle_helpers import duck_views

    con = duck_views(sf_dir)
    try:
        identical_groups = con.sql(
            f"""{_MH_SETS}
            select count(*) from (
              select sh from sets group by sh having count(*) > 1)
            """
        ).fetchone()[0]
        assert identical_groups == 0
        max_natural = con.sql(
            f"""{_MH_SETS}
            select max(len(list_intersect(a.sh, b.sh)) * 1.0
                       / len(list_distinct(list_concat(a.sh, b.sh))))
            from sets a join sets b
              on a.doc_id < b.doc_id and a.sh <> b.sh
            """
        ).fetchone()[0]
        assert max_natural < 0.991, f"max natural jaccard: {max_natural}"
    finally:
        con.close()


def test_minhash_planted_arms_fire(spark):
    """x_dedup_minhash_planted at sf0.01: one twin pair per eligible doc
    at exactly 1.0, and the verify-kill arm really runs — a loose 0.5
    threshold on the same corpus surfaces strictly more pairs."""
    from hive_scripts_spark.plans.extension_queries import planted_doc_copies
    from hive_scripts_spark.plans.registry import QUERIES

    sf_dir = "/root/testdata/sf0.01"
    rows = QUERIES["x_dedup_minhash_planted"](spark, sf_dir).collect()
    got = {(r["a_id"], r["b_id"]): r["jaccard"] for r in rows}
    assert len(got) > 0
    assert all(v == 1.0 for v in got.values())
    assert all(b == a + 1 and a % 2 == 0 for a, b in got)
    loose = D.minhash_lsh_pairs(
        planted_doc_copies(spark, sf_dir, 2),
        threshold=0.5,
        parallelism=spark.sparkContext.defaultParallelism,
    )
    n_loose = loose.count()
    assert n_loose > len(got), (n_loose, len(got))


def test_components_planted_arms_fire(spark):
    """x_dedup_components_planted at sf0.01: every eligible doc yields
    exactly one 3-member component labeled by its lowest copy id, i.e.
    the propagation merged the three pairwise twin edges."""
    from collections import Counter

    from hive_scripts_spark.plans.registry import QUERIES

    rows = QUERIES["x_dedup_components_planted"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) > 0
    by_comp = Counter(r["component"] for r in rows)
    assert all(c == 3 for c in by_comp.values())
    assert all(r["component"] % 3 == 0 for r in rows)
    assert all(r["node"] - r["component"] in (0, 1, 2) for r in rows)
