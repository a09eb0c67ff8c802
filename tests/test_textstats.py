"""Text-analysis operator tests: tokenization edge cases, language-ID on
clear-cut sentences, quality-score behavior."""

import pytest

from hive_scripts_spark.operators import textstats as X


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat and the dog are in the house"),  # clear English
        (1, "el perro y el gato en la casa de los abuelos"),  # clear Spanish
        (2, "der Hund und die Katze sind nicht im Haus"),  # clear German
        (3, ""),  # empty
        (4, "    "),  # whitespace only
        (5, "!!! ??? ;;; ***"),  # punctuation soup
        (6, "word"),  # single token
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count_edges(docs):
    out = {r["doc_id"]: r["n"] for r in docs.select("doc_id", X.token_count("text").alias("n")).collect()}
    assert out[0] == 9
    assert out[3] == 0 and out[4] == 0
    assert out[6] == 1


def test_bpe_ish_token_count(docs, spark):
    df = spark.createDataFrame([(0, "hello, world42!")], "doc_id long, text string")
    n = df.select(X.bpe_ish_token_count("text").alias("n")).collect()[0]["n"]
    # hello , world 42 ! → 5 pieces
    assert n == 5


def test_language_id(docs):
    out = {r["doc_id"]: r["predicted_lang"] for r in X.language_id(docs).collect()}
    assert out[0] == "en"
    assert out[1] == "es"
    assert out[2] == "de"
    assert out[3] == "und" and out[5] == "und"


def test_quality_score_ordering(docs):
    out = {r["doc_id"]: r for r in X.quality_features(docs).collect()}
    assert out[0]["quality_score"] > out[5]["quality_score"]  # prose > punct soup
    assert out[3]["n_tokens"] == 0 and out[3]["quality_score"] <= 0.5
    assert out[5]["punct_ratio"] > 0.5
    assert 0.0 <= out[0]["stopword_ratio"] <= 1.0


def test_doc_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(0, "a  b\tc"), (1, "a b c"), (2, "a b d")], "doc_id long, text string"
    )
    out = {r["doc_id"]: (r["content_md5"], r["rolling_hash"]) for r in X.doc_fingerprint(df).collect()}
    assert out[0] == out[1]
    assert out[0] != out[2]


def test_repetition_signals(spark):
    from hive_scripts_spark.operators import textstats as X

    df = spark.createDataFrame(
        [
            (0, "a b a b a b"),          # grams: ab,ba,ab,ba,ab -> top ab=3/5
            (1, "w x y z"),              # all 3 grams distinct
            (2, "solo"),                 # 1 token -> filtered out
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in X.repetition_signals(df).collect()}
    assert 2 not in out
    r0 = out[0]
    assert r0["n_grams"] == 5 and r0["n_distinct"] == 2
    assert abs(r0["top_gram_frac"] - 3 / 5) < 1e-12
    assert abs(r0["dup_gram_frac"] - 3 / 5) < 1e-12
    r1 = out[1]
    assert r1["n_grams"] == 3 and r1["n_distinct"] == 3
    assert r1["dup_gram_frac"] == 0.0 and abs(r1["top_gram_frac"] - 1 / 3) < 1e-12


def test_pii_signals_counts_and_redaction(spark):
    from hive_scripts_spark.operators.textstats import pii_signals

    rows = [
        (0, "contact me at jane.doe+x@example.org or 555 1234567 ok"),
        (1, "no pii here"),
        (2, "a@b.io and c.d@e-f.co.uk plus 0001 and 999"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_signals(df).collect()}
    assert out[0]["n_emails"] == 1 and out[0]["n_digit_runs"] == 1
    assert out[1]["n_emails"] == 0 and out[1]["n_digit_runs"] == 0
    assert out[2]["n_emails"] == 2 and out[2]["n_digit_runs"] == 1  # 999 too short
    assert out[1]["redacted_len"] == len("no pii here")
    assert out[0]["redacted_len"] == len("contact me at <EMAIL> or 555 <NUM> ok")


def test_length_histogram_buckets(spark):
    from hive_scripts_spark.operators.textstats import length_histogram

    df = spark.createDataFrame(
        [(1, 5), (2, 99), (3, 100), (4, 250)], "doc_id long, n_chars int"
    )
    out = {r["bucket"]: (r["n_docs"], r["sum_chars"]) for r in length_histogram(df).collect()}
    assert out == {0: (2, 104), 100: (1, 100), 200: (1, 250)}


def test_word_entropy_exact_values(spark):
    import math

    from hive_scripts_spark.operators.textstats import word_entropy

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # one type: entropy 0, ttr 0.25
            (2, "a b c d"),          # uniform: entropy log2(4)=2, ttr 1
            (3, "a a b b b c"),      # mixed: hand-computed
            (4, "solo"),             # single token: entropy 0, ttr 1
            (5, "   "),              # whitespace-only: no tokens, dropped
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in word_entropy(docs).collect()}

    assert (out[1]["n_tokens"], out[1]["n_types"]) == (4, 1)
    assert out[1]["entropy_bits"] == 0.0 and out[1]["ttr"] == 0.25
    assert out[2]["entropy_bits"] == 2.0 and out[2]["ttr"] == 1.0
    # doc 3: counts 2,3,1 over n=6
    n, cs = 6, [2, 3, 1]
    want = round(-sum(c / n * math.log2(c / n) for c in cs), 6)
    assert out[3]["entropy_bits"] == want
    assert out[3]["n_types"] == 3
    assert (out[4]["entropy_bits"], out[4]["ttr"]) == (0.0, 1.0)
    assert 5 not in out


def test_word_entropy_zero_exchange_plan(spark):
    from hive_scripts_spark.operators.textstats import word_entropy
    from hive_scripts_spark.sources.readers import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    plan = word_entropy(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_vocabulary_df_bounds(spark):
    from hive_scripts_spark.operators.textstats import vocabulary

    docs = spark.createDataFrame(
        [
            (1, "common rare1 common"),
            (2, "common midword"),
            (3, "common midword"),
            (4, "common"),
        ],
        "doc_id long, text string",
    )
    out = {r["term"]: r for r in vocabulary(docs, min_df=2, max_df_frac=0.8).collect()}
    # 'common' in 4/4 docs > 80% -> dropped; 'rare1' df=1 < 2 -> dropped
    assert set(out) == {"midword"}
    assert (out["midword"]["n_occurrences"], out["midword"]["doc_freq"]) == (2, 2)
    # no bounds: everything with counts
    full = {r["term"]: r for r in vocabulary(docs).collect()}
    assert full["common"]["n_occurrences"] == 5 and full["common"]["doc_freq"] == 4


def test_chunk_documents_windows_and_tail(spark):
    from hive_scripts_spark.operators import textstats as X

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame(
        [(0, words), (1, "one two"), (2, "   "), (3, "solo")],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
        for r in X.chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    }
    # doc 0: stride 3 over 10 tokens -> starts 0,3,6,9
    assert out[(0, 0)] == ("w0 w1 w2 w3", 4)
    assert out[(0, 1)] == ("w3 w4 w5 w6", 4)
    assert out[(0, 2)] == ("w6 w7 w8 w9", 4)
    assert out[(0, 3)] == ("w9", 1)  # short tail
    assert (0, 4) not in out
    assert out[(1, 0)] == ("one two", 2)  # sub-budget doc: one chunk
    assert not any(k[0] == 2 for k in out)  # empty doc: no chunks
    assert out[(3, 0)] == ("solo", 1)


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest

    from hive_scripts_spark.operators import textstats as X

    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        X.chunk_documents(df, chunk_tokens=4, overlap=4)


def test_repetition_gate_filter_not_pushed_below_fold(spark):
    """Regression lock for the r6 pushdown trap: a filter on
    dup_gram_frac must NOT be predicate-pushed below the RLE fold (the
    generator barrier blocks it). With the bug, pushdown substitutes the
    whole sort+fold chain into the filter and array_sort appears twice
    in the optimized plan (measured 8x on the curation gate)."""
    from pyspark.sql import functions as F

    from hive_scripts_spark.operators import textstats as X

    df = spark.createDataFrame([(0, "a b c a b")], "doc_id long, text string")
    out = X.repetition_signals(df, keep_cols=["text"]).where(
        F.col("dup_gram_frac") <= 0.5
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("array_sort") == 1


def test_unigram_logprob_hand_computed(spark):
    import math

    from hive_scripts_spark.operators import textstats as X

    # corpus: "a a b" + "b c" -> counts a:2 b:2 c:1, total 5
    df = spark.createDataFrame(
        [(0, "a a b"), (1, "b c"), (2, "   ")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["mean_neg_logprob"])
        for r in X.unigram_logprob_score(df).collect()
    }
    lp = {t: math.log2(c / 5.0) for t, c in {"a": 2, "b": 2, "c": 1}.items()}
    exp0 = round(-(lp["a"] + lp["a"] + lp["b"]) / 3, 6)
    exp1 = round(-(lp["b"] + lp["c"]) / 2, 6)
    assert out[0] == (3, exp0)
    assert out[1] == (2, exp1)
    assert 2 not in out  # blank doc contributes nothing
    assert out[1][1] > out[0][1]  # rarer tokens -> higher (worse) score


def test_bigram_logprob_hand_computed(spark):
    import math

    from hive_scripts_spark.operators import textstats as X

    # corpus transitions: "a b a b" -> (a,b)(b,a)(a,b); "b c" -> (b,c)
    # c2: (a,b)=2 (b,a)=1 (b,c)=1; left contexts c1: a=2 b=2; V=3
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "b c"), (2, "a"), (3, "  ")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_bigrams"], r["mean_neg_logprob"])
        for r in X.bigram_logprob_score(df, k=0.5).collect()
    }
    p_ab = (2 + 0.5) / (2 + 0.5 * 3)
    p_ba = (1 + 0.5) / (2 + 0.5 * 3)
    p_bc = (1 + 0.5) / (2 + 0.5 * 3)
    exp0 = round(-(math.log2(p_ab) + math.log2(p_ba) + math.log2(p_ab)) / 3, 6)
    exp1 = round(-math.log2(p_bc), 6)
    assert out[0] == (3, exp0)
    assert out[1] == (1, exp1)
    assert 2 not in out  # single-token doc: no transitions
    assert 3 not in out  # blank doc
    # improbable transitions score worse than the common (a,b) chain
    assert out[1][1] > out[0][1]


def test_bigram_beats_unigram_on_shuffled_text(spark):
    """The reason bigram exists: common words in improbable ORDER.
    Two docs with the SAME bag of words — one in corpus-typical order,
    one shuffled — get identical unigram scores but the shuffled doc
    scores strictly worse under the bigram LM."""
    from hive_scripts_spark.operators import textstats as X

    phrase = "the cat sat on the mat"
    shuffled = "mat the on sat cat the"
    df = spark.createDataFrame(
        [(i, phrase) for i in range(9)] + [(9, shuffled)],
        "doc_id long, text string",
    )
    uni = {
        r["doc_id"]: r["mean_neg_logprob"]
        for r in X.unigram_logprob_score(df).collect()
    }
    assert uni[0] == uni[9]  # unigram is order-blind
    bi = {
        r["doc_id"]: r["mean_neg_logprob"]
        for r in X.bigram_logprob_score(df).collect()
    }
    assert bi[9] > bi[0]  # bigram catches the scramble


def test_train_val_test_split_deterministic_and_exhaustive(spark):
    from hive_scripts_spark.functions.canonical import train_val_test_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = train_val_test_split(df, ["doc_id"], val_pct=5, test_pct=5)
    from pyspark.sql import functions as F

    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    # hash-uniform: each bucket within 3x of its expectation
    assert abs(counts["train"] - 1800) < 150
    assert 20 < counts["val"] < 300 and 20 < counts["test"] < 300
    # pure function of the key: a second run and a different
    # partitioning assign every row identically
    again = train_val_test_split(
        df.repartition(7), ["doc_id"], val_pct=5, test_pct=5
    )
    diff = out.alias("a").join(
        again.alias("b"), "doc_id"
    ).where("a.split <> b.split").count()
    assert diff == 0


def test_temperature_weights_properties(spark):
    """alpha=0.5 mixing: weights sum to ~1, low-resource groups get
    upsample_factor > 1 and dominant groups < 1; alpha=1 degrades to
    proportional (weight == share, upsample == 1)."""
    from pyspark.sql import functions as F

    from hive_scripts_spark.functions.canonical import temperature_weights

    agg = spark.createDataFrame(
        [("big", 90, 9000), ("mid", 9, 900), ("tiny", 1, 100)],
        "source string, n_docs int, total_tokens long",
    )
    rows = {r["source"]: r for r in temperature_weights(agg).collect()}
    assert abs(sum(r["sample_weight"] for r in rows.values()) - 1.0) < 1e-5
    assert rows["big"]["upsample_factor"] < 1 < rows["tiny"]["upsample_factor"]
    assert rows["tiny"]["sample_weight"] > rows["tiny"]["token_share"]
    # alpha=1: proportional mixing (pow branch)
    prop = {r["source"]: r for r in temperature_weights(agg, alpha=1.0).collect()}
    for s, r in prop.items():
        assert abs(r["sample_weight"] - r["token_share"]) <= 2e-6
        assert abs(r["upsample_factor"] - 1.0) <= 2e-6


def test_mixture_materialize_repeats_and_thins(spark):
    """Materialized epoch: per-group copy counts land within 1 doc of
    n_docs × f (hash-fraction rounding), low-resource groups gain
    copies, dominant ones lose, and the epoch is deterministic."""
    from pyspark.sql import functions as F

    from hive_scripts_spark.functions.canonical import (
        mixture_materialize,
        temperature_weights,
    )

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 900, "big").otherwise("tiny").alias("source"),
    )
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # tokens proportional to docs: share big=0.9 tiny=0.1
        (F.count(F.lit(1)) * 10).cast("bigint").alias("total_tokens"),
    )
    w = temperature_weights(agg)
    out = mixture_materialize(docs, w)
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    f = {r["source"]: r["upsample_factor"] for r in w.collect()}
    for s, n_docs in (("big", 900), ("tiny", 100)):
        assert abs(counts[s] - n_docs * f[s]) <= 0.05 * n_docs * f[s] + 1, s
    assert counts["big"] < 900 and counts["tiny"] > 100
    # per-doc copy numbering is contiguous from 1
    bad = out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("copy_no").alias("mx")
    ).where("n != mx").count()
    assert bad == 0
    # deterministic: a second run is byte-identical
    again = mixture_materialize(docs, w)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_hashed_linear_score_replays_in_python(spark):
    """Portable bucket + sequential fold must replay exactly in pure
    python (the same property the DuckDB oracle relies on); empty docs
    are excluded; the xxhash64 production variant scores the same docs
    (different buckets, same shape)."""
    import hashlib

    from hive_scripts_spark.operators.textstats import hashed_linear_score

    W = [0.5, -0.25, 0.125, -1.0, 0.75, -0.5, 0.0625, -0.125]
    docs = spark.createDataFrame(
        [(0, "aa bb  aa"), (1, "   "), (2, "zz")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["quality_logit"])
        for r in hashed_linear_score(docs, W).collect()
    }
    assert set(out) == {0, 2}  # blank doc excluded
    for did, text in ((0, ["aa", "bb", "aa"]), (2, ["zz"])):
        acc = 0.0
        for t in text:
            b = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % len(W)
            acc += W[b]
        assert out[did] == (len(text), round(acc / len(text), 6)), did
    prod = {
        r["doc_id"]: r["n_tokens"]
        for r in hashed_linear_score(docs, W, portable=False).collect()
    }
    assert prod == {0: 3, 2: 1}


def test_corpus_ngram_topk_counts_and_tiebreak(spark):
    """Known repeats: 'a b c' appears in 3 docs (4 occurrences), 'b c d'
    in 1 doc twice; singleton grams are cut by min_total."""
    from hive_scripts_spark.operators.textstats import corpus_ngram_topk

    docs = spark.createDataFrame(
        [
            (0, "a b c d"),          # grams: 'a b c', 'b c d'
            (1, "a b c"),            # 'a b c'
            (2, "x a b c y"),        # 'x a b', 'a b c', 'b c y'
            (3, "b c d e b c d"),    # 'b c d' x2 (+ others once)
            (4, "zz"),               # too short — no grams
        ],
        "doc_id long, text string",
    )
    out = {
        r["ngram"]: (r["n_total"], r["n_docs"])
        for r in corpus_ngram_topk(docs, n=3, k=10, min_total=2).collect()
    }
    assert out["a b c"] == (3, 3)
    assert out["b c d"] == (3, 2)  # 2 in doc 3 + 1 in doc 0
    assert all(t >= 2 for t, _ in out.values())
    # deterministic top-k set: ordering ties broken by gram string
    ranked = [
        r["ngram"]
        for r in corpus_ngram_topk(docs, n=3, k=1, min_total=2).collect()
    ]
    assert ranked == ["a b c"]  # 3-vs-3 tie with 'b c d' → lexical win


def test_quality_gate_report_math(spark):
    """One positive-weight token ('good'), one negative ('bad'): per-source
    keep/drop counts and the exact-decimal mean must follow."""
    from hive_scripts_spark.operators.textstats import (
        hashed_linear_score,
        quality_gate_report,
    )

    docs = spark.createDataFrame(
        [
            (0, "s1", "good good"),
            (1, "s1", "bad"),
            (2, "s2", "good bad"),
        ],
        "doc_id long, source string, text string",
    )
    weights = [0.5 if i % 2 == 0 else -0.25 for i in range(64)]
    scored = {
        r["doc_id"]: r["quality_logit"]
        for r in hashed_linear_score(docs, weights).collect()
    }
    rep = {
        r["source"]: (r["n_keep"], r["n_drop"], r["keep_frac"], r["mean_logit"])
        for r in quality_gate_report(docs, weights).collect()
    }
    for src in ("s1", "s2"):
        ids = {0: "s1", 1: "s1", 2: "s2"}
        logits = [v for k, v in scored.items() if ids[k] == src]
        n_keep = sum(1 for v in logits if v > 0)
        assert rep[src][0] == n_keep
        assert rep[src][1] == len(logits) - n_keep
        assert rep[src][3] == round(sum(logits) / len(logits), 6)


def test_hashed_linear_score_keep_cols(spark):
    from hive_scripts_spark.operators.textstats import hashed_linear_score

    docs = spark.createDataFrame(
        [(0, "s1", "hello world")], "doc_id long, source string, text string"
    )
    row = hashed_linear_score(docs, [0.1] * 64, keep_cols=["source"]).collect()[0]
    assert row["source"] == "s1" and row["n_tokens"] == 2


def test_pii_redact_text_and_count(spark):
    from hive_scripts_spark.operators.textstats import pii_redact

    docs = spark.createDataFrame(
        [
            (0, "mail me at a.b+c@example.org or call 12345 now"),
            (1, "clean text only"),
            (2, "cards 1234 5678 and x@y.io"),
            # digits INSIDE a matched email: one substitution, count 1
            # (n_redactions reconciles against markers in the output)
            (3, "write user1234@example.com today"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_redact(docs).collect()}
    assert out[0]["text_redacted"] == "mail me at <EMAIL> or call <NUM> now"
    assert out[0]["n_redactions"] == 2
    assert out[1]["text_redacted"] == "clean text only"
    assert out[1]["n_redactions"] == 0
    assert out[2]["text_redacted"] == "cards <NUM> <NUM> and <EMAIL>"
    assert out[2]["n_redactions"] == 3
    assert out[3]["text_redacted"] == "write <EMAIL> today"
    assert out[3]["n_redactions"] == 1


def test_length_profile_percentiles(spark):
    from hive_scripts_spark.operators.textstats import length_profile

    docs = spark.createDataFrame(
        [
            (0, "s1", "a"),              # 1 token
            (1, "s1", "a b"),            # 2
            (2, "s1", "a b c"),          # 3
            (3, "s1", "a b c d"),        # 4
            (4, "s2", "a b c d e"),      # 5
            (5, "s2", ""),               # empty — excluded
        ],
        "doc_id long, source string, text string",
    )
    out = {r["source"]: r for r in length_profile(docs).collect()}
    assert out["s1"]["n_docs"] == 4
    assert out["s1"]["p50_tokens"] == 2.5  # continuous interpolation
    assert out["s1"]["p90_tokens"] == 3.7  # 1 + 0.9*3 interpolated
    assert (out["s1"]["min_tokens"], out["s1"]["max_tokens"]) == (1, 4)
    assert out["s2"]["n_docs"] == 1 and out["s2"]["p50_tokens"] == 5.0


def test_compression_signal(spark):
    import zlib

    from hive_scripts_spark.operators.textstats import compression_signal

    repetitive = "spam and eggs " * 200
    normal = "The five boxing wizards jump quickly over the lazy brown dog."
    rows = [(0, repetitive), (1, normal), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in compression_signal(df).collect()}
    for did, text in rows:
        raw = text.encode("utf-8")
        assert out[did]["n_bytes"] == len(raw)
        assert out[did]["n_bytes_zlib"] == len(zlib.compress(raw, 6))
    assert out[2]["compression_ratio"] is None  # empty doc
    assert out[0]["compression_ratio"] == round(
        out[0]["n_bytes"] / out[0]["n_bytes_zlib"], 6
    )
    # the signal separates: templated text compresses far better
    assert out[0]["compression_ratio"] > 3 * out[1]["compression_ratio"]


def test_html_to_text_extraction(spark):
    """HTML→text: scripts/styles drop, entities decode, block tags
    become line boundaries, title and link count extract, tag soup
    degrades instead of failing."""
    from hive_scripts_spark.operators import textstats as X

    page = (
        "<html><head><title>My  Page</title>"
        "<style>body { color: red }</style></head>"
        "<body><h1>Header</h1>"
        "<script>var x = '<p>not text</p>';</script>"
        "<p>First&nbsp;para with <a href='/x'>a link</a> &amp; more</p>"
        "<div>Second<br>block</div>"
        "<noscript>enable js</noscript>"
        "</body></html>"
    )
    soup = "<div><p>unclosed <b>bold <a href='y'>link"
    df = spark.createDataFrame(
        [(1, page), (2, soup), (3, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in X.html_to_text(df).collect()}
    assert out[1]["title"] == "My Page"
    # &nbsp; decodes to U+00A0, which the whitespace collapse folds
    # into a plain space like any other whitespace
    assert out[1]["text"].split("\n") == [
        "Header",
        "First para with a link & more",
        "Second",
        "block",
    ]
    assert out[1]["n_links"] == 1
    assert out[2]["text"] == "unclosed bold link"
    assert out[2]["n_links"] == 1
    assert out[3]["text"] is None and out[3]["n_links"] is None


def test_html_to_text_chains_from_warc(spark, tmp_path):
    """The full crawl chain: WARC shard -> HTTP split -> HTML body ->
    extracted text ready for the documents pipeline."""
    import gzip

    from hive_scripts_spark.sources.warc import warc_ingest_documents
    from hive_scripts_spark.operators import textstats as X
    from tests.test_warc import _http, _record

    body = b"<html><title>T</title><p>real content here</p></html>"
    rec = _record("response", _http(body), uri="https://x/p", rec_id="c1")
    (tmp_path / "c.warc.gz").write_bytes(gzip.compress(rec))
    docs = warc_ingest_documents(spark, str(tmp_path))
    out = X.html_to_text(docs).collect()
    assert len(out) == 1
    assert out[0]["title"] == "T"
    assert out[0]["text"] == "real content here"


def test_html_to_text_soup_guards(spark):
    """Self-review r14 guards: unclosed <title> must not swallow the
    page; td/th are word boundaries; source line wraps are not page
    lines; links in dropped subtrees don't count."""
    from hive_scripts_spark.operators import textstats as X

    cases = [
        # unclosed title (no </title>) — common tag soup
        (1, "<head><title>Foo<body><p>page text</p>"),
        # table cells must not concatenate into 'Name42'
        (2, "<table><tr><td>Name</td><td>42</td></tr></table>"),
        # author's editor wrapped the paragraph: one page line
        (3, "<p>hello\nworld</p>"),
        # noscript link is not reader-visible content
        (4, "<noscript><a href='x'>enable</a></noscript>"
            "<p>body <a href='y'>real</a></p>"),
    ]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    out = {r["doc_id"]: r for r in X.html_to_text(df).collect()}
    assert out[1]["title"] == "Foo"
    assert out[1]["text"] == "page text"
    assert out[2]["text"].split("\n") == ["Name", "42"]
    assert out[3]["text"] == "hello world"
    assert out[4]["n_links"] == 1
    assert out[4]["text"] == "body real"


def test_html_first_title_only(spark):
    """Only the FIRST <title> is document metadata — inline-SVG icon
    labels are body content and must not pollute the title or vanish
    from the text."""
    from hive_scripts_spark.operators import textstats as X

    page = (
        "<title>Home</title><body>"
        "<svg><title>menu icon</title></svg><p>content</p>"
    )
    out = X.html_to_text(
        spark.createDataFrame([(1, page)], "doc_id long, text string")
    ).collect()[0]
    assert out["title"] == "Home"
    assert "menu icon" in out["text"] and "content" in out["text"]


def test_html_empty_first_title_does_not_shadow(spark):
    """An empty or tag-interrupted first <title> must not lock out a
    later real title (fourth-pass review regression)."""
    from hive_scripts_spark.operators import textstats as X

    df = spark.createDataFrame(
        [(1, "<title></title><body><title>Real Title</title><p>x</p>")],
        "doc_id long, text string",
    )
    out = X.html_to_text(df).collect()[0]
    assert out["title"] == "Real Title"


def test_html_to_text_keep_cols_ride_the_batch(spark):
    """keep_cols pass crawl metadata through the extraction batch
    (the warc CLI chain needs uri/source downstream; a re-join on
    doc_id would shuffle the corpus); name clashes raise."""
    import pytest

    df = spark.createDataFrame(
        [(1, "<p>hi</p>", "https://a.example/x", 200)],
        "doc_id long, text string, uri string, http_status int",
    )
    out = X.html_to_text(df, keep_cols=["uri", "http_status"]).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["text"], r["uri"], r["http_status"]) == (
        "hi", "https://a.example/x", 200
    )
    assert set(out[0].asDict()) == {
        "doc_id", "uri", "http_status", "title", "text", "n_links"
    }
    with pytest.raises(ValueError, match="keep_cols duplicate"):
        X.html_to_text(df, keep_cols=["text"])
    # r16 ADVICE: missing keep_cols raise a descriptive ValueError
    # naming the column (not a raw KeyError from the dtypes lookup),
    # and casing resolves like the rest of the module
    # (spark.sql.caseSensitive=false)
    with pytest.raises(ValueError, match=r"keep_cols \['nope'\] not in"):
        X.html_to_text(df, keep_cols=["nope"])
    with pytest.raises(ValueError, match="keep_cols duplicate"):
        X.html_to_text(df, keep_cols=["TEXT"])  # clash check is ci too
    miscased = X.html_to_text(df, keep_cols=["URI"]).collect()[0]
    assert miscased["uri"] == "https://a.example/x"
    # r17 ADVICE: id_col/html_col resolve through the same
    # case-insensitive map with the same descriptive error (a miscased
    # id_col used to raise a raw KeyError from the dtypes lookup)
    miscased_id = X.html_to_text(
        df, html_col="TEXT", id_col="DOC_ID", keep_cols=["uri"]
    ).collect()[0]
    assert (miscased_id["doc_id"], miscased_id["text"]) == (1, "hi")
    with pytest.raises(ValueError, match=r"id_col 'nope' not in"):
        X.html_to_text(df, id_col="nope")
    with pytest.raises(ValueError, match=r"html_col 'nah' not in"):
        X.html_to_text(df, html_col="nah")


def test_html_to_text_case_colliding_schema_rejected(spark):
    """r17 ADVICE: two input columns differing only by case (possible
    under spark.sql.caseSensitive=true) make the lowercase resolution
    map ambiguous — raise instead of silently binding to the last
    one."""
    base = spark.createDataFrame(
        [(1, "<p>hi</p>", "x")], "doc_id long, text string, uri string"
    )
    df = base.withColumnRenamed("uri", "TEXT")
    with pytest.raises(ValueError, match="differing only by case"):
        X.html_to_text(df)


def test_html_to_text_unrelated_case_duplicate_allowed(spark):
    """r18 ADVICE: a case-duplicate pair among columns NEVER referenced
    by id_col/html_col/keep_cols never enters the Arrow batch — the
    guard must not reject the call (it used to raise on ANY pair)."""
    base = spark.createDataFrame(
        [(1, "<p>hi</p>", "x", "y")],
        "doc_id long, text string, extra string, other string",
    )
    df = base.withColumnRenamed("other", "EXTRA")
    row = X.html_to_text(df).collect()[0]
    assert (row["doc_id"], row["text"]) == (1, "hi")


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_rolling_planted_margin(sf_dir):
    """x_doc_rolling_hash_planted's md5-join closed form leans on one
    data property: no two distinct docs share identical normalized text
    (else their cross pairs would join the output)."""
    from hive_scripts_spark.plans.extension_queries import _NORM
    from hive_scripts_spark.plans.oracle_helpers import duck_views

    con = duck_views(sf_dir)
    try:
        n, d = con.sql(
            f"select count(*), count(distinct md5({_NORM})) from documents"
        ).fetchone()
        assert n == d, f"{n - d} duplicate normalized texts"
    finally:
        con.close()
