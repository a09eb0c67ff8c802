"""Property tests (SURVEY §5.4): fingerprint invariance under reordering
and repartitioning; deterministic-sample stability; config round-trips.

Hypothesis drives the row content; Spark jobs are kept small (one
settings profile with few examples) since each example is a Spark job.
"""

import hashlib

from hypothesis import HealthCheck, given, settings, strategies as st

from hive_scripts_spark.config import JobConfig, parse_sections
from hive_scripts_spark.functions.canonical import (
    FINGERPRINT_MOD,
    deterministic_sample,
    table_fingerprint,
)

SMALL = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**9),
        st.one_of(st.none(), st.text(max_size=12)),
        st.one_of(
            st.none(),
            st.floats(
                allow_nan=False, allow_infinity=False, min_value=-1e9, max_value=1e9
            ),
        ),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: r[0],
)


@SMALL
@given(rows=rows_strategy, seed=st.integers(0, 2**16))
def test_fingerprint_invariant_under_layout(spark, rows, seed):
    import random

    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    a = spark.createDataFrame(rows, "id long, s string, x double").repartition(3)
    b = spark.createDataFrame(shuffled, "id long, s string, x double").repartition(7)
    fa = table_fingerprint(a).collect()[0]
    fb = table_fingerprint(b).collect()[0]
    assert fa["fingerprint"] == fb["fingerprint"]
    assert fa["row_count"] == fb["row_count"] == len(rows)
    assert 0 <= fa["fingerprint"] < FINGERPRINT_MOD


@SMALL
@given(rows=rows_strategy)
def test_fingerprint_changes_on_any_mutation(spark, rows, ):
    df = spark.createDataFrame(rows, "id long, s string, x double")
    base = table_fingerprint(df).collect()[0]["fingerprint"]
    mutated_rows = [(rows[0][0], "MUTATED-VALUE-XYZ", rows[0][2])] + rows[1:]
    if mutated_rows[0][1] == rows[0][1]:
        return
    mutated = spark.createDataFrame(mutated_rows, "id long, s string, x double")
    assert table_fingerprint(mutated).collect()[0]["fingerprint"] != base


@SMALL
@given(rows=rows_strategy, frac=st.sampled_from([0.1, 0.3, 0.7]))
def test_sample_deterministic_and_subset(spark, rows, frac):
    df = spark.createDataFrame(rows, "id long, s string, x double")
    s1 = {r["id"] for r in deterministic_sample(df, ["id"], frac).select("id").collect()}
    s2 = {
        r["id"]
        for r in deterministic_sample(df.repartition(5), ["id"], frac)
        .select("id")
        .collect()
    }
    assert s1 == s2  # layout-independent
    all_ids = {r[0] for r in rows}
    assert s1 <= all_ids
    # monotone: a larger fraction contains the smaller one
    s_big = {
        r["id"] for r in deterministic_sample(df, ["id"], 1.0).select("id").collect()
    }
    assert s1 <= s_big and s_big == all_ids


@given(
    keys=st.dictionaries(
        st.text(
            alphabet=st.characters(whitelist_categories=("Lu", "Ll")), min_size=1, max_size=8
        ),
        st.text(
            alphabet=st.characters(blacklist_characters="[]\r\n:", blacklist_categories=("Cs",)),
            max_size=12,
        ),
        max_size=6,
    )
)
@settings(max_examples=50, deadline=None)
def test_config_section_roundtrip(keys):
    body = "\n".join(f"{k}:{v}" for k, v in keys.items())
    text = f"[S]\n{body}\n[END]\n"
    sections = parse_sections(text)
    parsed = dict(
        tuple(line.split(":", 1)) if ":" in line else (line, "")
        for line in sections.get("S", [])
    )
    for k, v in keys.items():
        assert parsed.get(k.strip(), "").strip() == v.strip()


# --- repetition fold vs pure-Python counter (differential property) ---

docs_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "dd", "e1"]), min_size=0, max_size=24
    ),
    min_size=1,
    max_size=6,
)


@SMALL
@given(docs=docs_strategy)
def test_repetition_fold_matches_counter(spark, docs):
    """The zero-shuffle RLE fold must agree with an explicit Counter
    over 2-grams for arbitrary token sequences."""
    from collections import Counter

    from hive_scripts_spark.operators.textstats import repetition_signals

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    for i, toks in enumerate(docs):
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        if len(grams) == 0:
            assert i not in got
            continue
        c = Counter(grams)
        r = got[i]
        assert r["n_grams"] == len(grams)
        assert r["n_distinct"] == len(c)
        assert r["dup_gram_frac"] == (len(grams) - len(c)) / len(grams)
        assert r["top_gram_frac"] == max(c.values()) / len(grams)


@settings(max_examples=200, deadline=None)
@given(
    s=st.text(max_size=40).filter(lambda x: "\x00" not in x),
    seed=st.integers(0, 99),
)
def test_portable_hash60_family_cross_engine(s, seed):
    """The md5-family invariant every portable-LSH oracle rests on:
    Python hashlib, DuckDB md5, and (by the pinned construction) Spark's
    md5/conv all agree on h60 = int(md5(pre)[:15hex]) for ANY pre-image.
    Spark equality is pinned separately on samples in test_dedup (a
    Spark job per hypothesis example would be too slow); here DuckDB is
    cross-checked against hashlib exhaustively."""
    import duckdb

    pre = f"{seed}|{s}"
    want = int(hashlib.md5(pre.encode()).hexdigest()[:15], 16)
    got = duckdb.sql(
        "select cast(('0x' || substr(md5(?), 1, 15)) as bigint)", params=[pre]
    ).fetchone()[0]
    assert got == want
    assert 0 <= want < 1 << 60


@settings(max_examples=50, deadline=None)
@given(
    vec=st.lists(
        st.floats(
            allow_nan=False, allow_infinity=False, min_value=-10, max_value=10
        ),
        min_size=1,
        max_size=16,
    ),
    h=st.integers(0, 7),
)
def test_portable_hyperplane_component_formula(vec, h):
    """portable_hyperplane (the plan-literal planes) must equal the
    formula (u % 1000003)/1000003 - 0.5 applied to hashlib values —
    the exact expression the DuckDB oracle evaluates per row."""
    from hive_scripts_spark.operators.similarity import portable_hyperplane

    plane = portable_hyperplane(h, len(vec))
    for i in range(len(vec)):
        u = int(hashlib.md5(f"{h}|{i}".encode()).hexdigest()[:15], 16)
        assert plane[i] == (u % 1000003) / 1000003.0 - 0.5
    assert all(-0.5 <= c <= 0.5 for c in plane)


text_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**6),
        st.text(
            alphabet=st.sampled_from("ab \t\r"), min_size=0, max_size=24
        ),
    ),
    min_size=1,
    max_size=24,
    unique_by=lambda r: r[0],
)


@SMALL
@given(rows=text_rows, ref_mod=st.integers(min_value=2, max_value=5))
def test_cross_corpus_dedup_partition_property(spark, rows, ref_mod):
    """kept = exactly the docs whose NORMALIZED text has no match in the
    reference corpus — for any text (incl. whitespace-only variants and
    empties) and any reference slice."""
    from hive_scripts_spark.operators.dedup import cross_corpus_dedup

    df = spark.createDataFrame(rows, "doc_id long, text string")
    ref = df.where(f"doc_id % {ref_mod} = 0")
    kept = {r["doc_id"] for r in cross_corpus_dedup(df, ref).collect()}

    def norm(t):
        import re

        return re.sub(r"\s+", " ", t.replace("\r", "")).strip()

    ref_norms = {norm(t) for i, t in rows if i % ref_mod == 0}
    expect = {i for i, t in rows if norm(t) not in ref_norms}
    assert kept == expect


@SMALL
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10**9),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    val=st.integers(min_value=0, max_value=20),
    test=st.integers(min_value=0, max_value=20),
)
def test_train_val_test_split_total_property(spark, ids, val, test):
    """Splits are exhaustive, mutually exclusive, and agree with the
    portable md5 bucket formula row-by-row for ANY (val, test) choice."""
    from hive_scripts_spark.functions.canonical import train_val_test_split

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(
            df, ["doc_id"], val_pct=val, test_pct=test
        ).collect()
    }
    assert set(out) == set(ids)
    for i in ids:
        # replay the salted key ("split" literal decorrelates the split
        # bucket from shard_by_hash over the same key — ADVICE r7)
        salted = f"split\x01{i}".encode()
        b = int(hashlib.md5(salted).hexdigest()[:15], 16) % 100
        expect = (
            "train"
            if b < 100 - val - test
            else ("val" if b < 100 - test else "test")
        )
        assert out[i] == expect, (i, b)


@SMALL
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.lists(
                st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
                min_size=0,
                max_size=8,
            ),
        ),
        min_size=2,
        max_size=16,
        unique_by=lambda r: r[0],
    ),
    bench_mod=st.integers(min_value=2, max_value=4),
    bpg=st.sampled_from([1, 4, 16]),
)
def test_bloom_prefilter_agrees_with_broadcast_path(spark, rows, bench_mod, bpg):
    """For ANY corpus (tiny word pools -> heavy gram collisions) and any
    bitset sizing down to a deliberately saturated 1 bit/gram, the
    Bloom-prefiltered decontamination must return exactly the broadcast
    path's rows — no false negatives by construction, false positives
    all dead in the verify join."""
    from hive_scripts_spark.operators.dedup import (
        bloom_contamination_overlap,
        contamination_overlap,
    )

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in rows], "doc_id long, text string"
    )
    bench = df.where(f"doc_id % {bench_mod} = 0")
    corpus = df.where(f"doc_id % {bench_mod} != 0")
    plain = {
        (r["doc_id"], r["n_shared_grams"])
        for r in contamination_overlap(corpus, bench).collect()
    }
    bloomed = {
        (r["doc_id"], r["n_shared_grams"])
        for r in bloom_contamination_overlap(
            corpus, bench, bits_per_gram=bpg, num_hashes=2
        ).collect()
    }
    assert bloomed == plain


@SMALL
@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-4, max_value=4, allow_nan=False, width=32),
            min_size=8,
            max_size=8,
        ),
        min_size=3,
        max_size=10,
    ),
    k=st.integers(min_value=1, max_value=3),
)
def test_pq_encode_matches_python_replay(spark, vecs, k):
    """pq_encode vs a pure-python replay (same sequential float64 folds,
    same 6dp rounding, same lowest-index tiebreak) for arbitrary small
    vectors and codebooks drawn from the first k vectors — m=2
    subspaces of 4 dims."""
    from hive_scripts_spark.operators.similarity import pq_encode

    m, d = 2, 4
    books = [
        [[float(v[s * d + t]) for t in range(d)] for v in vecs[:k]]
        for s in range(m)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["pq_codes"], r["pq_err"])
        for r in pq_encode(df, books).collect()
    }
    for i, v in enumerate(vecs):
        codes, err = [], 0.0
        for s in range(m):
            best = None
            for j, c in enumerate(books[s]):
                acc = 0.0
                for t in range(d):
                    diff = float(v[s * d + t]) - c[t]
                    acc += diff * diff
                acc = round(acc, 6)
                if best is None or (acc, j) < best:
                    best = (acc, j)
            codes.append(str(best[1]))
            err += best[0]
        assert got[i] == (",".join(codes), round(err, 6)), i


@SMALL
@given(
    toks=st.lists(
        st.integers(min_value=1, max_value=10**7), min_size=1, max_size=8
    ),
)
def test_temperature_weights_replay_property(spark, toks):
    """The whole weights chain (share → sqrt → 6dp round → decimal sum
    → weight → upsample) must replay in pure python for ANY token
    distribution — the cross-engine determinism contract the DuckDB
    oracle relies on.

    The replay must round HALF-UP on the double's shortest repr
    (Java BigDecimal.valueOf + setScale(6, HALF_UP) — what Spark's
    round() and DuckDB's round() both do); Python's builtin round is
    half-to-EVEN and diverges on exact .5 ties (hypothesis found
    toks=[1, 2]: upsample 0.8786805 → engines 0.878681, builtin
    0.87868 — the engines agreed with each other, the old replay was
    the odd one out)."""
    from decimal import ROUND_HALF_UP, Decimal

    from hive_scripts_spark.functions.canonical import temperature_weights

    def r6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    agg = spark.createDataFrame(
        [(f"s{i}", 1, int(t)) for i, t in enumerate(toks)],
        "source string, n_docs int, total_tokens long",
    )
    got = {r["source"]: r for r in temperature_weights(agg).collect()}

    total = sum(toks)
    share = {f"s{i}": t / float(total) for i, t in enumerate(toks)}
    sqrt_r = {s: Decimal(str(r6(v ** 0.5))) for s, v in share.items()}
    denom = float(sum(sqrt_r.values()))
    for s, v in share.items():
        w = r6(float(sqrt_r[s]) / denom)
        assert got[s]["token_share"] == r6(v), s
        assert got[s]["sample_weight"] == w, s
        assert got[s]["upsample_factor"] == r6(w / v), s


@SMALL
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.integers(min_value=0, max_value=3),  # group key: few, hot
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda r: r[0],
    ),
    k=st.integers(min_value=1, max_value=7),
    salts=st.sampled_from([1, 2, 5, 32]),
)
def test_topk_per_group_equals_window_form(spark, rows, k, salts):
    """Property (r10): the salted two-level exact top-k is bit-identical
    to the naive single-window form for ANY rows/k/salts — including
    salts=1 (degenerate: level 1 IS the window form) and groups smaller
    than k. This identity is what licenses using the window form as the
    DuckDB oracle for queries built on topk_per_group."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hive_scripts_spark.functions.skew import topk_per_group

    df = spark.createDataFrame(rows, "id long, grp int")
    order = [F.md5(F.col("id").cast("string")), F.col("id")]
    got = topk_per_group(df, ["grp"], order, k, salt_from="id", salts=salts)
    w = Window.partitionBy("grp").orderBy(*order)
    want = df.withColumn("pick_order", F.row_number().over(w)).where(
        F.col("pick_order") <= k
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


@SMALL
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),  # unique order key
            st.integers(min_value=0, max_value=2),      # group key: hot
            st.integers(min_value=0, max_value=9),      # value: many ties
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda r: r[0],
    ),
    lo=st.integers(min_value=0, max_value=30),
    span=st.integers(min_value=0, max_value=100),
)
def test_rank_trim_equals_window_form(spark, rows, lo, span):
    """Property (r12): the range-bucketed exact-rank trim is bit-
    identical to the naive single-window form for ANY rows / bounds —
    including all-ties groups (every row one bucket), bounds that trim
    nothing (0/100) or everything, and single-row groups. This
    identity is what licenses keeping the window form as the DuckDB
    oracle for x_length_trim after the r12 skew retrofit."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hive_scripts_spark.functions.canonical import rank_trim

    hi = min(100, lo + span)
    df = spark.createDataFrame(rows, "id long, grp int, val int")
    got = rank_trim(df, ["grp"], "val", "id", lo_pct=lo, hi_pct=hi)
    w = Window.partitionBy("grp").orderBy(F.col("val"), F.col("id"))
    cnt = Window.partitionBy("grp")
    want = (
        df.withColumn("__rn", F.row_number().over(w).cast("long"))
        .withColumn("__n", F.count(F.lit(1)).over(cnt))
        .where(
            (F.col("__rn") * 100 > F.col("__n") * lo)
            & (F.col("__rn") * 100 <= F.col("__n") * hi)
        )
        .drop("__rn", "__n")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_rank_trim_null_and_nan_values_match_window_form(spark):
    """Edge parity for the r12 bucketed rank_trim: NULL values bucket
    to -1 (Spark windows order NULLs FIRST asc — the prefix must put
    them ahead of every boundary bucket) and NaN buckets to the LAST
    range (Spark comparisons treat NaN as larger than any numeric, so
    `boundary < NaN` is true for every boundary — consistent with
    NaN-last sort order). Both must select exactly the rows the naive
    window form selects."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hive_scripts_spark.functions.canonical import rank_trim

    rows = [
        (i, i % 2, v)
        for i, v in enumerate(
            [None, 1.0, float("nan"), 3.0, None, 2.0, float("nan"), 0.5,
             4.0, 1.5, None, 2.5, 7.0, float("nan"), 0.0, 6.0]
        )
    ]
    df = spark.createDataFrame(rows, "id long, grp int, val double")
    got = rank_trim(df, ["grp"], "val", "id", lo_pct=15, hi_pct=85)
    w = Window.partitionBy("grp").orderBy(F.col("val"), F.col("id"))
    cnt = Window.partitionBy("grp")
    want = (
        df.withColumn("__rn", F.row_number().over(w).cast("long"))
        .withColumn("__n", F.count(F.lit(1)).over(cnt))
        .where(
            (F.col("__rn") * 100 > F.col("__n") * 15)
            & (F.col("__rn") * 100 <= F.col("__n") * 85)
        )
        .drop("__rn", "__n")
    )

    def key(r):
        return (r["id"], r["grp"], repr(r["val"]))

    assert sorted(map(key, got.collect())) == sorted(
        map(key, want.collect())
    )


def test_rank_trim_string_values_match_window_form(spark):
    """r12 ADVICE (medium): a string value_col holding numeric text
    casts to double fine but sorts lexically ('10' < '2' vs
    10.0 > 2.0), so value-derived buckets would contradict the window
    order and silently diverge from the single-window form. The fix
    gates the bucketed path on the declared dtype ordering like its
    double cast (numeric / timestamp); strings take the constant-
    bucket path and must match the window form exactly — this is the
    advisor's 15-row repro shape plus NULLs."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hive_scripts_spark.functions.canonical import rank_trim

    vals = ["2", "10", "1", "9", "100", "3", None, "20", "11", "2",
            "10", None, "05", "9", "30"]
    rows = [(i, i % 2, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, grp int, val string")
    got = rank_trim(df, ["grp"], "val", "id", lo_pct=15, hi_pct=85)
    w = Window.partitionBy("grp").orderBy(F.col("val"), F.col("id"))
    cnt = Window.partitionBy("grp")
    want = (
        df.withColumn("__rn", F.row_number().over(w).cast("long"))
        .withColumn("__n", F.count(F.lit(1)).over(cnt))
        .where(
            (F.col("__rn") * 100 > F.col("__n") * 15)
            & (F.col("__rn") * 100 <= F.col("__n") * 85)
        )
        .drop("__rn", "__n")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_rank_trim_timestamp_values_match_window_form(spark):
    """Timestamps stay on the bucketed path (epoch-seconds double cast
    orders like the raw column) and must still match the window form."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hive_scripts_spark.functions.canonical import rank_trim

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, i % 2, base + dt.timedelta(minutes=(i * 37) % 23))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, grp int, val timestamp")
    got = rank_trim(df, ["grp"], "val", "id", lo_pct=10, hi_pct=90)
    w = Window.partitionBy("grp").orderBy(F.col("val"), F.col("id"))
    cnt = Window.partitionBy("grp")
    want = (
        df.withColumn("__rn", F.row_number().over(w).cast("long"))
        .withColumn("__n", F.count(F.lit(1)).over(cnt))
        .where(
            (F.col("__rn") * 100 > F.col("__n") * 10)
            & (F.col("__rn") * 100 <= F.col("__n") * 90)
        )
        .drop("__rn", "__n")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_chunked_shares_the_sessionize_oracle():
    """The chunked escalation is checked against the same oracle as the
    single-window form: the two plans must give the same answer."""
    from hive_scripts_spark.plans.registry import ORACLES

    assert (
        ORACLES["x_events_sessionize_chunked"] == ORACLES["x_events_sessionize"]
    )


def test_sessionize_chunked_bit_identical(spark):
    """r13 (VERDICT r12 item 6): the time-chunked sessionize escalation
    (chunk-local gap merge -> boundary-session stitch -> renumber) must
    return BIT-identical rows to the single-window form for any
    chunk_hours — including chunks smaller than the gap (chains through
    empty chunks), sessions spanning many chunks, ts ties broken by
    event_id, and single-event users."""
    import datetime as dt

    from hive_scripts_spark.operators.sessions import sessionize_events

    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0

    def ev(user, minutes):
        nonlocal eid
        rows.append((eid, user, base + dt.timedelta(minutes=minutes)))
        eid += 1

    # user 0: a continuous stream spanning 6 hours (events every 10
    # min) — ONE session crossing many 1h/0.25h chunk boundaries
    for m in range(0, 360, 10):
        ev(0, m)
    # user 1: bursts separated by > gap, some straddling hour marks
    for start in (0, 55, 170, 171, 400):
        for k in range(4):
            ev(1, start + k * 5)
    # user 2: single event; user 3: two events exactly gap apart
    # (30 min -> same session: the > test) and two beyond
    ev(2, 42)
    ev(3, 0)
    ev(3, 30)
    ev(3, 61)
    # ts ties broken by event_id within a chunk
    ev(4, 10)
    ev(4, 10)
    df = spark.createDataFrame(
        rows, "event_id long, user_id int, ts timestamp"
    )
    want = sorted(map(tuple, sessionize_events(df).collect()))
    for chunk_hours in (0.25, 1, 2, 24):
        got = sorted(
            map(tuple, sessionize_events(df, chunk_hours=chunk_hours).collect())
        )
        assert got == want, f"chunk_hours={chunk_hours}"


@SMALL
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),  # unique event id
            st.integers(min_value=0, max_value=2),      # user (0 hot-ish)
            st.integers(min_value=0, max_value=6000),   # minutes offset
        ),
        min_size=1,
        max_size=50,
        unique_by=lambda r: r[0],
    ),
    chunk_hours=st.sampled_from([0.25, 1, 5]),
)
def test_sessionize_chunked_property(spark, rows, chunk_hours):
    """Property (r13): ANY event shape — duplicate timestamps, users
    with one event, gaps straddling or exactly at chunk boundaries —
    sessionizes identically through the chunked path."""
    import datetime as dt

    from hive_scripts_spark.operators.sessions import sessionize_events

    base = dt.datetime(2024, 3, 1)
    data = [
        (eid, u, base + dt.timedelta(minutes=m)) for eid, u, m in rows
    ]
    df = spark.createDataFrame(
        data, "event_id long, user_id int, ts timestamp"
    )
    want = sorted(map(tuple, sessionize_events(df).collect()))
    got = sorted(
        map(tuple, sessionize_events(df, chunk_hours=chunk_hours).collect())
    )
    assert got == want


def test_sessionize_chunked_bit_identical_random(spark):
    """Randomized cross-check of the chunked sessionize on a denser
    shape: 2k events, 5 users (one hot), pseudo-random inter-arrival
    times around the 30-min gap so boundary merges actually fire."""
    import datetime as dt

    from hive_scripts_spark.operators.sessions import sessionize_events

    base = dt.datetime(2024, 3, 1)
    rows = []
    clock = [0] * 5
    for i in range(2000):
        u = 0 if i % 3 == 0 else (i % 5)  # user 0 is hot
        # deterministic pseudo-noise: jumps of 1..70 min, occasionally
        # exactly the 30-min gap
        step = (i * 37) % 71 + 1
        if i % 13 == 0:
            step = 30
        clock[u] += step
        rows.append((i, u, base + dt.timedelta(minutes=clock[u])))
    df = spark.createDataFrame(
        rows, "event_id long, user_id int, ts timestamp"
    )
    want = sorted(map(tuple, sessionize_events(df).collect()))
    for chunk_hours in (0.5, 3):
        got = sorted(
            map(tuple, sessionize_events(df, chunk_hours=chunk_hours).collect())
        )
        assert got == want, f"chunk_hours={chunk_hours}"


def test_rank_trim_broadcast_escape_hatch_identical(spark):
    """broadcast_stats=False (the millions-of-groups escape hatch)
    must select exactly the same rows as the default broadcast form —
    the hint is physical only."""
    from hive_scripts_spark.functions.canonical import rank_trim

    rows = [(i, i % 3, (i * 37) % 11) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, grp int, val int")
    a = rank_trim(df, ["grp"], "val", "id", lo_pct=10, hi_pct=90)
    b = rank_trim(
        df, ["grp"], "val", "id", lo_pct=10, hi_pct=90,
        broadcast_stats=False,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------------------
# sketch algebra (r14): merge exactness over ARBITRARY splits
# ---------------------------------------------------------------------------

_sketch_rows = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
        max_size=10,
    ),
    min_size=1,
    max_size=60,
)


@SMALL
@given(rows=_sketch_rows, cut=st.integers(0, 59), k=st.sampled_from([4, 16]))
def test_kmv_merge_exact_over_any_split(spark, rows, cut, k):
    """KMV merge of ANY two-way split == whole-input sketch — the
    theorem that makes per-partition sketches compose incrementally,
    over hypothesis-driven content (unicode, dupes, empties)."""
    from hive_scripts_spark.operators import sketches as SK

    cut = min(cut, len(rows))
    left = spark.createDataFrame([(v,) for v in rows[:cut]], "k string")
    right = spark.createDataFrame([(v,) for v in rows[cut:]], "k string")
    whole = spark.createDataFrame([(v,) for v in rows], "k string")
    merged = SK.kmv_merge(
        [SK.kmv_sketch(left, ["k"], k=k), SK.kmv_sketch(right, ["k"], k=k)],
        k=k,
    )
    direct = SK.kmv_sketch(whole, ["k"], k=k)
    assert sorted(r["kmv_hash"] for r in merged.collect()) == sorted(
        r["kmv_hash"] for r in direct.collect()
    )


@SMALL
@given(
    vals=st.lists(
        st.floats(
            allow_nan=False, allow_infinity=False, min_value=-1e9, max_value=1e9
        ),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    digits=st.sampled_from([1, 2, 3]),
)
def test_digit_hist_bucket_contains_its_value(spark, vals, digits):
    """Every value lands in a bucket whose numeric range actually
    CONTAINS it (within the decimal-cast floor), and the bucket
    midpoint is within the published relative error for values above
    the scale floor — checked per raw value, not per bucket, so a
    wrong decade/sub mapping cannot pass."""
    from hive_scripts_spark.operators import sketches as SK

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "rid long, v double")
    by_id = {
        r["rid"]: (r["sign"], r["decade"], r["sub"])
        for r in SK.digit_hist_grouped(df, ["rid"], "v", digits=digits).collect()
    }
    assert len(by_id) == len(vals)
    tol = 0.5 * 10.0 ** (1 - digits) + 1e-9
    eps = 10.0 ** -6  # the decimal(38,6) cast quantum
    for rid, v in rows:
        sign, decade, sub = by_id[rid]
        if abs(v) < 4e-7:
            # quantizes to decimal 0.000000: the zero bucket (the
            # falsified first draft assumed nonzero doubles keep their
            # sign — a subnormal 2e-311 does not survive the cast)
            assert (sign, decade, sub) == (0, 0, 0)
            continue
        if abs(v) < 1e-5:
            continue  # inside the cast's rounding gray zone
        assert sign == (1 if v > 0 else -1)
        lo = sub * 10.0 ** (decade - digits - 6)
        hi = (sub + 1) * 10.0 ** (decade - digits - 6)
        assert lo - eps <= abs(v) <= hi + eps, (v, sign, decade, sub)
        mid = (sub + 0.5) * 10.0 ** (decade - digits - 6)
        if abs(v) >= 10.0 ** (digits - 6):  # above the resolution floor
            assert abs(mid - abs(v)) / abs(v) <= tol + 2 * eps / abs(v)
