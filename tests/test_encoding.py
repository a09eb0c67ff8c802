"""Tests for the mojibake repair operator (`operators/encoding.py`).

The pure fixer (`build_fix_fn()` — the exact nested function worker
closures capture) is pinned on hand-built cases plus a hypothesis
round-trip property (clean text mangled through Latin-1/cp1252 must
recover exactly); the Spark form is checked end-to-end with the flag
column and a zero-exchange plan assert.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hive_scripts_spark.operators.encoding import (
    build_fix_fn,
    fix_mojibake,
)

fix = build_fix_fn()


# ---------------------------------------------------------------------------
# pure fixer
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "mangled,clean",
    [
        ("cafÃ©", "café"),  # C3 A9 read as latin-1/cp1252
        ("â€™tis the â€œquoteâ€\x9d", "’tis the “quote”"),
        ("emâ€”dash â€“ en", "em—dash – en"),
        ("10Â°C Â± 2", "10°C ± 2"),
        ("cafÃƒÂ©", "café"),  # double-encoded, needs two passes
        ("Ã¼ber naÃ¯ve", "über naïve"),
        ("æ\x97¥æ\x9c¬èª\x9e", "日本語"),  # 3-byte leads via latin-1
    ],
)
def test_known_mojibake_repairs(mangled, clean):
    assert fix(mangled) == clean


@pytest.mark.parametrize(
    "text",
    [
        "",
        "plain ascii",
        "clean café, naïve, São Paulo — ok",
        "日本語のテキスト",
        "emoji 🙂 stays",
        "mixed 日本語 and café",
        "résumé déjà vu",
    ],
)
def test_clean_text_unchanged(text):
    assert fix(text) == text


def test_none_and_non_text_pass_through():
    assert fix(None) is None


@pytest.mark.parametrize(
    "mangled,clean",
    [
        # r15 ADVICE: a single emoji/CJK char anywhere used to block
        # the whole-string re-encode, silently keeping the mojibake;
        # the repair is now segment-wise (the ftfy behavior)
        ("🙂 cafÃ©", "🙂 café"),
        ("cafÃ© 🙂 naÃ¯ve", "café 🙂 naïve"),
        ("日本語 â€” and emâ€”dash", "日本語 — and em—dash"),
        ("🙂Ã©🙂", "🙂é🙂"),  # no separator: runs split AT the emoji
        ("clean 🙂 and â€œquotedâ€\x9d", "clean 🙂 and “quoted”"),
        # double-encoded beside an emoji still unstacks both passes
        ("🙂 cafÃƒÂ©", "🙂 café"),
    ],
)
def test_mixed_docs_repair_segmentwise(mangled, clean):
    assert fix(mangled) == clean


def test_mixed_doc_repair_is_idempotent():
    once = fix("🙂 cafÃƒÂ© â€” 日本語 end")
    assert fix(once) == once


def test_invalid_utf8_suspect_unchanged():
    # 'Ã' + continuation-class char that does NOT reassemble into
    # valid UTF-8 (lead byte with a non-continuation follower)
    s = "ÃÀx"  # bytes C3 C0 78 — C0 is not a continuation byte
    assert fix(s) == s


def test_fix_is_idempotent():
    once = fix("cafÃƒÂ© â€” end")
    assert fix(once) == once


def test_accept_requires_strict_improvement():
    # a single stray suspicious pair whose "fix" produces another
    # suspicious-looking string must not loop or change badness-equal
    # text; idempotence on the output is the contract
    s = "weird Â control"
    out = fix(s)
    assert fix(out) == out


_ALPHABET = "abc XYZ 0.9,!?éüñç—’…日本ß€™"


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=_ALPHABET, max_size=40))
def test_latin1_mangle_roundtrip_property(s):
    """Mangling clean text through latin-1 must recover exactly
    whenever the clean text is not itself mojibake-shaped (the
    alphabet can form rare decodable pairs like 'ss-euro' -- the
    fixer itself is the detector for that documented ambiguity)."""
    if fix(s) != s:
        return  # s already looks like mojibake: ambiguous by design
    mangled = s.encode("utf-8").decode("latin-1")
    assert fix(mangled) == s


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet=_ALPHABET, max_size=30),
    st.lists(st.sampled_from("🙂🚀🎉中文한글"), min_size=1, max_size=4),
    st.data(),
)
def test_mixed_doc_segmentwise_roundtrip_property(s, emo, data):
    """r16 segment-wise repair: clean text with non-encodable chars
    (emoji/CJK) interleaved, where only the encodable segments were
    latin-1-mangled, must recover exactly — the blocked-whole-string
    failure mode the r15 ADVICE flagged. Non-encodable insertions are
    placed at arbitrary positions; they must pass through verbatim
    while the mangled runs around them repair."""
    if fix(s) != s:
        return  # s itself mojibake-shaped: ambiguous by design
    # splice the non-encodable chars into the MANGLED text at random
    # byte-safe positions (between chars, so no mangled pair is split
    # mid-sequence — a splice inside a pair is the documented
    # unrepairable case, exercised separately)
    parts, want_parts, pos0 = [], [], 0
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(0, len(s)), min_size=len(emo), max_size=len(emo)
            )
        )
    )
    # map clean-text cut positions to mangled-text positions
    for cut, e in zip(cuts, emo):
        parts.append(s[pos0:cut].encode("utf-8").decode("latin-1"))
        parts.append(e)
        want_parts.append(s[pos0:cut])
        want_parts.append(e)
        pos0 = cut
    parts.append(s[pos0:].encode("utf-8").decode("latin-1"))
    want_parts.append(s[pos0:])
    mixed = "".join(parts)
    want = "".join(want_parts)
    if fix(want) != want:
        return  # adjacency created a mojibake-shaped clean form
    assert fix(mixed) == want


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=_ALPHABET, max_size=40))
def test_cp1252_mangle_roundtrip_property(s):
    if fix(s) != s:
        return
    try:
        mangled = s.encode("utf-8").decode("cp1252")
    except UnicodeDecodeError:
        return  # bytes hitting the five cp1252 holes
    assert fix(mangled) == s


# ---------------------------------------------------------------------------
# Spark form
# ---------------------------------------------------------------------------


def test_fix_mojibake_e2e_with_flag(spark):
    df = spark.createDataFrame(
        [
            (1, "cafÃ©"),
            (2, "already clean"),
            (3, None),
            (4, "æ\x97¥æ\x9c¬èª\x9e"),
        ],
        "doc_id int, text string",
    )
    out = fix_mojibake(df, "text", flag_col="was_mojibake")
    rows = {r["doc_id"]: (r["text"], r["was_mojibake"]) for r in out.collect()}
    assert rows == {
        1: ("café", True),
        2: ("already clean", False),
        3: (None, False),
        4: ("日本語", True),
    }


def test_fix_mojibake_out_col_keeps_original(spark):
    df = spark.createDataFrame([("cafÃ©",)], "text string")
    out = fix_mojibake(df, "text", out_col="text_fixed").collect()[0]
    assert out["text"] == "cafÃ©" and out["text_fixed"] == "café"


def test_fix_mojibake_plan_is_map_only(spark):
    df = spark.createDataFrame([("x",)], "text string")
    out = fix_mojibake(df, "text", flag_col="f")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"(?<!Reused)Exchange (hash|range|Single)", plan)
    assert plan.count("ArrowEvalPython") == 1  # the UDF runs once


def test_fix_mojibake_tmp_collision_raises(spark):
    df = spark.createDataFrame(
        [("x", 1)], "text string, __mojibake_fixed int"
    )
    with pytest.raises(ValueError, match="__mojibake_fixed"):
        fix_mojibake(df, "text", flag_col="f")


def test_fix_mojibake_collision_guards(spark):
    """r15 review pass 2: pre-existing flag/out columns must raise,
    not silently clobber earlier audit data; only the documented
    in-place overwrite of text_col itself is allowed."""
    df = spark.createDataFrame(
        [("x", True)], "text string, was_mojibake boolean"
    )
    with pytest.raises(ValueError, match="flag_col"):
        fix_mojibake(df, "text", flag_col="was_mojibake")
    with pytest.raises(ValueError, match="out_col"):
        fix_mojibake(df, "text", out_col="was_mojibake")
    with pytest.raises(ValueError, match="must differ"):
        fix_mojibake(df, "text", out_col="fixed", flag_col="fixed")
    # in-place overwrite of text_col stays allowed
    assert fix_mojibake(df, "text", out_col="text").columns == [
        "text", "was_mojibake"
    ]


def test_fix_mojibake_runs_streaming_native(spark, tmp_path):
    """Stateless projection: the repair runs under Structured
    Streaming with results BYTE-identical to batch over the same
    files — no foreachBatch needed."""
    src = tmp_path / "docs"
    spark.createDataFrame(
        [(1, "cafÃ©"), (2, "clean"), (3, "â€™quoted")],
        "doc_id int, text string",
    ).write.mode("overwrite").parquet(str(src))

    batch = sorted(
        map(
            tuple,
            fix_mojibake(
                spark.read.parquet(str(src)), "text", flag_col="fixed"
            ).collect(),
        )
    )
    stream_df = fix_mojibake(
        spark.readStream.schema("doc_id int, text string").parquet(
            str(src)
        ),
        "text",
        flag_col="fixed",
    )
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("moji_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240), "stream did not finish in time"
    got = sorted(map(tuple, spark.table("moji_stream").collect()))
    assert got == batch and len(got) == 3


# ---------------------------------------------------------------------------
# unicode hygiene: strip_invisible_col / nfc_col / clean_text
# ---------------------------------------------------------------------------

from hive_scripts_spark.operators.encoding import clean_text  # noqa: E402


def _clean_one(spark, s, form="NFC"):
    df = spark.createDataFrame([(s,)], "text string")
    return clean_text(df, "text", form=form).collect()[0]["text"]


def test_strip_invisible_characters(spark):
    s = (
        "zero\u200bwidth and bidi \u202eevil\u202c soft\u00adhyphen "
        "c1\u0085ctrl keeps\ttab\nand newline"
    )
    got = _clean_one(spark, s, form=None)
    assert got == (
        "zerowidth and bidi evil softhyphen "
        "c1ctrl keeps\ttab\nand newline"
    )


def test_line_boundary_controls_convert_not_delete(spark):
    """Bare CR / VT / FF are line-boundary-ish: deleting them would
    fuse 'line1\\rline2' into one garbage token, so they convert to
    newline; CRLF collapses to one LF first (never doubles)."""
    assert _clean_one(spark, "a\rb\x0bc\x0cd", form=None) == "a\nb\nc\nd"
    assert _clean_one(spark, "win\r\nline", form=None) == "win\nline"


def test_repair_safe_strip_leaves_latin1_range_alone(spark):
    """repair_safe mode strips only non-latin1 invisibles: C1 bytes
    are fix_mojibake's input alphabet and must survive."""
    from hive_scripts_spark.operators.encoding import strip_invisible_col

    df = spark.createDataFrame(
        [("\u200bâ\u0080\u0094x\ufeff",)], "text string"
    )
    got = df.select(
        strip_invisible_col("text", repair_safe=True).alias("t")
    ).collect()[0]["t"]
    assert got == "â\u0080\u0094x"


def test_nfc_makes_composed_and_decomposed_collide(spark):
    composed = "caf\u00e9"
    decomposed = "cafe\u0301"
    assert composed != decomposed  # distinct dedup keys before cleanup
    assert _clean_one(spark, decomposed) == composed
    assert _clean_one(spark, composed) == composed


def test_nfkc_folds_compatibility_forms(spark):
    assert _clean_one(spark, "\ufb01le", form="NFC") == "\ufb01le"
    assert _clean_one(spark, "\ufb01le", form="NFKC") == "file"


def test_clean_text_null_and_plan_shape(spark):
    df = spark.createDataFrame([(1, None), (2, "ok")], "i int, text string")
    rows = {r["i"]: r["text"] for r in clean_text(df, "text").collect()}
    assert rows == {1: None, 2: "ok"}
    # form=None: pure JVM projection, zero Python
    plan_jvm = (
        clean_text(df, "text", form=None)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan_jvm
    plan_nfc = (
        clean_text(df, "text")._jdf.queryExecution().executedPlan().toString()
    )
    assert plan_nfc.count("ArrowEvalPython") == 1


def test_nfc_col_rejects_unknown_form():
    import pyspark.sql.functions as SF

    from hive_scripts_spark.operators.encoding import nfc_col

    with pytest.raises(ValueError, match="unknown normalization form"):
        nfc_col(SF.col("x"), form="NFX")


def test_clean_text_out_col_collision(spark):
    df = spark.createDataFrame([("a", "b")], "text string, other string")
    with pytest.raises(ValueError, match="out_col"):
        clean_text(df, "text", out_col="other")


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=60))
def test_clean_is_idempotent_property(s):
    """strip + NFC reaches a fixed point in one application (pure
    function check on the UDF's row fn plus the strip regex)."""
    import re as _re
    import unicodedata

    from hive_scripts_spark.operators.encoding import _STRIP_CLASS

    strip_re = _re.compile(_STRIP_CLASS)

    def clean(x):
        x = x.replace("\r\n", "\n")
        x = _re.sub("[\x0b\x0c\x0d]", "\n", x)
        return unicodedata.normalize("NFC", strip_re.sub("", x))

    once = clean(s)
    assert clean(once) == once


def test_joiners_kept_by_default_stripped_on_request(spark):
    """ZWNJ/ZWJ are rendering-semantic (Persian, Indic, emoji ZWJ
    sequences) — kept by default, stripped only via strip_joiners."""
    farsi = "\u0645\u06cc\u200c\u062e\u0648\u0627\u0647\u0645"
    assert _clean_one(spark, farsi) == farsi
    df = spark.createDataFrame([(farsi,)], "text string")
    stripped = clean_text(df, "text", strip_joiners=True).collect()[0][
        "text"
    ]
    assert "\u200c" not in stripped and len(stripped) == len(farsi) - 1


def test_repair_safe_honors_strip_joiners(spark):
    """Joiners are outside the latin-1 repair alphabet, so the
    repair-safe pre-strip can honor strip_joiners too (pass 5: the
    flag was silently ignored in that mode)."""
    from hive_scripts_spark.operators.encoding import strip_invisible_col

    df = spark.createDataFrame(
        [("a\u200cb\u200b\u0080",)], "text string"
    )
    got = df.select(
        strip_invisible_col(
            "text", strip_joiners=True, repair_safe=True
        ).alias("t")
    ).collect()[0]["t"]
    assert got == "ab\u0080"  # joiner + ZWSP gone, C1 byte kept


def test_planted_arms_fire(spark):
    """x_clean_invisible at sf0.01: the ZWJ survives, the invisibles
    vanish, and the CR/VT arms convert to newlines instead of fusing
    words."""
    from hive_scripts_spark.plans.registry import QUERIES

    rows = {
        r["doc_id"]: r["text_clean"]
        for r in QUERIES["x_clean_invisible"](spark, "/root/testdata/sf0.01").collect()
    }
    assert rows[0] == "plain 0"
    assert rows[1] == "zwsp \u200d1"  # ZWSP/BOM gone, ZWJ kept
    assert rows[2] == "ctl 2"
    assert rows[3] == "line1\nline2\nline3 3"
    assert rows[4] == "softhyphen rlm 4"
