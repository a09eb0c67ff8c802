"""Unit + e2e tests for the RFC 9309 robots.txt politeness filter
(`operators/robots.py`).

The parser tests exercise `build_rules_fn()` — the EXACT nested
function worker closures capture — against the RFC's documented
semantics (group selection/merge, longest-match precedence, the
allow-wins tie). The Spark decision is additionally cross-checked
against an independent pure-Python regex matcher over a pattern×path
grid, and the plan is pinned join-only (no corpus exchange).
"""

from __future__ import annotations

import re

import pytest

from hive_scripts_spark.operators import robots as R

rules_for = R.build_rules_fn()


# ---------------------------------------------------------------------------
# parser: grouping + agent selection
# ---------------------------------------------------------------------------


def test_group_selection_exact_token_beats_star():
    payload = """
    User-agent: *
    Disallow: /all/
    User-agent: TrainBot
    Disallow: /train/
    """
    star = rules_for(payload, "*")
    named = rules_for(payload, "trainbot")
    assert [p for p, _, _ in star] == ["/all/%"]
    assert [p for p, _, _ in named] == ["/train/%"]


def test_star_group_is_fallback_only():
    payload = "User-agent: *\nDisallow: /x\n"
    assert rules_for(payload, "anybot") == [("/x%", 2, False)]


def test_matching_groups_merge():
    """RFC 9309 §2.2.1: multiple groups naming the same agent combine."""
    payload = """
    User-agent: a
    Disallow: /one
    User-agent: b
    Disallow: /other
    User-agent: a
    Allow: /two
    """
    got = rules_for(payload, "A")  # case-insensitive
    assert got == [("/one%", 4, False), ("/two%", 4, True)]


def test_consecutive_ua_lines_share_one_group():
    payload = """
    User-agent: a
    User-agent: b
    Disallow: /shared
    """
    assert rules_for(payload, "b") == [("/shared%", 7, False)]


def test_ua_after_rules_starts_new_group():
    payload = """
    User-agent: a
    Disallow: /first
    User-agent: a
    Disallow: /second
    """
    # two groups, both match agent a -> merged, both rules present
    assert [p for p, _, _ in rules_for(payload, "a")] == [
        "/first%",
        "/second%",
    ]


def test_rules_before_any_group_are_ignored():
    assert rules_for("Disallow: /x\nUser-agent: *\nDisallow: /y\n", "*") == [
        ("/y%", 2, False)
    ]


def test_empty_disallow_is_allow_all():
    assert rules_for("User-agent: *\nDisallow:\n", "*") == []


def test_comments_and_unknown_directives():
    payload = """
    # a comment line
    User-agent: *  # trailing comment
    Crawl-delay: 10
    Disallow: /x   # blocked
    Sitemap: https://e.com/s.xml
    """
    assert rules_for(payload, "*") == [("/x%", 2, False)]


def test_no_matching_group_means_no_rules():
    assert rules_for("User-agent: a\nDisallow: /\n", "b") == []


def test_utf8_bom_does_not_void_the_file():
    """Real robots.txt files often start with a BOM; glued to the
    first 'User-agent' it would read as an unknown directive and
    silently void every rule."""
    assert rules_for("﻿User-agent: *\nDisallow: /x\n", "*") == [
        ("/x%", 2, False)
    ]


# ---------------------------------------------------------------------------
# parser: pattern compilation
# ---------------------------------------------------------------------------


def test_like_translation_wildcard_anchor_escape():
    payload = """
    User-agent: *
    Disallow: /*.php$
    Disallow: /a_b
    Disallow: /p%q
    Allow: bare
    """
    got = rules_for(payload, "*")
    assert got == [
        ("/%.php", 7, False),  # anchored: no trailing %
        (r"/a\_b%", 4, False),  # LIKE metachar escaped
        (r"/p\%q%", 4, False),
        ("/bare%", 5, True),  # leading / prepended
    ]


def test_specificity_counts_the_anchor():
    """/a$ must outrank /a on the exact path /a (RFC most-octets)."""
    payload = "User-agent: *\nAllow: /a$\nDisallow: /a\n"
    got = {p: (s, a) for p, s, a in rules_for(payload, "*")}
    assert got["/a"] == (3, True) and got["/a%"] == (2, False)


# ---------------------------------------------------------------------------
# Spark decision
# ---------------------------------------------------------------------------

PAYLOAD = """
User-agent: *
Disallow: /private/
Allow: /private/ok
Disallow: /*.pdf$
Disallow: /dir
Allow: /dir
"""


@pytest.fixture(scope="module")
def rules(spark):
    df = spark.createDataFrame(
        [("example.com", PAYLOAD), ("empty.com", ""), ("null.com", None)],
        "host string, payload string",
    )
    return R.robots_rules(df).cache()


def _decide(spark, rules, urls):
    docs = spark.createDataFrame([(u,) for u in urls], "url string")
    out = R.apply_robots(docs, rules)
    return {r["url"]: r["robots_allowed"] for r in out.collect()}


def test_decisions_hand_computed(spark, rules):
    got = _decide(
        spark,
        rules,
        [
            "https://example.com/",
            "https://example.com/private/secret",
            "https://example.com/private/ok/page",  # longest match: allow
            "https://example.com/doc.pdf",  # anchored
            "https://example.com/doc.pdf?dl=1",  # query defeats anchor
            "https://example.com/dir/x",  # equal-length tie -> allow
            "https://empty.com/anything",  # empty robots = allow
            "https://null.com/anything",  # null payload = allow
            "https://norobots.net/anything",  # no rules row = allow
        ],
    )
    assert got == {
        "https://example.com/": True,
        "https://example.com/private/secret": False,
        "https://example.com/private/ok/page": True,
        "https://example.com/doc.pdf": False,
        "https://example.com/doc.pdf?dl=1": True,
        "https://example.com/dir/x": True,
        "https://empty.com/anything": True,
        "https://null.com/anything": True,
        "https://norobots.net/anything": True,
    }


def test_null_and_relative_urls_degrade_to_allowed(spark, rules):
    docs = spark.createDataFrame(
        [(None,), ("not a url",)], "url string"
    )
    out = R.apply_robots(docs, rules).collect()
    assert all(r["robots_allowed"] for r in out)


def test_filter_by_robots_keeps_allowed_only(spark, rules):
    docs = spark.createDataFrame(
        [
            ("https://example.com/private/secret",),
            ("https://example.com/open",),
        ],
        "url string",
    )
    kept = R.filter_by_robots(docs, rules).collect()
    assert [r["url"] for r in kept] == ["https://example.com/open"]
    assert kept[0].asDict().keys() == {"url"}  # helper columns dropped


def test_rules_host_is_normalized_like_url_host(spark):
    """r15 review: a rules table fed raw fetch metadata
    ('Example.COM.') must still join the url_host-normalized docs
    side — a silent join miss would ALLOW explicitly disallowed
    paths."""
    df = spark.createDataFrame(
        [("Example.COM.", "User-agent: *\nDisallow: /x\n")],
        "host string, payload string",
    )
    rules = R.robots_rules(df)
    got = _decide(
        spark,
        rules,
        ["https://example.com/x/1", "https://EXAMPLE.com./y"],
    )
    assert got == {
        "https://example.com/x/1": False,
        "https://EXAMPLE.com./y": True,
    }


def test_reserved_column_collision_raises(spark, rules):
    docs = spark.createDataFrame(
        [("https://e.com/x", 1)], "url string, __robots_host int"
    )
    with pytest.raises(ValueError, match="__robots_host"):
        R.apply_robots(docs, rules)


def test_plan_is_join_only_no_corpus_exchange(spark, rules):
    docs = spark.createDataFrame(
        [("https://example.com/a",)], "url string"
    )
    out = R.apply_robots(docs, rules)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # exactly ONE hash exchange: the rules-side host merge (bounded by
    # host count); the corpus side stays map-only into the broadcast
    assert len(re.findall(r"(?<!Reused)Exchange (hash|range|Single)", plan)) == 1


def test_duplicate_raw_hosts_merge_not_duplicate(spark):
    """r15 review pass 2: two raw rows collapsing to one normalized
    host must MERGE their rules — a plain select would emit duplicate
    join keys, duplicating corpus rows AND letting a disallowed URL
    survive filter_by_robots through its empty-rules copy."""
    df = spark.createDataFrame(
        [
            ("example.com", "User-agent: *\nDisallow: /x\n"),
            ("Example.COM.", ""),  # same host, empty refetch
        ],
        "host string, payload string",
    )
    rules = R.robots_rules(df)
    docs = spark.createDataFrame(
        [("https://example.com/x/1",), ("https://example.com/y",)],
        "url string",
    )
    out = R.apply_robots(docs, rules).collect()
    assert len(out) == 2  # no row duplication
    got = {r["url"]: r["robots_allowed"] for r in out}
    assert got == {
        "https://example.com/x/1": False,
        "https://example.com/y": True,
    }
    kept = R.filter_by_robots(docs, rules).collect()
    assert [r["url"] for r in kept] == ["https://example.com/y"]


# ---------------------------------------------------------------------------
# independent cross-check: regex reference matcher vs the Spark fold
# ---------------------------------------------------------------------------

GRID_RULES = [
    ("/", False),
    ("/a", True),
    ("/a$", False),
    ("/fish*", False),
    ("/*.php$", False),
    ("/p_q", False),
    ("*suffix$", False),
    ("/dir/", False),
    ("/dir/open", True),
]

GRID_PATHS = [
    "/",
    "/a",
    "/ab",
    "/a/b",
    "/fishing",
    "/fish",
    "/x.php",
    "/x.php?y=1",
    "/p_q",
    "/pXq",
    "/asuffix",
    "/suffix/no",
    "/dir/secret",
    "/dir/open/deep",
]


def _ref_allowed(raw_rules, path):
    """Independent matcher: robots pattern -> anchored regex."""
    best_spec, best_allow = -1, True
    for pattern, allow in raw_rules:
        if not pattern.startswith(("/", "*")):
            pattern = "/" + pattern
        anchored = pattern.endswith("$")
        body = pattern[:-1] if anchored else pattern
        rx = "".join(".*" if c == "*" else re.escape(c) for c in body)
        if re.match("^" + rx + ("$" if anchored else ""), path):
            spec = len(pattern)
            if spec > best_spec or (spec == best_spec and allow):
                best_spec, best_allow = spec, allow
    return best_allow


def test_spark_matches_reference_on_grid(spark):
    payload = "User-agent: *\n" + "\n".join(
        f"{'Allow' if allow else 'Disallow'}: {p}" for p, allow in GRID_RULES
    )
    rules = R.robots_rules(
        spark.createDataFrame(
            [("g.com", payload)], "host string, payload string"
        )
    )
    urls = [f"https://g.com{p}" for p in GRID_PATHS]
    got = _decide(spark, rules, urls)
    want = {
        f"https://g.com{p}": _ref_allowed(GRID_RULES, p) for p in GRID_PATHS
    }
    assert got == want


def _conflicting_rules(spark):
    df = spark.createDataFrame(
        [
            ("example.com", "User-agent: *\nDisallow: /x\n"),
            ("Example.COM.", "User-agent: *\nAllow: /x/page\n"),
        ],
        "host string, payload string",
    )
    return R.robots_rules(df)


def test_conflicting_host_fetches_raise_eagerly(spark):
    """r15 review pass 3 + r15 ADVICE: two fetches of one host with
    DIFFERING non-empty rules must raise, not silently union -- a
    stale longer-match Allow would outrank the live Disallow and
    under-block. With validation on (default) the failure surfaces at
    PLAN-BUILD time from the host-count-sized rules side, before any
    corpus job launches."""
    docs = spark.createDataFrame(
        [("https://example.com/x/page",)], "url string"
    )
    with pytest.raises(ValueError, match="conflicting robots rules"):
        R.apply_robots(docs, _conflicting_rules(spark))


def test_in_plan_conflict_guard_survives_validation(spark):
    """r16 ADVICE: validate_rules=True must KEEP the in-plan
    raise_error branch — the eager check runs once at plan-build, but
    an uncached stream-static rules side recompiles every micro-batch,
    and a rules source that changes between the check and corpus
    execution would otherwise silently resolve a late conflict to an
    arbitrary fetch (the under-block the in-plan raise prevents). A
    clean table builds fine; the executed plan still carries the
    guard."""
    docs = spark.createDataFrame([("https://ok.com/x",)], "url string")
    rules = R.robots_rules(
        spark.createDataFrame(
            [("ok.com", "User-agent: *\nDisallow: /y\n")],
            "host string, payload string",
        )
    )
    out = R.apply_robots(docs, rules)  # validate_rules defaults True
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "raise_error" in plan
    assert [r["robots_allowed"] for r in out.collect()] == [True]


def test_conflict_error_marks_truncation_at_five_hosts(spark):
    """r16 ADVICE: the eager conflict error joins at most 5 hosts
    (limit(5)) — with more conflicting hosts the message must say the
    list is truncated, so it cannot read as exhaustive."""
    rows = []
    for i in range(7):
        rows.append((f"h{i}.com", "User-agent: *\nDisallow: /a\n"))
        rows.append((f"H{i}.COM.", "User-agent: *\nAllow: /a/b\n"))
    rules = R.robots_rules(
        spark.createDataFrame(rows, "host string, payload string")
    )
    docs = spark.createDataFrame([("https://h0.com/a/b",)], "url string")
    with pytest.raises(ValueError, match=r"first 5 shown"):
        R.apply_robots(docs, rules)


def test_conflict_error_exhaustive_at_exactly_five_hosts(spark):
    """r17 ADVICE: with EXACTLY 5 conflicting hosts the list is
    exhaustive, so the truncation marker must NOT fire (the probe now
    reads limit(6) and marks truncation only when a 6th row came
    back); all five hosts appear in the message."""
    rows = []
    for i in range(5):
        rows.append((f"h{i}.com", "User-agent: *\nDisallow: /a\n"))
        rows.append((f"H{i}.COM.", "User-agent: *\nAllow: /a/b\n"))
    rules = R.robots_rules(
        spark.createDataFrame(rows, "host string, payload string")
    )
    docs = spark.createDataFrame([("https://h0.com/a/b",)], "url string")
    with pytest.raises(ValueError) as exc:
        R.apply_robots(docs, rules)
    msg = str(exc.value)
    assert "first 5 shown" not in msg
    for i in range(5):
        assert f"h{i}.com" in msg


def test_conflicting_host_fetches_raise_lazily_when_unvalidated(spark):
    """validate_rules=False skips the upfront rules-side job; the
    conflict then still aborts the corpus job at execution (the
    defense-in-depth backstop)."""
    docs = spark.createDataFrame(
        [("https://example.com/x/page",)], "url string"
    )
    out = R.apply_robots(
        docs, _conflicting_rules(spark), validate_rules=False
    )  # plan builds fine -- the check is in-plan now
    with pytest.raises(Exception, match="conflicting robots rules"):
        out.collect()


def test_empty_host_rules_row_cannot_gate_non_urls(spark):
    """r15 ADVICE: _url_path_query maps unparseable URLs to path '/',
    relying on the empty-host join MISS to allow them -- so a rules
    row whose host normalizes to '' (malformed fetch metadata) must be
    dropped from the join side, or it would gate every garbage URL in
    the corpus under its rules."""
    df = spark.createDataFrame(
        [
            ("", "User-agent: *\nDisallow: /\n"),
            (".", "User-agent: *\nDisallow: /\n"),
            (None, "User-agent: *\nDisallow: /\n"),
            ("real.com", "User-agent: *\nDisallow: /\n"),
        ],
        "host string, payload string",
    )
    rules = R.robots_rules(df)
    docs = spark.createDataFrame(
        [("not a url at all",), ("relative/link",), ("https://real.com/p",)],
        "url string",
    )
    got = {
        r["url"]: r["robots_allowed"]
        for r in R.apply_robots(docs, rules).collect()
    }
    assert got == {
        "not a url at all": True,
        "relative/link": True,
        "https://real.com/p": False,
    }


def test_apply_robots_runs_as_stream_static_join(spark, tmp_path):
    """The politeness gate composes with Structured Streaming as a
    stream-static join (streaming corpus x static rules) — results
    identical to batch over the same files."""
    src = tmp_path / "urls"
    spark.createDataFrame(
        [("https://s.com/block/1",), ("https://s.com/ok",)],
        "url string",
    ).write.mode("overwrite").parquet(str(src))
    rules = R.robots_rules(
        spark.createDataFrame(
            [("s.com", "User-agent: *\nDisallow: /block\n")],
            "host string, payload string",
        )
    ).cache()

    batch = sorted(
        map(
            tuple,
            R.apply_robots(spark.read.parquet(str(src)), rules).collect(),
        )
    )
    stream_df = R.apply_robots(
        spark.readStream.schema("url string").parquet(str(src)), rules
    )
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("robots_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240), "stream did not finish in time"
    got = sorted(map(tuple, spark.table("robots_stream").collect()))
    assert got == batch
    assert dict(got) == {
        "https://s.com/block/1": False,
        "https://s.com/ok": True,
    }


def test_stream_static_conflict_aborts_the_micro_batch(spark, tmp_path):
    """The r16 ADVICE mechanism proven on the streaming path: the
    rules side re-executes every micro-batch, so if its state carries
    a conflict at EXECUTION time the in-plan raise_error must abort
    the micro-batch — resolving to an arbitrary fetch would be the
    under-block. validate_rules=False here stands in for "the eager
    plan-build check did not see the conflict" (a rules source that
    changed after it); the batch twin of this raise is
    test_conflicting_host_fetches_raise_lazily_when_unvalidated."""
    src = tmp_path / "stream_conflict_docs"
    spark.createDataFrame(
        [("https://example.com/x/page",)], "url string"
    ).write.parquet(str(src))
    out = R.apply_robots(
        spark.readStream.schema("url string").parquet(str(src)),
        _conflicting_rules(spark),
        validate_rules=False,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("robots_conflict_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="conflicting robots rules"):
        q.awaitTermination(240)


def test_robots_query_decisions_per_arm(spark):
    """x_robots_decisions: the six URL arms decide as RFC 9309
    prescribes for the fixture rules — 0 no-match allow, 1 prefix
    disallow, 2 longer-Allow override, 3 $-anchored wildcard disallow,
    4 anchor miss via query string (allow), 5 non-URL passthrough."""
    from hive_scripts_spark.plans.registry import QUERIES

    rows = QUERIES["x_robots_decisions"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    expected = {0: True, 1: False, 2: True, 3: False, 4: True, 5: True}
    for r in rows:
        assert r["robots_allowed"] is expected[r["doc_id"] % 6], r
