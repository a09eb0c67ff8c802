"""Unit tests for operators/quality_checks.validate_expectations —
hand-computed constraint reports over a small frame with every
violation class present, plus plan-shape assertions for the
single-pass row-level design."""

from __future__ import annotations

import pytest

from hive_scripts_spark.operators.quality_checks import validate_expectations


@pytest.fixture(scope="module")
def frames(spark):
    rows = [
        # id, status, price, code, fk
        (1, "O", 10.0, "AB-1", 100),
        (2, "F", 20.0, "CD-2", 200),
        (3, "X", -5.0, "bad", 100),     # status + range-lo + regex violations
        (4, None, 999.0, None, None),   # not_null + range-hi violations
        (1, "O", 30.0, "EF-3", 300),    # duplicate id; fk 300 is an orphan
    ]
    df = spark.createDataFrame(
        rows, "id int, status string, price double, code string, fk int"
    )
    dim = spark.createDataFrame([(100,), (200,), (None,)], "key int")
    return df, dim


RULES = [
    {"kind": "not_null", "col": "status"},
    {"kind": "accepted_values", "col": "status", "values": ["O", "F"]},
    {"kind": "range", "col": "price", "lo": 0.0, "hi": 100.0},
    {"kind": "regex", "col": "code", "pattern": "[A-Z]{2}-[0-9]"},
    {"kind": "unique", "cols": ["id"]},
    {"kind": "referential", "col": "fk", "ref": "dim", "ref_col": "key"},
]


def test_report_values(spark, frames):
    df, dim = frames
    out = validate_expectations(df, RULES, refs={"dim": dim})
    got = {
        r["constraint"]: (
            r["kind"], r["n_checked"], r["n_violations"], r["passed"]
        )
        for r in out.collect()
    }
    assert got == {
        # not_null checks every row; row 4 is null
        "not_null:status": ("not_null", 5, 1, False),
        # value rules check non-null values only: 4 statuses, 'X' bad
        "accepted_values:status": ("accepted_values", 4, 1, False),
        # -5 below lo, 999 above hi
        "range:price": ("range", 5, 2, False),
        # 4 non-null codes; 'bad' doesn't match
        "regex:code": ("regex", 4, 1, False),
        # 5 rows, 4 distinct ids -> 1 surplus row
        "unique:id": ("unique", 5, 1, False),
        # 4 non-null fks; 300 has no dim key
        "referential:fk": ("referential", 4, 1, False),
    }
    # column bookkeeping
    cols = {r["constraint"]: r["column"] for r in out.collect()}
    assert cols["referential:fk"] == "fk->dim.key"
    assert cols["unique:id"] == "id"


def test_all_passing_and_custom_names(spark, frames):
    df, dim = frames
    clean = df.where("id <= 2 and price < 25")  # rows 1 and 2 only
    out = validate_expectations(
        clean,
        [
            {"name": "status ok", "kind": "accepted_values",
             "col": "status", "values": ["O", "F"]},
            {"kind": "unique", "cols": ["id"]},
            {"kind": "referential", "col": "fk", "ref": "dim",
             "ref_col": "key"},
        ],
        refs={"dim": dim},
    ).collect()
    assert all(r["passed"] for r in out)
    assert {r["constraint"] for r in out} == {
        "status ok", "unique:id", "referential:fk"
    }


def test_empty_frame_reports_zero_checked(spark, frames):
    df, _ = frames
    out = validate_expectations(
        df.where("id < 0"),
        [{"kind": "not_null", "col": "status"},
         {"kind": "unique", "cols": ["id"]}],
    ).collect()
    assert {
        r["constraint"]: (r["n_checked"], r["n_violations"], r["passed"])
        for r in out
    } == {"not_null:status": (0, 0, True), "unique:id": (0, 0, True)}


def test_range_single_bound_and_multi_col_unique(spark, frames):
    df, _ = frames
    out = validate_expectations(
        df,
        [
            {"kind": "range", "col": "price", "lo": 0.0},
            {"kind": "range", "col": "price", "hi": 100.0},
            {"kind": "unique", "cols": ["id", "status"]},
        ],
    ).collect()
    got = {
        r["constraint"]: (r["n_violations"], r["column"]) for r in out
    }
    # two distinct range constraints share one name prefix but differ
    # by bounds -> both present, each with its own single-bound count
    names = [r["constraint"] for r in out]
    assert names.count("range:price") == 2
    bad = sorted(
        r["n_violations"] for r in out if r["constraint"] == "range:price"
    )
    assert bad == [1, 1]  # one below-lo, one above-hi
    # (1,'O') repeats -> 1 surplus row
    assert got["unique:id,status"] == (1, "id,status")


def test_row_level_rules_share_one_scan(spark, frames):
    """The design claim: N row-level rules = ONE aggregate over ONE
    scan (each rule a conditional sum), not N scans."""
    df, _ = frames
    out = validate_expectations(
        df,
        [r for r in RULES if r["kind"] in
         ("not_null", "accepted_values", "range", "regex")],
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("logicalrdd") == 1


def test_unknown_kind_raises(spark, frames):
    df, _ = frames
    with pytest.raises(ValueError, match="unknown"):
        validate_expectations(df, [{"kind": "positive", "col": "price"}])


def test_boundless_range_raises(spark, frames):
    """A range rule with neither bound can never fire — a typo'd bound
    key must fail loudly, not become a permanently green gate."""
    df, _ = frames
    with pytest.raises(ValueError, match="needs 'lo'"):
        validate_expectations(
            df, [{"kind": "range", "col": "price", "low": 0.0}]
        )


def test_referential_single_pass_and_empty(spark, frames):
    """The FK report comes from ONE join + agg (no second scan for
    n_checked), and an empty fact side reports (0, 0, passed)."""
    df, dim = frames
    rule = [{"kind": "referential", "col": "fk", "ref": "dim",
             "ref_col": "key"}]
    out = validate_expectations(df, rule, refs={"dim": dim})
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the fact-side leaf appears once for df, once for the dim frame
    assert plan.lower().count("logicalrdd") == 2
    empty = validate_expectations(
        df.where("id < 0"), rule, refs={"dim": dim}
    ).collect()[0]
    assert (empty["n_checked"], empty["n_violations"], empty["passed"]) == (
        0, 0, True
    )


def test_expectations_query_branches_fire(spark):
    """x_validate_expectations at sf0.01: three constraints fire and
    three pass, so both report branches are exercised."""
    from hive_scripts_spark.plans.registry import QUERIES

    out = QUERIES["x_validate_expectations"](spark, "/root/testdata/sf0.01").collect()
    passed = {r["constraint"]: r["passed"] for r in out}
    assert passed == {
        "not_null:o_custkey": True,
        "accepted_values:o_orderstatus": False,
        "range:o_totalprice": False,
        "regex:o_orderpriority": False,
        "unique:o_orderkey": True,
        "referential:o_custkey": True,
    }
