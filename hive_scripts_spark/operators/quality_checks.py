"""Declarative data-quality expectations over a DataFrame — the
dbt-test / Deequ-style constraint report a lakehouse pipeline gates
loads on (reference parity: ``verizon_automation_script.sh``'s whole
purpose is a data-quality reconciliation between two stores; this
operator is the generalized single-table contract check from the same
family, extended per the LLM-pipeline mandate).

``validate_expectations(df, rules, refs=)`` returns ONE small report
frame — ``(constraint, kind, column, n_checked, n_violations,
passed)`` — for a list of rule dicts:

==================  =====================================================
kind                meaning
==================  =====================================================
``not_null``        ``col`` must be non-null on every row
``accepted_values`` non-null ``col`` must be one of ``values``
``range``           non-null ``col`` must satisfy ``lo <= col <= hi``
                    (either bound may be omitted)
``regex``           non-null ``col`` must fully match ``pattern``
``unique``          ``cols`` must have no duplicate combination
``referential``     non-null ``col`` must exist in ``refs[ref]``'s
                    ``ref_col`` (FK containment)
==================  =====================================================

Null semantics (documented contract): ``not_null`` checks every row;
the value rules (``accepted_values`` / ``range`` / ``regex``) check
only non-null values (pair them with a ``not_null`` rule to forbid
nulls — the dbt convention, which keeps each rule's meaning single);
``unique`` checks every row (null keys group like values);
``referential`` checks non-null foreign keys.

Scale shape (the design constraint): ALL row-level rules — not_null,
accepted_values, range, regex — compute in ONE full-scan aggregate
(each rule is a ``sum(case ...)`` conditional inside the same agg, so
10 rules still cost one map-side-combined pass), and the k report
rows come out of that single 1-row result via one
``explode(array(struct...))`` — NOT a union of k aggregates, which
would re-scan the table per rule. Each ``unique`` rule adds exactly
one groupBy exchange on its key; each ``referential`` rule adds ONE
left join against the DISTINCT reference keys whose agg yields both
n_checked and the orphan count in the same pass (an anti-join for
violations plus a separate count would scan the table twice;
broadcastable when the dimension is small, shuffle-join otherwise —
correctness never depends on the broadcast, per the no-broadcast
pass of tests/test_parity.py). At 100 TB: one scan + (number of
unique/FK rules) keyed exchanges, report output is O(rules) rows.
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

from pyspark.sql import DataFrame, functions as F

_REPORT_COLS = (
    "constraint", "kind", "column", "n_checked", "n_violations", "passed"
)


def _rule_name(rule: Mapping[str, Any]) -> str:
    if "name" in rule:
        return str(rule["name"])
    kind = rule["kind"]
    col = rule.get("col") or ",".join(rule.get("cols", ()))
    return f"{kind}:{col}"


def _row_level_exprs(rule: Mapping[str, Any]):
    """(checked_expr, violated_expr) for one row-level rule — both are
    per-row booleans folded into the shared single-pass aggregate."""
    kind = rule["kind"]
    c = F.col(rule["col"])
    if kind == "not_null":
        return F.lit(True), c.isNull()
    present = c.isNotNull()
    if kind == "accepted_values":
        return present, present & ~c.isin(list(rule["values"]))
    if kind == "range":
        if rule.get("lo") is None and rule.get("hi") is None:
            # a boundless range rule can never fire — a typo'd bound
            # key would otherwise become a permanently green gate
            raise ValueError(
                f"range rule on {rule['col']!r} needs 'lo' and/or 'hi'"
            )
        bad = F.lit(False)
        if rule.get("lo") is not None:
            bad = bad | (c < F.lit(rule["lo"]))
        if rule.get("hi") is not None:
            bad = bad | (c > F.lit(rule["hi"]))
        return present, present & bad
    if kind == "regex":
        pat = "^(?:" + rule["pattern"] + ")$"
        return present, present & ~c.cast("string").rlike(pat)
    raise ValueError(f"unknown row-level rule kind: {kind!r}")


def validate_expectations(
    df: DataFrame,
    rules: Sequence[Mapping[str, Any]],
    refs: Mapping[str, DataFrame] | None = None,
) -> DataFrame:
    """Run every rule against ``df``; return the per-constraint report
    (one row per rule, column order ``_REPORT_COLS``), ordered by
    constraint name so output is deterministic."""
    refs = refs or {}
    _row_kinds = ("not_null", "accepted_values", "range", "regex")
    row_rules = [r for r in rules if r["kind"] in _row_kinds]
    other = [r for r in rules if r["kind"] not in _row_kinds]

    spark = df.sparkSession
    frames: list[DataFrame] = []

    if row_rules:
        aggs = []
        for i, rule in enumerate(row_rules):
            checked, violated = _row_level_exprs(rule)
            aggs.append(
                F.sum(F.when(checked, 1).otherwise(0))
                .cast("bigint").alias(f"__chk{i}")
            )
            aggs.append(
                F.sum(F.when(violated, 1).otherwise(0))
                .cast("bigint").alias(f"__bad{i}")
            )
        one = df.agg(*aggs)
        report_structs = F.array(*[
            F.struct(
                F.lit(_rule_name(rule)).alias("constraint"),
                F.lit(rule["kind"]).alias("kind"),
                F.lit(rule["col"]).alias("column"),
                F.coalesce(F.col(f"__chk{i}"), F.lit(0).cast("bigint"))
                .alias("n_checked"),
                F.coalesce(F.col(f"__bad{i}"), F.lit(0).cast("bigint"))
                .alias("n_violations"),
            )
            for i, rule in enumerate(row_rules)
        ])
        frames.append(
            one.select(F.explode(report_structs).alias("r")).select("r.*")
        )

    for rule in other:
        kind = rule["kind"]
        name = F.lit(_rule_name(rule))
        if kind == "unique":
            cols = list(rule["cols"])
            grouped = df.groupBy(*cols).agg(
                F.count(F.lit(1)).alias("__c")
            )
            frames.append(
                grouped.agg(
                    name.alias("constraint"),
                    F.lit("unique").alias("kind"),
                    F.lit(",".join(cols)).alias("column"),
                    F.coalesce(F.sum("__c"), F.lit(0))
                    .cast("bigint").alias("n_checked"),
                    F.coalesce(
                        F.sum("__c") - F.count(F.lit(1)), F.lit(0)
                    ).cast("bigint").alias("n_violations"),
                )
            )
        elif kind == "referential":
            col, ref_col = rule["col"], rule["ref_col"]
            ref_keys = (
                refs[rule["ref"]]
                .select(F.col(ref_col).alias("__refkey"))
                .where(F.col("__refkey").isNotNull())
                .distinct()
            )
            fk = df.select(F.col(col).alias("__fk")).where(
                F.col("__fk").isNotNull()
            )
            # ONE left join + one agg gets both counts in a single
            # pass over df (an anti-join for violations plus a
            # separate count agg would scan the table twice)
            joined = fk.join(
                ref_keys, fk["__fk"] == ref_keys["__refkey"], "left"
            )
            frames.append(
                joined.agg(
                    name.alias("constraint"),
                    F.lit("referential").alias("kind"),
                    F.lit(f"{col}->{rule['ref']}.{ref_col}").alias("column"),
                    F.count(F.lit(1)).cast("bigint").alias("n_checked"),
                    F.coalesce(
                        F.sum(
                            F.when(F.col("__refkey").isNull(), 1).otherwise(0)
                        ),
                        F.lit(0),
                    ).cast("bigint").alias("n_violations"),
                )
            )
        else:
            raise ValueError(f"unknown rule kind: {kind!r}")

    if not frames:
        return spark.createDataFrame(
            [],
            "constraint string, kind string, column string, "
            "n_checked bigint, n_violations bigint, passed boolean",
        )
    report = frames[0]
    for f in frames[1:]:
        report = report.unionByName(f)
    return report.select(
        "constraint", "kind", "column", "n_checked", "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("constraint")
