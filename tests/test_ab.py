"""The pure parts of ``tools/ab.py``: run order, result parsing, and the
per-metric summary (medians, the base's quartile spread, pair wins)."""

import importlib.util
import json
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "ab", Path(__file__).resolve().parent.parent / "tools" / "ab.py"
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def _perf(correct=True, failed=0, **metrics):
    return json.dumps({
        "correct": correct,
        "attempted": 3,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()},
    })


def _ok(**metrics):
    return {"ok": True, "why": "", "metrics": metrics}


def test_first_side_alternates_between_pairs():
    orders = [ab.first_side(i) for i in range(4)]
    assert orders == [
        ("base", "change"),
        ("change", "base"),
        ("base", "change"),
        ("change", "base"),
    ]


def test_wins_follow_better_and_ties_count_for_neither():
    pairs = [
        {"base": _ok(cold_s=10.0, rows_per_s=100.0), "change": _ok(cold_s=8.0, rows_per_s=120.0)},
        {"base": _ok(cold_s=10.0, rows_per_s=100.0), "change": _ok(cold_s=10.0, rows_per_s=90.0)},
        {"base": _ok(cold_s=9.0, rows_per_s=100.0), "change": _ok(cold_s=9.5, rows_per_s=100.0)},
    ]
    rows = {
        r["metric"]: r
        for r in ab.summarize(pairs, {"cold_s": "lower", "rows_per_s": "higher"})
    }
    assert (rows["cold_s"]["change_wins"], rows["cold_s"]["base_wins"]) == (1, 1)
    assert (rows["rows_per_s"]["change_wins"], rows["rows_per_s"]["base_wins"]) == (1, 1)
    assert rows["rows_per_s"]["better"] == "higher"
    assert all(r["pairs"] == 3 for r in rows.values())


def test_metric_missing_from_better_is_lower_is_better():
    pairs = [{"base": _ok(**{"q.best_s": 2.0}), "change": _ok(**{"q.best_s": 1.0})}]
    (row,) = ab.summarize(pairs, {})
    assert row["better"] == "lower" and row["change_wins"] == 1


def test_medians_and_base_quartile_spread():
    base = [10.0, 12.0, 11.0, 15.0, 13.0]
    change = [5.0, 6.0, 7.0, 8.0, 9.0]
    pairs = [{"base": _ok(cpu_s=b), "change": _ok(cpu_s=c)} for b, c in zip(base, change)]
    (row,) = ab.summarize(pairs, {"cpu_s": "lower"})
    assert row["base_median"] == 12.0 and row["change_median"] == 7.0
    # inclusive quartiles of 10, 11, 12, 13, 15: q1 = 11, q3 = 13
    assert row["base_spread"] == 2.0
    assert (row["change_wins"], row["base_wins"], row["pairs"]) == (5, 0, 5)
    assert ab.quartile_spread([4.0]) == 0.0


def test_failed_or_incorrect_run_is_flagged_not_summarised():
    incorrect = ab.parse_run(0, "log line\n" + _perf(correct=False, cold_s=1.0))
    failed_ops = ab.parse_run(0, _perf(failed=1, cold_s=1.0))
    crashed = ab.parse_run(1, "Traceback ...\n")
    for run in (incorrect, failed_ops, crashed):
        assert not run["ok"] and run["metrics"] == {}
    good = ab.parse_run(0, _perf(cold_s=3.0))
    assert good == {"ok": True, "why": "", "metrics": {"cold_s": 3.0}}

    pairs = [
        {"base": ab.parse_run(0, _perf(cold_s=4.0)), "change": incorrect},
        {"base": ab.parse_run(0, _perf(cold_s=5.0)), "change": good},
    ]
    (row,) = ab.summarize(pairs, {"cold_s": "lower"})
    # the incorrect run's value (1.0) would have won; it is in no median
    # and no pair
    assert row["change_median"] == 3.0 and row["base_median"] == 4.5
    assert (row["change_wins"], row["pairs"]) == (1, 1)
    assert ab.failures(pairs) == [f"pair 1 change: {incorrect['why']}"]


def test_bench_result_with_errors_is_flagged():
    out = {"sf_dir": "d", "total_best_s": 1.0, "queries": {"q": {"best_s": 1.0}}}
    assert ab.parse_run(0, json.dumps({**out, "errors": {}}))["metrics"] == {"q.best_s": 1.0}
    assert not ab.parse_run(1, json.dumps({**out, "errors": {"r": "boom"}}))["ok"]
