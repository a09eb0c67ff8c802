"""A/B two revisions of this repository in the same time window.

    python tools/ab.py BASE CHANGE --workload validate --seed 7 --pairs 10
    python tools/ab.py BASE CHANGE --workload semdedup --seed 1 --trace 1
    SPARK_GRAFT_SF_DIR=SF_DIR \\
        python tools/ab.py BASE . --queries q1_pricing_summary x_events_hourly

``BASE`` and ``CHANGE`` are git revisions, each exported with ``git
archive`` into a temporary directory outside the repository (never a
worktree); ``.`` stands for the working tree as it is. Each pair runs one
benchmark process per side, one process at a time, and the side that runs
first alternates from pair to pair, so host drift hits both alike.

* ``--workload W --seed S``: ``perfbench/run.py --workload W --seed S
  --trace 0`` in each checkout, with ``BENCHMARK.json``'s run length.
  ``--trace 1`` adds one traced run per side afterwards and prints every
  per-layer metric that differs.
* ``--queries Q ...``: the named registry queries through each side's
  own engine, timed by this checkout's ``bench.py`` (best of 3, noop
  sink); each query's ``best_s`` is a metric.

For each metric it prints both medians, the base's quartile spread (q3 -
q1) and how many pairs each side won; ties count for neither side, and
the direction is the metric's ``better`` in ``BENCHMARK.json`` (seconds
for ``--queries``: lower). A run that is not ``correct``, has ``failed``
operations, exits non-zero or prints no result is reported as failed
and left out of every median and pair.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKTREE = "."
SIDES = ("base", "change")


def first_side(pair: int) -> tuple[str, str]:
    """Run order of pair ``pair`` (0-based): base first on even pairs."""
    return SIDES if pair % 2 == 0 else SIDES[::-1]


def parse_run(rc: int, stdout: str) -> dict:
    """One benchmark process's result: ``{"ok", "why", "metrics"}``,
    where ``metrics`` maps a name to its value (empty when not ok)."""
    lines = stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        out = None
    if not isinstance(out, dict):
        return {"ok": False, "why": f"exit {rc}, no result line", "metrics": {}}
    if "queries" in out:  # bench.py
        if out["errors"] or rc:
            return {"ok": False, "why": f"exit {rc}, errors {out['errors']}", "metrics": {}}
        return {
            "ok": True,
            "why": "",
            "metrics": {f"{q}.best_s": v["best_s"] for q, v in out["queries"].items()},
        }
    if rc or not out.get("correct") or out.get("failed"):
        why = f"exit {rc}, correct={out.get('correct')}, failed={out.get('failed')}"
        return {"ok": False, "why": why, "metrics": {}}
    return {
        "ok": True,
        "why": "",
        "metrics": {k: v["value"] for k, v in out["metrics"].items()},
    }


def quartile_spread(xs: list[float]) -> float:
    """q3 - q1 of ``xs`` (inclusive quartiles; 0 for fewer than 2)."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def summarize(pairs: list[dict], better: dict[str, str]) -> list[dict]:
    """One row per metric over ``pairs`` (``[{"base": run, "change":
    run}]``): medians of each side's ok runs, the base's quartile spread,
    and the pairs (both sides ok) that each side won. ``better`` maps a
    metric to ``"lower"`` or ``"higher"``; lower is better for a metric
    not in it."""
    names = []
    for p in pairs:
        for side in SIDES:
            names += [m for m in p[side]["metrics"] if m not in names]
    rows = []
    for m in names:
        vals = {s: [p[s]["metrics"][m] for p in pairs if m in p[s]["metrics"]] for s in SIDES}
        higher = better.get(m, "lower") == "higher"
        wins = {"base": 0, "change": 0}
        both = [p for p in pairs if all(m in p[s]["metrics"] for s in SIDES)]
        for p in both:
            b, c = p["base"]["metrics"][m], p["change"]["metrics"][m]
            if b != c:
                wins["change" if (c > b) == higher else "base"] += 1
        rows.append({
            "metric": m,
            "better": "higher" if higher else "lower",
            "base_median": statistics.median(vals["base"]) if vals["base"] else None,
            "change_median": statistics.median(vals["change"]) if vals["change"] else None,
            "base_spread": quartile_spread(vals["base"]),
            "change_wins": wins["change"],
            "base_wins": wins["base"],
            "pairs": len(both),
        })
    return rows


def failures(pairs: list[dict]) -> list[str]:
    return [
        f"pair {i + 1} {side}: {p[side]['why']}"
        for i, p in enumerate(pairs)
        for side in SIDES
        if not p[side]["ok"]
    ]


def _fmt(x) -> str:
    return "-" if x is None else f"{x:.4g}"


def report(rows: list[dict], failed: list[str]) -> str:
    out = [f"{'metric':36} {'better':6} {'base':>10} {'change':>10} {'base q3-q1':>10}  change wins"]
    for r in rows:
        out.append(
            f"{r['metric']:36} {r['better']:6} {_fmt(r['base_median']):>10} "
            f"{_fmt(r['change_median']):>10} {_fmt(r['base_spread']):>10}  "
            f"{r['change_wins']}/{r['pairs']} (base {r['base_wins']})"
        )
    out += [f"FAILED {f}" for f in failed]
    return "\n".join(out)


def layer_diff(base: dict, change: dict) -> list[str]:
    """Per-layer metrics (of one traced run per side) that differ."""
    names = list(base) + [k for k in change if k not in base]
    return [
        f"{k:40} {_fmt(base.get(k)):>10} -> {_fmt(change.get(k)):>10}"
        for k in names
        if base.get(k) != change.get(k)
    ]


def export(rev: str, dest: Path) -> Path:
    """The checkout of ``rev``: the working tree itself for ``.``, else a
    ``git archive`` export into the new directory ``dest``."""
    if rev == WORKTREE:
        return ROOT
    dest.mkdir()
    archive = subprocess.run(
        ["git", "-C", str(ROOT), "archive", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)
    return dest


def run_one(checkout: Path, cmd: list[str]) -> dict:
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    run = parse_run(proc.returncode, proc.stdout)
    if not run["ok"]:
        run["why"] += " | " + " / ".join(proc.stderr.strip().splitlines()[-3:])
    return run


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", help="git revision, or . for the working tree")
    ap.add_argument("change", help="git revision, or . for the working tree")
    what = ap.add_mutually_exclusive_group(required=True)
    what.add_argument("--workload", help="a perfbench workload (needs --seed)")
    what.add_argument("--queries", nargs="+", help="registry query names")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload and args.seed is None:
        ap.error("--workload needs --seed")
    if args.queries and args.trace:
        ap.error("--trace 1 needs --workload")

    bench_json = json.loads((ROOT / "BENCHMARK.json").read_text())
    better = {
        m["name"]: m["better"] for m in bench_json["end_to_end"] + bench_json["per_layer"]
    }

    def command(trace: int) -> list[str]:
        if args.queries:
            return [sys.executable, "bench.py", *args.queries]
        return [
            sys.executable, "perfbench/run.py", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(bench_json["run_seconds"]),
            "--trace", str(trace),
        ]

    tmp = Path(tempfile.mkdtemp(prefix="ab-"))
    try:
        checkouts = {}
        for side, rev in zip(SIDES, (args.base, args.change)):
            checkouts[side] = export(rev, tmp / side)
            if args.queries and checkouts[side] != ROOT:
                # the same timer on both sides; each side's own engine
                shutil.copy(ROOT / "bench.py", checkouts[side] / "bench.py")
        pairs = []
        for i in range(args.pairs):
            pair = {}
            for side in first_side(i):
                pair[side] = run_one(checkouts[side], command(0))
                print(f"pair {i + 1} {side}: {pair[side]['metrics'] or pair[side]['why']}",
                      file=sys.stderr, flush=True)
            pairs.append(pair)
        print(f"{args.base} (base) vs {args.change} (change), {args.pairs} pairs")
        print(report(summarize(pairs, better), failures(pairs)))
        if args.trace:
            traced = {side: run_one(checkouts[side], command(1)) for side in SIDES}
            bad = failures([traced])
            print("\nper-layer, one traced run per side (differing metrics):")
            print("\n".join(bad) if bad else "\n".join(
                layer_diff(traced["base"]["metrics"], traced["change"]["metrics"])
            ))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 1 if failures(pairs) else 0


if __name__ == "__main__":
    raise SystemExit(main())
