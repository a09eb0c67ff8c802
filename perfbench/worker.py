"""The measured process: one long-lived SparkSession that runs one
workload's CLI command again and again, in-process, through
``hive_scripts_spark.__main__.main``.

``run.py`` starts this script with the Spark settings in the environment
and times it from outside. The script prints ``READY`` once
``session.get_spark`` has returned and one trivial job is done, then runs
the executions (the first is the cold one, then ``STEADY`` steady-state
executions, fewer only if those take longer than ``--seconds``), keeps
each one's output in ``<work>/out-<n>`` for ``run.py`` to check after this
process has ended, and writes a JSON record of every execution to
``--result``. With
``--trace 1`` it also installs the span wrappers and folds Spark's event
log into per-layer numbers after the session stops.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import gen  # noqa: E402  (perfbench/ is on sys.path as the script's directory)
import proctree  # noqa: E402

# The cold execution is reported on its own; the STEADY executions after
# it give the steady-state numbers, as their median. The JIT keeps
# shortening executions for many more (validate: 6.6 s at the 2nd down to
# 3.8 s at the 10th), longer than a run can afford to wait, so "steady" is
# a fixed position on that curve, the same on every commit: the 2nd and
# 3rd executions.
STEADY = 2


def cli_argv(workload: str, inputs: Path, out: Path) -> list[str]:
    if workload == "validate":
        return ["validate", str(gen.write_config(inputs)), "--output", str(out)]
    if workload == "export":
        return ["export", "--db", str(inputs), "--output", str(out),
                "--bench-mod", str(gen.BENCH_MOD), "--shards", str(gen.SHARDS),
                "--budget", str(gen.PACK_BUDGET)]
    return ["semdedup", "--db", str(inputs), "--output", str(out),
            "--nlist", str(gen.NLIST), "--threshold", str(gen.THRESHOLD)]


def run_once(cli, argv, out: Path, keep: Path, pid: int, tracer, index: int) -> dict:
    """One timed execution of the CLI command; its output moves to ``keep``."""
    shutil.rmtree(out, ignore_errors=True)
    (busy0, steal0), cpu0 = proctree.host_cpu_s(), proctree.tree_cpu_s(pid)
    printed = io.StringIO()
    error = None
    span = tracer.span(f"exec{index}", "bench") if tracer else contextlib.nullcontext()
    t0 = time.perf_counter()
    try:
        with span, contextlib.redirect_stdout(printed):
            rc = cli.main(argv)
    except Exception:  # a failed execution is counted, never retried
        rc, error = None, traceback.format_exc(limit=5)
    wall = time.perf_counter() - t0
    cpu, (busy, steal) = proctree.tree_cpu_s(pid) - cpu0, proctree.host_cpu_s()
    if out.exists():
        out.rename(keep)
    return {"wall_s": wall, "cpu_s": cpu, "steal_s": steal - steal0,
            "other_cpu_s": busy - busy0 - cpu, "rc": rc, "error": error, "output": str(keep)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--inputs", required=True, type=Path)
    ap.add_argument("--work", required=True, type=Path)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", type=Path)
    ap.add_argument("--time-limit", type=float, default=150, help="seconds this process may take")
    ap.add_argument("--setup-only", action="store_true", help="exit once set-up is done")
    args = ap.parse_args()
    stop_by = time.monotonic() + args.time_limit

    import hive_scripts_spark.__main__ as cli
    from hive_scripts_spark import session

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()
    t0 = time.perf_counter()
    with tracer.span("setup", "session") if tracer else contextlib.nullcontext():
        spark = session.get_spark()
        launch_s = time.perf_counter() - t0
        if tracer:
            tracer.attach()
        spark.range(1).count()
    print("READY", flush=True)
    if args.setup_only:
        os._exit(0)  # run.py stops the process group

    pid = os.getpid()
    argv = cli_argv(args.workload, args.inputs, args.work / "out")
    execs = []
    while True:
        keep = args.work / f"out-{len(execs)}"
        rec = run_once(cli, argv, args.work / "out", keep, pid, tracer, len(execs))
        rec["phase"] = "steady" if execs else "cold"
        rec["peak_rss_mb"] = proctree.tree_peak_rss_mb(pid)
        execs.append(rec)
        print(json.dumps({k: rec[k] for k in ("phase", "wall_s", "cpu_s", "rc")}), flush=True)
        if len(execs) == 1:
            steady_t0 = time.perf_counter()
        n_steady = len(execs) - 1
        if n_steady >= STEADY or (n_steady and time.perf_counter() - steady_t0 >= args.seconds):
            break
        # a much slower program still reports, with fewer executions
        if time.monotonic() + 1.5 * rec["wall_s"] > stop_by:
            break
    result = {"workload": args.workload, "launch_s": launch_s, "executions": execs}
    if tracer:
        spark.stop()  # closes the event log
        result["trace"] = tracer.report(args.work / "eventlog", execs, launch_s)
    args.result.write_text(json.dumps(result))
    sys.stdout.flush()
    os._exit(0)  # run.py stops the process group (the JVM and its workers)


if __name__ == "__main__":
    raise SystemExit(main())
