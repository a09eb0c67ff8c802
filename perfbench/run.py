"""Benchmark entry point.

    python3 perfbench/run.py --workload {validate,export,semdedup} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. It generates (or reuses) the seeded
inputs, starts ``worker.py`` in a fresh process with one Spark task slot
and one shuffle partition per CPU, measures set-up, the cold execution and
the steady-state executions, and prints one JSON line last:

* ``--trace 0``: the end-to-end metrics ``setup_s``, ``cold_s``,
  ``rows_per_s``, ``cpu_s`` and ``peak_rss_mb``;
* ``--trace 1``: the per-layer metrics folded from Spark's event log
  (see README.md).

Everything it writes goes under ``.perfbench/`` in the checkout; the run
record with every execution, the host record and the traced layer
numbers is ``.perfbench/<workload>-<seed>-trace<0|1>/run.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import proctree  # noqa: E402

# a run is cut (and fails) after this long, inside the 180 s limit
DEADLINE_S = 170.0
# set-up is timed in this many fresh processes (the measured one included);
# a traced run reports no set-up time and makes no extra launch
SETUP_LAUNCHES = 2


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_env(work: Path, trace: bool) -> dict:
    """Environment for the measured process: task slots and shuffle
    partitions at the CPU count, every scratch path inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
        })
    submit = " ".join(f"--conf '{k}={v}'" for k, v in confs.items())
    env = dict(os.environ)
    # the session factory's own defaults (local master, in-memory catalog,
    # single-threaded BLAS in Python workers) apply whatever the caller set
    for var in ("SPARK_MASTER", "SPARK_GRAFT_HIVE", "OPENBLAS_NUM_THREADS",
                "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        env.pop(var, None)
    env.update({
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(_cpus()),
        # Two departures from a CLI user's defaults, for a steady
        # peak_rss_mb: at the engine's host-sized heap G1 grew the heap by
        # up to 1 GB more in some runs than in others, and without an arena
        # cap the JVM threads' glibc arenas jumped by ~300 MB now and then.
        # A 1g ceiling leaves the heap little room to differ. See README.md.
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "MALLOC_ARENA_MAX": "2",
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


class Worker:
    """One ``worker.py`` process in its own process group, timed from
    spawn to ``READY``."""

    def __init__(self, argv: list[str], env: dict, log: Path, deadline: float):
        self.log = log.open("a")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), *argv], cwd=ROOT, env=env,
            stdout=subprocess.PIPE, stderr=self.log, text=True, start_new_session=True,
        )
        self.deadline = deadline
        self.setup_s = None
        self.lines: list[str] = []

    def wait(self) -> int:
        timer = threading.Timer(max(self.deadline - time.monotonic(), 1.0), self.kill)
        timer.start()
        try:
            for line in self.proc.stdout:
                if line.startswith("READY") and self.setup_s is None:
                    self.setup_s = time.perf_counter() - self.t0
                self.lines.append(line.rstrip())
            return self.proc.wait()
        finally:
            timer.cancel()
            self.kill()
            self.log.close()

    def kill(self):
        """Stop every process the worker started and wait until each has
        ended. Its results are written by then, so nothing needs a clean
        shutdown."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        reap_orphans()


def become_subreaper() -> None:
    """Make orphaned descendants children of this process: the JVM once
    the worker has exited, and the PySpark daemon, which leaves the
    worker's process group. ``reap_orphans`` then waits for them."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def reap_orphans(timeout: float = 15.0) -> None:
    """Wait until no child of this process is left; after ``timeout``
    seconds, kill the ones that remain."""
    stop = time.monotonic() + timeout
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0]:
                continue
        except ChildProcessError:
            return
        if time.monotonic() > stop:
            for pid in proctree.tree_pids(os.getpid())[1:]:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def host_record() -> dict:
    def version(cmd):
        try:
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=20)
            return (out.stderr or out.stdout).strip().splitlines()[0]
        except (OSError, subprocess.SubprocessError, IndexError):
            return None

    from importlib.metadata import version as pkg_version

    return {
        "nproc": os.cpu_count(),
        "task_slots": _cpus(),
        "loadavg_start": os.getloadavg(),
        "python": platform.python_version(),
        "java": version(["java", "-XX:-UsePerfData", "-version"]),
        "spark": pkg_version("pyspark"),
    }


def _median(xs):
    return statistics.median(xs) if xs else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S

    if not (ROOT / "hive_scripts_spark" / "__main__.py").is_file():
        print(f"error: {ROOT} holds no hive_scripts_spark package", file=sys.stderr)
        return 2

    base = ROOT / ".perfbench"
    inputs = base / "inputs" / f"{args.workload}-{args.seed}"
    work = base / f"{args.workload}-{args.seed}-trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    host = host_record()
    manifest = gen.ensure_inputs(args.workload, args.seed, inputs)

    result_path = work / "worker.json"
    worker = None

    def stop(signum, _frame):  # never leave the JVM behind
        if worker:
            worker.kill()
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    become_subreaper()
    worker = Worker(
        ["--workload", args.workload, "--inputs", str(inputs), "--work", str(work),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--result", str(result_path), "--time-limit", str(deadline - time.monotonic() - 20)],
        spark_env(work, bool(args.trace)), work / "worker.log", deadline,
    )
    rc = worker.wait()
    if rc != 0 or not result_path.is_file():
        print(f"error: worker exited with {rc}; see {work / 'worker.log'}", file=sys.stderr)
        print("\n".join(worker.lines[-20:]), file=sys.stderr)
        return 1
    setups = [worker.setup_s]
    for _ in range(0 if args.trace else SETUP_LAUNCHES - 1):
        worker = Worker(["--workload", args.workload, "--inputs", str(inputs), "--work", str(work),
                         "--setup-only"], spark_env(work, False), work / "setup.log", deadline)
        if worker.wait() != 0 or worker.setup_s is None:
            print(f"error: set-up launch failed; see {work / 'setup.log'}", file=sys.stderr)
            return 1
        setups.append(worker.setup_s)
    shutil.rmtree(work / "tmp", ignore_errors=True)

    result = json.loads(result_path.read_text())
    execs = result["executions"]
    expected = json.loads((inputs / "expected.json").read_text())
    rows = expected["rows"]
    check = checks.CHECKS[args.workload]
    for e in execs:  # outside the measured process, after it has ended
        try:
            errors = [e["error"]] if e["error"] else check(Path(e["output"]), e["rc"], expected)
        except Exception as exc:  # an unreadable output is a wrong output
            errors = [f"output check raised {exc!r}"]
        e.update(ok=not errors, errors=errors[:3])
        shutil.rmtree(e.pop("output"), ignore_errors=True)
    failed = sum(not e["ok"] for e in execs)
    ok_steady = [e for e in execs if e["phase"] == "steady" and e["ok"]]
    wall = _median([e["wall_s"] for e in ok_steady])
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_s": (execs[0]["wall_s"], "s"),
        "rows_per_s": (rows / wall if wall else 0.0, "rows/s"),
        "cpu_s": (_median([e["cpu_s"] for e in ok_steady]) or 0.0, "s"),
        "peak_rss_mb": (max(e["peak_rss_mb"] for e in execs), "MB"),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "input_digest": manifest["input_digest"],
        "rows": rows, "setup_launches_s": setups, "launch_s": result["launch_s"], "executions": execs,
        "e2e": {k: v for k, (v, _) in e2e.items()}, "loadavg_end": os.getloadavg(),
    }
    correct = failed == 0
    metrics = e2e
    if args.trace:
        trace = result["trace"]
        record["trace"] = trace
        metrics = {k: tuple(v) for k, v in trace["metrics"].items()}
        if trace["unattributed_jobs"]:
            print(f"{trace['unattributed_jobs']} Spark jobs ran outside every span", file=sys.stderr)
            correct = False
        untraced = base / f"{args.workload}-{args.seed}-trace0" / "run.json"
        ref = json.loads(untraced.read_text()) if untraced.is_file() else {}
        if ref.get("input_digest") == manifest["input_digest"] and wall and ref["e2e"]["rows_per_s"]:
            base_wall = rows / ref["e2e"]["rows_per_s"]
            record["overhead_pct"] = 100.0 * (wall / base_wall - 1.0)
            print(f"tracing overhead: steady median {wall:.3f} s traced vs {base_wall:.3f} s "
                  f"untraced ({record['overhead_pct']:+.1f}%)", file=sys.stderr)
    (work / "run.json").write_text(json.dumps(record, indent=1))
    for e in execs:
        if not e["ok"]:
            print(f"{e['phase']} execution failed: {e['errors']}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": len(execs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
