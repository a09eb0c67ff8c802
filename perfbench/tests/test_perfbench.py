"""Fast tests of the benchmark's own parts (no Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import json
import os
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import proctree  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

SMALL = {
    "validate": {"sales": 3_000},
    "export": {"docs": 600},
    "semdedup": {"vectors": 600},
}


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    base = tmp_path_factory.mktemp("inputs")
    return {w: (base / w, gen.ensure_inputs(w, 11, base / w, SMALL[w])) for w in SMALL}


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_same_digest_other_seed_differs(workload, inputs, tmp_path):
    _, man = inputs[workload]
    again = gen.ensure_inputs(workload, 11, tmp_path / "again", SMALL[workload])
    other = gen.ensure_inputs(workload, 12, tmp_path / "other", SMALL[workload])
    assert again["input_digest"] == man["input_digest"]
    assert other["input_digest"] != man["input_digest"]


def test_reuse_regenerates_a_tampered_input(tmp_path):
    out = tmp_path / "semdedup"
    man = gen.ensure_inputs("semdedup", 3, out, SMALL["semdedup"])
    (out / "expected.json").write_text("{}")
    again = gen.ensure_inputs("semdedup", 3, out, SMALL["semdedup"])
    assert again["input_digest"] == man["input_digest"]
    assert json.loads((out / "expected.json").read_text())["survivors"]


def test_reap_orphans_ends_a_detached_grandchild():
    # like the PySpark daemon: a descendant in a session of its own whose
    # parent has exited
    run.become_subreaper()
    child = subprocess.run(
        [sys.executable, "-c",
         "import subprocess; print(subprocess.Popen(['sleep', '60'], start_new_session=True).pid)"],
        capture_output=True, text=True, check=True)
    orphan = int(child.stdout)
    assert os.path.exists(f"/proc/{orphan}")
    run.reap_orphans(timeout=0.5)
    assert not os.path.exists(f"/proc/{orphan}")


# --- output checks: a faithful output passes, a wrong one is rejected -----


def _write_csv(path: Path, header: list[str], rows: list[list[str]]):
    path.mkdir(parents=True)
    with (path / "part-00000.csv").open("w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def _validate_output(out: Path, exp: dict, drop_inconsistent: bool = False):
    run = out / "10-17-2026"
    _write_csv(run / "TableMismatchedData", ["table_name", "partition_spec", "src_count", "tgt_count", "status"],
               [[t, p, "5", "4", s] for t, p, s in exp["mismatched"]])
    _write_csv(run / "SchemaDrift", ["table_name", "column", "src_type", "tgt_type", "status"],
               exp["schema_drift"])
    incons = exp["inconsistent"][1:] if drop_inconsistent else exp["inconsistent"]
    _write_csv(run / "TableDataNotConsistent",
               ["table_name", "partition_spec", "src_fingerprint", "tgt_fingerprint", "status"],
               [[t, p, "1", "2", "inconsistent"] for t, p in incons])


def test_check_validate(inputs, tmp_path):
    exp = json.loads((inputs["validate"][0] / "expected.json").read_text())
    _validate_output(tmp_path / "good", exp)
    assert checks.check_validate(tmp_path / "good", 1, exp) == []
    assert checks.check_validate(tmp_path / "good", 0, exp)  # wrong exit code
    _validate_output(tmp_path / "bad", exp, drop_inconsistent=True)
    assert checks.check_validate(tmp_path / "bad", 1, exp)


def _export_output(out: Path, exp: dict, mutate=None):
    kept = {int(d): list(v) for d, v in exp["kept"].items()}
    if mutate:
        mutate(kept)
    for shard in range(exp["shards"]):
        ids = sorted(d for d, v in kept.items() if v[2] == shard)
        if ids:
            (out / f"shard={shard}").mkdir(parents=True)
            pq.write_table(pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "n_tokens": pa.array([kept[d][1] for d in ids], pa.int32()),
                "predicted_lang": [kept[d][0] for d in ids],
                "pack_id": pa.array([kept[d][3] for d in ids], pa.int64()),
            }), out / f"shard={shard}" / "part-00000.parquet")


def test_check_export(inputs, tmp_path):
    exp = json.loads((inputs["export"][0] / "expected.json").read_text())
    _export_output(tmp_path / "good", exp)
    assert checks.check_export(tmp_path / "good", 0, exp) == []
    assert checks.check_export(tmp_path / "good", 1, exp)
    first = min(int(d) for d in exp["kept"])
    _export_output(tmp_path / "dropped", exp, lambda k: k.pop(first))
    assert checks.check_export(tmp_path / "dropped", 0, exp)
    _export_output(tmp_path / "lang", exp, lambda k: k[first].__setitem__(0, "xx"))
    assert checks.check_export(tmp_path / "lang", 0, exp)
    _export_output(tmp_path / "pack", exp, lambda k: k[first].__setitem__(3, 99))
    assert checks.check_export(tmp_path / "pack", 0, exp)


def test_check_semdedup(inputs, tmp_path):
    exp = json.loads((inputs["semdedup"][0] / "expected.json").read_text())
    assert exp["groups"] > 0 and len(exp["survivors"]) < exp["rows"]

    def write(name, ids):
        (tmp_path / name).mkdir()
        pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64())}), tmp_path / name / "part-0.parquet")
        return tmp_path / name

    assert checks.check_semdedup(write("good", exp["survivors"]), 0, exp) == []
    dropped = sorted(set(range(exp["rows"])) - set(exp["survivors"]))
    assert checks.check_semdedup(write("extra", exp["survivors"] + dropped[:1]), 0, exp)
    assert checks.check_semdedup(write("short", exp["survivors"][1:]), 0, exp)


def test_export_construction_covers_every_fate(inputs):
    exp = json.loads((inputs["export"][0] / "expected.json").read_text())
    docs = pq.read_table(inputs["export"][0] / "documents.parquet").to_pydict()
    corpus = [d for d in docs["doc_id"] if d % gen.BENCH_MOD]
    assert 0 < len(exp["kept"]) < len(corpus)
    assert set(exp["docs_per_lang"]) == set(gen.LANGS)


# --- event-log fold on a tiny fixture --------------------------------------


def _fixture(tmp_path: Path):
    """Two spans under one execution root: ``main`` (t 100-110 s) with a
    child ``operators.cluster`` span (t 102-106 s). Job 0 runs in the
    cluster span, job 1 in main; job 2 has a group no span recorded."""
    spans_ = [
        {"id": "root", "layer": "bench", "name": "exec0", "parent": None, "t0": 99.0, "t1": 111.0},
        {"id": "m", "layer": "main", "name": "main", "parent": "root", "t0": 100.0, "t1": 110.0},
        {"id": "c", "layer": "operators.cluster", "name": "cc", "parent": "m", "t0": 102.0, "t1": 106.0},
    ]
    plan = {"metrics": [{"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"}],
            "children": []}

    def task(stage, launch, finish, cpu_ns, python_ms=0, shuffle=0, spill=0, read=0, written=0):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": (
                [{"ID": 7, "Name": "time to run Python workers", "Update": str(python_ms)}] if python_ms else [])},
            "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": 100,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Disk Bytes Spilled": spill, "Input Metrics": {"Bytes Read": read},
                             "Output Metrics": {"Bytes Written": written}},
        }

    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "c"}},
        task(0, 103_000, 104_000, 2_000_000_000, python_ms=500, shuffle=3_000_000),
        task(1, 103_500, 105_000, 1_000_000_000, spill=2_000_000),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2, 1], "Properties": {"spark.jobGroup.id": "m"}},
        task(2, 107_000, 108_000, 4_000_000_000, read=5_000_000, written=1_000_000),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "gone"}},
    ]
    log = tmp_path / "eventlog" / "eventlog_v2_local-1"
    log.mkdir(parents=True)
    lines = [json.dumps(e) for e in events]
    (log / "events_1_local-1").write_text("\n".join(lines[:4]) + "\n")
    (log / "events_2_local-1").write_text("\n".join(lines[4:]) + "\n")
    return spans_, tmp_path / "eventlog"


def test_fold_attributes_jobs_and_time_per_span(tmp_path):
    spans_, log = _fixture(tmp_path)
    events = spans.read_events(log)
    folded = spans.fold(events, spans_, ["root"])
    assert folded["jobs"] == 3 and folded["unattributed_jobs"] == 1
    e = folded["executions"][0]
    assert e["main.jobs"] == 1 and e["operators.cluster.jobs"] == 1
    assert e["operators.cluster.exec_cpu_s"] == pytest.approx(3.0)
    assert e["operators.cluster.python_s"] == pytest.approx(0.5)
    assert e["operators.cluster.shuffle_write_mb"] == pytest.approx(3.0)
    assert e["operators.cluster.spill_mb"] == pytest.approx(2.0)
    assert e["operators.cluster.gc_s"] == pytest.approx(0.2)
    assert e["main.exec_cpu_s"] == pytest.approx(4.0)
    assert e["main.self_s"] == pytest.approx(6.0)
    assert e["operators.cluster.self_s"] == pytest.approx(4.0)
    # cluster span 102-106 s, tasks cover 103-105 s
    assert e["operators.cluster.driver_gap_s"] == pytest.approx(2.0)
    # main's own time is 100-102 and 106-110 s, a task covers 107-108 s
    assert e["main.driver_gap_s"] == pytest.approx(5.0)
    assert e["input_mb"] == pytest.approx(5.0) and e["output_mb"] == pytest.approx(1.0)
    metrics = spans.layer_metrics(folded, 4.5, [10.0])
    assert set(metrics) == set(spans.per_layer_metrics())
    assert metrics["pipeline.jobs"] == (0.0, "count")
    assert metrics["trace.unattributed_jobs"][0] == 1


def test_benchmark_json_lists_what_the_runs_report():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == spans.per_layer_metrics()
    assert {w["name"] for w in bench["workloads"]} <= set(gen.GENERATORS)
    assert {m["name"] for m in bench["end_to_end"]} == {
        "setup_s", "cold_s", "rows_per_s", "cpu_s", "peak_rss_mb"}
