"""End-to-end UC#1→UC#2 pipeline test (SURVEY §5.2): two deliberately
perturbed database copies; the reports must name exactly the perturbed
tables/partitions — and must NOT flag a reorder-only table."""

import pytest
from pyspark.sql import functions as F

from hive_scripts_spark.config import EndpointConfig, JobConfig
from hive_scripts_spark.pipeline import TableSpec, run_validation


@pytest.fixture(scope="module")
def dbs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("lake")
    src_dir, tgt_dir = str(base / "source"), str(base / "target")

    emp = spark.range(300).select(
        F.col("id").alias("emp_id"),
        F.concat(F.lit("name"), F.col("id")).alias("name"),
        (F.col("id") % 5).cast("int").alias("dept_id"),
        (F.col("id") * 10.0 + 0.5).alias("salary_amt"),
    )
    dept = spark.createDataFrame(
        [(i, f"dept{i}", f"loc{i % 2}") for i in range(5)],
        "dept_id int, dept_name string, location string",
    )
    salary = spark.range(240).select(
        F.col("id").alias("emp_id"),
        F.concat(F.lit("2024-0"), (F.col("id") % 4 + 1).cast("string")).alias("month"),
        (F.col("id") * 1.25).alias("amount"),
    )
    marks = spark.range(200).select(
        F.col("id").alias("student_id"),
        (F.col("id") % 3).cast("int").alias("term"),
        (F.col("id") % 100).cast("double").alias("score"),
    )

    # source copies
    emp.write.mode("overwrite").parquet(f"{src_dir}/emp.parquet")
    dept.write.mode("overwrite").parquet(f"{src_dir}/dept.parquet")
    salary.write.mode("overwrite").parquet(f"{src_dir}/salary.parquet")
    marks.write.mode("overwrite").parquet(f"{src_dir}/marks.parquet")

    # target perturbations (FIXTURES.md §A):
    # emp: drop 3 rows from partition dept_id=2 → UC#1 count mismatch
    emp.where(~((F.col("dept_id") == 2) & (F.col("emp_id") < 15))).write.mode(
        "overwrite"
    ).parquet(f"{tgt_dir}/emp.parquet")
    # dept: identical → matched, consistent
    dept.write.mode("overwrite").parquet(f"{tgt_dir}/dept.parquet")
    # salary: mutate ONE amount, same row count → UC#1 passes, UC#2 catches
    salary.withColumn(
        "amount",
        F.when(F.col("emp_id") == 7, F.lit(123456.78)).otherwise(F.col("amount")),
    ).write.mode("overwrite").parquet(f"{tgt_dir}/salary.parquet")
    # marks: reorder only → must NOT be flagged anywhere
    marks.orderBy(F.col("student_id").desc()).repartition(5).write.mode(
        "overwrite"
    ).parquet(f"{tgt_dir}/marks.parquet")

    return src_dir, tgt_dir


ALL_SPECS = [
    TableSpec("emp", partition_cols=["dept_id"], key_cols=["emp_id"]),
    TableSpec("dept"),
    TableSpec("salary", partition_cols=["month"], key_cols=["emp_id", "month"]),
    TableSpec("marks", partition_cols=["term"], key_cols=["student_id"]),
]
# (table, partition) keys of the fixture: emp 5, dept 1, salary 4, marks 3
N_KEYS = 13
# run_validation's Spark jobs on the fixture: 8 parquet schema reads (one
# per table side), 9 for the one aggregate collect (a shuffle-map job per
# table side, then the ordered take), 9 for the reconciled and
# consistency collects over local frames (each side alignment is a union
# + one groupBy, one shuffle), 4 report writes.
PIPELINE_JOBS = 30


def _config(dbs) -> JobConfig:
    src_dir, tgt_dir = dbs
    return JobConfig(
        source=EndpointConfig(path=src_dir),
        target=EndpointConfig(path=tgt_dir),
        tables=[s.name for s in ALL_SPECS],
    )


def test_full_validation(dbs, spark, tmp_path):
    result = run_validation(
        spark,
        _config(dbs),
        ALL_SPECS,
        output_dir=str(tmp_path / "out"),
        sample_fraction=1.0,
    )

    # UC#1: exactly emp/dept_id=2 mismatches
    mm = {
        (r["table_name"], r["partition_spec"]) for r in result.mismatched.collect()
    }
    assert mm == {("emp", "dept_id=2")}

    # UC#2: exactly salary's mutated month is inconsistent; emp-partition 2
    # never reaches UC#2 (count mismatch), marks is consistent everywhere
    cons = {
        (r["table_name"], r["partition_spec"]): r["status"]
        for r in result.consistency.collect()
    }
    month_of_emp7 = "month=2024-04"  # emp_id 7 → 7 % 4 + 1 = 4
    assert cons[("salary", month_of_emp7)] == "inconsistent"
    flagged = {k for k, v in cons.items() if v == "inconsistent"}
    assert flagged == {("salary", month_of_emp7)}
    assert all(
        v == "consistent" for k, v in cons.items() if k[0] in ("marks", "dept", "emp")
    )

    # report files exist with headers
    import glob

    out_csvs = glob.glob(str(tmp_path / "out" / "*" / "*" / "*.csv"))
    assert out_csvs, "report CSVs written"


def test_full_validation_rows_mode(dbs, spark):
    # reference-literal LIMIT-n sampling (sample_mode='rows'): the
    # key-ordered top-n picks the same logical rows on both sides, so the
    # reorder-only table stays consistent and the mutated row (emp_id=7,
    # inside the first 50 by key) is still caught
    src_dir, tgt_dir = dbs
    cfg = JobConfig(
        source=EndpointConfig(path=src_dir),
        target=EndpointConfig(path=tgt_dir),
        tables=["dept", "salary", "marks"],
        sample_size=50,
        sample_mode="rows",
    )
    specs = [
        TableSpec("dept", key_cols=["dept_id"]),
        TableSpec("salary", key_cols=["emp_id", "month"]),
        TableSpec("marks", key_cols=["student_id", "term"]),
    ]
    result = run_validation(
        spark, cfg, specs, sample_mode=cfg.sample_mode, sample_rows=cfg.sample_size
    )
    status = {
        r["table_name"]: r["status"] for r in result.consistency.collect()
    }
    assert status == {
        "dept": "consistent",
        "salary": "inconsistent",
        "marks": "consistent",
    }


def test_schema_drift_precheck_clean_and_dirty(dbs, spark, tmp_path):
    src_dir, tgt_dir = dbs
    cfg = JobConfig(
        source=EndpointConfig(path=src_dir),
        target=EndpointConfig(path=tgt_dir),
        tables=["dept"],
    )
    res = run_validation(spark, cfg, [TableSpec("dept")])
    assert res.schema_drift.count() == 0  # identical schemas → empty report

    # write a drifted copy of dept on the target side
    import shutil

    drifted = str(tmp_path / "tgt2")
    shutil.copytree(tgt_dir, drifted)
    spark.read.parquet(f"{tgt_dir}/dept.parquet").withColumn(
        "location", F.lit(1)
    ).write.mode("overwrite").parquet(f"{drifted}/dept.parquet")
    cfg2 = JobConfig(
        source=EndpointConfig(path=src_dir),
        target=EndpointConfig(path=drifted),
        tables=["dept"],
    )
    res2 = run_validation(spark, cfg2, [TableSpec("dept")])
    drift = {(r["column"], r["status"]) for r in res2.schema_drift.collect()}
    assert drift == {("location", "type_mismatch")}


# --- one scan per side, each verdict computed once --------------------------

@pytest.mark.parametrize("fraction", [0.1, 1.0])
@pytest.mark.parametrize("partition_cols", [["p"], []], ids=["partitioned", "global"])
def test_fused_aggregate_equals_the_two_scans(spark, fraction, partition_cols):
    """The one-scan aggregate gives partition_counts' counts and
    sampled_fingerprint's fingerprints and sample sizes, per partition;
    a partition whose sample is empty has sample_rows 0 and no
    sampled_fingerprint row."""
    from hive_scripts_spark.operators.fingerprint import (
        counts_and_sampled_fingerprint,
        sampled_fingerprint,
    )
    from hive_scripts_spark.operators.reconcile import partition_counts

    # 2 rows per partition: at fraction 0.1 most partitions sample nothing
    df = spark.range(60).select(
        F.col("id").alias("k"),
        (F.col("id") % 30).cast("int").alias("p"),
        (F.col("id") * 1.5).alias("v"),
    )
    fused = {
        (r["table_name"], r["partition_spec"]): r
        for r in counts_and_sampled_fingerprint(
            df, ["k"], "t", partition_cols, fraction
        ).collect()
    }
    counts = {
        (r["table_name"], r["partition_spec"]): r["row_count"]
        for r in partition_counts(df, partition_cols, "t").collect()
    }
    fps = {
        (r["table_name"], r["partition_spec"]): (r["fingerprint"], r["row_count"])
        for r in sampled_fingerprint(
            df, ["k"], "t", partition_cols, fraction
        ).collect()
    }
    assert {k: r["row_count"] for k, r in fused.items()} == counts
    assert {
        k: (r["fingerprint"], r["sample_rows"])
        for k, r in fused.items()
        if r["sample_rows"] > 0 or not partition_cols
    } == fps
    sizes = [r["sample_rows"] for r in fused.values()]
    if partition_cols and fraction < 1:
        assert 0 in sizes and max(sizes) > 0  # both cases exercised
    if fraction == 1.0:
        assert sizes == [r["row_count"] for r in fused.values()]


def test_empty_samples_keep_the_uc2_edge_semantics(dbs, spark):
    """With nothing sampled, a partitioned table gets no UC#2 row and an
    unpartitioned one still gets exactly one (NULL fingerprints, both
    sides empty: consistent)."""
    result = run_validation(spark, _config(dbs), ALL_SPECS, sample_fraction=0.0)
    assert [tuple(r) for r in result.consistency_rows] == [
        ("dept", None, None, None, "consistent")
    ]
    assert {r["table_name"] for r in result.mismatched.collect()} == {"emp"}


def test_verdict_bound_raises_a_typed_error(dbs, spark, monkeypatch):
    from hive_scripts_spark import pipeline

    # at the bound every collect fits: 2 x 13 aggregate rows, 13 verdicts
    monkeypatch.setattr(pipeline, "VERDICT_ROW_BOUND", N_KEYS)
    ok = run_validation(spark, _config(dbs), ALL_SPECS, sample_fraction=1.0)
    assert len(ok.reconciled_rows) == N_KEYS
    monkeypatch.setattr(pipeline, "VERDICT_ROW_BOUND", N_KEYS - 1)
    with pytest.raises(pipeline.VerdictTooLargeError, match="more than 24 rows"):
        run_validation(spark, _config(dbs), ALL_SPECS, sample_fraction=1.0)


def test_validate_cli_job_budget(dbs, spark, tmp_path, monkeypatch, capsys):
    """``run_validation`` scans each table side once and collects each
    verdict once; the CLI's tables and exit code then read local frames
    and run no Spark job. Pinned with statusTracker job groups."""
    import hive_scripts_spark.__main__ as cli

    src_dir, tgt_dir = dbs
    cfg = tmp_path / "validate.ini"
    cfg.write_text(
        f"[Source]\nPath:{src_dir}\n[Target]\nPath:{tgt_dir}\n"
        "[Tables]\nemp\ndept\nsalary\nmarks\n"
        "[Partitions]\nemp:dept_id\nsalary:month\nmarks:term\n"
        "[SampleDataPercentage]\n100\n"
    )
    sc = spark.sparkContext
    real = cli.run_validation

    def grouped(*args, **kwargs):
        sc.setJobGroup("validate-pipeline", "run_validation")
        try:
            return real(*args, **kwargs)
        finally:
            sc.setJobGroup("validate-cli", "show and exit code")

    monkeypatch.setattr(cli, "run_validation", grouped)
    monkeypatch.setattr(cli, "_SHOW_ROWS", 5)
    try:
        rc = cli.main(["validate", str(cfg), "--output", str(tmp_path / "out")])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    out = capsys.readouterr().out
    tracker = sc.statusTracker()
    assert rc == 1 and "FAIL: 1 mismatched" in out
    assert len(tracker.getJobIdsForGroup("validate-cli")) == 0
    assert len(tracker.getJobIdsForGroup("validate-pipeline")) == PIPELINE_JOBS
    (run_dir,) = (tmp_path / "out").iterdir()
    assert f"(first 5 of {N_KEYS} rows; full list in {run_dir})" in out
    assert f"(first 5 of {N_KEYS - 1} rows; full list in {run_dir})" in out
