"""CLI dispatch tests — in-process (get_spark().getOrCreate() reuses the
test session, so no subprocess JVM spin-up)."""

from hive_scripts_spark.__main__ import main


def test_sql_subcommand_shows_result(spark, capsys):
    rc = main(
        [
            "sql",
            "select count(*) as n from region",
            "--db",
            "/root/testdata/sf0.001",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "|n  |" in out and "|5  |" in out


def test_sql_subcommand_writes_csv(spark, tmp_path, capsys):
    out_dir = str(tmp_path / "report")
    rc = main(
        [
            "sql",
            "select r_name from region order by r_name",
            "--db",
            "/root/testdata/sf0.001",
            "--output",
            out_dir,
        ]
    )
    assert rc == 0
    csvs = list((tmp_path / "report").glob("*.csv"))
    assert len(csvs) == 1
    lines = csvs[0].read_text().strip().splitlines()
    assert lines[0] == "r_name" and len(lines) == 6


def test_incremental_subcommand_roundtrip(spark, tmp_path, capsys):
    import time

    from pyspark.sql import functions as F

    from hive_scripts_spark.sources.sinks import write_partitioned

    df = spark.range(80).select(
        F.col("id").alias("o_id"), (F.col("id") % 2).cast("int").alias("p")
    )
    src, tgt, state = (
        str(tmp_path / "src"),
        str(tmp_path / "tgt"),
        str(tmp_path / "state"),
    )
    write_partitioned(df, f"{src}/t", ["p"])
    write_partitioned(df, f"{tgt}/t", ["p"])
    args = ["incremental", src, tgt, "t", "p", "--state", state]
    assert main(args) == 0  # seed run, all matched
    out = capsys.readouterr().out
    assert "OK: 0 mismatched" in out
    assert main(args) == 0  # no change → no scan
    assert "no partitions changed" in capsys.readouterr().out

    time.sleep(1.1)
    df.where("p = 1 and o_id > 10").drop("p").write.mode("overwrite").parquet(
        f"{tgt}/t/p=1"
    )
    assert main(args) == 1  # changed partition mismatches
    out = capsys.readouterr().out
    assert "p=1\tmismatched" in out and "FAIL: 1" in out

    # UC#2 on the same changed set: row drop → count mismatch AND
    # fingerprint inconsistency, each counted once
    time.sleep(1.1)
    df.where("p = 1 and o_id > 20").drop("p").write.mode("overwrite").parquet(
        f"{tgt}/t/p=1"
    )
    rc = main(args + ["--fingerprint-keys", "o_id"])
    assert rc == 1
    out = capsys.readouterr().out
    assert "p=1\tmismatched" in out
    assert "p=1\tfingerprint:inconsistent" in out
    assert "FAIL: 2" in out


def test_curate_with_redact_and_boilerplate_stages(spark, tmp_path, capsys):
    """--redact-pii and --strip-boilerplate run BEFORE curation: the
    kept text carries redaction markers where the source had PII, and
    boilerplate stripping composes without breaking the pipeline."""
    from pyspark.sql import functions as F

    from hive_scripts_spark.__main__ import main

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    db = tmp_path / "db"
    db.mkdir()
    # plant an email into otherwise-normal docs so redaction is visible
    src.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" x@y.io"))
        ).otherwise(F.col("text")),
    ).write.parquet(str(db / "documents.parquet"))

    out = tmp_path / "curated"
    rc = main(
        ["curate", "--db", str(db), "--output", str(out),
         "--redact-pii", "--strip-boilerplate", "1"]
    )
    assert rc == 0
    capsys.readouterr()
    written = spark.read.parquet(str(out))
    assert written.count() > 0
    assert written.where("text like '%x@y.io%'").count() == 0
    assert written.where("text like '%<EMAIL>%'").count() > 0


def test_curate_subcommand_writes_parquet_and_report(spark, tmp_path, capsys):
    from hive_scripts_spark.__main__ import main

    out = tmp_path / "curated"
    rc = main(
        [
            "curate",
            "--db",
            "/root/testdata/sf0.001",
            "--output",
            str(out),
            "--bench-mod",
            "23",
        ]
    )
    assert rc == 0
    written = spark.read.parquet(str(out))
    assert set(written.columns) == {"doc_id", "text", "n_tokens", "predicted_lang"}
    corpus_n = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where("doc_id % 23 != 0")
        .count()
    )
    n = written.count()
    assert 0 < n < corpus_n  # gates dropped something, pipeline kept something
    # the CLI output must agree with the written data
    report = capsys.readouterr().out
    for row in written.groupBy("predicted_lang").count().collect():
        assert f"{row['predicted_lang']}: {row['count']} docs" in report


def test_chunk_subcommand_writes_parquet_and_stats(spark, tmp_path, capsys):
    from hive_scripts_spark.__main__ import main

    out = tmp_path / "chunks"
    rc = main(
        [
            "chunk",
            "--db",
            "/root/testdata/sf0.001",
            "--output",
            str(out),
            "--chunk-tokens",
            "32",
            "--overlap",
            "8",
        ]
    )
    assert rc == 0
    written = spark.read.parquet(str(out))
    assert set(written.columns) == {"doc_id", "chunk_id", "chunk_text", "n_tokens"}
    assert written.count() > 0
    assert written.agg({"n_tokens": "max"}).first()[0] <= 32
    # every non-empty doc is covered
    n_docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where("length(trim(text)) > 0")
        .count()
    )
    assert written.select("doc_id").distinct().count() == n_docs
    report = capsys.readouterr().out
    assert "chunks over" in report


def test_export_subcommand_full_training_pipeline(spark, tmp_path, capsys):
    import glob

    from hive_scripts_spark.__main__ import main

    out = tmp_path / "export"
    rc = main(
        [
            "export",
            "--db",
            "/root/testdata/sf0.001",
            "--output",
            str(out),
            "--shards",
            "4",
            "--budget",
            "128",
            "--bench-mod",
            "23",
        ]
    )
    assert rc == 0
    # Hive-partitioned layout: shard=N directories
    shard_dirs = sorted(
        p.split("=")[-1] for p in glob.glob(str(out / "shard=*"))
    )
    assert shard_dirs == ["0", "1", "2", "3"]
    written = spark.read.parquet(str(out))
    assert {"doc_id", "text", "n_tokens", "predicted_lang", "pack_id"} <= set(
        written.columns
    )
    # deterministic: re-running the export never moves a doc's shard
    from hive_scripts_spark.functions.canonical import shard_by_hash

    expect = {
        r["doc_id"]: r["shard"]
        for r in shard_by_hash(
            written.select("doc_id"), ["doc_id"], n_shards=4
        ).collect()
    }
    got = {r["doc_id"]: r["shard"] for r in written.select("doc_id", "shard").collect()}
    assert got == expect
    # pack offsets: pack 0 exists in every shard, ids contiguous from 0
    for s in range(4):
        packs = sorted(
            r["pack_id"]
            for r in written.where(f"shard = {s}").select("pack_id").distinct().collect()
        )
        assert packs == list(range(len(packs)))
    report = capsys.readouterr().out
    for s in range(4):
        assert f"shard={s}:" in report  # per-shard stats printed


def test_export_with_splits_partitions_and_boundaries(spark, tmp_path):
    import glob

    from hive_scripts_spark.__main__ import main

    out = tmp_path / "export_splits"
    rc = main(
        [
            "export",
            "--db",
            "/root/testdata/sf0.001",
            "--output",
            str(out),
            "--shards",
            "2",
            "--budget",
            "128",
            "--splits",
            "80,10,10",
        ]
    )
    assert rc == 0
    # layout: split=S/shard=N directories
    split_dirs = sorted(
        p.rsplit("=", 1)[-1] for p in glob.glob(str(out / "split=*"))
    )
    assert split_dirs == ["test", "train", "val"]
    written = spark.read.parquet(str(out))
    # the split is the hash-stable assignment — identical to calling the
    # operator directly on the written ids
    from hive_scripts_spark.functions.canonical import train_val_test_split

    expect = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(
            written.select("doc_id"), ["doc_id"], val_pct=10, test_pct=10
        ).collect()
    }
    got = {r["doc_id"]: r["split"] for r in written.select("doc_id", "split").collect()}
    assert got == expect
    # pack ids are contiguous from 0 within every (split, shard)
    from pyspark.sql import functions as F

    packs = (
        written.groupBy("split", "shard")
        .agg(
            F.min("pack_id").alias("lo"),
            F.max("pack_id").alias("hi"),
            F.countDistinct("pack_id").alias("n"),
        )
        .collect()
    )
    for r in packs:
        assert r["lo"] == 0 and r["n"] == r["hi"] + 1, r


def test_export_rejects_bad_splits(tmp_path):
    import pytest

    from hive_scripts_spark.__main__ import main

    for bad in ("90,5", "banana", "50,30,10"):
        with pytest.raises(SystemExit):
            main(
                [
                    "export",
                    "--db",
                    "/root/testdata/sf0.001",
                    "--output",
                    str(tmp_path / "x"),
                    "--splits",
                    bad,
                ]
            )


def test_ingest_subcommand_jsonl_to_documents(spark, tmp_path, capsys):
    from hive_scripts_spark.__main__ import main

    src = tmp_path / "crawl.jsonl"
    src.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web"}\n'
        "NOT JSON\n"
        '{"doc_id": 2, "text": "ciao", "lang": "it", "source": "web"}\n'
    )
    out = tmp_path / "db"
    rc = main(["ingest", str(src), "--output", str(out)])
    assert rc == 0
    docs = spark.read.parquet(str(out / "documents.parquet"))
    rows = {r["doc_id"]: r for r in docs.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_chars"] == len("hello world")
    q = spark.read.text(str(out / "_quarantine")).collect()
    assert [r["value"] for r in q] == ["NOT JSON"]
    # the ingested table feeds the rest of the pipeline directly
    rc = main(
        ["chunk", "--db", str(out), "--output", str(tmp_path / "chunks"),
         "--chunk-tokens", "4", "--overlap", "1"]
    )
    assert rc == 0
    assert spark.read.parquet(str(tmp_path / "chunks")).count() >= 2


def test_compact_subcommand_reports_and_applies(spark, tmp_path, capsys):
    from hive_scripts_spark.__main__ import main

    tbl = tmp_path / "tbl"
    df = spark.range(0, 300).selectExpr("id", "id % 3 as p")
    df.repartition(8).write.partitionBy("p").parquet(str(tbl))
    import glob

    assert len(glob.glob(str(tbl / "p=0" / "*.parquet"))) > 1
    # report only: offenders listed, nothing rewritten
    rc = main(
        ["compact", str(tbl), "--partition-cols", "p", "--min-avg-bytes",
         str(32 * 1024 * 1024)]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "p=0:" in out and "compacted" not in out
    assert len(glob.glob(str(tbl / "p=0" / "*.parquet"))) > 1
    before = {r["id"] for r in spark.read.parquet(str(tbl)).collect()}
    # apply: every offender partition drops to one file, data lossless
    rc = main(
        ["compact", str(tbl), "--partition-cols", "p", "--min-avg-bytes",
         str(32 * 1024 * 1024), "--apply"]
    )
    assert rc == 0
    assert "compacted" in capsys.readouterr().out
    for p in (0, 1, 2):
        assert len(glob.glob(str(tbl / f"p={p}" / "*.parquet"))) == 1
    after = {r["id"] for r in spark.read.parquet(str(tbl)).collect()}
    assert after == before
    # second run: clean bill
    rc = main(["compact", str(tbl), "--partition-cols", "p"])
    assert rc == 0
    assert "no small-file partitions" in capsys.readouterr().out


def test_stream_reconcile_subcommand(spark, tmp_path, capsys):
    """Micro-batch UC#1 end-to-end via the CLI: perturbed target ->
    non-zero exit, verdict rows in the idempotent sink, and rerunning
    over the same checkpoint is a no-op (no duplicate batches)."""
    import shutil

    from pyspark.sql import functions as F

    from hive_scripts_spark.__main__ import main

    ev_dir = tmp_path / "ev"
    ev_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", ev_dir / "f0.parquet")
    tgt = tmp_path / "target.parquet"
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src.where("event_type != 'click' or event_id % 7 != 0").coalesce(
        1
    ).write.parquet(str(tgt))
    out = tmp_path / "verdicts"
    args = [
        "stream-reconcile", str(ev_dir), str(tgt), "--output", str(out)
    ]
    assert main(args) == 1  # perturbation detected
    outtxt = capsys.readouterr().out
    assert "not matched" in outtxt
    got = spark.read.parquet(str(out))
    statuses = {r["partition_spec"]: r["status"] for r in got.collect()}
    assert any(
        s == "mismatched" and "event_type=click" in spec
        for spec, s in statuses.items()
    )
    assert all(
        s == "matched" for spec, s in statuses.items()
        if "event_type=click" not in spec
    )
    n_before = got.count()
    # rerun over the same checkpoint: stream is drained -> no new rows
    assert main(args) == 1
    assert spark.read.parquet(str(out)).count() == n_before


def test_ann_build_and_search_roundtrip(spark, tmp_path, capsys):
    """ann-build trains a model on a bounded sample, encodes the corpus,
    and writes codes + model.json; ann-search answers top-k FROM the
    stored codes (no corpus re-read) and its results must match calling
    the search operator directly on the same stored index."""
    import json

    idx = str(tmp_path / "ivfpq_idx")
    rc = main(
        ["ann-build", "/root/testdata/sf0.001", idx, "--kind", "ivfpq",
         "--nlist", "4", "--sample", "64"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "500 codes" in out
    model = json.loads(open(f"{idx}/model.json").read())
    assert model["kind"] == "ivfpq" and len(model["centroids"]) == 4
    # cell-partitioned layout on disk
    import os

    assert any(d.startswith("cell=") for d in os.listdir(f"{idx}/codes"))

    res = str(tmp_path / "hits")
    rc = main(
        ["ann-search", "/root/testdata/sf0.001", idx,
         "--query-ids", "3,7", "--k", "4", "--output", res]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "q=3 rank=1" in out and "q=7 rank=1" in out

    from hive_scripts_spark.operators import similarity as S

    stored = spark.read.parquet(f"{idx}/codes")
    centroids = [(int(c[0]), c[1]) for c in model["centroids"]]
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where("vec_id in (3, 7)").orderBy("vec_id").collect()
    ]
    direct = sorted(
        map(
            tuple,
            S.ivfpq_search_codes(
                stored, centroids, model["codebooks"], queries, k=4, nprobe=2
            ).collect(),
        )
    )
    via_cli = sorted(map(tuple, spark.read.parquet(res).collect()))
    assert via_cli == direct


def test_ann_build_pq_kind(spark, tmp_path, capsys):
    idx = str(tmp_path / "pq_idx")
    rc = main(
        ["ann-build", "/root/testdata/sf0.001", idx, "--kind", "pq",
         "--sample", "32"]
    )
    assert rc == 0
    rc = main(
        ["ann-search", "/root/testdata/sf0.001", idx, "--query-ids", "0",
         "--k", "3"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "q=0 rank=1" in out and "q=0 rank=3" in out


def test_ann_build_append_is_incremental_and_idempotent(spark, tmp_path, capsys):
    """--append must (a) keep the first build's model (no retrain), (b)
    encode ONLY missing vectors, (c) end with search results identical
    to a one-shot full build, and (d) append nothing when re-run."""
    import json
    import shutil

    from pyspark.sql import functions as F

    full = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    half_db = tmp_path / "half"
    full_db = tmp_path / "full"
    for d, df in ((half_db, full.where("vec_id % 2 = 0")), (full_db, full)):
        d.mkdir()
        df.write.parquet(str(d / "embeddings.parquet"))

    idx = str(tmp_path / "idx")
    assert main(["ann-build", str(half_db), idx, "--kind", "ivfpq",
                 "--nlist", "4", "--sample", "64"]) == 0
    model_before = json.loads(open(f"{idx}/model.json").read())
    # append the other half: model unchanged, codes complete
    assert main(["ann-build", str(full_db), idx, "--kind", "ivfpq",
                 "--append"]) == 0
    assert json.loads(open(f"{idx}/model.json").read()) == model_before
    codes = spark.read.parquet(f"{idx}/codes")
    assert codes.count() == full.count()
    assert codes.select("vec_id").distinct().count() == full.count()
    # idempotent: nothing new to encode
    assert main(["ann-build", str(full_db), idx, "--kind", "ivfpq",
                 "--append"]) == 0
    assert spark.read.parquet(f"{idx}/codes").count() == full.count()
    # search from the appended index == search from a one-shot build
    # with the same model (write the model, skip retraining drift, by
    # encoding directly with the stored parameters)
    from hive_scripts_spark.operators import similarity as S

    centroids = [(int(c[0]), c[1]) for c in model_before["centroids"]]
    books = model_before["codebooks"]
    oneshot = S.ivfpq_encode(full, centroids, books)
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in full.where("vec_id in (1, 2)").orderBy("vec_id").collect()
    ]
    a = sorted(map(tuple, S.ivfpq_search_codes(
        spark.read.parquet(f"{idx}/codes"), centroids, books, queries, k=4
    ).collect()))
    b = sorted(map(tuple, S.ivfpq_search_codes(
        oneshot, centroids, books, queries, k=4
    ).collect()))
    assert a == b
    # kind mismatch guard
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["ann-build", str(full_db), idx, "--kind", "pq", "--append"])
    # no staging leftovers: the append route stages new codes beside the
    # code table and must clean up after the move
    import os

    assert not [
        d for d in os.listdir(idx) if d.startswith("codes_stage")
    ]
    capsys.readouterr()


def test_ann_build_append_rejects_model_shape_flags(tmp_path, capsys):
    """--m/--codes/--nlist/--sample conflict with --append (the model is
    fixed at first build); the CLI must fail loudly, not silently ignore
    them (r8 advisor item)."""
    import pytest as _pytest

    idx = str(tmp_path / "idx")
    for flags in (["--m", "4"], ["--codes", "8"], ["--nlist", "8"],
                  ["--sample", "256"]):
        with _pytest.raises(SystemExit, match="conflicts with --append"):
            main(["ann-build", "/root/testdata/sf0.001", idx,
                  "--append", *flags])
    capsys.readouterr()


def test_ann_search_rejects_unknown_query_ids(spark, tmp_path, capsys):
    import pytest as _pytest

    idx = str(tmp_path / "idx")
    assert main(["ann-build", "/root/testdata/sf0.001", idx, "--kind", "pq",
                 "--sample", "16"]) == 0
    with _pytest.raises(SystemExit, match="999999"):
        main(["ann-search", "/root/testdata/sf0.001", idx,
              "--query-ids", "0,999999"])
    capsys.readouterr()


def test_ann_build_append_requires_existing_index(tmp_path, capsys):
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="full ann-build first"):
        main(["ann-build", "/root/testdata/sf0.001",
              str(tmp_path / "nonexistent"), "--append"])
    capsys.readouterr()


def test_curate_intradoc_and_compression_stages(spark, tmp_path, capsys):
    """--dedup-intradoc collapses lines repeated inside one doc and
    --max-compression-ratio drops templated docs, composed through the
    full curate pipeline."""
    from pyspark.sql import functions as F

    from hive_scripts_spark.__main__ import main

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    db = tmp_path / "db"
    db.mkdir()
    # doc_id%11==0: append the SAME marker line twice (intra-doc dup);
    # doc_id%13==0: make the text a highly-compressible template stamp
    marker = "repeated navigation chrome line for the dedup stage"
    src.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0, F.lit("buy now click here " * 200)
        ).when(
            F.col("doc_id") % 11 == 0,
            F.concat_ws("\n", "text", F.lit(marker), F.lit(marker)),
        ).otherwise(F.col("text")),
    ).write.parquet(str(db / "documents.parquet"))

    out = tmp_path / "curated"
    rc = main(
        ["curate", "--db", str(db), "--output", str(out),
         "--dedup-intradoc", "--max-compression-ratio", "4.0"]
    )
    assert rc == 0
    capsys.readouterr()
    written = spark.read.parquet(str(out))
    assert written.count() > 0
    # the doubled marker line survives exactly once per doc
    twice = written.where(
        F.col("text").contains(marker + "\n" + marker)
    ).count()
    assert twice == 0
    assert written.where(F.col("text").contains(marker)).count() > 0
    # the template-stamped docs fell to the compression gate
    assert written.where(F.col("text").contains("buy now click here")).count() == 0


def test_semdedup_subcommand(spark, tmp_path, capsys):
    """semdedup writes the survivor frame and reports kept/dropped."""
    from hive_scripts_spark.__main__ import main

    out = tmp_path / "semdedup"
    rc = main(
        ["semdedup", "--db", "/root/testdata/sf0.001",
         "--output", str(out), "--nlist", "8", "--threshold", "0.999"]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "kept" in printed
    written = spark.read.parquet(str(out))
    assert set(written.columns) == {"vec_id", "centroid_id", "centroid_sim"}
    n_emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).count()
    assert 0 < written.count() <= n_emb


def test_mhindex_build_append_dedup_roundtrip(spark, tmp_path, capsys):
    """mhindex e2e: build over sf0.001 documents, append is counted,
    dedup of the same table against its own index drops everything
    (every doc matches itself at est_jaccard 1.0)."""
    from hive_scripts_spark.__main__ import main

    idx = tmp_path / "mhidx"
    out = tmp_path / "kept"
    rc = main(
        ["mhindex", "build", "--db", "/root/testdata/sf0.001",
         "--index", str(idx)]
    )
    assert rc == 0
    assert "500 signatures" in capsys.readouterr().out
    rc = main(
        ["mhindex", "dedup", "--db", "/root/testdata/sf0.001",
         "--index", str(idx), "--output", str(out)]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "kept 0 of 500" in printed
    # meta round-trips the build parameters
    from hive_scripts_spark.operators.dedup import read_minhash_index_meta

    meta = read_minhash_index_meta(spark, str(idx))
    assert (meta["n"], meta["num_hashes"], meta["bands"]) == (3, 32, 8)


def test_balance_subcommand(spark, tmp_path, capsys):
    """balance writes the picked frame (cap per cell honored) and
    prints the per-cell report."""
    from hive_scripts_spark.__main__ import main

    out = tmp_path / "balanced"
    rc = main(
        ["balance", "--db", "/root/testdata/sf0.001",
         "--output", str(out), "--nlist", "8", "--cap", "5"]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "kept" in printed and "cell 0:" in printed
    written = spark.read.parquet(str(out))
    assert set(written.columns) == {"vec_id", "centroid_id", "sim", "pick_order"}
    per_cell = written.groupBy("centroid_id").count().collect()
    assert per_cell and all(r["count"] <= 5 for r in per_cell)
    assert written.where("pick_order > 5").count() == 0


def test_balance_train_full(spark, tmp_path, capsys):
    """--train-full fits centroids distributedly (one map pass per
    iteration) and the pick still honors the cap."""
    from hive_scripts_spark.__main__ import main

    out = tmp_path / "balanced_full"
    rc = main(
        ["balance", "--db", "/root/testdata/sf0.001",
         "--output", str(out), "--nlist", "4", "--cap", "10",
         "--train-full", "2"]
    )
    assert rc == 0
    written = spark.read.parquet(str(out))
    per_cell = written.groupBy("centroid_id").count().collect()
    assert per_cell and all(r["count"] <= 10 for r in per_cell)


def test_audio_subcommand_end_to_end(spark, tmp_path, capsys):
    """`audio` CLI: WAV payload parquet in -> feature parquet out, in
    both modes; a non-WAV payload counts as undecoded."""
    import math
    import struct

    def wav16(samples, rate=8000):
        data = b"".join(struct.pack("<h", int(s)) for s in samples)
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    tone = [
        int(10000 * math.sin(2 * math.pi * 1000 * k / 8000 + 0.1))
        for k in range(512)
    ]
    clips = spark.createDataFrame(
        [(1, wav16(tone)), (2, b"not audio"), (3, wav16([0] * 64))],
        "clip_id long, body binary",
    )
    src = str(tmp_path / "audio_src")
    clips.write.parquet(src)

    out1 = str(tmp_path / "audio_pcm")
    rc = main(
        ["audio", "--input", src, "--output", out1,
         "--id-col", "clip_id", "--payload-col", "body"]
    )
    assert rc == 0
    assert "2 of 3 clips decoded" in capsys.readouterr().out
    pcm = {r["doc_id"]: r for r in spark.read.parquet(out1).collect()}
    assert pcm[1]["n_samples"] == 512 and pcm[2]["n_samples"] is None

    out2 = str(tmp_path / "audio_spec")
    rc = main(
        ["audio", "--input", src, "--output", out2, "--spectral",
         "--id-col", "clip_id", "--payload-col", "body"]
    )
    assert rc == 0
    # the silent clip DECODED (r13 review: count n_samples, not the
    # by-contract-NULL spectral centroid)
    assert "2 of 3 clips decoded" in capsys.readouterr().out
    spec = {r["doc_id"]: r for r in spark.read.parquet(out2).collect()}
    assert abs(spec[1]["spectral_centroid_hz"] - 1000) < 10
    assert spec[2]["spectral_centroid_hz"] is None
    assert spec[3]["n_samples"] == 64
    assert spec[3]["spectral_centroid_hz"] is None


def test_frames_subcommand_end_to_end(spark, tmp_path, capsys):
    """`frames` CLI: clip parquet in -> sampled frame parquet out, with
    the dedup-ready md5 column (two clips share a frame here)."""
    import numpy as np

    from tests.jpeg_codec import encode_gray
    from tests.test_multimodal import _avi

    f1 = encode_gray(np.full((8, 8), 64, np.uint8))
    f2 = encode_gray(np.full((8, 8), 100, np.uint8))
    clips = spark.createDataFrame(
        [(1, _avi([f1, f2])), (2, _avi([f1]))],
        "clip_id long, body binary",
    )
    src = str(tmp_path / "clips")
    out = str(tmp_path / "frames")
    clips.write.parquet(src)
    rc = main(
        [
            "frames", "--input", src, "--output", out,
            "--every-n", "1",
            "--id-col", "clip_id", "--payload-col", "body",
        ]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "3 frames from 2 clips, 2 unique by md5" in printed
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert set(got.columns) >= {
        "doc_id", "frame_index", "frame_payload", "frame_md5"
    }


def _orders_db(spark, tmp_path, name, pred=None):
    """Write a (filtered) copy of sf0.001 orders as a sketchable db
    dir (<dir>/orders.parquet)."""
    db = tmp_path / name
    db.mkdir()
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    if pred is not None:
        df = df.where(pred)
    df.write.parquet(str(db / "orders.parquet"))
    return str(db)


def test_sketch_kmv_build_estimate(spark, tmp_path, capsys):
    """kmv build over orders (150 distinct custkeys > k=64 -> the
    estimator branch) then estimate from the stored sketch."""
    out = str(tmp_path / "sk")
    rc = main(
        [
            "sketch", "build", "--db", "/root/testdata/sf0.001",
            "--table", "orders", "--cols", "o_custkey",
            "--k", "64", "--out", out,
        ]
    )
    assert rc == 0
    assert "(kmv, 64 rows)" in capsys.readouterr().out
    rc = main(["sketch", "estimate", "--sketch-dirs", out])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "n_hashes=64 est_distinct=" in printed


def test_sketch_kmv_split_merge_matches_whole(spark, tmp_path, capsys):
    """THE mergeability contract, end to end: per-half sketches merged
    at estimate time print the exact same line as one whole-table
    sketch."""
    from pyspark.sql import functions as F

    whole = _orders_db(spark, tmp_path, "whole")
    even = _orders_db(spark, tmp_path, "even", F.col("o_orderkey") % 2 == 0)
    odd = _orders_db(spark, tmp_path, "odd", F.col("o_orderkey") % 2 == 1)
    args = ["--table", "orders", "--cols", "o_custkey", "--k", "64"]
    for db, out in [(whole, "w"), (even, "e"), (odd, "o")]:
        assert main(
            ["sketch", "build", "--db", db, *args,
             "--out", str(tmp_path / out)]
        ) == 0
    capsys.readouterr()
    assert main(
        ["sketch", "estimate", "--sketch-dirs", str(tmp_path / "w")]
    ) == 0
    whole_line = capsys.readouterr().out
    assert main(
        ["sketch", "estimate", "--sketch-dirs",
         str(tmp_path / "e"), str(tmp_path / "o")]
    ) == 0
    merged_line = capsys.readouterr().out
    assert merged_line == whole_line


def test_sketch_kmv_grouped_estimate(spark, tmp_path, capsys):
    out = str(tmp_path / "skg")
    rc = main(
        [
            "sketch", "build", "--db", "/root/testdata/sf0.001",
            "--table", "orders", "--cols", "o_custkey",
            "--group-cols", "o_orderpriority", "--k", "16", "--out", out,
        ]
    )
    assert rc == 0
    capsys.readouterr()
    assert main(["sketch", "estimate", "--sketch-dirs", out]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 5  # one per o_orderpriority
    assert all("est_distinct=" in ln for ln in lines)


def test_sketch_countmin_build_estimate(spark, tmp_path, capsys):
    out = str(tmp_path / "cm")
    rc = main(
        [
            "sketch", "build", "--kind", "countmin",
            "--db", "/root/testdata/sf0.001", "--table", "lineitem",
            "--cols", "l_suppkey", "--depth", "4", "--width", "128",
            "--out", out,
        ]
    )
    assert rc == 0
    capsys.readouterr()
    assert main(
        ["sketch", "estimate", "--sketch-dirs", out, "--keys", "1,2,3"]
    ) == 0
    printed = capsys.readouterr().out.strip().splitlines()
    assert len(printed) == 3
    # one-sided error vs the exact counts
    exact = {
        r["l_suppkey"]: r["n"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/lineitem.parquet"
        )
        .groupBy("l_suppkey")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    for ln in printed:
        key, est = ln.split(": est_count=")
        assert int(est) >= exact[int(key)]


def test_sketch_estimate_rejects_incompatible(spark, tmp_path, capsys):
    import pytest

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    base = [
        "sketch", "build", "--db", "/root/testdata/sf0.001",
        "--table", "orders", "--cols", "o_custkey",
    ]
    assert main(base + ["--k", "32", "--out", a]) == 0
    assert main(base + ["--k", "64", "--out", b]) == 0
    with pytest.raises(SystemExit, match="incompatible"):
        main(["sketch", "estimate", "--sketch-dirs", a, b])


def test_sketch_build_rejects_empty_cols(spark, tmp_path):
    import pytest

    with pytest.raises(SystemExit, match="named no columns"):
        main(
            ["sketch", "build", "--db", "/root/testdata/sf0.001",
             "--table", "orders", "--cols", ",",
             "--out", str(tmp_path / "x")]
        )


def test_sketch_estimate_rejects_old_pre_image_scheme(spark, tmp_path):
    import json

    import pytest

    out = str(tmp_path / "sk")
    assert main(
        ["sketch", "build", "--db", "/root/testdata/sf0.001",
         "--table", "orders", "--cols", "o_custkey", "--out", out]
    ) == 0
    # simulate a sketch persisted before the block-v1 pre-image: same
    # kind/k/cols, different hash scheme — merging would double-count
    meta_path = tmp_path / "sk" / "meta.json"
    meta = json.loads(meta_path.read_text())
    del meta["pre_image"]
    meta_path.write_text(json.dumps(meta))
    with pytest.raises(SystemExit, match="pre-image scheme"):
        main(["sketch", "estimate", "--sketch-dirs", out])


def test_sketch_digit_build_estimate_split_merge(spark, tmp_path, capsys):
    """digit sketch CLI: per-half histograms merged at estimate time
    print the same quantiles as one whole-table build (the counter-sum
    exactness, end to end), and the median lands near the true one."""
    from pyspark.sql import functions as F

    whole = _orders_db(spark, tmp_path, "dwhole")
    even = _orders_db(spark, tmp_path, "deven", F.col("o_orderkey") % 2 == 0)
    odd = _orders_db(spark, tmp_path, "dodd", F.col("o_orderkey") % 2 == 1)
    args = ["--kind", "digit", "--table", "orders",
            "--cols", "o_totalprice", "--digits", "3"]
    for db, out in [(whole, "dw"), (even, "de"), (odd, "do")]:
        assert main(
            ["sketch", "build", "--db", db, *args,
             "--out", str(tmp_path / out)]
        ) == 0
    # ADVICE r14: scale is quantile-defining (a mismatch shifts every
    # estimate by powers of 10), so the meta-equality merge guard can
    # only catch it if build records it
    import json

    meta = json.loads((tmp_path / "dw" / "meta.json").read_text())
    assert meta["scale"] == 6
    capsys.readouterr()
    assert main(
        ["sketch", "estimate", "--sketch-dirs", str(tmp_path / "dw"),
         "--qs", "0.5"]
    ) == 0
    whole_line = capsys.readouterr().out
    assert main(
        ["sketch", "estimate", "--sketch-dirs",
         str(tmp_path / "de"), str(tmp_path / "do"), "--qs", "0.5"]
    ) == 0
    assert capsys.readouterr().out == whole_line
    est = float(whole_line.split("est=")[1].split(" ")[0])
    true_median = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).approxQuantile("o_totalprice", [0.5], 0.0)[0]
    assert abs(est - true_median) / true_median < 0.01  # digits=3 -> 0.5%
    # r15 review: a pre-r15 sketch dir (no scale in meta — all built
    # under the default 6) must still merge with a new one; the
    # equality guard normalizes instead of rejecting
    old_meta = tmp_path / "de" / "meta.json"
    m = json.loads(old_meta.read_text())
    del m["scale"]
    old_meta.write_text(json.dumps(m))
    assert main(
        ["sketch", "estimate", "--sketch-dirs",
         str(tmp_path / "de"), str(tmp_path / "do"), "--qs", "0.5"]
    ) == 0
    assert capsys.readouterr().out == whole_line


def test_bpe_train_apply_end_to_end(spark, tmp_path, capsys):
    model = str(tmp_path / "merges.json")
    rc = main(
        ["bpe", "train", "--db", "/root/testdata/sf0.001",
         "--model", model, "--merges", "50", "--max-words", "2000"]
    )
    assert rc == 0
    assert "trained 50 merges" in capsys.readouterr().out
    out = str(tmp_path / "tokens")
    rc = main(
        ["bpe", "apply", "--db", "/root/testdata/sf0.001",
         "--model", model, "--output", out]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "tokenized" in printed
    got = spark.read.parquet(out)
    n_docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    assert got.count() == n_docs
    row = got.where(got.n_tokens > 0).first()
    assert row is not None and len(row["tokens"]) == row["n_tokens"]


def test_sketch_digit_estimate_rejects_percent_style_qs(spark, tmp_path):
    import pytest

    out = str(tmp_path / "dh")
    assert main(
        ["sketch", "build", "--kind", "digit",
         "--db", "/root/testdata/sf0.001", "--table", "orders",
         "--cols", "o_totalprice", "--out", out]
    ) == 0
    with pytest.raises(SystemExit, match="use 0.5, not 50"):
        main(["sketch", "estimate", "--sketch-dirs", out, "--qs", "50,95"])


def test_bpe_apply_rejects_output_inside_db(tmp_path):
    import json

    import pytest

    model = tmp_path / "merges.json"
    model.write_text(json.dumps({"merges": [["e", "r"]]}))
    with pytest.raises(SystemExit, match="outside the --db"):
        main(
            ["bpe", "apply", "--db", "/root/testdata/sf0.001",
             "--model", str(model),
             "--output", "/root/testdata/sf0.001/documents.parquet"]
        )


def test_export_does_not_load_the_query_registry(tmp_path):
    """The product CLI needs only the table reader, not the query
    catalogue: importing the registry loads every query module."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "import sys\n"
        "from hive_scripts_spark.__main__ import main\n"
        "rc = main(['export', '--db', '/root/testdata/sf0.001', '--output', "
        f"{str(tmp_path / 'export')!r}, '--shards', '2', '--budget', '128'])\n"
        "assert rc == 0, rc\n"
        "print('registry' if 'hive_scripts_spark.plans.registry' in sys.modules "
        "else 'no-registry')\n"
    )
    env = {
        **os.environ,
        "PYTHONPATH": str(Path(__file__).resolve().parents[1]),
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.splitlines()[-1] == "no-registry"
