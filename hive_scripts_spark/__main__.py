"""CLI face of the engine — the Spark-native twin of running
``verizon_automation_script.sh`` (SURVEY §3.1-3.2).

Usage::

    python -m hive_scripts_spark validate CONFIG_FILE [--output DIR]
        run UC#1 (count reconciliation) + UC#2 (sampled fingerprints)
        for the tables listed in the INI config; writes the three CSV
        reports (MatchedData, TableMismatchedData, TableDataNotConsistent)
        under a dated run directory.

    python -m hive_scripts_spark reformat INPUT_FILE [--sep '|'] [--fields 3]
        the compare_tables.sh pipeline: split delimited lines
        positionally, re-emit space-joined (SURVEY §3.3).

    python -m hive_scripts_spark bench
        run the headline benchmark (same as bench.py).

Config extensions over the reference format: each of ``[Source]`` /
``[Target]`` takes a ``Path:<dir>`` pointing at a directory of
``<table>.parquet`` files; optional ``[Partitions]`` lines of the form
``table:col1,col2`` declare partition columns (the reference reads these
from the Hive metastore, which a path database does not have).
"""

from __future__ import annotations

import argparse
import os
import sys

from hive_scripts_spark.config import JobConfig, parse_sections, split_kv
from hive_scripts_spark.pipeline import TableSpec, run_validation
from hive_scripts_spark.session import get_spark


def _table_specs(config_text: str, cfg: JobConfig) -> list[TableSpec]:
    sections = parse_sections(config_text)
    parts: dict[str, list[str]] = {}
    for line in sections.get("Partitions", []):
        tbl, cols = split_kv(line)
        parts[tbl] = [c for c in cols.split(",") if c]
    return [TableSpec(name, partition_cols=parts.get(name, [])) for name in cfg.tables]


_SHOW_ROWS = 100


def _show_verdict(df, n_rows: int, report_dir: str | None) -> None:
    """Print a verdict table's first :data:`_SHOW_ROWS` rows and say so
    when there are more."""
    df.show(_SHOW_ROWS, truncate=False)
    if n_rows > _SHOW_ROWS:
        where = report_dir or "the CSV reports (pass --output)"
        print(f"(first {_SHOW_ROWS} of {n_rows} rows; full list in {where})")


def cmd_validate(args: argparse.Namespace) -> int:
    from pathlib import Path

    cfg_path = Path(args.config)
    if not cfg_path.is_file():
        print(f"error: config file not found: {cfg_path}", file=sys.stderr)
        return 2
    text = cfg_path.read_text()
    cfg = JobConfig.from_text(text)
    if not (cfg.source.path or cfg.source.db_name) or not (
        cfg.target.path or cfg.target.db_name
    ):
        print(
            "error: config needs Path:<dir> or DBName:<db> under [Source] "
            "and [Target]",
            file=sys.stderr,
        )
        return 2
    if not cfg.tables:
        print("error: config lists no tables under [Tables]", file=sys.stderr)
        return 2
    spark = get_spark("hive-scripts-spark-validate")
    # sample_size semantics per mode (config.py docstring): 'rows' keeps
    # the reference-literal absolute LIMIT count; 'hash' reads the value
    # as the percentage its config key name always claimed it was.
    result = run_validation(
        spark,
        cfg,
        _table_specs(text, cfg),
        output_dir=args.output,
        sample_fraction=min(cfg.sample_size, 100) / 100.0,
        sample_mode=cfg.sample_mode,
        sample_rows=cfg.sample_size,
    )
    # every frame below is local and pre-sorted: showing and counting
    # it runs no Spark job
    print("== UC#1 count reconciliation ==")
    _show_verdict(result.reconciled, len(result.reconciled_rows), result.report_dir)
    if result.consistency is not None:
        print("== UC#2 sampled-content consistency ==")
        _show_verdict(
            result.consistency, len(result.consistency_rows), result.report_dir
        )
    n_bad = len(result.mismatched.collect())
    print(f"{'FAIL' if n_bad else 'OK'}: {n_bad} mismatched table/partition(s)")
    return 1 if n_bad else 0


def cmd_incremental(args: argparse.Namespace) -> int:
    """Manifest-diff UC#1: rescan only partitions whose files changed
    since the saved state (``--state``); first run scans fully and seeds
    the state."""
    from pathlib import Path

    from hive_scripts_spark.operators.incremental import incremental_count_reconcile

    spark = get_spark("hive-scripts-spark-incremental")
    state = Path(args.state)
    part_cols = [c for c in args.partition_cols.split(",") if c]
    src_state, tgt_state = state / "src_manifest", state / "tgt_manifest"
    prev_src = prev_tgt = None
    if src_state.exists() and tgt_state.exists():
        prev_src = spark.read.parquet(str(src_state))
        prev_tgt = spark.read.parquet(str(tgt_state))
    rec, src_mf, tgt_mf = incremental_count_reconcile(
        spark, args.source, args.target, args.table, part_cols, prev_src, prev_tgt
    )
    n_bad = 0
    if rec is None:
        print(f"{args.table}: no partitions changed since saved state — no scan")
    else:
        # materialize results BEFORE overwriting the state the inputs
        # were read from
        rows = rec.orderBy("partition_spec").collect()
        for r in rows:
            print(f"{r['table_name']}\t{r['partition_spec']}\t{r['status']}")
        n_bad = sum(r["status"] != "matched" for r in rows)
        if getattr(args, "fingerprint_keys", None):
            # UC#2 on the same changed partitions (the reference
            # fingerprints tables that passed the count check; on the
            # incremental path both verdicts come from one rescan set)
            from hive_scripts_spark.operators.incremental import (
                incremental_fingerprint_reconcile,
            )

            fp, _, _ = incremental_fingerprint_reconcile(
                spark,
                args.source,
                args.target,
                args.table,
                part_cols,
                key_cols=args.fingerprint_keys.split(","),
                prev_src_manifest=prev_src,
                prev_tgt_manifest=prev_tgt,
            )
            fp_rows = fp.orderBy("partition_spec").collect()
            for r in fp_rows:
                print(
                    f"{r['table_name']}\t{r['partition_spec']}\t"
                    f"fingerprint:{r['status']}"
                )
            n_bad += sum(r["status"] != "consistent" for r in fp_rows)
    src_mf.write.mode("overwrite").parquet(str(src_state))
    tgt_mf.write.mode("overwrite").parquet(str(tgt_state))
    print(f"{'FAIL' if n_bad else 'OK'}: {n_bad} mismatched partition(s)")
    return 1 if n_bad else 0


def cmd_sql(args: argparse.Namespace) -> int:
    """Ad-hoc SQL over a parquet lake — the ``hive -e "..."`` face of the
    reference (``verizon_automation_script.sh:104,219``), Spark-native:
    every ``<table>.parquet`` under ``--db`` registers as a temp view and
    the statement runs through Catalyst with the same pushdown/pruning as
    the programmatic API."""
    from pathlib import Path

    from hive_scripts_spark.sources.readers import table as load_sf_table

    spark = get_spark("hive-scripts-spark-sql")
    db = Path(args.db)
    for p in sorted(db.glob("*.parquet")):
        load_sf_table(spark, str(db), p.stem).createOrReplaceTempView(p.stem)
    df = spark.sql(args.statement)
    if args.output:
        from hive_scripts_spark.sources.sinks import write_report_csv

        write_report_csv(df, args.output)
        print(f"wrote {args.output}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_curate(args: argparse.Namespace) -> int:
    """The training-data curation pipeline as a shippable job: dedup →
    (optional) benchmark decontamination → repetition gate → quality
    gate → language-ID; writes the kept documents as parquet and prints
    the per-language rollup."""
    from hive_scripts_spark.operators.curation import (
        curate_documents,
        curation_report,
    )
    from hive_scripts_spark.sources.readers import table as load_sf_table

    spark = get_spark("hive-scripts-spark-curate")
    docs = load_sf_table(spark, args.db, "documents")
    bench = None
    corpus = docs
    from pyspark.sql import functions as F

    if args.bench_mod:
        bench = docs.where(F.col("doc_id") % args.bench_mod == 0)
        corpus = docs.where(F.col("doc_id") % args.bench_mod != 0)
    # pre-curation scrubs, in pipeline order: redact first (PII must not
    # survive into any downstream frame), then corpus-wide boilerplate
    # removal (so stripped chrome never reaches dedup/quality gates)
    if args.redact_pii:
        from hive_scripts_spark.operators.textstats import pii_redact

        corpus = pii_redact(corpus).select(
            "doc_id", F.col("text_redacted").alias("text")
        )
    if args.dedup_intradoc:
        # zero-shuffle, so it runs BEFORE the corpus-wide boilerplate
        # pass and shrinks what that pass shuffles
        from hive_scripts_spark.operators.dedup import dedup_lines_within_doc

        corpus = dedup_lines_within_doc(corpus).select(
            "doc_id", F.col("text_deduped").alias("text")
        )
    if args.strip_boilerplate is not None:
        from hive_scripts_spark.operators.dedup import strip_boilerplate

        corpus = strip_boilerplate(
            corpus, max_doc_freq=args.strip_boilerplate
        ).select("doc_id", F.col("text_cleaned").alias("text"))
    if args.max_compression_ratio is not None:
        # templated/machine-stamped docs compress extremely well; the
        # gate semi-joins the keep ids back so corpus columns survive
        from hive_scripts_spark.operators.textstats import compression_signal

        keep = (
            compression_signal(corpus)
            .where(
                F.col("compression_ratio").isNull()
                | (F.col("compression_ratio") <= args.max_compression_ratio)
            )
            .select("doc_id")
        )
        corpus = corpus.join(keep, "doc_id", "left_semi")
    curated = curate_documents(corpus, bench)
    curated.write.mode("overwrite").parquet(args.output)
    print(f"wrote {args.output}")
    for row in curation_report(spark.read.parquet(args.output)).collect():
        print(
            f"{row['predicted_lang']}: {row['n_docs']} docs, "
            f"{row['total_tokens']} tokens"
        )
    return 0


def cmd_chunk(args: argparse.Namespace) -> int:
    """Chunk export: overlapping fixed-token windows over documents
    (the sequence-prep step before embedding / RAG indexing); writes
    the chunk table as parquet and prints shape stats."""
    from hive_scripts_spark.operators.textstats import chunk_documents
    from hive_scripts_spark.sources.readers import table as load_sf_table

    spark = get_spark("hive-scripts-spark-chunk")
    docs = load_sf_table(spark, args.db, "documents")
    chunks = chunk_documents(
        docs, chunk_tokens=args.chunk_tokens, overlap=args.overlap
    )
    chunks.write.mode("overwrite").parquet(args.output)
    print(f"wrote {args.output}")
    from pyspark.sql import functions as F

    stats = (
        spark.read.parquet(args.output)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .first()
    )
    print(
        f"{stats['n_chunks']} chunks over {stats['n_docs']} docs, "
        f"{stats['total_tokens']} tokens"
    )
    return 0


def cmd_frames(args: argparse.Namespace) -> int:
    """Frame export: extract sampled video frames (AVI movi chunks /
    MP4 sample tables) into a parquet frame table — the map-only
    video→frame step of a multimodal curation run. MJPEG frame
    payloads pixel-decode downstream via ``resize_images``; every
    frame row carries an md5 for frame-level dedup."""
    from pyspark.sql import functions as F

    from hive_scripts_spark.operators.multimodal import extract_frames

    spark = get_spark("hive-scripts-spark-frames")
    clips = spark.read.parquet(args.input)
    if args.id_col != "doc_id" or args.payload_col != "payload":
        clips = clips.select(
            F.col(args.id_col).alias("doc_id"),
            F.col(args.payload_col).alias("payload"),
        )
    frames = extract_frames(
        clips, every_n=args.every_n, max_frames=args.max_frames
    )
    frames.write.mode("overwrite").parquet(args.output)
    print(f"wrote {args.output}")
    stats = (
        spark.read.parquet(args.output)
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.countDistinct("doc_id").alias("n_clips"),
            F.countDistinct("frame_md5").alias("n_unique_frames"),
        )
        .first()
    )
    print(
        f"{stats['n_frames']} frames from {stats['n_clips']} clips, "
        f"{stats['n_unique_frames']} unique by md5"
    )
    return 0


def cmd_audio(args: argparse.Namespace) -> int:
    """Audio feature export: WAV payload parquet → per-clip feature
    table. Default emits the PCM decode features
    (n_samples/duration/RMS); ``--spectral`` emits the FFT statistics
    (zero-crossing rate, spectral centroid/bandwidth/rolloff) instead
    — both map-only passes; non-WAV payloads degrade to NULL rows."""
    from pyspark.sql import functions as F

    from hive_scripts_spark.operators.multimodal import (
        audio_features,
        audio_spectral_features,
    )

    spark = get_spark("hive-scripts-spark-audio")
    clips = spark.read.parquet(args.input)
    if args.id_col != "doc_id" or args.payload_col != "payload":
        clips = clips.select(
            F.col(args.id_col).alias("doc_id"),
            F.col(args.payload_col).alias("payload"),
        )
    if args.spectral:
        feats = audio_spectral_features(clips, rolloff_pct=args.rolloff_pct)
    else:
        feats = audio_features(clips, fake=False)
    # n_samples is non-NULL exactly when the WAV decoded; the spectral
    # columns are NULL for decodable-but-silent clips by contract, so
    # counting them would misreport silence as decode failure
    probe_col = "n_samples"
    feats.write.mode("overwrite").parquet(args.output)
    print(f"wrote {args.output}")
    stats = (
        spark.read.parquet(args.output)
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.count(probe_col).alias("n_decoded"),
        )
        .first()
    )
    print(f"{stats['n_decoded']} of {stats['n_clips']} clips decoded")
    return 0


def _centroids(emb, args: argparse.Namespace):
    """The coarse quantizer ``(centroid_id, centroid array<double>)``
    that ``semdedup`` and ``balance`` share (:func:`_add_centroid_args`):
    the first ``--nlist`` vectors by ``vec_id`` by default,
    ``--train-sample N`` Lloyd-trains on the driver from the first N
    vectors, and ``--train-full ITERS`` runs distributed Lloyd over the
    whole table (it overrides ``--train-sample``)."""
    from pyspark.sql import functions as F

    from hive_scripts_spark.operators.similarity import kmeans_fit, train_kmeans

    to_double = F.transform("embedding", lambda x: x.cast("double"))
    if args.train_full:
        return kmeans_fit(emb, k=args.nlist, iters=args.train_full)
    if args.train_sample:
        pts = [
            [float(x) for x in r["embedding"]]
            for r in emb.select(to_double.alias("embedding"))
            .orderBy("vec_id")
            .limit(args.train_sample)
            .collect()
        ]
        cents = train_kmeans(pts, k=args.nlist)
        return emb.sparkSession.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "centroid_id long, centroid array<double>",
        )
    return emb.orderBy("vec_id").limit(args.nlist).select(
        F.col("vec_id").alias("centroid_id"), to_double.alias("centroid")
    )


def _add_centroid_args(p: argparse.ArgumentParser) -> None:
    """``--nlist``, ``--train-sample`` and ``--train-full``: the centroid
    choice :func:`_centroids` reads."""
    p.add_argument("--nlist", type=int, default=64, help="coarse cells")
    p.add_argument(
        "--train-sample",
        type=int,
        default=None,
        metavar="N",
        help="Lloyd-train centroids from the first N vectors "
        "(default: first --nlist vectors ARE the centroids)",
    )
    p.add_argument(
        "--train-full",
        type=int,
        default=None,
        metavar="ITERS",
        help="distributed Lloyd over the FULL table for ITERS "
        "iterations (one map-only pass per iteration; overrides "
        "--train-sample)",
    )


def cmd_semdedup(args: argparse.Namespace) -> int:
    """SemDeDup as a command: semantic near-dup removal over the
    embeddings table (arXiv:2303.09540). Centroids default to the first
    ``--nlist`` vectors (a deterministic coarse quantizer — adequate
    because SemDeDup only needs cells to CO-LOCATE twins, not to be
    optimal); pass ``--train-sample N`` to Lloyd-train them from a
    deterministic N-vector sample instead. Writes the survivor frame
    ``(vec_id, centroid_id, centroid_sim)`` as parquet and prints the
    kept/dropped counts."""
    from hive_scripts_spark.operators.similarity import semantic_dedup
    from hive_scripts_spark.sources.readers import table as load_sf_table

    spark = get_spark("hive-scripts-spark-semdedup")
    emb = load_sf_table(spark, args.db, "embeddings")
    centroids = _centroids(emb, args)
    survivors = semantic_dedup(
        emb,
        centroids,
        threshold=args.threshold,
        max_cell_size=args.max_cell_size,
    )
    survivors.write.mode("overwrite").parquet(args.output)
    n_total = emb.count()
    n_kept = spark.read.parquet(args.output).count()
    print(f"wrote {args.output}")
    print(
        f"kept {n_kept} of {n_total} vectors "
        f"(dropped {n_total - n_kept} semantic near-dups at "
        f"cos>={args.threshold}, nlist={args.nlist})"
    )
    return 0


def cmd_balance(args: argparse.Namespace) -> int:
    """Cluster-balanced subsampling as a command: keep at most
    ``--cap`` vectors per k-means cell (topic balancing — giant
    near-duplicate topics can't dominate the training mix). Same
    centroid conventions as ``semdedup``: first ``--nlist`` vectors,
    or ``--train-sample N`` to Lloyd-train. Writes the picked frame
    ``(vec_id, centroid_id, sim, pick_order)`` as parquet and prints
    the per-cell balance report."""
    from hive_scripts_spark.operators.similarity import (
        cluster_balance_report,
        cluster_balanced_sample,
    )
    from hive_scripts_spark.sources.readers import table as load_sf_table

    spark = get_spark("hive-scripts-spark-balance")
    emb = load_sf_table(spark, args.db, "embeddings")
    centroids = _centroids(emb, args)
    picked = cluster_balanced_sample(emb, centroids, cap_per_cell=args.cap)
    picked.write.mode("overwrite").parquet(args.output)
    n_total = emb.count()
    n_kept = spark.read.parquet(args.output).count()
    print(f"wrote {args.output}")
    print(
        f"kept {n_kept} of {n_total} vectors "
        f"(cap {args.cap}/cell, nlist={args.nlist})"
    )
    # the report is |cells| rows — bounded output, safe to print
    for r in (
        cluster_balance_report(emb, centroids, cap_per_cell=args.cap)
        .orderBy("centroid_id")
        .collect()
    ):
        print(
            f"cell {r['centroid_id']}: {r['n_kept']}/{r['n_vectors']} "
            f"kept ({r['kept_fraction']:.4f})"
        )
    return 0


def cmd_mhindex(args: argparse.Namespace) -> int:
    """Persisted MinHash LSH index: ``build`` writes the signature table
    + parameter record once over a corpus; ``append`` folds a new shard
    in under the STORED parameters; ``dedup`` reports a batch's near-dup
    survivors against the index (and within the batch, keep-first)
    without recomputing anything over indexed text — the dedup
    counterpart of ``ann-build``'s build-once/search-many contract."""
    from hive_scripts_spark.operators.dedup import (
        minhash_index_append,
        minhash_index_build,
        minhash_index_dedup,
    )
    from hive_scripts_spark.sources.readers import table as load_sf_table

    spark = get_spark("hive-scripts-spark-mhindex")
    docs = load_sf_table(spark, args.db, "documents")
    if args.action == "build":
        minhash_index_build(
            docs,
            args.index,
            n=args.ngram,
            num_hashes=args.num_hashes,
            bands=args.bands,
        )
        n = spark.read.parquet(f"{args.index}/signatures").count()
        print(f"built {args.index}: {n} signatures")
        return 0
    if args.action == "append":
        before = spark.read.parquet(f"{args.index}/signatures").count()
        minhash_index_append(docs, args.index)
        after = spark.read.parquet(f"{args.index}/signatures").count()
        print(f"appended {after - before} signatures ({after} total)")
        return 0
    if not args.output:
        raise SystemExit("dedup needs --output for the survivor parquet")
    kept = minhash_index_dedup(docs, args.index, threshold=args.threshold)
    kept.write.mode("overwrite").parquet(args.output)
    n_total = docs.count()
    n_kept = spark.read.parquet(args.output).count()
    print(f"wrote {args.output}")
    print(
        f"kept {n_kept} of {n_total} docs (dropped {n_total - n_kept} "
        f"near-dups of the index/batch at est_jaccard>={args.threshold})"
    )
    return 0


def cmd_stream_reconcile(args: argparse.Namespace) -> int:
    """Micro-batch UC#1 as a command: stream the events directory
    (``availableNow`` — drain-and-stop; drop the trigger for a live
    tail), reconcile each batch's watermark-finalized windowed counts
    against the static target side, and land every batch's verdict
    frame in an idempotent ``batch_id=N/`` parquet sink. Exit code 1
    when any non-matched row was produced (the reference's FAIL
    semantics)."""
    from pyspark.sql import functions as F

    from hive_scripts_spark.sources.events import normalize_event_ts, pin_utc
    from hive_scripts_spark.streaming.reconcile import (
        reconcile_parquet_sink,
        streaming_count_reconcile,
    )
    from hive_scripts_spark.streaming.windowed import (
        read_event_stream,
        streaming_partition_counts,
    )

    spark = get_spark("hive-scripts-spark-stream-reconcile")
    pin_utc(spark)
    target = normalize_event_ts(spark.read.parquet(args.target), "ts")
    target_counts = target.groupBy(
        F.window("ts", "1 hour").start.alias("window_start"),
        args.partition_col,
    ).agg(F.count(F.lit(1)).alias("row_count"))

    handler = streaming_count_reconcile(
        target_counts,
        partition_col=args.partition_col,
        on_batch=reconcile_parquet_sink(args.output),
    )
    q = (
        streaming_partition_counts(
            read_event_stream(spark, args.events_dir),
            partition_col=args.partition_col,
            watermark=args.watermark,
        )
        .writeStream.foreachBatch(handler)
        .outputMode("append")
        .option("checkpointLocation", f"{args.output}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.read.parquet(args.output)
    n_bad = result.where(F.col("status") != "matched").count()
    n = result.count()
    print(f"{args.output}: {n} reconciled window rows, {n_bad} not matched")
    return 1 if n_bad else 0


def cmd_analyze(args: argparse.Namespace) -> int:
    """Catalog-statistics maintenance: ``ANALYZE TABLE ... COMPUTE
    STATISTICS [FOR ALL COLUMNS]`` per table, reporting the recorded
    rowCount/size back. Run after big loads so the cost-based optimizer
    sizes joins from stats instead of raw file bytes."""
    from hive_scripts_spark.sources.readers import analyze_table

    spark = get_spark("hive-scripts-spark-analyze")
    for name in args.tables:
        rows, size = analyze_table(
            spark, args.db, name, columns=not args.no_columns
        )
        print(f"{args.db}.{name}: rows={rows} bytes={size}")
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    """Small-file maintenance for a Hive-partitioned table: report
    partitions whose mean file size is below the threshold
    (`small_file_report` — the pathology every incremental/streaming
    writer accumulates), and with ``--apply`` rewrite each offender to
    one file (`compact_partition_dir`: tmp-write + rename swap,
    crash-recoverable). Reporting is metadata-only — no file content is
    read."""
    from hive_scripts_spark.operators.incremental import (
        compact_partition_dir,
        file_manifest,
        small_file_report,
    )

    spark = get_spark("hive-scripts-spark-compact")
    part_cols = args.partition_cols.split(",")
    mf = file_manifest(spark, args.table_dir, part_cols)
    offenders = small_file_report(mf, min_avg_bytes=args.min_avg_bytes).collect()
    if not offenders:
        print("no small-file partitions")
        return 0
    for row in offenders:
        # manifest values are the RAW (Hive path-escaped) segments, so
        # they reassemble into directory paths verbatim
        rel = "/".join(f"{c}={row[c]}" for c in part_cols)
        line = (
            f"{rel}: {row['n_files']} files, avg {row['avg_bytes']} bytes"
        )
        if args.apply:
            n_before = compact_partition_dir(spark, f"{args.table_dir}/{rel}")
            line += f" -> compacted {n_before} files to 1"
        print(line)
    return 0


def cmd_ingest(args: argparse.Namespace) -> int:
    """JSONL ingest: crawl shards → a documents-shaped parquet table,
    with unparseable lines quarantined (written verbatim) instead of
    failing the job. The front door of the curation pipeline: the
    output directory reads back with the same `documents` layout every
    other subcommand consumes."""
    from pyspark.sql import functions as F

    from hive_scripts_spark.sources.readers import read_jsonl

    spark = get_spark("hive-scripts-spark-ingest")
    # cache: Spark refuses corrupt-record-only queries straight off a
    # raw JSON scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
    # COLUMN) — the parsed result must be materialized first. The cache
    # also means good-write + quarantine-write + counts cost ONE parse
    # of the input instead of three.
    raw = read_jsonl(spark, args.input, schema=args.schema).cache()
    corrupt = raw.where(F.col("_corrupt_record").isNotNull())
    good = raw.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    if "n_chars" not in good.columns and "text" in good.columns:
        good = good.withColumn("n_chars", F.length(F.coalesce("text", F.lit(""))))
    good.write.mode("overwrite").parquet(f"{args.output}/documents.parquet")
    n_bad = corrupt.count()
    if n_bad:
        corrupt.select(F.col("_corrupt_record").alias("value")).write.mode(
            "overwrite"
        ).text(f"{args.output}/_quarantine")
    n_good = spark.read.parquet(f"{args.output}/documents.parquet").count()
    raw.unpersist()
    print(
        f"wrote {args.output}/documents.parquet: {n_good} docs"
        + (f"; quarantined {n_bad} corrupt lines" if n_bad else "")
    )
    return 0


def cmd_warc(args: argparse.Namespace) -> int:
    """WARC/Common Crawl ingest: crawl shards (.warc / .warc.gz,
    per-record gzip members supported) → HTTP responses → the
    documents-shaped parquet layout every curation subcommand
    consumes, with truncated/bomb-capped records counted and corrupt
    tails quarantined as rows (sources/warc.py contract)."""
    from pyspark.sql import functions as F

    from hive_scripts_spark.sources.warc import (
        read_warc,
        warc_ingest_documents,
    )

    spark = get_spark("hive-scripts-spark-warc")
    # ONE parse feeds the ingest AND the corrupt count (the cmd_ingest
    # lesson — re-reading the shard set for a log line doubles the
    # job), and the count sees the SAME cap as the ingest (corrupt
    # classification depends on max_payload_bytes)
    recs = read_warc(
        spark, args.input, max_payload_bytes=args.max_payload_bytes
    ).cache()
    docs = warc_ingest_documents(
        spark,
        args.input,
        max_payload_bytes=args.max_payload_bytes,
        records=recs,
    )
    if args.status_ok_only:
        docs = docs.where(F.col("http_status") == 200)
    if args.robots:
        # politeness gate BEFORE the text work: dropped docs never pay
        # the mojibake/codec path
        from hive_scripts_spark.operators.robots import filter_by_robots

        rules = spark.read.parquet(args.robots)
        docs = filter_by_robots(docs, rules, url_col="uri")
    if args.html_to_text:
        # extraction AFTER the politeness gate (dropped docs never pay
        # the parse) and BEFORE the repair chain (the documented order,
        # operators/encoding.py: warc_ingest_documents → html_to_text →
        # fix_mojibake — entity decoding happens first, and the gates
        # downstream score visible text, not markup). The r16 1M-doc
        # e2e probe caught this step MISSING from the CLI chain: every
        # downstream gate was scoring tag soup. keep_cols ride the
        # crawl metadata through the same Arrow batch — a re-join on
        # doc_id to recover uri/source would shuffle the corpus.
        from hive_scripts_spark.operators.textstats import html_to_text

        docs = html_to_text(
            docs,
            keep_cols=[
                "source", "uri", "warc_date", "http_status",
                "http_content_type", "truncated",
            ],
        )  # title/n_links fall out of the documents-shaped select below
    # hygiene and repair interleave (r15 review pass 4): the
    # pre-repair pass strips ONLY the non-latin1 invisibles
    # (repair_safe — a raw ZWSP/BOM embedded inside mojibake splits
    # the segment-wise repair's run mid-byte-sequence, but
    # C0/C1/soft-hyphen ARE the repair's input alphabet: stripping
    # U+0080/U+0094 first turns the repairable latin-1-mangled em
    # dash into a bare 'â' forever); the FULL clean — latin-1-range
    # strip + newline
    # conversion + NFC — runs after the repair, which can itself
    # decode mangled bytes into invisibles (the 'ï»¿' prefix becomes
    # a real BOM) or into decomposed sequences NFC must fold.
    if args.fix_mojibake:
        from hive_scripts_spark.operators.encoding import (
            fix_mojibake,
            strip_invisible_col,
        )

        if args.clean_text:
            docs = docs.withColumn(
                "text", strip_invisible_col("text", repair_safe=True)
            )
        docs = fix_mojibake(docs, "text")
    if args.clean_text:
        from hive_scripts_spark.operators.encoding import clean_text

        docs = clean_text(docs, "text")
    out = docs.select(
        "doc_id",
        F.col("text"),
        F.lit(None).cast("string").alias("lang"),
        "source",
        "uri",
        "warc_date",
        "http_status",
        "truncated",
        F.length(F.coalesce("text", F.lit(""))).alias("n_chars"),
    )
    out.write.mode("overwrite").parquet(f"{args.output}/documents.parquet")
    written = spark.read.parquet(f"{args.output}/documents.parquet")
    # one aggregate returns both report numbers (two counts = two scans)
    n_docs, n_trunc = written.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.col("truncated").cast("int")), F.lit(0)),
    ).collect()[0]
    # corrupt tails are rows, not files — count AND preserve them (the
    # cmd_ingest quarantine contract: damaged input stays inspectable)
    corrupt = recs.where("warc_type = '_corrupt'")
    n_corrupt = corrupt.count()
    # ALWAYS overwrite the quarantine (an empty one included): a stale
    # _quarantine from a previous run into the same --output would be
    # misattributed to this run's input
    corrupt.select(
        "source_file", "record_offset", "payload"
    ).write.mode("overwrite").parquet(f"{args.output}/_quarantine")
    recs.unpersist()
    print(
        f"wrote {args.output}/documents.parquet: {n_docs} docs"
        + (f"; {n_trunc} truncated payloads" if n_trunc else "")
        + (f"; {n_corrupt} corrupt record tails" if n_corrupt else "")
    )
    return 0


def cmd_merge(args: argparse.Namespace) -> int:
    """Recrawl refresh: merge a delta parquet into a current table
    (latest-wins by --order-col, optional tombstone --delete-col) and
    write the merged result. The format-free batch MERGE
    (operators/incremental.merge_upsert) for plain-parquet corpora."""
    from hive_scripts_spark.operators.incremental import merge_upsert

    import os.path

    if os.path.abspath(args.output) in (
        os.path.abspath(args.current), os.path.abspath(args.changes),
    ):
        # Spark cannot overwrite a path it is reading from; in-place
        # refresh needs a staged write-then-swap (see
        # incremental.compact_partition_dir) — fail clearly up front
        raise SystemExit(
            "merge: --output must differ from the input paths "
            "(write to a new directory, then swap)"
        )
    spark = get_spark("hive-scripts-spark-merge")
    current = spark.read.parquet(args.current)
    changes = spark.read.parquet(args.changes)
    merged = merge_upsert(
        current,
        changes,
        [k.strip() for k in args.key.split(",")],
        order_col=args.order_col,
        delete_col=args.delete_col,
    )
    merged.write.mode("overwrite").parquet(args.output)
    n_out = spark.read.parquet(args.output).count()
    print(f"merged {args.changes} into {args.current}: "
          f"{n_out} rows at {args.output}")
    return 0


def cmd_sketch(args: argparse.Namespace) -> int:
    """Mergeable-sketch maintenance (the incremental-statistics face
    of operators/sketches.py): ``build`` sketches one table / ingest
    batch into a KB-scale parquet + meta.json; ``estimate`` merges any
    number of compatible sketch directories (per-day sketches
    answering a quarter-range distinct count, say) and prints the
    estimates WITHOUT touching the raw rows again."""
    import json
    from pathlib import Path

    from hive_scripts_spark.operators import sketches as SK
    from hive_scripts_spark.sources.readers import table as load_sf_table

    spark = get_spark("hive-scripts-spark-sketch")
    if args.action == "build":
        for flag, val in (("--db", args.db), ("--table", args.table),
                          ("--out", args.out), ("--cols", args.cols)):
            if not val:
                raise SystemExit(f"sketch build requires {flag}")
        out = Path(args.out)
        out.mkdir(parents=True, exist_ok=True)
        df = load_sf_table(spark, args.db, args.table)
        group_cols = [c for c in
                      (t.strip() for t in args.group_cols.split(",")) if c]
        cols = [c for c in (t.strip() for t in args.cols.split(",")) if c]
        if not cols:
            raise SystemExit(
                "sketch build: --cols named no columns (got "
                f"{args.cols!r})"
            )
        if args.kind == "kmv":
            if group_cols:
                sk = SK.kmv_sketch_grouped(df, group_cols, cols, k=args.k)
            else:
                sk = SK.kmv_sketch(df, cols, k=args.k)
            meta = {"kind": "kmv", "k": args.k, "cols": cols,
                    "group_cols": group_cols, "pre_image": "block-v1"}
        elif args.kind == "digit":
            if len(cols) != 1:
                raise SystemExit(
                    "sketch build --kind digit takes ONE --cols value column"
                )
            if group_cols:
                raise SystemExit("--group-cols is a kmv-only flag")
            # scale is recorded even while the CLI only exposes one
            # value: the meta-equality merge guard can only catch a
            # scale mismatch if scale is IN the meta, and a mismatch
            # shifts every quantile estimate by powers of 10 (ADVICE
            # r14). ONE constant feeds both the build call and the
            # meta record, so they cannot drift if the library
            # default ever changes.
            scale = 6
            sk = SK.digit_hist(
                df, cols[0], digits=args.digits, scale=scale
            )
            meta = {"kind": "digit", "digits": args.digits,
                    "scale": scale, "value_col": cols[0],
                    "pre_image": "digit-v1"}
        else:
            if len(cols) != 1:
                raise SystemExit(
                    "sketch build --kind countmin takes ONE --cols key column"
                )
            if group_cols:
                raise SystemExit("--group-cols is a kmv-only flag")
            sk = SK.countmin_build(
                df, cols[0], depth=args.depth, width=args.width
            )
            meta = {"kind": "countmin", "depth": args.depth,
                    "width": args.width, "key_col": cols[0],
                    "pre_image": "block-v1"}
        sk.write.mode("overwrite").parquet(str(out / "sketch"))
        (out / "meta.json").write_text(json.dumps(meta))
        n = spark.read.parquet(str(out / "sketch")).count()
        print(f"wrote {out} ({meta['kind']}, {n} rows)")
        return 0
    # estimate: merge N compatible sketches, print estimates
    if not args.sketch_dirs:
        raise SystemExit("sketch estimate requires --sketch-dirs")
    metas = []
    for d in args.sketch_dirs:
        p = Path(d) / "meta.json"
        if not p.is_file():
            raise SystemExit(f"not a sketch dir (no meta.json): {d}")
        metas.append(json.loads(p.read_text()))
    for m in metas:
        # pre-r15 digit sketch dirs carry no scale key; they were all
        # built under the library default 6, so normalize before the
        # equality check rather than rejecting an exactly-mergeable
        # old+new pair
        if m.get("kind") == "digit":
            m.setdefault("scale", 6)
    if any(m != metas[0] for m in metas[1:]):
        raise SystemExit(
            "incompatible sketches (meta.json differs): merging is only "
            "exact for identical kind/k/cols (kmv) or depth/width/key "
            "(countmin) — rebuild with matching parameters"
        )
    meta = metas[0]
    schemes = {"kmv": "block-v1", "countmin": "block-v1",
               "digit": "digit-v1"}
    if meta.get("kind") not in schemes:
        raise SystemExit(
            f"unrecognized sketch kind in meta.json: {meta.get('kind')!r}"
        )
    expected_scheme = schemes[meta["kind"]]
    if meta.get("pre_image") != expected_scheme:
        # scheme versioning: merging sketches built under a different
        # encoding would union values drawn from two different
        # functions and silently corrupt the estimates
        raise SystemExit(
            "sketch was built with a different pre-image scheme "
            f"({meta.get('pre_image')!r} != {expected_scheme!r}) — "
            "rebuild it with the current code before merging"
        )
    parts = [
        spark.read.parquet(str(Path(d) / "sketch"))
        for d in args.sketch_dirs
    ]
    if meta["kind"] == "digit":
        merged = SK.digit_hist_merge(parts)
        try:
            qs = [float(q) for q in args.qs.split(",") if q.strip()]
        except ValueError as exc:
            raise SystemExit(f"--qs must be comma-separated floats: {exc}")
        if not qs or any(not 0.0 < q <= 1.0 for q in qs):
            # out-of-range quantiles silently match no bucket — catch
            # the percent-style typo (--qs 50,95) loudly instead
            raise SystemExit(
                f"--qs values must be in (0, 1]: {args.qs!r} "
                "(use 0.5, not 50)"
            )
        # .get default 6 keeps pre-r15 sketch dirs (no scale in meta,
        # all built under the library default) readable
        est = SK.digit_hist_quantiles(
            merged, qs, digits=meta["digits"], scale=meta.get("scale", 6)
        )
        for r in est.orderBy("q").collect():
            print(
                f"q={r['q']}: est={r['est']} "
                f"(sign={r['sign']} decade={r['decade']} sub={r['sub']})"
            )
    elif meta["kind"] == "kmv":
        if meta["group_cols"]:
            merged = SK.kmv_merge_grouped(
                parts, meta["group_cols"], k=meta["k"]
            )
            est = SK.kmv_estimate_grouped(
                merged, meta["group_cols"], k=meta["k"]
            )
            for r in est.orderBy(*meta["group_cols"]).collect():
                g = ",".join(str(r[c]) for c in meta["group_cols"])
                print(
                    f"{g}: n_hashes={r['n_hashes']} "
                    f"est_distinct={r['est_distinct']}"
                )
        else:
            merged = SK.kmv_merge(parts, k=meta["k"])
            r = SK.kmv_estimate(merged, k=meta["k"]).collect()[0]
            print(
                f"n_hashes={r['n_hashes']} est_distinct={r['est_distinct']}"
            )
    else:
        if not args.keys:
            raise SystemExit(
                "sketch estimate --kind countmin requires --keys (the "
                "probe values)"
            )
        merged = SK.countmin_merge(parts)
        # probe keys as strings: the hash pre-image is a block over the
        # value's STRING form, so "5" and bigint 5 land in the same bucket
        keys = spark.createDataFrame(
            [(v,) for v in args.keys.split(",")],
            f"{meta['key_col']} string",
        )
        est = SK.countmin_lookup(
            merged, keys, meta["key_col"],
            depth=meta["depth"], width=meta["width"],
        )
        for r in est.orderBy(meta["key_col"]).collect():
            print(f"{r[meta['key_col']]}: est_count={r['est_count']}")
    return 0


def cmd_bpe(args: argparse.Namespace) -> int:
    """Real BPE tokenization (operators/tokenizer.py): ``train`` fits
    merges on the corpus word frequencies and writes ``merges.json``;
    ``apply`` tokenizes the documents table with a stored merge list
    into a ``(doc_id, tokens, n_tokens)`` parquet — the exact-count
    input for token-budget packing and mixture weighting."""
    import json
    from pathlib import Path

    from pyspark.sql import functions as F

    from hive_scripts_spark.operators import tokenizer as T
    from hive_scripts_spark.sources.readers import table as load_sf_table

    spark = get_spark("hive-scripts-spark-bpe")
    docs = load_sf_table(spark, args.db, "documents")
    if args.action == "train":
        merges = T.train_bpe(
            docs, num_merges=args.merges, max_words=args.max_words
        )
        out = Path(args.model)
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps({"merges": [list(m) for m in merges]}))
        print(f"trained {len(merges)} merges -> {out}")
        return 0
    model = json.loads(Path(args.model).read_text())
    merges = [tuple(m) for m in model["merges"]]
    if not args.output:
        raise SystemExit("bpe apply requires --output")
    out_abs = os.path.abspath(args.output)
    db_abs = os.path.abspath(args.db)
    if out_abs == db_abs or out_abs.startswith(db_abs + os.sep):
        # bpe_encode reads the documents table lazily while the write
        # truncates --output: writing into the source db would destroy
        # the input mid-read (same guard as cmd_merge)
        raise SystemExit(
            "bpe apply: --output must be outside the --db directory"
        )
    encoded = T.bpe_encode(docs, merges)
    encoded.write.mode("overwrite").parquet(args.output)
    stats = spark.read.parquet(args.output).agg(
        F.count(F.lit(1)).alias("docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("tokens"),
    ).collect()[0]
    print(
        f"tokenized {stats['docs']} docs, {stats['tokens']} tokens "
        f"-> {args.output}"
    )
    return 0


def cmd_export(args: argparse.Namespace) -> int:
    """The full training-data production job: curate (dedup →
    optional decontamination → repetition/quality gates → language-ID)
    → deterministic shard assignment → per-shard token-budget packing →
    Hive-partitioned parquet write (``shard=N/`` directories). Every
    stage is an individually-oracled operator; this chains them into
    the one command a training run consumes."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hive_scripts_spark.functions.canonical import shard_by_hash
    from hive_scripts_spark.operators.curation import curate_documents
    from hive_scripts_spark.sources.readers import table as load_sf_table
    from hive_scripts_spark.sources.sinks import write_partitioned

    spark = get_spark("hive-scripts-spark-export")
    docs = load_sf_table(spark, args.db, "documents")
    bench = None
    corpus = docs
    if args.bench_mod:
        bench = docs.where(F.col("doc_id") % args.bench_mod == 0)
        corpus = docs.where(F.col("doc_id") % args.bench_mod != 0)
    curated = curate_documents(corpus, bench)
    part_cols = ["shard"]
    if getattr(args, "splits", ""):
        # hash-stable eval boundary BEFORE sharding: a doc's split is a
        # pure function of its id, so re-exports never migrate a doc
        # across train/val/test (and packing below stays per-(split,
        # shard) — eval packs never interleave with train packs)
        from hive_scripts_spark.functions.canonical import train_val_test_split

        try:
            train_pct, val_pct, test_pct = (
                int(p) for p in args.splits.split(",")
            )
        except ValueError as exc:
            raise SystemExit(
                f"--splits wants 'train,val,test' integer percentages, "
                f"got {args.splits!r}"
            ) from exc
        if train_pct + val_pct + test_pct != 100:
            raise SystemExit("--splits percentages must sum to 100")
        curated = train_val_test_split(
            curated, ["doc_id"], val_pct=val_pct, test_pct=test_pct
        )
        part_cols = ["split", "shard"]
    sharded = shard_by_hash(curated, ["doc_id"], n_shards=args.shards)
    # offset packing WITHIN each (split,) shard: the window partitions
    # on the output partition columns, so packing parallelizes across
    # shards (an order, not THE order)
    w = (
        Window.partitionBy(*part_cols)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = F.sum("n_tokens").over(w) - F.col("n_tokens")
    packed = sharded.withColumn(
        "pack_id", F.floor(offset / float(args.budget)).cast("bigint")
    )
    write_partitioned(packed, args.output, part_cols)
    stats = (
        spark.read.parquet(args.output)
        .groupBy(*part_cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            (F.max("pack_id") + 1).alias("n_packs"),
        )
        .orderBy(*part_cols)
        .collect()
    )
    print(f"wrote {args.output}")
    for row in stats:
        spec = "/".join(f"{c}={row[c]}" for c in part_cols)
        print(
            f"{spec}: {row['n_docs']} docs, "
            f"{row['n_tokens']} tokens, {row['n_packs']} packs"
        )
    return 0


def _merge_parquet_dir(stage, target) -> None:
    """Move the data files of a committed staged parquet write into an
    existing parquet directory, merging partition subdirectories
    (``cell=N/``). Part-file names embed the writing job's UUID, so
    renames cannot collide with existing files; ``_SUCCESS``/checksum
    markers are skipped. The stage directory is removed afterwards."""
    import shutil

    for p in sorted(stage.rglob("*")):
        if not p.is_file() or p.name.startswith(("_", ".")):
            continue
        dest = target / p.relative_to(stage)
        dest.parent.mkdir(parents=True, exist_ok=True)
        p.rename(dest)
    shutil.rmtree(stage, ignore_errors=True)


def cmd_ann_build(args: argparse.Namespace) -> int:
    """Build a persisted ANN index ("build once, search many"): fit
    model parameters on a bounded deterministic sample (k-means), PQ-
    encode the corpus map-side, and write the code table — partitioned
    by coarse cell for IVF+PQ, so searches prune whole cell
    directories — plus the model parameters as ``model.json``."""
    import json
    from pathlib import Path

    from hive_scripts_spark.operators import similarity as S
    from hive_scripts_spark.sources.readers import table as load_sf_table

    spark = get_spark("hive-scripts-spark-ann-build")
    emb = load_sf_table(spark, args.db, "embeddings")
    idx = Path(args.index)
    idx.mkdir(parents=True, exist_ok=True)
    if args.append:
        # incremental index update: the MODEL is fixed at first build
        # (standard IVF/PQ practice — retraining would orphan existing
        # codes); only vectors absent from the stored code table are
        # encoded (left_anti on ids — the stored side scan reads the id
        # column only). New codes are STAGED to a sibling directory and
        # moved in only after the job commits: reading and appending the
        # same directory in one job happens to work (the file listing is
        # snapshotted at read time) but breaks under a refreshed file
        # index, a task retry racing the listing, or a concurrent build.
        # Idempotent: re-running appends nothing.
        for flag, val in (
            ("--m", args.m),
            ("--codes", args.codes),
            ("--nlist", args.nlist),
            ("--sample", args.sample),
        ):
            if val is not None:
                raise SystemExit(
                    f"{flag} conflicts with --append: the model shape is "
                    "fixed at first build (retraining would orphan the "
                    "stored codes) — drop the flag, or rebuild without "
                    "--append to retrain"
                )
        if not (idx / "model.json").is_file():
            raise SystemExit(
                f"--append needs an existing index: {idx}/model.json not "
                "found — run a full ann-build first"
            )
        model = json.loads((idx / "model.json").read_text())
        if model["kind"] != args.kind:
            raise SystemExit(
                f"--append kind mismatch: index is {model['kind']}"
            )
        existing = spark.read.parquet(str(idx / "codes")).select("vec_id")
        emb = emb.join(existing, "vec_id", "left_anti")
    else:
        model = None
    m = args.m if args.m is not None else 4
    codes_k = args.codes if args.codes is not None else 8
    nlist = args.nlist if args.nlist is not None else 8
    sample = args.sample if args.sample is not None else 256
    out_dir = (
        idx / f"codes_stage_pid{os.getpid()}" if args.append else idx / "codes"
    )
    if args.kind == "pq":
        books = (
            model["codebooks"]
            if model
            else S.train_pq_codebooks(emb, m=m, k=codes_k, sample=sample)
        )
        model = {"kind": "pq", "codebooks": books}
        S.pq_encode(emb, books).write.mode("overwrite").parquet(str(out_dir))
    else:
        if model:
            centroids = [(int(c[0]), c[1]) for c in model["centroids"]]
            books = model["codebooks"]
        else:
            centroids, books = S.train_ivfpq_model(
                emb, nlist=nlist, m=m, k=codes_k, sample=sample
            )
        model = {"kind": "ivfpq", "centroids": centroids, "codebooks": books}
        S.ivfpq_encode(emb, centroids, books).repartition(
            "cell"
        ).write.partitionBy("cell").mode("overwrite").parquet(str(out_dir))
    if args.append:
        _merge_parquet_dir(out_dir, idx / "codes")
    (idx / "model.json").write_text(json.dumps(model))
    n = spark.read.parquet(str(idx / "codes")).count()
    print(f"wrote {idx} ({args.kind}, {n} codes)")
    return 0


def cmd_ann_search(args: argparse.Namespace) -> int:
    """Search a persisted ANN index from its STORED codes: the corpus
    embeddings are never re-read — per query the cost is LUT literals +
    the code-table scan (cell-pruned for IVF+PQ) + one top-k exchange.
    Query vectors come from the db embeddings table by id."""
    import json
    from pathlib import Path

    from pyspark.sql import functions as F

    from hive_scripts_spark.operators import similarity as S
    from hive_scripts_spark.sources.readers import table as load_sf_table

    spark = get_spark("hive-scripts-spark-ann-search")
    idx = Path(args.index)
    model = json.loads((idx / "model.json").read_text())
    codes = spark.read.parquet(str(idx / "codes"))
    q_ids = [int(x) for x in args.query_ids.split(",")]
    q_rows = (
        load_sf_table(spark, args.db, "embeddings")
        .where(F.col("vec_id").isin(q_ids))
        .orderBy("vec_id")
        .collect()
    )
    missing = sorted(set(q_ids) - {int(r["vec_id"]) for r in q_rows})
    if missing:
        raise SystemExit(
            f"query ids not in {args.db}/embeddings: {missing}"
        )
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in q_rows
    ]
    if model["kind"] == "pq":
        out = S.pq_search_codes(codes, model["codebooks"], queries, k=args.k)
    else:
        centroids = [(int(c[0]), c[1]) for c in model["centroids"]]
        out = S.ivfpq_search_codes(
            codes,
            centroids,
            model["codebooks"],
            queries,
            k=args.k,
            nprobe=args.nprobe,
        )
    if args.output:
        # write once, print from the written parquet — collecting `out`
        # directly would re-run the whole search a second time
        out.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
        out = spark.read.parquet(args.output)
    for r in out.orderBy("query_id", "rank").collect():
        print(
            f"q={r['query_id']} rank={r['rank']} "
            f"neighbor={r['neighbor_id']} dist={r['adc_dist']}"
        )
    return 0


def cmd_reformat(args: argparse.Namespace) -> int:
    from hive_scripts_spark.sources.readers import read_delimited, reformat_delimited

    spark = get_spark("hive-scripts-spark-reformat")
    df = read_delimited(spark, args.input, sep=args.sep, num_fields=args.fields)
    for row in reformat_delimited(df).collect():
        print(row["line"])
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="hive_scripts_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("validate", help="UC#1+UC#2 cross-database validation")
    v.add_argument("config", help="INI config (reference format + Path keys)")
    v.add_argument("--output", default=None, help="report output directory")
    v.set_defaults(fn=cmd_validate)

    i = sub.add_parser(
        "incremental", help="manifest-diff UC#1 over a partitioned table"
    )
    i.add_argument("source", help="source lake dir (contains <table>/)")
    i.add_argument("target", help="target lake dir (contains <table>/)")
    i.add_argument("table")
    i.add_argument("partition_cols", help="comma-separated partition columns")
    i.add_argument("--state", required=True, help="manifest state directory")
    i.add_argument(
        "--fingerprint-keys",
        default="",
        help="comma-separated key columns: ALSO run the UC#2 sampled "
        "fingerprint over the changed partitions",
    )
    i.set_defaults(fn=cmd_incremental)

    s = sub.add_parser("sql", help='ad-hoc SQL (the reference\'s hive -e twin)')
    s.add_argument("statement", help="SQL to run; <table>.parquet files are views")
    s.add_argument("--db", default="/root/testdata/sf0.01", help="parquet lake dir")
    s.add_argument("--output", default=None, help="write result CSV here instead")
    s.add_argument("--limit", type=int, default=50, help="rows to show")
    s.set_defaults(fn=cmd_sql)

    c = sub.add_parser(
        "curate", help="training-data curation pipeline over documents.parquet"
    )
    c.add_argument("--db", required=True, help="dir containing documents.parquet")
    c.add_argument("--output", required=True, help="output parquet directory")
    c.add_argument(
        "--bench-mod",
        type=int,
        default=0,
        help="doc_id modulus defining the benchmark slice to decontaminate "
        "against (0 = skip decontamination)",
    )
    c.add_argument(
        "--redact-pii",
        action="store_true",
        help="redact emails/digit-runs (<EMAIL>/<NUM>) before curation",
    )
    c.add_argument(
        "--strip-boilerplate",
        type=int,
        default=None,
        metavar="MAX_DOC_FREQ",
        help="drop lines appearing in more than MAX_DOC_FREQ distinct "
        "docs before curation",
    )
    c.add_argument(
        "--dedup-intradoc",
        action="store_true",
        help="keep only the first occurrence of lines repeated WITHIN "
        "a document before curation (zero-shuffle)",
    )
    c.add_argument(
        "--max-compression-ratio",
        type=float,
        default=None,
        metavar="RATIO",
        help="drop documents whose zlib compression ratio "
        "(uncompressed/compressed bytes) exceeds RATIO — a "
        "templated/machine-generated text gate",
    )
    c.set_defaults(fn=cmd_curate)

    fr = sub.add_parser(
        "frames",
        help="extract sampled video frames (AVI/MP4) into a parquet "
        "frame table",
    )
    fr.add_argument(
        "--input", required=True, help="parquet of (id, payload) clip rows"
    )
    fr.add_argument("--output", required=True, help="output parquet directory")
    fr.add_argument("--every-n", type=int, default=10)
    fr.add_argument("--max-frames", type=int, default=100)
    fr.add_argument("--id-col", default="doc_id")
    fr.add_argument("--payload-col", default="payload")
    fr.set_defaults(fn=cmd_frames)

    au = sub.add_parser(
        "audio",
        help="WAV payload parquet -> per-clip feature table (PCM "
        "decode features, or FFT spectral stats with --spectral)",
    )
    au.add_argument(
        "--input", required=True, help="parquet of (id, payload) clip rows"
    )
    au.add_argument("--output", required=True, help="output parquet directory")
    au.add_argument(
        "--spectral",
        action="store_true",
        help="emit zcr/centroid/bandwidth/rolloff instead of "
        "n_samples/duration/RMS",
    )
    au.add_argument("--rolloff-pct", type=float, default=0.85)
    au.add_argument("--id-col", default="doc_id")
    au.add_argument("--payload-col", default="payload")
    au.set_defaults(fn=cmd_audio)

    sd = sub.add_parser(
        "semdedup",
        help="semantic near-dup removal over embeddings (SemDeDup)",
    )
    sd.add_argument("--db", required=True, help="dir containing embeddings.parquet")
    sd.add_argument("--output", required=True, help="survivor parquet directory")
    sd.add_argument(
        "--threshold", type=float, default=0.95, help="near-dup cosine"
    )
    sd.add_argument(
        "--max-cell-size",
        type=int,
        default=65536,
        help="enforced per-cell cap: hotter cells sub-block into "
        "hash-group pair tasks (exact — survivors unchanged)",
    )
    _add_centroid_args(sd)
    sd.set_defaults(fn=cmd_semdedup)

    bal = sub.add_parser(
        "balance",
        help="cluster-balanced subsampling over embeddings (topic balancing)",
    )
    bal.add_argument("--db", required=True, help="dir containing embeddings.parquet")
    bal.add_argument("--output", required=True, help="picked parquet directory")
    bal.add_argument(
        "--cap", type=int, default=100, help="max vectors kept per cell"
    )
    _add_centroid_args(bal)
    bal.set_defaults(fn=cmd_balance)

    mh = sub.add_parser(
        "mhindex",
        help="persisted MinHash index: build/append/dedup-batch",
    )
    mh.add_argument("action", choices=("build", "append", "dedup"))
    mh.add_argument("--db", required=True, help="dir containing documents.parquet")
    mh.add_argument("--index", required=True, help="index directory")
    mh.add_argument("--output", help="survivor parquet dir (dedup only)")
    mh.add_argument("--threshold", type=float, default=0.5)
    mh.add_argument("--ngram", type=int, default=3, help="shingle width (build)")
    mh.add_argument("--num-hashes", type=int, default=32, help="(build)")
    mh.add_argument("--bands", type=int, default=8, help="(build)")
    mh.set_defaults(fn=cmd_mhindex)

    k = sub.add_parser(
        "chunk", help="overlapping fixed-token chunk export over documents"
    )
    k.add_argument("--db", required=True, help="dir containing documents.parquet")
    k.add_argument("--output", required=True, help="output parquet directory")
    k.add_argument("--chunk-tokens", type=int, default=64)
    k.add_argument("--overlap", type=int, default=16)
    k.set_defaults(fn=cmd_chunk)

    w = sub.add_parser(
        "stream-reconcile",
        help="micro-batch UC#1: stream events vs a static target",
    )
    w.add_argument("events_dir", help="directory of events parquet files")
    w.add_argument("target", help="static target events parquet")
    w.add_argument("--output", required=True, help="per-batch verdict sink dir")
    w.add_argument("--partition-col", default="event_type")
    w.add_argument("--watermark", default="2 hours")
    w.set_defaults(fn=cmd_stream_reconcile)

    z = sub.add_parser(
        "analyze", help="collect catalog stats (ANALYZE TABLE) per table"
    )
    z.add_argument("--db", required=True, help="metastore database")
    z.add_argument("tables", nargs="+")
    z.add_argument(
        "--no-columns", action="store_true", help="skip per-column NDV stats"
    )
    z.set_defaults(fn=cmd_analyze)

    c = sub.add_parser(
        "compact",
        help="report (and --apply rewrite) small-file partitions",
    )
    c.add_argument("table_dir", help="Hive-partitioned parquet table dir")
    c.add_argument(
        "--partition-cols", required=True, help="comma-separated, in order"
    )
    c.add_argument(
        "--min-avg-bytes", type=int, default=32 * 1024 * 1024,
        help="flag partitions whose mean file size is below this",
    )
    c.add_argument("--apply", action="store_true", help="rewrite offenders")
    c.set_defaults(fn=cmd_compact)

    n = sub.add_parser(
        "ingest",
        help="JSONL -> documents parquet with corrupt-line quarantine",
    )
    n.add_argument("input", help="JSONL file or directory of shards")
    n.add_argument("--output", required=True, help="output db directory")
    n.add_argument(
        "--schema",
        default="doc_id long, text string, lang string, source string",
        help="DDL schema of the JSONL records (declared = single-pass read)",
    )
    n.set_defaults(fn=cmd_ingest)

    wa = sub.add_parser(
        "warc",
        help="WARC/Common Crawl shards -> documents parquet",
    )
    wa.add_argument("input", help=".warc/.warc.gz file or shard directory")
    wa.add_argument("--output", required=True, help="output db directory")
    wa.add_argument(
        "--max-payload-bytes",
        type=int,
        default=4 * 1024 * 1024,
        help="per-record payload clip (bomb posture)",
    )
    wa.add_argument(
        "--status-ok-only",
        action="store_true",
        help="keep only HTTP 200 responses",
    )
    wa.add_argument(
        "--html-to-text",
        action="store_true",
        help="extract visible text from HTML bodies (drop script/style "
        "subtrees, block tags to newlines, entities decoded — "
        "operators/textstats.html_to_text; map-only). Without it the "
        "documents table carries raw markup and every downstream gate "
        "scores tag soup",
    )
    wa.add_argument(
        "--fix-mojibake",
        action="store_true",
        help="repair UTF-8-as-cp1252 mojibake in extracted text "
        "(operators/encoding.py; map-only)",
    )
    wa.add_argument(
        "--clean-text",
        action="store_true",
        help="strip control/invisible characters and NFC-normalize "
        "extracted text (operators/encoding.clean_text; map-only)",
    )
    wa.add_argument(
        "--robots",
        default=None,
        help="per-host robots rules parquet (from operators/robots.py "
        "robots_rules); documents disallowed for their URI are dropped",
    )
    wa.set_defaults(fn=cmd_warc)

    mg = sub.add_parser(
        "merge",
        help="latest-wins upsert of a delta parquet into a table",
    )
    mg.add_argument("current", help="current table parquet path")
    mg.add_argument("changes", help="delta parquet path")
    mg.add_argument("--key", required=True,
                    help="comma-separated key columns")
    mg.add_argument("--order-col", default=None,
                    help="version column (latest wins)")
    mg.add_argument("--delete-col", default=None,
                    help="boolean tombstone column on the delta")
    mg.add_argument("--output", required=True, help="merged output path")
    mg.set_defaults(fn=cmd_merge)

    sk = sub.add_parser(
        "sketch",
        help="mergeable sketches: per-batch build + merged any-range "
        "estimate (incremental distinct / frequency stats)",
    )
    sk.add_argument("action", choices=("build", "estimate"))
    sk.add_argument("--db", default="", help="(build) sf_dir with <table>.parquet")
    sk.add_argument("--table", default="", help="(build) table name")
    sk.add_argument(
        "--cols",
        default="",
        help="(build) comma-sep value columns (kmv) / ONE key column "
        "(countmin)",
    )
    sk.add_argument(
        "--group-cols", default="",
        help="(build, kmv) per-group sketch keys",
    )
    sk.add_argument(
        "--kind", choices=("kmv", "countmin", "digit"), default="kmv"
    )
    sk.add_argument("--k", type=int, default=256, help="kmv sketch size")
    sk.add_argument("--depth", type=int, default=4, help="countmin rows")
    sk.add_argument("--width", type=int, default=1024, help="countmin buckets")
    sk.add_argument(
        "--digits", type=int, default=2,
        help="digit-histogram significant digits (quantile resolution)",
    )
    sk.add_argument(
        "--qs", default="0.25,0.5,0.75,0.95,0.99",
        help="(estimate, digit) comma-sep quantiles to print",
    )
    sk.add_argument("--out", default="", help="(build) sketch output dir")
    sk.add_argument(
        "--sketch-dirs", nargs="*", default=[],
        help="(estimate) sketch dirs to merge",
    )
    sk.add_argument(
        "--keys", default="",
        help="(estimate, countmin) comma-sep probe key values",
    )
    sk.set_defaults(fn=cmd_sketch)

    bp = sub.add_parser(
        "bpe",
        help="real BPE: train merges on the corpus / tokenize with a "
        "stored merge list",
    )
    bp.add_argument("action", choices=("train", "apply"))
    bp.add_argument("--db", required=True, help="dir with documents.parquet")
    bp.add_argument("--model", required=True, help="merges.json path")
    bp.add_argument("--merges", type=int, default=200, help="(train)")
    bp.add_argument("--max-words", type=int, default=50_000, help="(train)")
    bp.add_argument("--output", default="", help="(apply) tokens parquet dir")
    bp.set_defaults(fn=cmd_bpe)

    e = sub.add_parser(
        "export",
        help="curate -> shard -> token-pack -> partitioned training export",
    )
    e.add_argument("--db", required=True, help="dir containing documents.parquet")
    e.add_argument("--output", required=True, help="output parquet directory")
    e.add_argument("--shards", type=int, default=16)
    e.add_argument("--budget", type=int, default=512, help="tokens per pack")
    e.add_argument("--bench-mod", type=int, default=0)
    e.add_argument(
        "--splits",
        default="",
        help="train/val/test percentages, e.g. '90,5,5' — adds a "
        "deterministic hash-stable `split` column and partitions the "
        "output by (split, shard)",
    )
    e.set_defaults(fn=cmd_export)

    ab = sub.add_parser(
        "ann-build",
        help="build a persisted ANN index (PQ / IVF+PQ codes + model.json)",
    )
    ab.add_argument("db", help="sf_dir with embeddings.parquet")
    ab.add_argument("index", help="index output directory")
    ab.add_argument("--kind", choices=("pq", "ivfpq"), default="ivfpq")
    # model-shape flags default to None so --append can detect (and
    # loudly reject) explicit values: the model is fixed at first build
    ab.add_argument("--m", type=int, default=None, help="PQ subspaces (default 4)")
    ab.add_argument(
        "--codes", type=int, default=None, help="codes per subspace (default 8)"
    )
    ab.add_argument(
        "--nlist", type=int, default=None, help="coarse cells (ivfpq, default 8)"
    )
    ab.add_argument(
        "--sample", type=int, default=None, help="training sample (default 256)"
    )
    ab.add_argument(
        "--append",
        action="store_true",
        help="incremental update: encode only vectors missing from the "
        "stored code table with the EXISTING model (no retrain)",
    )
    ab.set_defaults(fn=cmd_ann_build)

    asr = sub.add_parser(
        "ann-search", help="ADC top-k from a stored ANN index's codes"
    )
    asr.add_argument("db", help="sf_dir with embeddings.parquet (query source)")
    asr.add_argument("index", help="index directory from ann-build")
    asr.add_argument("--query-ids", default="0,1,2", help="comma-sep vec_ids")
    asr.add_argument("--k", type=int, default=5)
    asr.add_argument("--nprobe", type=int, default=2, help="probed cells (ivfpq)")
    asr.add_argument("--output", default=None, help="results parquet dir")
    asr.set_defaults(fn=cmd_ann_search)

    r = sub.add_parser("reformat", help="delimited-text reformatter")
    r.add_argument("input", help="delimited text file")
    r.add_argument("--sep", default="|")
    r.add_argument("--fields", type=int, default=3)
    r.set_defaults(fn=cmd_reformat)

    b = sub.add_parser("bench", help="run the headline benchmark")
    b.set_defaults(fn=lambda a: __import__("bench").main() or 0)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
