"""Time registered queries: each runs through the noop sink (full
computation, no collect or file IO), so a timing measures the
distributed plan, not the driver transfer. Prints ONE JSON line.

    python bench.py                                  # HEADLINE + EXTRA
    python bench.py all                              # every registered query
    python bench.py q1_pricing_summary x_events_hourly

Data: ``$SPARK_GRAFT_SF_DIR`` (default sf0.1). After one warm-up of the
JVM, the parquet footers and the Python worker pool, every query runs 3
times back to back; ``best_s`` is the fastest rep. ``steal_s`` holds the
CPU-seconds the host took from this guest during each rep (the
``/proc/stat`` steal counter): a slow rep whose steal covers the excess
is the host, not the plan. A query that raises is recorded under
``errors`` and the rest still run. ``tools/ab.py --queries`` runs this
timer over two revisions.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = 3

#: headline set: flagship reconciliation + fingerprint, the composite
#: analytics, and one of each extension family (dedup / ANN / text /
#: multimodal / event-time)
HEADLINE = [
    "j2_count_reconcile",
    "a3_table_fingerprint",
    "a4_deterministic_sample",
    "q1_pricing_summary",
    "q2_revenue_by_nation",
    "x_dedup_fingerprint",
    "x_dedup_minhash_lsh",
    "x_ann_brute_topk",
    "x_text_token_count",
    "x_multimodal_decode_meta",
    "x_events_hourly",
    "x_events_sessionize",
]

#: the rest of the default set. Pairs worth reading against each other
#: in one run:
#: x_ann_ivf_topk (probe-pruned scale path) vs x_ann_brute_topk;
#: x_decontaminate_bloom vs x_decontaminate (same answer); the PQ rows
#: vs x_ann_ivf_topk; the persisted-index rows (time includes the index
#: build + write) vs their recompute twins; x_embed_near_dup (declared
#: O(n^2) exactness baseline) vs the LSH-blocked x_ann_lsh_pairs; the
#: codec rows (JPEG / PNG / GIF) against each other; and
#: x_digit_quantiles (includes its histogram build) vs x_digit_hist.
EXTRA = [
    "x_ann_ivf_topk",
    "x_dedup_lines",
    "x_text_entropy",
    "x_doc_chunk",
    "x_decontaminate",
    "x_decontaminate_bloom",
    "x_dedup_cross",
    "x_train_val_split",
    "x_ann_pq_topk",
    "x_ann_ivfpq_topk",
    "x_ann_ivfpq_index_search",
    "x_quality_model",
    "x_mixture_temperature",
    "x_corpus_ngram_topk",
    "x_ann_ivf_cell_stats",
    "x_quality_gate_report",
    "x_strip_boilerplate",
    "x_dedup_semantic",
    "x_decontaminate_embedding",
    "x_dedup_intradoc_lines",
    "x_dedup_repeated_spans",
    "x_ann_lsh_pairs",
    "x_dedup_simhash",
    "x_dedup_ngram_jaccard",
    "x_embed_near_dup",
    "x_multimodal_resize_jpeg",
    "x_multimodal_frames",
    "x_multimodal_resize_png",
    "x_audio_zero_crossings",
    "x_validate_expectations",
    "x_multimodal_resize_gif",
    "x_text_bigram_logprob",
    "x_url_canonical",
    "x_merge_upsert",
    "x_scd2_apply",
    "x_kmv_distinct",
    "x_kmv_grouped",
    "x_countmin_heavy",
    "x_digit_hist",
    "x_digit_quantiles",
    "x_robots_decisions",
]


def _steal_ticks() -> int:
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) if parts and parts[0] == "cpu" else 0
    except (OSError, ValueError, IndexError):  # telemetry never fails a run
        return 0


def main(argv: list[str]) -> int:
    from hive_scripts_spark.plans.registry import QUERIES
    from hive_scripts_spark.session import get_spark

    names = argv or HEADLINE + EXTRA
    if names == ["all"]:
        names = list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM + parquet footers, and the Python worker pool with its
    # Arrow/pandas imports (the first pandas-UDF task otherwise pays
    # ~1.5 s of interpreter start-up); not counted
    QUERIES["a1_count_star"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(0, 64, 1, 32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    clk_tck = float(os.sysconf("SC_CLK_TCK"))
    queries, errors = {}, {}
    for name in names:
        reps, steals = [], []
        try:
            for _ in range(REPS):
                steal0 = _steal_ticks()
                start = time.perf_counter()
                QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                reps.append(round(time.perf_counter() - start, 3))
                steals.append(round((_steal_ticks() - steal0) / clk_tck, 2))
        except Exception as exc:  # noqa: BLE001 — isolate, report, go on
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            continue
        queries[name] = {"best_s": min(reps), "reps_s": reps, "steal_s": steals}
    spark.stop()
    total = round(sum(q["best_s"] for q in queries.values()), 3)
    print(json.dumps({
        "sf_dir": SF_DIR, "total_best_s": total, "queries": queries, "errors": errors,
    }))
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
