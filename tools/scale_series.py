"""Scale-slope series for the top-10 sweep queries (COVERAGE.md
"Post-queue roadmap" item 1, pulled forward to r18): run the ten most
expensive registered queries — exactly as the driver grades them, via
``__spark_entry__.queries()`` — at sf0.01 and sf0.1 (the real testdata
dirs) and at an **sf1-equivalent synthetic scratch** (10× the sf0.1 row
counts, schema-matched to TESTDATA.md, deterministic hash/trig
generation — no RNG state, same rows every run), and record per
query × scale:

* ``sec`` — min-of-reps wall of a noop-sink write (bench.py's
  statistic), with the kept rep's CPU-steal alongside;
* ``exchanges`` / ``bhj`` / ``smj`` — executed-plan (AQE-final)
  exchange count and join-strategy split (a broadcast→shuffle flip as
  inputs grow is the scale signal exchange counts alone miss);
* ``shuffle_write_mb`` / ``shuffle_read_mb`` — the stage-store shuffle
  volume attributable to the measured reps (cumulative AppStatusStore
  counters diffed around the query, divided by reps).

Reading the result: a scale-safe plan shows **sub-linear shuffle growth
and a flat exchange count** across the 10×/100× steps; a hidden O(n²)
stage or a skew cliff shows up as a superlinear wall/shuffle kink. Two
graded rows are EXPECTED to kink by construction and the analysis must
say so rather than flag them: ``x_dedup_semantic`` fixes 8 centroids
(cells grow ∝ n, intra-cell pairs ∝ n²/8 — production sizes nlist ∝ n,
see ``_probe_semdedup_1m``) and ``x_ann_ivfpq_index_search`` fixes an
8-cell codebook the same way. The synthetic scratch is derived, not
stored: regenerated under ``.scratch/`` per run and deleted after; only
the JSON series (``SCALE_r{N}.json``) commits.

Synthetic-table fidelity (measured from the sf0.1 testdata):
``documents`` ~50 tokens/doc from a small shared tech vocab (avg
n_chars 297, so shingle/token volumes per row match); ``embeddings``
64-dim with per-dim-frequency trig noise (near-random cosine
distribution — distinct per-dim frequencies decorrelate pairs, the
gen_semdedup_embeddings lesson); ``events`` one calendar month, 5
event types (so the 2h/1h sliding-window count grows with rows, not
span); ``lineitem.l_suppkey`` uniform over a supplier table scaled
10× (0..9999) so the countmin probe side scales with the corpus.

Usage: python tools/scale_series.py [--reps 2] [--out SCALE_r18.json]
           [--scales sf0.01,sf0.1,sf1] [--queries name1,name2,...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

#: SWEEP_r17.json warm-rank order — the ten most expensive graded rows.
TOP10 = [
    "x_dedup_semantic",
    "x_ann_ivfpq_index_search",
    "x_decontaminate_embedding",
    "x_countmin_heavy",
    "x_dedup_simhash",
    "x_dedup_minhash_lsh",
    "x_dedup_repeated_spans",
    "x_multimodal_frames",
    "x_tfidf",
    "x_events_sliding",
]

#: rows registered in r18 — new enough that their scale posture had no
#: committed evidence yet, so the series carries them alongside the
#: sweep top-10
NEW_R18 = ["x_digit_hist", "x_digit_quantiles", "x_robots_decisions"]

_CLK_TCK = float(os.sysconf("SC_CLK_TCK")) if hasattr(os, "sysconf") else 100.0


def _steal_ticks() -> int:
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) if parts and parts[0] == "cpu" else 0
    except Exception:  # noqa: BLE001 — telemetry must never fail a probe
        return 0


def _shuffle_totals(spark):
    """Cumulative (write, read) shuffle bytes across completed stages
    (the AppStatusStore: plan SQLMetrics read zero under AQE stage
    reuse)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = spark.sparkContext._jvm.java.util.ArrayList()
    ds = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
    stages = store.stageList(empty, *ds)
    w = sum(stages.apply(i).shuffleWriteBytes() for i in range(stages.size()))
    r = sum(stages.apply(i).shuffleReadBytes() for i in range(stages.size()))
    return w, r


def _measure(spark, build, reps):
    """Min-of-reps noop-write wall + kept-rep steal + executed-plan
    shape + per-rep shuffle volume."""
    best = best_steal = None
    w0, r0 = _shuffle_totals(spark)
    plan = ""
    n = max(1, reps)
    for _ in range(n):
        df = build()
        steal0 = _steal_ticks()
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        steal = (_steal_ticks() - steal0) / _CLK_TCK
        if best is None or dt < best:
            best, best_steal = dt, steal
        plan = df._jdf.queryExecution().executedPlan().toString()
    w1, r1 = _shuffle_totals(spark)
    return {
        "sec": round(best, 2),
        "steal_s": round(best_steal, 2),
        "exchanges": plan.count("Exchange "),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        # clamped at 0: the AppStatusStore retains a bounded stage list,
        # so eviction of older stages can make the cumulative counter
        # DECREASE across a window (observed as a -0.1 MB delta on a
        # zero-shuffle query) — a negative delta means "nothing
        # attributable", not negative traffic
        "shuffle_write_mb": max(0.0, round((w1 - w0) / 1e6 / n, 1)),
        "shuffle_read_mb": max(0.0, round((r1 - r0) / 1e6 / n, 1)),
    }


# --------------------------------------------------------------------------
# sf1-equivalent synthesis (10× the sf0.1 row counts, TESTDATA.md schemas)

_DOC_VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector plan stage shuffle join scale read write cache disk "
    "node task core limit"
).split()

_EVENT_TYPES = ("signup", "click", "purchase", "error", "view")
_LANGS = ("en", "de", "es", "fr", "it")


def _gen_documents(spark, n, path):
    # 40 + hash%21 tokens/doc ⇒ ~50 mean, matching the testdata's
    # ~297-char average; vocab size 40 matches its shared-vocab style
    n_tokens = (F.pmod(F.xxhash64(F.col("id") + 11), F.lit(21)) + 40).cast("int")
    vocab = F.array(*[F.lit(w) for w in _DOC_VOCAB])
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), n_tokens),
            lambda t: F.element_at(
                vocab,
                (
                    F.pmod(F.xxhash64(F.col("id") * 97 + t), F.lit(len(_DOC_VOCAB)))
                    + 1
                ).cast("int"),
            ),
        ),
    )
    langs = F.array(*[F.lit(v) for v in _LANGS])
    spark.range(0, n, 1, 32).select(
        F.col("id").alias("doc_id"),
        text.alias("text"),
        F.element_at(
            langs, (F.pmod(F.xxhash64(F.col("id") + 3), F.lit(5)) + 1).cast("int")
        ).alias("lang"),
        F.concat(
            F.lit("src"), F.pmod(F.xxhash64(F.col("id") + 5), F.lit(20))
        ).alias("source"),
    ).withColumn("n_chars", F.length("text").cast("bigint")).write.mode(
        "overwrite"
    ).parquet(path)


def _gen_embeddings(spark, n, path, dim=64):
    # near-random cosine distribution (the testdata's shape): iid hash
    # noise per (id, dim). NOT smooth trig in id — sin(id·f_d) has
    # near-periodic recurrences (k·Δf ≈ 2π makes ids k apart share a
    # common phase shift across ALL dims → near-dup CHAINS whose
    # component diameter blows the connected-components iteration cap;
    # measured: k=138 at the gen_semdedup frequencies)
    comps = [
        (
            F.pmod(F.xxhash64(F.col("id") * dim + i), F.lit(2_000_001))
            / 1_000_000.0
            - 1.0
        ).cast("float")
        for i in range(dim)
    ]
    spark.range(0, n, 1, 32).select(
        F.col("id").alias("vec_id"),
        F.array(*comps).alias("embedding"),
        F.pmod(F.xxhash64(F.col("id") + 17), F.lit(16)).cast("int").alias("label"),
    ).write.mode("overwrite").parquet(path)


def _gen_events(spark, n, path):
    # one calendar month (2024-01, the testdata span), second
    # resolution: the 2h/1h sliding-window count stays ~744/type and
    # per-window row volume grows with n — the slope we want to price
    t0_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    types = F.array(*[F.lit(t) for t in _EVENT_TYPES])
    spark.range(0, n, 1, 32).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(t0_us)
            + F.pmod(F.xxhash64(F.col("id")), F.lit(30 * 86_400)) * 1_000_000
        ).alias("ts"),
        F.pmod(F.xxhash64(F.col("id") + 7), F.lit(15_000)).alias("user_id"),
        F.element_at(
            types, (F.pmod(F.xxhash64(F.col("id") + 9), F.lit(5)) + 1).cast("int")
        ).alias("event_type"),
        (F.pmod(F.xxhash64(F.col("id") + 13), F.lit(100_000)) / 100.0).alias(
            "value"
        ),
        F.lit('{"synthetic":1}').alias("props"),
    ).write.mode("overwrite").parquet(path)


def _gen_lineitem_supplier(spark, n, n_supp, li_path, supp_path):
    spark.range(0, n_supp, 1, 8).select(
        F.col("id").alias("s_suppkey"),
        F.concat(F.lit("Supplier#"), F.col("id")).alias("s_name"),
        F.pmod(F.col("id"), F.lit(25)).cast("int").alias("s_nationkey"),
        (F.pmod(F.xxhash64(F.col("id") + 23), F.lit(1_000_000)) / 100.0).alias(
            "s_acctbal"
        ),
    ).write.mode("overwrite").parquet(supp_path)
    h = lambda k, m: F.pmod(F.xxhash64(F.col("id") + k), F.lit(m))  # noqa: E731
    spark.range(0, n, 1, 32).select(
        (F.col("id") / 4).cast("bigint").alias("l_orderkey"),
        h(1, 200_000).alias("l_partkey"),
        h(3, n_supp).alias("l_suppkey"),
        (F.pmod(F.col("id"), F.lit(4)) + 1).cast("int").alias("l_linenumber"),
        (h(5, 50) + 1).cast("double").alias("l_quantity"),
        (h(7, 10_000_000) / 100.0).alias("l_extendedprice"),
        (h(9, 11) / 100.0).alias("l_discount"),
        (h(11, 9) / 100.0).alias("l_tax"),
        F.element_at(
            F.array(F.lit("A"), F.lit("N"), F.lit("R")), (h(13, 3) + 1).cast("int")
        ).alias("l_returnflag"),
        F.element_at(
            F.array(F.lit("F"), F.lit("O")), (h(15, 2) + 1).cast("int")
        ).alias("l_linestatus"),
        F.timestamp_seconds(
            F.lit(788_918_400) + h(17, 2_000) * 86_400
        ).alias("l_shipdate"),
    ).write.mode("overwrite").parquet(li_path)


def _gen_orders(spark, n, path):
    h = lambda k, m: F.pmod(F.xxhash64(F.col("id") + k), F.lit(m))  # noqa: E731
    prios = F.array(
        *[F.lit(p) for p in ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")]
    )
    spark.range(0, n, 1, 32).select(
        F.col("id").alias("o_orderkey"),
        h(1, 150_000).alias("o_custkey"),
        F.element_at(
            F.array(F.lit("O"), F.lit("F"), F.lit("P")), (h(3, 3) + 1).cast("int")
        ).alias("o_orderstatus"),
        (h(5, 50_000_000) / 100.0).alias("o_totalprice"),
        F.timestamp_seconds(F.lit(788_918_400) + h(7, 2_400) * 86_400).alias(
            "o_orderdate"
        ),
        F.element_at(prios, (h(9, 5) + 1).cast("int")).alias("o_orderpriority"),
    ).write.mode("overwrite").parquet(path)


def _gen_customer_dims(spark, n_cust, cust_path, nation_path, region_path):
    # r20: q2_revenue_by_nation joined the series — it needs the three
    # dim tables (sf0.1 schemas; nation/region stay TPC-H-fixed-size)
    h = lambda k, m: F.pmod(F.xxhash64(F.col("id") + k), F.lit(m))  # noqa: E731
    segs = F.array(*[F.lit(s) for s in (
        "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")])
    spark.range(0, n_cust, 1, 8).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.col("id")).alias("c_name"),
        h(1, 25).cast("int").alias("c_nationkey"),
        (h(3, 1_999_999) / 100.0 - 999.99).alias("c_acctbal"),
        F.element_at(segs, (h(5, 5) + 1).cast("int")).alias("c_mktsegment"),
    ).write.mode("overwrite").parquet(cust_path)
    spark.range(0, 25, 1, 1).select(
        F.col("id").cast("int").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), F.col("id")).alias("n_name"),
        F.pmod(F.col("id"), F.lit(5)).cast("int").alias("n_regionkey"),
    ).write.mode("overwrite").parquet(nation_path)
    spark.range(0, 5, 1, 1).select(
        F.col("id").cast("int").alias("r_regionkey"),
        F.concat(F.lit("REGION_"), F.col("id")).alias("r_name"),
    ).write.mode("overwrite").parquet(region_path)


#: sf0.1 testdata row counts × 10 (TESTDATA.md layout)
_SF1_ROWS = {
    "documents": 50_000,
    "embeddings": 20_000,
    "events": 1_000_000,
    "lineitem": 6_000_000,
    "supplier": 10_000,
    "orders": 1_500_000,
    "customer": 150_000,
}


def build_sf1(spark, scratch: Path) -> str:
    sf1 = scratch / "sf1"
    shutil.rmtree(sf1, ignore_errors=True)
    sf1.mkdir(parents=True)
    t0 = time.perf_counter()
    _gen_documents(spark, _SF1_ROWS["documents"], str(sf1 / "documents.parquet"))
    _gen_embeddings(spark, _SF1_ROWS["embeddings"], str(sf1 / "embeddings.parquet"))
    _gen_events(spark, _SF1_ROWS["events"], str(sf1 / "events.parquet"))
    _gen_lineitem_supplier(
        spark,
        _SF1_ROWS["lineitem"],
        _SF1_ROWS["supplier"],
        str(sf1 / "lineitem.parquet"),
        str(sf1 / "supplier.parquet"),
    )
    _gen_orders(spark, _SF1_ROWS["orders"], str(sf1 / "orders.parquet"))
    _gen_customer_dims(
        spark,
        _SF1_ROWS["customer"],
        str(sf1 / "customer.parquet"),
        str(sf1 / "nation.parquet"),
        str(sf1 / "region.parquet"),
    )
    print(
        json.dumps(
            {
                "probe": "sf1_synthesis",
                "sec": round(time.perf_counter() - t0, 2),
                "rows": _SF1_ROWS,
            }
        ),
        flush=True,
    )
    return str(sf1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--out", default=None, help="write the summary JSON here")
    ap.add_argument("--scales", default="sf0.01,sf0.1,sf1")
    ap.add_argument("--queries", default=",".join(TOP10 + NEW_R18))
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from hive_scripts_spark.session import get_spark

    spark = get_spark("scale_series")
    spark.sparkContext.setLogLevel("ERROR")
    registry = entry_mod.queries()
    names = [q for q in args.queries.split(",") if q]
    missing = [q for q in names if q not in registry]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    scratch = Path(__file__).resolve().parents[1] / ".scratch" / "scale_series"
    scales: dict[str, str] = {}
    for s in args.scales.split(","):
        if s == "sf1":
            scales[s] = build_sf1(spark, scratch)
        else:
            scales[s] = f"/root/testdata/{s}"

    results: dict[str, dict] = {}
    for name in names:
        fn = registry[name]
        results[name] = {}
        for label, sf_dir in scales.items():
            row = _measure(spark, lambda: fn(spark, sf_dir), args.reps)
            results[name][label] = row
            print(json.dumps({"query": name, "scale": label, **row}), flush=True)

    summary = {
        "round": 18,
        "reps": args.reps,
        "sf1_rows": _SF1_ROWS,
        "note": (
            "sf0.01/sf0.1 = real testdata; sf1 = deterministic synthetic "
            "scratch at 10x sf0.1 rows (derived, not stored). sec = "
            "min-of-reps noop-sink wall; shuffle MB = stage-store delta "
            "per rep. x_dedup_semantic and x_ann_ivfpq_index_search fix "
            "8-centroid models by grading construction, so their sf1 "
            "point prices the FIXED-nlist form (production scales nlist "
            "with n)."
        ),
        "queries": results,
    }
    out = args.out or "SCALE_r18.json"
    Path(out).write_text(json.dumps(summary, indent=1) + "\n")
    print(json.dumps({"summary_written": out}))
    shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
