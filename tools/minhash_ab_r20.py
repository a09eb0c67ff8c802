"""Round-20 A/B probe for `minhash_lsh_pairs` (VERDICT r19 item 1).

Variants of the same pipeline on the real registered input
(documents repartitioned to defaultParallelism, threshold 0.2):

  A  r19 form: explicit repartition("band","bucket") before the
     self-join (the "shared shuffle AQE reuses" bet)
  B  r18 form: no explicit repartition (join plans its own exchanges)
  C  A + verify-side prefilter: candidates localCheckpoint'd, shingle
     sets built only for docs appearing in a candidate pair
  D  B + the same prefilter

For each variant: row-set equality vs A, min-of-reps noop wall with
per-rep steal, and the AQE FINAL executed plan captured AFTER an
action (counts of Exchange / ReusedExchange / the minhash fold).

Usage: python tools/minhash_ab_r20.py [--reps 5] [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

_CLK = float(os.sysconf("SC_CLK_TCK"))


def _steal() -> int:
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8]) if parts and parts[0] == "cpu" else 0


def build(df, *, shared_shuffle: bool, prefilter: bool):
    import hive_scripts_spark.operators.dedup as D

    banded = D.minhash_band_buckets(df, "text", "doc_id", 3, 32, 8)
    if shared_shuffle:
        banded = banded.repartition("band", "bucket")
    lhs = banded.toDF("a_id", "band", "bucket")
    rhs = banded.toDF("b_id", "band", "bucket")
    candidates = (
        lhs.join(rhs, ["band", "bucket"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    if prefilter:
        cand = candidates.localCheckpoint(eager=True)
        ids = (
            cand.select(F.col("a_id").alias("doc_id"))
            .union(cand.select(F.col("b_id").alias("doc_id")))
            .distinct()
        )
        docs_f = df.join(ids, "doc_id", "left_semi")
        sets = D.shingle_sets(docs_f, "text", "doc_id", 3)
        return D._verify_pairs_jaccard(cand, sets, "doc_id", 0.2)
    sets = D.shingle_sets(df, "text", "doc_id", 3)
    return D._verify_pairs_jaccard(candidates, sets, "doc_id", 0.2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--gen",
        type=int,
        default=0,
        help="generate a synthetic documents table of N rows (the "
        "scale_series sf1 generator) and probe that instead",
    )
    args = ap.parse_args()

    from hive_scripts_spark.sources.readers import table
    from hive_scripts_spark.session import get_spark

    spark = get_spark("minhash_ab_r20")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = None
    if args.gen:
        from tools.scale_series import _gen_documents

        scratch = f"/tmp/minhash_ab_docs_{args.gen}"
        _gen_documents(spark, args.gen, scratch)
        args.sf = None
    # bench-identical warmup
    (
        spark.read.parquet(scratch)
        if scratch
        else table(spark, args.sf, "documents")
    ).write.format("noop").mode("overwrite").save()

    variants = {
        "A_shared": dict(shared_shuffle=True, prefilter=False),
        "B_plain": dict(shared_shuffle=False, prefilter=False),
        "C_shared_prefilter": dict(shared_shuffle=True, prefilter=True),
        "D_plain_prefilter": dict(shared_shuffle=False, prefilter=True),
    }

    def docs():
        if scratch:
            return spark.read.parquet(scratch)  # already 32-wide
        d = table(spark, args.sf, "documents")
        return d.repartition(spark.sparkContext.defaultParallelism)

    # row-set equality first (sorted tuples)
    ref = None
    for name, kw in variants.items():
        rows = sorted(
            (r["a_id"], r["b_id"], r["jaccard"])
            for r in build(docs(), **kw).collect()
        )
        if ref is None:
            ref = rows
            print(f"{name}: {len(rows)} rows (reference)")
        else:
            print(f"{name}: {len(rows)} rows, equal_to_A={rows == ref}")

    out_dir = Path(__file__).resolve().parents[1] / "plans" / "r20"
    out_dir.mkdir(parents=True, exist_ok=True)
    suffix = f"_gen{args.gen}" if args.gen else ""

    for name, kw in variants.items():
        reps, steals = [], []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"minhash_ab:{name}")
            d = docs()
            s0, t0 = _steal(), time.perf_counter()
            build(d, **kw).write.format("noop").mode("overwrite").save()
            reps.append(round(time.perf_counter() - t0, 3))
            steals.append(round((_steal() - s0) / _CLK, 2))
        # AQE final plan: execute THROUGH the df's own QueryExecution
        df = build(docs(), **kw)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        (out_dir / f"minhash_ab_{name}{suffix}_final.txt").write_text(final)
        n_ex = final.count("Exchange")
        n_reused = final.count("ReusedExchange")
        print(
            f"{name}: reps={reps} steal={steals} best={min(reps)} "
            f"exchanges={n_ex} reused={n_reused}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
