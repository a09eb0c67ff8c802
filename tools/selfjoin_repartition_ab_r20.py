"""Round-20 follow-up to the minhash finding: A/B every other explicit
pre-self-join repartition against the plain form, same methodology
(same-session min-of-reps + steal + AQE-final plan).

Targets (each was added with a measured win in an earlier round; the
minhash revert showed the trade can flip, so re-measure rather than
assume):

  simhash   dedup.simhash_near_pairs's repartition("block", "key")
  lshpairs  similarity.embedding_near_dup_pairs's repartition("tbl","sig")
  ngram     dedup.ngram_jaccard_pairs's repartition("shingle")

The "off" variant monkeypatches DataFrame.repartition to a no-op for
EXACTLY the keyed column-form calls made between build start and end —
keeping the operator code authoritative (no reimplementation drift).

Usage: python tools/selfjoin_repartition_ab_r20.py [--reps 5]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from contextlib import contextmanager
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

_CLK = float(os.sysconf("SC_CLK_TCK"))


def _steal() -> int:
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8]) if parts and parts[0] == "cpu" else 0


_DF_CLASSES: list[type] = []


@contextmanager
def no_keyed_repartition():
    """Disable column-keyed df.repartition(...) calls (leave the
    numPartitions int form — the parallelism knob — untouched).

    Patches the CONCRETE DataFrame class of a live frame: in Spark 4
    the classic session returns pyspark.sql.classic.dataframe.DataFrame
    whose repartition OVERRIDES the base class — patching the imported
    pyspark.sql.DataFrame silently intercepts nothing (the first run of
    this probe measured on-vs-on; caught via identical
    REPARTITION_BY_COL counts in the captured plans)."""
    assert _DF_CLASSES, "call register_df_class(spark) first"
    saved = [(c, c.repartition) for c in _DF_CLASSES]

    def make_patched(orig):
        def patched(self, *args, **kwargs):
            if args and all(isinstance(a, int) for a in args):
                return orig(self, *args, **kwargs)
            return self  # keyed form: no-op

        return patched

    for c, orig in saved:
        c.repartition = make_patched(orig)
    try:
        yield
    finally:
        for c, orig in saved:
            c.repartition = orig


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from hive_scripts_spark.sources.readers import table
    from hive_scripts_spark.session import get_spark
    import hive_scripts_spark.operators.dedup as D
    import hive_scripts_spark.operators.similarity as S

    spark = get_spark("selfjoin_ab_r20")
    spark.sparkContext.setLogLevel("ERROR")
    _DF_CLASSES.append(type(spark.range(1)))
    docs = lambda: table(spark, args.sf, "documents")  # noqa: E731
    emb = lambda: table(spark, args.sf, "embeddings")  # noqa: E731
    docs().write.format("noop").mode("overwrite").save()
    emb().write.format("noop").mode("overwrite").save()
    par = spark.sparkContext.defaultParallelism

    builds = {
        "simhash": lambda: D.simhash_near_pairs(docs(), parallelism=par),
        "lshpairs": lambda: S.embedding_near_dup_pairs(
            emb(), threshold=0.35, use_lsh=True
        ),
        "ngram": lambda: D.ngram_jaccard_pairs(
            docs(), threshold=0.2, max_docs=None
        ),
    }
    out_dir = Path(__file__).resolve().parents[1] / "plans" / "r20"
    out_dir.mkdir(parents=True, exist_ok=True)

    for name, build in builds.items():
        with no_keyed_repartition():
            rows_off = sorted(map(tuple, build().collect()))
        rows_on = sorted(map(tuple, build().collect()))
        print(f"{name}: rows={len(rows_on)} equal={rows_on == rows_off}")
        for label, ctx in (("on", None), ("off", no_keyed_repartition)):
            reps, steals = [], []
            for _ in range(args.reps):
                spark.sparkContext.setJobDescription(f"{name}:{label}")
                if ctx is None:
                    df = build()
                else:
                    with ctx():
                        df = build()
                s0, t0 = _steal(), time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                reps.append(round(time.perf_counter() - t0, 3))
                steals.append(round((_steal() - s0) / _CLK, 2))
            if ctx is None:
                df = build()
            else:
                with ctx():
                    df = build()
            df.collect()
            final = df._jdf.queryExecution().executedPlan().toString()
            (out_dir / f"selfjoin_{name}_{label}_final.txt").write_text(final)
            print(
                f"{name}/{label}: reps={reps} steal={steals} "
                f"best={min(reps)} exchanges={final.count('Exchange')} "
                f"reused={final.count('ReusedExchange')}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
