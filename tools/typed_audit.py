"""Typed Spark-vs-DuckDB dtype audit — the gap tools/parity.py can't see.

parity.py compares canonical *strings*, so a query can be parity-green
yet fail the external correctness gate on value *rendering*: DuckDB
types ``sum(int)`` as HUGEINT, which lands in pandas as float64 and
renders ``1677.0`` against Spark's bigint ``1677`` (the round-1
``g_q12`` hash failure; three more were latent in round 2:
sessionize/shard_assign/repetition).

Empirically (round-1 CORRECTNESS greens cross-referenced against
dtypes): int32-vs-int64 and datetime64[ns]-vs-[us] divergences are
harmless — the gate renders values. int-vs-float (and object-vs-
numeric, and missing columns) are fatal. This audit flags exactly the
fatal class for every oracled registry query.

Usage: python tools/typed_audit.py [sf_dir] [query ...]
Exit 0 = clean; 1 = divergences found.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

def main() -> int:
    from pyspark.sql import SparkSession

    from hive_scripts_spark.plans.oracle_helpers import duck_views
    from hive_scripts_spark.plans.registry import ORACLES, QUERIES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or [n for n in QUERIES if n in ORACLES]

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duck_views(sf_dir)

    fatal = []
    for name in names:
        if name not in ORACLES:
            print(f"skip  {name}: no oracle (rows-only by design)")
            continue
        try:
            sdf = QUERIES[name](spark, sf_dir).toPandas()
            odf = con.execute(ORACLES[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001 - report, keep auditing
            fatal.append((name, "ERROR", str(exc)[:200]))
            continue
        for c in sdf.columns:
            s = str(sdf[c].dtype)
            o = str(odf[c].dtype) if c in odf.columns else "MISSING"
            s_float = s.startswith("float")
            o_float = o.startswith("float")
            s_int = s.startswith(("int", "Int", "uint"))
            if (
                o == "MISSING"
                or (s_float != o_float)
                or (s_int and o_float)
                or ((s == "object") != (o == "object"))
            ):
                fatal.append((name, c, f"spark={s} duck={o}"))
    spark.stop()

    if fatal:
        print(f"\nFATAL rendering-class divergences: {len(fatal)}")
        for f in fatal:
            print(" ", *f)
        return 1
    print(f"\nclean: {len([n for n in names if n in ORACLES])} queries type-aligned")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
