"""Run every query in ``queries()`` against its ``oracle_sql()`` twin on
DuckDB and compare row count, column names, and an order-insensitive
value hash (:func:`~hive_scripts_spark.plans.oracle_helpers.frame_digest`,
the same check as ``tests/test_parity.py``). Every query's digest is
printed, the rows-only (oracle-less) ones too: their sf0.001 digests are
the values pinned in ``tests/golden/rows_only_sf0.001.json``.

Usage: python tools/parity.py [sf_dir] [query ...]

``SPARK_GRAFT_VANILLA=1`` runs on a bare session with none of
``session.py``'s configs.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from hive_scripts_spark.plans.oracle_helpers import (
        canonical_lines,
        duck_views,
        frame_digest,
    )

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # a bare session with NONE of session.py's configs — catches
        # anything that silently depends on them (nanosAsLong is set at
        # runtime by sources.readers.table)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .appName("parity-vanilla")
            .getOrCreate()
        )
    else:
        from hive_scripts_spark.session import get_spark

        spark = get_spark("parity")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_views(sf_dir)

    queries, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(ex).__name__}: {ex}")
            continue
        digest = frame_digest(scols, srows)
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(srows)} rows) {digest} — no oracle")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(ex).__name__}: {ex}")
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        elif digest != frame_digest(dcols, drows):
            problems.append("value-hash mismatch")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
            if "value-hash mismatch" in problems:
                diff = [
                    (a, b)
                    for a, b in zip(
                        canonical_lines(scols, srows),
                        canonical_lines(dcols, drows),
                    )
                    if a != b
                ][:3]
                for a, b in diff:
                    print(f"      spark: {a!r}\n      duck:  {b!r}")
        else:
            print(f"PASS  {name} ({len(srows)} rows) {digest}")
    spark.stop()
    print(f"\n{len(failures)} failures" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
