"""Helpers for building DuckDB oracle SQL that is value-identical to the
Spark queries (same canonical serialization, same portable fingerprint —
see :mod:`hive_scripts_spark.functions.canonical`), and for comparing
the two engines' result sets (:func:`duck_views`, :func:`frame_digest`)."""

from __future__ import annotations

import hashlib
import math

from hive_scripts_spark.functions.canonical import FINGERPRINT_MOD
from hive_scripts_spark.sources.readers import TESTDATA_TABLES

NULLS = "chr(0)"
SEP = "chr(1)"


def duck_canonical_col(name: str, kind: str) -> str:
    """Canonical string rendering of one column in DuckDB SQL.

    ``kind``: 'str' | 'int' | 'float' | 'ts' — mirrors
    ``canonical._canonical_col``.
    """
    if kind == "float":
        inner = f"cast(cast({name} as decimal(38,9)) as varchar)"
    elif kind == "str":
        inner = name
    else:  # int / ts / date — plain cast
        inner = f"cast({name} as varchar)"
    return f"coalesce({inner}, {NULLS})"


def duck_canonical_row(cols: list[tuple[str, str]]) -> str:
    """``concat_ws(chr(1), ...)`` over columns **sorted by name** (the
    canonical column order)."""
    rendered = [duck_canonical_col(n, k) for n, k in sorted(cols)]
    return f"concat_ws({SEP}, {', '.join(rendered)})"


def duck_row_hash(canonical_expr: str) -> str:
    """md5-prefix 60-bit row hash (portable twin of ``canonical.row_hash``)."""
    return f"cast(('0x' || substr(md5({canonical_expr}), 1, 15)) as bigint)"


def duck_fingerprint(canonical_expr: str) -> str:
    """Order-insensitive modular-sum fingerprint aggregate."""
    return (
        f"cast(sum({duck_row_hash(canonical_expr)}) % {FINGERPRINT_MOD} as bigint)"
    )


def duck_hash_bucket(key_expr: str, buckets: int = 1000) -> str:
    """Deterministic hash-mod sample bucket (twin of
    ``canonical.deterministic_sample``)."""
    return f"(cast(('0x' || substr(md5({key_expr}), 1, 15)) as bigint) % {buckets})"


# ---------------------------------------------------------------------------
# Spark-vs-DuckDB comparison (tests/test_parity.py, tools/parity.py)
# ---------------------------------------------------------------------------


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per testdata table of ``sf_dir``
    — the catalogue every oracle reads."""
    import duckdb

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # repr of the double — exact match required
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonical_lines(cols: list[str], rows: list[tuple]) -> list[str]:
    """One string per row, columns in name order, rows sorted — the
    order-insensitive rendering :func:`frame_digest` hashes."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(_norm_value(r[i]) for i in order) for r in rows)


def frame_digest(cols: list[str], rows: list[tuple]) -> str:
    """md5 over :func:`canonical_lines`: equal for two result sets with
    the same columns and the same multiset of rows."""
    return hashlib.md5("\n".join(canonical_lines(cols, rows)).encode()).hexdigest()
