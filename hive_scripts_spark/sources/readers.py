"""Readers (SURVEY §2.1): line files, delimited text, parquet tables.

Spark-native replacements for the reference's scan surface:

* S1 line-file scan — ``while read line ... done < file.txt``
  (``compare_tables.sh:3-9``) → :func:`read_lines`.
* S2 delimited-text scan — ``awk -F| '{print $N}'``
  (``compare_tables.sh:5-7``) → :func:`read_delimited`.
* S4 Hive table scan — ``use $db; SELECT ... from $tbl``
  (``verizon_automation_script.sh:119,124``) → :func:`load_table` over a
  path-prefix "database" of parquet files (or ``spark.table`` for a real
  metastore).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as _t

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """S1: one string column ``value`` per input line."""
    return spark.read.text(path)


def read_delimited(
    spark: SparkSession,
    path: str,
    sep: str = "|",
    num_fields: int = 3,
    names: list[str] | None = None,
) -> DataFrame:
    """S2/P1: positional split of delimited lines into string columns.

    Matches the awk behavior verified in SURVEY §3.3: rows with fewer than
    ``num_fields`` fields yield empty strings for the missing positions
    (``file.txt:1-2`` → ``("source", "", "")``), and blank lines yield all
    empty strings. ``split()`` + ``getItem`` would yield NULLs for missing
    positions, so missing items are coalesced to ``''``.
    """
    names = names or [f"c{i + 1}" for i in range(num_fields)]
    lines = spark.read.text(path)
    # split on the literal separator; escape regex metacharacters
    import re as _re

    pattern = _re.escape(sep)
    parts = F.split(F.col("value"), pattern)
    # F.get (not getItem): missing positions yield NULL (→ '') under ANSI
    cols = [
        F.coalesce(F.get(parts, i), F.lit("")).alias(names[i])
        for i in range(num_fields)
    ]
    return lines.select(*cols)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSON-Lines reader — the de-facto interchange format of
    training-data pipelines (one JSON document per line).

    Scale posture:

    * **Declare the schema** (DDL string) whenever it is known: schema
      inference is a FULL extra pass over the data before the real read
      — at 100 TB that doubles the scan. With a schema the read is
      single-pass and line-splittable (plain/bgzip JSONL parallelizes
      per-line like CSV).
    * **Corrupt lines degrade, never kill**: ``PERMISSIVE`` mode lands
      unparseable lines in ``corrupt_col`` with NULLs elsewhere, so one
      bad record in a billion-line crawl shard cannot fail the job —
      filter ``corrupt_col IS NOT NULL`` into a quarantine sink and move
      on (the same degradation contract as the multimodal parsers).
      Callers wanting hard failure can filter-and-raise on the count.

    When ``schema`` is given, ``corrupt_col`` is appended to it
    automatically (Spark only populates the corrupt column if it exists
    in the declared schema).

    Caveat (Spark contract): a query that references ONLY the corrupt
    column straight off the raw scan raises
    ``UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN`` — cache or
    persist the parsed frame first (``cmd_ingest`` does exactly this,
    which also makes its three consumers cost one parse).
    """
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", corrupt_col
    )
    if schema is not None:
        # a declared schema may already position the corrupt column;
        # blind appending would raise an opaque duplicate-column
        # AnalysisException. Parse the DDL to check by field name.
        declared = _t.StructType.fromDDL(schema)
        if corrupt_col in declared.fieldNames():
            reader = reader.schema(schema)
        else:
            reader = reader.schema(f"{schema}, {corrupt_col} string")
    return reader.json(path)


def reformat_delimited(df: DataFrame, joiner: str = " ") -> DataFrame:
    """Entry point 3 (``compare_tables.sh``): re-emit the split fields
    joined by ``joiner`` — ``echo "$var1 $var2 $var3"``."""
    return df.select(F.concat_ws(joiner, *df.columns).alias("line"))


def local_frame(
    spark: SparkSession, schema: _t.StructType, rows: list[tuple]
) -> DataFrame:
    """Rows already on the driver (tuples or ``Row`` objects in ``schema``'s
    field order) as a frame over a JVM ``LocalRelation``, built through
    an Arrow table of ``schema``'s exact types.

    Filters, projections and limits over it fold into the relation, so
    ``show``/``collect`` on them run no Spark job. The other ways to
    build it are slower or lossy: ``createDataFrame(list)`` takes the
    Python-RDD path (a 12-row CSV report write: ~0.85 s against ~0.15 s
    from Arrow, warm ``local[4]`` session on a 4-core host), and a pandas
    frame turns an int column with a NULL into float64, rounding 61-bit
    fingerprints above 2^53.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.names
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table)


def load_table(
    spark: SparkSession, db: str, name: str, csv_schema: str | None = None
) -> DataFrame:
    """S4: read one named table from a "database".

    Three addressing modes, mirroring the reference's ``use $db; ...
    from $tbl`` (``verizon_automation_script.sh:119``):

    * ``db`` contains a path separator → directory of ``<name>.parquet``
      files (the engine's file-lake mode);
    * ``db`` is a bare name → metastore database, read via
      ``spark.table("db.name")`` (the reference's actual model — works
      against Hive with ``enableHiveSupport`` or the session catalog);
    * ``db`` empty → unqualified ``spark.table(name)`` (current
      database).

    ``csv_schema``: optional DDL schema for the CSV fallback. Declared
    schemas skip ``inferSchema``'s second full scan and cannot mistype
    columns — pass one for anything beyond a small report table.
    """
    if not db:
        return spark.table(name)
    if "/" in db or db.startswith("file:") or db.startswith("s3"):
        base = f"{db.rstrip('/')}/{name}"
        # Format fallback (r10): parquet is the lake default, but a
        # table delivered as ORC / JSONL / CSV should load by the same
        # name — the interchange formats a training-data pipeline
        # actually receives. Resolution is by extension, checked on
        # the local filesystem only (remote lakes stay parquet-fast-
        # path: no existence probes over object storage). CSV assumes
        # a header; without ``csv_schema`` it falls back to inference
        # (a second scan — fine for reports, declare for real tables).
        from pathlib import Path as _P

        # Normalize file: spellings to a bare local path so the remote
        # check treats them all as local ('file:///x' contains '://'
        # and would otherwise silently skip fallback resolution).
        # RFC 8089 forms: 'file:/x' and 'file:x' are the path as-is
        # (absolute / relative); 'file://<auth>/x' strips an empty or
        # localhost authority; any OTHER authority is a genuinely
        # remote host — no local probing for it.
        local = db
        if db.startswith("file:"):
            rest = db[len("file:"):]
            if rest.startswith("//"):
                tail = rest[2:]
                slash = tail.find("/")
                auth, path_part = (
                    (tail[:slash], tail[slash:]) if slash >= 0 else (tail, "/")
                )
                if auth in ("", "localhost"):
                    local = path_part
                else:
                    # 'file://tmp/x' is ambiguous: RFC authority 'tmp',
                    # or the common 'file:/' + '/abs' concatenation
                    # meaning /tmp/x. Repair ONLY when the full
                    # candidate TABLE exists at /auth/path — a merely
                    # existing directory prefix (say /media for
                    # 'file://media/share/db') is not evidence the
                    # caller meant a local read, and silently scanning
                    # the wrong filesystem is the worst outcome. When
                    # the table is absent, raise: Hadoop's local FS
                    # rejects a non-empty authority anyway ("Wrong
                    # FS"), so there is no remote fallback to preserve
                    # — only a clearer error to give.
                    cand = f"/{auth}{path_part}"
                    cbase = f"{cand.rstrip('/')}/{name}"
                    if any(
                        _P(f"{cbase}.{ext}").exists()
                        for ext in ("parquet", "orc", "jsonl", "csv")
                    ):
                        local = cand
                    else:
                        raise ValueError(
                            f"ambiguous file URI {db!r}: authority "
                            f"{auth!r} is not a local-FS concept and no "
                            f"table {name!r} exists under {cand!r}. "
                            "Spell a local path as 'file:///abs/path' "
                            "(empty authority) or a bare '/abs/path'."
                        )
            else:
                local = rest
        if local is not None and "://" not in local:
            lbase = f"{local.rstrip('/')}/{name}"
            # every local read uses the NORMALIZED path: Hadoop rejects
            # 'file://tmp/x' (authority 'tmp') with Wrong FS even
            # though the probe above resolved it fine
            if _P(f"{lbase}.parquet").exists():
                return spark.read.parquet(f"{lbase}.parquet")
            if _P(f"{lbase}.orc").exists():
                return spark.read.orc(f"{lbase}.orc")
            if _P(f"{lbase}.jsonl").exists():
                return read_jsonl(spark, f"{lbase}.jsonl")
            if _P(f"{lbase}.csv").exists():
                reader = spark.read.option("header", "true")
                if csv_schema is not None:
                    reader = reader.schema(csv_schema)
                else:
                    reader = reader.option("inferSchema", "true")
                return reader.csv(f"{lbase}.csv")
        return spark.read.parquet(f"{base}.parquet")
    return spark.table(f"{db}.{name}")


def load_tables(spark: SparkSession, db_path: str, names=TESTDATA_TABLES):
    """Load several tables as ``{name: DataFrame}``."""
    return {name: load_table(spark, db_path, name) for name in names}


#: time-typed columns per table: the data layer has shipped these as
#: TIMESTAMP(NANOS)-as-long, micros-NTZ, and micros-UTC parquet at
#: various times, so every one is canonicalized on load instead of
#: assuming a layout.
_TS_COLUMNS: dict[str, list[str]] = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (TESTDATA.md layout).

    Columns listed in :data:`_TS_COLUMNS` are canonicalized to a
    UTC-instant ``TIMESTAMP`` by the dtype-driven probe in
    :mod:`hive_scripts_spark.sources.events`, whatever parquet
    representation the data layer picked.
    """
    ts_cols = _TS_COLUMNS.get(name)
    if not ts_cols:
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    from hive_scripts_spark.sources.events import normalize_event_ts, pin_utc

    pin_utc(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in ts_cols:
        df = normalize_event_ts(df, c)
    return df


def analyze_table(
    spark: SparkSession, db: str, name: str, columns: bool = True
) -> tuple[int | None, int | None]:
    """Collect table (and, by default, all-column) statistics into the
    catalog — the ``ANALYZE TABLE`` step of the 100 TB posture (SURVEY
    §2.9): with rowCount/sizeInBytes and per-column NDV/min/max in the
    metastore, the cost-based optimizer sizes join sides from STATS
    instead of raw file bytes — broadcast decisions, join reordering,
    and AQE's initial estimates all sharpen. Metastore-mode only
    (``db`` is a catalog database, as in the reference's ``use $db``).

    Returns ``(row_count, size_bytes)`` read back from the catalog as
    confirmation (``None`` when the catalog did not record them).

    Cost note: the table scan is one full pass; ``FOR ALL COLUMNS``
    adds NDV sketches per column. On a lake-scale table run it
    per-partition-batch off the critical path (it is a maintenance
    operation, like compaction), not inline in a query job.
    """
    qualified = f"{db}.{name}" if db else name
    stmt = f"analyze table {qualified} compute statistics"
    if columns:
        stmt += " for all columns"
    spark.sql(stmt)
    rows = bytes_ = None
    for r in spark.sql(f"describe extended {qualified}").collect():
        if r["col_name"] == "Statistics":
            # e.g. "2064 bytes, 200 rows"
            for part in r["data_type"].split(","):
                part = part.strip()
                if part.endswith(" rows"):
                    rows = int(part.split()[0])
                elif part.endswith(" bytes"):
                    bytes_ = int(part.split()[0])
    return rows, bytes_
