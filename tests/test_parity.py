"""Every registered query against its DuckDB oracle, at both test scales.

For each oracled query the Spark result and the oracle's DuckDB result
must have the same row count (non-zero at both scales, bar the few
listed in ``EMPTY_AT_SF0001``), the same column names and the same
order-insensitive rows (the rendering
:func:`~hive_scripts_spark.plans.oracle_helpers.frame_digest` hashes;
``tools/parity.py`` is the CLI over the same helpers). A rows-only query
(no oracle) must match its sf0.001 digest pinned in
``golden/rows_only_sf0.001.json``. Every query, oracled or rows-only,
must also emit flat scalar columns: list, map and struct cells cannot be
hashed by a row-value canonicalizer.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from hive_scripts_spark.plans.oracle_helpers import (
    canonical_lines,
    duck_views,
    frame_digest,
)
from hive_scripts_spark.plans.registry import ORACLES, QUERIES

SCALES = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")

# the oracled queries whose result is legitimately empty at sf0.001 (no
# qualifying rows in the smallest generated data); every other oracled
# query must return rows at both scales
EMPTY_AT_SF0001 = frozenset({"g_q7_volume_shipping"})

# a rows-only query has no oracle to compare with, so it is checked at
# one scale, against its pinned digest
ROWS_ONLY_DIGESTS = json.loads(
    (Path(__file__).parent / "golden" / "rows_only_sf0.001.json").read_text()
)["digests"]
CASES = [
    (name, sf_dir)
    for sf_dir in SCALES
    for name in QUERIES
    if name in ORACLES or sf_dir == SCALES[0]
]


@pytest.fixture(scope="module")
def duck():
    cons = {sf_dir: duck_views(sf_dir) for sf_dir in SCALES}
    yield cons
    for con in cons.values():
        con.close()


@pytest.mark.parametrize(
    "name,sf_dir",
    CASES,
    ids=[f"{name}-{sf_dir.rsplit('/', 1)[-1]}" for name, sf_dir in CASES],
)
def test_query_matches_oracle(spark, duck, name, sf_dir):
    got = QUERIES[name](spark, sf_dir)
    nested = [
        f.name
        for f in got.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, f"nested output columns: {nested}"
    rows = [tuple(r) for r in got.collect()]
    if name not in ORACLES:
        assert frame_digest(got.columns, rows) == ROWS_ONLY_DIGESTS[name]
        return
    rel = duck[sf_dir].execute(ORACLES[name])
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()
    # an empty result would make the comparison vacuous
    assert rows or (sf_dir == SCALES[0] and name in EMPTY_AT_SF0001), (
        "empty result"
    )
    assert len(rows) == len(duck_rows)
    assert sorted(got.columns) == sorted(duck_cols)
    assert canonical_lines(got.columns, rows) == canonical_lines(
        duck_cols, duck_rows
    )
