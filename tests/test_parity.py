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

The sf0.001 cases run a second time with broadcast joins off
(``spark.sql.autoBroadcastJoinThreshold=-1``), so every join AQE would
broadcast plans as a shuffle join: at lake scale the big sides never fit
the threshold, and results must not depend on that choice. Explicit
``broadcast()`` hints on sides bounded by construction still apply.
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
# the same sf0.001 cases on a session with broadcast joins off
NO_BROADCAST_CASES = [(name, sf_dir) for name, sf_dir in CASES if sf_dir == SCALES[0]]


def _ids(cases):
    return [f"{name}-{sf_dir.rsplit('/', 1)[-1]}" for name, sf_dir in cases]


@pytest.fixture(scope="module")
def no_broadcast_spark(spark):
    # a new session: the setting stays out of every other test's session
    s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return s


@pytest.fixture(scope="module")
def duck():
    cons = {sf_dir: duck_views(sf_dir) for sf_dir in SCALES}
    yield cons
    for con in cons.values():
        con.close()


@pytest.mark.parametrize("name,sf_dir", CASES, ids=_ids(CASES))
def test_query_matches_oracle(spark, duck, name, sf_dir):
    _check(spark, duck, name, sf_dir)


@pytest.mark.parametrize("name,sf_dir", NO_BROADCAST_CASES, ids=_ids(NO_BROADCAST_CASES))
def test_query_matches_oracle_without_broadcast(no_broadcast_spark, duck, name, sf_dir):
    _check(no_broadcast_spark, duck, name, sf_dir)


def _check(spark, duck, name, sf_dir):
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
