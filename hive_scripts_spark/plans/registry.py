"""Registry of named queries with DuckDB oracles.

Every operator claimed in SURVEY §2 registers here as a named query:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) an equivalent ANSI-SQL oracle string for DuckDB.
``tests/test_parity.py`` and ``tools/parity.py`` compare the two by row
count + column names + order-insensitive value hash, so:

* every computed column is aliased identically on both sides;
* float aggregates go through **exact decimal accumulation** then a cast
  to double (deterministic on both engines, immune to summation order);
* fingerprints use the portable md5-prefix modular sum
  (:mod:`hive_scripts_spark.functions.canonical`).

Import side effect: importing this module imports the query modules,
which populate :data:`QUERIES` / :data:`ORACLES` via :func:`register`
in registration order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optional oracle SQL) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} (a second "
                "register() would silently shadow the first in the "
                "driver's queries() dict)"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# populate the registry (import side effects)
from hive_scripts_spark.plans import analytics_queries  # noqa: E402,F401
from hive_scripts_spark.plans import extension_queries  # noqa: E402,F401
from hive_scripts_spark.plans import reference_queries  # noqa: E402,F401
