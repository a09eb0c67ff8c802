"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql() keys
line up, and the query order is plain registration order
(tests/test_parity.py runs every query)."""

import ast
from pathlib import Path

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) == {
        "table_name",
        "partition_spec",
        "src_count",
        "tgt_count",
        "status",
    }


def test_oracle_keys_subset_of_queries():
    q, o = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 35
    # the reference surface (s/p/j/a/f/q prefixes) must be fully
    # oracle-checked; only extension ops (x_/g_ sketches, LSH blocking,
    # xxhash64 paths) may be rows-only
    unoracled = {k for k in q if k not in o}
    assert all(k.startswith(("x_", "g_")) for k in unoracled), unoracled


def test_queries_are_in_registration_order():
    # the registry imports the three query modules in this order, and each
    # registers its queries top to bottom: no other input reorders them
    plans = Path(__file__).resolve().parents[1] / "hive_scripts_spark" / "plans"
    names = []
    for module in ("analytics_queries", "extension_queries", "reference_queries"):
        tree = ast.parse((plans / f"{module}.py").read_text())
        calls = [
            node
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "register"
        ]
        calls.sort(key=lambda node: (node.lineno, node.col_offset))
        names += [ast.literal_eval(node.args[0]) for node in calls]
    assert list(entry_mod.queries()) == names
