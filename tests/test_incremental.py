"""Incremental manifest-diff reconciliation (the 100 TB UC#1 upgrade):
metadata-only listings, change detection, and partition-pruned rescans."""

import time

import pytest
from pyspark.sql import functions as F

from hive_scripts_spark.operators.incremental import (
    changed_partition_filter,
    file_manifest,
    incremental_count_reconcile,
    manifest_diff,
)
from hive_scripts_spark.sources.sinks import write_partitioned


def _orders(spark, n=400, drop_in_p2=0):
    df = spark.range(n).select(
        F.col("id").alias("o_id"),
        (F.col("id") % 4).cast("int").alias("p"),
        (F.col("id") * 1.5).alias("amount"),
    )
    if drop_in_p2:
        df = df.where(~((F.col("p") == 2) & (F.col("o_id") < drop_in_p2 * 4)))
    return df


def test_manifest_lists_partitions_without_reading_data(spark, tmp_path):
    path = str(tmp_path / "t")
    write_partitioned(_orders(spark), path, ["p"])
    mf = file_manifest(spark, path, ["p"])
    rows = {r["p"]: r for r in mf.collect()}
    assert set(rows) == {"0", "1", "2", "3"}
    assert all(r["n_files"] >= 1 and r["total_bytes"] > 0 for r in rows.values())


def test_manifest_diff_flags_only_touched_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    write_partitioned(_orders(spark), path, ["p"])
    before = file_manifest(spark, path, ["p"]).localCheckpoint(eager=True)
    time.sleep(1.1)  # mtime granularity
    # rewrite ONE partition directory with fewer rows
    _orders(spark).where("p = 2 and o_id >= 20").drop("p").write.mode(
        "overwrite"
    ).parquet(f"{path}/p=2")
    after = file_manifest(spark, path, ["p"])
    diff = manifest_diff(after, before, ["p"]).collect()
    assert [(r["p"], r["change"]) for r in diff] == [("2", "modified")]


def test_incremental_reconcile_scans_only_changed_partitions(spark, tmp_path):
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    write_partitioned(_orders(spark), f"{src}/orders", ["p"])
    write_partitioned(_orders(spark), f"{tgt}/orders", ["p"])

    # first run: full scan (no state), everything matched
    rec0, src_mf, tgt_mf = incremental_count_reconcile(
        spark, src, tgt, "orders", ["p"]
    )
    assert rec0.where("status != 'matched'").count() == 0
    src_mf = src_mf.localCheckpoint(eager=True)
    tgt_mf = tgt_mf.localCheckpoint(eager=True)

    # second run, nothing changed → no scan at all
    rec1, _, _ = incremental_count_reconcile(
        spark, src, tgt, "orders", ["p"], src_mf, tgt_mf
    )
    assert rec1 is None

    # perturb ONE target partition, rerun incrementally
    time.sleep(1.1)
    _orders(spark).where("p = 2 and o_id >= 20").drop("p").write.mode(
        "overwrite"
    ).parquet(f"{tgt}/orders/p=2")
    rec2, _, _ = incremental_count_reconcile(
        spark, src, tgt, "orders", ["p"], src_mf, tgt_mf
    )
    rows = rec2.collect()
    # ONLY the changed partition appears, and it mismatches
    assert [(r["partition_spec"], r["status"]) for r in rows] == [
        ("p=2", "mismatched")
    ]
    # and the scan was partition-pruned, not post-filtered
    plan = rec2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_changed_partition_filter_prunes_directories(spark, tmp_path):
    path = str(tmp_path / "t")
    write_partitioned(_orders(spark), path, ["p"])
    changed = spark.createDataFrame([("2",)], "p string")
    pred = changed_partition_filter(changed, ["p"])
    scan = spark.read.parquet(path).where(pred)
    assert scan.select(F.countDistinct("p")).collect()[0][0] == 1
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # the predicate lands in PartitionFilters (not DataFilters) →
    # unchanged directories never open
    assert "PartitionFilters: [(" in plan and "DataFilters: []" in plan


def test_incremental_fingerprint_scans_only_changed_partition(spark, tmp_path):
    from hive_scripts_spark.operators.incremental import (
        incremental_fingerprint_reconcile,
    )

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    write_partitioned(_orders(spark), f"{src}/orders", ["p"])
    write_partitioned(_orders(spark), f"{tgt}/orders", ["p"])
    _, src_mf, tgt_mf = incremental_fingerprint_reconcile(
        spark, src, tgt, "orders", ["p"], ["o_id"], fraction=1.0
    )
    src_mf = src_mf.localCheckpoint(eager=True)
    tgt_mf = tgt_mf.localCheckpoint(eager=True)

    time.sleep(1.1)
    # rewrite one target partition with one mutated amount (same count)
    _orders(spark).where("p = 2").withColumn(
        "amount", F.when(F.col("o_id") == 2, 9999.0).otherwise(F.col("amount"))
    ).drop("p").write.mode("overwrite").parquet(f"{tgt}/orders/p=2")

    rec, _, _ = incremental_fingerprint_reconcile(
        spark, src, tgt, "orders", ["p"], ["o_id"], src_mf, tgt_mf, fraction=1.0
    )
    rows = rec.collect()
    assert [(r["partition_spec"], r["status"]) for r in rows] == [
        ("p=2", "inconsistent")
    ]


def test_unescape_path_value():
    from hive_scripts_spark.operators.incremental import _unescape_path_value

    assert _unescape_path_value("a%3Db") == "a=b"
    assert _unescape_path_value("plain") == "plain"
    assert _unescape_path_value("north region") == "north region"
    assert _unescape_path_value("a+b") == "a+b"  # no form-decoding
    assert _unescape_path_value("100%25") == "100%"
    assert _unescape_path_value("bad%zz") == "bad%zz"  # invalid hex kept


def test_incremental_with_escaped_partition_values(spark, tmp_path):
    # Hive escapes '=' in partition dirs (zone=a%3Db); the changed-set
    # filter must compare against the DECODED value or silently skip
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    df = spark.createDataFrame(
        [(i, "a=b" if i % 2 else "plain", float(i)) for i in range(40)],
        "o_id long, zone string, amount double",
    )
    df.write.partitionBy("zone").parquet(f"{src}/t")
    df.write.partitionBy("zone").parquet(f"{tgt}/t")
    _, src_mf, tgt_mf = incremental_count_reconcile(spark, src, tgt, "t", ["zone"])
    src_mf = src_mf.localCheckpoint(eager=True)
    tgt_mf = tgt_mf.localCheckpoint(eager=True)

    time.sleep(1.1)
    df.where("zone = 'a=b' and o_id > 5").drop("zone").write.mode(
        "overwrite"
    ).parquet(f"{tgt}/t/zone=a%3Db")
    rec, _, _ = incremental_count_reconcile(
        spark, src, tgt, "t", ["zone"], src_mf, tgt_mf
    )
    rows = rec.collect()
    assert [(r["partition_spec"], r["status"]) for r in rows] == [
        ("zone=a=b", "mismatched")
    ]


def test_incremental_with_null_partition_values(spark, tmp_path):
    # a NULL partition value lands on disk as k=__HIVE_DEFAULT_PARTITION__;
    # the changed-set key must match it null-safely (concat_ws would DROP
    # the NULL element, silently excluding the partition from the rescan)
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    df = spark.createDataFrame(
        [(i, None if i % 2 else "z1", float(i)) for i in range(40)],
        "o_id long, zone string, amount double",
    )
    df.write.partitionBy("zone").parquet(f"{src}/t")
    df.write.partitionBy("zone").parquet(f"{tgt}/t")
    _, src_mf, tgt_mf = incremental_count_reconcile(spark, src, tgt, "t", ["zone"])
    src_mf = src_mf.localCheckpoint(eager=True)
    tgt_mf = tgt_mf.localCheckpoint(eager=True)

    time.sleep(1.1)
    # rewrite ONLY the default (NULL) partition on the target, dropping rows
    df.where("zone is null and o_id > 5").drop("zone").write.mode(
        "overwrite"
    ).parquet(f"{tgt}/t/zone=__HIVE_DEFAULT_PARTITION__")
    rec, _, _ = incremental_count_reconcile(
        spark, src, tgt, "t", ["zone"], src_mf, tgt_mf
    )
    rows = rec.collect()
    assert len(rows) == 1 and rows[0]["status"] == "mismatched"


def test_changed_partition_filter_null_keys_do_not_collide(spark):
    # (NULL,'x') and ('x',NULL) must produce DISTINCT keys — with plain
    # concat_ws both collapse to 'x' and cross-match
    changed = spark.createDataFrame([(None, "x")], "a string, b string")
    pred = changed_partition_filter(changed, ["a", "b"])
    data = spark.createDataFrame(
        [(None, "x", 1), ("x", None, 2), ("x", "x", 3)],
        "a string, b string, v int",
    )
    got = sorted(r["v"] for r in data.where(pred).collect())
    assert got == [1]


def test_compact_partition_dir_recovers_from_interrupted_swap(spark, tmp_path):
    import pathlib

    from hive_scripts_spark.operators.incremental import compact_partition_dir

    path = str(tmp_path / "t")
    df = _orders(spark, 200)
    df.where("p = 0").repartition(4).write.parquet(f"{path}/p=0")
    expected = spark.read.parquet(f"{path}/p=0").count()

    # simulate a crash between the two renames: live dir gone, complete
    # data stranded in _compact_old, plus a stale _compact_tmp
    live = pathlib.Path(f"{path}/p=0")
    live.rename(live.with_name("p=0_compact_old"))
    stale_tmp = live.with_name("p=0_compact_tmp")
    stale_tmp.mkdir()
    (stale_tmp / "garbage.parquet").write_bytes(b"not parquet")

    n = compact_partition_dir(spark, str(live), target_files=1)
    assert n == 4  # recovered directory had the original 4 files
    assert len(list(live.glob("*.parquet"))) == 1
    assert spark.read.parquet(str(live)).count() == expected
    assert not live.with_name("p=0_compact_old").exists()
    assert not stale_tmp.exists()


def test_manifest_multilevel_and_suffix_overlapping_columns(spark, tmp_path):
    # two-level layout where column 't' is a suffix of 'cat' — the
    # boundary anchor must stop t= from matching inside cat=...
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"c{i % 2}", f"v{i % 3}", float(i)) for i in range(60)],
        "o_id long, cat string, t string, amount double",
    )
    df.write.partitionBy("cat", "t").parquet(path)
    mf = file_manifest(spark, path, ["cat", "t"])
    rows = {(r["cat"], r["t"]) for r in mf.collect()}
    assert rows == {(f"c{a}", f"v{b}") for a in range(2) for b in range(3)}


def test_small_file_report_and_compaction(spark, tmp_path):
    from hive_scripts_spark.operators.incremental import (
        compact_partition_dir,
        small_file_report,
    )

    path = str(tmp_path / "t")
    # p=0 written as 8 tiny files, p=1 as 1 file
    df = _orders(spark, 400)
    df.where("p = 0").repartition(8).write.parquet(f"{path}/p=0")
    df.where("p = 1").coalesce(1).write.parquet(f"{path}/p=1")
    mf = file_manifest(spark, path, ["p"])
    bad = small_file_report(mf, min_avg_bytes=10**9).collect()
    assert [r["p"] for r in bad] == ["0"]  # p=1 has a single file → exempt

    before = spark.read.parquet(f"{path}/p=0").count()
    n = compact_partition_dir(spark, f"{path}/p=0", target_files=1)
    assert n == 8
    import pathlib

    assert len(list(pathlib.Path(f"{path}/p=0").glob("*.parquet"))) == 1
    assert spark.read.parquet(f"{path}/p=0").count() == before  # lossless


def test_unescape_inverts_sparks_own_path_escaping(spark):
    from hive_scripts_spark.operators.incremental import _unescape_path_value

    esc = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for raw in ["a=b", "100%", "x:y", "a/b", "plain", "sp ace", "a+b", "#tag"]:
        escaped = esc.escapePathName(raw)
        assert _unescape_path_value(escaped) == raw, (raw, escaped)


def test_merge_upsert_latest_wins(spark):
    """Recrawl merge: delta replaces same-key rows (latest version by
    order_col), new keys insert, tombstones drop, untouched keys pass
    through — hand-computed."""
    from hive_scripts_spark.operators.incremental import merge_upsert

    current = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)],
        "id int, text string, crawl_ts int",
    )
    changes = spark.createDataFrame(
        [
            (2, "B", 20, False),
            (2, "B2", 30, False),   # later version of the same key
            (4, "d", 20, False),    # brand-new key
            (3, "c", 20, True),     # tombstone
        ],
        "id int, text string, crawl_ts int, deleted boolean",
    )
    out = merge_upsert(
        current, changes, ["id"], order_col="crawl_ts",
        delete_col="deleted",
    )
    assert out.columns == ["id", "text", "crawl_ts"]
    rows = {r["id"]: (r["text"], r["crawl_ts"]) for r in out.collect()}
    assert rows == {1: ("a", 10), 2: ("B2", 30), 4: ("d", 20)}


def test_merge_upsert_deterministic_without_order(spark):
    """Equal-order multi-version deltas degrade REPRODUCIBLY (full-row
    hash tiebreak), and the one-exchange claim holds (no join in the
    plan)."""
    from hive_scripts_spark.operators.incremental import merge_upsert

    current = spark.createDataFrame([(1, "old")], "id int, text string")
    changes = spark.createDataFrame(
        [(1, "v1"), (1, "v2")], "id int, text string"
    )
    picks = {
        merge_upsert(current, changes, ["id"]).collect()[0]["text"]
        for _ in range(3)
    }
    assert len(picks) == 1 and picks < {"v1", "v2"}
    plan = (
        merge_upsert(current, changes, ["id"])
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Join" not in plan


def test_merge_upsert_missing_delete_col_raises(spark):
    from hive_scripts_spark.operators.incremental import merge_upsert

    df = spark.createDataFrame([(1, "a")], "id int, text string")
    with pytest.raises(ValueError, match="delete column"):
        merge_upsert(df, df, ["id"], delete_col="nope")


def test_scd2_apply_hand_computed(spark):
    from hive_scripts_spark.operators.incremental import scd2_apply

    dim = spark.createDataFrame(
        [
            ("k1", "w", 0, 5),      # closed history row
            ("k1", "x", 5, None),   # current
            ("k2", "y", 0, None),   # current, untouched by changes
        ],
        "key string, attr string, valid_from int, valid_to int",
    )
    changes = spark.createDataFrame(
        [
            ("k1", "x2", 10),
            ("k1", "x3", 20),  # same key twice in one batch: chains
            ("k3", "z", 10),   # brand-new key
        ],
        "key string, attr string, effective_ts int",
    )
    out = scd2_apply(dim, changes, ["key"])
    got = sorted(
        (r["key"], r["attr"], r["valid_from"], r["valid_to"])
        for r in out.collect()
    )
    assert got == [
        ("k1", "w", 0, 5),        # history untouched
        ("k1", "x", 5, 10),       # closed at first incoming change
        ("k1", "x2", 10, 20),     # chained within the batch
        ("k1", "x3", 20, None),   # newest version open-ended
        ("k2", "y", 0, None),     # untouched key stays open
        ("k3", "z", 10, None),    # new key inserts open-ended
    ]
    # exactly one open row per live key, always
    open_rows = [g for g in got if g[3] is None]
    assert len(open_rows) == len({g[0] for g in open_rows})


def test_scd2_missing_change_column_raises(spark):
    from hive_scripts_spark.operators.incremental import scd2_apply

    dim = spark.createDataFrame(
        [("k1", "x", 0, None)],
        "key string, attr string, valid_from int, valid_to int",
    )
    bad = spark.createDataFrame([("k1", 1)], "key string, effective_ts int")
    with pytest.raises(ValueError, match="missing column"):
        scd2_apply(dim, bad, ["key"])


def test_merge_upsert_partial_delta_raises(spark):
    from hive_scripts_spark.operators.incremental import merge_upsert

    current = spark.createDataFrame(
        [(1, "a", 10)], "id int, text string, crawl_ts int"
    )
    partial = spark.createDataFrame([(1, "b")], "id int, text string")
    with pytest.raises(ValueError, match=r"missing: \['crawl_ts'\]"):
        merge_upsert(current, partial, ["id"])


def test_scd2_equal_ts_deterministic_and_late_change_clamped(spark):
    """Self-review r14: equal-ts changes for one key chain in a
    reproducible order (attr-hash tiebreak), and a late-arriving
    change closes the open row at its own valid_from (zero-length
    version) instead of inverting the interval."""
    from hive_scripts_spark.operators.incremental import scd2_apply

    dim = spark.createDataFrame(
        [("k1", "x", 20, None)],
        "key string, attr string, valid_from int, valid_to int",
    )
    equal_ts = spark.createDataFrame(
        [("k1", "a", 30), ("k1", "b", 30)],
        "key string, attr string, effective_ts int",
    )
    outs = {
        tuple(sorted(
            (r["attr"], r["valid_from"], r["valid_to"])
            for r in scd2_apply(dim, equal_ts, ["key"]).collect()
        ))
        for _ in range(3)
    }
    assert len(outs) == 1  # reproducible across runs
    rows = list(outs)[0]
    open_rows = [r for r in rows if r[2] is None]
    assert len(open_rows) == 1  # exactly one survivor stays open

    late = spark.createDataFrame(
        [("k1", "early", 10)], "key string, attr string, effective_ts int"
    )
    got = sorted(
        (r["attr"], r["valid_from"], r["valid_to"])
        for r in scd2_apply(dim, late, ["key"]).collect()
    )
    # no inverted interval anywhere; the open row closed at its own
    # valid_from (zero-length, visible), the late chain stays open
    assert all(vt is None or vt >= vf for _, vf, vt in got)
    assert ("x", 20, 20) in got and ("early", 10, None) in got


def test_merge_upsert_order_col_validated_and_del_tie_deterministic(spark):
    from hive_scripts_spark.operators.incremental import merge_upsert

    current = spark.createDataFrame([(1, "a")], "id int, text string")
    with pytest.raises(ValueError, match="order_col"):
        merge_upsert(current, current, ["id"], order_col="crawl_ts")

    # tombstone + re-insert of IDENTICAL data at equal order: the
    # survivor is arbitrary by contract but must be REPRODUCIBLE
    changes = spark.createDataFrame(
        [(1, "a", False), (1, "a", True)],
        "id int, text string, deleted boolean",
    )
    outcomes = {
        tuple(
            sorted(
                tuple(r)
                for r in merge_upsert(
                    current, changes, ["id"], delete_col="deleted"
                ).collect()
            )
        )
        for _ in range(3)
    }
    assert len(outcomes) == 1


def test_merge_cli_e2e(spark, tmp_path, capsys):
    from hive_scripts_spark.__main__ import main

    cur = str(tmp_path / "cur")
    chg = str(tmp_path / "chg")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "id int, text string, v int"
    ).write.parquet(cur)
    spark.createDataFrame(
        [(2, "B", 20, False), (3, "c", 20, False), (1, "a", 20, True)],
        "id int, text string, v int, deleted boolean",
    ).write.parquet(chg)
    rc = main([
        "merge", cur, chg, "--key", "id", "--order-col", "v",
        "--delete-col", "deleted", "--output", out,
    ])
    assert rc == 0
    rows = {r["id"]: (r["text"], r["v"])
            for r in spark.read.parquet(out).collect()}
    assert rows == {2: ("B", 20), 3: ("c", 20)}
    assert "2 rows" in capsys.readouterr().out


def test_scd2_single_exchange_plan(spark):
    """The scale contract: both windows (change sequencing + close-at-
    first-change) share ONE key-partitioned exchange and there is no
    join. The r16 plan audit caught the lead-before-union form
    shuffling the changes twice; sequencing after the union fixed it —
    this pins the shape."""
    import re

    from pyspark.sql import functions as F

    from hive_scripts_spark.operators.incremental import scd2_apply

    dim = spark.createDataFrame(
        [(1, "a", 0, None), (2, "b", 0, None)],
        "k int, attr string, valid_from long, valid_to long",
    ).select("k", "attr", "valid_from", F.col("valid_to").cast("long"))
    changes = spark.createDataFrame(
        [(1, "a2", 5), (1, "a3", 9)],
        "k int, attr string, effective_ts long",
    )
    out = scd2_apply(dim, changes, ["k"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    # and the semantics the shared exchange must preserve
    rows = sorted(
        (r["k"], r["attr"], r["valid_from"], r["valid_to"])
        for r in out.collect()
    )
    assert rows == [
        (1, "a", 0, 5),
        (1, "a2", 5, 9),
        (1, "a3", 9, None),
        (2, "b", 0, None),
    ]


def test_merge_upsert_query_changes_fire(spark):
    """x_merge_upsert at sf0.01: the row count shrinks only by the
    tombstones, and both the tombstone and the re-price arms are
    non-empty."""
    from hive_scripts_spark.plans.registry import QUERIES
    from hive_scripts_spark.sources.readers import table

    merged = QUERIES["x_merge_upsert"](spark, "/root/testdata/sf0.01")
    orders = table(spark, "/root/testdata/sf0.01", "orders")
    n_orders = orders.count()
    n_tombstoned = orders.where(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 3 == 0)
    ).count()
    n_repriced = orders.where(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 3 != 0)
    ).count()
    assert n_tombstoned > 0 and n_repriced > 0
    assert merged.count() == n_orders - n_tombstoned
