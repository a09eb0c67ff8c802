"""Named queries covering the reference's operator surface (SURVEY §2).

Each query name is prefixed with the SURVEY §2 operator id it exercises
(s* scans/sinks, p* projections/filters, j* joins, a* aggregations,
f* scalar functions, q* composite/flagship). Every query here has a
DuckDB oracle — the whole reference surface is SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_scripts_spark.functions.canonical import (
    deterministic_sample,
    table_fingerprint,
)
from hive_scripts_spark.functions.strings import (
    normalize_whitespace,
    quote_wrap,
    split_first,
)
from hive_scripts_spark.operators.reconcile import (
    count_reconcile,
    matched,
    mismatched,
    partition_counts,
)
from hive_scripts_spark.plans.oracle_helpers import (
    duck_canonical_row,
    duck_fingerprint,
    duck_hash_bucket,
)
from hive_scripts_spark.plans.registry import register
from hive_scripts_spark.sources.readers import table

# ---------------------------------------------------------------------------
# S2/P1 — delimited-text scan + positional projection (compare_tables.sh)
# ---------------------------------------------------------------------------
# The operator under test is the |-split → 3 positional fields → space-joined
# re-emit of compare_tables.sh:3-9. The delimited lines are synthesized from
# `part` (testdata has no raw text file), which also exercises short rows:
# ECONOMY-typed parts get a 2-field line, so field 3 must render as ''.


@register(
    "s2_delimited_reformat",
    oracle="""
    with lines as (
      select case when p_type = 'ECONOMY'
                  then p_name || '|' || p_brand
                  else p_name || '|' || p_brand || '|' || p_type end as value
      from part
    )
    select concat_ws(' ',
             coalesce(split_part(value, '|', 1), ''),
             coalesce(split_part(value, '|', 2), ''),
             coalesce(split_part(value, '|', 3), '')) as line
    from lines
    """,
)
def s2_delimited_reformat(spark, sf_dir):
    part = table(spark, sf_dir, "part")
    lines = part.select(
        F.when(
            F.col("p_type") == "ECONOMY",
            F.concat_ws("|", "p_name", "p_brand"),
        )
        .otherwise(F.concat_ws("|", "p_name", "p_brand", "p_type"))
        .alias("value")
    )
    parts = F.split(F.col("value"), "\\|")
    fields = [F.coalesce(F.get(parts, i), F.lit("")) for i in range(3)]
    return lines.select(F.concat_ws(" ", *fields).alias("line"))


# ---------------------------------------------------------------------------
# S5 — partition-metadata source (SHOW PARTITIONS equivalent)
# ---------------------------------------------------------------------------


@register(
    "s5_partition_values",
    oracle="""
    select distinct
      'l_returnflag=' || l_returnflag || '/l_linestatus=' || l_linestatus
        as partition_spec
    from lineitem
    """,
)
def s5_partition_values(spark, sf_dir):
    from hive_scripts_spark.sources.partitions import partition_spec_string

    li = table(spark, sf_dir, "lineitem")
    return partition_spec_string(li, ["l_returnflag", "l_linestatus"])


# ---------------------------------------------------------------------------
# A1 / A2 — counts (the UC#1 primitives)
# ---------------------------------------------------------------------------


@register(
    "a1_count_star",
    oracle="select count(*) as row_count from lineitem",
)
def a1_count_star(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.agg(F.count(F.lit(1)).alias("row_count"))


@register(
    "a2_partition_counts",
    oracle="""
    select 'lineitem' as table_name,
           'l_returnflag=' || l_returnflag || '/l_linestatus=' || l_linestatus
             as partition_spec,
           count(*) as row_count
    from lineitem
    group by all
    """,
)
def a2_partition_counts(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return partition_counts(li, ["l_returnflag", "l_linestatus"], "lineitem")


# ---------------------------------------------------------------------------
# J1/J2 — count reconciliation (UC#1 flagship)
# ---------------------------------------------------------------------------
# Source = orders partitioned by o_orderstatus; target = the same table with
# a deterministic perturbation (drop o_orderkey % 997 == 0) so matched AND
# mismatched sets are both non-empty — mirroring the FIXTURES.md scenario.

_RECONCILE_ORACLE = """
    with src as (
      select 'orders' as table_name,
             'o_orderstatus=' || o_orderstatus as partition_spec,
             count(*) as src_count
      from orders group by all
    ), tgt as (
      select 'orders' as table_name,
             'o_orderstatus=' || o_orderstatus as partition_spec,
             count(*) as tgt_count
      from orders
      where o_orderkey % 997 <> 0 or o_orderstatus <> 'F'
      group by all
    )
    select coalesce(src.table_name, tgt.table_name) as table_name,
           coalesce(src.partition_spec, tgt.partition_spec) as partition_spec,
           src.src_count as src_count,
           tgt.tgt_count as tgt_count,
           case when src.src_count is null then 'target_only'
                when tgt.tgt_count is null then 'source_only'
                when src.src_count = tgt.tgt_count then 'matched'
                else 'mismatched' end as status
    from src full outer join tgt
      on src.table_name = tgt.table_name
     and src.partition_spec = tgt.partition_spec
"""


def _reconciled(spark, sf_dir):
    # target = source minus a deterministic perturbation confined to the
    # 'F' partition, so matched AND mismatched sets are both non-empty at
    # every scale factor (mirrors the FIXTURES.md scenario)
    orders = table(spark, sf_dir, "orders")
    perturbed = orders.where(
        (F.col("o_orderkey") % 997 != 0) | (F.col("o_orderstatus") != "F")
    )
    src = partition_counts(orders, ["o_orderstatus"], "orders")
    tgt = partition_counts(perturbed, ["o_orderstatus"], "orders")
    return count_reconcile(src, tgt)


@register("j2_count_reconcile", oracle=_RECONCILE_ORACLE)
def j2_count_reconcile(spark, sf_dir):
    return _reconciled(spark, sf_dir)


@register(
    "j1_reconcile_matched",
    oracle=f"select * from ({_RECONCILE_ORACLE}) where status = 'matched'",
)
def j1_reconcile_matched(spark, sf_dir):
    return matched(_reconciled(spark, sf_dir))


@register(
    "j2_reconcile_mismatched",
    oracle=f"select * from ({_RECONCILE_ORACLE}) where status <> 'matched'",
)
def j2_reconcile_mismatched(spark, sf_dir):
    return mismatched(_reconciled(spark, sf_dir))


# ---------------------------------------------------------------------------
# A3 — order-insensitive content fingerprint (UC#2 primitive, fixed per
# SURVEY §2.8.2/3)
# ---------------------------------------------------------------------------

_ORDERS_COLS = [
    ("o_custkey", "int"),
    ("o_orderdate", "ts"),
    ("o_orderkey", "int"),
    ("o_orderpriority", "str"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "float"),
]


@register(
    "a3_table_fingerprint",
    oracle=f"""
    select o_orderstatus,
           {duck_fingerprint(duck_canonical_row(_ORDERS_COLS))} as fingerprint,
           count(*) as row_count
    from orders
    group by o_orderstatus
    """,
)
def a3_table_fingerprint(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    # md5 canonicalization is CPU-dense; single-row-group testdata scans
    # otherwise run it on one core (see table_fingerprint docstring)
    return table_fingerprint(
        orders,
        group_by=["o_orderstatus"],
        parallelism=spark.sparkContext.defaultParallelism,
    )


# ---------------------------------------------------------------------------
# A4 — sampling: deterministic hash-mod (the sound replacement for the
# reference's LIMIT-without-ORDER-BY, SURVEY §2.8.1) and literal limit
# ---------------------------------------------------------------------------

_LI_KEY = "concat_ws(chr(1), cast(l_orderkey as varchar), cast(l_linenumber as varchar))"


@register(
    "a4_deterministic_sample",
    oracle=f"""
    select l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    from lineitem
    where {duck_hash_bucket(_LI_KEY)} < 100
    """,
)
def a4_deterministic_sample(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    sample = deterministic_sample(li, ["l_orderkey", "l_linenumber"], fraction=0.10)
    return sample.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"
    )


@register(
    "a4_limit_sample",
    oracle="""
    select o_orderkey, o_orderstatus, o_totalprice
    from orders order by o_orderkey limit 10
    """,
)
def a4_limit_sample(spark, sf_dir):
    """Deterministic head-N sample (`sort | head` semantics)."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.orderBy("o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# P2 — project-all (SELECT * — the UC#2 sample-export projection)
# ---------------------------------------------------------------------------


@register("p2_project_all", oracle="select * from nation")
def p2_project_all(spark, sf_dir):
    """P2 project-all (SELECT * — verizon_automation_script.sh export
    projection)."""
    return table(spark, sf_dir, "nation").select("*")


# ---------------------------------------------------------------------------
# P3 — first-delimiter key/value split (cut -d: -f1/-f2 semantics)
# ---------------------------------------------------------------------------


@register(
    "p3_split_first",
    oracle="""
    select event_id,
           split_part(props, ':', 1) as k,
           case when strpos(props, ':') = 0 then ''
                else substr(props, strpos(props, ':') + 1) end as v
    from events
    """,
)
def p3_split_first(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    k, v = split_first(F.col("props"), ":")
    return ev.select("event_id", k.alias("k"), v.alias("v"))


# ---------------------------------------------------------------------------
# P4 — partition-equality filter (WHERE pcol='v')
# ---------------------------------------------------------------------------


@register(
    "p4_partition_filter",
    oracle="""
    select l_linestatus, count(*) as row_count
    from lineitem where l_returnflag = 'A'
    group by l_linestatus
    """,
)
def p4_partition_filter(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_returnflag") == "A")
        .groupBy("l_linestatus")
        .agg(F.count(F.lit(1)).alias("row_count"))
    )


# ---------------------------------------------------------------------------
# P6/F4 — whitespace/CR normalization (regexp_replace)
# ---------------------------------------------------------------------------


@register(
    "f4_normalize_whitespace",
    oracle=r"""
    select doc_id,
           trim(regexp_replace(regexp_replace(text, chr(13), '', 'g'),
                               '\s+', ' ', 'g')) as norm_text
    from documents
    """,
)
def f4_normalize_whitespace(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", normalize_whitespace("text").alias("norm_text"))


# ---------------------------------------------------------------------------
# F2/F3 — concat + quote-wrapping (the partition-literal builder)
# ---------------------------------------------------------------------------


@register(
    "f3_quote_wrap",
    oracle="""
    select distinct
      'l_returnflag=' || chr(39) || l_returnflag || chr(39) as partition_predicate
    from lineitem
    """,
)
def f3_quote_wrap(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        F.concat(F.lit("l_returnflag="), quote_wrap("l_returnflag")).alias(
            "partition_predicate"
        )
    ).distinct()


# ---------------------------------------------------------------------------
# F5 — substring
# ---------------------------------------------------------------------------


@register(
    "f5_substring",
    oracle="select c_custkey, substr(c_name, 1, 10) as name_prefix from customer",
)
def f5_substring(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey", F.substring("c_name", 1, 10).alias("name_prefix")
    )


# ---------------------------------------------------------------------------
# F6 — date formatting (the reference's %m-%d-%Y run stamps)
# ---------------------------------------------------------------------------


@register(
    "f6_date_format",
    oracle="""
    select strftime(o_orderdate, '%m-%d-%Y') as order_day, count(*) as n_orders
    from orders group by all
    """,
)
def f6_date_format(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_format("o_orderdate", "MM-dd-yyyy").alias("order_day")
    ).agg(F.count(F.lit(1)).alias("n_orders"))


# ---------------------------------------------------------------------------
# F7 — md5 content hash
# ---------------------------------------------------------------------------


@register(
    "f7_md5",
    oracle="select doc_id, md5(text) as text_md5 from documents",
)
def f7_md5(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.md5("text").alias("text_md5"))


# ---------------------------------------------------------------------------
# Composite analytics (beyond the reference's own SQL, same engine surface:
# multi-key aggregation, broadcast-join star query, semi/anti joins)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    select l_returnflag, l_linestatus,
           cast(sum(cast(l_quantity as decimal(18,2))) as double) as sum_qty,
           cast(sum(cast(l_extendedprice as decimal(18,2))) as double) as sum_base_price,
           cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(28,6))) as double)
             as sum_disc_price,
           cast(sum(cast(l_quantity as decimal(18,2))) as double) / count(*) as avg_qty,
           count(*) as count_order
    from lineitem
    where l_shipdate <= timestamp '2001-09-01 00:00:00'
    group by l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    dec = lambda c, p=18, s=2: F.col(c).cast(f"decimal({p},{s})")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,6)"
                )
            )
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias(
                "avg_qty"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q2_revenue_by_nation",
    oracle="""
    select n.n_name as nation,
           cast(sum(cast(o.o_totalprice as decimal(18,2))) as double) as revenue,
           count(*) as n_orders
    from orders o
    join customer c on o.o_custkey = c.c_custkey
    join nation n on c.c_nationkey = n.n_nationkey
    group by n.n_name
    """,
)
def q2_revenue_by_nation(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    # dims are small → explicit broadcast keeps the big side shuffle-free
    return (
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner"
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "inner")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "j_anti_customers_no_pending",
    oracle="""
    select c_custkey, c_name from customer c
    where not exists (select 1 from orders o
                      where o.o_custkey = c.c_custkey and o.o_orderstatus = 'P')
    """,
)
def j_anti_customers_no_pending(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    pending = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return cust.join(
        pending, cust.c_custkey == pending.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "j_semi_nations_with_suppliers",
    oracle="""
    select n_nationkey, n_name from nation n
    where exists (select 1 from supplier s where s.s_nationkey = n.n_nationkey)
    """,
)
def j_semi_nations_with_suppliers(spark, sf_dir):
    """A minimal left-semi join: nations with at least one supplier."""
    nation = table(spark, sf_dir, "nation")
    supp = table(spark, sf_dir, "supplier")
    return nation.join(
        supp, nation.n_nationkey == supp.s_nationkey, "left_semi"
    ).select("n_nationkey", "n_name")


@register(
    "a4_stratified_sample",
    oracle=f"""
    select c_mktsegment, count(*) as n_sampled,
           count(distinct c_custkey) as n_customers
    from customer
    where {duck_hash_bucket("cast(c_custkey as varchar)")} <
          case c_mktsegment when 'BUILDING' then 200 else 100 end
    group by c_mktsegment
    """,
)
def a4_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: per-stratum fractions (the
    ``df.sampleBy`` intent, made engine-reproducible).

    Same hash-mod machinery as ``deterministic_sample`` but the bucket
    threshold varies per stratum — here 20% of BUILDING customers, 10%
    of every other segment. Still a pure narrow filter: no shuffle, no
    rand(), the same logical rows selected on any engine or run.
    """
    from hive_scripts_spark.functions.canonical import FIELD_SEP

    cust = table(spark, sf_dir, "customer")
    key = F.concat_ws(FIELD_SEP, F.col("c_custkey").cast("string"))
    bucket = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint") % 1000
    threshold = F.when(F.col("c_mktsegment") == "BUILDING", 200).otherwise(100)
    return (
        cust.where(bucket < threshold)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.count_distinct("c_custkey").alias("n_customers"),
        )
    )
