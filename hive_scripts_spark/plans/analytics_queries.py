"""Extended analytics surface: multi-dimensional aggregation (rollup /
cube / grouping sets / pivot), statistics (percentiles), semi-structured
extraction (JSON), temporal joins (as-of, range), and global top-k.

The reference delegates all SQL to Hive (SURVEY §0); these queries
demonstrate the full Spark SQL surface the engine exposes in its place,
each with a DuckDB oracle. Prefix ``g_``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_scripts_spark.operators.asof import asof_join
from hive_scripts_spark.plans.registry import register
from hive_scripts_spark.sources.readers import table

# ---------------------------------------------------------------------------
# multi-dimensional aggregation
# ---------------------------------------------------------------------------


@register(
    "g_rollup_pricing",
    oracle="""
    select l_returnflag, l_linestatus,
           count(*) as n_items,
           cast(sum(cast(l_quantity as decimal(18,2))) as double) as sum_qty
    from lineitem
    group by rollup(l_returnflag, l_linestatus)
    """,
)
def g_rollup_pricing(spark, sf_dir):
    """ROLLUP over (returnflag, linestatus): grouping-sets sugar over
    the same Expand operator as ``g_grouping_sets``."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


@register(
    "g_cube_order_status",
    oracle="""
    select o_orderstatus, o_orderpriority, count(*) as n_orders
    from orders
    group by cube(o_orderstatus, o_orderpriority)
    """,
)
def g_cube_order_status(spark, sf_dir):
    """CUBE over (orderstatus, orderpriority): grouping-sets sugar over
    the same Expand operator as ``g_grouping_sets``."""
    orders = table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@register(
    "g_grouping_sets",
    oracle="""
    select l_returnflag, l_linestatus, count(*) as n_items
    from lineitem
    group by grouping sets ((l_returnflag), (l_linestatus))
    """,
)
def g_grouping_sets(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        select l_returnflag, l_linestatus, count(*) as n_items
        from __gs_lineitem
        group by grouping sets ((l_returnflag), (l_linestatus))
        """
    )


@register(
    "g_pivot_status_by_priority",
    oracle="""
    select o_orderpriority,
           count(*) filter (where o_orderstatus = 'F') as n_f,
           count(*) filter (where o_orderstatus = 'O') as n_o,
           count(*) filter (where o_orderstatus = 'P') as n_p
    from orders group by o_orderpriority
    """,
)
def g_pivot_status_by_priority(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .toDF("o_orderpriority", "n_f", "n_o", "n_p")
        # pivot leaves NULL for empty cells; the filtered-count oracle says 0
        .fillna(0, subset=["n_f", "n_o", "n_p"])
    )


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


@register(
    "g_percentiles",
    oracle="""
    select o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) as p50,
           round(quantile_cont(o_totalprice, 0.9), 4) as p90,
           round(min(o_totalprice), 4) as min_price,
           round(max(o_totalprice), 4) as max_price
    from orders group by o_orderstatus
    """,
)
def g_percentiles(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.min("o_totalprice"), 4).alias("min_price"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
    )


@register("g_approx_distinct")  # HLL sketch — engine-specific, rows-only
def g_approx_distinct(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
    )


# ---------------------------------------------------------------------------
# semi-structured extraction (events.props is a JSON string)
# ---------------------------------------------------------------------------


@register(
    "g_json_extract",
    oracle="""
    select event_id, json_extract_string(props, '$.k') as k_value
    from events
    """,
)
def g_json_extract(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").alias("k_value")
    )


@register(
    "g_json_agg",
    oracle="""
    select event_type,
           cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint)
             as k_total
    from events group by event_type
    """,
)
def g_json_agg(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("k_total")
    )


# ---------------------------------------------------------------------------
# temporal joins
# ---------------------------------------------------------------------------


@register(
    "g_asof_last_error",
    oracle="""
    -- explicit window form instead of DuckDB's native ASOF JOIN: ASOF
    -- picks an ARBITRARY right row when several share the maximal ts,
    -- while this pins the same (ts desc, event_id desc) tie rule the
    -- Spark operator enforces — no flake if regenerated data ties
    with c as (
      select event_id, ts, user_id from events where event_type = 'click'
    ), e as (
      select event_id, ts, user_id from events where event_type = 'error'
    ), pairs as (
      select c.event_id, c.ts, c.user_id,
             e.ts as matched_ts, e.event_id as r_event_id,
             row_number() over (partition by c.event_id
                                order by e.ts desc, e.event_id desc) as rn
      from c join e on c.user_id = e.user_id and e.ts <= c.ts
    )
    select event_id, ts, user_id, matched_ts, r_event_id
    from pairs where rn = 1
    union all
    select c.event_id, c.ts, c.user_id,
           cast(null as timestamp) as matched_ts,
           cast(null as bigint) as r_event_id
    from c where not exists (
      select 1 from e where e.user_id = c.user_id and e.ts <= c.ts)
    """,
)
def g_asof_last_error(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id"
    )
    return asof_join(clicks, errors, key="user_id", ts="ts", right_cols=["event_id"])


@register(
    "g_range_join",
    oracle="""
    select l.event_id as l_id, r.event_id as r_id,
           epoch_us(l.ts) - epoch_us(r.ts) as delta_us
    from (select * from events where event_type = 'purchase') l
    join (select * from events where event_type = 'click') r
      on l.user_id = r.user_id
     and epoch_us(l.ts) - epoch_us(r.ts) between 0 and 3600000000
    """,
)
def g_range_join(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click")
    # per-user range join: bucket by user too — compose the bucketed range
    # join with the key equi-join by prefixing the bucket with the user
    l = purchases.select(
        F.col("event_id").alias("l_id"),
        "user_id",
        F.unix_micros("ts").alias("l_us"),
    )
    r = clicks.select(
        F.col("event_id").alias("r_id"),
        "user_id",
        F.unix_micros("ts").alias("r_us"),
    )
    w = 3_600_000_000
    lb = F.floor(F.col("l_us") / w).cast("long")
    l_exp = l.select(
        "l_id", "user_id", "l_us", F.explode(F.array(lb, lb - 1)).alias("bucket")
    )
    r_b = r.withColumn("bucket", F.floor(F.col("r_us") / w).cast("long"))
    return (
        l_exp.join(r_b, ["user_id", "bucket"])
        .where((F.col("l_us") - F.col("r_us")).between(0, w))
        .select("l_id", "r_id", (F.col("l_us") - F.col("r_us")).alias("delta_us"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# ordering / top-k
# ---------------------------------------------------------------------------


@register(
    "g_global_topk",
    oracle="""
    select o_orderkey, o_totalprice from orders
    order by o_totalprice desc, o_orderkey limit 25
    """,
)
def g_global_topk(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(25)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "g_q3_shipping_priority",
    oracle="""
    select l.l_orderkey,
           cast(sum(cast(l.l_extendedprice * (1 - l.l_discount)
                         as decimal(28,6))) as double) as revenue,
           o.o_orderdate
    from customer c
    join orders o on c.c_custkey = o.o_custkey
    join lineitem l on l.l_orderkey = o.o_orderkey
    where c.c_mktsegment = 'BUILDING'
      and o.o_orderdate < timestamp '1998-03-15'
      and l.l_shipdate  > timestamp '1998-03-15'
    group by l.l_orderkey, o.o_orderdate
    order by revenue desc, l.l_orderkey limit 10
    """,
)
def g_q3_shipping_priority(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    return (
        li.where(F.col("l_shipdate") > cutoff)
        .join(
            orders.where(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(cust.where(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@register(
    "g_q4_order_priority",
    oracle="""
    select o_orderpriority, count(*) as order_count
    from orders o
    where o.o_orderdate >= timestamp '1997-01-01'
      and o.o_orderdate <  timestamp '1997-04-01'
      and exists (select 1 from lineitem l
                  where l.l_orderkey = o.o_orderkey
                    and l.l_shipdate > o.o_orderdate)
    group by o_orderpriority
    """,
)
def g_q4_order_priority(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    window_orders = orders.where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    # EXISTS with a correlated inequality → semi-join on key + predicate
    late = window_orders.join(
        li,
        (window_orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > window_orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "g_q14_promo_share",
    oracle="""
    select round(
             100.0 * cast(sum(case when p.p_type = 'PROMO'
                 then cast(l.l_extendedprice * (1 - l.l_discount) as decimal(28,6))
                 else cast(0 as decimal(28,6)) end) as double)
             / cast(sum(cast(l.l_extendedprice * (1 - l.l_discount)
                             as decimal(28,6))) as double), 6) as promo_share_pct
    from lineitem l join part p on l.l_partkey = p.p_partkey
    where l.l_shipdate >= timestamp '1997-06-01'
      and l.l_shipdate <  timestamp '1997-07-01'
    """,
)
def g_q14_promo_share(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,6)"
    )
    zero = F.lit(0).cast("decimal(28,6)")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast(
                    "double"
                )
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_share_pct")
        )
    )


@register(
    "g_having_big_customers",
    oracle="""
    select o_custkey, count(*) as n_orders,
           cast(sum(cast(o_totalprice as decimal(18,2))) as double) as total_spend
    from orders
    group by o_custkey
    having count(*) >= 15
    """,
)
def g_having_big_customers(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend"),
        )
        .where(F.col("n_orders") >= 15)
    )


@register(
    "g_scalar_subquery_above_avg",
    oracle="""
    select count(*) as n_above_avg from orders
    where o_totalprice > (select avg(o_totalprice) from orders)
    """,
)
def g_scalar_subquery_above_avg(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__sq_orders")
    return spark.sql(
        """
        select count(*) as n_above_avg from __sq_orders
        where o_totalprice > (select avg(o_totalprice) from __sq_orders)
        """
    )


# ---------------------------------------------------------------------------
# string-function batch (upper/lower/lpad/like/locate — SURVEY §2.5 family)
# ---------------------------------------------------------------------------


@register(
    "g_string_functions",
    oracle="""
    select p_partkey,
           upper(p_brand) as brand_upper,
           lower(p_type) as type_lower,
           lpad(cast(p_size as varchar), 4, '0') as size_padded,
           (p_name like '%red%') as is_red,
           strpos(p_name, 'widget') as widget_pos
    from part
    """,
)
def g_string_functions(spark, sf_dir):
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.col("p_name").like("%red%").alias("is_red"),
        F.locate("widget", F.col("p_name")).alias("widget_pos"),
    )


# ---------------------------------------------------------------------------
# TPC-H-derived batch 2 (q6/q10/q17/q18 adapted to the testdata schema —
# no shipmode/commitdate columns, so filters use the columns that exist)
# ---------------------------------------------------------------------------


@register(
    "g_q6_forecast_revenue",
    oracle="""
    select cast(sum(cast(l_extendedprice * l_discount as decimal(28,6))) as double)
             as revenue,
           count(*) as n_lines
    from lineitem
    where l_shipdate >= timestamp '1997-01-01 00:00:00'
      and l_shipdate <  timestamp '1998-01-01 00:00:00'
      and l_discount between 0.03 and 0.07
      and l_quantity < 24
    """,
)
def g_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: single-scan filter + global agg. All four predicates push
    down to the parquet scan; the agg is a map-side partial + 1-row merge,
    so at 100 TB this is scan-bound with no shuffle of row data."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(28,6)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "g_q10_returned_items",
    oracle="""
    select c.c_custkey, c.c_name, n.n_name as nation,
           cast(sum(cast(l.l_extendedprice * (1 - l.l_discount) as decimal(28,6)))
                as double) as revenue
    from customer c
    join orders o on c.c_custkey = o.o_custkey
    join lineitem l on o.o_orderkey = l.l_orderkey
    join nation n on c.c_nationkey = n.n_nationkey
    where o.o_orderdate >= timestamp '1997-01-01 00:00:00'
      and o.o_orderdate <  timestamp '1997-04-01 00:00:00'
      and l.l_returnflag = 'R'
    group by c.c_custkey, c.c_name, n.n_name
    order by revenue desc, c.c_custkey
    limit 20
    """,
)
def g_q10_returned_items(spark, sf_dir):
    """TPC-H Q10: returned-item revenue per customer, top 20.

    Scale shape: the orders date filter pushes to the scan, the
    customer/nation dims broadcast, and the final top-20 is a
    TakeOrderedAndProject (per-partition heap + driver merge of 20-row
    heads — no global sort). Tiebreak on c_custkey keeps the row SET
    deterministic for the oracle compare.
    """
    li = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "g_q17_small_quantity_revenue",
    oracle="""
    with pa as (
      select l_partkey,
             sum(cast(l_quantity as decimal(18,2))) as qsum,
             count(*) as qcnt
      from lineitem group by l_partkey
    )
    select cast(cast(sum(cast(l.l_extendedprice as decimal(28,6))) as double) / 7.0
                as double) as avg_yearly,
           count(*) as n_lines
    from lineitem l
    join part p on p.p_partkey = l.l_partkey
    join pa on pa.l_partkey = l.l_partkey
    where p.p_brand = 'Brand#4'
      and cast(l.l_quantity as decimal(18,2)) * 5 * pa.qcnt < pa.qsum
    """,
)
def g_q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17: lines below 20% of the part's average quantity.

    The correlated aggregate subquery is decorrelated explicitly: one
    groupBy(l_partkey) per-part aggregate, re-joined on the key — the
    same plan Catalyst produces for the correlated SQL, expressed
    declaratively. The threshold compare is kept in exact decimals
    (l_quantity*5*cnt < sum) so the boundary set is engine-independent —
    a double `avg()` differs in the last ulp between engines.
    """
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#4")
    pa = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qsum"),
        F.count(F.lit(1)).alias("qcnt"),
    )
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(pa.withColumnRenamed("l_partkey", "pa_key"), F.col("l_partkey") == F.col("pa_key"))
        .where(
            F.col("l_quantity").cast("decimal(18,2)") * 5 * F.col("qcnt")
            < F.col("qsum")
        )
    )
    return joined.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).cast("double") / 7.0
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "g_q18_large_volume_customer",
    oracle="""
    select c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           cast(o.o_totalprice as double) as totalprice,
           cast(sum(cast(l.l_quantity as decimal(18,2))) as double) as sum_qty
    from customer c
    join orders o on c.c_custkey = o.o_custkey
    join lineitem l on o.o_orderkey = l.l_orderkey
    where o.o_orderkey in (
      select l_orderkey from lineitem
      group by l_orderkey
      having sum(cast(l_quantity as decimal(18,2))) > 300
    )
    group by c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def g_q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18: orders whose total quantity exceeds 300.

    The IN-subquery is a semi-join against a pre-aggregated key set; the
    HAVING filter shrinks it to a handful of keys, so it broadcasts and
    the big tables never shuffle for the membership test. The outer
    re-aggregation groups by orderkey — same key as the semi-join, so AQE
    coalesces rather than re-shuffles.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    dq = F.col("l_quantity").cast("decimal(18,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dq).alias("__qty"))
        .where(F.col("__qty") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big.withColumnRenamed("l_orderkey", "__big_key")),
                F.col("l_orderkey") == F.col("__big_key"), "inner")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(dq).cast("double").alias("sum_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.col("o_totalprice").cast("double").alias("totalprice"), "sum_qty",
        )
    )


@register(
    "g_q19_disjunctive_revenue",
    oracle="""
    select cast(sum(cast(l.l_extendedprice * (1 - l.l_discount) as decimal(28,6)))
                as double) as revenue,
           count(*) as n_lines
    from lineitem l
    join part p on p.p_partkey = l.l_partkey
    where (p.p_brand = 'Brand#1' and p.p_size between 1 and 15
           and l.l_quantity between 1 and 11)
       or (p.p_brand = 'Brand#2' and p.p_size between 1 and 25
           and l.l_quantity between 10 and 20)
       or (p.p_brand = 'Brand#3' and p.p_size between 1 and 35
           and l.l_quantity between 20 and 30)
    """,
)
def g_q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19: disjunction of (brand, size, quantity) triads.

    The OR spans both join sides, so the exact filter evaluates
    post-join — but Catalyst pushes each side's OR *envelope* to its scan
    (the quantity-range disjunction to lineitem, the brand/size
    disjunction to part: both appear in PushedFilters). The part side
    broadcasts, so lineitem never shuffles.
    """
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    triad = lambda b, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == b)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.where(
        triad("Brand#1", 15, 1, 11)
        | triad("Brand#2", 25, 10, 20)
        | triad("Brand#3", 35, 20, 30)
    ).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "g_q15_top_supplier",
    oracle="""
    with rev as (
      select l_suppkey,
             sum(cast(l_extendedprice * (1 - l_discount) as decimal(28,6)))
               as total_rev
      from lineitem
      where l_shipdate >= timestamp '1997-01-01 00:00:00'
        and l_shipdate <  timestamp '1997-04-01 00:00:00'
      group by l_suppkey
    )
    select s.s_suppkey, s.s_name, cast(r.total_rev as double) as total_revenue
    from supplier s
    join rev r on s.s_suppkey = r.l_suppkey
    where r.total_rev = (select max(total_rev) from rev)
    """,
)
def g_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue.

    The revenue CTE aggregates once; the scalar max is a 1-row broadcast
    equi-joined back on the (exact decimal) revenue value — ties all
    surface, like the SQL. The comparison stays in decimal: a double max
    could diverge between engines in the last ulp.
    """
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,6)"
                )
            ).alias("total_rev")
        )
    )
    top = rev.agg(F.max("total_rev").alias("__max_rev"))
    return (
        rev.join(F.broadcast(top), rev.total_rev == F.col("__max_rev"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H-derived batch 3 (q5/q7/q8/q9/q12/q13/q21/q22 adapted to the testdata
# schema — no partsupp/shipmode/commitdate/phone, so the joins, correlation
# shapes and conditional aggregations are preserved over the columns that
# exist; reference delegates all SQL to Hive, verizon_automation_script.sh:119)
# ---------------------------------------------------------------------------

_REV = lambda: (  # noqa: E731
    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
)


@register(
    "g_q5_local_supplier_volume",
    oracle="""
    select n.n_name as nation,
           cast(sum(cast(l.l_extendedprice * (1 - l.l_discount) as decimal(28,6)))
                as double) as revenue
    from customer c
    join orders o on c.c_custkey = o.o_custkey
    join lineitem l on l.l_orderkey = o.o_orderkey
    join supplier s on l.l_suppkey = s.s_suppkey
                   and c.c_nationkey = s.s_nationkey
    join nation n on s.s_nationkey = n.n_nationkey
    join region r on n.n_regionkey = r.r_regionkey
    where r.r_name = 'ASIA'
      and o.o_orderdate >= timestamp '1996-01-01 00:00:00'
      and o.o_orderdate <  timestamp '1997-01-01 00:00:00'
    group by n.n_name
    """,
)
def g_q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5: revenue from local (same-nation) supplier-customer pairs
    within one region/year — a 6-way join.

    Scale shape: lineitem is the only big table; orders carries the
    pushed-down date filter, supplier/customer rows only matter through
    their nationkey, and nation⋈region prunes suppliers to one region
    BEFORE the big join (the region filter is applied to the supplier dim,
    not post-join). All four dims broadcast, so lineitem shuffles once —
    for the orders equi-join — and the same-nation condition evaluates as
    a cheap post-broadcast filter.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    sup = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(sup),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(_REV()).cast("double").alias("revenue"))
    )


@register(
    "g_q7_volume_shipping",
    oracle="""
    select n1.n_name as supp_nation, n2.n_name as cust_nation,
           year(l.l_shipdate) as l_year,
           cast(sum(cast(l.l_extendedprice * (1 - l.l_discount) as decimal(28,6)))
                as double) as revenue
    from lineitem l
    join orders o on o.o_orderkey = l.l_orderkey
    join customer c on c.c_custkey = o.o_custkey
    join supplier s on s.s_suppkey = l.l_suppkey
    join nation n1 on n1.n_nationkey = s.s_nationkey
    join nation n2 on n2.n_nationkey = c.c_nationkey
    where (n1.n_name = 'NATION_1' and n2.n_name = 'NATION_2')
       or (n1.n_name = 'NATION_2' and n2.n_name = 'NATION_1')
    group by n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def g_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7: shipping volume between two nations by year — the nation
    table joins twice under different roles (supplier side / customer
    side) with a cross-role disjunction.

    The two-nation filter is applied per-role BEFORE the fact join (each
    side's dim shrinks to 2 rows), so the disjunction that spans roles
    only evaluates over lineitems whose both ends are already in the
    2-nation set — a tiny fraction of the fact table survives to the
    group-by.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nat = table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    sup = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_REV()).cast("double").alias("revenue"))
    )


@register(
    "g_q8_market_share",
    oracle="""
    with vol as (
      select year(o.o_orderdate) as o_year,
             cast(l.l_extendedprice * (1 - l.l_discount) as decimal(28,6)) as volume,
             s.s_nationkey
      from lineitem l
      join orders o on o.o_orderkey = l.l_orderkey
      join customer c on c.c_custkey = o.o_custkey
      join nation n on n.n_nationkey = c.c_nationkey
      join region r on r.r_regionkey = n.n_regionkey
      join supplier s on s.s_suppkey = l.l_suppkey
      join part p on p.p_partkey = l.l_partkey
      where r.r_name = 'AMERICA' and p.p_type = 'ECONOMY'
    )
    select o_year,
           cast(cast(sum(case when s_nationkey = 1 then volume else cast(0 as decimal(28,6)) end) as double)
                / cast(sum(volume) as double) as double) as mkt_share,
           cast(sum(volume) as double) as total_volume
    from vol group by o_year
    """,
)
def g_q8_market_share(spark, sf_dir):
    """TPC-H Q8: one nation's share of regional market volume by year —
    conditional aggregation as a ratio of two sums.

    Cross-engine float rule: both sums accumulate in exact decimal; the
    ratio divides the two DOUBLES (one IEEE op, bit-identical on any
    engine) rather than dividing decimals (scale rules differ between
    engines). Region/part filters shrink their dims before broadcast;
    lineitem shuffles only for the orders join.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    cust = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    part = table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    vol = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _REV().alias("volume"),
            "s_nationkey",
        )
    )
    zero = F.lit(0).cast("decimal(28,6)")
    return vol.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("s_nationkey") == 1, F.col("volume")).otherwise(zero))
            .cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share"),
        F.sum("volume").cast("double").alias("total_volume"),
    )


@register(
    "g_q9_product_profit",
    oracle="""
    select n.n_name as nation, year(o.o_orderdate) as o_year,
           cast(sum(cast(l.l_extendedprice * (1 - l.l_discount) as decimal(28,6))
                    - cast(l.l_quantity * p.p_retailprice * 0.5 as decimal(28,6)))
                as double) as profit
    from lineitem l
    join orders o on o.o_orderkey = l.l_orderkey
    join supplier s on s.s_suppkey = l.l_suppkey
    join nation n on n.n_nationkey = s.s_nationkey
    join part p on p.p_partkey = l.l_partkey
    where p.p_name like '%red%'
    group by n.n_name, year(o.o_orderdate)
    """,
)
def g_q9_product_profit(spark, sf_dir):
    """TPC-H Q9: profit (revenue minus cost) by supplier nation and year,
    over parts matching a name pattern. No partsupp table in the testdata,
    so supply cost is modeled as half the part's retail price — the join
    graph and agg shape are Q9's.

    The LIKE filter can't push below the part scan as a range, but it
    prunes the broadcast side to a fraction before the fact join; both
    profit terms accumulate in exact decimal (same double expression text
    on both engines, so the pre-cast double products are bit-identical).
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = table(spark, sf_dir, "nation")
    sup = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    part = table(spark, sf_dir, "part").where(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    profit_term = _REV() - (
        F.col("l_quantity") * F.col("p_retailprice") * F.lit(0.5)
    ).cast("decimal(28,6)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit_term).cast("double").alias("profit"))
    )


@register(
    "g_q12_priority_shipping",
    oracle="""
    select l.l_linestatus as linestatus,
           cast(sum(case when o.o_orderpriority in ('1-URGENT','2-HIGH')
                    then 1 else 0 end) as bigint) as high_line_count,
           cast(sum(case when o.o_orderpriority not in ('1-URGENT','2-HIGH')
                    then 1 else 0 end) as bigint) as low_line_count
    from orders o
    join lineitem l on o.o_orderkey = l.l_orderkey
    where l.l_shipdate >= timestamp '1997-01-01 00:00:00'
      and l.l_shipdate <  timestamp '1998-01-01 00:00:00'
    group by l.l_linestatus
    """,
)
def g_q12_priority_shipping(spark, sf_dir):
    """TPC-H Q12 (shipmode → linestatus): count urgent vs non-urgent
    order lines shipped in a year, bucketed by line status.

    The date range pushes to the lineitem scan; the conditional counts
    are map-side partial aggregates, so the only full-width exchange is
    the orders equi-join — and the 2-row result means AQE coalesces the
    post-agg partitions to one.
    """
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "g_q13_order_distribution",
    oracle="""
    select c_count, count(*) as custdist from (
      select c.c_custkey, count(o.o_orderkey) as c_count
      from customer c
      left join (select * from orders
                 where o_orderpriority <> '1-URGENT') o
        on c.c_custkey = o.o_custkey
      group by c.c_custkey
    ) group by c_count
    """,
)
def g_q13_order_distribution(spark, sf_dir):
    """TPC-H Q13: distribution of non-urgent order counts per customer —
    LEFT OUTER join so zero-order customers land in the c_count=0 bucket,
    then an aggregate OF an aggregate.

    The priority filter lives on the orders side of the outer join (not a
    post-join WHERE, which would silently drop the NULL rows and turn the
    outer join inner). First agg shuffles on custkey; the second input is
    one row per customer and its key space is tiny (distinct counts), so
    AQE collapses it to a near-free exchange.
    """
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "g_q21_waiting_suppliers",
    oracle="""
    select s.s_name, count(distinct l1.l_orderkey) as numwait
    from supplier s
    join lineitem l1 on s.s_suppkey = l1.l_suppkey
    join orders o on o.o_orderkey = l1.l_orderkey
    where o.o_orderstatus = 'F'
      and l1.l_returnflag = 'R'
      and exists (select 1 from lineitem l2
                  where l2.l_orderkey = l1.l_orderkey
                    and l2.l_suppkey <> l1.l_suppkey)
      and not exists (select 1 from lineitem l3
                      where l3.l_orderkey = l1.l_orderkey
                        and l3.l_suppkey <> l1.l_suppkey
                        and l3.l_returnflag = 'R')
    group by s.s_name
    """,
)
def g_q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 (commitdate → returnflag): suppliers who were the SOLE
    supplier with returned lines on a finished multi-supplier order —
    EXISTS plus NOT EXISTS, both correlated on the same key.

    Decorrelated explicitly instead of via temp-view SQL: one
    groupBy(l_orderkey) pass computes n_supp (distinct suppliers) and
    n_ret_supp (distinct suppliers with a return); the pair of correlated
    subqueries then becomes `n_supp > 1 AND n_ret_supp = 1` on the
    re-join — the fact table is scanned twice total instead of three
    times, and there is no per-row subquery at any scale.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    order_stats = li.groupBy(F.col("l_orderkey").alias("__ok")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_ret_supp"),
    )
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(order_stats, F.col("l_orderkey") == F.col("__ok"))
        .where((F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
    )


@register(
    "g_q22_dormant_customers",
    oracle="""
    with pos as (
      select sum(cast(c_acctbal as decimal(18,2))) as total, count(*) as n
      from customer where c_acctbal > 0.0
    )
    select c.c_nationkey as cntrycode, count(*) as numcust,
           cast(sum(cast(c.c_acctbal as decimal(18,2))) as double) as totacctbal
    from customer c, pos
    where cast(c.c_acctbal as decimal(18,2)) * pos.n > pos.total
      and not exists (select 1 from orders o
                      where o.o_custkey = c.c_custkey
                        and o.o_orderdate >= timestamp '2000-01-01 00:00:00')
    group by c.c_nationkey
    """,
)
def g_q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 (phone prefix → nationkey): customers with above-average
    account balance and no recent orders — scalar aggregate threshold plus
    anti-join. Every testdata customer has SOME order, so "never ordered"
    is scoped to orders placed since 2000.

    The above-average compare is cross-multiplied into exact decimals
    (bal * n > total) exactly like q17 — an avg() double threshold
    differs in the last ulp across engines and flips boundary rows. The
    1-row aggregate broadcasts as a literal-like dimension; the anti-join
    key set (customers with recent orders) is date-pruned before the
    shuffle.
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    pos = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal).alias("total"), F.count(F.lit(1)).alias("n")
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.join(F.broadcast(pos))
        .where(bal * F.col("n") > F.col("total"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
    )


@register(
    "g_q11_value_concentration",
    oracle="""
    with val as (
      select l_partkey,
             cast(sum(cast(l_extendedprice as decimal(28,6))) as decimal(28,6)) as v
      from lineitem group by l_partkey
    )
    select l_partkey as partkey, cast(v as double) as value
    from val, (select sum(v) as total, count(*) as n from val)
    where v * n * 4 > total * 5
    """,
)
def g_q11_value_concentration(spark, sf_dir):
    """TPC-H Q11 (partsupp value → lineitem revenue): parts whose revenue
    exceeds 1.25× the mean part revenue — HAVING against a scalar
    aggregate OF the same aggregation. (Q11's literal `fraction of the
    grand total` threshold is scale-VARIANT — the qualifying set shrinks
    to empty as the corpus grows — so the adapted threshold is relative
    to the mean, which selects a stable tail at any SF.)

    The per-part aggregate is computed ONCE and reused for both the total
    and the filter (one fact scan; the total is a 1-row broadcast). The
    mean compare is cross-multiplied in exact decimal (`v·n·4 >
    total·5`) — dividing doubles would make boundary parts
    engine-dependent.
    """
    li = table(spark, sf_dir, "lineitem")
    val = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(28,6)"))
        .cast("decimal(28,6)")
        .alias("v")
    )
    total = val.agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"))
    return (
        val.join(F.broadcast(total))
        .where(F.col("v") * F.col("n") * 4 > F.col("total") * 5)
        .select(
            F.col("l_partkey").alias("partkey"), F.col("v").cast("double").alias("value")
        )
    )


@register(
    "g_q16_supplier_diversity",
    oracle="""
    select p.p_brand, p.p_type, p.p_size,
           count(distinct l.l_suppkey) as supplier_cnt
    from lineitem l
    join part p on p.p_partkey = l.l_partkey
    where p.p_brand <> 'Brand#1'
      and p.p_type not like 'PROMO%'
      and p.p_size in (1, 5, 9, 13, 17, 21, 25, 29)
      and l.l_suppkey not in
          (select s_suppkey from supplier where s_acctbal < 0)
    group by p.p_brand, p.p_type, p.p_size
    """,
)
def g_q16_supplier_diversity(spark, sf_dir):
    """TPC-H Q16 (partsupp → lineitem pairs): distinct supplier count per
    part attribute triple, excluding a NOT-IN supplier denylist
    (complaints → negative balance).

    NOT IN compiles to a broadcast left_anti (safe here: s_suppkey is
    non-null; a nullable NOT-IN column needs null-aware anti-join, which
    Spark plans as BroadcastNestedLoopJoin — avoid by filtering nulls
    first). The attribute filters prune the broadcast part dim; distinct
    counting shuffles (triple, suppkey) once before the partial count.
    """
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    bad = (
        table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "g_q20_excess_shippers",
    oracle="""
    with mv as (
      select l.l_suppkey, sum(cast(l.l_quantity as decimal(18,2))) as q
      from lineitem l
      join part p on p.p_partkey = l.l_partkey
      where p.p_name like '%red%'
        and l.l_shipdate >= timestamp '1997-01-01 00:00:00'
        and l.l_shipdate <  timestamp '1998-01-01 00:00:00'
      group by l.l_suppkey
    )
    select s.s_name, s.s_nationkey
    from supplier s
    where s.s_suppkey in (
      select l_suppkey from mv, (select sum(q) as total, count(*) as n from mv)
      where q * n * 5 > total * 6
    ) and s.s_nationkey < 20
    """,
)
def g_q20_excess_shippers(spark, sf_dir):
    """TPC-H Q20 (availqty → shipped volume): suppliers who moved more
    than 1.2× the mean shipped quantity of pattern-matched parts in a
    year — an IN over a grouped-HAVING subquery, intersected with a dim
    filter. (The mean-relative threshold keeps the qualifying tail stable
    at any SF, same rationale as q11.)

    The subquery aggregates the date+part-pruned fact slice by suppkey;
    its HAVING output is a small key set that broadcast-semi-joins the
    supplier dim — the fact table feeds the membership test without ever
    shuffling full-width rows. Threshold cross-multiplied in exact
    decimal.
    """
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = table(spark, sf_dir, "part").where(F.col("p_name").like("%red%")).select(
        "p_partkey"
    )
    mv = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
    )
    tot = mv.agg(F.sum("q").alias("total"), F.count(F.lit(1)).alias("n"))
    movers = (
        mv.join(F.broadcast(tot))
        .where(F.col("q") * F.col("n") * 5 > F.col("total") * 6)
        .select("l_suppkey")
    )
    sup = table(spark, sf_dir, "supplier").where(F.col("s_nationkey") < 20)
    return sup.join(
        F.broadcast(movers), sup.s_suppkey == movers.l_suppkey, "left_semi"
    ).select("s_name", "s_nationkey")


@register(
    "g_window_lead_lag_ntile",
    oracle="""
    select o_custkey, o_orderkey,
           date_diff('day',
                     lag(o_orderdate) over w,
                     o_orderdate) as days_since_prev,
           date_diff('day',
                     o_orderdate,
                     lead(o_orderdate) over w) as days_until_next,
           ntile(4) over (partition by o_custkey
                          order by o_totalprice, o_orderkey) as price_quartile
    from orders
    window w as (partition by o_custkey order by o_orderdate, o_orderkey)
    """,
)
def g_window_lead_lag_ntile(spark, sf_dir):
    """Navigation + distribution window functions: per-customer order
    cadence (lag/lead day gaps) and price quartile (ntile).

    Both windows key on o_custkey, so the plan is ONE hash exchange and
    two sorts over the same partitioning (Catalyst reuses the exchange
    across window specs with the same partition keys). Tie-breaking on
    o_orderkey in every ORDER BY makes lag/lead/ntile assignments — not
    just the row set — engine-deterministic.
    """
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias(
            "days_since_prev"
        ),
        F.datediff(F.lead("o_orderdate").over(w), "o_orderdate").alias(
            "days_until_next"
        ),
        F.ntile(4).over(wp).alias("price_quartile"),
    )
