"""SURVEY.md §2 relational operator inventory, expressed over the driver
testdata star schema (region/nation/customer/supplier/part/orders/lineitem/
events).

Every query is declared with the DataFrame API (or Spark SQL where scalar
subqueries read better) so Catalyst gets the whole plan: predicate/projection
pushdown to the parquet scans, broadcast-hash joins for the small dims,
partial (map-side) aggregation before every shuffle, and AQE coalescing at
runtime.  Each builder's docstring cites the reference operator(s) it covers
(file:line into /root/reference).

Scale notes (100 TB posture):
- Dim tables (region 5 rows … customer 150k rows at sf100) are explicitly
  ``F.broadcast``-hinted where the optimizer's size estimate could miss.
- Aggregations are expressed as single groupBy chains → Catalyst emits
  partial_hashagg → shuffle → final_hashagg (map-side combine for free).
- No ``collect()``-then-loop anywhere; every builder returns a lazy plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dec, dec_avg, dec_sum, one_minus, one_plus
from ..sources.testdata import register_views, table
from .registry import QuerySpec, spec_decorator

SPECS: list[QuerySpec] = []
_spec = spec_decorator(SPECS)


# --------------------------------------------------------------------------
# Aggregation core (A2-A5, A7)
# --------------------------------------------------------------------------


@_spec(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
               AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))
                          * (1 + CAST(l_tax AS DECIMAL(18,2)))), 2) AS DOUBLE)
               AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped SUM/AVG/COUNT with expression aggregates (A2, A3 —
    reference `12_materialized_views.sql:85-88,116-121`). Single groupBy →
    partial+final hash aggregate; filter pushed to the parquet scan.
    Money math follows the decimal contract in ``functions.numeric``."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = dec("l_extendedprice") * one_minus("l_discount")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum(dec("l_quantity")).alias("sum_qty"),
            dec_sum(dec("l_extendedprice")).alias("sum_base_price"),
            dec_sum(disc_price).alias("sum_disc_price"),
            dec_sum(disc_price * one_plus("l_tax")).alias("sum_charge"),
            dec_avg(dec("l_quantity")).alias("avg_qty"),
            dec_avg(dec("l_extendedprice")).alias("avg_price"),
            dec_avg(dec("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_spec(
    "q3_top_orders",
    """
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
               AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '2000-01-01'
      AND l.l_shipdate  > TIMESTAMP '2000-01-01'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact→dim inner joins + grouped agg + top-k (J3, W1 — reference
    `16_sync_task_primary.sql:348-349`, `10_external_tables.sql:189-199`).
    Customer dim is broadcast; deterministic tie-break on o_orderkey."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("2000-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dec_sum(dec("l_extendedprice") * one_minus("l_discount")).alias("revenue"))
        .orderBy(F.col("revenue").desc_nulls_last(), "o_orderkey")
        .limit(10)
    )


@_spec(
    "q5_region_revenue",
    """
    SELECT r.r_name, n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY r.r_name, n.n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table equi-join snowflake with local-supplier residual condition
    (J1/J3 composition — reference joins are all equi; `10:111-134`).
    nation/region broadcast; big fact join shuffles once on orderkey."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dec_sum(dec("l_extendedprice") * one_minus("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@_spec(
    "order_performance",
    """
    WITH li_ship AS (
        SELECT l_orderkey, CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
               COUNT(*) AS n_items,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_orderkey, date_trunc('month', l_shipdate)
    ), li_rev AS (
        SELECT l_orderkey, CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
                   AS revenue,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                   AS avg_discount
        FROM lineitem GROUP BY l_orderkey, date_trunc('month', l_shipdate)
    )
    SELECT o.o_orderkey, o.o_orderpriority, s.ship_month, s.n_items, s.sum_qty,
           r.revenue, r.avg_discount,
           COALESCE(r.revenue, 0) / NULLIF(COALESCE(s.n_items, 0), 0)
               AS rev_per_item
    FROM orders o
    LEFT JOIN li_ship s ON o.o_orderkey = s.l_orderkey
    LEFT JOIN li_rev r  ON r.l_orderkey = s.l_orderkey
                       AND r.ship_month = s.ship_month
    WHERE s.ship_month IS NOT NULL OR r.ship_month IS NOT NULL
    """,
)
def order_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — analog of the reference's V_CAMPAIGN_PERFORMANCE
    (`15_create_prod_database.sql:192-242`): partial-agg CTEs (A7) joined
    back to the dim on a composite key (J2), COALESCE/NULLIF ratio metrics
    (A5), and the NULL-preserving activity filter (P5 — `12:228`).

    The reference's CTEs aggregate DIFFERENT fact tables (impressions /
    clicks / conversions) before the dim join; the testdata translation
    lands both on lineitem, so the Spark-first plan fuses them into ONE
    grouped aggregation — one fact scan + one agg shuffle instead of two
    of each, with bit-identical results (both CTEs share the
    (l_orderkey, ship_month) key, so their join is a row-aligned zip).
    The fused-aggregate → dim join is still the A7 shape."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    key = [F.col("l_orderkey"), F.date_trunc("month", F.col("l_shipdate")).alias("ship_month")]
    li_perf = li.groupBy(*key).agg(
        F.count(F.lit(1)).alias("n_items"),
        dec_sum(dec("l_quantity")).alias("sum_qty"),
        dec_sum(dec("l_extendedprice") * one_minus("l_discount")).alias("revenue"),
        dec_avg(dec("l_discount")).alias("avg_discount"),
    )
    s = li_perf.alias("s")
    return (
        o.join(s, F.col("o_orderkey") == F.col("s.l_orderkey"), "left")
        .filter(F.col("s.ship_month").isNotNull())
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("s.ship_month").alias("ship_month"),
            "n_items",
            "sum_qty",
            "revenue",
            "avg_discount",
            (
                F.coalesce(F.col("revenue"), F.lit(0.0))
                / F.expr("nullif(coalesce(n_items, 0), 0)")
            ).alias("rev_per_item"),
        )
    )


# --------------------------------------------------------------------------
# Projections & filters (P1-P5)
# --------------------------------------------------------------------------


@_spec(
    "proj_computed_columns",
    """
    SELECT p_partkey, p_name, p_retailprice,
           CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.9 AS DECIMAL(2,1)), 2)
                AS DOUBLE) AS discounted_price,
           p_brand || '#' || p_type      AS brand_type
    FROM part
    """,
)
def proj_computed_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection + computed columns (P2 — reference
    `12_materialized_views.sql:41-64`); concat via `||` (§2.7)."""
    return table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_retailprice",
        F.round(dec("p_retailprice") * F.lit("0.9").cast("decimal(2,1)"), 2)
        .cast("double")
        .alias("discounted_price"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
    )


@_spec(
    "filter_in_status",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderstatus IN ('O', 'P')
    """,
)
def filter_in_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list status filter (P3 — reference `02:95` active/completed).
    Pushed to the parquet scan as `In(o_orderstatus, [O,P])`."""
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("O", "P"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


@_spec(
    "filter_like",
    "SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%red%'",
)
def filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE predicate (P4 — reference `05:145-146` `LIKE 'CMP-NEW-%'`);
    pushed down as StringContains."""
    return (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_name")
    )


# --------------------------------------------------------------------------
# Joins (J1-J8)
# --------------------------------------------------------------------------


@_spec(
    "fanout_count_distinct",
    """
    SELECT c.c_mktsegment,
           COUNT(DISTINCT c.c_custkey)  AS n_customers,
           COUNT(DISTINCT o.o_orderkey) AS n_orders,
           COUNT(l.l_orderkey)          AS n_line_rows,
           COUNT(DISTINCT l.l_partkey)  AS n_parts
    FROM customer c
    LEFT JOIN orders o   ON c.c_custkey = o.o_custkey
    LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_mktsegment
    """,
)
def fanout_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way LEFT join fan-out + exact COUNT(DISTINCT) (J1+A1+A6 —
    reference `10_external_tables.sql:111-134`). Exact distinct (not
    approx) is the metric contract, per SURVEY §7 hard parts."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count("l_orderkey").alias("n_line_rows"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )


@_spec(
    "join_agg_subqueries",
    """
    SELECT c.c_custkey, c.c_name,
           COALESCE(oa.n_orders, 0)      AS n_orders,
           COALESCE(oa.total_spent, 0.0) AS total_spent,
           CASE WHEN COALESCE(oa.total_spent, 0.0) > 300000 THEN 'high'
                WHEN COALESCE(oa.total_spent, 0.0) > 100000 THEN 'mid'
                ELSE 'low' END           AS spend_tier
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS total_spent
        FROM orders GROUP BY o_custkey
    ) oa ON c.c_custkey = oa.o_custkey
    """,
)
def join_agg_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim LEFT JOIN aggregated subquery + CASE tiering (J4+A4 — reference
    `16_sync_task_primary.sql:393-408`)."""
    c = table(spark, sf_dir, "customer")
    oa = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum(dec("o_totalprice")).alias("total_spent"),
        )
    )
    spent = F.coalesce(F.col("total_spent"), F.lit(0.0))
    return c.join(oa, c.c_custkey == oa.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        spent.alias("total_spent"),
        F.when(spent > 300000, "high").when(spent > 100000, "mid").otherwise("low").alias(
            "spend_tier"
        ),
    )


@_spec(
    "anti_join_dormant_customers",
    """
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2001-01-01'
    )
    """,
)
def anti_join_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (J5 — reference drift check `33:292-305` finds
    objects missing on the secondary via NULL-probe left join)."""
    c = table(spark, sf_dir, "customer")
    recent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return c.join(recent, c.c_custkey == recent.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@_spec(
    "drift_hash_mismatch",
    """
    SELECT p1.p_partkey, p1.name_hash, p2.upper_hash
    FROM (SELECT p_partkey, sha256(p_name) AS name_hash FROM part) p1
    JOIN (SELECT p_partkey, sha256(UPPER(p_name)) AS upper_hash FROM part) p2
      ON p1.p_partkey = p2.p_partkey
    WHERE p1.name_hash != p2.upper_hash
    """,
)
def drift_hash_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner join + inequality residual on SHA-256 definition hashes
    (J6 + §2.7 SHA2 — reference schema-drift diff `33:333-348`,
    hash computation `33:87,105`)."""
    p = table(spark, sf_dir, "part")
    p1 = p.select("p_partkey", F.sha2(F.col("p_name"), 256).alias("name_hash"))
    p2 = p.select(
        F.col("p_partkey").alias("pk2"), F.sha2(F.upper(F.col("p_name")), 256).alias("upper_hash")
    )
    return (
        p1.join(p2, p1.p_partkey == p2.pk2)
        .filter(F.col("name_hash") != F.col("upper_hash"))
        .select("p_partkey", "name_hash", "upper_hash")
    )


@_spec(
    "full_outer_nation_counts",
    """
    SELECT COALESCE(cc.c_nationkey, sc.s_nationkey) AS nationkey,
           COALESCE(cc.n_customers, 0) AS n_customers,
           COALESCE(sc.n_suppliers, 0) AS n_suppliers
    FROM (SELECT c_nationkey, COUNT(*) AS n_customers FROM customer GROUP BY c_nationkey) cc
    FULL OUTER JOIN
         (SELECT s_nationkey, COUNT(*) AS n_suppliers FROM supplier GROUP BY s_nationkey) sc
      ON cc.c_nationkey = sc.s_nationkey
    """,
)
def full_outer_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two grouped counts + COALESCE (J7 — reference
    object-count comparison `33:564-578`)."""
    cc = (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    sc = (
        table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return cc.join(sc, cc.c_nationkey == sc.s_nationkey, "full_outer").select(
        F.coalesce(F.col("c_nationkey"), F.col("s_nationkey")).alias("nationkey"),
        F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
    )


@_spec(
    "union_count_reconciliation",
    """
    WITH ext_counts AS (
        SELECT 'customer' AS tbl, COUNT(*) AS ext_rows FROM customer
        UNION ALL SELECT 'orders', COUNT(*) FROM orders
        UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
        UNION ALL SELECT 'part', COUNT(*) FROM part
    ), cld_counts AS (
        SELECT 'customer' AS tbl, COUNT(DISTINCT c_custkey) AS cld_rows FROM customer
        UNION ALL SELECT 'orders', COUNT(DISTINCT o_orderkey) FROM orders
        UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
        UNION ALL SELECT 'part', COUNT(DISTINCT p_partkey) FROM part
    )
    SELECT e.tbl, e.ext_rows, c.cld_rows,
           CASE WHEN e.ext_rows = c.cld_rows THEN 'MATCH' ELSE 'MISMATCH' END AS verdict
    FROM ext_counts e JOIN cld_counts c ON e.tbl = c.tbl
    """,
)
def union_count_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of labeled counts from two access paths joined into a
    MATCH/MISMATCH verdict (U1+U2+J8 — reference EXT-vs-CLD consistency
    check `90_validation_queries.sql:149-168`)."""

    def labeled(name: str, df: DataFrame, cnt, alias: str) -> DataFrame:
        return df.agg(cnt.alias(alias)).select(F.lit(name).alias("tbl"), alias)

    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    ext = (
        labeled("customer", c, F.count(F.lit(1)), "ext_rows")
        .unionAll(labeled("orders", o, F.count(F.lit(1)), "ext_rows"))
        .unionAll(labeled("lineitem", li, F.count(F.lit(1)), "ext_rows"))
        .unionAll(labeled("part", p, F.count(F.lit(1)), "ext_rows"))
    )
    cld = (
        labeled("customer", c, F.countDistinct("c_custkey"), "cld_rows")
        .unionAll(labeled("orders", o, F.countDistinct("o_orderkey"), "cld_rows"))
        .unionAll(labeled("lineitem", li, F.count(F.lit(1)), "cld_rows"))
        .unionAll(labeled("part", p, F.countDistinct("p_partkey"), "cld_rows"))
    )
    return ext.join(cld, "tbl").select(
        "tbl",
        "ext_rows",
        "cld_rows",
        F.when(F.col("ext_rows") == F.col("cld_rows"), "MATCH").otherwise("MISMATCH").alias(
            "verdict"
        ),
    )


# --------------------------------------------------------------------------
# Conditional aggregation, grouping on expressions, re-aggregation
# --------------------------------------------------------------------------


@_spec(
    "conditional_agg_ratio",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fulfilled,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) * 100.0
                 / NULLIF(COUNT(*), 0) AS pct_fulfilled,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS avg_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def conditional_agg_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM(CASE WHEN) conditional aggregation + derived percentage with
    NULLIF guard (A4+A5 — reference bounce_rate `12:122,156`, CTR/CVR
    `10:127-128`)."""
    flag = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(flag).cast("long").alias("n_fulfilled"),
            (F.sum(flag).cast("long") * 100.0 / F.expr("nullif(count(*), 0)")).alias(
                "pct_fulfilled"
            ),
            dec_avg(dec("o_totalprice")).alias("avg_price"),
        )
    )


@_spec(
    "daily_events",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS event_day, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY date_trunc('day', ts)
    ORDER BY event_day LIMIT 5
    """,
)
def daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY on a DATE_TRUNC expression + ordered LIMIT (A8+W3 —
    reference `16:342-350`, `12:253-255`)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("event_day"))
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum(dec("value")).alias("total_value"))
        .orderBy("event_day")
        .limit(5)
    )


@_spec(
    "hourly_event_stats",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS event_hour, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly bucketing for dashboards (W4 — reference heartbeat rollup
    `31:582-592`)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("event_hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), dec_avg(dec("value")).alias("avg_value"))
    )


@_spec(
    "multikey_group",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS ship_year,
           l_linenumber,
           COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER), l_linenumber
    """,
)
def multikey_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key GROUP BY incl. an expression key (A9 — reference 6-key
    conversions grouping `12:144-164`)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy(
            "l_returnflag",
            "l_linestatus",
            F.year("l_shipdate").alias("ship_year"),
            "l_linenumber",
        )
        .agg(F.count(F.lit(1)).alias("n_rows"), dec_sum(dec("l_quantity")).alias("sum_qty"))
    )


@_spec(
    "reagg_rollup",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_groups,
           CAST(SUM(cnt) AS BIGINT) AS total_count,
           CAST(SUM(CAST(sum_qty AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM (
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    ) g GROUP BY l_returnflag
    """,
)
def reagg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregation of an aggregate (A11 — reference channel rollup over
    an MV `12:258-267`)."""
    inner = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"), dec_sum(dec("l_quantity")).alias("sum_qty"))
    )
    return inner.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("cnt").cast("long").alias("total_count"),
        F.sum(dec("sum_qty")).cast("double").alias("total_qty"),
    )


@_spec(
    "scalar_row_counts",
    """
    SELECT (SELECT COUNT(*) FROM customer) AS n_customer,
           (SELECT COUNT(*) FROM orders)   AS n_orders,
           (SELECT COUNT(*) FROM lineitem) AS n_lineitem,
           (SELECT COUNT(*) FROM part)     AS n_part
    """,
)
def scalar_row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar COUNT subqueries assembled into one row (A12+A13 — reference
    `90_validation_queries.sql:289-294`)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT (SELECT COUNT(*) FROM customer) AS n_customer,
               (SELECT COUNT(*) FROM orders)   AS n_orders,
               (SELECT COUNT(*) FROM lineitem) AS n_lineitem,
               (SELECT COUNT(*) FROM part)     AS n_part
        """
    )


# --------------------------------------------------------------------------
# Sorts, limits, windows, time predicates
# --------------------------------------------------------------------------


@_spec(
    "topk_parts",
    """
    SELECT p_partkey, p_name, p_retailprice
    FROM part ORDER BY p_retailprice DESC NULLS LAST, p_partkey LIMIT 10
    """,
)
def topk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by measure, DESC NULLS LAST (W1 — reference top-10 revenue
    `10:189-199`). TakeOrderedAndProject — no full sort at scale."""
    return (
        table(spark, sf_dir, "part")
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy(F.col("p_retailprice").desc_nulls_last(), "p_partkey")
        .limit(10)
    )


@_spec(
    "limit_sample",
    "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 5",
)
def limit_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LIMIT sample (W5 — reference `SELECT * LIMIT 5`
    eyeball checks `10:183`, ordered here so the result set is stable)."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(5)
    )


@_spec(
    "window_topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
        FROM orders
    ) t WHERE rk <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW_NUMBER window top-k per group (W6-adjacent; beyond the
    reference surface, which has no true window functions — SURVEY §2.5)."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@_spec(
    "recent_events_window",
    """
    SELECT event_type, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM events
    WHERE ts > (SELECT MAX(ts) - INTERVAL 24 HOUR FROM events)
    GROUP BY event_type
    """,
)
def recent_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h time-window predicate (P7 — reference
    `DATEADD('hour',-24,CURRENT_TIMESTAMP())` at `16:541`; anchored to
    MAX(ts) so the result is deterministic)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        FROM events
        WHERE ts > (SELECT MAX(ts) - INTERVAL 24 HOUR FROM events)
        GROUP BY event_type
        """
    )


# --------------------------------------------------------------------------
# Scalar function surface (§2.7) + semi-structured
# --------------------------------------------------------------------------


@_spec(
    "scalar_function_showcase",
    """
    SELECT o_orderkey,
           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
               AS days_since_epoch,
           CASE WHEN o_orderstatus = 'F' THEN 'final'
                WHEN o_orderstatus = 'O' THEN 'open'
                ELSE 'partial' END AS status_label,
           o_orderstatus || '-' || o_orderpriority AS priority_code,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 0) AS DOUBLE) AS rounded_price,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'UNKNOWN') AS status_nonpartial
    FROM orders
    """,
)
def scalar_function_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's scalar-function surface in one projection (§2.7):
    DATEDIFF (`12:55`), CASE (`12:56-61`), `||` concat (`01:28`),
    ROUND (`10:127`), COALESCE/NULLIF (`12:213-223`, `15:234-237`)."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch"
        ),
        F.when(F.col("o_orderstatus") == "F", "final")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("partial")
        .alias("status_label"),
        F.concat_ws("-", F.col("o_orderstatus"), F.col("o_orderpriority")).alias("priority_code"),
        F.round(dec("o_totalprice"), 0).cast("double").alias("rounded_price"),
        F.coalesce(F.expr("nullif(o_orderstatus, 'P')"), F.lit("UNKNOWN")).alias(
            "status_nonpartial"
        ),
    )


@_spec(
    "sessionize_events",
    """
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    )
    SELECT user_id, CAST(session_seq AS INTEGER) AS session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, session_seq
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) via lag + cumulative-sum
    window functions — true window-function surface beyond the reference
    (SURVEY §2.5 notes it has none); the streaming stateful twin lives in
    `operators/sessions.py::sessionize_stream`."""
    from ..operators.sessions import sessionize

    return sessionize(table(spark, sf_dir, "events"))


@_spec(
    "rollup_line_status",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_line_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (beyond the reference — SURVEY §2.4 notes
    no grouping sets there; engine completeness for migrating users)."""
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dec_sum(dec("l_quantity")).alias("sum_qty"),
        )
    )


@_spec(
    "intersect_active_building",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def intersect_active_building(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (beyond the reference — §2.6 notes none there)."""
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.intersect(o)


@_spec(
    "except_never_ordered",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey FROM orders
    """,
)
def except_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / set difference (beyond the reference)."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.subtract(o)  # EXCEPT (distinct) semantics, matching the SQL


@_spec(
    "json_event_props",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value
    FROM events
    """,
)
def json_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON extraction from a string column (beyond the
    reference surface — it stores VARIANT-shaped dicts driver-side only,
    `16:424-433`; a real pipeline needs row-level JSON)."""
    return table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k_value"),
    )


# --------------------------------------------------------------------------
# Validation-suite port (`90_validation_queries.sql`)
# --------------------------------------------------------------------------

_VALIDATION_TABLES = [
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
]


@_spec(
    "validation_report",
    "SELECT 'TABLE' AS object_type, object_name, row_count,\n"
    "       CASE WHEN row_count > 0 THEN 'OK' ELSE 'EMPTY' END AS status\n"
    "FROM (\n"
    + "\n    UNION ALL ".join(
        f"SELECT '{t}' AS object_name, (SELECT COUNT(*) FROM {t}) AS row_count"
        for t in _VALIDATION_TABLES
    )
    + "\n) inv",
)
def validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-existence + row-count inventory with OK/EMPTY verdicts —
    the `90_validation_queries.sql:47-94,106-110,222-224` validation sweep
    as one labeled UNION ALL (U1+U3+A12).  Each branch is a one-row
    count aggregate, so the union is ten independent count jobs — no
    cross-table shuffle at any scale."""
    parts = []
    for t in _VALIDATION_TABLES:
        parts.append(
            table(spark, sf_dir, t).agg(
                F.lit("TABLE").alias("object_type"),
                F.lit(t).alias("object_name"),
                F.count(F.lit(1)).alias("row_count"),
            )
        )
    inv = parts[0]
    for p in parts[1:]:
        inv = inv.unionAll(p)
    return inv.withColumn(
        "status", F.when(F.col("row_count") > 0, "OK").otherwise("EMPTY")
    )


@_spec(
    "validation_summary",
    """
    SELECT 'Data Summary' AS category,
           (SELECT COUNT(*) FROM customer) AS n_customer,
           (SELECT COUNT(*) FROM orders)   AS n_orders,
           (SELECT COUNT(*) FROM lineitem) AS n_lineitem,
           (SELECT COUNT(*) FROM events)   AS n_events
    """,
)
def validation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The labeled one-row 4-scalar-subquery summary
    (`90_validation_queries.sql:289-294` — A13 with the report category
    column)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT 'Data Summary' AS category,
               (SELECT COUNT(*) FROM customer) AS n_customer,
               (SELECT COUNT(*) FROM orders)   AS n_orders,
               (SELECT COUNT(*) FROM lineitem) AS n_lineitem,
               (SELECT COUNT(*) FROM events)   AS n_events
        """
    )


# --------------------------------------------------------------------------
# Temporal joins (as-of, interval) — beyond the reference surface
# --------------------------------------------------------------------------


@_spec(
    "asof_click_to_view",
    """
    SELECT c.event_id, c.user_id, c.ts,
           (SELECT MAX(v.ts) FROM events v
            WHERE v.user_id = c.user_id AND v.event_type = 'view' AND v.ts <= c.ts)
               AS view_ts
    FROM events c WHERE c.event_type = 'click'
    """,
)
def asof_click_to_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click aligned to the user's most recent
    view at-or-before it (trade↔quote alignment shape).  Union+window —
    one shuffle on user_id, no range self-join; the oracle is the
    correlated-subquery definition of as-of."""
    from ..operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    return asof_join(clicks, views, on=["user_id"], right_cols=["ts"], prefix="view_")


@_spec(
    "interval_error_context",
    """
    SELECT e.event_id, e.user_id, e.ts, CAST(COUNT(r.event_id) AS BIGINT) AS n_context
    FROM events e
    LEFT JOIN events r
      ON r.user_id = e.user_id
     AND r.ts >= e.ts - INTERVAL 5 MINUTE AND r.ts < e.ts
    WHERE e.event_type = 'error'
    GROUP BY e.event_id, e.user_id, e.ts
    """,
)
def interval_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: events in the 5 minutes before each error,
    same user — the context-window shape.  Bucketed equi-join rewrite
    (bucket = interval length), so no nested-loop inequality join at any
    scale; zero-context errors kept via a left join to the counts."""
    from ..operators.asof import interval_join

    ev = table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        "ts",
        (F.col("ts") - F.expr("INTERVAL 5 MINUTES")).alias("ctx_start"),
        F.col("ts").alias("ctx_end"),
    )
    others = ev.select(
        F.col("user_id"), F.col("ts").alias("r_ts"), F.col("event_id").alias("r_event_id")
    )
    matched = interval_join(
        errors,
        others,
        on=["user_id"],
        left_start="ctx_start",
        left_end="ctx_end",
        right_ts="r_ts",
        bucket_seconds=300,
        include_start=True,
        include_end=False,
    )
    counts = matched.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_context"))
    return (
        errors.join(counts, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.coalesce(F.col("n_context"), F.lit(0)).cast("long").alias("n_context"),
        )
    )


@_spec(
    "funnel_conversion",
    """
    WITH f AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS step_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS step_click_after_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase_after_click
    FROM f
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view → click → purchase): per-user FIRST
    timestamp of each step via MIN(CASE) pivots, then ordered-step
    counts.  The sequential-pattern shape product analytics needs beyond
    the reference's per-type rollups.

    Scale: one shuffle on user_id with map-side combined MIN partials
    (state: 3 timestamps per user), then a scalar aggregate — shuffle
    volume is O(users), never O(events).  NULL comparison semantics
    (missing step → not counted) are identical in both engines."""
    ev = table(spark, sf_dir, "events")
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    f = ev.groupBy("user_id").agg(
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    reached_view = F.col("t_view").isNotNull()
    click_after = reached_view & (F.col("t_click") > F.col("t_view"))
    purchase_after = click_after & (F.col("t_purchase") > F.col("t_click"))
    return f.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(reached_view.cast("long")).alias("step_view"),
        F.sum(click_after.cast("long")).alias("step_click_after_view"),
        F.sum(purchase_after.cast("long")).alias("step_purchase_after_click"),
    )


@_spec(
    "cohort_retention",
    """
    WITH first_seen AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS act_week
        FROM events
    )
    SELECT f.cohort_week,
           CAST((epoch(a.act_week) - epoch(f.cohort_week)) / 604800 AS INTEGER)
               AS weeks_since,
           COUNT(*) AS n_active
    FROM first_seen f JOIN activity a USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen week, counted
    in every later week they were active — the (cohort, weeks-since)
    retention matrix.

    Scale: first-seen is one O(users) aggregation; the distinct
    (user, week) activity grid is one more shuffle whose volume is
    bounded by users × weeks, not events; the final join co-partitions on
    user_id.  Week arithmetic is done on epoch seconds of week-truncated
    timestamps (exactly divisible by 604800), so the integer division is
    exact in both engines."""
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    weeks_since = (
        (F.col("act_week").cast("long") - F.col("cohort_week").cast("long")) / 604800
    ).cast("int")
    return (
        first_seen.join(activity, "user_id")
        .groupBy("cohort_week", weeks_since.alias("weeks_since"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@_spec(
    "customer_order_gaps",
    """
    WITH gaps AS (
        SELECT o_custkey,
               date_diff('day',
                         LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate, o_orderkey),
                         o_orderdate) AS gap_days
        FROM orders
    )
    SELECT o_custkey,
           COUNT(gap_days) AS n_gaps,
           CAST(SUM(gap_days) AS DOUBLE) / COUNT(gap_days) AS avg_gap_days,
           MIN(gap_days) AS min_gap_days,
           MAX(gap_days) AS max_gap_days
    FROM gaps
    WHERE gap_days IS NOT NULL
    GROUP BY o_custkey
    ORDER BY avg_gap_days DESC, o_custkey
    LIMIT 25
    """,
)
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order intervals per customer (LAG over the per-customer
    order timeline) rolled up to gap statistics — the repeat-purchase
    cadence analysis.  One shuffle on custkey serves both the window and
    the aggregation (same partitioning, no second exchange); day diffs on
    date-level timestamps are exact integers, and the mean is one double
    division (numeric contract)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
    gaps = o.select("o_custkey", gap.alias("gap_days")).filter(
        F.col("gap_days").isNotNull()
    )
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("gap_days").alias("n_gaps"),
            (F.sum("gap_days").cast("double") / F.count("gap_days")).alias("avg_gap_days"),
            F.min("gap_days").alias("min_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
        .orderBy(F.col("avg_gap_days").desc(), "o_custkey")
        .limit(25)
    )


@_spec(
    "region_revenue_share",
    """
    WITH per_region AS (
        SELECT r.r_name,
               SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    )
    SELECT r_name,
           CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
           CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE) AS revenue_share
    FROM per_region
    """,
)
def region_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total: per-region revenue over the corpus total via an
    unpartitioned window over the ALREADY-REDUCED region rollup (5 rows —
    the single-partition window is driver-sized by construction, unlike a
    window over the fact).  Decimal sums, one double division per row."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    per_region = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.sum(dec("l_extendedprice") * one_minus("l_discount")).alias("rev"))
    )
    total = Window.partitionBy()
    return per_region.select(
        "r_name",
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
        (F.col("rev").cast("double") / F.sum("rev").over(total).cast("double")).alias(
            "revenue_share"
        ),
    )


@_spec(
    "hourly_volume_anomalies",
    """
    WITH hourly AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
               COUNT(*) AS n_events
        FROM events GROUP BY 1
    ),
    stats AS (
        SELECT hour_ts, n_events,
               SUM(n_events) OVER w AS s,
               SUM(n_events * n_events) OVER w AS sq,
               COUNT(*) OVER w AS n
        FROM hourly
        WINDOW w AS (ORDER BY hour_ts ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT hour_ts, n_events,
           CASE WHEN n >= 12 AND (n * sq - s * s) > 0
                THEN (n_events - CAST(s AS DOUBLE) / n)
                     / sqrt(CAST(n * sq - s * s AS DOUBLE) / (n * n))
                END AS zscore,
           COALESCE(n >= 12 AND (n * sq - s * s) > 0
                    AND abs((n_events - CAST(s AS DOUBLE) / n)
                            / sqrt(CAST(n * sq - s * s AS DOUBLE) / (n * n))) > 3.0,
                    FALSE) AS is_anomaly
    FROM stats
    """,
)
def hourly_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomaly detection for the monitoring layer: z-score of each
    hour's event count against its trailing 24-hour window (needs ≥12
    history points and non-zero variance; |z| > 3 flags).

    Scale: the fact reduces to hourly counts FIRST (one shuffle, O(hours)
    rows), so the ordered window runs over a tiny frame — the
    single-partition window is bounded by the calendar, not the data.
    Sums/squares stay integer until one double division each (numeric
    contract); variance via the integer identity n·Σx² − (Σx)²."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_ts")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.orderBy("hour_ts").rowsBetween(-24, -1)
    stats = hourly.select(
        "hour_ts",
        "n_events",
        F.sum("n_events").over(w).alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).alias("sq"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    n, s, sq = F.col("n"), F.col("s"), F.col("sq")
    ok = (n >= 12) & ((n * sq - s * s) > 0)
    z = (F.col("n_events") - s.cast("double") / n) / F.sqrt(
        (n * sq - s * s).cast("double") / (n * n)
    )
    return stats.select(
        "hour_ts",
        "n_events",
        F.when(ok, z).alias("zscore"),
        F.coalesce(ok & (F.abs(z) > 3.0), F.lit(False)).alias("is_anomaly"),
    )


@_spec(
    "data_quality_report",
    """
    WITH o AS (SELECT COUNT(*) AS n FROM orders),
         l AS (SELECT COUNT(*) AS n FROM lineitem)
    SELECT 'not_null(o_orderdate)' AS rule, (SELECT n FROM o) AS n_rows,
           (SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL) AS n_violations
    UNION ALL
    SELECT 'accepted_values(o_orderstatus)', (SELECT n FROM o),
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F','P'))
    UNION ALL
    SELECT 'in_range(o_totalprice)', (SELECT n FROM o),
           (SELECT COUNT(*) FROM orders WHERE o_totalprice < 0)
    UNION ALL
    SELECT 'unique(o_orderkey)', (SELECT n FROM o),
           (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
    UNION ALL
    SELECT 'in_range(l_discount)', (SELECT n FROM l),
           (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0.0 OR l_discount > 1.0)
    UNION ALL
    SELECT 'not_null(l_shipdate)', (SELECT n FROM l),
           (SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL)
    UNION ALL
    SELECT 'unique(l_orderkey,l_linenumber)', (SELECT n FROM l),
           (SELECT COUNT(*) FROM lineitem)
             - (SELECT COUNT(*) FROM
                 (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
    UNION ALL
    SELECT 'foreign_key(l_orderkey)', (SELECT n FROM l),
           (SELECT COUNT(*) FROM lineitem li LEFT JOIN orders o2
              ON li.l_orderkey = o2.o_orderkey
            WHERE li.l_orderkey IS NOT NULL AND o2.o_orderkey IS NULL)
    """,
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations over the star schema
    (NOT NULL / accepted values / ranges / uniqueness / referential
    integrity) via `operators/quality.py::check` — the generalized form of
    the reference's hand-written validation corpus
    (`/root/reference/scripts/90_validation_queries.sql:21-142`).

    Scale: the five row-local rules ride ONE conditional-agg scan per
    table; uniqueness adds a key groupBy, the FK an anti-join — O(rules)
    output rows, nothing driver-side."""
    from ..operators import quality as Q

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    o_report = Q.check(o, [
        Q.not_null("o_orderdate"),
        Q.accepted_values("o_orderstatus", ["O", "F", "P"]),
        Q.in_range("o_totalprice", lo=0),
        Q.unique(["o_orderkey"]),
    ])
    l_report = Q.check(li, [
        Q.in_range("l_discount", lo=0.0, hi=1.0),
        Q.not_null("l_shipdate"),
        Q.unique(["l_orderkey", "l_linenumber"]),
        Q.foreign_key("l_orderkey", o, "o_orderkey"),
    ])
    return o_report.unionByName(l_report).drop("passed")
