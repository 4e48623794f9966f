"""Advanced relational shapes beyond the reference's own surface.

The reference workload (SURVEY.md §2.3 note) uses only equi inner/left/
full-outer joins and the two anti-join patterns — no semi joins, correlated
subqueries, HAVING, disjunctive join predicates, or ordinal grouping.  A
user migrating real analytics onto this engine needs those shapes, so each
is implemented here as an oracle-checked query over the driver testdata,
expressed the idiomatic-Spark way (decorrelated joins, window rewrites)
rather than the textual-SQL way.

Scale notes (100 TB posture) follow each builder's docstring: which side
shuffles, what broadcasts, and what AQE does when a side outgrows the
broadcast threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dec, dec_avg, dec_sum, one_minus
from ..sources.testdata import register_views, table
from .registry import QuerySpec, spec_decorator

SPECS: list[QuerySpec] = []
_spec = spec_decorator(SPECS)


# --------------------------------------------------------------------------
# Semi joins / EXISTS
# --------------------------------------------------------------------------


@_spec(
    "semi_join_late_orders",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    """,
)
def semi_join_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → LEFT SEMI join with a non-equi residual (TPC-H Q4 shape;
    beyond the reference, which has no semi joins — SURVEY §2.3 note).

    Scale: the semi join shuffles both sides on orderkey but emits at most
    one row per order (no fan-out); the date filter pushes to the orders
    scan, shrinking the build side a year's worth before the exchange."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@_spec(
    "scalar_avg_dormant_rich",
    """
    SELECT c.c_mktsegment, COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_balance
    FROM customer c
    WHERE c.c_acctbal > (
            SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*)
            FROM customer c2 WHERE c2.c_acctbal > 0
          )
      AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01'
          )
    GROUP BY c.c_mktsegment
    """,
)
def scalar_avg_dormant_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (global average) + NOT EXISTS anti join
    (TPC-H Q22 shape). The scalar average follows the decimal contract
    (exact decimal sum, one double division) so the comparison threshold is
    bit-identical across engines.

    Scale: the 1-row average broadcasts (BroadcastNestedLoopJoin degenerates
    to a map-side filter); the anti join shuffles on custkey — or broadcasts
    the date-filtered orders side when it fits."""
    c = table(spark, sf_dir, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(dec_avg(dec("c_acctbal")).alias("avg_bal"))
    )
    recent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dec_sum(dec("c_acctbal")).alias("total_balance"),
        )
    )


# --------------------------------------------------------------------------
# Correlated subqueries, decorrelated the Spark way
# --------------------------------------------------------------------------


@_spec(
    "correlated_small_lots",
    """
    WITH pavg AS (
        SELECT l_partkey,
               CAST(0.2 AS DOUBLE)
                 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    / COUNT(*)) AS qty_threshold
        FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand, COUNT(*) AS n_small_lots,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS small_lot_revenue
    FROM lineitem l
    JOIN pavg a ON a.l_partkey = l.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < a.qty_threshold
    GROUP BY p.p_brand
    """,
)
def correlated_small_lots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate subquery (TPC-H Q17 `l_quantity < 0.2 * AVG per
    part`), decorrelated into a per-partkey pre-aggregate + equi join — the
    plan Catalyst itself produces for the correlated form, written
    explicitly so the threshold math stays on the decimal contract.

    Scale: one lineitem-sized shuffle for the per-part averages, one for the
    join back (both on l_partkey, so AQE reuses the partitioning); the part
    dim broadcasts. No per-row subquery execution anywhere."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    pavg = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (F.lit(0.2).cast("double") * dec_avg(dec("l_quantity"))).alias("qty_threshold")
    )
    return (
        li.join(pavg, li.l_partkey == pavg.pa_partkey)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_lots"),
            dec_sum(dec("l_extendedprice")).alias("small_lot_revenue"),
        )
    )


@_spec(
    "cheapest_part_per_brand",
    """
    SELECT p.p_brand, p.p_partkey, p.p_name, p.p_retailprice
    FROM part p
    WHERE p.p_retailprice = (
        SELECT MIN(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
    )
    """,
)
def cheapest_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated MIN subquery (TPC-H Q2 min-cost-supplier shape), rewritten
    as a window MIN over the brand partition — one shuffle on p_brand
    instead of a self-join, the canonical Spark decorrelation. MIN over raw
    doubles is order-independent, so no decimal wrapping is needed.

    Scale: single hash-partitioned window; a skewed brand would be handled
    by AQE skew splitting, and the window frame is unbounded-MIN so Spark
    computes it in one pass per partition."""
    p = table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    return (
        p.withColumn("min_price", F.min("p_retailprice").over(w))
        .filter(F.col("p_retailprice") == F.col("min_price"))
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
    )


# --------------------------------------------------------------------------
# HAVING, outer-join distributions, disjunctive predicates
# --------------------------------------------------------------------------


@_spec(
    "having_big_orders",
    """
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 250
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def having_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY … HAVING on an aggregate (TPC-H Q18 large-volume customers;
    beyond the reference, which never filters on aggregates).

    Implemented HAVING-first: lineitem pre-aggregates to per-order quantity
    and the >250 filter runs *before* the joins, so only qualifying orders
    (a tiny fraction) ever reach the customer join — at 100 TB that join is
    a broadcast of the survivors, not a fact-sized shuffle."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") > 250)
        .select("l_orderkey", F.round("qty_dec", 2).cast("double").alias("total_qty"))
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc_nulls_last(), "o_orderkey")
        .limit(100)
    )


@_spec(
    "order_count_distribution",
    """
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) t
    GROUP BY n_orders
    """,
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with a non-key predicate inside the ON clause (rows
    keep the customer, drop the match) + two-level aggregation (TPC-H Q13
    customer distribution).

    Scale: the priority filter cannot be pushed below the outer join's ON
    semantics but prunes the probe side at the scan; first agg shuffles on
    custkey, second on the (tiny-cardinality) count value."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@_spec(
    "disjunctive_join_revenue",
    """
    SELECT COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
    """,
)
def disjunctive_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive (OR-of-conjunctions) predicate spanning both join sides
    (TPC-H Q19 discounted-revenue shape).

    Catalyst extracts the common `p_partkey` equi-key so this stays a hash
    join (broadcast for the part dim), with the OR residual evaluated post-
    match in codegen; the brand/size disjunction additionally pushes to the
    part scan as `Or(And(...))` parquet filters."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    clause1 = (
        (F.col("p_brand") == "Brand#11")
        & F.col("p_size").between(1, 15)
        & (F.col("l_quantity") >= 1)
        & (F.col("l_quantity") <= 20)
    )
    clause2 = (
        (F.col("p_brand") == "Brand#22")
        & F.col("p_size").between(10, 30)
        & (F.col("l_quantity") >= 10)
        & (F.col("l_quantity") <= 30)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(clause1 | clause2)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dec_sum(dec("l_extendedprice") * one_minus("l_discount")).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Filter-only scalar aggregate, ordinal grouping, exact percentiles
# --------------------------------------------------------------------------


@_spec(
    "forecast_revenue_delta",
    """
    SELECT COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount >= CAST(0.05 AS DOUBLE) AND l_discount <= CAST(0.07 AS DOUBLE)
      AND l_quantity < 24
    """,
)
def forecast_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-only global aggregate (TPC-H Q6): no join, no grouping — the
    whole query is scan + pushed filters + one partial/final agg pair.
    The `.explain` check for this one is that ALL four predicates appear in
    PushedFilters and the ReadSchema is 4 columns wide."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dec_sum(dec("l_extendedprice") * dec("l_discount")).alias("revenue_delta"),
        )
    )


@_spec(
    "group_by_ordinal",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY 1, 2
    """,
)
def group_by_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ordinal positions (A10 — reference `10:134`, `15:152`
    `GROUP BY 1,2,…`), run through spark.sql to exercise the actual ordinal
    resolution path (`spark.sql.groupByOrdinal`, on by default)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY 1, 2
        """
    )


@_spec(
    "priority_price_percentiles",
    """
    SELECT o_orderpriority,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS median_price,
           percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90_price,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def priority_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles (median / p90) per group — a
    training-data-pipeline staple (length/quality cutoffs). PERCENTILE_DISC
    returns an actual data value (no interpolation), so results are
    bit-identical across engines with no decimal wrapping.

    Scale: exact percentiles need the group's values together — one shuffle
    on the group key. For percentile-of-everything at 100 TB the approximate
    path (`approx_percentile`, t-digest, mergeable map-side) is the lever;
    kept exact here because groups are bounded and the oracle hashes values."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS median_price,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90_price,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderpriority
        """
    )


@_spec(
    "hash_stratified_sample",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) <
          CASE o_orderstatus WHEN 'O' THEN '1a' WHEN 'F' THEN '34' ELSE '80' END
    """,
)
def hash_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling: per-stratum rates
    (~10% of open, ~20% of fulfilled, ~50% of pending orders) chosen by
    comparing an md5 prefix of the key — reproducible across engines, runs
    and cluster sizes, unlike `df.sample` whose RNG is partition-dependent.
    This is the sampling pattern a training-data pipeline needs for holdout
    splits (P9's seeded-sample analog with an exact oracle).

    Scale: pure map-side filter, no shuffle, no RNG state; the md5 prefix is
    uniform so selected fractions concentrate tightly at any size."""
    o = table(spark, sf_dir, "orders")
    rate = (
        F.when(F.col("o_orderstatus") == "O", "1a")
        .when(F.col("o_orderstatus") == "F", "34")
        .otherwise("80")
    )
    return o.filter(
        F.md5(F.col("o_orderkey").cast("string")).substr(1, 2) < rate
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


# --------------------------------------------------------------------------
# Round-2 additions: classic TPC-H shapes the testdata supports
# --------------------------------------------------------------------------


@_spec(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
               AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
               l.l_extendedprice, l.l_discount
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between a nation PAIR in both
    directions (disjunctive pair predicate over two nation joins), by
    ship year.

    Scale: both nation joins broadcast (25 rows); the pair predicate is
    applied post-join as a residual — at 100 TB the orders⋈lineitem join
    shuffles on orderkey once, and everything else stays broadcast."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(dec_sum(dec("l_extendedprice") * one_minus(dec("l_discount"))).alias("revenue"))
    )


@_spec(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_items
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top customers by lost (returned) revenue in a
    quarter.  Scale: date filter pushes to the orders scan, returnflag to
    the lineitem scan; TakeOrderedAndProject caps the result at 20 rows
    executor-side — no global sort materializes."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dec_sum(dec("l_extendedprice") * one_minus(dec("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@_spec(
    "q14_promo_revenue",
    """
    SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                         ELSE 0 END) AS DOUBLE) * 100
               / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1996-02-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-type revenue share in a month (conditional
    decimal sums, ONE double division at the end — numeric contract).
    Scale: part broadcasts; the month filter pushes to the lineitem scan,
    so the join input is one month of the fact."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-02-01")
    )
    p = table(spark, sf_dir, "part")
    rev = dec("l_extendedprice") * one_minus(dec("l_discount"))
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).cast("double")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg((promo * 100 / F.sum(rev).cast("double")).alias("promo_revenue_pct"))
    )


@_spec(
    "q16_supplier_variety",
    """
    SELECT p.p_brand, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 5, 9, 13)
    GROUP BY p.p_brand, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (partsupp bridged via lineitem): distinct supplier
    count per (brand, size) with NOT/IN exclusions.  Scale: the part-side
    predicates prune before the broadcast join; exact COUNT(DISTINCT)
    dedups map-side on (brand, size, suppkey) before the final shuffle."""
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 9, 13)
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


@_spec(
    "gap_fill_daily_orders",
    """
    WITH spine AS (
        SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-01-31',
                                           INTERVAL 1 DAY)) AS DATE) AS order_date
    ),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS order_date,
               COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS revenue
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1995-02-01'
        GROUP BY 1
    )
    SELECT s.order_date,
           COALESCE(d.n_orders, 0) AS n_orders,
           COALESCE(d.revenue, 0.0) AS revenue
    FROM spine s LEFT JOIN daily d USING (order_date)
    """,
)
def gap_fill_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling: a generated calendar LEFT-joined to the
    daily rollup, zero-filling silent days (the time-series hygiene step
    dashboards need — missing days must read 0, not vanish).

    Scale: the spine is generated (31 rows — broadcast by construction);
    the fact aggregates down to per-day rows before the join, so the join
    cost is O(days), independent of fact size."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-02-01")
    )
    daily = o.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum(dec("o_totalprice")).alias("revenue"),
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(F.lit("1995-01-01").cast("date"), F.lit("1995-01-31").cast("date"))
        ).alias("order_date")
    )
    return spine.join(daily, "order_date", "left").select(
        "order_date",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
    )


@_spec(
    "q15_top_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(ROUND(r.total_rev, 2) AS DOUBLE) AS total_rev
    FROM supplier s
    JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    an aggregated revenue view compared against its own scalar MAX.

    Scale: one fact shuffle (per-supplier partial aggs with the quarter
    filter pushed to the scan); the scalar MAX reduces the already-small
    rev frame and broadcasts back as a 1-row build side; the equality
    compares exact decimals, so ties surface identically in both
    engines."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(dec("l_extendedprice") * one_minus("l_discount")).alias("total_rev")
    )
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    s = table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top), F.col("total_rev") == F.col("max_rev"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_rev"), 2).cast("double").alias("total_rev"),
        )
        .orderBy("s_suppkey")
    )


@_spec(
    "q8_market_share",
    """
    WITH all_sales AS (
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN part p     ON l.l_partkey = p.p_partkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
        JOIN region r   ON n1.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
        WHERE p.p_type = 'PROMO' AND r.r_name = 'ASIA'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END)
                AS DOUBLE) / CAST(SUM(volume) AS DOUBLE) AS market_share
    FROM all_sales
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of PROMO-part sales
    into a customer region, by order year — a 7-join star with a
    conditional-over-total ratio.

    Scale: part/customer-side dims broadcast after their filters; the
    lineitem⋈orders join is the one fact shuffle; exact decimal sums with
    ONE double division per year (numeric contract)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey"))
    n2 = n.select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    vol = dec("l_extendedprice") * one_minus(dec("l_discount"))
    sales = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(F.lit(0))
    ).cast("double")
    return (
        sales.groupBy("o_year")
        .agg((num / F.sum("volume").cast("double")).alias("market_share"))
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Round-3 additions: the remaining classic TPC-H shapes expressible on the
# driver star schema (no partsupp / commitdate columns exist, so Q9/Q11/
# Q12/Q20/Q21 are adapted to the available columns with identical plan
# shapes).
# --------------------------------------------------------------------------


@_spec(
    "q9_product_profit",
    """
    SELECT n_name AS nation, CAST(year(l_shipdate) AS INTEGER) AS o_year,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))
                          - CAST(p_retailprice AS DECIMAL(18,2))
                            * CAST(l_quantity AS DECIMAL(18,2))
                            * CAST(0.8 AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS sum_profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_name, year(l_shipdate)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit) adapted: per (supplier nation,
    ship year) profit where supply cost is modeled as 80% of retail price
    (no partsupp table in the star schema).

    Scale: lineitem is the only fact; part and supplier broadcast at
    small SF and AQE falls back to shuffle joins when they outgrow the
    threshold — either way the single wide shuffle is the final
    (nation, year) aggregate, which map-side combines to O(nations ×
    years) rows.  Decimal contract throughout (exact, order-independent
    sums)."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    profit = dec("l_extendedprice") * one_minus("l_discount") - (
        dec("p_retailprice") * dec("l_quantity") * F.lit("0.8").cast("decimal(18,2)")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
        )
        .agg(dec_sum(profit).alias("sum_profit"))
    )


@_spec(
    "q11_important_parts",
    """
    WITH pv AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS value
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(value) AS total, COUNT(*) AS n_parts FROM pv)
    SELECT l_partkey, CAST(ROUND(value, 2) AS DOUBLE) AS part_value
    FROM pv, tot
    WHERE CAST(value AS DOUBLE) > CAST(total AS DOUBLE) / n_parts * 1.2
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part revenue filtered against the GLOBAL
    mean (parts 20% above average revenue share — SF-invariant, unlike
    Q11's fixed fraction) — a HAVING-vs-scalar-subquery decorrelated into
    a broadcast of the one-row total.

    Scale: one map-side-combined shuffle to (partkey) — the global total
    re-aggregates THAT result (O(parts) rows, not a second fact scan) and
    broadcasts back as a literal-sized frame.  The threshold comparison
    runs in double on both engines (identical IEEE ops on identical
    decimal-exact inputs → deterministic)."""
    li = table(spark, sf_dir, "lineitem")
    pv = (
        li.groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice") * one_minus("l_discount")).alias("value"))
    )
    tot = pv.agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n_parts"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(
            F.col("value").cast("double")
            > F.col("total").cast("double") / F.col("n_parts") * 1.2
        )
        .select(
            "l_partkey",
            F.round("value", 2).cast("double").alias("part_value"),
        )
    )


@_spec(
    "q12_shipdelay_priority",
    """
    SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30 THEN 'fast'
                WHEN datediff('day', o_orderdate, l_shipdate) <= 90 THEN 'medium'
                ELSE 'slow' END AS delay_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY 1
    """,
)
def q12_shipdelay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-delay service check): conditional counts
    of high/low-priority lines per order-to-ship delay bucket (the
    testdata carries no shipmode/commitdate, so the delay IS the bucket).

    Scale: one fact-fact equi-join on orderkey (both sides shuffle on the
    join key; AQE coalesces), then a 3-row aggregate — the CASE counts
    fold map-side."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.when(delay <= 30, "fast")
            .when(delay <= 90, "medium")
            .otherwise("slow")
            .alias("delay_bucket")
        )
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
    )


@_spec(
    "q20_promo_part_suppliers",
    """
    WITH promo_parts AS (
        SELECT p_partkey FROM part WHERE p_name LIKE '%red%'
    ),
    heavy AS (
        SELECT l_suppkey
        FROM lineitem JOIN promo_parts ON p_partkey = l_partkey
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(l_quantity) > 50
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM supplier JOIN heavy ON l_suppkey = s_suppkey
    ORDER BY s_suppkey
    """,
)
def q20_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: chained semi-joins — parts filtered by name feed
    a grouped HAVING over lineitem, whose distinct suppliers semi-join
    into supplier.

    Scale: the name-filtered part list broadcasts into the fact scan
    (semi-join prunes before the shuffle); the (suppkey, partkey)
    aggregate map-side combines; the final semi-join against supplier is
    a broadcast of the distinct surviving suppkeys."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = table(spark, sf_dir, "supplier")
    heavy = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(F.broadcast(heavy), supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@_spec(
    "q21_last_shipper",
    """
    WITH per_order AS (
        SELECT l_orderkey, MAX(l_shipdate) AS last_ship,
               COUNT(DISTINCT l_suppkey) AS n_supp
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_suppkey, COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem JOIN per_order USING (l_orderkey)
    WHERE n_supp > 1 AND l_shipdate = last_ship
    GROUP BY l_suppkey
    ORDER BY n_orders DESC, l_suppkey
    LIMIT 20
    """,
)
def q21_last_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept multi-supplier orders
    waiting): within each multi-supplier order, the supplier(s) whose
    line shipped LAST, ranked by how many orders they closed out.

    Scale: ONE shuffle on orderkey serves both window functions (max
    shipdate + distinct-supplier count via ``collect_set`` size — exact,
    bounded by suppliers-per-order); the per-suppkey rollup map-side
    combines and the top-20 is a TakeOrdered, no global sort."""
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    marked = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_shipdate",
        F.max("l_shipdate").over(w).alias("last_ship"),
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
    )
    return (
        marked.filter((F.col("n_supp") > 1) & (F.col("l_shipdate") == F.col("last_ship")))
        .groupBy("l_suppkey")
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "l_suppkey")
        .limit(20)
    )


_NOT_IN_SQL = """
    WITH probe AS (
        SELECT c_custkey FROM customer WHERE c_acctbal < 0
        UNION ALL SELECT NULL
    ),
    safe AS (
        SELECT c_custkey FROM customer WHERE c_acctbal < 0
          AND c_custkey IS NOT NULL
    )
    SELECT
        (SELECT COUNT(*) FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM probe)) AS notin_with_null,
        (SELECT COUNT(*) FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM safe)) AS notin_null_safe,
        (SELECT COUNT(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM probe p
                           WHERE p.c_custkey = o.o_custkey)) AS not_exists
"""


@_spec("not_in_null_semantics", _NOT_IN_SQL)
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap, proven on both engines with one row: a NULL
    in the subquery makes ``NOT IN`` return zero rows (three-valued
    logic — every comparison is UNKNOWN), while the null-filtered
    variant and ``NOT EXISTS`` (which ignores NULL non-matches) return
    the real complement.  The identical SQL text runs on both engines —
    a migrating user's most common silent-wrong-answer shape.

    Scale: Spark plans NOT IN as NullAwareAntiJoin (broadcast of the
    probe side); NOT EXISTS as a plain left-anti join."""
    register_views(spark, sf_dir)
    return spark.sql(_NOT_IN_SQL)
