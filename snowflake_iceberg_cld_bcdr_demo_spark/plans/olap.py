"""OLAP shapes beyond the reference surface: full window-function
coverage, CUBE / GROUPING SETS, pivot/unpivot, moving aggregates, and
approximate-vs-exact sketch pairs.

The reference workload has no true window functions, cubes, or pivots
(SURVEY.md §2.5 — its "windows" are ORDER BY + LIMIT); these are the
analytics surfaces any user of a warehouse engine expects next, so the
engine ships them as first-class oracle-checked queries.

Determinism follows the :mod:`..functions.numeric` contract: running /
windowed sums stay in DECIMAL (order-independent), averages are one final
double division, and every window ORDER BY ends in a unique key so frames
are total-ordered in both engines.

Scale notes (100 TB posture):
- Every window query shuffles once on its partition key; frames are
  evaluated per-partition after a local sort — no driver involvement.
- ``cube``/``rollup`` expand to grouping-set duplicates *after* a
  map-side partial agg in Spark (Expand over partial aggregates), so the
  shuffle carries pre-combined rows.
- Pivot with an explicit value list is a single conditional-agg pass; no
  second job to discover pivot values (never omit the list at scale).
- Approximate sketches (HLL ``approx_count_distinct``, t-digest
  ``approx_percentile``) are the 100-TB levers: mergeable, map-side
  partial, fixed memory. Each ships next to its exact oracle-checked
  twin; tests bound the approximation error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dec
from ..sources.testdata import register_views, table
from .registry import QuerySpec, spec_decorator

SPECS: list[QuerySpec] = []
_spec = spec_decorator(SPECS)


# --------------------------------------------------------------------------
# Window-function showcase
# --------------------------------------------------------------------------


@_spec(
    "window_showcase",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER w AS INTEGER) AS seq,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w, 2)
                AS DOUBLE) AS run_spend,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def window_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order timeline: sequence number, lag/lead neighbors,
    first value, running decimal spend, quartile bucket — the navigation +
    frame + distribution window families in one plan.  One shuffle on
    o_custkey; every function shares the same window definition so Spark
    evaluates them in a single Window operator pass."""
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(wo).alias("seq"),
        F.lag("o_totalprice").over(wo).alias("prev_price"),
        F.lead("o_totalprice").over(wo).alias("next_price"),
        F.first("o_totalprice").over(wf).alias("first_price"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(wf), 2)
        .cast("double")
        .alias("run_spend"),
        F.ntile(4).over(wo).alias("quartile"),
    )


@_spec(
    "moving_avg_daily_revenue",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT day, CAST(ROUND(rev, 2) AS DOUBLE) AS revenue, n_orders,
           CAST(SUM(rev) OVER w AS DOUBLE)
               / CAST(SUM(n_orders) OVER w AS DOUBLE) AS ma7_per_order,
           CAST(ROUND(SUM(rev) OVER w, 2) AS DOUBLE) AS rev_7d
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def moving_avg_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue with a 7-day moving window (trailing sum + per-order
    moving average).  Two-level plan: map-side-combined daily aggregate
    (tiny result), then an unpartitioned ordered window over ~days rows —
    the global window is safe only because the daily rollup is small; at
    100 TB the heavy lifting stays in the first groupBy."""
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "day",
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
        "n_orders",
        (
            F.sum("rev").over(w).cast("double")
            / F.sum("n_orders").over(w).cast("double")
        ).alias("ma7_per_order"),
        F.round(F.sum("rev").over(w), 2).cast("double").alias("rev_7d"),
    )


@_spec(
    "price_delta_rank",
    """
    SELECT o_orderpriority, o_orderkey,
           o_totalprice - LAG(o_totalprice) OVER
               (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey)
               AS price_delta,
           CAST(RANK() OVER
               (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
               AS INTEGER) AS price_rank
    FROM orders
    """,
)
def price_delta_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two *different* windows in one projection (delta vs chronological
    neighbor, rank by price) — exercises Spark planning multiple Window
    operators back-to-back on the same partition key (one shuffle, two
    local sorts).  Subtraction of raw doubles is bit-exact: both engines
    subtract the identical stored values."""
    chron = Window.partitionBy("o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    by_price = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        (F.col("o_totalprice") - F.lag("o_totalprice").over(chron)).alias("price_delta"),
        F.rank().over(by_price).alias("price_rank"),
    )


# --------------------------------------------------------------------------
# CUBE / ROLLUP / GROUPING SETS
# --------------------------------------------------------------------------


@_spec(
    "cube_order_stats",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (status, priority) with the grouping-id bitmask
    distinguishing subtotal levels.  Spark plans cube as Expand *after*
    partial aggregation, so the shuffle carries combined rows — the
    correct 100-TB shape for multi-level subtotals."""
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "revenue")
    )


@_spec(
    "grouping_sets_geo_revenue",
    """
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    """,
)
def grouping_sets_geo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (nation detail, region subtotal, grand
    total) over the dim-joined customer table — the report-rollup shape.
    Declared in Spark SQL so Catalyst plans the same Expand-over-partials
    as cube; dims broadcast."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r_name, n_name, COUNT(*) AS n_customers,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS total_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        """
    )


# --------------------------------------------------------------------------
# Pivot / unpivot
# --------------------------------------------------------------------------


@_spec(
    "pivot_priority_status",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status-count matrix per priority via ``pivot`` with an EXPLICIT
    value list — without it Spark runs an extra distinct-values job over
    the fact table before it can even plan (never do that at 100 TB).
    Missing combinations fill 0 to match the conditional-agg oracle."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
    )


@_spec(
    "unpivot_part_measures",
    """
    SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
    """,
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of part measures via ``unpivot`` — a single
    narrow Generate (no join, no shuffle); the oracle is the UNION ALL
    definition of unpivot."""
    return table(spark, sf_dir, "part").unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="measure",
        valueColumnName="value",
    ).withColumn("value", F.col("value").cast("double"))


# --------------------------------------------------------------------------
# Sketch pairs: exact oracle twin + approximate scale path
# --------------------------------------------------------------------------


@_spec(
    "distinct_users_by_type",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type distinct users — the oracle twin of
    :func:`distinct_users_by_type_approx` (HLL), which is the operator to
    reach for at 100 TB (mergeable fixed-size sketch vs an Expand
    shuffle of every distinct pair)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@_spec(
    "distinct_users_by_type_approx",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           TRUE AS hll_within_bound
    FROM events GROUP BY event_type
    """,
    changed_in=11,
)
def distinct_users_by_type_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per type (`approx_count_distinct`,
    rsd=2%), BOUND-CERTIFIED: the sketch itself is not SQL-replayable
    (internals differ across engines by design), so the query emits the
    exact distinct count plus a ``hll_within_bound`` flag —
    |approx − exact| ≤ 2.5·rsd·exact — and the DuckDB oracle recomputes
    the exact side and pins the flag TRUE.  The sketch's error is now
    hash-certified against its published bound, not merely row-counted.
    At 100 TB you run the sketch alone (fixed memory, mergeable,
    map-side); this audit shape is what you run at small scale to trust
    it."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users_exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
        )
        .select(
            "event_type",
            "n_events",
            "n_users_exact",
            (
                F.abs(F.col("_approx") - F.col("n_users_exact"))
                <= F.lit(0.05) * F.col("n_users_exact")
            ).alias("hll_within_bound"),
        )
    )


@_spec(
    "event_value_deciles",
    """
    SELECT event_type,
           percentile_disc(0.1) WITHIN GROUP (ORDER BY value) AS p10,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50,
           percentile_disc(0.99) WITHIN GROUP (ORDER BY value) AS p99,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def event_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete value percentiles per event type — oracle twin of
    :func:`event_value_deciles_approx`.  PERCENTILE_DISC returns actual
    data values, so cross-engine results are bit-identical with no
    decimal wrapping."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type,
               percentile_disc(0.1) WITHIN GROUP (ORDER BY value) AS p10,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50,
               percentile_disc(0.99) WITHIN GROUP (ORDER BY value) AS p99,
               COUNT(*) AS n
        FROM events GROUP BY event_type
        """
    )


@_spec(
    "event_value_deciles_approx",
    """
    SELECT event_type, COUNT(*) AS n,
           TRUE AS p10_rank_ok, TRUE AS p50_rank_ok, TRUE AS p99_rank_ok
    FROM events GROUP BY event_type
    """,
    changed_in=11,
)
def event_value_deciles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch via
    ``approx_percentile``, accuracy 10000), BOUND-CERTIFIED: for each
    target rank p the sketch guarantees the returned value's true rank
    lies within ±ε·n of p·n; the query rejoins each approx value to the
    data, computes its true rank interval [count(<v), count(≤v)], and
    flags whether it intersects [(p−ε)n, (p+ε)n] at ε=0.02 (a safety
    multiple of the published 1/accuracy=10⁻⁴, absorbing tie plateaus
    in discrete data).  The oracle pins all
    three flags TRUE per group — the sketch's rank bound is now
    hash-certified."""
    ev = table(spark, sf_dir, "events")
    approx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.1, 0.5, 0.99], 10000).alias("q")
    )
    targets = [(0, 0.1), (1, 0.5), (2, 0.99)]
    eps = 0.02
    ranks = (
        ev.join(F.broadcast(approx), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum((F.col("value") < F.col("q")[i]).cast("long")).alias(f"_lt{i}")
                for i, _ in targets
            ],
            *[
                F.sum((F.col("value") <= F.col("q")[i]).cast("long")).alias(f"_le{i}")
                for i, _ in targets
            ],
        )
    )

    def _ok(i: int, p: float):
        n = F.col("n").cast("double")
        return (
            (F.col(f"_le{i}").cast("double") >= (F.lit(p - eps)) * n)
            & (F.col(f"_lt{i}").cast("double") <= (F.lit(p + eps)) * n)
        )

    return ranks.select(
        "event_type",
        "n",
        _ok(0, 0.1).alias("p10_rank_ok"),
        _ok(1, 0.5).alias("p50_rank_ok"),
        _ok(2, 0.99).alias("p99_rank_ok"),
    )


@_spec(
    "heavy_hitter_users",
    """
    WITH total AS (SELECT COUNT(*) AS n FROM events)
    SELECT user_id, COUNT(*) AS n_events,
           CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM total) AS share
    FROM events
    GROUP BY user_id
    HAVING COUNT(*) > (SELECT n FROM total) / 2000.0
    """,
)
def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-threshold heavy hitters (users above 1/2000 of all
    traffic) — the skew-detection / abuse-detection shape.  One grouped
    count plus a broadcast scalar total; the HAVING filter runs post-agg
    on the already-tiny grouped side.  At 100 TB this is exactly the
    query you run before deciding to salt a key."""
    ev = table(spark, sf_dir, "events")
    total = ev.agg(F.count(F.lit(1)).alias("n"))
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .join(F.broadcast(total))
        .filter(F.col("n_events") > F.col("n") / 2000.0)
        .select(
            "user_id",
            "n_events",
            (F.col("n_events").cast("double") / F.col("n")).alias("share"),
        )
    )


#: FreqItems support: 0.05% of traffic — non-vacuous at every testdata
#: SF (15 / 150 / 1478 qualifying users at sf0.001/0.01/0.1); sketch
#: capacity 1/support = 2000 entries, fixed memory per partition.
_FREQ_SUPPORT = 0.0005


@_spec(
    "heavy_hitters_approx",
    f"""
    WITH total AS (SELECT COUNT(*) AS n FROM events)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, TRUE AS in_sketch
    FROM events GROUP BY user_id
    HAVING COUNT(*) > {_FREQ_SUPPORT!r} * (SELECT n FROM total)
    """,
    changed_in=11,
)
def heavy_hitters_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate frequent users via Spark's mergeable FreqItems sketch
    (Karp-Papadimitriou-Shenker), BOUND-CERTIFIED: the sketch's
    published guarantee is NO FALSE NEGATIVES — every item above the
    support threshold IS in the result (false positives allowed).  The
    query computes the exact above-threshold users and flags each one's
    membership in the sketch output; the DuckDB oracle recomputes the
    exact side and pins ``in_sketch`` TRUE for every row — the
    guarantee itself is hash-certified, not just row-counted.  At
    100 TB you keep the sketch (single pass, fixed memory per
    partition) and skip the exact twin; this is the trust audit."""
    ev = table(spark, sf_dir, "events")
    fi = ev.freqItems(["user_id"], support=_FREQ_SUPPORT)
    total = ev.agg(F.count(F.lit(1)).alias("_n"))
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .join(F.broadcast(total))
        .filter(F.col("n_events") > F.lit(_FREQ_SUPPORT) * F.col("_n"))
        .join(F.broadcast(fi))
        .select(
            "user_id",
            "n_events",
            F.array_contains(F.col("user_id_freqItems"), F.col("user_id")).alias(
                "in_sketch"
            ),
        )
    )


# --------------------------------------------------------------------------
# Statistical aggregates (deterministic-moment formulations)
# --------------------------------------------------------------------------


@_spec(
    "stats_corr_by_flag",
    """
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               -- decimal→double via VARCHAR: DuckDB's direct cast
               -- double-rounds ≥17-digit decimals (…835.8685 → .869);
               -- the string path is correctly rounded and matches
               -- Spark's BigDecimal conversion bit-for-bit
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                    AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2)))
                    AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS VARCHAR) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n AS n_rows,
           (n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_qty_price,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS regr_slope,
           (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
             AS regr_intercept,
           SQRT((n * sxx - sx * sx) / (n * (n - 1))) AS stddev_qty
    FROM m
    """,
)
def stats_corr_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation / least-squares slope + intercept / sample
    stddev per return flag, computed from EXACT decimal co-moments with
    one final double combination — the cross-engine-deterministic form of
    ``corr`` / ``regr_slope`` / ``regr_intercept`` / ``stddev_samp``
    (whose streaming float updates are partition-order-dependent).

    Scale: one map-side-combined hash aggregate over the fact (five
    decimal sums + a count per group), O(groups) rows after; the moment
    combination is per-group scalar math.  Decimal(38,4) headroom covers
    1e11-row facts (sums ≤ 1e29 < 1e34)."""
    li = table(spark, sf_dir, "lineitem")
    qty, price = dec("l_quantity"), dec("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qty).cast("double").alias("sx"),
        F.sum(price).cast("double").alias("sy"),
        F.sum(qty * qty).cast("double").alias("sxx"),
        F.sum(price * price).cast("double").alias("syy"),
        F.sum(qty * price).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_returnflag",
        n.alias("n_rows"),
        ((n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
        .alias("corr_qty_price"),
        slope.alias("regr_slope"),
        ((sy - slope * sx) / n).alias("regr_intercept"),
        F.sqrt((n * sxx - sx * sx) / (n * (n - F.lit(1)))).alias("stddev_qty"),
    )


@_spec(
    "ntile_price_quartiles",
    """
    WITH q AS (
        SELECT o_orderpriority, o_totalprice,
               CAST(NTILE(4) OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey) AS INTEGER)
                   AS quartile
        FROM orders
    )
    SELECT o_orderpriority, quartile, COUNT(*) AS n_orders,
           MIN(o_totalprice) AS lo_price, MAX(o_totalprice) AS hi_price
    FROM q GROUP BY o_orderpriority, quartile
    """,
)
def ntile_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing: per-priority price quartiles with bucket bounds.
    The window ORDER BY ends in the unique orderkey so tile assignment is
    total-ordered (deterministic in both engines).

    Scale: one shuffle on the partition key; NTILE is a streaming frame
    over each sorted partition, then the rollup re-uses the same
    partitioning (no second exchange for the groupBy prefix)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderpriority",
            "o_totalprice",
            F.ntile(4).over(w).alias("quartile"),
        )
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo_price"),
            F.max("o_totalprice").alias("hi_price"),
        )
    )


@_spec(
    "acctbal_median_by_nation",
    """
    SELECT n.n_name,
           COUNT(*) AS n_customers,
           MEDIAN(c.c_acctbal) AS median_acctbal,
           MIN(c.c_acctbal) AS min_acctbal,
           MAX(c.c_acctbal) AS max_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def acctbal_median_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median account balance per nation (plus extrema).  Median of
    an even count is the midpoint average in both engines; the inputs are
    exact 2-decimal doubles, so the single (a+b)/2 is bit-deterministic.

    Scale: exact median needs the per-group sorted middle — Spark's
    ``median``/``percentile`` aggregates buffer per group, fine for
    dimension-bounded groups (25 nations); unbounded-cardinality use
    cases switch to the `approx_percentile` sketch twin
    (`event_value_deciles_approx`)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.median("c_acctbal").alias("median_acctbal"),
            F.min("c_acctbal").alias("min_acctbal"),
            F.max("c_acctbal").alias("max_acctbal"),
        )
    )


@_spec(
    "session_window_rollup",
    """
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
)
def session_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session-window aggregation (`F.session_window`,
    30-min gap): dynamic-length windows merged by overlap, end = last
    event + gap.  The lag+cumsum twin is `sessionize_events`; note the
    boundary difference — native windows CLOSE at exactly gap distance
    (strict overlap merge), which the oracle mirrors with ``>=``.

    Scale: one shuffle on user_id; Spark merges sessions inside each
    sorted partition (MergingSessionsExec), the same operator the
    streaming form uses with watermark state eviction."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@_spec(
    "listagg_customers_per_priority",
    """
    WITH top_cust AS (
        SELECT o_orderpriority AS priority, CAST(o_custkey AS VARCHAR) AS cust,
               count(*) AS n_orders,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY count(*) DESC, CAST(o_custkey AS VARCHAR)) AS rk
        FROM orders
        GROUP BY 1, 2
    )
    SELECT priority,
           string_agg(cust, ',' ORDER BY rk) AS top_customers,
           CAST(sum(n_orders) AS BIGINT) AS covered_orders
    FROM top_cust
    WHERE rk <= 5
    GROUP BY priority
    """,
)
def listagg_customers_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg with deterministic ordering: the five
    busiest customers per priority, concatenated busiest-first (ties by
    customer key rendered as text).  Spark has no ordered string_agg — the row-local
    equivalent is ``sort_array(collect_list(struct(rank, clerk)))`` →
    transform → ``concat_ws``, which reassembles the ordered list
    WITHOUT a global sort.

    Scale: the (priority, customer) pre-aggregation bounds everything
    downstream to O(priorities × customers); one shuffle serves the
    window and the final per-priority fold."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("priority").orderBy(
        F.col("n_orders").desc(), F.col("cust")
    )
    per_cust = (
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_custkey").cast("string").alias("cust"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )
    return per_cust.groupBy("priority").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list(F.struct("rk", "cust"))),
                lambda s: s["cust"],
            ),
        ).alias("top_customers"),
        F.sum("n_orders").alias("covered_orders"),
    )


_ROLLING_SQL = """
    WITH daily AS (
        SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
               COUNT(*) AS n
        FROM orders GROUP BY 1, 2
    )
    SELECT priority, day, CAST(n AS BIGINT) AS n,
           CAST(sum(n) OVER (PARTITION BY priority ORDER BY day
                RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_7day
    FROM daily
"""


@_spec("rolling_7day_order_counts", _ROLLING_SQL)
def rolling_7day_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-aware rolling window: per-priority 7-day trailing order
    counts via a RANGE BETWEEN INTERVAL frame (time-based, not row-based
    — gaps in the calendar shrink the frame, which a ROWS frame gets
    wrong).  The identical SQL text runs on both engines.

    Scale: one shuffle on priority serves the daily rollup re-use and
    the window; the frame is bounded by value, so state per partition is
    O(days in 7-day horizon)."""
    register_views(spark, sf_dir)
    return spark.sql(_ROLLING_SQL)


@_spec(
    "latest_order_per_customer",
    """
    SELECT o_custkey, o_orderkey AS latest_orderkey,
           CAST(o_orderdate AS DATE) AS latest_orderdate,
           CAST(o_totalprice AS DOUBLE) AS latest_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicate-to-latest (the CDC/upsert compaction shape): one row
    per customer, their most recent order, ties broken by key.  DuckDB
    states it as QUALIFY; Spark as a window + filter — same plan
    (WindowGroupLimit pushes the rank-1 cut below the full sort).

    Scale: one shuffle on the entity key; per-partition state is the
    running top-1, not the history."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.to_date("o_orderdate").alias("latest_orderdate"),
            F.col("o_totalprice").cast("double").alias("latest_totalprice"),
        )
    )


@_spec(
    "rank_distribution_showcase",
    """
    SELECT o_orderkey, o_orderpriority,
           CAST(RANK() OVER w AS INTEGER) AS price_rank,
           CAST(DENSE_RANK() OVER w AS INTEGER) AS price_dense_rank,
           PERCENT_RANK() OVER w AS price_pct_rank,
           CUME_DIST() OVER w AS price_cume_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def rank_distribution_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution window family window_showcase leaves out: RANK /
    DENSE_RANK gap semantics plus PERCENT_RANK and CUME_DIST (exact
    rationals — (rank−1)/(n−1) and rows≤current/n — so the doubles are
    engine-identical).  Deterministic total order via the orderkey
    tiebreak; one shuffle on the priority key."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.percent_rank().over(w).alias("price_pct_rank"),
        F.cume_dist().over(w).alias("price_cume_dist"),
    )


@_spec(
    "conditional_distinct_customers",
    """
    SELECT o_orderpriority AS priority,
           COUNT(DISTINCT o_custkey) AS customers,
           COUNT(DISTINCT CASE WHEN o_totalprice > 200000 THEN o_custkey END)
               AS big_spenders,
           COUNT(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_custkey END)
               AS finished_customers
    FROM orders
    GROUP BY 1
    """,
)
def conditional_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional COUNT(DISTINCT) — distinct entities within a filtered
    subset (the funnel-stage audience metric): CASE WHEN inside the
    distinct makes non-matching rows NULL, which distinct-count ignores.

    Scale: three distinct aggregates over the same key → ONE Expand×3
    pass + two shuffles (the exact-multi-distinct plan `fanout_count_
    distinct` documents); approximate variants exist in the sketch
    family when exactness isn't contractual."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count_distinct("o_custkey").alias("customers"),
        F.count_distinct(
            F.when(F.col("o_totalprice") > 200000, F.col("o_custkey"))
        ).alias("big_spenders"),
        F.count_distinct(
            F.when(F.col("o_orderstatus") == "F", F.col("o_custkey"))
        ).alias("finished_customers"),
    )


@_spec(
    "modal_priority_per_segment",
    """
    WITH counts AS (
        SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
               count(*) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT segment, priority, n,
               row_number() OVER (PARTITION BY segment
                                  ORDER BY n DESC, priority) AS rk
        FROM counts
    )
    SELECT segment, priority AS modal_priority, n AS n_orders
    FROM ranked WHERE rk = 1
    """,
)
def modal_priority_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group MODE: the most common order priority per
    market segment, ties broken by priority ascending — the reducible
    formulation (count rollup + rank) rather than an engine `mode()`
    aggregate, whose tie behavior is engine-defined and would
    hash-mismatch.

    Scale: the mode never sees raw rows twice — ONE (segment, priority)
    count shuffle reduces to O(segments x priorities), and the window
    runs over that tiny table."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    counts = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("segment").orderBy(F.col("n").desc(), F.col("priority"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "segment",
            F.col("priority").alias("modal_priority"),
            F.col("n").alias("n_orders"),
        )
    )


@_spec(
    "ewma_weekly_revenue",
    """
    WITH weekly AS (
        SELECT date_trunc('week', o_orderdate) AS week,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                    AS DOUBLE) AS revenue
        FROM orders GROUP BY 1
    ),
    series AS (
        SELECT list(revenue ORDER BY week) AS xs,
               list(week ORDER BY week) AS weeks
        FROM weekly
    ),
    folded AS (
        SELECT weeks,
               list_reduce(
                   list_transform(xs, x -> [x]),
                   (acc, x) -> list_append(acc, 0.7 * acc[-1] + 0.3 * x[1])
               ) AS emas
        FROM series
    )
    SELECT weeks[i] AS week,
           round(emas[i], 4) AS ema_revenue
    FROM folded, (SELECT unnest(range(1, 10000)) AS i) idx
    WHERE i <= len(weeks)
    """,
)
def ewma_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of weekly revenue
    (alpha = 0.3) — the trend-smoothing every ops dashboard runs, built
    RECURSION-FREE: the weekly series (already reduced to O(weeks)
    rows) collects into one array and a single LINEAR accumulating fold
    computes every EMA value in order on BOTH engines, so the doubles
    are bit-identical (windowed SUM-of-powers formulations are not —
    segment-tree window aggregation reorders float adds).

    Scale: the corpus-sized work is the one map-side-combined weekly
    rollup; the fold touches O(weeks) values in a single driver-sized
    row."""
    weekly = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("week")
        )
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue")
        )
    )
    series = weekly.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("week"), F.col("revenue")))
        ).alias("s")
    ).select(
        F.transform(F.col("s"), lambda r: r["week"]).alias("weeks"),
        F.transform(F.col("s"), lambda r: r["revenue"]).alias("xs"),
    )
    emas = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.slice(F.col("xs"), 1, 1),
        lambda acc, x: F.concat(
            acc, F.array(F.element_at(acc, -1) * 0.7 + x * 0.3)
        ),
    )
    return (
        series.select(
            F.posexplode(F.arrays_zip(F.col("weeks"), emas.alias("ema")))
            .alias("i", "z")
        )
        .select(
            F.col("z.weeks").alias("week"),
            F.round(F.col("z.ema"), 4).alias("ema_revenue"),
        )
    )


@_spec(
    "brand_price_mad_outliers",
    """
    WITH med AS (
        SELECT p_brand,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY p_retailprice)
                   AS med
        FROM part GROUP BY 1
    ),
    dev AS (
        SELECT p.p_brand, p.p_retailprice, m.med,
               abs(p.p_retailprice - m.med) AS adev
        FROM part p JOIN med m USING (p_brand)
    ),
    mad AS (
        SELECT p_brand,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
        FROM dev GROUP BY 1
    )
    SELECT d.p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           max(d.med) AS median_price,
           max(m.mad) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (p_brand)
    GROUP BY 1
    """,
)
def brand_price_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per brand: median absolute deviation
    (the robust sigma — one wild price cannot move it, unlike stddev)
    with a 3-MAD outlier count.  Both medians are PERCENTILE_DISC —
    actual data values, no interpolation — so the whole statistic is
    bit-identical across engines.

    Scale: two group-key shuffles (median, then deviation median) and
    one count pass, all on (brand)-partitioned data; the medians need
    group locality, which the same shuffle provides."""
    part = table(spark, sf_dir, "part")
    part.createOrReplaceTempView("_mad_part")
    return spark.sql(
        """
        WITH med AS (
            SELECT p_brand,
                   percentile_disc(0.5) WITHIN GROUP (ORDER BY p_retailprice)
                       AS med
            FROM _mad_part GROUP BY 1
        ),
        dev AS (
            SELECT p.p_brand, p.p_retailprice, m.med,
                   abs(p.p_retailprice - m.med) AS adev
            FROM _mad_part p JOIN med m USING (p_brand)
        ),
        mad AS (
            SELECT p_brand,
                   percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
            FROM dev GROUP BY 1
        )
        SELECT d.p_brand AS brand,
               COUNT(*) AS n_parts,
               max(d.med) AS median_price,
               max(m.mad) AS mad,
               SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS n_outliers
        FROM dev d JOIN mad m USING (p_brand)
        GROUP BY 1
        """
    )


@_spec(
    "longest_order_streaks",
    """
    WITH days AS (
        SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
        FROM orders
    ),
    grp AS (
        SELECT o_custkey, d,
               d - CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY d)
                        AS INTEGER) AS anchor
        FROM days
    ),
    streaks AS (
        SELECT o_custkey, count(*) AS len, min(d) AS streak_start
        FROM grp GROUP BY o_custkey, anchor
    ),
    best AS (
        SELECT o_custkey, len, streak_start,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY len DESC, streak_start) AS rk
        FROM streaks
    )
    SELECT o_custkey AS custkey,
           CAST(len AS BIGINT) AS longest_streak_days,
           streak_start
    FROM best WHERE rk = 1
    """,
)
def longest_order_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each customer's longest run of CONSECUTIVE
    ordering days, via the classic date-minus-row_number
    anchor — consecutive dates share an anchor, so islands fall out of
    one GROUP BY.  Complements `customer_order_gaps` (the gaps side).

    Scale: one custkey shuffle serves the distinct, both windows, and
    the island rollup (same partitioning throughout); integer/date
    arithmetic only — nothing float to diverge."""
    days = (
        table(spark, sf_dir, "orders")
        .select("o_custkey", F.col("o_orderdate").cast("date").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("d")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = grp.groupBy("o_custkey", "anchor").agg(
        F.count(F.lit(1)).alias("len"), F.min("d").alias("streak_start")
    )
    wb = Window.partitionBy("o_custkey").orderBy(
        F.col("len").desc(), F.col("streak_start")
    )
    return (
        streaks.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("len").alias("longest_streak_days"),
            "streak_start",
        )
    )
