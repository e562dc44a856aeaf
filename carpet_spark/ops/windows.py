"""Category F — window functions (SURVEY.md §2.F).

All windows partition by ``o_custkey`` and order by
``o_totalprice DESC, o_orderkey`` — the unique tie-break key is mandatory
(SURVEY §7.4.2): rank/lag/frames over ties are engine-dependent otherwise.

Scale notes: a window = one shuffle on the partition key, then a
per-partition sort.  Partition count = |custkeys| (bounded, well-spread);
no window here is unpartitioned (an ORDER BY over the whole table would
serialize through one task — avoided).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..exprs import fp_scaled_long, fp_split_sum_of, lsum
from ..registry import register
from ..tables import load

_ORDER_SQL = "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey"


def _win():
    return Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )


@register(
    "win_rank",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice,
           RANK() OVER ({_ORDER_SQL}) AS rnk,
           DENSE_RANK() OVER ({_ORDER_SQL}) AS drnk,
           ROW_NUMBER() OVER ({_ORDER_SQL}) AS rn
    FROM orders
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/row_number over (custkey, price-desc) — also the
    bench's `window_rank` query.

    Bench-plan decision, pinned by measurement (r07 VERDICT item 6): the
    bench deliberately runs THIS naive single-window plan, not the salted
    two-phase rewrite.  At 40M rows with a 50%-hot group, plain rank
    measured 3.2 s vs salted two-phase 3.7 s on local[32] (SCALE.md
    "Skew mitigation, measured"): on one host the
    straggler partition still fits a core, so the extra shuffle the
    two-phase plan adds only costs.  The §2 oracle also pins FULL rank
    output (every row, exact ties), which the salted rewrite cannot
    produce — it is a top-k pattern.  At 100 TB the switch point is
    executor memory, not wall-clock: when one custkey's partition
    approaches spill, move to `win_rank_salted` / `topk_per_group`
    (same file / ops/sorts.py), whose max task is bounded at
    n/(groups×64)."""
    o = load(spark, sf_dir, "orders")
    w = _win()
    return o.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w).alias("rn"),
    )


@register(
    "win_lag_lead",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice,
           LAG(o_totalprice, 1, -1.0) OVER ({_ORDER_SQL}) AS prev_price,
           LEAD(o_totalprice, 1, -1.0) OVER ({_ORDER_SQL}) AS next_price
    FROM orders
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead with explicit defaults via the native 3-arg form on BOTH
    engines: the default fires only PAST the partition edge — a NULL
    *value* in the neighbor row stays NULL (a COALESCE emulation would
    rewrite those too, which the NULL regime exposed)."""
    o = load(spark, sf_dir, "orders")
    w = _win()
    return o.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lag("o_totalprice", 1, -1.0).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1, -1.0).over(w).alias("next_price"),
    )


@register(
    "win_running",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                OVER ({_ORDER_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_spend,
           COUNT(*) OVER ({_ORDER_SQL}
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
    FROM orders
    """,
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum/count.  The running sum goes through decimal: a frame is
    an ordered reduction, but the driver hash compares doubles bit-wise, so
    associativity drift inside the frame must still be impossible."""
    o = load(spark, sf_dir, "orders")
    w = _win().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.sum(F.col("o_totalprice").cast("decimal(28,6)")).over(w)
        .cast("double").alias("running_spend"),
        F.count(F.lit(1)).over(w).alias("running_n"),
    )


@register(
    "win_sliding_frame",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                OVER ({_ORDER_SQL} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / COUNT(*) OVER ({_ORDER_SQL} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             AS moving_avg
    FROM orders
    """,
)
def win_sliding_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average, decimal-sum/count formulated identically on
    both sides (never the engines' own AVG — frame-internal summation order
    would differ)."""
    o = load(spark, sf_dir, "orders")
    w = _win().rowsBetween(-2, 0)
    return o.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        (
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("moving_avg"),
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                      RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS near_spend
    FROM orders
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame: sum of orders within 1000 below the current
    price.  RANGE frames include ALL ties of the boundary value, so the
    result is deterministic without a tie-break key."""
    o = load(spark, sf_dir, "orders")
    # double-typed RANGE bounds need the SQL window form (the Python
    # Window.rangeBetween API only takes long offsets)
    return o.selectExpr(
        "o_orderkey", "o_custkey", "o_totalprice",
        """CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                      RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS near_spend""",
    )


@register(
    "win_ntile_pct",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice,
           NTILE(4) OVER ({_ORDER_SQL}) AS quartile,
           ROUND(PERCENT_RANK() OVER ({_ORDER_SQL}), 6) AS pct_rank,
           ROUND(CUME_DIST() OVER ({_ORDER_SQL}), 6) AS cume
    FROM orders
    """,
)
def win_ntile_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/percent_rank/cume_dist; the pct outputs are float ratios →
    round(6) on both sides (SURVEY §7.4.1)."""
    o = load(spark, sf_dir, "orders")
    w = _win()
    return o.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "win_first_last",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice,
           FIRST_VALUE(o_orderkey) OVER ({_ORDER_SQL}
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS biggest_order,
           LAST_VALUE(o_orderkey) OVER ({_ORDER_SQL}
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS smallest_order
    FROM orders
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last over the explicit full frame (default frame for LAST_VALUE
    stops at CURRENT ROW — the classic trap; both sides use the full frame)."""
    o = load(spark, sf_dir, "orders")
    w = _win().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.first("o_orderkey").over(w).alias("biggest_order"),
        F.last("o_orderkey").over(w).alias("smallest_order"),
    )


@register(
    "win_pct_change",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           round((o_totalprice - lag(o_totalprice) OVER w)
                 / lag(o_totalprice) OVER w, 6) AS pct_change
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """,
)
def win_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period change: each order's total price vs the
    customer's previous order (NULL for the first).  Ordered by the unique
    o_orderkey (SURVEY §7.4 rule 2); the division is plain IEEE double on
    identical inputs in both engines, rounded to 6dp on both sides.

    Scale: single window pass, one shuffle on o_custkey — the same
    partitioning every per-customer analytic reuses."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.round((F.col("o_totalprice") - prev) / prev, 6).alias("pct_change"),
    )


@register(
    "win_rank_salted",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rnk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             RANK() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders
    )
    WHERE rnk <= 3
    """,
)
def win_rank_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened rank<=k: `win_rank`'s consumer pattern ("top 3 orders
    per customer"), two-phase salted so no reducer ever owns a whole
    customer (r02 VERDICT item 6 — same trick as sorts.py::topk_per_group).

    Phase 1 ranks within (custkey, salt-of-16) and keeps <=3 rows per salt
    bucket; phase 2 re-ranks the <=48 survivors per customer.  Exactness:
    the (o_totalprice DESC, o_orderkey ASC) ordering is tie-free, so
    rank == row_number, and any row in a customer's true top-3 is in its
    salt bucket's top-3 (ranking over a subset can only improve a row's
    rank).  Phase 2's rank therefore equals the unsalted rank for every
    surviving row.

    Scale: a hot customer (bot traffic, house account) makes the naive
    single-window plan funnel that customer's entire history through one
    reducer task — the straggler/OOM shape at 100 TB.  Here phase 1's max
    task is 1/16th of the hot key (tunable), and phase 2 sees <=48 rows
    per customer REGARDLESS of table size.  The salt is pmod(hash(unique
    key), 16) — native murmur, no string materialization (see SCALE.md's
    crc32 note)."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    order_cols = [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()]
    salted = Window.partitionBy(
        "o_custkey", F.pmod(F.hash("o_orderkey"), F.lit(16))
    ).orderBy(*order_cols)
    cand = (
        o.withColumn("srn", F.row_number().over(salted))
        .filter(F.col("srn") <= 3)
        .drop("srn")
    )
    final = Window.partitionBy("o_custkey").orderBy(*order_cols)
    return (
        cand.withColumn("rnk", F.rank().over(final))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


@register(
    "win_time_range",
    oracle="""
    SELECT event_id, user_id, ts,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW
           ) AS n_last_hour
    FROM events
    """,
)
def win_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame: per user, how many of their events fall in
    the trailing hour — the rate-limit / burst-detection window.  RANGE
    over a timestamp ORDER BY with a calendar-interval bound (SQL window
    form; the Python rangeBetween API only takes longs).  Unlike a
    tumbling window this is one frame PER EVENT, evaluated by the sliding
    frame machinery after a single shuffle on user_id."""
    ev = load(spark, sf_dir, "events")
    return ev.selectExpr(
        "event_id", "user_id", "ts",
        """COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS n_last_hour""",
    )


@register(
    "win_running_distinct",
    oracle="""
    SELECT event_id, user_id, ts,
           len(list_distinct(list(event_type)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
             AS n_types_seen
    FROM events
    """,
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count per user ("how many distinct event types has
    this user produced so far") — SQL window frames cannot take
    COUNT(DISTINCT ...), so the idiom is size(collect_set() OVER frame),
    which Catalyst evaluates as a per-frame set accumulator.  DuckDB
    mirrors it with len(list_distinct(list() OVER ...)).

    Scale: one shuffle on user_id + per-partition sort (the standard
    window shape); set state per frame is bounded by |event types| (8
    here), NOT by frame length, so memory stays constant even for
    million-event users."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", "ts",
        F.size(F.collect_set("event_type").over(w)).alias("n_types_seen"),
    )


@register(
    "win_rolling_median",
    oracle="""
    SELECT user_id, event_id,
           round(quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med5
    FROM events
    WHERE user_id % 25 = 0
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median over the trailing-5 frame per user — the
    robust-smoothing companion to the rolling mean (spike-immune trend
    lines, sensor denoising).  Spark's `percentile` aggregate is window-
    capable, and its linear-interpolation semantics match DuckDB's
    quantile_cont bit-for-bit on the shared frame (same verification as
    agg_percentile, SURVEY §2.E); both sides round to 6dp.

    Scale (100 TB): one hashpartitioning(user_id) exchange; the frame
    buffers only 5 values per position, so memory is O(frame) not
    O(partition).  Exact windowed percentile re-sorts the frame per row
    (O(k log k) each, k=5 — trivial); for frames of thousands, switch
    to the two-heap streaming-median mapInPandas pattern instead.
    The %25 user filter bounds driver-collected output; it pushes to
    the parquet scan."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    return ev.filter(F.col("user_id") % 25 == 0).select(
        "user_id",
        "event_id",
        F.round(F.percentile("value", F.lit(0.5)).over(w), 6).alias("med5"),
    )


@register(
    "win_year_over_year",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(CAST(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT))
                  AS DOUBLE) / 1000000 AS DOUBLE) AS revenue
      FROM orders
      GROUP BY 1
    )
    SELECT CAST(month AS DATE) AS month, revenue,
           round(revenue / (LAG(revenue, 12) OVER (ORDER BY month)) - 1.0,
                 6) AS yoy_pct
    FROM monthly
    """,
)
def win_year_over_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth: monthly revenue with the same-month-last-
    year comparison via LAG(12) over the month spine — the standard BI
    trend query.  The first twelve months have no prior-year partner and
    correctly report NULL (never 0 — a 0 would read as 'flat').

    Determinism: monthly revenue is a fixed-point long sum (exprs.lsum)
    so both engines divide IDENTICAL doubles; the ratio is rounded, not
    the operands.  LAG(12) assumes a dense month spine — true for this
    fixture; a sparse calendar needs a generated spine (ts_gapfill's
    approach) or a range-based self-join.

    Scale (100 TB): the heavy work is the |months|-key aggregate with
    map-side partials (billions of orders in, ≤ a few hundred rows
    out); the unpartitioned LAG window runs over that bounded month
    spine in one task — a non-issue at any fact-table size, same
    argument as ts_inflight_orders."""
    o = load(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(lsum(F.col("o_totalprice")).alias("revenue"))
    )
    w = Window.orderBy("month")
    return monthly.select(
        F.col("month").cast("date").alias("month"),
        "revenue",
        F.round(F.col("revenue") / F.lag("revenue", 12).over(w) - 1.0, 6).alias(
            "yoy_pct"
        ),
    )


@register(
    "win_ytd_cumulative",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('year', o_orderdate) AS DATE) AS yr,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(CAST(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT))
                  AS DOUBLE) / 1000000 AS DOUBLE) AS revenue
      FROM orders
      GROUP BY 1, 2
    )
    SELECT yr, month, revenue,
           SUM(revenue) OVER (PARTITION BY yr ORDER BY month
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS ytd_revenue
    FROM monthly
    """,
)
def win_ytd_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-to-date running revenue: monthly totals with a cumulative sum
    that RESETS each January (window partitioned by year) — the YTD pane
    of every finance dashboard, and the companion to win_year_over_year's
    cross-year comparison.

    Determinism: monthly values are fixed-point sums (exact multiples of
    1e-6 — exprs.lsum), and every YTD prefix sum of those stays inside
    double's exact-integer range at this magnitude, so both engines'
    left-to-right frame accumulation is bit-equal without rounding.

    Scale (100 TB): the fact scan collapses to |months| rows map-side;
    the window partitions by year (≤ decades of partitions, 12 rows
    each) — trivially parallel, no global sort, no skew possible."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("year", "o_orderdate").cast("date").alias("yr"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(lsum(F.col("o_totalprice")).alias("revenue"))
    w = (
        Window.partitionBy("yr")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return monthly.select(
        "yr", "month", "revenue", F.sum("revenue").over(w).alias("ytd_revenue")
    )


@register(
    "win_share_of_total",
    oracle="""
    WITH nation_rev AS (
      SELECT n.n_regionkey AS regionkey, n.n_name AS nation,
             CAST(CAST(SUM(CAST(ROUND(o.o_totalprice * 1000000) AS BIGINT))
                  AS DOUBLE) / 1000000 AS DOUBLE) AS revenue
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    )
    SELECT regionkey, nation, revenue,
           round(revenue / SUM(revenue) OVER (PARTITION BY regionkey), 6)
             AS share_of_region,
           round(revenue / SUM(revenue) OVER (), 6) AS share_of_total
    FROM nation_rev
    """,
)
def win_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total decomposition: each nation's revenue as a fraction
    of its region and of the world — the percent-of-parent column every
    BI drilldown shows next to the raw number.  Computed with window
    sums over the AGGREGATED nation table (25 rows), so the two extra
    'totals' cost nothing; the denominators are sums of exact
    fixed-point values, making the ratios bit-identical before the
    final rounding.

    Scale (100 TB): the heavy lifting is the fact aggregate (customer
    broadcast onto orders, |nations| output); the unpartitioned total
    window runs over 25 rows — the bounded-axis argument again.  Never
    compute shares by re-joining the fact table against its own
    aggregate: the window over the small result is free."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    nation_rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_regionkey").alias("regionkey"),
            F.col("n_name").alias("nation"),
        )
        .agg(lsum(F.col("o_totalprice")).alias("revenue"))
    )
    w_region = Window.partitionBy("regionkey")
    w_all = Window.partitionBy()
    return nation_rev.select(
        "regionkey",
        "nation",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w_region), 6).alias(
            "share_of_region"
        ),
        F.round(F.col("revenue") / F.sum("revenue").over(w_all), 6).alias(
            "share_of_total"
        ),
    )


@register(
    "win_drawdown",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             CAST(CAST(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT))
                  AS DOUBLE) / 1000000 AS DOUBLE) AS v
      FROM orders
      GROUP BY 1
    ),
    cum AS (
      SELECT d, SUM(v) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS equity
      FROM daily
    ),
    dd AS (
      SELECT d, equity,
             MAX(equity) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS peak
      FROM cum
    )
    SELECT COUNT(*) AS n_days,
           round(MAX(peak - equity), 6) AS max_drawdown,
           round(MAX(CASE WHEN peak > 0
                          THEN (peak - equity) / peak ELSE 0 END), 6)
             AS max_drawdown_pct
    FROM dd
    """,
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily-revenue curve: the
    largest peak-to-trough fall, absolute and as a fraction of the peak
    — finance's standard worst-case-decline metric, equally useful on
    any cumulative KPI ('how far below our best have we slipped').
    Two stacked running windows (cumsum, then running max) and a
    single-row reduction.

    Determinism: daily values are fixed-point (exprs.lsum) and every
    prefix sum stays in double's exact-integer range at this magnitude
    (win_ytd_cumulative's argument), so peak−equity is bit-identical
    before the final rounding.

    Scale (100 TB): facts collapse to the |days| spine map-side; both
    running windows traverse that bounded axis in one task — the
    ts_inflight_orders argument.  Per-portfolio drawdowns partition the
    same plan by key."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(lsum(F.col("o_totalprice")).alias("v"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select("d", F.sum("v").over(w).alias("equity"))
    dd = cum.select(
        "d", "equity", F.max("equity").over(w).alias("peak")
    )
    fall = F.col("peak") - F.col("equity")
    return dd.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.max(fall), 6).alias("max_drawdown"),
        F.round(
            F.max(
                F.when(F.col("peak") > 0, fall / F.col("peak")).otherwise(0.0)
            ),
            6,
        ).alias("max_drawdown_pct"),
    )


@register(
    "win_cross_sectional_zscore",
    oracle="""
    WITH cust AS (
      SELECT c.c_nationkey,
             o.o_custkey,
             CAST(CAST(SUM(CAST(ROUND(o.o_totalprice * 1000000) AS BIGINT))
                  AS DOUBLE) / 1000000 AS DOUBLE) AS rev
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    z AS (
      SELECT c_nationkey, o_custkey, rev,
             (rev - AVG(rev) OVER (PARTITION BY c_nationkey))
               / NULLIF(STDDEV_SAMP(rev) OVER (PARTITION BY c_nationkey), 0)
               AS zs
      FROM cust
    )
    SELECT c_nationkey, o_custkey, round(zs, 6) AS z
    FROM z
    WHERE abs(zs) >= 2.0
    """,
)
def win_cross_sectional_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional z-scores: each customer's revenue standardized
    against their NATION's peer distribution, surfacing the ≥2σ
    deviants — the relative-standing screen ('big for Brazil' means
    something different than 'big globally') behind peer benchmarking
    and per-market outlier review; ts_zscore_outliers is the
    same statistic along time instead of across peers.

    Determinism: per-customer revenue is fixed-point; both engines
    standardize identical doubles over identical partitions and the
    ±2σ cut compares unrounded values in both.

    Scale (100 TB): the fact table collapses to |customers| rows, then
    ONE hashpartitioning(nation) window computes mean and std together;
    the deviant filter returns a short list.  Per-(nation, segment)
    peers = the same window with a wider key."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(lsum(F.col("o_totalprice")).alias("rev"))
    )
    w = Window.partitionBy("c_nationkey")
    # NULLIF guard (degenerate sweep): a constant peer group has sd = 0 —
    # z is NULL on both sides, so no deviant flags on a flat cross-section.
    zs = (F.col("rev") - F.avg("rev").over(w)) / F.nullif(
        F.stddev_samp("rev").over(w), F.lit(0.0)
    )
    return (
        cust.select("c_nationkey", "o_custkey", zs.alias("zs"))
        .filter(F.abs(F.col("zs")) >= 2.0)
        .select("c_nationkey", "o_custkey", F.round("zs", 6).alias("z"))
    )


@register(
    "win_rolling_regression_slope",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01',
                      CAST(date_trunc('day', ts) AS DATE)) AS x,
             CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
               AS y6
      FROM events GROUP BY 1, 2
    ),
    sums AS (
      SELECT event_type, x, y6,
             COUNT(*) OVER w AS n,
             CAST(SUM(x) OVER w AS BIGINT) AS sx,
             CAST(SUM(y6) OVER w AS BIGINT) AS sy,
             CAST(SUM(x * y6) OVER w AS BIGINT) AS sxy,
             CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY x
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, x, round(y6 / 1000000.0, 6) AS daily_value,
           CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0
                THEN round((n * sxy - sx * sy)
                           / ((n * sxx - sx * sx) * 1000000.0), 6)
           END AS slope14
    FROM sums
    """,
)
def win_rolling_regression_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 14-day OLS slope per series — ts_trend_ols fits ONE
    line per series; this fits a line per DAY over the trailing
    window, the local-trend signal momentum dashboards and adaptive
    alerting use (slope sign flips mark inflection days).  Computed
    from the closed-form normal equations over window sums where
    every sum is an exact fixed-point integer (y in 1e-6 units, x a
    day index): numerator and denominator are exact on both engines
    and only the final division is float, rounded at 6 dp.  Warm-up
    rows with n<2 emit NULL.  The daily rollup and the y-sums run on
    the hi/lo split (exact decimal merge), so no long-sum bound binds;
    x-sums stay long (day indexes are tiny).

    Scale (100 TB): daily rollup map-side combines to |series|×|days|
    rows; the five window sums share one (series)-partitioned frame
    over that tiny table — no per-event window, no second shuffle."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("x"),
    ).agg(
        # (series, day) cells sum scale-proportional event slices —
        # hi/lo split (the docstring's "decimal accumulators beyond",
        # implemented); the 14-row window sums below run over decimals
        # and are exact by themselves
        fp_split_sum_of(
            fp_scaled_long(F.col("value"), 1_000_000)
        ).alias("y6")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(-13, 0)
    )
    sums = daily.select(
        "event_type",
        "x",
        "y6",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum("y6").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y6")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return sums.select(
        "event_type",
        "x",
        F.round(F.col("y6") / 1000000.0, 6).alias("daily_value"),
        F.when(
            (F.col("n") >= 2) & (den != 0),
            F.round(num / (den * 1000000.0), 6),
        ).alias("slope14"),
    )


@register(
    "win_weighted_moving_average",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(SUM(CAST(ROUND("value" * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT d, cents,
             LAG(cents, 1) OVER (ORDER BY d) AS c1,
             LAG(cents, 2) OVER (ORDER BY d) AS c2,
             LAG(cents, 3) OVER (ORDER BY d) AS c3,
             LAG(cents, 4) OVER (ORDER BY d) AS c4
      FROM daily
    )
    SELECT d, cents,
           round((5 * cents + 4 * c1 + 3 * c2 + 2 * c3 + 1 * c4)
                 / 15.0 / 100.0, 6) AS wma5
    FROM lagged WHERE c4 IS NOT NULL
    """,
)
def win_weighted_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly-weighted 5-day moving average of daily event revenue —
    the smoother traders call WMA: recency-weighted (5,4,3,2,1)/15, so
    it reacts ~2x faster than the plain mean win_sliding_frame computes
    and has none of ts_ewma's infinite tail.  Positional weights have
    no native frame form, so the window is an explicit literal-offset
    LAG chain (both engines require literal lag offsets); the weighted
    numerator stays an exact integer and divides once at the end.
    Partial windows are dropped (c4 IS NOT NULL) rather than
    renormalized — the choice that keeps the first days honest.

    Scale (100 TB): facts collapse to the |days| axis first; the lag
    chain is one window pass over that bounded series (range-partition
    the sort for multi-year spines; per-key series parallelize freely
    when a partition key is added)."""
    ev = load(spark, sf_dir, "events")
    cents = (
        F.signum("value") * ((F.abs(F.col("value")) * 100 + 0.5).cast("long"))
    ).cast("long")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.sum(cents).cast("long").alias("cents"))
    w = Window.orderBy("d")
    lagged = daily.select(
        "d",
        "cents",
        F.lag("cents", 1).over(w).alias("c1"),
        F.lag("cents", 2).over(w).alias("c2"),
        F.lag("cents", 3).over(w).alias("c3"),
        F.lag("cents", 4).over(w).alias("c4"),
    )
    num = (
        5 * F.col("cents")
        + 4 * F.col("c1")
        + 3 * F.col("c2")
        + 2 * F.col("c3")
        + 1 * F.col("c4")
    )
    return lagged.filter(F.col("c4").isNotNull()).select(
        "d",
        "cents",
        F.round(num / F.lit(15.0) / F.lit(100.0), 6).alias("wma5"),
    )


@register(
    "win_rolling_skewness",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(ROUND(SUM(CAST(ROUND("value" * 100) AS BIGINT)) / 100.0)
                  AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    win AS (
      SELECT d, v,
             CAST(SUM(v) OVER w AS BIGINT) AS s1,
             SUM(CAST(v AS HUGEINT) * v) OVER w AS s2,
             SUM(CAST(v AS HUGEINT) * v * v) OVER w AS s3,
             COUNT(*) OVER w AS n
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT d,
           round((CAST(s3 AS DOUBLE) / 7
                  - 3 * (s1 / 7.0) * (CAST(s2 AS DOUBLE) / 7)
                  + 2 * (s1 / 7.0) * (s1 / 7.0) * (s1 / 7.0))
                 / power(CAST(s2 AS DOUBLE) / 7 - (s1 / 7.0) * (s1 / 7.0),
                         1.5), 6) AS skew7
    FROM win WHERE n = 7
    """,
)
def win_rolling_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day population skewness of daily revenue — the tail-
    asymmetry gauge that says whether recent days lean on a few
    blowouts (positive) or a few craters (negative), the third-moment
    companion to ts_bollinger_bands' second-moment envelope.  The
    window carries exact integer Σx, Σx², Σx³ — revenue is
    re-quantized to WHOLE DOLLARS first because a cents CUBE times a
    window of rows overflows 64 bits (the same wraparound family
    agg_anova_oneway documents one power lower) — and the moment
    formula m₃/σ³ runs in doubles only at the end.

    Scale (100 TB): daily collapse then one rows-frame pass over the
    bounded series; the three power sums are one shared window."""
    ev = load(spark, sf_dir, "events")
    cents = (
        F.signum("value") * ((F.abs(F.col("value")) * 100 + 0.5).cast("long"))
    ).cast("long")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(
        ((F.sum(cents).cast("double") / 100.0 + 0.5).cast("long")).alias("v")
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    # int128-class moments (extreme regime): a ~1e10-dollar day squares
    # past int64 and cubes to ~1e29 — the square and cube sums run in
    # decimal(38,0) (HUGEINT on the oracle side), doubles only at the end
    vdec = F.col("v").cast("decimal(38,0)")
    win = daily.select(
        "d",
        F.sum("v").over(w).cast("long").alias("s1"),
        F.sum(vdec * F.col("v")).over(w).alias("s2"),
        F.sum(vdec * F.col("v") * F.col("v")).over(w).alias("s3"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    m1 = F.col("s1") / F.lit(7.0)
    m2 = F.col("s2").cast("double") / 7
    m3 = F.col("s3").cast("double") / 7
    return win.filter(F.col("n") == 7).select(
        "d",
        F.round(
            (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
            / F.pow(m2 - m1 * m1, 1.5),
            6,
        ).alias("skew7"),
    )


@register(
    "win_gap_to_leader",
    oracle="""
    WITH per AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT seg, o_custkey, cents,
             MAX(cents) OVER (PARTITION BY seg) AS leader_cents,
             RANK() OVER (PARTITION BY seg ORDER BY cents DESC) AS seg_rank
      FROM per
    )
    SELECT seg, o_custkey, cents, seg_rank,
           CAST(leader_cents - cents AS BIGINT) AS gap_cents,
           round(cents * 1.0 / leader_cents, 6) AS pct_of_leader
    FROM ranked WHERE o_custkey % 50 = 0
    """,
)
def win_gap_to_leader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-to-leader: every customer's revenue against their segment's
    best, as absolute cents behind, share of leader, and rank — the
    dashboard framing ('62% of the way to #1') that plain ranks
    (win_rank) and shares of total (win_share_of_total) both miss
    because the reference point is the MAX, not the sum.  One
    partition's window computes max and rank off the same sort;
    integer gaps, one ratio.

    Scale (100 TB): per-customer rollup, then a single
    hashpartitioning(seg) window — the exchange is on the bounded
    segment axis; skewed segments salt exactly like win_rank_salted
    documents."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cents = (
        F.signum("o_totalprice") * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    per = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    wseg = Window.partitionBy("seg")
    wrank = Window.partitionBy("seg").orderBy(F.col("cents").desc())
    ranked = per.select(
        "seg",
        "o_custkey",
        "cents",
        F.max("cents").over(wseg).alias("leader_cents"),
        F.rank().over(wrank).alias("seg_rank"),
    )
    return ranked.filter(F.col("o_custkey") % 50 == 0).select(
        "seg",
        "o_custkey",
        "cents",
        "seg_rank",
        (F.col("leader_cents") - F.col("cents")).cast("long").alias("gap_cents"),
        F.round(F.col("cents") * F.lit(1.0) / F.col("leader_cents"), 6).alias(
            "pct_of_leader"
        ),
    )


@register(
    "win_session_position",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE THEN 0
                  ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM flagged
    ),
    pos AS (
      SELECT user_id, event_id, event_type, session_id,
             ROW_NUMBER() OVER ws AS pos,
             CAST(COUNT(*) OVER (PARTITION BY user_id, session_id) AS BIGINT)
               AS sess_len
      FROM numbered
      WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id, event_type, session_id, pos, sess_len,
           CASE WHEN sess_len = 1 THEN 'only'
                WHEN pos = 1 THEN 'first'
                WHEN pos = sess_len THEN 'last'
                ELSE 'middle' END AS pos_class
    FROM pos
    """,
)
def win_session_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event's position within its 30-minute-gap session — ordinal,
    session length, and the first/middle/last/only class — the base
    table for entry/exit-page analysis and bounce attribution
    (agg_bounce_rate summarizes; this op exposes the per-event labels).
    Reuses ts_sessionize's gaps-and-islands session ids, then one more
    window pass partitioned by (user, session).

    Scale (100 TB): all three windows and the position pass share ONE
    hashpartitioning(user_id) exchange (the finer (user, session)
    partition is a subdivision of it — Spark reuses the exchange);
    per-partition sorts are user-local."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = (
        F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
        <= 1_800_000_000
    )
    numbered = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.sum(F.when(gap_ok, 0).otherwise(1))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("session_id"),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    pos = numbered.select(
        "user_id", "event_id", "event_type", "session_id",
        F.row_number().over(ws).alias("pos"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id", "session_id"))
        .cast("long")
        .alias("sess_len"),
    )
    return pos.select(
        "user_id", "event_id", "event_type", "session_id", "pos", "sess_len",
        F.when(F.col("sess_len") == 1, "only")
        .when(F.col("pos") == 1, "first")
        .when(F.col("pos") == F.col("sess_len"), "last")
        .otherwise("middle")
        .alias("pos_class"),
    )


@register(
    "win_views_per_purchase",
    oracle="""
    WITH seg AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(COALESCE(
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS seg_id
      FROM events
    ),
    purchases AS (
      SELECT user_id, event_id, seg_id FROM seg WHERE event_type = 'purchase'
    ),
    counts AS (
      SELECT user_id, seg_id,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_views,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_clicks
      FROM seg WHERE event_type <> 'purchase'
      GROUP BY user_id, seg_id
    )
    SELECT p.user_id, p.event_id AS purchase_event_id,
           COALESCE(c.n_views, 0) AS views_before,
           COALESCE(c.n_clicks, 0) AS clicks_before
    FROM purchases p
    LEFT JOIN counts c ON c.user_id = p.user_id AND c.seg_id = p.seg_id
    """,
)
def win_views_per_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Browsing depth per conversion: for every purchase, the number of
    views and clicks the user made SINCE their previous purchase — the
    per-conversion engagement-cost metric behind 'how much browsing does
    a sale take' (conversion_lag_stats measures time-to-convert; this op
    measures actions-to-convert).  Gaps-and-islands: a prefix count of
    PRIOR purchases segments each user's timeline; non-purchase events
    aggregate per segment and join back to the purchase that closes it
    (purchases with an empty preceding segment report 0 via the left
    join).

    Scale (100 TB): the window, the segment aggregate, and the join all
    key on user_id — one hashpartitioning reused end-to-end; segment
    counts combine map-side."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(w)
        .cast("long")
        .alias("seg_id"),
    ).withColumn("seg_id", F.coalesce(F.col("seg_id"), F.lit(0).cast("long")))
    purchases = seg.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_event_id"), "seg_id"
    )
    counts = (
        seg.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", "seg_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("n_views"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("n_clicks"),
        )
    )
    return purchases.join(counts, ["user_id", "seg_id"], "left").select(
        "user_id", "purchase_event_id",
        F.coalesce("n_views", F.lit(0).cast("long")).alias("views_before"),
        F.coalesce("n_clicks", F.lit(0).cast("long")).alias("clicks_before"),
    )
