"""Product-analytics operators over the events table — funnels and
retention cohorts, the two queries every behavioral warehouse runs daily.

Scale design: both ops are compositions of per-user aggregates joined on
the SAME hashpartitioning(user_id), so Catalyst reuses one exchange across
the chain; final rollups shuffle |stages| or |cohort weeks| rows.
Determinism: stage times are MIN(timestamp) under explicit >= ordering
constraints (identical formulation both engines — no window-order
tie-break needed because min() is order-free); week bucketing uses
date_trunc('week'), which both engines anchor to Monday.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..exprs import fp_scaled_long, fp_split_sum_of, fp_split_sum_over
from ..registry import register
from ..tables import load

_FUNNEL_STAGES = ("signup", "view", "click", "purchase")


def _funnel_user_times(ev: DataFrame, deadline_days: int | None = None) -> DataFrame:
    """Single-shuffle funnel recursion shared by funnel_conversion /
    agg_funnel_stage_latency / agg_window_funnel_strict (r11 optimization,
    guide §2.4 "remove shuffles outright" + §2.3 "aggregate before you
    shuffle"): one row per user_id holding the earliest-qualifying stage
    times t1..t4.

    The previous formulation was the literal relational recursion — each
    stage a filtered scan of events re-joined to the previous stage and
    re-aggregated — which re-read events once per stage and planned 13-30
    Exchanges per op (counts from the r11 plans/audit dump, since removed
    from the repo: funnel_conversion 17, agg_funnel_stage_latency 24,
    agg_window_funnel_strict 30).  But every stage only needs the ONE
    user's events, so the whole recursion
    collapses to a single groupBy(user_id): collect the user's non-signup
    funnel events, then evaluate each stage as an in-memory array
    reduction — t_k = array_min(ts of events with type k, ts >= t_{k-1}
    [, ts <= t1 + deadline]) — exactly the relational MIN-under->=
    definition, per row.  Result: ONE scan of events and ONE wide
    exchange (the groupBy) for the whole chain, 3-4 Exchanges per op.

    Oracle-equivalence notes (the subtle NULL semantics the join chain
    had, mirrored deliberately — re-proven by the hash parity gate):

    - a NULL user_id group exists in stage 1 (SQL GROUP BY groups NULLs)
      but can never reach stage 2+ (the oracle's equi-join on user_id
      drops NULLs), so t2 is masked NULL for the NULL-user row — t3/t4
      then cascade to NULL through their ts >= t2 predicate;
    - a user whose every signup ts is NULL still OWNS a stage-1 row
      (GROUP BY over rows, MIN(ts) = NULL) — hence has_s1 is a row-count
      flag, independent of t1's NULL-ness — and can never reach stage 2
      (ts >= NULL is never TRUE);
    - NULL-ts events of later stages are dropped by the same predicate
      inside the array filter, exactly as the oracle's join condition
      drops them.

    Memory: the per-user array holds that user's view/click/purchase
    events only (signups fold into min() during the aggregate) — the
    per-user-bounded state every sessionization op in this engine
    already assumes (stream_session, join_asof); no all-users state
    anywhere."""
    first = _FUNNEL_STAGES[0]
    per = (
        ev.select("user_id", "ts", "event_type")
        .filter(F.col("event_type").isin(*_FUNNEL_STAGES))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == first, F.lit(1)).otherwise(F.lit(0))
            ).alias("has_s1"),
            F.min(F.when(F.col("event_type") == first, F.col("ts"))).alias("t1"),
            F.collect_list(
                F.when(
                    F.col("event_type") != first,
                    F.struct(
                        F.col("ts").alias("ts"), F.col("event_type").alias("et")
                    ),
                )
            ).alias("evs"),
        )
    )
    deadline = (
        F.col("t1") + F.expr(f"INTERVAL {deadline_days} DAY")
        if deadline_days is not None
        else None
    )
    def _stage_pred(etype, lo):
        # the returned lambda must take exactly ONE positional arg —
        # PySpark dispatches higher-order-function arity off the
        # callable's signature
        def pred(s):
            ok = (s["et"] == F.lit(etype)) & (s["ts"] >= lo)
            if deadline is not None:
                ok = ok & (s["ts"] <= deadline)
            return ok

        return pred

    out = per
    prev = "t1"
    for i, etype in enumerate(_FUNNEL_STAGES[1:], start=2):
        t = F.array_min(
            F.transform(
                F.filter(F.col("evs"), _stage_pred(etype, F.col(prev))),
                lambda s: s["ts"],
            )
        )
        if i == 2:
            # oracle join on user_id never matches NULL: stage 2+ is
            # unreachable for the NULL-user group (cascades to t3/t4)
            t = F.when(F.col("user_id").isNotNull(), t)
        out = out.withColumn(f"t{i}", t)
        prev = f"t{i}"
    return out.drop("evs")


@register(
    "funnel_conversion",
    oracle="""
    WITH t1 AS (
      SELECT user_id, MIN(ts) AS ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, MIN(e.ts) AS ts
      FROM events e JOIN t1 ON e.user_id = t1.user_id AND e.ts >= t1.ts
      WHERE e.event_type = 'view' GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, MIN(e.ts) AS ts
      FROM events e JOIN t2 ON e.user_id = t2.user_id AND e.ts >= t2.ts
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    t4 AS (
      SELECT e.user_id, MIN(e.ts) AS ts
      FROM events e JOIN t3 ON e.user_id = t3.user_id AND e.ts >= t3.ts
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT 1 AS stage_idx, 'signup' AS stage, COUNT(*) AS n_users FROM t1
    UNION ALL
    SELECT 2, 'view', COUNT(*) FROM t2
    UNION ALL
    SELECT 3, 'click', COUNT(*) FROM t3
    UNION ALL
    SELECT 4, 'purchase', COUNT(*) FROM t4
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: how many users signed up, then VIEWED at-or-after
    their first signup, then CLICKED at-or-after that view, then PURCHASED
    — each stage's time is the earliest qualifying event after the
    previous stage's time (the standard greedy funnel, which maximizes
    progression).

    Scale (r11 optimization, guide §2.4): one scan of events and one
    groupBy(user_id) compute all four stage times at once
    (_funnel_user_times); the old stage-chained join plan re-read
    events 4x and planned 17 Exchanges, the rewrite plans 2 (the
    user_id groupBy + the single-row global count) — before/after in
    plans/r11/.  Stage counts are then four sums over one tiny
    aggregate row, exploded to the 4-row report."""
    ev = load(spark, sf_dir, "events")
    per = _funnel_user_times(ev)
    agg = per.agg(
        # count of stage-1 GROUPS (≥1 signup row, even all-NULL-ts) —
        # coalesce so an empty events table still reports 0, like the
        # oracle's COUNT(*) over an empty CTE
        F.coalesce(F.sum("has_s1"), F.lit(0).cast("long")).alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
        F.count("t4").alias("n4"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage_idx"),
                F.lit(etype).alias("stage"),
                F.col(f"n{i}").alias("n_users"),
            )
            for i, etype in enumerate(_FUNNEL_STAGES, start=1)
        ]
    )
    return agg.select(F.explode(stages).alias("r")).select("r.*")


@register(
    "retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             date_diff('week', f.cohort_week, date_trunc('week', e.ts))
               AS week_offset
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_offset, COUNT(*) AS n_users
    FROM activity
    GROUP BY cohort_week, week_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-seen week
    (cohort), counted once per later week they were active — the classic
    cohort-retention matrix behind every growth dashboard.

    Week arithmetic is integer on both sides: date_trunc('week') anchors
    Monday in Spark and DuckDB, and the offset is whole weeks between
    truncated dates (no fractional-day drift).  Scale: one agg for first
    touch, one distinct per (user, week) — both on the user_id
    partitioning — then a |cohorts|x|weeks| rollup (tiny)."""
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")).cast("date"),
                           F.col("cohort_week"))
                / 7
            ).cast("long").alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@register(
    "ab_welch_ttest",
    oracle="""
    WITH s AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS sxx
      FROM events
      WHERE event_type IN ('click', 'view')
      GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n, sx / n AS mean,
             (sxx - sx * sx / n) / (n - 1) AS var
      FROM s
    )
    SELECT a.n AS n_a, b.n AS n_b,
           ROUND(a.mean, 6) AS mean_a, ROUND(b.mean, 6) AS mean_b,
           ROUND((a.mean - b.mean)
                 / sqrt(a.var / a.n + b.var / b.n), 6) AS t_stat,
           ROUND(pow(a.var / a.n + b.var / b.n, 2)
                 / (pow(a.var / a.n, 2) / (a.n - 1)
                    + pow(b.var / b.n, 2) / (b.n - 1)), 2) AS df_welch
    FROM (SELECT * FROM m WHERE event_type = 'click') a
    CROSS JOIN (SELECT * FROM m WHERE event_type = 'view') b
    """,
)
def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event populations
    ('click' vs 'view' values) — the A/B-experiment readout: t statistic
    and Welch–Satterthwaite degrees of freedom from nothing but mergeable
    per-group (n, Σx, Σx²) partials.

    That mergeability IS the scale story: each variant reduces to three
    numbers via one 2-phase aggregate over any data size, and the test
    itself is driver-trivial arithmetic on a 2-row result.  Sums go
    through decimal so the hash is bit-stable; the final float arithmetic
    is formulated identically on both sides and rounded (6dp stat, 2dp
    df)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    dec = lambda c: F.sum(c.cast("decimal(28,6)")).cast("double")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dec(F.col("value")).alias("sx"),
        dec(F.col("value") * F.col("value")).alias("sxx"),
    )
    m = s.select(
        "event_type",
        "n",
        (F.col("sx") / F.col("n")).alias("mean"),
        ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias("var"),
    )
    a = m.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"), F.col("var").alias("var_a")
    )
    b = m.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"), F.col("var").alias("var_b")
    )
    se2_a = F.col("var_a") / F.col("n_a")
    se2_b = F.col("var_b") / F.col("n_b")
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round(
            (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2_a + se2_b), 6
        ).alias("t_stat"),
        F.round(
            F.pow(se2_a + se2_b, 2)
            / (
                F.pow(se2_a, 2) / (F.col("n_a") - 1)
                + F.pow(se2_b, 2) / (F.col("n_b") - 1)
            ),
            2,
        ).alias("df_welch"),
    )


@register(
    "win_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    islands AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS island
      FROM days
    ),
    streaks AS (
      SELECT user_id, island, COUNT(*) AS len,
             MIN(d) AS streak_start, MAX(d) AS streak_end
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id, len AS longest_streak, streak_start, streak_end
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY len DESC, streak_start ASC) AS rn
      FROM streaks
    ) WHERE rn = 1
    """,
)
def win_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (gaps-and-islands
    on calendar days — the engagement metric next to retention).  Distinct
    active days per user, then the classic island key ``day -
    row_number`` (consecutive days share it), then the longest island;
    ties broken by earliest start.

    Unlike ts_sessionize (event-time gap windows) this is CALENDAR
    arithmetic: date minus an integer row number, exact on both engines.
    Scale: everything keys on user_id — distinct, two windows, and the
    final pick share one hashpartitioning; state per user is bounded by
    |active days|."""
    ev = load(spark, sf_dir, "events")
    from pyspark.sql import Window

    days = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    wd = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn(
        "island", F.date_sub("d", F.row_number().over(wd))
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("d").alias("streak_start"),
        F.max("d").alias("streak_end"),
    )
    wpick = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("streak_start").asc()
    )
    return (
        streaks.withColumn("rn", F.row_number().over(wpick))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").alias("longest_streak"),
            "streak_start",
            "streak_end",
        )
    )


@register(
    "basket_pair_counts",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey % 50 AS item
      FROM lineitem
    )
    SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_baskets
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.item < b.item
    GROUP BY a.item, b.item
    HAVING COUNT(*) >= 5
    """,
)
def basket_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair support: how many orders contain both item A and
    item B (parts bucketed to 50 categories so pairs repeat at fixture
    scale) — the support-counting core of association-rule mining.

    Scale: the pair generation is a SELF-JOIN ON THE BASKET KEY, so work
    per order is C(items_in_order, 2) — bounded by basket size (TPC-H
    orders hold <=7 lines), never corpus-quadratic; both sides and the
    final count share hashpartitioning(l_orderkey)/then (item_a,item_b).
    The support threshold (>=5) prunes the long tail before output, the
    same role min-support plays in Apriori/FP-growth."""
    li = load(spark, sf_dir, "lineitem")
    items = li.select(
        "l_orderkey", (F.col("l_partkey") % 50).alias("item")
    ).distinct()
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .filter(F.col("n_baskets") >= 5)
    )


@register(
    "conversion_lag_stats",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS purchase_ts
      FROM events e JOIN s ON e.user_id = s.user_id AND e.ts >= s.signup_ts
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    lags AS (
      SELECT s.user_id,
             date_diff('second', s.signup_ts, p.purchase_ts) AS lag_sec
      FROM s JOIN p ON s.user_id = p.user_id
    )
    SELECT COUNT(*) AS n_converted,
           CAST(SUM(lag_sec) AS BIGINT) AS total_lag_sec,
           MIN(lag_sec) AS min_lag_sec,
           MAX(lag_sec) AS max_lag_sec,
           CAST(round(quantile_cont(lag_sec, 0.5), 0) AS BIGINT) AS p50_lag_sec
    FROM lags
    """,
)
def conversion_lag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: seconds from a user's first signup to
    their first at-or-after purchase — count, total, min/max, and median
    lag.  The growth-team metric between funnel (did they convert) and
    retention (did they stay).

    Lags are integer seconds (exact on both engines); the median is exact
    percentile over the converted-user set (bounded: one row per user —
    the agg_percentile scale note applies).  All joins/aggs key on
    user_id; the final stats row is a single global aggregate of
    |converted users| rows."""
    ev = load(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    lags = s.join(p, "user_id").select(
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("signup_ts")
        ).alias("lag_sec")
    )
    return lags.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.sum("lag_sec").alias("total_lag_sec"),
        F.min("lag_sec").alias("min_lag_sec"),
        F.max("lag_sec").alias("max_lag_sec"),
        F.round(F.percentile("lag_sec", F.lit(0.5)), 0)
        .cast("long")
        .alias("p50_lag_sec"),
    )


@register(
    "rfm_segments",
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             MAX(CAST(o_orderdate AS DATE)) AS last_order,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           datediff('day', last_order, DATE '1998-12-31') AS recency_days,
           frequency, monetary,
           NTILE(5) OVER (ORDER BY datediff('day', last_order, DATE '1998-12-31') ASC,
                          o_custkey ASC) AS r_score,
           NTILE(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
           NTILE(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_score
    FROM m
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency / frequency / monetary quintile scores
    per customer, the classic CRM base table (quintile 1 = most recent /
    most frequent / highest spend under these orderings).

    Scale caveat, stated honestly: NTILE over the full customer set is a
    GLOBAL window (single ordering).  Spark executes it as one task after
    a range-free sort — correct but serialized, which is why the 100 TB
    variant replaces ntile with percentile-threshold bucketing
    (approx_percentile cutpoints + CASE, distributed; agg_approx_percentile
    is the building block).  The op keeps ntile because it is the exact,
    engine-parity formulation; custkey tie-breaks make all three
    orderings total.  Monetary sums in decimal (hash-stable)."""
    o = load(spark, sf_dir, "orders")
    from pyspark.sql import Window

    m = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double").alias("monetary"),
    )
    recency = F.datediff(F.lit("1998-12-31").cast("date"), F.col("last_order"))
    wr = Window.orderBy(recency.asc(), F.col("o_custkey").asc())
    wf = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc())
    wm = Window.orderBy(F.col("monetary").desc(), F.col("o_custkey").asc())
    return m.select(
        "o_custkey",
        recency.alias("recency_days"),
        "frequency",
        "monetary",
        F.ntile(5).over(wr).alias("r_score"),
        F.ntile(5).over(wf).alias("f_score"),
        F.ntile(5).over(wm).alias("m_score"),
    )


@register(
    "feature_quantile_bucketize",
    oracle="""
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice, 0.2) AS c1,
             quantile_cont(o_totalprice, 0.4) AS c2,
             quantile_cont(o_totalprice, 0.6) AS c3,
             quantile_cont(o_totalprice, 0.8) AS c4
      FROM orders
    )
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_totalprice <= c1 THEN 1
                WHEN o_totalprice <= c2 THEN 2
                WHEN o_totalprice <= c3 THEN 3
                WHEN o_totalprice <= c4 THEN 4
                ELSE 5 END AS bucket
    FROM orders CROSS JOIN cuts
    """,
)
def feature_quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile bucketing the DISTRIBUTED way — the scale replacement for
    a global NTILE window (rfm_segments' documented caveat): compute the
    4 quintile cutpoints as ONE aggregate, broadcast the 1-row cutpoint
    table, and assign buckets with a narrow CASE projection.  No global
    sort, no single-reducer window — data any size flows through a
    map-only scan plus a 4-number broadcast.

    Differences vs ntile, stated: ties around a cutpoint all land in one
    bucket (ntile splits them to equalize counts), so bucket sizes are
    approximately-equal rather than exactly-equal — the trade every
    production feature pipeline accepts.  Exact percentile here for
    oracle parity; swap in approx_percentile at 100 TB (sketch-mergeable,
    same broadcast shape)."""
    o = load(spark, sf_dir, "orders")
    cuts = o.agg(
        *[
            F.percentile("o_totalprice", F.lit(q)).alias(f"c{i}")
            for i, q in enumerate((0.2, 0.4, 0.6, 0.8), start=1)
        ]
    )
    bucket = (
        F.when(F.col("o_totalprice") <= F.col("c1"), 1)
        .when(F.col("o_totalprice") <= F.col("c2"), 2)
        .when(F.col("o_totalprice") <= F.col("c3"), 3)
        .when(F.col("o_totalprice") <= F.col("c4"), 4)
        .otherwise(5)
    )
    return o.crossJoin(F.broadcast(cuts)).select(
        "o_orderkey", "o_totalprice", bucket.alias("bucket")
    )


@register(
    "geo_haversine_radius",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             (('0x' || substr(md5('lat|' || c_custkey), 1, 8))::BIGINT
              / 4294967295.0) * 160.0 - 80.0 AS lat,
             (('0x' || substr(md5('lon|' || c_custkey), 1, 8))::BIGINT
              / 4294967295.0) * 360.0 - 180.0 AS lon
      FROM customer
    )
    SELECT c_custkey,
           ROUND(lat, 6) AS lat, ROUND(lon, 6) AS lon,
           ROUND(2.0 * 6371.0 * asin(sqrt(
             pow(sin(radians(lat - 40.7128) / 2.0), 2)
             + cos(radians(40.7128)) * cos(radians(lat))
               * pow(sin(radians(lon - (-74.0060)) / 2.0), 2)
           )), 2) AS km_to_nyc
    FROM pts
    WHERE 2.0 * 6371.0 * asin(sqrt(
            pow(sin(radians(lat - 40.7128) / 2.0), 2)
            + cos(radians(40.7128)) * cos(radians(lat))
              * pow(sin(radians(lon - (-74.0060)) / 2.0), 2)
          )) <= 5000.0
    """,
)
def geo_haversine_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo radius query without a geo library: haversine great-circle
    distance to a reference point (NYC) with a 5000 km radius filter —
    the store-locator / delivery-zone shape, all in builtin trig that
    whole-stage codegen compiles.  Coordinates are derived
    deterministically from the customer key (the fixture has no geo
    columns), so both engines compute identical doubles; distance rounds
    to 2 dp (asin/sin/cos are libm-vs-Java ulp territory).

    Scale: pure narrow projection + filter.  The real 100 TB geo join
    (points x polygons / points x points) adds a geohash-prefix equi join
    for candidates — the same bucket-then-verify pattern as ops/ann.py —
    before this exact verify step."""
    c = load(spark, sf_dir, "customer")

    def unit(prefix: str):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix + "|"), F.col("c_custkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long") / F.lit(4294967295.0)

    lat = unit("lat") * 160.0 - 80.0
    lon = unit("lon") * 360.0 - 180.0
    dlat = F.radians(lat - 40.7128) / 2.0
    dlon = F.radians(lon - F.lit(-74.0060)) / 2.0
    h = (
        F.pow(F.sin(dlat), 2)
        + F.cos(F.radians(F.lit(40.7128))) * F.cos(F.radians(lat)) * F.pow(F.sin(dlon), 2)
    )
    km = 2.0 * 6371.0 * F.asin(F.sqrt(h))
    return (
        c.select(
            "c_custkey",
            F.round(lat, 6).alias("lat"),
            F.round(lon, 6).alias("lon"),
            F.round(km, 2).alias("km_to_nyc"),
            km.alias("_km_raw"),
        )
        .filter(F.col("_km_raw") <= 5000.0)
        .drop("_km_raw")
    )


_GEO_CELL_DEG = 5.0  # ~550 km at the equator; >= the 500 km radius


@register(
    "geo_cell_join_radius",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             (('0x' || substr(md5('lat|' || c_custkey), 1, 8))::BIGINT
              / 4294967295.0) * 160.0 - 80.0 AS lat,
             (('0x' || substr(md5('lon|' || c_custkey), 1, 8))::BIGINT
              / 4294967295.0) * 360.0 - 180.0 AS lon
      FROM customer WHERE c_custkey < 600
    ),
    cells AS (
      SELECT *, CAST(FLOOR((lat + 90.0) / 5.0) AS BIGINT) AS cy,
                CAST(FLOOR((lon + 180.0) / 5.0) AS BIGINT) AS cx
      FROM pts
    ),
    probes AS (
      SELECT c.*, (c.cy + dy) * 72 + ((c.cx + dx + 72) % 72) AS nkey
      FROM cells c,
           LATERAL (SELECT unnest(range(-1, 2)) AS dy),
           LATERAL (SELECT unnest(range(-1, 2)) AS dx)
    )
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           ROUND(2.0 * 6371.0 * asin(sqrt(
             pow(sin(radians(b.lat - a.lat) / 2.0), 2)
             + cos(radians(a.lat)) * cos(radians(b.lat))
               * pow(sin(radians(b.lon - a.lon) / 2.0), 2)
           )), 2) AS km
    FROM probes a
    JOIN cells b ON a.nkey = b.cy * 72 + b.cx AND a.c_custkey < b.c_custkey
    WHERE 2.0 * 6371.0 * asin(sqrt(
            pow(sin(radians(b.lat - a.lat) / 2.0), 2)
            + cos(radians(a.lat)) * cos(radians(b.lat))
              * pow(sin(radians(b.lon - a.lon) / 2.0), 2)
          )) <= 500.0
    """,
)
def geo_cell_join_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius SELF-join the scalable way: all customer pairs within
    500 km, with candidates from a 5-degree grid-cell equi join (each
    point probes its 3x3 cell neighborhood; longitude cells wrap mod 72)
    and an exact haversine verify — the geo instance of the
    bucket-then-verify pattern (ops/ann.py's banded join, llm.py's LSH).
    Never an all-pairs cross join: candidate volume is
    sum-over-cells(|cell| x |3x3 neighborhood|), which at any scale is
    bounded by local density, not corpus size.

    Known simplification, stated: a 5-degree LONGITUDE cell narrows
    toward the poles, so the 3x3 probe can miss pairs above ~|lat| 85
    whose great-circle distance crosses many cells — production grids use
    latitude-banded cell widths (geohash/S2/H3); the bounded-subset
    (c_custkey < 600) keeps the exact verify cheap at fixture scale.
    Distances round to 2 dp (libm trig)."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 600)

    def unit(prefix: str):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix + "|"), F.col("c_custkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long") / F.lit(4294967295.0)

    pts = c.select(
        "c_custkey",
        (unit("lat") * 160.0 - 80.0).alias("lat"),
        (unit("lon") * 360.0 - 180.0).alias("lon"),
    )
    cells = pts.withColumn(
        "cy", F.floor((F.col("lat") + 90.0) / _GEO_CELL_DEG)
    ).withColumn("cx", F.floor((F.col("lon") + 180.0) / _GEO_CELL_DEG))
    offsets = F.expr(
        "explode(flatten(transform(sequence(-1,1), dy -> "
        "transform(sequence(-1,1), dx -> struct(dy, dx)))))"
    )
    probes = cells.select("*", offsets.alias("o")).select(
        F.col("c_custkey").alias("cust_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        ((F.col("cy") + F.col("o.dy")) * 72
         + F.pmod(F.col("cx") + F.col("o.dx") + 72, F.lit(72))).alias("nkey"),
    )
    base = cells.select(
        F.col("c_custkey").alias("cust_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        (F.col("cy") * 72 + F.col("cx")).alias("bkey"),
    )
    cand = probes.join(
        base,
        (F.col("nkey") == F.col("bkey")) & (F.col("cust_a") < F.col("cust_b")),
    )
    dlat = F.radians(F.col("lat_b") - F.col("lat_a")) / 2.0
    dlon = F.radians(F.col("lon_b") - F.col("lon_a")) / 2.0
    km = 2.0 * 6371.0 * F.asin(
        F.sqrt(
            F.pow(F.sin(dlat), 2)
            + F.cos(F.radians("lat_a")) * F.cos(F.radians("lat_b")) * F.pow(F.sin(dlon), 2)
        )
    )
    return (
        cand.withColumn("km_raw", km)
        .filter(F.col("km_raw") <= 500.0)
        .select("cust_a", "cust_b", F.round("km_raw", 2).alias("km"))
    )


_PARETO_BUCKETS = 8


def _pareto_oracle() -> str:
    qs = ", ".join(
        f"quantile_cont(rev, {i / _PARETO_BUCKETS}) AS q{i}"
        for i in range(1, _PARETO_BUCKETS)
    )
    # bucket 1 holds the HIGHEST revenues: rev >= q7 -> 1, ... else 8
    cases = " ".join(
        f"WHEN rev >= q{_PARETO_BUCKETS - b} THEN {b}"
        for b in range(1, _PARETO_BUCKETS)
    )
    return f"""
    WITH r AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS rev
      FROM orders GROUP BY o_custkey
    ),
    cuts AS (SELECT {qs} FROM r),
    b AS (
      SELECT o_custkey, rev, CASE {cases} ELSE {_PARETO_BUCKETS} END AS bucket
      FROM r CROSS JOIN cuts
    ),
    tot AS (SELECT CAST(SUM(CAST(rev AS DECIMAL(28,6))) AS DOUBLE) AS total FROM r)
    SELECT o_custkey, rev, bucket,
           ROUND(CAST(SUM(CAST(rev AS DECIMAL(28,6)))
                      OVER (ORDER BY rev DESC, o_custkey ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / total, 6) AS cum_share
    FROM b CROSS JOIN tot
    """


@register("dist_cumulative_share", oracle=_pareto_oracle())
def dist_cumulative_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / cumulative-revenue-share curve ("the top X% of customers
    drive Y% of revenue") computed as a DISTRIBUTED PREFIX SUM — the
    textbook replacement for the global cumulative window that would
    otherwise serialize every row through one task:

      1. quantile cutpoints split customers into revenue-range buckets
         (one aggregate, broadcast — feature_quantile_bucketize's shape);
      2. per-bucket totals cumsum over the BUCKET axis (8 rows) into a
         broadcast per-bucket offset;
      3. each bucket cumsums ITS OWN rows in parallel (window partitioned
         by bucket) and adds its offset.

    The result equals the global window exactly — the oracle IS the
    single-window formulation — because bucket ranges follow the same
    (rev DESC, custkey) total order and every accumulation runs in
    decimal (order-exact), converting to double only at the final
    divide.  At 100 TB: step 1 swaps to approx_percentile, bucket count
    scales to ~2-3x cores, and no task ever sees more than one bucket's
    rows."""
    o = load(spark, sf_dir, "orders")
    from pyspark.sql import Window

    r = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double").alias("rev")
    )
    cuts = r.agg(
        *[
            F.percentile("rev", F.lit(i / _PARETO_BUCKETS)).alias(f"q{i}")
            for i in range(1, _PARETO_BUCKETS)
        ]
    )
    bucket = F
    expr = None
    for b in range(1, _PARETO_BUCKETS):
        cond = F.col("rev") >= F.col(f"q{_PARETO_BUCKETS - b}")
        expr = F.when(cond, b) if expr is None else expr.when(cond, b)
    bucket = expr.otherwise(_PARETO_BUCKETS)
    bkt = r.crossJoin(F.broadcast(cuts)).select(
        "o_custkey", "rev", bucket.alias("bucket")
    )
    dec = F.col("rev").cast("decimal(28,6)")
    per_bucket = bkt.groupBy("bucket").agg(F.sum(dec).alias("bsum"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "bucket",
        F.coalesce(F.sum("bsum").over(wb), F.lit(0).cast("decimal(28,6)")).alias(
            "offset"
        ),
    )
    total = bkt.agg(F.sum(dec).cast("double").alias("total"))
    win = Window.partitionBy("bucket").orderBy(
        F.col("rev").desc(), F.col("o_custkey").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        bkt.join(F.broadcast(offsets), "bucket")
        .crossJoin(F.broadcast(total))
        .select(
            "o_custkey",
            "rev",
            "bucket",
            F.round(
                (F.col("offset") + F.sum(dec).over(win)).cast("double")
                / F.col("total"),
                6,
            ).alias("cum_share"),
        )
    )


@register(
    "attribution_last_touch",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('view', 'click') THEN event_type
                  END AS touch_ch,
             CASE WHEN event_type = 'purchase' THEN value END AS conv_value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
      FROM events
    ),
    attributed AS (
      SELECT is_conv, conv_value, ts,
             LAST_VALUE(touch_ch IGNORE NULLS) OVER w AS last_ch,
             LAST_VALUE(CASE WHEN touch_ch IS NOT NULL THEN ts END
                        IGNORE NULLS) OVER w AS last_ts
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_conv, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT
      CASE WHEN last_ch IS NOT NULL
                AND ts <= last_ts + INTERVAL 7 DAY THEN last_ch
           ELSE 'unattributed' END AS channel,
      COUNT(*) AS n_conversions,
      CAST(CAST(SUM(CAST(ROUND(conv_value * 1000000) AS BIGINT)) AS DOUBLE)
           / 1000000 AS DOUBLE) AS revenue
    FROM attributed
    WHERE is_conv = 1
    GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to the
    user's most recent view/click touch within a 7-day lookback, else
    'unattributed' — the default revenue-attribution report of every
    growth team.

    Algorithm: union-free — touches and conversions stay ONE stream; a
    single last_value(… IGNORE NULLS) window over (user, time) carries
    the latest touch forward onto each conversion row (the as-of-join-
    via-window trick: no join at all, so no matching-row explosion and
    no range predicate).  Ties at identical ts order touch-before-
    conversion (is_conv sort key) so same-instant touches are creditable;
    event_id makes the ordering total.  Revenue uses fixed-point long
    sums (exprs.lsum) so both engines hash bit-equal.

    Scale (100 TB): one hashpartitioning(user_id) exchange for the
    window, then a |channels|-key aggregate with map-side partials — the
    join-based formulation would shuffle touches AND conversions and
    explode on users with many touches; this plan is one pass, linear,
    and the 7-day check is a post-window scalar filter."""
    from ..exprs import lsum

    ev = load(spark, sf_dir, "events")
    et = F.col("event_type")
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(et.isin("view", "click"), et).alias("touch_ch"),
        F.when(et == "purchase", F.col("value")).alias("conv_value"),
        F.when(et == "purchase", 1).otherwise(0).alias("is_conv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_conv", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    att = tagged.select(
        "is_conv",
        "conv_value",
        "ts",
        F.last("touch_ch", ignorenulls=True).over(w).alias("last_ch"),
        F.last(
            F.when(F.col("touch_ch").isNotNull(), F.col("ts")), ignorenulls=True
        ).over(w).alias("last_ts"),
    )
    channel = F.when(
        F.col("last_ch").isNotNull()
        & (F.col("ts") <= F.col("last_ts") + F.expr("INTERVAL 7 DAY")),
        F.col("last_ch"),
    ).otherwise(F.lit("unattributed"))
    return (
        att.filter(F.col("is_conv") == 1)
        .select(channel.alias("channel"), "conv_value")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            lsum(F.col("conv_value")).alias("revenue"),
        )
    )


@register(
    "agg_sequence_detect",
    oracle="""
    WITH seq AS (
      SELECT event_type, epoch_us(ts) AS us,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_purchase_us
      FROM events
      WHERE event_type IN ('error', 'purchase')
    )
    SELECT COUNT(*) AS n_errors,
           CAST(SUM(CASE WHEN next_purchase_us - us <= 3600000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
           round(SUM(CASE WHEN next_purchase_us - us <= 3600000000
                          THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS recovery_rate
    FROM seq
    WHERE event_type = 'error'
    """,
)
def agg_sequence_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence detection (the MATCH_RECOGNIZE shape): how many
    errors are followed by a purchase from the SAME user within one hour
    — error-recovery measurement, and the general template for any
    A-then-B-within-T pattern (abandon→return, alert→ack).  The forward
    scan uses min-over-the-following-frame of the conditional purchase
    timestamp, so every error learns its next purchase in ONE window pass
    — no self-join of errors against purchases (which fans out per pair
    and needs a range predicate).

    Determinism: integer microseconds (unix_micros/epoch_us — both
    engines store µs), total order (ts, event_id), and the strict
    1-FOLLOWING frame excludes a same-row match by construction.

    Scale (100 TB): the type filter pushes to the scan; one
    hashpartitioning(user_id) exchange; output is one row.  A hot user
    bounds the frame at their own event count — same bound as any
    per-entity window."""
    ev = load(spark, sf_dir, "events")
    sub = ev.filter(F.col("event_type").isin("error", "purchase"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    seq = sub.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).over(w).alias("next_purchase_us"),
    )
    errors = seq.filter(F.col("event_type") == "error")
    recovered = F.when(
        F.col("next_purchase_us") - F.col("us") <= 3600 * 1000 * 1000, 1
    ).otherwise(0)
    return errors.agg(
        F.count(F.lit(1)).alias("n_errors"),
        F.sum(recovered).cast("long").alias("n_recovered"),
        F.round(F.sum(recovered) / F.count(F.lit(1)).cast("double"), 6).alias(
            "recovery_rate"
        ),
    )


@register(
    "agg_new_vs_returning",
    oracle="""
    WITH first_day AS (
      SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS d0
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT DISTINCT e.user_id,
             CAST(date_trunc('day', e.ts) AS DATE) AS d,
             f.d0
      FROM events e JOIN first_day f ON e.user_id = f.user_id
    )
    SELECT d,
           CAST(SUM(CASE WHEN d = d0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(SUM(CASE WHEN d > d0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_returning
    FROM daily
    GROUP BY d
    """,
)
def agg_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into NEW (first-ever day) vs RETURNING —
    the growth-accounting decomposition every DAU chart needs (raw DAU
    hides whether growth is acquisition or retention).  A user counts
    once per active day; their first day is the min over all time.

    Scale (100 TB): first-touch is one user_id aggregate; the per-(user,
    day) distinct rides the SAME user_id partitioning (exchange reuse —
    the funnel_conversion argument); the final rollup is |days| keys.
    Nothing driver-side, output bounded by the calendar."""
    ev = load(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("d0")
    )
    daily = (
        ev.join(first_day, "user_id")
        .select(
            "user_id",
            F.date_trunc("day", "ts").cast("date").alias("d"),
            "d0",
        )
        .distinct()
    )
    return daily.groupBy("d").agg(
        F.sum(F.when(F.col("d") == F.col("d0"), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("d") > F.col("d0"), 1).otherwise(0))
        .cast("long")
        .alias("n_returning"),
    )


@register(
    "agg_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             event_type AS next_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n,
           round(n / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE),
                 6) AS p
    FROM pairs
    """,
)
def agg_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral Markov transition matrix: for every consecutive
    event pair within a user's timeline, count prev_type → next_type and
    row-normalize to transition probabilities — the input to journey
    clustering, next-action prediction baselines, and 'where do users go
    after an error' questions.  Consecutiveness is defined by the total
    (ts, event_id) order per user.

    Scale (100 TB): one hashpartitioning(user_id) exchange for the lag,
    then a |types|² aggregate with map-side partials; the row
    normalization is a window over the TINY aggregated matrix (≤64 rows
    here), not the fact table.  Output bounded by |types|²."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wp).cast("double"), 6).alias("p"),
    )


@register(
    "agg_top_movers_wow",
    oracle="""
    WITH weekly AS (
      SELECT event_type,
             CAST(date_trunc('week', ts) AS DATE) AS week,
             CAST(CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT))
                  AS DOUBLE) / 1000000 AS DOUBLE) AS v
      FROM events
      GROUP BY 1, 2
    ),
    deltas AS (
      SELECT event_type, week, v,
             LAG(v) OVER (PARTITION BY event_type ORDER BY week) AS prev_v
      FROM weekly
    )
    SELECT event_type, week, v, prev_v,
           round(v - prev_v, 6) AS delta,
           ROW_NUMBER() OVER (PARTITION BY week
                              ORDER BY abs(v - prev_v) DESC, event_type)
             AS mover_rank
    FROM deltas
    WHERE prev_v IS NOT NULL
    QUALIFY mover_rank <= 3
    """,
)
def agg_top_movers_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week top movers: for every week, the 3 event types whose
    total value moved the most vs the prior week — the automated
    'what changed' digest that replaces eyeballing a wall of weekly
    charts.  Two windows over the AGGREGATED weekly matrix: LAG along
    each type's timeline for the delta, then a per-week rank by
    |delta| (tie-broken by type for a total order).

    Scale (100 TB): the fact table collapses to |types|×|weeks| rows
    first (map-side partials); both windows and the rank run over that
    tiny matrix.  Output: ≤3 rows per week.  The oracle's QUALIFY is
    sugar the DataFrame side expresses as filter-after-window."""
    ev = load(spark, sf_dir, "events")
    from ..exprs import lsum

    weekly = ev.groupBy(
        "event_type",
        F.date_trunc("week", "ts").cast("date").alias("week"),
    ).agg(lsum(F.col("value")).alias("v"))
    wl = Window.partitionBy("event_type").orderBy("week")
    deltas = weekly.select(
        "event_type", "week", "v", F.lag("v").over(wl).alias("prev_v")
    ).filter(F.col("prev_v").isNotNull())
    wr = Window.partitionBy("week").orderBy(
        F.abs(F.col("v") - F.col("prev_v")).desc(), F.col("event_type")
    )
    return (
        deltas.select(
            "event_type",
            "week",
            "v",
            "prev_v",
            F.round(F.col("v") - F.col("prev_v"), 6).alias("delta"),
            F.row_number().over(wr).alias("mover_rank"),
        )
        .filter(F.col("mover_rank") <= 3)
    )


@register(
    "agg_cohort_ltv",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ),
    weekly_rev AS (
      SELECT f.cohort_week,
             date_diff('week', f.cohort_week,
                       CAST(date_trunc('week', e.ts) AS DATE)) AS week_offset,
             CAST(SUM(CAST(ROUND(e.value * 1000000) AS BIGINT)) AS BIGINT)
               AS rev6
      FROM events e
      JOIN first_seen f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    ),
    sizes AS (
      SELECT cohort_week, COUNT(*) AS cohort_users
      FROM first_seen GROUP BY cohort_week
    )
    SELECT w.cohort_week, w.week_offset, s.cohort_users,
           round(CAST(SUM(w.rev6) OVER (PARTITION BY w.cohort_week
                       ORDER BY w.week_offset
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / 1000000 / s.cohort_users, 6) AS cum_ltv_per_user
    FROM weekly_rev w JOIN sizes s ON s.cohort_week = w.cohort_week
    """,
)
def agg_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative LTV curves by signup cohort: purchase revenue per
    cohort-week accumulated over cohort age and divided by cohort size —
    the payback-period chart that decides acquisition spend
    (retention_cohorts counts the users; this op follows the money).

    Determinism: revenue accumulates as fixed-point LONGS through the
    running window (integer prefix sums — no float order sensitivity at
    all) and converts to double exactly once, at the final per-user
    division.

    Scale (100 TB): first-touch and the (cohort, offset) revenue rollup
    both ride the user_id partitioning; the running window and size
    join run over the |cohorts|×|offsets| matrix (tiny).  One fact
    scan, everything after is bounded."""
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    weekly = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            ).cast("long").alias("week_offset"),
        )
        .agg(
            # cohort-week cells are scale-proportional and the running
            # LTV window re-adds ~100 of them — exact decimal split sum
            # (window F.sum over decimals is then exact by itself)
            fp_split_sum_of(
                fp_scaled_long(F.col("value"), 1_000_000)
            ).alias("rev6")
        )
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        weekly.join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "cohort_users",
            F.round(
                F.sum("rev6").over(w).cast("double")
                / 1e6
                / F.col("cohort_users"),
                6,
            ).alias("cum_ltv_per_user"),
        )
    )


@register(
    "pipeline_training_set_features",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, event_type, value,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS s
      FROM events
    ),
    feat AS (
      SELECT event_id, event_type, value,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END)
               OVER w7 AS clicks_7d,
             COUNT(CASE WHEN event_type = 'view' THEN 1 END)
               OVER w7 AS views_7d,
             COUNT(*) OVER w7 AS events_7d
      FROM base
      WINDOW w7 AS (PARTITION BY user_id ORDER BY s
                    RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS label_event_id, value AS label_value,
           clicks_7d, views_7d, events_7d
    FROM feat
    WHERE event_type = 'purchase'
    """,
)
def pipeline_training_set_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free training-set assembly (the feature-store join): for
    every purchase (the label row), compute behavioral features from
    STRICTLY-EARLIER activity only — clicks/views/total events in the 7
    days before the purchase instant — via a per-user RANGE window
    ending at 1 second PRECEDING.  The frame boundary IS the leakage
    guard: the label row and anything simultaneous with it can never
    feed its own features (the classic train-serve skew bug is an
    inclusive boundary here).

    Scale (100 TB): ONE pass — every feature shares a single
    hashpartitioning(user_id) exchange and sort; no per-feature join
    against aggregated snapshot tables, no point-in-time join fan-out
    (join_point_in_time covers the dimension-versioned variant).  The
    RANGE frame is O(window contents) per row with Spark's sliding
    frame state; output is |purchases| rows.

    Note the RANGE key is integer epoch-seconds — both engines agree on
    FLOOR(epoch) (tables.py §ts), and integer range bounds avoid any
    interval-arithmetic ambiguity."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_timestamp("ts").alias("s"),
    )
    w7 = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(-604800, -1)
    )
    feat = base.select(
        "event_id",
        "event_type",
        "value",
        F.count(F.when(F.col("event_type") == "click", 1)).over(w7).alias(
            "clicks_7d"
        ),
        F.count(F.when(F.col("event_type") == "view", 1)).over(w7).alias(
            "views_7d"
        ),
        F.count(F.lit(1)).over(w7).alias("events_7d"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("label_event_id"),
        F.col("value").alias("label_value"),
        "clicks_7d",
        "views_7d",
        "events_7d",
    )


@register(
    "agg_user_path_topk",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             array_to_string(list(event_type ORDER BY rn), '>') AS path
      FROM ranked WHERE rn <= 3
      GROUP BY user_id
    )
    SELECT path, COUNT(*) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_users DESC, path ASC
    LIMIT 20
    """,
)
def agg_user_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey prefixes: each user's first three events (by the
    total (ts, event_id) order) concatenated into a path string, counted
    and top-20'd — the path-analysis view ('what do people actually do
    first') that funnels, which presume the stages, cannot show.

    Ordering inside the path is pinned by sorting (rn, type) structs
    before joining — collect_list order under parallel merge is
    nondeterministic, the same trap agg_collect documents.

    Scale (100 TB): the rank and the path-build share one
    hashpartitioning(user_id) exchange; rn<=3 caps state at 3 rows per
    user BEFORE the path aggregate; the final count is |distinct
    paths| keys and top-20 is a TakeOrdered, not a sort."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(20)
    )


@register(
    "agg_change_contribution",
    oracle="""
    WITH b AS (
      SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
    ),
    halves AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) <
                       (SELECT lo + (hi - lo) // 2 FROM b)
                  THEN 'p1' ELSE 'p2' END AS period,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v6
      FROM events
    ),
    per AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN period = 'p1' THEN v6 ELSE 0 END) AS BIGINT)
               AS p1_6,
             CAST(SUM(CASE WHEN period = 'p2' THEN v6 ELSE 0 END) AS BIGINT)
               AS p2_6
      FROM halves GROUP BY event_type
    ),
    tot AS (
      SELECT SUM(p2_6 - p1_6) AS tdelta6 FROM per
    )
    SELECT event_type,
           round(p1_6 / 1000000.0, 6) AS v_before,
           round(p2_6 / 1000000.0, 6) AS v_after,
           round((p2_6 - p1_6) / 1000000.0, 6) AS delta,
           -- + 0.0 canonicalizes IEEE -0.0: a zero delta over a NEGATIVE
           -- total delta rounds to -0.0 here vs 0.0 in Spark (nulls-sweep
           -- find: an all-NULL-value event_type group has delta 0)
           round((p2_6 - p1_6) / CAST((SELECT tdelta6 FROM tot) AS DOUBLE),
                 6) + 0.0 AS contribution
    FROM per
    """,
)
def agg_change_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-accounting decomposition: split the observation window in
    half and attribute the TOTAL change in value to each event type —
    contributions sum to 1, so 'revenue moved X' decomposes exactly into
    which segments drove it (the follow-up question to
    agg_top_movers_wow's 'what moved').  The split point is derived from
    the data's own midpoint, keeping the op replayable.

    Determinism: per-period sums are fixed-point longs; the midpoint is
    exact integer timestamp arithmetic; contributions divide identical
    doubles.

    Scale (100 TB): ONE scan — both periods accumulate as conditional
    sums in the same |types|-key aggregate (no two-pass, no self-join);
    the midpoint and total-delta are 1-row broadcasts."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    bounds = ev.agg(
        (
            F.min(us) + F.floor((F.max(us) - F.min(us)) / 2).cast("long")
        ).alias("mid_us")
    )
    v6 = fp_scaled_long(F.col("value"), 1_000_000)
    halves = ev.join(F.broadcast(bounds)).select(
        "event_type",
        F.when(F.unix_micros("ts") < F.col("mid_us"), "p1")
        .otherwise("p2")
        .alias("period"),
        v6.alias("v6"),
    )
    # |types| groups over ALL events — exact decimal split sums; the
    # deltas/ratios below difference exact decimals then go double at
    # the same points as the previous long arithmetic
    per = halves.groupBy("event_type").agg(
        fp_split_sum_of(
            F.when(F.col("period") == "p1", F.col("v6")).otherwise(0)
        ).alias("p1_6"),
        fp_split_sum_of(
            F.when(F.col("period") == "p2", F.col("v6")).otherwise(0)
        ).alias("p2_6"),
    )
    tot = per.agg(F.sum(F.col("p2_6") - F.col("p1_6")).alias("tdelta6"))
    return per.join(F.broadcast(tot)).select(
        "event_type",
        F.round(F.col("p1_6") / 1e6, 6).alias("v_before"),
        F.round(F.col("p2_6") / 1e6, 6).alias("v_after"),
        F.round((F.col("p2_6") - F.col("p1_6")) / 1e6, 6).alias("delta"),
        (
            F.round(
                (F.col("p2_6") - F.col("p1_6")) / F.col("tdelta6").cast("double"),
                6,
            )
            + 0.0  # canonicalize IEEE -0.0 (oracle twin)
        ).alias("contribution"),
    )


@register(
    "agg_survival_km",
    oracle="""
    WITH span AS (
      SELECT user_id,
             datediff('day', CAST(date_trunc('day', MIN(ts)) AS DATE),
                      CAST(date_trunc('day', MAX(ts)) AS DATE)) AS dur,
             CASE WHEN MAX(ts) < (SELECT MAX(ts) - INTERVAL 1 DAY
                                  FROM events)
                  THEN 1 ELSE 0 END AS churned
      FROM events GROUP BY user_id
    ),
    ev AS (
      SELECT dur, COUNT(*) AS d
      FROM span WHERE churned = 1 GROUP BY dur
    ),
    risk AS (
      SELECT e.dur, e.d,
             (SELECT COUNT(*) FROM span s WHERE s.dur >= e.dur) AS n_risk
      FROM ev e
    )
    SELECT dur AS duration_days, n_risk, d AS n_churned,
           round(exp(SUM(ln(1.0 - d / CAST(n_risk AS DOUBLE)))
                     OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)), 6) AS survival
    FROM risk
    WHERE d < n_risk
    """,
)
def agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for user lifetime: duration = days
    between a user's first and last activity; users still active in the
    final day are CENSORED (they haven't churned, they just ran out
    of observation window — the distinction naive 'average lifetime'
    math gets wrong, biasing lifetimes down).  The censoring window is
    a parameter: production churn uses weeks, but this corpus spans 30
    days with every user active into the final ~3, so a 7-day window
    made the op VACUOUSLY empty at every reachable SF and fixture (r9
    finding — the hash matched DuckDB only because both sides were
    empty); 24 h keeps real churn events in the curve at sf0.001+.
    S(t) multiplies
    (1 − dₜ/nₜ) over churn times, computed as exp(Σ ln(·)) so the
    running product is a window SUM — the standard log-space trick,
    identical in both engines and rounded at 6dp.  (Curve points where
    every remaining user churns are dropped: ln(0) — the curve is zero
    from there by definition.)

    Scale (100 TB): user spans are one user_id aggregate; the event/
    at-risk tables live on the |distinct durations| axis (≤ observation
    days), so the KM recursion is bounded-axis window work — the
    ts_inflight_orders argument.  Cohort-stratified curves partition
    the same plan."""
    ev = load(spark, sf_dir, "events")
    end = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 1 DAY")).alias("cut")
    )
    span = (
        ev.groupBy("user_id")
        .agg(
            F.datediff(
                F.date_trunc("day", F.max("ts")).cast("date"),
                F.date_trunc("day", F.min("ts")).cast("date"),
            ).alias("dur"),
            F.max("ts").alias("last_ts"),
        )
        .join(F.broadcast(end))
        .select(
            "dur",
            F.when(F.col("last_ts") < F.col("cut"), 1).otherwise(0).alias(
                "churned"
            ),
        )
    )
    evd = span.filter(F.col("churned") == 1).groupBy("dur").agg(
        F.count(F.lit(1)).alias("d")
    )
    # at-risk counts via the complement of the cumulative distribution:
    # n_risk(t) = total - #users with dur < t  (one pass, no correlated
    # subquery at scale)
    totals = span.agg(F.count(F.lit(1)).alias("n_total"))
    dur_counts = span.groupBy("dur").agg(F.count(F.lit(1)).alias("c"))
    w_prev = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk_axis = dur_counts.select(
        "dur", F.coalesce(F.sum("c").over(w_prev), F.lit(0)).alias("n_before")
    )
    risk = (
        evd.join(risk_axis, "dur")
        .join(F.broadcast(totals))
        .select(
            "dur", "d", (F.col("n_total") - F.col("n_before")).alias("n_risk")
        )
    )
    w_km = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    return (
        risk.filter(F.col("d") < F.col("n_risk"))
        .select(
            F.col("dur").alias("duration_days"),
            "n_risk",
            F.col("d").alias("n_churned"),
            F.round(
                F.exp(
                    F.sum(
                        F.log(F.lit(1.0) - F.col("d") / F.col("n_risk").cast("double"))
                    ).over(w_km)
                ),
                6,
            ).alias("survival"),
        )
    )


@register(
    "basket_lift_rules",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey % 50 AS item FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM items),
    sup AS (
      SELECT item, COUNT(*) AS c FROM items GROUP BY item
    ),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS c_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.item < b.item
      GROUP BY 1, 2
    )
    SELECT p.item_a, p.item_b, p.c_ab,
           round(p.c_ab / CAST((SELECT n_baskets FROM n) AS DOUBLE), 6)
             AS support,
           round(p.c_ab / CAST(sa.c AS DOUBLE), 6) AS confidence_a_to_b,
           round(p.c_ab * (SELECT n_baskets FROM n)
                 / (CAST(sa.c AS DOUBLE) * sb.c), 6) AS lift
    FROM pairs p
    JOIN sup sa ON sa.item = p.item_a
    JOIN sup sb ON sb.item = p.item_b
    WHERE p.c_ab >= 20
    ORDER BY lift DESC, p.item_a ASC, p.item_b ASC
    LIMIT 25
    """,
)
def basket_lift_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules with the full readout — support, confidence,
    LIFT — for the top-25 item pairs by lift (support floor 20 baskets):
    basket_pair_counts finds frequent pairs; this op answers whether the
    pairing is real affinity or just two popular items colliding (lift 1
    = independence; the distinction 'people who buy X buy Y' stories
    usually skip).  PMI (text_collocations_pmi) is ln(lift) — the same
    statistic in its NLP costume.

    Scale (100 TB): per-basket item sets dedup first; the pair join is
    keyed on the BASKET (bounded fan-out per basket: C(k,2), the basket
    size squared — cap or sample mega-baskets); item supports broadcast
    onto the support-floored pairs, and the top-25 is TakeOrdered."""
    li = load(spark, sf_dir, "lineitem")
    items = li.select(
        "l_orderkey", (F.col("l_partkey") % 50).alias("item")
    ).distinct()
    n = items.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    sup = items.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    a = items.select(F.col("l_orderkey").alias("k"), F.col("item").alias("item_a"))
    b = items.select(F.col("l_orderkey").alias("k2"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, (a.k == b.k2) & (a.item_a < b.item_b))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 20)
    )
    sa = sup.select(F.col("item").alias("item_a"), F.col("c").alias("ca"))
    sb = sup.select(F.col("item").alias("item_b"), F.col("c").alias("cb"))
    scored = (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .join(F.broadcast(n))
        .select(
            "item_a",
            "item_b",
            "c_ab",
            F.round(F.col("c_ab") / F.col("n_baskets").cast("double"), 6).alias(
                "support"
            ),
            F.round(F.col("c_ab") / F.col("ca").cast("double"), 6).alias(
                "confidence_a_to_b"
            ),
            F.round(
                F.col("c_ab")
                * F.col("n_baskets")
                / (F.col("ca").cast("double") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), F.col("item_a").asc(), F.col("item_b").asc()
    ).limit(25)


@register(
    "agg_net_revenue_retention",
    oracle="""
    WITH b AS (
      -- bounds over the PURCHASE stream, the analyzed population (the
      -- Spark side filters first) — an all-events midpoint lands on a
      -- different cut whenever the first/last event is not a purchase
      -- (boundary-regime finding)
      SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
      WHERE event_type = 'purchase'
    ),
    per AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN epoch_us(ts) <
                           (SELECT lo + (hi - lo) // 2 FROM b)
                           THEN CAST(ROUND(value * 1000000) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS p1_6,
             CAST(SUM(CASE WHEN epoch_us(ts) >=
                           (SELECT lo + (hi - lo) // 2 FROM b)
                           THEN CAST(ROUND(value * 1000000) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS p2_6
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY user_id
    )
    SELECT
      round(SUM(CASE WHEN p1_6 > 0 THEN p1_6 ELSE 0 END) / 1e6, 6)
        AS base_revenue,
      round(SUM(CASE WHEN p1_6 > 0 THEN p2_6 ELSE 0 END) / 1e6, 6)
        AS retained_revenue,
      round(SUM(CASE WHEN p1_6 > 0 THEN p2_6 ELSE 0 END)
            / NULLIF(CAST(SUM(CASE WHEN p1_6 > 0 THEN p1_6 ELSE 0 END)
                          AS DOUBLE), 0), 6) AS nrr,
      round(SUM(CASE WHEN p1_6 > 0 AND p2_6 > p1_6 THEN p2_6 - p1_6
                     ELSE 0 END) / 1e6, 6) AS expansion,
      round(SUM(CASE WHEN p1_6 > 0 AND p2_6 < p1_6 AND p2_6 > 0
                     THEN p1_6 - p2_6 ELSE 0 END) / 1e6, 6) AS contraction,
      round(SUM(CASE WHEN p1_6 > 0 AND p2_6 = 0 THEN p1_6
                     ELSE 0 END) / 1e6, 6) AS churned,
      round(SUM(CASE WHEN p1_6 = 0 AND p2_6 > 0 THEN p2_6
                     ELSE 0 END) / 1e6, 6) AS new_revenue
    FROM per
    """,
)
def agg_net_revenue_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net revenue retention with the full bridge: period-2 purchase
    revenue from period-1 customers over their period-1 base (NRR —
    the SaaS health number), decomposed into expansion, contraction,
    churned, and net-new revenue so the single ratio is explainable —
    the revenue counterpart of retention_cohorts' user counts.  Periods
    are the exact-microsecond halves of the window
    (agg_change_contribution's cutoff rule).

    Determinism: per-customer period revenues are fixed-point longs;
    every bridge term is integer comparison + integer sums, converted
    once for display.

    Scale (100 TB): ONE scan — both periods accumulate as conditional
    sums in the per-customer aggregate; the bridge is a single-row
    reduction over |customers|.  Month-over-month NRR series = the same
    plan with a month-pair grouping."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    us = F.unix_micros("ts")
    bounds = ev.agg(
        (F.min(us) + F.floor((F.max(us) - F.min(us)) / 2).cast("long")).alias(
            "mid_us"
        )
    )
    v6 = fp_scaled_long(F.col("value"), 1_000_000)
    per = (
        ev.join(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            # single-long-ok: per-user purchase partials are bounded
            # (~constant events/user at any SF ⇒ |p_6| ≪ 2^63); both sums
            F.sum(F.when(us < F.col("mid_us"), v6).otherwise(0))
            .cast("long")
            .alias("p1_6"),
            F.sum(F.when(us >= F.col("mid_us"), v6).otherwise(0))
            .cast("long")
            .alias("p2_6"),
        )
    )
    # every bridge term sums those longs over the WHOLE customer base —
    # exact decimal split sums, converted to double at the same /1e6
    # display points as before
    p1, p2 = F.col("p1_6"), F.col("p2_6")
    base = fp_split_sum_of(F.when(p1 > 0, p1).otherwise(0))
    retained = fp_split_sum_of(F.when(p1 > 0, p2).otherwise(0))
    return per.agg(
        F.round(base / 1e6, 6).alias("base_revenue"),
        F.round(retained / 1e6, 6).alias("retained_revenue"),
        # NULLIF guard (NULL-regime sweep): a window with no period-1
        # revenue zeroes the base — ANSI Spark throws, DuckDB infs;
        # NRR is undefined (NULL) with no base on both sides
        F.round(
            retained.cast("double")
            / F.nullif(base.cast("double"), F.lit(0.0)),
            6,
        ).alias("nrr"),
        F.round(
            fp_split_sum_of(F.when((p1 > 0) & (p2 > p1), p2 - p1).otherwise(0))
            / 1e6,
            6,
        ).alias("expansion"),
        F.round(
            fp_split_sum_of(
                F.when((p1 > 0) & (p2 < p1) & (p2 > 0), p1 - p2).otherwise(0)
            )
            / 1e6,
            6,
        ).alias("contraction"),
        F.round(
            fp_split_sum_of(F.when((p1 > 0) & (p2 == 0), p1).otherwise(0))
            / 1e6,
            6,
        ).alias("churned"),
        F.round(
            fp_split_sum_of(F.when((p1 == 0) & (p2 > 0), p2).otherwise(0))
            / 1e6,
            6,
        ).alias("new_revenue"),
    )


@register(
    "agg_user_active_days_hist",
    oracle="""
    WITH ad AS (
      SELECT user_id, COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE))
               AS active_days
      FROM events GROUP BY user_id
    )
    SELECT CASE WHEN active_days <= 1 THEN '1'
                WHEN active_days <= 3 THEN '2-3'
                WHEN active_days <= 7 THEN '4-7'
                WHEN active_days <= 14 THEN '8-14'
                ELSE '15+' END AS bucket,
           COUNT(*) AS n_users,
           MIN(active_days) AS min_days,
           MAX(active_days) AS max_days
    FROM ad
    GROUP BY 1
    """,
)
def agg_user_active_days_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-depth distribution: users bucketed by how many DISTINCT
    days they were active — the habit-formation histogram ('how many of
    our users actually have a habit') that complements DAU/WAU levels
    (ts_rolling_active_users) with the per-user depth dimension.

    Scale (100 TB): per-user distinct-day counts ride one
    hashpartitioning(user_id) exchange (dedup + count in the same agg);
    the bucket rollup is 5 keys map-side combined."""
    ev = load(spark, sf_dir, "events")
    ad = ev.groupBy("user_id").agg(
        F.countDistinct(F.date_trunc("day", "ts").cast("date")).alias(
            "active_days"
        )
    )
    bucket = (
        F.when(F.col("active_days") <= 1, "1")
        .when(F.col("active_days") <= 3, "2-3")
        .when(F.col("active_days") <= 7, "4-7")
        .when(F.col("active_days") <= 14, "8-14")
        .otherwise("15+")
    )
    return ad.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("active_days").alias("min_days"),
        F.max("active_days").alias("max_days"),
    )


@register(
    "agg_repeat_purchase_rate",
    oracle="""
    WITH per AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT))
                  AS BIGINT) AS rev6
      FROM orders GROUP BY o_custkey
    )
    SELECT COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat,
           round(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS repeat_rate,
           round(SUM(CASE WHEN n_orders >= 2 THEN rev6 ELSE 0 END)
                 / CAST(SUM(rev6) AS DOUBLE), 6) AS repeat_revenue_share
    FROM per
    """,
)
def agg_repeat_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase economics: the share of customers who ordered
    twice or more, and — the number that actually matters — the share of
    REVENUE those repeaters represent (repeat customers are routinely a
    minority of buyers and a majority of revenue; this op states it
    from the data instead of folklore).  Pairs with
    agg_net_revenue_retention (period bridge) and agg_cohort_ltv (the
    curve).

    Scale (100 TB): one |customers| aggregate with fixed-point revenue,
    one single-row reduction.  Nothing else."""
    o = load(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # single-long-ok: per-customer partials are bounded (~10
        # orders/customer at any SF ⇒ rev6 ≤ ~5e12 ≪ 2^63); the
        # whole-base sums below use the hi/lo split
        F.sum(
            fp_scaled_long(F.col("o_totalprice"), 1_000_000)
        ).alias("rev6"),
    )
    rep = F.col("n_orders") >= 2
    return per.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.when(rep, 1).otherwise(0)).cast("long").alias("n_repeat"),
        F.round(
            F.sum(F.when(rep, 1).otherwise(0)) / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("repeat_rate"),
        F.round(
            # revenue numerator/denominator sum per-customer longs over
            # the WHOLE base — exact decimal split sums
            fp_split_sum_of(F.when(rep, F.col("rev6")).otherwise(0)).cast(
                "double"
            )
            / fp_split_sum_of(F.col("rev6")).cast("double"),
            6,
        ).alias("repeat_revenue_share"),
    )


@register(
    "agg_price_volume_mix",
    oracle="""
    WITH half AS (
      SELECT l_returnflag,
             CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 2 END AS period,
             CAST(ROUND(l_quantity) AS BIGINT) AS q,
             l_extendedprice AS rev
      FROM lineitem
    ),
    per AS (
      SELECT l_returnflag,
             CAST(SUM(CASE WHEN period = 1 THEN q ELSE 0 END) AS BIGINT)
               AS q1,
             CAST(SUM(CASE WHEN period = 2 THEN q ELSE 0 END) AS BIGINT)
               AS q2,
             CAST(SUM(CASE WHEN period = 1
                      THEN CAST(ROUND(rev * 1000000) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS r1_6,
             CAST(SUM(CASE WHEN period = 2
                      THEN CAST(ROUND(rev * 1000000) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS r2_6
      FROM half GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(r2_6 - r1_6 AS DOUBLE) / 1e6 AS delta_revenue,
           (q2 - q1) * (r1_6 / 1e6 / NULLIF(CAST(q1 AS DOUBLE), 0)) + 0.0
             AS volume_effect,
           q2 * (r2_6 / 1e6 / NULLIF(CAST(q2 AS DOUBLE), 0)
                 - r1_6 / 1e6 / NULLIF(CAST(q1 AS DOUBLE), 0)) + 0.0
             AS price_effect
    FROM per
    """,
)
def agg_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume decomposition of revenue change between two periods
    (synthetic halves by order-key parity): Δrevenue splits exactly into
    a VOLUME effect ((q₂−q₁)·p₁ — more units at old prices) and a PRICE
    effect (q₂·(p₂−p₁) — new prices on new volume), per segment — the
    FP&A bridge that ends 'did we sell more or just charge more'
    debates, and by construction volume + price = Δ exactly (the
    identity a reviewer should check first).

    Determinism (hardened r11, near-cliff probe): quantities and
    revenues accumulate as exact integers; Δrevenue is the exact
    integer difference through one int→double division; the effects are
    emitted UNROUNDED (+0.0 normalizes negative zero) — identical IEEE
    op sequences on identical exact-integer-derived operands in both
    engines, deterministic at any magnitude, where the former
    round(x, 6) at 6.7e7-and-growing would split engines by ~sf0.7.

    Scale (100 TB): ONE scan, conditional sums per (segment, period)
    inside one aggregate — never two passes joined.  Finer mix levels
    (per SKU, rolled up) reuse the same conditional-sum shape."""
    li = load(spark, sf_dir, "lineitem")
    period1 = F.col("l_orderkey") % 2 == 0
    q = F.round("l_quantity").cast("long")
    r6 = fp_scaled_long(F.col("l_extendedprice"), 1_000_000)
    # 3 returnflag groups over ALL of lineitem: quantity sums stay long
    # (q<=50/row keeps Σ under 2^63 past 1e17 rows) but the 1e6-scaled
    # revenue sums need the exact decimal split
    per = li.groupBy("l_returnflag").agg(
        F.sum(F.when(period1, q).otherwise(0)).cast("long").alias("q1"),
        F.sum(F.when(~period1, q).otherwise(0)).cast("long").alias("q2"),
        fp_split_sum_of(F.when(period1, r6).otherwise(0)).alias("r1_6"),
        fp_split_sum_of(F.when(~period1, r6).otherwise(0)).alias("r2_6"),
    )
    # NULLIF guards (degenerate sweep): a segment with all its volume in
    # one period zeroes the other period's quantity — ANSI Spark throws,
    # DuckDB infs; both sides now agree on NULL effects.
    p1 = F.col("r1_6") / 1e6 / F.nullif(F.col("q1").cast("double"), F.lit(0.0))
    p2 = F.col("r2_6") / 1e6 / F.nullif(F.col("q2").cast("double"), F.lit(0.0))
    return per.select(
        "l_returnflag",
        (
            (F.col("r2_6") - F.col("r1_6")).cast("double") / F.lit(1e6)
        ).alias("delta_revenue"),
        ((F.col("q2") - F.col("q1")) * p1 + F.lit(0.0)).alias("volume_effect"),
        (F.col("q2") * (p2 - p1) + F.lit(0.0)).alias("price_effect"),
    )


@register(
    "ab_effect_size_cohens_d",
    oracle="""
    WITH s AS (
      SELECT event_type,
             COUNT(*) AS n,
             AVG(value) AS mean,
             VAR_SAMP(value) AS var
      FROM events
      WHERE event_type IN ('click', 'view')
      GROUP BY event_type
    )
    SELECT a.n AS n_a, b.n AS n_b,
           round(a.mean - b.mean, 6) AS mean_diff,
           round(sqrt(((a.n - 1) * a.var + (b.n - 1) * b.var)
                      / (a.n + b.n - 2)), 6) AS pooled_sd,
           round((a.mean - b.mean)
                 / sqrt(((a.n - 1) * a.var + (b.n - 1) * b.var)
                        / (a.n + b.n - 2)), 6) AS cohens_d
    FROM (SELECT * FROM s WHERE event_type = 'click') a
    CROSS JOIN (SELECT * FROM s WHERE event_type = 'view') b
    """,
)
def ab_effect_size_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size between the two experiment populations —
    the magnitude number that must accompany ab_welch_ttest's
    significance: at scale EVERYTHING is statistically significant, and
    d (~0.2 small / 0.5 medium / 0.8 large) is what says whether the
    difference is worth shipping.  Pooled-SD formulation from the same
    mergeable (n, mean, var) partials as the t-test.

    Scale (100 TB): one 2-key aggregate; the effect size is arithmetic
    on a 2-row result.  Per-segment effect sizes = the same aggregate
    with a finer key."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mean"),
        F.var_samp("value").alias("var"),
    )
    a = s.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n_a"), F.col("mean").alias("m_a"), F.col("var").alias("v_a")
    )
    b = s.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n_b"), F.col("mean").alias("m_b"), F.col("var").alias("v_b")
    )
    pooled = F.sqrt(
        ((F.col("n_a") - 1) * F.col("v_a") + (F.col("n_b") - 1) * F.col("v_b"))
        / (F.col("n_a") + F.col("n_b") - 2)
    )
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        F.round(F.col("m_a") - F.col("m_b"), 6).alias("mean_diff"),
        F.round(pooled, 6).alias("pooled_sd"),
        F.round((F.col("m_a") - F.col("m_b")) / pooled, 6).alias("cohens_d"),
    )


@register(
    "ab_sample_size_estimate",
    oracle="""
    WITH s AS (
      SELECT VAR_SAMP(value) AS var, AVG(value) AS mean
      FROM events WHERE event_type = 'view'
    )
    SELECT round(sqrt(var), 6) AS baseline_sd,
           round(mean, 6) AS baseline_mean,
           CAST(CEIL(16.0 * var / pow(mean * 0.01, 2)) AS BIGINT)
             AS n_per_arm_1pct,
           CAST(CEIL(16.0 * var / pow(mean * 0.05, 2)) AS BIGINT)
             AS n_per_arm_5pct
    FROM s
    """,
)
def ab_sample_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-experiment sample-size estimate: users per arm needed to
    detect a 1% and a 5% lift on the baseline metric, via the standard
    n ≈ 16σ²/δ² rule (80% power, α=0.05, two-sided) with σ and the
    baseline mean measured from the data — the calculation that belongs
    BEFORE launch, because an underpowered test's 'no effect' is
    indistinguishable from 'too small to see' (and the 1%-vs-5% pair
    shows the brutal 25× sample cost of chasing smaller lifts).

    Scale (100 TB): one 1-row variance aggregate; the estimate is
    driver-trivial arithmetic.  Variance-reduction techniques (CUPED)
    would shrink σ² upstream of the same formula."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    s = ev.agg(F.var_samp("value").alias("var"), F.avg("value").alias("mean"))
    n_for = lambda pct: F.ceil(
        16.0 * F.col("var") / F.pow(F.col("mean") * pct, 2)
    ).cast("long")
    return s.select(
        F.round(F.sqrt("var"), 6).alias("baseline_sd"),
        F.round("mean", 6).alias("baseline_mean"),
        n_for(0.01).alias("n_per_arm_1pct"),
        n_for(0.05).alias("n_per_arm_5pct"),
    )


@register(
    "geo_bearing_distance",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             (('0x' || substr(md5('lat|' || c_custkey), 1, 8))::BIGINT
              / 4294967295.0) * 160.0 - 80.0 AS lat,
             (('0x' || substr(md5('lon|' || c_custkey), 1, 8))::BIGINT
              / 4294967295.0) * 360.0 - 180.0 AS lon
      FROM customer WHERE c_custkey % 25 = 0
    )
    SELECT c_custkey,
           round(degrees(atan2(
             sin(radians(lon - (-74.0060))) * cos(radians(lat)),
             cos(radians(40.7128)) * sin(radians(lat))
             - sin(radians(40.7128)) * cos(radians(lat))
               * cos(radians(lon - (-74.0060)))
           )) + CASE WHEN degrees(atan2(
             sin(radians(lon - (-74.0060))) * cos(radians(lat)),
             cos(radians(40.7128)) * sin(radians(lat))
             - sin(radians(40.7128)) * cos(radians(lat))
               * cos(radians(lon - (-74.0060)))
           )) < 0 THEN 360.0 ELSE 0.0 END, 2) AS bearing_deg
    FROM pts
    """,
)
def geo_bearing_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial great-circle bearing from the NYC reference to each
    (derived) customer location, normalized to [0, 360) — the heading
    component that completes geo_haversine_radius's distance: dispatch
    and routing need 'which direction', not just 'how far'.  Standard
    forward-azimuth formula (atan2 of spherical trig), identical libm
    expressions both sides, rounded to 2 dp (the asin/atan2 ulp rule).

    Scale: pure codegen projection, no shuffle; candidate pruning for
    bearing-sector queries ('everything northeast') buckets on the
    geohash prefix first like the radius op documents."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 25 == 0)

    def unit(prefix: str):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(prefix + "|"), F.col("c_custkey").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long") / F.lit(4294967295.0)

    lat = unit("lat") * 160.0 - 80.0
    lon = unit("lon") * 360.0 - 180.0
    lat1, lon1 = F.radians(F.lit(40.7128)), F.lit(-74.0060)
    dlon = F.radians(lon - lon1)
    latr = F.radians(lat)
    theta = F.degrees(
        F.atan2(
            F.sin(dlon) * F.cos(latr),
            F.cos(lat1) * F.sin(latr) - F.sin(lat1) * F.cos(latr) * F.cos(dlon),
        )
    )
    bearing = theta + F.when(theta < 0, 360.0).otherwise(0.0)
    return c.select("c_custkey", F.round(bearing, 2).alias("bearing_deg"))


@register(
    "agg_segment_migration",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CASE WHEN o_orderkey % 2 = 0
                      THEN CAST(ROUND(o_totalprice * 1000000) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS p1_6,
             CAST(SUM(CASE WHEN o_orderkey % 2 = 1
                      THEN CAST(ROUND(o_totalprice * 1000000) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS p2_6
      FROM orders GROUP BY o_custkey
    ),
    banded AS (
      SELECT CASE WHEN p1_6 >= 500000000000 THEN 'high'
                  WHEN p1_6 >= 200000000000 THEN 'mid'
                  WHEN p1_6 > 0 THEN 'low' ELSE 'none' END AS band_from,
             CASE WHEN p2_6 >= 500000000000 THEN 'high'
                  WHEN p2_6 >= 200000000000 THEN 'mid'
                  WHEN p2_6 > 0 THEN 'low' ELSE 'none' END AS band_to
      FROM per
    )
    SELECT band_from, band_to, COUNT(*) AS n_customers,
           round(COUNT(*) / CAST(SUM(COUNT(*))
                 OVER (PARTITION BY band_from) AS DOUBLE), 6)
             AS row_share
    FROM banded
    GROUP BY band_from, band_to
    """,
)
def agg_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value-band migration matrix between the two (order-key-
    parity) periods: fixed revenue bands (high/mid/low/none — thresholds
    FIXED, never refit per period, or migration conflates customer
    movement with band movement) crossed from→to with row-normalized
    transition shares — the upgrade/downgrade/churn flow chart CRM
    reviews run quarterly; agg_transition_matrix is the same shape at
    event granularity.

    Scale (100 TB): one per-customer conditional-sum scan; the matrix
    is ≤16 cells and the normalization a window over it."""
    o = load(spark, sf_dir, "orders")
    r6 = fp_scaled_long(F.col("o_totalprice"), 1_000_000)
    p1 = F.col("o_orderkey") % 2 == 0
    per = o.groupBy("o_custkey").agg(
        # single-long-ok: per-customer partials are bounded (~10
        # orders/customer at any SF ⇒ |p_6| ≤ ~5e12 ≪ 2^63); both sums
        F.sum(F.when(p1, r6).otherwise(0)).cast("long").alias("p1_6"),
        F.sum(F.when(~p1, r6).otherwise(0)).cast("long").alias("p2_6"),
    )

    def band(c):
        return (
            F.when(F.col(c) >= 500000000000, "high")
            .when(F.col(c) >= 200000000000, "mid")
            .when(F.col(c) > 0, "low")
            .otherwise("none")
        )

    banded = per.select(
        band("p1_6").alias("band_from"), band("p2_6").alias("band_to")
    )
    w = Window.partitionBy("band_from")
    return (
        banded.groupBy("band_from", "band_to")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            "band_from",
            "band_to",
            "n_customers",
            F.round(
                F.col("n_customers")
                / F.sum("n_customers").over(w).cast("double"),
                6,
            ).alias("row_share"),
        )
    )


@register(
    "ab_two_proportion_ztest",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS variant,
             MAX(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT variant, COUNT(*) AS n,
             CAST(SUM(converted) AS BIGINT) AS x
      FROM per_user GROUP BY variant
    ),
    paired AS (
      SELECT a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b
      FROM (SELECT * FROM arms WHERE variant = 0) a
      CROSS JOIN (SELECT * FROM arms WHERE variant = 1) b
    )
    SELECT n_a, x_a, n_b, x_b,
           round(x_a / CAST(n_a AS DOUBLE), 6) AS p_a,
           round(x_b / CAST(n_b AS DOUBLE), 6) AS p_b,
           CASE WHEN x_a + x_b > 0 AND x_a + x_b < n_a + n_b
                THEN round((x_a / CAST(n_a AS DOUBLE)
                            - x_b / CAST(n_b AS DOUBLE))
                 / sqrt(((x_a + x_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 - (x_a + x_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 / n_a + 1.0 / n_b)), 6) END AS z
    FROM paired
    """,
)
def ab_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test on conversion rates — the other
    half of the experimentation toolkit next to ab_welch_ttest (which
    compares MEANS): users split into arms by id parity, per-user
    conversion = any purchase event, and the arms' rates compared with
    the pooled-variance z statistic that every A/B dashboard's
    'significant?' badge computes.  Per-user dedup first (MAX of the
    indicator) so multi-purchase users cannot double-vote; all counts
    stay integers until the three final divisions, and a degenerate
    pool (0% or 100%) emits NULL z instead of dividing by zero.

    Scale (100 TB): one user-keyed map-side-combined aggregate (the
    heavy step, linear in events), then a 2-row arms table crossed —
    adding arms or metrics widens the tiny side only."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                1,
            ).otherwise(0)
        ).alias("converted")
    ).select((F.col("user_id") % 2).alias("variant"), "converted")
    arms = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").cast("long").alias("x"),
    )
    a = arms.filter(F.col("variant") == 0).select(
        F.col("n").alias("n_a"), F.col("x").alias("x_a")
    )
    b = arms.filter(F.col("variant") == 1).select(
        F.col("n").alias("n_b"), F.col("x").alias("x_b")
    )
    paired = a.crossJoin(b)
    p_a = F.col("x_a") / F.col("n_a").cast("double")
    p_b = F.col("x_b") / F.col("n_b").cast("double")
    pool = (F.col("x_a") + F.col("x_b")) / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (p_a - p_b) / F.sqrt(
        pool * (1.0 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return paired.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.when(
            (F.col("x_a") + F.col("x_b") > 0)
            & (F.col("x_a") + F.col("x_b") < F.col("n_a") + F.col("n_b")),
            F.round(z, 6),
        ).alias("z"),
    )


@register(
    "agg_corr_matrix",
    oracle="""
    WITH q AS (
      SELECT
             CAST(ROUND(l_quantity * 1000000) AS BIGINT) AS q0,
             CAST(ROUND(l_extendedprice * 1000000) AS BIGINT) AS q1,
             CAST(ROUND(l_discount * 1000000) AS BIGINT) AS q2,
             CAST(ROUND(l_tax * 1000000) AS BIGINT) AS q3
      FROM lineitem
    ),
    m AS (
      SELECT
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(q0) AS BIGINT) AS DOUBLE) AS s0,
             CAST(SUM(CAST(q0 AS HUGEINT) * q0) AS DOUBLE) AS s00,
             CAST(CAST(SUM(q1) AS BIGINT) AS DOUBLE) AS s1,
             CAST(SUM(CAST(q1 AS HUGEINT) * q1) AS DOUBLE) AS s11,
             CAST(CAST(SUM(q2) AS BIGINT) AS DOUBLE) AS s2,
             CAST(SUM(CAST(q2 AS HUGEINT) * q2) AS DOUBLE) AS s22,
             CAST(CAST(SUM(q3) AS BIGINT) AS DOUBLE) AS s3,
             CAST(SUM(CAST(q3 AS HUGEINT) * q3) AS DOUBLE) AS s33,
             CAST(SUM(CAST(q0 AS HUGEINT) * q1) AS DOUBLE) AS s01,
             CAST(SUM(CAST(q0 AS HUGEINT) * q2) AS DOUBLE) AS s02,
             CAST(SUM(CAST(q0 AS HUGEINT) * q3) AS DOUBLE) AS s03,
             CAST(SUM(CAST(q1 AS HUGEINT) * q2) AS DOUBLE) AS s12,
             CAST(SUM(CAST(q1 AS HUGEINT) * q3) AS DOUBLE) AS s13,
             CAST(SUM(CAST(q2 AS HUGEINT) * q3) AS DOUBLE) AS s23
      FROM q
    )
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n,
           round((n * s01 - s0 * s1)
                 / NULLIF(sqrt(n * s00 - s0 * s0)
                          * sqrt(n * s11 - s1 * s1), 0), 6) AS r
    FROM m
    UNION ALL
    SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b, n,
           round((n * s02 - s0 * s2)
                 / NULLIF(sqrt(n * s00 - s0 * s0)
                          * sqrt(n * s22 - s2 * s2), 0), 6) AS r
    FROM m
    UNION ALL
    SELECT 'l_quantity' AS col_a, 'l_tax' AS col_b, n,
           round((n * s03 - s0 * s3)
                 / NULLIF(sqrt(n * s00 - s0 * s0)
                          * sqrt(n * s33 - s3 * s3), 0), 6) AS r
    FROM m
    UNION ALL
    SELECT 'l_extendedprice' AS col_a, 'l_discount' AS col_b, n,
           round((n * s12 - s1 * s2)
                 / NULLIF(sqrt(n * s11 - s1 * s1)
                          * sqrt(n * s22 - s2 * s2), 0), 6) AS r
    FROM m
    UNION ALL
    SELECT 'l_extendedprice' AS col_a, 'l_tax' AS col_b, n,
           round((n * s13 - s1 * s3)
                 / NULLIF(sqrt(n * s11 - s1 * s1)
                          * sqrt(n * s33 - s3 * s3), 0), 6) AS r
    FROM m
    UNION ALL
    SELECT 'l_discount' AS col_a, 'l_tax' AS col_b, n,
           round((n * s23 - s2 * s3)
                 / NULLIF(sqrt(n * s22 - s2 * s2)
                          * sqrt(n * s33 - s3 * s3), 0), 6) AS r
    FROM m
    """,
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem measures
    (quantity, extendedprice, discount, tax) — the first exploratory
    profile on any new numeric table and the multicollinearity check
    before pipeline_training_set_features feeds a linear model; upper
    triangle only, emitted as tidy (col_a, col_b, n, r) rows rather
    than a wide matrix so |cols| can grow without schema changes.

    Engine parity + degenerate safety: Pearson is computed from exact
    fixed-point moments (1e-6 quantized values, HUGEINT/decimal(38,0)
    cross-products — the fixed-point cross-product trap) with NULLIF on
    the variance product, NOT the engines' corr() built-ins: Spark 4's
    corr() THROWS DIVIDE_BY_ZERO under ANSI on a constant column while
    DuckDB's returns NULL (degenerate-sweep find) — a real empty-segment
    job-killer at scale.

    Scale (100 TB): ONE pass — all 15 moment sums accumulate in the same
    partial aggregate over a single scan, then the 1-row result explodes
    into the tidy rows; the UNION ALL oracle re-reads per pair but Spark
    does not."""
    l = load(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    q = l.select(
        *[
            (
                F.signum(c) * ((F.abs(F.col(c)) * 1_000_000 + 0.5).cast("long"))
            )
            .cast("long")
            .alias(f"q{i}")
            for i, c in enumerate(cols)
        ]
    )
    dec = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i in range(4):
        aggs.append(F.sum(f"q{i}").cast("long").cast("double").alias(f"s{i}"))
        aggs.append(
            F.sum(F.col(f"q{i}").cast(dec) * F.col(f"q{i}"))
            .cast("double")
            .alias(f"s{i}{i}")
        )
    pairs = [(i, j) for i in range(4) for j in range(4) if i < j]
    for i, j in pairs:
        aggs.append(
            F.sum(F.col(f"q{i}").cast(dec) * F.col(f"q{j}"))
            .cast("double")
            .alias(f"s{i}{j}")
        )
    one = q.agg(*aggs)
    n = F.col("n")

    def r(i, j):
        return F.round(
            (n * F.col(f"s{i}{j}") - F.col(f"s{i}") * F.col(f"s{j}"))
            / F.nullif(
                F.sqrt(n * F.col(f"s{i}{i}") - F.col(f"s{i}") * F.col(f"s{i}"))
                * F.sqrt(n * F.col(f"s{j}{j}") - F.col(f"s{j}") * F.col(f"s{j}")),
                F.lit(0.0),
            ),
            6,
        )

    tidy = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(cols[i]).alias("col_a"),
                    F.lit(cols[j]).alias("col_b"),
                    F.col("n").alias("n"),
                    r(i, j).alias("r"),
                )
                for i, j in pairs
            ]
        )
    )
    return one.select(tidy.alias("cell")).select(
        "cell.col_a", "cell.col_b", "cell.n", "cell.r"
    )


@register(
    "agg_window_funnel_strict",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS ts
      FROM events e JOIN s1 ON e.user_id = s1.user_id
        AND e.ts >= s1.ts AND e.ts <= s1.ts + INTERVAL 7 DAY
      WHERE e.event_type = 'view' GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS ts
      FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.ts
      JOIN s1 ON e.user_id = s1.user_id
        AND e.ts <= s1.ts + INTERVAL 7 DAY
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s4 AS (
      SELECT e.user_id, MIN(e.ts) AS ts
      FROM events e JOIN s3 ON e.user_id = s3.user_id AND e.ts >= s3.ts
      JOIN s1 ON e.user_id = s1.user_id
        AND e.ts <= s1.ts + INTERVAL 7 DAY
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    depth AS (
      SELECT s1.user_id,
             1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
               + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END
               + CASE WHEN s4.user_id IS NULL THEN 0 ELSE 1 END
               AS stage_reached
      FROM s1
      LEFT JOIN s2 ON s1.user_id = s2.user_id
      LEFT JOIN s3 ON s1.user_id = s3.user_id
      LEFT JOIN s4 ON s1.user_id = s4.user_id
    )
    SELECT stage_reached, COUNT(*) AS n_users,
           round(COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6)
             AS user_share
    FROM depth GROUP BY stage_reached
    """,
)
def agg_window_funnel_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline-bounded ordered funnel (ClickHouse windowFunnel
    semantics): signup → view → click → purchase must occur IN ORDER
    and ALL within 7 days of the user's first signup — funnel_conversion
    measures the same ordering with no deadline; the deadline version
    is what activation metrics actually use ('reached stage 3 within
    week one'), and the distribution of deepest-stage-reached is the
    report.  Earliest-qualifying-event recursion (each stage the MIN
    ts at or after the previous stage, capped at the signup deadline)
    keeps every step deterministic.

    Scale (r11 optimization, guide §2.4): one scan of events and one
    groupBy(user_id) compute the whole deadline-bounded chain
    (_funnel_user_times with deadline_days=7 — every stage's array
    predicate also caps at t1 + 7 days, mirroring the oracle's extra
    join back to s1); depth is then a per-row expression.  The old
    8-scan join chain planned 30 Exchanges — the worst shape in the
    r11 registry-wide plan audit — the rewrite plans 3 (user groupBy,
    stage rollup, single-row share window); before/after in
    plans/r11/.  Stage-1 membership is has_s1 (≥1 signup ROW — a user
    whose signups all carry NULL ts still counts at depth 1, like the
    oracle's GROUP BY row with MIN(ts) = NULL that no later stage can
    join to)."""
    e = load(spark, sf_dir, "events")
    per = _funnel_user_times(e, deadline_days=7).filter(F.col("has_s1") == 1)
    depth = per.select(
        (
            F.lit(1)
            + F.when(F.col("t2").isNotNull(), 1).otherwise(0)
            + F.when(F.col("t3").isNotNull(), 1).otherwise(0)
            + F.when(F.col("t4").isNotNull(), 1).otherwise(0)
        ).alias("stage_reached")
    )
    wall = Window.partitionBy()
    return (
        depth.groupBy("stage_reached")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            "stage_reached",
            "n_users",
            F.round(
                F.col("n_users") / F.sum("n_users").over(wall).cast("double"),
                6,
            ).alias("user_share"),
        )
    )


@register(
    "attribution_position_based",
    oracle="""
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, ts,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v6
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, ts, event_id, event_type AS channel
      FROM events WHERE event_type IN ('view', 'click')
    ),
    paired AS (
      SELECT c.conv_id, c.v6, t.channel,
             ROW_NUMBER() OVER (PARTITION BY c.conv_id
               ORDER BY t.ts, t.event_id) AS rn,
             COUNT(*) OVER (PARTITION BY c.conv_id) AS k
      FROM conv c JOIN touch t
        ON c.user_id = t.user_id
        AND t.ts < c.ts AND t.ts >= c.ts - INTERVAL 7 DAY
    ),
    credited AS (
      SELECT channel,
             (v6 * CASE
                WHEN k = 1 THEN 1000000
                WHEN k = 2 THEN 500000
                WHEN rn = 1 OR rn = k THEN 400000
                ELSE 200000 // (k - 2) END) // 1000000 AS credit6
      FROM paired
    ),
    unattr AS (
      SELECT 'unattributed' AS channel, v6 AS credit6
      FROM conv c
      WHERE NOT EXISTS (
        SELECT 1 FROM touch t
        WHERE t.user_id = c.user_id
          AND t.ts < c.ts AND t.ts >= c.ts - INTERVAL 7 DAY
      )
    ),
    allc AS (
      SELECT * FROM credited UNION ALL SELECT * FROM unattr
    )
    SELECT channel, COUNT(*) AS n_credits,
           CAST(CAST(SUM(credit6) AS BIGINT) AS DOUBLE) / 1000000
             AS credited_revenue
    FROM allc GROUP BY channel
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: each
    purchase's revenue splits 40/20/40 across its 7-day touch path —
    40% to the first touch, 40% to the last, the middle 20% evenly
    over interior touches (100% / 50-50 for 1- and 2-touch paths);
    pathless conversions stay 'unattributed'.  The fractional credits
    are INTEGER micro-units throughout — per-touch weight in ppm with
    integer division for the interior split, credit = v6·w DIV 1e6 —
    so engine-order summation cannot drift and the books reconcile to
    the penny (truncation dust stays in the conversion, never
    double-counted).  attribution_last_touch is the degenerate
    all-to-last special case.

    Scale (100 TB): the conv⋈touch range join is the one fanout
    (bounded by the 7-day lookback — time-bucket binning co-locates
    it, join_range_binned's pattern); the per-path window partitions
    by conversion id, so no key is hotter than one purchase's path."""
    e = load(spark, sf_dir, "events")
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id"),
        F.col("ts").alias("conv_ts"),
        fp_scaled_long(F.col("value"), 1_000_000).alias("v6"),
    )
    touch = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "ts", "event_id", F.col("event_type").alias("channel")
    )
    joined = conv.join(
        touch,
        (conv.user_id == touch.user_id)
        & (touch.ts < conv.conv_ts)
        & (touch.ts >= conv.conv_ts - F.expr("INTERVAL 7 DAY")),
    )
    wp = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    wk = Window.partitionBy("conv_id")
    paired = joined.select(
        "conv_id",
        "v6",
        "channel",
        F.row_number().over(wp).alias("rn"),
        F.count(F.lit(1)).over(wk).alias("k"),
    )
    w_ppm = (
        F.when(F.col("k") == 1, 1000000)
        .when(F.col("k") == 2, 500000)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("k")), 400000)
        .otherwise(F.expr("200000 DIV (k - 2)"))
    )
    credited = paired.withColumn("w_ppm", w_ppm).select(
        "channel", F.expr("(v6 * w_ppm) DIV 1000000").alias("credit6")
    )
    unattr = (
        conv.join(
            touch,
            (conv.user_id == touch.user_id)
            & (touch.ts < conv.conv_ts)
            & (touch.ts >= conv.conv_ts - F.expr("INTERVAL 7 DAY")),
            "left_anti",
        )
        .select(F.lit("unattributed").alias("channel"), F.col("v6").alias("credit6"))
    )
    return (
        credited.unionAll(unattr)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            # per-channel credit totals span the whole conversion volume
            # (3 channel groups) — exact decimal split sum
            (fp_split_sum_of(F.col("credit6")).cast("double") / 1000000).alias(
                "credited_revenue"
            ),
        )
    )


@register(
    "agg_bounce_rate",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM ordered
    ),
    per_session AS (
      SELECT user_id, sid, COUNT(*) AS n_events,
             MIN({'t': ts, 'e': event_id, 'y': event_type}).y AS entry_type
      FROM sess GROUP BY user_id, sid
    )
    SELECT entry_type,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           round(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate,
           round(AVG(n_events), 6) AS avg_session_events
    FROM per_session GROUP BY entry_type
    """,
)
def agg_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session entry point: 30-minute-gap sessions
    (ts_sessionize's islands), a bounce being the single-event
    session, rolled up by the session's FIRST event type — the
    landing-page quality metric: which entry points lose the user
    immediately vs start multi-event journeys.  Entry selection is a
    min(struct(ts, event_id, type)) so ties cannot flap the hash.

    Scale (100 TB): one user-partitioned window pass builds session
    ids (the sessionize shuffle), per-session rollup map-side
    combines on (user, sid), and the entry-type report is
    |event_types| rows."""
    e = load(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(wo)
    ordered = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            lag_ts.isNull()
            | (
                F.col("ts").cast("double") - lag_ts.cast("double")
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    sess = ordered.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("new_s").over(wcum).alias("sid"),
    )
    per_session = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.struct("ts", "event_id", "event_type")).alias("first_ev"),
    )
    return (
        per_session.select(
            F.col("first_ev.event_type").alias("entry_type"), "n_events"
        )
        .groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounces"),
            F.round(
                F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("bounce_rate"),
            F.round(F.avg("n_events"), 6).alias("avg_session_events"),
        )
    )


@register(
    "agg_funnel_stage_latency",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS ts
      FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.ts
      WHERE e.event_type = 'view' GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS ts
      FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.ts
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s4 AS (
      SELECT e.user_id, MIN(e.ts) AS ts
      FROM events e JOIN s3 ON e.user_id = s3.user_id AND e.ts >= s3.ts
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    lat AS (
      SELECT 'signup_to_view' AS stage_pair,
             epoch(s2.ts) - epoch(s1.ts) AS sec
      FROM s1 JOIN s2 ON s1.user_id = s2.user_id
      UNION ALL
      SELECT 'view_to_click', epoch(s3.ts) - epoch(s2.ts)
      FROM s2 JOIN s3 ON s2.user_id = s3.user_id
      UNION ALL
      SELECT 'click_to_purchase', epoch(s4.ts) - epoch(s3.ts)
      FROM s3 JOIN s4 ON s3.user_id = s4.user_id
    )
    SELECT stage_pair, COUNT(*) AS n_users,
           round(quantile_cont(sec, 0.5), 6) AS median_sec,
           round(quantile_cont(sec, 0.9), 6) AS p90_sec,
           round(AVG(sec), 6) AS avg_sec
    FROM lat GROUP BY stage_pair
    """,
)
def agg_funnel_stage_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-between-stages distribution for the ordered funnel: the
    latency from each stage's first qualifying event to the next
    (median / p90 / mean seconds per adjacent pair) —
    funnel_conversion says WHO progresses, agg_window_funnel_strict
    says whether they did it in time, this says WHERE the journey
    stalls, which is the stage a growth team actually fixes.
    Latencies are exact integer-second epochs diffed before the
    percentile aggregates (the verified cross-engine percentile
    grain).

    Scale (r11 optimization, guide §2.4): one scan of events and one
    groupBy(user_id) compute all four stage times (_funnel_user_times);
    each user then emits up to 3 (stage_pair, sec) rows via a local
    array explode — no per-stage joins.  The old chain planned 24
    Exchanges, the rewrite 3 (user groupBy + stage_pair rollup) —
    before/after in plans/r11/.  A user contributes the
    'signup_to_view' pair iff t2 exists (t2's >= t1 predicate already
    implies t1 exists), exactly the oracle's s1⋈s2 inner join — and so
    on down the chain."""
    e = load(spark, sf_dir, "events")
    per = _funnel_user_times(e)

    def sec(a: str, b: str):
        return F.col(b).cast("double") - F.col(a).cast("double")

    names = ("signup_to_view", "view_to_click", "click_to_purchase")
    pairs = F.array(
        *[
            F.when(
                F.col(f"t{i + 1}").isNotNull(),
                F.struct(
                    F.lit(name).alias("stage_pair"),
                    sec(f"t{i}", f"t{i + 1}").alias("sec"),
                ),
            )
            for i, name in enumerate(names, start=1)
        ]
    )
    lats = per.select(
        F.explode(F.filter(pairs, lambda x: x.isNotNull())).alias("r")
    ).select("r.*")
    return lats.groupBy("stage_pair").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.percentile("sec", F.lit(0.5)), 6).alias("median_sec"),
        F.round(F.percentile("sec", F.lit(0.9)), 6).alias("p90_sec"),
        F.round(F.avg("sec"), 6).alias("avg_sec"),
    )


@register(
    "agg_abc_xyz_class",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 1000000) AS BIGINT))
               AS BIGINT) AS r6
      FROM lineitem GROUP BY l_partkey
    ),
    weekly AS (
      SELECT l_partkey,
             datediff('week', DATE '2024-01-01',
                      CAST(date_trunc('day', l_shipdate) AS DATE)) AS wk,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    xyz AS (
      SELECT l_partkey,
             COUNT(*) AS n,
             CAST(SUM(q) AS BIGINT) AS sq,
             CAST(SUM(q * q) AS BIGINT) AS sq2
      FROM weekly GROUP BY l_partkey
    ),
    abc AS (
      SELECT p.l_partkey, p.r6,
             CAST(SUM(p.r6) OVER (ORDER BY p.r6 DESC, p.l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum6,
             CAST(SUM(p.r6) OVER () AS BIGINT) AS tot6
      FROM per_part p
    ),
    classed AS (
      SELECT a.l_partkey, a.r6,
             CASE WHEN a.cum6 * 10 <= a.tot6 * 7 THEN 'A'
                  WHEN a.cum6 * 10 <= a.tot6 * 9 THEN 'B'
                  ELSE 'C' END AS abc_class,
             CASE WHEN x.n < 2 THEN 'Z'
                  WHEN 4 * x.n * (x.n * x.sq2 - x.sq * x.sq)
                       < (x.n - 1) * x.sq * x.sq THEN 'X'
                  WHEN x.n * (x.n * x.sq2 - x.sq * x.sq)
                       < (x.n - 1) * x.sq * x.sq THEN 'Y'
                  ELSE 'Z' END AS xyz_class
      FROM abc a JOIN xyz x ON a.l_partkey = x.l_partkey
    )
    SELECT abc_class, xyz_class, COUNT(*) AS n_parts,
           round(CAST(SUM(r6) AS BIGINT)
                 / CAST(SUM(SUM(r6)) OVER () AS DOUBLE), 6)
             AS revenue_share
    FROM classed GROUP BY abc_class, xyz_class
    """,
)
def agg_abc_xyz_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC×XYZ inventory classification — the planning matrix that
    crosses value concentration (A = parts inside the top 70% of
    cumulative revenue, B to 90%, C the tail — agg_abc_classification
    alone) with demand VARIABILITY (X = weekly-quantity CV < 0.5,
    Y < 1.0, Z beyond or under 2 observed weeks): AX items get tight
    automated replenishment, CZ items get made-to-order.  Every
    classification is an INTEGER inequality — cumulative-share cuts
    cross-multiplied (cum·10 ≤ tot·7) and the CV thresholds squared
    into 4n(nΣq²−(Σq)²) < (n−1)(Σq)² form — so no float ever decides
    a class boundary.

    Scale (100 TB): two map-side-combined rollups (per-part revenue,
    per-part-week quantity), one window over the per-part table for
    the cumulative cut, and a 9-cell report."""
    li = load(spark, sf_dir, "lineitem")
    r6row = fp_scaled_long(F.col("l_extendedprice"), 1_000_000)
    wk = F.floor(
        F.datediff(F.to_date("l_shipdate"), F.lit("2024-01-01")) / 7
    ).cast("long")
    # single-long-ok: per-part sums are bounded (≈30 lineitems/part at
    # any SF ⇒ r6 ≤ ~3e12, far under 2^63)
    per_part = li.groupBy("l_partkey").agg(F.sum(r6row).cast("long").alias("r6"))
    weekly = li.groupBy("l_partkey", wk.alias("wk")).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q")
    )
    xyz = weekly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sq2"),
    )
    wcum = Window.orderBy(F.col("r6").desc(), F.col("l_partkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    # cumulative/total revenue windows run over the WHOLE part axis —
    # exact decimal split sums (the integer cross-multiplied class cuts
    # compare decimals exactly; per-part partials stay single-long)
    abc = per_part.select(
        "l_partkey",
        "r6",
        fp_split_sum_over(F.col("r6"), wcum).alias("cum6"),
        fp_split_sum_over(F.col("r6"), wall).alias("tot6"),
    )
    var_num = F.col("n") * (
        F.col("n") * F.col("sq2") - F.col("sq") * F.col("sq")
    )
    var_den = (F.col("n") - 1) * F.col("sq") * F.col("sq")
    classed = abc.join(xyz, "l_partkey").select(
        "r6",
        F.when(F.col("cum6") * 10 <= F.col("tot6") * 7, "A")
        .when(F.col("cum6") * 10 <= F.col("tot6") * 9, "B")
        .otherwise("C")
        .alias("abc_class"),
        F.when(F.col("n") < 2, "Z")
        .when(4 * var_num < var_den, "X")
        .when(var_num < var_den, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    return (
        classed.groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            fp_split_sum_of(F.col("r6")).alias("_r6"),
        )
        .select(
            "abc_class",
            "xyz_class",
            "n_parts",
            F.round(
                F.col("_r6").cast("double")
                / F.sum("_r6").over(Window.partitionBy()).cast("double"),
                6,
            ).alias("revenue_share"),
        )
    )


@register(
    "agg_retention_curve_dayn",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0
      FROM events GROUP BY user_id
    ),
    span AS (
      SELECT MAX(CAST(date_trunc('day', ts) AS DATE)) AS dmax FROM events
    ),
    actives AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    curve AS (
      SELECT n.n,
             f.user_id,
             CASE WHEN a.user_id IS NULL THEN 0 ELSE 1 END AS retained
      FROM firsts f
      CROSS JOIN (SELECT unnest([1, 3, 7, 14]) AS n) n
      LEFT JOIN actives a
        ON a.user_id = f.user_id AND a.d = f.d0 + n.n * INTERVAL 1 DAY
      WHERE f.d0 + n.n * INTERVAL 1 DAY <= (SELECT dmax FROM span)
    )
    SELECT n AS day_n, COUNT(*) AS n_cohort,
           CAST(SUM(retained) AS BIGINT) AS n_retained,
           round(SUM(retained) / CAST(COUNT(*) AS DOUBLE), 6)
             AS retention_rate
    FROM curve GROUP BY n
    """,
)
def agg_retention_curve_dayn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic day-N retention curve: of users first seen on day 0,
    what share was active EXACTLY N days later (N = 1, 3, 7, 14),
    right-censoring excluded — users whose day-N hasn't happened yet
    are out of that N's denominator, the correctness detail naive
    retention queries miss.  retention_cohorts gives the
    cohort×period grid; this is the single curve product reviews
    quote ('D7 retention is 23%').

    Scale (100 TB): per-user first-day and distinct active-day
    rollups both map-side combine; the curve join is user-keyed
    against the small N list — one shuffle on user_id serves it
    all."""
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    span = e.agg(F.max(F.to_date("ts")).alias("dmax"))
    actives = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    ns = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(3), F.lit(7), F.lit(14))).alias("n")
    )
    curve = (
        firsts.crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(span))
        .filter(F.date_add("d0", F.col("n")) <= F.col("dmax"))
        .join(
            actives.withColumnsRenamed({"d": "da", "user_id": "ua"}),
            (F.col("user_id") == F.col("ua"))
            & (F.col("da") == F.date_add("d0", F.col("n"))),
            "left",
        )
        .select(
            "n",
            F.when(F.col("da").isNull(), 0).otherwise(1).alias("retained"),
        )
    )
    return curve.groupBy(F.col("n").alias("day_n")).agg(
        F.count(F.lit(1)).alias("n_cohort"),
        F.sum("retained").cast("long").alias("n_retained"),
        F.round(
            F.sum("retained") / F.count(F.lit(1)).cast("double"), 6
        ).alias("retention_rate"),
    )


@register(
    "feature_standard_scale",
    oracle="""
    WITH fp AS (
      SELECT l_orderkey, l_linenumber,
             CAST(ROUND(l_extendedprice * 1000000) AS BIGINT) AS p6,
             CAST(ROUND(l_quantity * 1000000) AS BIGINT) AS q6
      FROM lineitem
    ),
    stats AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(p6) AS BIGINT) AS sp, SUM(CAST(p6 AS HUGEINT) * p6)
               AS sp2,
             CAST(SUM(q6) AS BIGINT) AS sq, SUM(CAST(q6 AS HUGEINT) * q6)
               AS sq2
      FROM fp
    )
    SELECT f.l_orderkey, f.l_linenumber,
           round((f.p6 - s.sp / CAST(s.n AS DOUBLE))
                 / sqrt((s.n * CAST(s.sp2 AS DOUBLE) - CAST(s.sp AS DOUBLE)
                         * s.sp) / (CAST(s.n AS DOUBLE) * (s.n - 1))), 6)
             AS price_z,
           round((f.q6 - s.sq / CAST(s.n AS DOUBLE))
                 / sqrt((s.n * CAST(s.sq2 AS DOUBLE) - CAST(s.sq AS DOUBLE)
                         * s.sq) / (CAST(s.n AS DOUBLE) * (s.n - 1))), 6)
             AS qty_z
    FROM fp f CROSS JOIN stats s
    WHERE f.l_orderkey % 25 = 0
    """,
)
def feature_standard_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score feature standardization — the other normalizer next to
    feature_minmax_scale (min-max preserves bounded range; z-scores
    preserve outlier structure and are what linear models and
    distance metrics want).  Mean and variance derive from exact
    fixed-point integer moments (Σx, Σx² over 1e-6-unit longs), so
    both engines divide identical integers and the per-row z-scores
    are bit-aligned before the 6-dp round; population stats come from
    the FULL table while the (bounded) output projects a key sample.

    Scale (100 TB): one moment aggregate (map-side combined,
    mergeable — the same sketch shape as emb_pca_project's second
    moments), broadcast to a pure projection.  Σx² of 1e-6-scaled
    values needs int128/decimal beyond ~3e6 rows — DuckDB HUGEINT
    native, Spark side documents decimal(38,0)."""
    li = load(spark, sf_dir, "lineitem")

    def fp6(col):
        return fp_scaled_long(col, 1_000_000)

    fp = li.select(
        "l_orderkey",
        "l_linenumber",
        fp6(F.col("l_extendedprice")).alias("p6"),
        fp6(F.col("l_quantity")).alias("q6"),
    )
    # GLOBAL first moments over all of lineitem — exact decimal split
    # sums (the second moments were already decimal(38,0) products)
    stats = fp.agg(
        F.count(F.lit(1)).alias("n"),
        fp_split_sum_of(F.col("p6")).alias("sp"),
        F.sum(F.col("p6").cast("decimal(38,0)") * F.col("p6")).alias("sp2"),
        fp_split_sum_of(F.col("q6")).alias("sq"),
        F.sum(F.col("q6").cast("decimal(38,0)") * F.col("q6")).alias("sq2"),
    )

    def z(x, s, s2):
        mu = F.col(s) / F.col("n").cast("double")
        var = (
            F.col("n") * F.col(s2).cast("double")
            - F.col(s).cast("double") * F.col(s)
        ) / (F.col("n").cast("double") * (F.col("n") - 1))
        return F.round((F.col(x) - mu) / F.sqrt(var), 6)

    return (
        fp.crossJoin(F.broadcast(stats))
        .filter(F.col("l_orderkey") % 25 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            z("p6", "sp", "sp2").alias("price_z"),
            z("q6", "sq", "sq2").alias("qty_z"),
        )
    )


@register(
    "ab_segment_heterogeneity",
    oracle="""
    WITH tagged AS (
      SELECT c.c_mktsegment AS segment,
             CASE WHEN o.o_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
             CAST(ROUND(o.o_totalprice * 1000000) AS BIGINT) AS v6
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    moments AS (
      SELECT segment, arm, COUNT(*) AS n,
             CAST(SUM(v6) AS BIGINT) AS sv,
             SUM(CAST(v6 AS HUGEINT) * v6) AS sv2
      FROM tagged GROUP BY segment, arm
    ),
    wide AS (
      SELECT a.segment,
             a.n AS n_a, a.sv AS sv_a, a.sv2 AS sv2_a,
             b.n AS n_b, b.sv AS sv_b, b.sv2 AS sv2_b
      FROM (SELECT * FROM moments WHERE arm = 'a') a
      JOIN (SELECT * FROM moments WHERE arm = 'b') b
        ON a.segment = b.segment
    )
    SELECT segment, n_a, n_b,
           round(sv_a / (n_a * 1000000.0), 6) AS mean_a,
           round(sv_b / (n_b * 1000000.0), 6) AS mean_b,
           round((sv_a / CAST(n_a AS DOUBLE) - sv_b / CAST(n_b AS DOUBLE))
                 / 1000000.0, 6) AS diff,
           round((sv_a / CAST(n_a AS DOUBLE) - sv_b / CAST(n_b AS DOUBLE))
                 / NULLIF(sqrt(
                   (n_a * CAST(sv2_a AS DOUBLE) - CAST(sv_a AS DOUBLE) * sv_a)
                     / (CAST(n_a AS DOUBLE) * NULLIF(n_a - 1, 0)) / n_a
                   + (n_b * CAST(sv2_b AS DOUBLE) - CAST(sv_b AS DOUBLE) * sv_b)
                     / (CAST(n_b AS DOUBLE) * NULLIF(n_b - 1, 0)) / n_b), 0), 6)
             AS welch_z
    FROM wide
    """,
)
def ab_segment_heterogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treatment-effect heterogeneity: the A/B mean comparison
    (order-key parity arms, order value metric) broken out BY
    CUSTOMER SEGMENT with a Welch z per segment — the analysis that
    catches 'flat overall but +8% for BUILDING and −7% for
    AUTOMOBILE', which the pooled test (ab_welch_ttest) averages
    away.  Every variance comes from exact integer moments (Σv, Σv²
    in micro-units), so the z statistics are engine-identical before
    rounding.

    Scale (100 TB): one (segment, arm) moment rollup — map-side
    combined, mergeable — then a |segments|-row self-join; adding
    segments or metrics never adds a pass over the facts."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    v6 = fp_scaled_long(F.col("o_totalprice"), 1_000_000)
    tagged = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("o_orderkey") % 2 == 0, "a").otherwise("b").alias("arm"),
        v6.alias("v6"),
    )
    moments = tagged.groupBy("segment", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        fp_split_sum_of(F.col("v6")).alias("sv"),  # arm/segment cells are scale-proportional: exact decimal split
        F.sum(F.col("v6").cast("decimal(38,0)") * F.col("v6")).alias("sv2"),
    )
    a = moments.filter(F.col("arm") == "a").select(
        "segment",
        F.col("n").alias("n_a"),
        F.col("sv").alias("sv_a"),
        F.col("sv2").alias("sv2_a"),
    )
    b = moments.filter(F.col("arm") == "b").select(
        F.col("segment").alias("segment_b"),
        F.col("n").alias("n_b"),
        F.col("sv").alias("sv_b"),
        F.col("sv2").alias("sv2_b"),
    )
    wide = a.join(b, a.segment == b.segment_b)
    mean_a = F.col("sv_a") / F.col("n_a").cast("double")
    mean_b = F.col("sv_b") / F.col("n_b").cast("double")

    # NULLIF guards (degenerate sweep): a 1-order or zero-variance segment
    # zeroes (n−1) or the pooled s.e. — ANSI Spark throws, DuckDB infs;
    # both sides now agree on NULL.
    def var_over_n(n, sv, sv2):
        return (
            (
                F.col(n) * F.col(sv2).cast("double")
                - F.col(sv).cast("double") * F.col(sv)
            )
            / (
                F.col(n).cast("double")
                * F.nullif((F.col(n) - 1).cast("double"), F.lit(0.0))
            )
            / F.col(n)
        )

    return wide.select(
        "segment",
        "n_a",
        "n_b",
        F.round(F.col("sv_a") / (F.col("n_a") * 1000000.0), 6).alias("mean_a"),
        F.round(F.col("sv_b") / (F.col("n_b") * 1000000.0), 6).alias("mean_b"),
        F.round((mean_a - mean_b) / 1000000.0, 6).alias("diff"),
        F.round(
            (mean_a - mean_b)
            / F.nullif(
                F.sqrt(
                    var_over_n("n_a", "sv_a", "sv2_a")
                    + var_over_n("n_b", "sv_b", "sv2_b")
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("welch_z"),
    )


@register(
    "ab_difference_in_differences",
    oracle="""
    WITH tagged AS (
      SELECT CASE WHEN o_custkey % 2 = 0 THEN 'treat' ELSE 'control' END
               AS arm,
             CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                  THEN 'post' ELSE 'pre' END AS period,
             CAST(ROUND(o_totalprice * 1000000) AS BIGINT) AS v6
      FROM orders
    ),
    cells AS (
      SELECT arm, period, COUNT(*) AS n,
             CAST(SUM(v6) AS BIGINT) AS sv,
             SUM(CAST(v6 AS HUGEINT) * v6) AS sv2
      FROM tagged GROUP BY arm, period
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN arm='treat' AND period='pre' THEN sv / (n * 1e6) END)
          AS m_tp,
        MAX(CASE WHEN arm='treat' AND period='post' THEN sv / (n * 1e6) END)
          AS m_tq,
        MAX(CASE WHEN arm='control' AND period='pre' THEN sv / (n * 1e6) END)
          AS m_cp,
        MAX(CASE WHEN arm='control' AND period='post' THEN sv / (n * 1e6) END)
          AS m_cq,
        SUM((n * CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) * sv)
            / (CAST(n AS DOUBLE) * NULLIF(CAST(n - 1 AS DOUBLE), 0))
            / n / 1e12) AS var_sum,
        CAST(SUM(n) AS BIGINT) AS n_total
      FROM cells
    )
    SELECT n_total,
           round(m_tq - m_tp, 6) AS treat_delta,
           round(m_cq - m_cp, 6) AS control_delta,
           round((m_tq - m_tp) - (m_cq - m_cp), 6) AS did_estimate,
           round(((m_tq - m_tp) - (m_cq - m_cp))
                 / NULLIF(sqrt(var_sum), 0), 6) AS did_z
    FROM wide
    """,
)
def ab_difference_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: treatment assigned by customer
    parity, periods split at 1998-01-01 (the fixture's order-date midpoint), outcome = mean order value —
    DiD = (treat_post − treat_pre) − (control_post − control_pre),
    the causal workhorse when randomization isn't available and both
    groups share a trend; the z uses the four-cell independent-
    variance sum.  All four cell means and variances come from exact
    integer micro-unit moments, so the estimate is engine-identical
    before rounding.  Completes the quasi-experimental toolkit next
    to the randomized tests (ab_welch_ttest, ab_two_proportion_ztest)
    and per-segment heterogeneity (ab_segment_heterogeneity).

    Scale (100 TB): one (arm, period) moment rollup — four cells —
    then scalar arithmetic; nothing after the map-side combine is
    bigger than a row."""
    o = load(spark, sf_dir, "orders")
    v6 = fp_scaled_long(F.col("o_totalprice"), 1_000_000)
    tagged = o.select(
        F.when(F.col("o_custkey") % 2 == 0, "treat")
        .otherwise("control")
        .alias("arm"),
        F.when(
            F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"),
            "post",
        )
        .otherwise("pre")
        .alias("period"),
        v6.alias("v6"),
    )
    cells = tagged.groupBy("arm", "period").agg(
        F.count(F.lit(1)).alias("n"),
        fp_split_sum_of(F.col("v6")).alias("sv"),  # arm/segment cells are scale-proportional: exact decimal split
        F.sum(F.col("v6").cast("decimal(38,0)") * F.col("v6")).alias("sv2"),
    )

    def cell_mean(arm, period):
        return F.max(
            F.when(
                (F.col("arm") == arm) & (F.col("period") == period),
                F.col("sv") / (F.col("n") * 1e6),
            )
        )

    # NULLIF guards (degenerate sweep): a 1-order cell zeroes (n−1), and a
    # zero-variance table zeroes sqrt(var_sum) — ANSI Spark throws, DuckDB
    # infs; both sides now agree on NULL.
    var_term = (
        (
            F.col("n") * F.col("sv2").cast("double")
            - F.col("sv").cast("double") * F.col("sv")
        )
        / (
            F.col("n").cast("double")
            * F.nullif((F.col("n") - 1).cast("double"), F.lit(0.0))
        )
        / F.col("n")
        / 1e12
    )
    wide = cells.agg(
        cell_mean("treat", "pre").alias("m_tp"),
        cell_mean("treat", "post").alias("m_tq"),
        cell_mean("control", "pre").alias("m_cp"),
        cell_mean("control", "post").alias("m_cq"),
        F.sum(var_term).alias("var_sum"),
        F.sum("n").cast("long").alias("n_total"),
    )
    did = (F.col("m_tq") - F.col("m_tp")) - (F.col("m_cq") - F.col("m_cp"))
    return wide.select(
        "n_total",
        F.round(F.col("m_tq") - F.col("m_tp"), 6).alias("treat_delta"),
        F.round(F.col("m_cq") - F.col("m_cp"), 6).alias("control_delta"),
        F.round(did, 6).alias("did_estimate"),
        F.round(
            did / F.nullif(F.sqrt(F.col("var_sum")), F.lit(0.0)), 6
        ).alias("did_z"),
    )


@register(
    "agg_price_elasticity",
    oracle="""
    WITH obs AS (
      SELECT p.p_brand AS brand,
             ln(l.l_quantity) AS ln_q,
             ln(l.l_extendedprice / l.l_quantity) AS ln_p
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    )
    SELECT brand, COUNT(*) AS n,
           round(regr_slope(ln_q, ln_p), 6) AS elasticity,
           round(regr_r2(ln_q, ln_p), 6) AS r2
    FROM obs GROUP BY brand
    """,
)
def agg_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Own-price elasticity of demand per brand: the log-log OLS slope
    of quantity on unit price (elasticity = %Δqty per %Δprice, the
    number pricing teams move prices by) with its R² — ts_trend_ols
    regresses a metric on TIME; this is the econometric regression on
    another VARIABLE, same closed-form regr_* machinery, unit price
    derived per line as extendedprice/quantity.  Zero quantities and
    prices are excluded before the logs on both engines.

    Scale (100 TB): broadcast part join for the brand key, then
    per-brand single-pass regr sketches — one fact scan, one
    |brands|-key combine."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    obs = (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .select(
            F.col("p_brand").alias("brand"),
            F.log("l_quantity").alias("ln_q"),
            F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "ln_p"
            ),
        )
    )
    return obs.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope("ln_q", "ln_p"), 6).alias("elasticity"),
        F.round(F.regr_r2("ln_q", "ln_p"), 6).alias("r2"),
    )


@register(
    "agg_newsvendor_quantile",
    oracle="""
    WITH weekly AS (
      SELECT l_partkey,
             datediff('week', DATE '2024-01-01',
                      CAST(date_trunc('day', l_shipdate) AS DATE)) AS wk,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem WHERE l_partkey % 50 = 0
      GROUP BY 1, 2
    )
    SELECT l_partkey, COUNT(*) AS n_weeks,
           round(AVG(q), 6) AS mean_weekly_demand,
           round(quantile_cont(q, 0.8), 6) AS q_star_80
    FROM weekly GROUP BY l_partkey
    """,
)
def agg_newsvendor_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stocking quantity: per (sampled) part, the 0.8
    quantile of weekly demand — the provably optimal order-up-to
    level when the critical ratio (underage cost / total cost) is
    0.8, which is THE inventory decision the ABC×XYZ matrix
    (agg_abc_xyz_class) routes its AX/AY items into.  Demand
    aggregates are exact integer weekly sums; the quantile follows
    the verified percentile rule, so mean and q* hash identically.

    Scale (100 TB): per-(part, week) rollup map-side combines; the
    per-part quantile runs over ≤ |weeks| values per key — swap
    approx_percentile for recurring full-catalog runs, documented."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 50 == 0)
    wk = F.floor(
        F.datediff(F.to_date("l_shipdate"), F.lit("2024-01-01")) / 7
    ).cast("long")
    weekly = li.groupBy("l_partkey", wk.alias("wk")).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q")
    )
    return weekly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_weeks"),
        F.round(F.avg("q"), 6).alias("mean_weekly_demand"),
        F.round(F.percentile("q", F.lit(0.8)), 6).alias("q_star_80"),
    )


@register(
    "ab_sample_ratio_mismatch",
    oracle="""
    WITH arms AS (
      SELECT user_id % 2 AS variant, COUNT(DISTINCT user_id) AS n
      FROM events GROUP BY user_id % 2
    ),
    wide AS (
      SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n_a,
             MAX(CASE WHEN variant = 1 THEN n END) AS n_b
      FROM arms
    )
    SELECT n_a, n_b,
           round((n_a - n_b) * (n_a - n_b)
                 / CAST(n_a + n_b AS DOUBLE), 6) AS chi2,
           CASE WHEN 100 * (n_a - n_b) * (n_a - n_b)
                     > 384 * (n_a + n_b) THEN 1 ELSE 0 END AS srm_flag
    FROM wide
    """,
)
def ab_sample_ratio_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch (SRM) check — the FIRST test every A/B
    readout must pass: with a 50/50 assignment, the observed arm
    sizes get a one-degree chi-square ((n_a−n_b)²/(n_a+n_b) for equal
    expecteds); exceeding 3.84 (p < 0.05) means the assignment or
    logging pipeline is broken and every downstream metric
    (ab_welch_ttest, ab_two_proportion_ztest) is untrustworthy.  The
    flag is the integer cross-multiplication 100·(Δn)² > 384·N, so
    the alarm never depends on float rounding.

    Scale (100 TB): one distinct-user count per arm — a map-side
    combined aggregate and a 2-row compare."""
    e = load(spark, sf_dir, "events")
    arms = e.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.countDistinct("user_id").alias("n")
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
    )
    dn2 = (F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))
    return wide.select(
        "n_a",
        "n_b",
        F.round(dn2 / (F.col("n_a") + F.col("n_b")).cast("double"), 6).alias(
            "chi2"
        ),
        F.when(100 * dn2 > 384 * (F.col("n_a") + F.col("n_b")), 1)
        .otherwise(0)
        .alias("srm_flag"),
    )


@register(
    "ab_cuped_adjustment",
    oracle="""
    WITH per_user AS (
      SELECT o_custkey,
             o_custkey % 2 AS variant,
             CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                      THEN CAST(ROUND(o_totalprice * 1000000) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS pre6,
             CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                      THEN CAST(ROUND(o_totalprice * 1000000) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS post6
      FROM orders GROUP BY o_custkey
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(pre6) AS BIGINT) AS sx,
             CAST(SUM(post6) AS BIGINT) AS sy,
             SUM(CAST(pre6 AS HUGEINT) * pre6) AS sxx,
             SUM(CAST(pre6 AS HUGEINT) * post6) AS sxy,
             SUM(CAST(post6 AS HUGEINT) * post6) AS syy
      FROM per_user
    ),
    th AS (
      SELECT n, sx, sy,
             (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
               / NULLIF(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx, 0)
               AS theta,
             (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * NULLIF(n - 1, 0)) AS var_post,
             (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
               / NULLIF(sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                      * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)), 0)
               AS rho
      FROM mom
    )
    SELECT n, round(theta, 6) AS theta,
           var_post / 1e12 AS var_post,
           var_post * (1 - rho * rho) / 1e12 AS var_adjusted,
           round(rho * rho, 6) AS var_reduction_share
    FROM th
    """,
)
def ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction: per-user pre-period revenue as the
    control covariate for the post-period metric — θ = cov(pre,post)
    / var(pre), and the adjusted metric's variance shrinks by exactly
    ρ² (the reported reduction share), which is why every mature
    experimentation platform runs CUPED before the t-test: same
    experiment, tighter confidence intervals, for free.  All five
    moments (Σx, Σy, Σx², Σxy, Σy²) accumulate as exact integer
    micro-unit products (int128), so θ and the variance ladder are
    engine-identical before rounding.  The two VARIANCE displays carry
    no float round: they reach ~4.5e11 at sf0.1, where round(x, 6) is
    far below double resolution and purely an implementation lottery
    (the r10 magnitude-scan class) — both engines emit the identical
    deterministic double unrounded instead.  θ/ρ² keep their 6dp
    rounds (O(1)-magnitude, sound grain).

    Scale (100 TB): one per-user conditional rollup + one 5-moment
    aggregate — two map-side-combined passes, output is one row."""
    o = load(spark, sf_dir, "orders")
    r6 = fp_scaled_long(F.col("o_totalprice"), 1_000_000)
    cut = F.lit("1998-01-01").cast("timestamp")
    per_user = o.groupBy("o_custkey").agg(
        # single-long-ok: per-customer partials are bounded (~10
        # orders/customer at any SF ⇒ |pre6/post6| ≤ ~5e12 ≪ 2^63)
        F.sum(F.when(F.col("o_orderdate") < cut, r6).otherwise(0))
        .cast("long")
        .alias("pre6"),
        F.sum(F.when(F.col("o_orderdate") >= cut, r6).otherwise(0))
        .cast("long")
        .alias("post6"),
    )
    dec = "decimal(38,0)"
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        # first moments add per-user longs over the WHOLE user base —
        # exact decimal split (second moments already int128-style)
        fp_split_sum_of(F.col("pre6")).alias("sx"),
        fp_split_sum_of(F.col("post6")).alias("sy"),
        F.sum(F.col("pre6").cast(dec) * F.col("pre6")).alias("sxx"),
        F.sum(F.col("pre6").cast(dec) * F.col("post6")).alias("sxy"),
        F.sum(F.col("post6").cast(dec) * F.col("post6")).alias("syy"),
    )
    n = F.col("n")
    cov_n = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")
    varx_n = n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx")
    vary_n = n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy")
    # NULLIF guards (degenerate sweep): a constant pre- or post-period
    # zeroes var(pre)/var(post) and n=1 zeroes (n−1) — both sides NULL.
    theta = cov_n / F.nullif(varx_n, F.lit(0.0))
    var_post = vary_n / (
        n.cast("double") * F.nullif((n - 1).cast("double"), F.lit(0.0))
    )
    rho = cov_n / F.nullif(F.sqrt(varx_n * vary_n), F.lit(0.0))
    return mom.select(
        "n",
        F.round(theta, 6).alias("theta"),
        (var_post / F.lit(1e12)).alias("var_post"),
        (var_post * (1 - rho * rho) / F.lit(1e12)).alias("var_adjusted"),
        F.round(rho * rho, 6).alias("var_reduction_share"),
    )


@register(
    "agg_bcg_matrix",
    oracle="""
    WITH per AS (
      SELECT p.p_brand AS brand,
             CAST(SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '1996-01-01'
                       AND l.l_shipdate < TIMESTAMP '1997-01-01'
                  THEN CAST(ROUND(l.l_extendedprice * 1000000) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS r1,
             CAST(SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '2000-01-01'
                       AND l.l_shipdate < TIMESTAMP '2001-01-01'
                  THEN CAST(ROUND(l.l_extendedprice * 1000000) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS r2
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    ),
    tot AS (
      SELECT CAST(SUM(r1 + r2) AS BIGINT) AS total, COUNT(*) AS k FROM per
    )
    SELECT p.brand,
           round((p.r1 + p.r2) / NULLIF(CAST(t.total AS DOUBLE), 0), 6)
             AS rev_share,
           round(CASE WHEN p.r1 > 0
                 THEN (p.r2 - p.r1) / CAST(p.r1 AS DOUBLE) END, 6)
             AS growth,
           CASE WHEN p.r2 > p.r1
                     AND (p.r1 + p.r2) * t.k >= t.total THEN 'star'
                WHEN p.r2 > p.r1 THEN 'question_mark'
                WHEN (p.r1 + p.r2) * t.k >= t.total THEN 'cash_cow'
                ELSE 'dog' END AS quadrant
    FROM per p CROSS JOIN tot t
    """,
)
def agg_bcg_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BCG growth-share matrix per brand: year-over-year revenue
    growth (two equal-length fixture years, so growth sign reflects
    brand mix, not period length) crossed with relative revenue share
    classifies every brand
    as star / cash-cow / question-mark / dog — the portfolio review
    one-pager.  Both axis cuts are INTEGER comparisons (growing ⟺
    r2 > r1; above-average share ⟺ (r1+r2)·k ≥ total), so quadrant
    membership never hangs on float rounding; the reported growth and
    share ratios round at 6 dp for display.

    Scale (100 TB): one broadcast part join + per-brand conditional
    fixed-point rollup, then |brands|-row arithmetic against one
    scalar row."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    r6 = fp_scaled_long(F.col("l_extendedprice"), 1_000_000)

    def in_year(y: int):
        return (
            F.col("l_shipdate") >= F.lit(f"{y}-01-01").cast("timestamp")
        ) & (F.col("l_shipdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))

    per = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            # per-brand cells are scale-proportional (25-ish brands over
            # the whole fact table) — exact decimal split sums; all
            # downstream axis cuts compare decimals exactly
            fp_split_sum_of(F.when(in_year(1996), r6).otherwise(0)).alias("r1"),
            fp_split_sum_of(F.when(in_year(2000), r6).otherwise(0)).alias("r2"),
        )
    )
    tot = per.agg(
        F.sum(F.col("r1") + F.col("r2")).alias("total"),
        F.count(F.lit(1)).alias("k"),
    )
    j = per.crossJoin(F.broadcast(tot))
    brand_rev = F.col("r1") + F.col("r2")
    growing = F.col("r2") > F.col("r1")
    big = brand_rev * F.col("k") >= F.col("total")
    return j.select(
        "brand",
        # NULLIF guard (boundary regime): a window with zero revenue in
        # BOTH comparison years zeroes the portfolio total — shares are
        # undefined (NULL), not a crash, on both sides
        F.round(
            brand_rev / F.nullif(F.col("total").cast("double"), F.lit(0.0)), 6
        ).alias("rev_share"),
        F.round(
            F.when(
                F.col("r1") > 0,
                (F.col("r2") - F.col("r1")) / F.col("r1").cast("double"),
            ),
            6,
        ).alias("growth"),
        F.when(growing & big, "star")
        .when(growing, "question_mark")
        .when(big, "cash_cow")
        .otherwise("dog")
        .alias("quadrant"),
    )


@register(
    "attribution_shapley_two_channel",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_v,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_c,
             MAX(CASE WHEN event_type = 'purchase' AND value > 150
                 THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    coal AS (
      SELECT has_v, has_c, COUNT(*) AS n,
             CAST(SUM(conv) AS BIGINT) AS n_conv
      FROM per_user GROUP BY has_v, has_c
    ),
    rates AS (
      SELECT
        COALESCE(MAX(CASE WHEN has_v = 0 AND has_c = 0
                 THEN n_conv / CAST(n AS DOUBLE) END), 0) AS v_none,
        COALESCE(MAX(CASE WHEN has_v = 1 AND has_c = 0
                 THEN n_conv / CAST(n AS DOUBLE) END), 0) AS v_v,
        COALESCE(MAX(CASE WHEN has_v = 0 AND has_c = 1
                 THEN n_conv / CAST(n AS DOUBLE) END), 0) AS v_c,
        COALESCE(MAX(CASE WHEN has_v = 1 AND has_c = 1
                 THEN n_conv / CAST(n AS DOUBLE) END), 0) AS v_vc
      FROM coal
    )
    SELECT 'view' AS channel,
           round(((v_v - v_none) + (v_vc - v_c)) / 2, 6) AS shapley_value,
           round(v_v - v_none, 6) AS marginal_alone,
           round(v_vc - v_c, 6) AS marginal_with_other
    FROM rates
    UNION ALL
    SELECT 'click',
           round(((v_c - v_none) + (v_vc - v_v)) / 2, 6),
           round(v_c - v_none, 6),
           round(v_vc - v_v, 6)
    FROM rates
    """,
)
def attribution_shapley_two_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven Shapley attribution over two channels: users group
    by their exact touch coalition (∅, {view}, {click}, {view,click}),
    each coalition's conversion rate is its characteristic value, and
    each channel's Shapley value averages its marginal contribution
    over both join orders — the game-theoretically fair split that
    position rules (attribution_position_based) only approximate;
    with two channels the formula is exact and closed-form, which is
    why 2-3-channel Shapley ships in real MTA products while k-channel
    needs sampling.  Empty coalitions contribute rate 0 (coalesced)
    rather than NULL-poisoning the averages.

    Scale (100 TB): one per-user flag rollup + a 4-cell aggregate —
    the coalition table is 2^k rows, so channels, not data volume,
    bound the cost."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "has_v"
        ),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "has_c"
        ),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                1,
            ).otherwise(0)
        ).alias("conv"),
    )
    coal = per_user.groupBy("has_v", "has_c").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").cast("long").alias("n_conv")
    )

    def rate(v, c):
        return F.coalesce(
            F.max(
                F.when(
                    (F.col("has_v") == v) & (F.col("has_c") == c),
                    F.col("n_conv") / F.col("n").cast("double"),
                )
            ),
            F.lit(0.0),
        )

    rates = coal.agg(
        rate(0, 0).alias("v_none"),
        rate(1, 0).alias("v_v"),
        rate(0, 1).alias("v_c"),
        rate(1, 1).alias("v_vc"),
    )
    view_row = rates.select(
        F.lit("view").alias("channel"),
        F.round(
            ((F.col("v_v") - F.col("v_none")) + (F.col("v_vc") - F.col("v_c")))
            / 2,
            6,
        ).alias("shapley_value"),
        F.round(F.col("v_v") - F.col("v_none"), 6).alias("marginal_alone"),
        F.round(F.col("v_vc") - F.col("v_c"), 6).alias(
            "marginal_with_other"
        ),
    )
    click_row = rates.select(
        F.lit("click").alias("channel"),
        F.round(
            ((F.col("v_c") - F.col("v_none")) + (F.col("v_vc") - F.col("v_v")))
            / 2,
            6,
        ).alias("shapley_value"),
        F.round(F.col("v_c") - F.col("v_none"), 6).alias("marginal_alone"),
        F.round(F.col("v_vc") - F.col("v_v"), 6).alias(
            "marginal_with_other"
        ),
    )
    return view_row.unionAll(click_row)


@register(
    "agg_ar_aging_buckets",
    oracle="""
    WITH ref AS (
      SELECT MAX(o_orderdate) AS asof FROM orders
    ),
    aged AS (
      SELECT o.o_orderstatus,
             CAST(ROUND(o.o_totalprice * 1000000) AS BIGINT) AS v6,
             datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(r.asof AS DATE)) AS age_days
      FROM orders o CROSS JOIN ref r WHERE o.o_orderstatus <> 'F'
    ),
    bucketed AS (
      SELECT CASE WHEN age_days <= 365 THEN '0-365'
                  WHEN age_days <= 730 THEN '366-730'
                  WHEN age_days <= 1095 THEN '731-1095'
                  ELSE '1095+' END AS age_bucket,
             v6
      FROM aged
    )
    SELECT age_bucket, COUNT(*) AS n_orders,
           CAST(CAST(SUM(v6) AS BIGINT) AS DOUBLE) / 1000000
             AS outstanding,
           round(SUM(v6) / CAST(SUM(SUM(v6)) OVER () AS DOUBLE), 6)
             AS share
    FROM bucketed GROUP BY age_bucket
    """,
)
def agg_ar_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounts-receivable aging: non-finalized orders bucketed by age
    against the as-of date (the fixture's latest order date), with
    outstanding value and share per bucket — THE collections report
    (finance reads '1095+' as 'probably never'), and the same
    fixed-bucket-by-age shape serves ticket backlogs and inventory
    age.  Buckets cut on integer day counts; value totals are exact
    fixed-point sums.

    Scale (100 TB): the as-of scalar broadcasts; aging is a
    projection and the report a 4-key map-side-combined rollup."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    ref = load(spark, sf_dir, "orders").agg(
        F.max(F.to_date("o_orderdate")).alias("asof")
    )
    v6 = fp_scaled_long(F.col("o_totalprice"), 1_000_000)
    aged = o.crossJoin(F.broadcast(ref)).select(
        v6.alias("v6"),
        F.datediff(F.col("asof"), F.to_date("o_orderdate")).alias("age_days"),
    )
    bucket = (
        F.when(F.col("age_days") <= 365, "0-365")
        .when(F.col("age_days") <= 730, "366-730")
        .when(F.col("age_days") <= 1095, "731-1095")
        .otherwise("1095+")
    )
    wall = Window.partitionBy()
    return (
        aged.select(bucket.alias("age_bucket"), "v6")
        .groupBy("age_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # 4 GLOBAL age buckets over all open orders — exact decimal
            # split sum (the share window then adds 4 exact decimals)
            fp_split_sum_of(F.col("v6")).alias("_v6"),
        )
        .select(
            "age_bucket",
            "n_orders",
            (F.col("_v6").cast("double") / 1000000).alias("outstanding"),
            F.round(
                F.col("_v6").cast("double")
                / F.sum("_v6").over(wall).cast("double"),
                6,
            ).alias("share"),
        )
    )


@register(
    "agg_basket_size_dist",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, COUNT(*) AS n_lines,
             COUNT(DISTINCT l_partkey) AS n_parts
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT n_lines AS basket_size,
           COUNT(*) AS n_orders,
           CAST(SUM(n_parts) AS BIGINT) AS total_parts,
           round(COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6)
             AS order_share,
           round(CAST(SUM(SUM(n_lines)) OVER (ORDER BY n_lines
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE)
                 / SUM(SUM(n_lines)) OVER (), 6) AS cum_line_share
    FROM per_order GROUP BY n_lines
    """,
)
def agg_basket_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution: orders bucketed by line count with
    distinct-part totals, order share, and the cumulative share of
    LINES carried by baskets up to each size — the distribution that
    sizes per-order processing (a packing station tuned for the modal
    basket), parameterizes basket analysis (basket_pair_counts'
    candidate fanout is Σ size²), and exposes order-splitting bugs as
    a spike at size 1.  All quantities are integer counts; the two
    shares are final single divisions.

    Scale (100 TB): one map-side-combined per-order rollup, then a
    |distinct sizes|-row aggregate with a cumulative window over that
    tiny frame."""
    li = load(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )
    sized = per_order.groupBy(F.col("n_lines").alias("basket_size")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("n_parts").cast("long").alias("total_parts"),
        F.sum("n_lines").cast("long").alias("_lines"),
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy("basket_size").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return sized.select(
        "basket_size",
        "n_orders",
        "total_parts",
        F.round(
            F.col("n_orders") / F.sum("n_orders").over(wall).cast("double"),
            6,
        ).alias("order_share"),
        F.round(
            F.sum("_lines").over(wcum).cast("double")
            / F.sum("_lines").over(wall),
            6,
        ).alias("cum_line_share"),
    )


@register(
    "agg_growth_accounting",
    oracle="""
    WITH actives AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    firsts AS (
      SELECT user_id, MIN(d) AS d0 FROM actives GROUP BY user_id
    ),
    labeled AS (
      SELECT a.d, a.user_id,
             CASE WHEN f.d0 = a.d THEN 'new'
                  WHEN y.user_id IS NOT NULL THEN 'retained'
                  ELSE 'resurrected' END AS kind
      FROM actives a
      JOIN firsts f ON a.user_id = f.user_id
      LEFT JOIN actives y
        ON y.user_id = a.user_id AND y.d = a.d - 1
    ),
    churned AS (
      SELECT y.d + 1 AS d, COUNT(*) AS n_churned
      FROM actives y
      LEFT JOIN actives t
        ON t.user_id = y.user_id AND t.d = y.d + 1
      WHERE t.user_id IS NULL
      GROUP BY y.d + 1
    ),
    daily AS (
      SELECT d,
             CAST(SUM(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
             CAST(SUM(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_retained,
             CAST(SUM(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_resurrected
      FROM labeled GROUP BY d
    )
    SELECT dl.d, dl.n_new, dl.n_retained, dl.n_resurrected,
           COALESCE(c.n_churned, 0) AS n_churned,
           dl.n_new + dl.n_resurrected - COALESCE(c.n_churned, 0)
             AS net_change
    FROM daily dl LEFT JOIN churned c ON dl.d = c.d
    """,
)
def agg_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU growth accounting: every active user-day decomposes into
    new (first ever day), retained (also active yesterday), or
    resurrected (returning after a gap), and yesterday's actives who
    vanished count as churned — so new + resurrected − churned =
    net DAU change EXACTLY, the identity that turns a wiggling DAU
    chart into 'growth stalled because churn doubled, not because
    acquisition slowed'.  The standard growth-team ledger, all
    integer set arithmetic on (user, day) pairs.

    Scale (100 TB): the distinct (user, day) table is the one
    shuffle; yesterday-membership is a self equi-join on
    (user, d−1) over the same partitioning, and the ledger is a
    per-day conditional rollup."""
    e = load(spark, sf_dir, "events")
    actives = e.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    firsts = actives.groupBy("user_id").agg(F.min("d").alias("d0"))
    y = actives.select(
        F.col("user_id").alias("yu"), F.date_add("d", 1).alias("yd")
    )
    labeled = (
        actives.join(firsts, "user_id")
        .join(
            y,
            (F.col("user_id") == F.col("yu")) & (F.col("d") == F.col("yd")),
            "left",
        )
        .select(
            "d",
            F.when(F.col("d0") == F.col("d"), "new")
            .when(F.col("yu").isNotNull(), "retained")
            .otherwise("resurrected")
            .alias("kind"),
        )
    )
    t = actives.select(
        F.col("user_id").alias("tu"), F.col("d").alias("td")
    )
    churned = (
        actives.join(
            t,
            (F.col("user_id") == F.col("tu"))
            & (F.date_add("d", 1) == F.col("td")),
            "left_anti",
        )
        .groupBy(F.date_add("d", 1).alias("d"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    daily = labeled.groupBy("d").agg(
        F.sum(F.when(F.col("kind") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("kind") == "retained", 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.col("kind") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
    )
    return daily.join(churned, "d", "left").select(
        "d",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
        (
            F.col("n_new")
            + F.col("n_resurrected")
            - F.coalesce("n_churned", F.lit(0))
        )
        .cast("long")
        .alias("net_change"),
    )


@register(
    "agg_churn_risk_recency",
    oracle="""
    WITH per_user_events AS (
      SELECT user_id, ts, event_id,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    gaps AS (
      SELECT user_id, quantile_cont(gap_us, 0.9) AS p90_gap_us,
             COUNT(gap_us) AS n_gaps
      FROM per_user_events GROUP BY user_id
    ),
    lasts AS (
      SELECT user_id, MAX(epoch_us(ts)) AS last_us FROM events
      GROUP BY user_id
    ),
    horizon AS (SELECT MAX(epoch_us(ts)) AS now_us FROM events),
    scored AS (
      SELECT l.user_id, g.n_gaps,
             (SELECT now_us FROM horizon) - l.last_us AS silence_us,
             g.p90_gap_us
      FROM lasts l JOIN gaps g ON l.user_id = g.user_id
      WHERE g.n_gaps >= 5
    )
    SELECT user_id, n_gaps,
           round(silence_us / 86400000000.0, 6) AS silent_days,
           round(p90_gap_us / 86400000000.0, 6) AS p90_gap_days,
           CASE WHEN silence_us > p90_gap_us THEN 1 ELSE 0 END
             AS at_risk
    FROM scored WHERE user_id % 7 = 0
    """,
)
def agg_churn_risk_recency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized churn-risk flags: a user is at risk when their
    CURRENT silence exceeds their OWN p90 historical inter-event gap
    — the per-entity baseline that beats any global 'inactive 14
    days' rule, because a daily user gone 3 days is a louder alarm
    than a monthly user gone 20.  Users with under 5 observed gaps
    are excluded (no stable personal baseline).  Gaps and silences
    are exact integer microseconds; the flag is an integer compare.

    Scale (100 TB): one user-partitioned lag window (the sessionize
    shuffle), per-user percentile over own gaps, and a broadcast
    horizon scalar — all keyed on user_id, one partitioning serves
    the chain."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps_rows = e.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap_us"
        ),
    )
    gaps = gaps_rows.groupBy("user_id").agg(
        F.percentile("gap_us", F.lit(0.9)).alias("p90_gap_us"),
        F.count("gap_us").alias("n_gaps"),
    )
    lasts = e.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).alias("last_us")
    )
    horizon = e.agg(F.max(F.unix_micros("ts")).alias("now_us"))
    scored = (
        lasts.join(gaps, "user_id")
        .filter(F.col("n_gaps") >= 5)
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            "n_gaps",
            (F.col("now_us") - F.col("last_us")).alias("silence_us"),
            "p90_gap_us",
        )
    )
    return scored.filter(F.col("user_id") % 7 == 0).select(
        "user_id",
        "n_gaps",
        F.round(F.col("silence_us") / 86400000000.0, 6).alias("silent_days"),
        F.round(F.col("p90_gap_us") / 86400000000.0, 6).alias(
            "p90_gap_days"
        ),
        F.when(F.col("silence_us") > F.col("p90_gap_us"), 1)
        .otherwise(0)
        .alias("at_risk"),
    )


@register(
    "agg_cohort_payback_month",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             date_trunc('month', MIN(o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey
    ),
    monthly AS (
      SELECT f.cohort, o.o_custkey,
             datediff('month', f.cohort,
                      date_trunc('month', o.o_orderdate)) AS m_idx,
             CAST(ROUND(o.o_totalprice * 1000000) AS BIGINT) AS v6
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    ),
    cohort_size AS (
      SELECT cohort, COUNT(*) AS n_customers FROM firsts GROUP BY cohort
    ),
    cum AS (
      SELECT m.cohort, m.m_idx,
             CAST(SUM(SUM(m.v6)) OVER (PARTITION BY m.cohort
               ORDER BY m.m_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum6
      FROM monthly m GROUP BY m.cohort, m.m_idx
    ),
    payback AS (
      SELECT c.cohort,
             MIN(CASE WHEN c.cum6 >= s.n_customers * 150000000000
                 THEN c.m_idx END) AS payback_month,
             MAX(c.m_idx) AS months_observed
      FROM cum c JOIN cohort_size s ON c.cohort = s.cohort
      GROUP BY c.cohort
    )
    SELECT CAST(p.cohort AS DATE) AS cohort, s.n_customers,
           p.payback_month, p.months_observed
    FROM payback p JOIN cohort_size s ON p.cohort = s.cohort
    WHERE EXTRACT(year FROM p.cohort) <= 1996
    """,
)
def agg_cohort_payback_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAC payback by cohort: each first-order-month cohort's
    cumulative revenue climbs against its acquisition cost (a flat
    $150k per customer in fixture money), and the payback month is
    the first month index where the cohort has earned its cost back
    — THE unit-economics chart under every 'when does a customer
    become profitable' question; agg_cohort_ltv gives the curve,
    this extracts the business-defining crossing point.  NULL
    payback = not yet recovered in the observed window (restricted
    to cohorts with enough history).  The crossing test is an
    integer comparison of fixed-point cumulative revenue against
    n_customers × CAC.

    Scale (100 TB): per-cohort-month rollup map-side combines; the
    cumulative window and crossing scan run over the tiny
    cohort×month grid."""
    o = load(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    v6 = fp_scaled_long(F.col("o_totalprice"), 1_000_000)
    monthly = o.join(firsts, "o_custkey").select(
        "cohort",
        (
            F.months_between(
                F.date_trunc("month", F.col("o_orderdate")), F.col("cohort")
            )
        )
        .cast("long")
        .alias("m_idx"),
        v6.alias("v6"),
    )
    cohort_size = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    # cohort-month cells are scale-proportional — exact decimal split
    # sums; the cumulative window then adds exact decimals, and the
    # crossing test below multiplies n_customers in decimal too (the
    # long literal product alone would overflow at ~2e8 customers/cohort)
    per_month = monthly.groupBy("cohort", "m_idx").agg(
        fp_split_sum_of(F.col("v6")).alias("mrev6")
    )
    wc = Window.partitionBy("cohort").orderBy("m_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_month.select(
        "cohort", "m_idx", F.sum("mrev6").over(wc).alias("cum6")
    )
    payback = (
        cum.join(cohort_size, "cohort")
        .groupBy("cohort")
        .agg(
            F.min(
                F.when(
                    F.col("cum6")
                    >= F.col("n_customers").cast("decimal(38,0)")
                    * F.lit(150000000000),
                    F.col("m_idx"),
                )
            ).alias("payback_month"),
            F.max("m_idx").alias("months_observed"),
        )
    )
    return (
        payback.join(cohort_size, "cohort")
        .filter(F.year("cohort") <= 1996)
        .select(
            F.to_date("cohort").alias("cohort"),
            "n_customers",
            "payback_month",
            "months_observed",
        )
    )


@register(
    "agg_stickiness_dau_mau",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    daily AS (
      SELECT d, COUNT(*) AS dau FROM active GROUP BY d
    ),
    weekly AS (
      SELECT w, COUNT(*) AS wau FROM (
        SELECT DISTINCT user_id, CAST(date_trunc('week', d) AS DATE) AS w
        FROM active
      ) GROUP BY w
    ),
    monthly AS (
      SELECT m, COUNT(*) AS mau FROM (
        SELECT DISTINCT user_id, CAST(date_trunc('month', d) AS DATE) AS m
        FROM active
      ) GROUP BY m
    )
    SELECT dy.d, dy.dau, wk.wau, mo.mau,
           round(CAST(dy.dau AS DOUBLE) / wk.wau, 6) AS dau_wau,
           round(CAST(dy.dau AS DOUBLE) / mo.mau, 6) AS dau_mau
    FROM daily dy
    JOIN weekly wk ON CAST(date_trunc('week', dy.d) AS DATE) = wk.w
    JOIN monthly mo ON CAST(date_trunc('month', dy.d) AS DATE) = mo.m
    """,
)
def agg_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stickiness: per day, DAU over the calendar week's WAU and the
    calendar month's MAU — the engagement ratio product teams watch
    (DAU/MAU near 1 = daily habit, near 1/30 = monthly chore).
    Calendar buckets, not rolling windows (ts_rolling_active_users owns
    the rolling-7d curve): both engines anchor date_trunc('week') to
    Monday, so the bucket keys agree exactly, and every count is a
    plain distinct over (user, bucket).

    Scale (100 TB): raw events collapse to the deduped (user, day)
    activity set first; week/month actives re-dedup that bounded set,
    not raw events; the three joins are on the tiny |days| axis (the
    daily side broadcasts after aggregation)."""
    ev = load(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    daily = active.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    weekly = (
        active.select("user_id", F.date_trunc("week", "d").cast("date").alias("w"))
        .distinct()
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    monthly = (
        active.select("user_id", F.date_trunc("month", "d").cast("date").alias("m"))
        .distinct()
        .groupBy("m")
        .agg(F.count(F.lit(1)).alias("mau"))
    )
    return (
        daily.join(
            F.broadcast(weekly),
            F.date_trunc("week", "d").cast("date") == F.col("w"),
        )
        .join(
            F.broadcast(monthly),
            F.date_trunc("month", "d").cast("date") == F.col("m"),
        )
        .select(
            "d",
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("dau_wau"),
            F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias("dau_mau"),
        )
    )


@register(
    "ab_mann_whitney_u",
    oracle="""
    WITH pool AS (
      SELECT CASE WHEN event_type = 'click' THEN 'A' ELSE 'B' END AS grp,
             "value" AS v
      FROM events WHERE event_type IN ('click', 'error')
    ),
    ranked AS (
      SELECT grp, v,
             2 * RANK() OVER (ORDER BY v)
               + COUNT(*) OVER (PARTITION BY v) - 1 AS r2
      FROM pool
    ),
    ties AS (
      SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS sum_t3_t
      FROM (SELECT COUNT(*) AS t FROM pool GROUP BY v)
    ),
    sums AS (
      SELECT CAST(SUM(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN grp = 'A' THEN r2 ELSE 0 END) AS BIGINT) AS ra2
      FROM ranked
    )
    SELECT s.n_a, s.n_b,
           (s.ra2 - s.n_a * (s.n_a + 1)) / 2.0 AS u_a,
           s.n_a * s.n_b - (s.ra2 - s.n_a * (s.n_a + 1)) / 2.0 AS u_b,
           t.sum_t3_t,
           round(
             ((s.ra2 - s.n_a * (s.n_a + 1)) / 2.0 - s.n_a * s.n_b / 2.0)
             / NULLIF(sqrt(s.n_a * s.n_b / 12.0
                    * ((s.n_a + s.n_b + 1)
                       - CAST(t.sum_t3_t AS DOUBLE)
                         / NULLIF((s.n_a + s.n_b)
                            * (s.n_a + s.n_b - 1.0), 0))), 0),
             6) AS z
    FROM sums s CROSS JOIN ties t
    """,
)
def ab_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum): the nonparametric two-sample
    test an experimenter reaches for when ab_welch_ttest's normality
    assumption is indefensible (heavy-tailed revenue, bounded scores).
    Groups are click vs error event values; ranks use the standard
    midrank tie treatment kept EXACT by carrying doubled ranks as
    integers (r2 = 2*min_rank + ties - 1, so the .5 midranks never
    touch a float until the final ratio), and the normal approximation
    applies the tie-corrected variance
    sigma^2 = nA*nB/12 * ((N+1) - sum(t^3 - t)/(N(N-1))).

    Scale (100 TB): the global rank is the one total sort (range-
    partitioned at cluster scale, same shape win_rank documents); tie
    counts and all reductions are single grouped passes — nothing is
    ever pairwise (the textbook U-by-pair-comparison is O(nA*nB) and
    never runs here)."""
    ev = load(spark, sf_dir, "events")
    pool = ev.filter(F.col("event_type").isin("click", "error")).select(
        F.when(F.col("event_type") == "click", F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("grp"),
        F.col("value").alias("v"),
    )
    ranked = pool.select(
        "grp",
        "v",
        (
            F.lit(2) * F.rank().over(Window.orderBy("v"))
            + F.count(F.lit(1)).over(Window.partitionBy("v"))
            - 1
        ).alias("r2"),
    )
    ties = (
        pool.groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("long")
            .alias("sum_t3_t")
        )
    )
    sums = ranked.agg(
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("grp") == "A", F.col("r2")).otherwise(0))
        .cast("long")
        .alias("ra2"),
    )
    j = sums.crossJoin(F.broadcast(ties))
    u_a = (F.col("ra2") - F.col("n_a") * (F.col("n_a") + 1)) / F.lit(2.0)
    n_tot = F.col("n_a") + F.col("n_b")
    # NULLIF guards (degenerate sweep): an empty arm (n_a·n_b = 0) or a
    # one-row pool (N(N−1) = 0) zeroes sigma — both sides agree on NULL.
    sigma = F.sqrt(
        F.col("n_a") * F.col("n_b") / F.lit(12.0)
        * (
            (n_tot + 1)
            - F.col("sum_t3_t").cast("double")
            / F.nullif(n_tot * (n_tot - F.lit(1.0)), F.lit(0.0))
        )
    )
    return j.select(
        "n_a",
        "n_b",
        u_a.alias("u_a"),
        (F.col("n_a") * F.col("n_b") - u_a).alias("u_b"),
        "sum_t3_t",
        F.round(
            (u_a - F.col("n_a") * F.col("n_b") / F.lit(2.0))
            / F.nullif(sigma, F.lit(0.0)),
            6,
        ).alias("z"),
    )


@register(
    "agg_runlength_events",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS boundary
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, event_type,
             SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS run_id
      FROM seq
    ),
    rl AS (
      SELECT user_id, run_id, event_type, COUNT(*) AS run_len
      FROM runs GROUP BY user_id, run_id, event_type
    )
    SELECT event_type, run_len,
           CAST(COUNT(*) AS BIGINT) AS n_runs
    FROM rl GROUP BY event_type, run_len
    """,
)
def agg_runlength_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length distribution of user event streams: how often does a
    user fire the SAME event k times in a row (rage-clicks, error
    loops, retry storms) — the gaps-and-islands classic
    (boundary-flag → running-sum run ids) rolled up to a
    |event_types| × |run lengths| histogram, the compact signal
    agg_sequence_detect's specific-pattern matcher doesn't give.
    Ordering is (ts, event_id) so equal timestamps break
    deterministically on both engines; IS DISTINCT FROM makes the
    first-row boundary null-safe.

    Scale (100 TB): one hashpartitioning(user_id) exchange feeds both
    window passes (same key, same order — Catalyst reuses the sort),
    then two map-side-combined rollups on collapsing axes."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("boundary"),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = seq.select(
        "user_id",
        "event_type",
        F.sum("boundary").over(wrun).alias("run_id"),
    )
    rl = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return rl.groupBy("event_type", "run_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_runs")
    )


@register(
    "agg_entropy_daily",
    oracle="""
    WITH c AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT d, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY d)
    SELECT t.d, t.n AS n_events,
           round(-SUM((c.cnt * 1.0 / t.n) * ln(c.cnt * 1.0 / t.n)), 6) + 0.0
             AS entropy_nats,
           round(-SUM((c.cnt * 1.0 / t.n) * ln(c.cnt * 1.0 / t.n))
                 / ln(5.0), 6) + 0.0 AS entropy_norm
    FROM c JOIN tot t ON t.d = c.d
    GROUP BY t.d, t.n
    """,
)
def agg_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-mix entropy: Shannon entropy of the event-type
    distribution per day, normalized by ln(5) to [0,1] — the
    'behavioral diversity' trendline ops teams watch because incident
    days collapse the mix toward one event type (error storms drive
    entropy DOWN long before volume alarms fire);
    agg_behavior_entropy is the per-user cut, this is the per-day
    monitor.  Probabilities are exact count ratios; each ln term is
    O(p), so 6-dp rounding dominates engine float-sum order.

    Scale (100 TB): a |days|×|types| map-side-combined count joined
    to its |days| margin — bounded state, one scan."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = c.groupBy("d").agg(F.sum("cnt").cast("long").alias("n"))
    p = F.col("cnt") * F.lit(1.0) / F.col("n")
    return (
        c.join(F.broadcast(tot), "d")
        .groupBy("d", "n")
        .agg(
            # + 0.0 canonicalizes IEEE -0.0 (a one-type day has entropy
            # -1·ln(1) = -0.0 on one engine — degenerate-sweep find)
            (F.round(-F.sum(p * F.log(p)), 6) + 0.0).alias("entropy_nats"),
            (F.round(-F.sum(p * F.log(p)) / F.log(F.lit(5.0)), 6) + 0.0).alias(
                "entropy_norm"
            ),
        )
        .select("d", F.col("n").alias("n_events"), "entropy_nats", "entropy_norm")
    )


@register(
    "agg_capture_recapture",
    oracle="""
    WITH w1 AS (
      SELECT DISTINCT user_id FROM events
      WHERE CAST(date_trunc('day', ts) AS DATE)
            BETWEEN DATE '2024-01-01' AND DATE '2024-01-07'
    ),
    w2 AS (
      SELECT DISTINCT user_id FROM events
      WHERE CAST(date_trunc('day', ts) AS DATE)
            BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    ),
    tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_pop
            FROM events)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM w1) AS n1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM w2) AS n2,
           CAST(COUNT(*) AS BIGINT) AS m_recaptured,
           round((SELECT COUNT(*) FROM w1) * 1.0
                 * (SELECT COUNT(*) FROM w2) / NULLIF(COUNT(*), 0), 6)
             AS lp_estimate,
           (SELECT true_pop FROM tot) AS true_population,
           round(abs((SELECT COUNT(*) FROM w1) * 1.0
                     * (SELECT COUNT(*) FROM w2) / NULLIF(COUNT(*), 0)
                     - (SELECT true_pop FROM tot))
                 / NULLIF((SELECT true_pop FROM tot), 0), 6) AS rel_err
    FROM w1 JOIN w2 USING (user_id)
    """,
)
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen capture-recapture: estimate the total user
    population from two observation windows (week-1 actives, week-2
    actives, and the recaptured overlap: N̂ = n1·n2/m) — the ecology
    estimator data teams reuse to size what they CANNOT enumerate
    (true reach beyond tracked sessions, dedup-miss population), here
    audited against the fixture's enumerable truth the same way
    agg_kmv_cardinality audits its sketch.  All three inputs are
    exact distinct counts; the estimate divides once.

    Scale (100 TB): two deduped window scans and a semi-join-sized
    intersection — user-keyed shuffles of the deduped id sets, never
    raw events."""
    ev = load(spark, sf_dir, "events")
    d = F.date_trunc("day", "ts").cast("date")
    w1 = (
        ev.filter(d.between("2024-01-01", "2024-01-07"))
        .select("user_id")
        .distinct()
    )
    w2 = (
        ev.filter(d.between("2024-01-08", "2024-01-14"))
        .select("user_id")
        .distinct()
    )
    n1 = w1.agg(F.count(F.lit(1)).cast("long").alias("n1"))
    n2 = w2.agg(F.count(F.lit(1)).cast("long").alias("n2"))
    m = w1.join(w2, "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("m_recaptured")
    )
    tot = ev.agg(
        F.countDistinct("user_id").cast("long").alias("true_population")
    )
    # NULLIF guards (degenerate sweep): zero recaptures (disjoint windows)
    # zero the Lincoln-Petersen denominator — both sides agree on NULL.
    est = (
        F.col("n1")
        * F.lit(1.0)
        * F.col("n2")
        / F.nullif(F.col("m_recaptured").cast("double"), F.lit(0.0))
    )
    return (
        n1.crossJoin(n2)
        .crossJoin(m)
        .crossJoin(F.broadcast(tot))
        .select(
            "n1",
            "n2",
            "m_recaptured",
            F.round(est, 6).alias("lp_estimate"),
            "true_population",
            F.round(
                F.abs(est - F.col("true_population"))
                / F.nullif(F.col("true_population").cast("double"), F.lit(0.0)),
                6,
            ).alias("rel_err"),
        )
    )


@register(
    "win_new_users_cumulative",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CAST(date_trunc('day', ts) AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT first_day AS d, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY first_day
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS pop FROM firsts)
    SELECT d, n_new,
           CAST(SUM(n_new) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_users,
           round(SUM(n_new) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                 * 1.0 / t.pop, 6) AS adoption_pct
    FROM daily CROSS JOIN tot t
    """,
)
def win_new_users_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The adoption curve: users counted once at their FIRST-ever
    activity day, accumulated into cumulative reach and share of the
    eventually-observed population — the S-curve every launch review
    plots, distinct from agg_new_vs_returning (which classifies each
    period's ACTIVITY, counting a user in many periods).  First-touch
    is an order-free MIN, the curve one running sum over the bounded
    day axis.

    Scale (100 TB): per-user MIN map-side combines; everything after
    runs on |days| rows.  The historical backfill trap is real: a
    truncated retention window silently shifts first_day forward —
    this op assumes the scan covers the true beginning."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts").cast("date")).alias("first_day")
    )
    daily = firsts.groupBy(F.col("first_day").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    tot = firsts.agg(F.count(F.lit(1)).cast("long").alias("pop"))
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.crossJoin(F.broadcast(tot)).select(
        "d",
        "n_new",
        F.sum("n_new").over(wc).cast("long").alias("cum_users"),
        F.round(
            F.sum("n_new").over(wc) * F.lit(1.0) / F.col("pop"), 6
        ).alias("adoption_pct"),
    )


@register(
    "agg_recency_decay_score",
    oracle="""
    WITH mx AS (
      SELECT MAX(CAST(date_trunc('day', ts) AS DATE)) AS maxd FROM events
    ),
    per AS (
      SELECT user_id,
             datediff('day', CAST(date_trunc('day', ts) AS DATE),
                      (SELECT maxd FROM mx)) AS age,
             CASE WHEN event_type = 'purchase' THEN 5 ELSE 1 END AS w
      FROM events
    ),
    scored AS (
      SELECT user_id,
             round(SUM(w * power(0.9, age)), 6) AS decay_score,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(MIN(age) AS BIGINT) AS days_since_last
      FROM per GROUP BY user_id
    )
    SELECT user_id, decay_score, n_events, days_since_last
    FROM scored WHERE user_id % 3 = 0
    """,
)
def agg_recency_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed engagement score per user: every event
    contributes weight·0.9^days_ago (purchases weighted 5×), the
    recency-sensitive scalar ranking that RFM's hard buckets
    (rfm_segments) and plain recency (agg_churn_risk_recency)
    approximate — yesterday's click outranks last month's, smoothly.
    Ages are exact integer day differences against the observed
    horizon; each pow term is O(weight) and bounded by 5, so the
    per-user float sum rounds stably at 6dp on both engines.

    Scale (100 TB): one scan, one broadcast horizon, one
    map-side-combined per-user reduction — and because the score is
    a plain sum, yesterday's scores update incrementally as
    score·0.9 + today's events (the streaming form)."""
    ev = load(spark, sf_dir, "events")
    mx = ev.agg(
        F.max(F.date_trunc("day", "ts").cast("date")).alias("maxd")
    )
    per = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.datediff("maxd", F.date_trunc("day", "ts").cast("date")).alias("age"),
        F.when(F.col("event_type") == "purchase", 5).otherwise(1).alias("w"),
    )
    return (
        per.groupBy("user_id")
        .agg(
            F.round(F.sum(F.col("w") * F.pow(F.lit(0.9), F.col("age"))), 6).alias(
                "decay_score"
            ),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("age").cast("long").alias("days_since_last"),
        )
        .filter(F.col("user_id") % 3 == 0)
    )


@register(
    "ab_bayesian_shrinkage",
    oracle="""
    WITH per AS (
      SELECT c.c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    )
    SELECT c_nationkey, n, k,
           round(k * 1.0 / n, 6) AS raw_rate,
           round((k + 2.0) / (n + 4.0), 6) AS post_mean,
           round((k + 2.0) / (n + 4.0)
                 - 1.96 * sqrt((k + 2.0) / (n + 4.0)
                               * (1 - (k + 2.0) / (n + 4.0)) / (n + 5)), 6)
             AS cred_lo,
           round((k + 2.0) / (n + 4.0)
                 + 1.96 * sqrt((k + 2.0) / (n + 4.0)
                               * (1 - (k + 2.0) / (n + 4.0)) / (n + 5)), 6)
             AS cred_hi,
           round(abs(k * 1.0 / n - (k + 2.0) / (n + 4.0)), 6) AS shrinkage
    FROM per
    """,
)
def ab_bayesian_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-Binomial shrinkage of per-nation completion rates: the
    Beta(2,2) posterior mean (k+2)/(n+4) with a normal-approximation
    95% credible band — the estimator that stops a 3-order nation
    from topping the leaderboard at 100% while a 900-order nation
    sits at 51% (the small-sample pathology raw rates and even
    Wilson bounds (agg_rate_wilson_ci) leave to the reader; the
    shrinkage column shows exactly how far each rate moved).  All
    inputs are exact counts; the posterior algebra is closed-form.

    Scale (100 TB): one broadcast-dim join and a |nations|-key
    map-side-combined count — one scan."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    per = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("long")
            .alias("k"),
        )
    )
    pm = (F.col("k") + F.lit(2.0)) / (F.col("n") + F.lit(4.0))
    half = F.lit(1.96) * F.sqrt(pm * (1 - pm) / (F.col("n") + 5))
    raw = F.col("k") * F.lit(1.0) / F.col("n")
    return per.select(
        "c_nationkey",
        "n",
        "k",
        F.round(raw, 6).alias("raw_rate"),
        F.round(pm, 6).alias("post_mean"),
        F.round(pm - half, 6).alias("cred_lo"),
        F.round(pm + half, 6).alias("cred_hi"),
        F.round(F.abs(raw - pm), 6).alias("shrinkage"),
    )


@register(
    "geo_tile_quadkey",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             (('0x' || substr(md5('lat|' || c_custkey), 1, 8))::BIGINT
              / 4294967295.0) * 160.0 - 80.0 AS lat,
             (('0x' || substr(md5('lon|' || c_custkey), 1, 8))::BIGINT
              / 4294967295.0) * 360.0 - 180.0 AS lon
      FROM customer WHERE c_custkey % 25 = 0
    ),
    tiles AS (
      SELECT c_custkey, lat, lon,
             CAST(FLOOR((lon + 180.0) / 360.0 * 64) AS BIGINT) AS tx,
             CAST(FLOOR((1.0 - ln(tan(radians(lat))
                                  + 1.0 / cos(radians(lat))) / pi())
                        / 2.0 * 64) AS BIGINT) AS ty
      FROM pts
    )
    SELECT c_custkey, tx, ty,
           CAST(((ty >> 5) & 1) * 2 + ((tx >> 5) & 1) AS VARCHAR)
        || CAST(((ty >> 4) & 1) * 2 + ((tx >> 4) & 1) AS VARCHAR)
        || CAST(((ty >> 3) & 1) * 2 + ((tx >> 3) & 1) AS VARCHAR)
        || CAST(((ty >> 2) & 1) * 2 + ((tx >> 2) & 1) AS VARCHAR)
        || CAST(((ty >> 1) & 1) * 2 + ((tx >> 1) & 1) AS VARCHAR)
        || CAST((ty & 1) * 2 + (tx & 1) AS VARCHAR) AS quadkey
    FROM tiles
    """,
)
def geo_tile_quadkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-Mercator tile coordinates and Bing-style quadkeys at zoom 6
    for the hash-derived customer points — the spatial bucketing that
    turns lat/lon proximity into PREFIX-match locality (two points in
    the same zoom-9 cell share a 9-char quadkey prefix), which is how
    geo joins become string-prefix equi-joins at scale
    (geo_cell_join_radius buckets on a flat grid; quadkeys add the
    hierarchy).  Tile math is the standard mercator projection with
    exact integer bit-interleave for the key digits.

    Scale (100 TB): pure projection — trig, two floors, six bit ops —
    codegen, no shuffle; the quadkey becomes the partition/sort key
    downstream."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 25 == 0)
    lat = (
        F.conv(F.substring(F.md5(F.concat(F.lit("lat|"), F.col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long")
        / F.lit(4294967295.0)
    ) * 160.0 - 80.0
    lon = (
        F.conv(F.substring(F.md5(F.concat(F.lit("lon|"), F.col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long")
        / F.lit(4294967295.0)
    ) * 360.0 - 180.0
    pts = c.select("c_custkey", lat.alias("lat"), lon.alias("lon"))
    tx = F.floor((F.col("lon") + 180.0) / 360.0 * 64).cast("long")
    ty = F.floor(
        (
            F.lit(1.0)
            - F.log(
                F.tan(F.radians("lat")) + F.lit(1.0) / F.cos(F.radians("lat"))
            )
            / F.lit(3.141592653589793)
        )
        / 2.0
        * 64
    ).cast("long")
    tiles = pts.select("c_custkey", tx.alias("tx"), ty.alias("ty"))
    digit = lambda k: (
        (F.shiftright(F.col("ty"), k).bitwiseAND(F.lit(1))) * 2
        + (F.shiftright(F.col("tx"), k).bitwiseAND(F.lit(1)))
    ).cast("string")
    return tiles.select(
        "c_custkey",
        "tx",
        "ty",
        F.concat(
            digit(5), digit(4), digit(3), digit(2), digit(1), digit(0)
        ).alias("quadkey"),
    )


@register(
    "agg_delta_method_ratio_ci",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM orders GROUP BY o_custkey
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM per
    )
    SELECT n,
           round(sx * 1.0 / sy / 100, 6) AS revenue_per_order,
           round(sqrt(GREATEST(0.0,
                 (CAST(sxx AS DOUBLE) / n - (sx * 1.0 / n) * (sx * 1.0 / n))
                 - 2.0 * (sx * 1.0 / sy)
                   * (CAST(sxy AS DOUBLE) / n - (sx * 1.0 / n) * (sy * 1.0 / n))
                 + (sx * 1.0 / sy) * (sx * 1.0 / sy)
                   * (CAST(syy AS DOUBLE) / n - (sy * 1.0 / n) * (sy * 1.0 / n))))
                 / ((sy * 1.0 / n) * sqrt(n)) / 100, 6) AS se,
           round(sx * 1.0 / sy / 100
                 - 1.96 * sqrt(GREATEST(0.0,
                   (CAST(sxx AS DOUBLE) / n - (sx * 1.0 / n) * (sx * 1.0 / n))
                   - 2.0 * (sx * 1.0 / sy)
                     * (CAST(sxy AS DOUBLE) / n - (sx * 1.0 / n) * (sy * 1.0 / n))
                   + (sx * 1.0 / sy) * (sx * 1.0 / sy)
                     * (CAST(syy AS DOUBLE) / n - (sy * 1.0 / n) * (sy * 1.0 / n))))
                   / ((sy * 1.0 / n) * sqrt(n)) / 100, 6) AS ci_lo,
           round(sx * 1.0 / sy / 100
                 + 1.96 * sqrt(GREATEST(0.0,
                   (CAST(sxx AS DOUBLE) / n - (sx * 1.0 / n) * (sx * 1.0 / n))
                   - 2.0 * (sx * 1.0 / sy)
                     * (CAST(sxy AS DOUBLE) / n - (sx * 1.0 / n) * (sy * 1.0 / n))
                   + (sx * 1.0 / sy) * (sx * 1.0 / sy)
                     * (CAST(syy AS DOUBLE) / n - (sy * 1.0 / n) * (sy * 1.0 / n))))
                   / ((sy * 1.0 / n) * sqrt(n)) / 100, 6) AS ci_hi
    FROM m
    """,
)
def agg_delta_method_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method CI for a RATIO metric — revenue per order where
    the randomization unit is the CUSTOMER: the ratio-of-sums
    estimator Σx/Σy with
    var ≈ (σx² − 2Rσxy + R²σy²)/(n·ȳ²), the correction every
    experimentation platform needs because naively treating orders
    as independent understates variance whenever users contribute
    multiple orders (ab_welch_ttest on per-order rows would do
    exactly that).  All five moments are exact wide integers
    (cents² in HUGEINT/decimal38); the delta algebra runs once in
    doubles, clamped at zero before the sqrt.

    Scale (100 TB): one per-customer combine, one 1-row moment
    reduction — the CI costs no more than the mean."""
    o = load(spark, sf_dir, "orders")
    cents = (
        F.signum("o_totalprice") * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    per = o.groupBy("o_custkey").agg(
        F.sum(cents).cast("long").alias("x"),
        F.count(F.lit(1)).cast("long").alias("y"),
    )
    m = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        # Σx (total cents over the whole base, ~4x long headroom at
        # 100 TB) and Σx·y (past 2^63 there) escalate — split sum and
        # decimal product; Σy / Σy² are order counts, safe as long
        fp_split_sum_of(F.col("x")).alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n = F.col("n")
    r = F.col("sx") * F.lit(1.0) / F.col("sy")
    vx = F.col("sxx").cast("double") / n - (F.col("sx") * F.lit(1.0) / n) * (
        F.col("sx") * F.lit(1.0) / n
    )
    cxy = F.col("sxy").cast("double") / n - (F.col("sx") * F.lit(1.0) / n) * (
        F.col("sy") * F.lit(1.0) / n
    )
    vy = F.col("syy").cast("double") / n - (F.col("sy") * F.lit(1.0) / n) * (
        F.col("sy") * F.lit(1.0) / n
    )
    se = (
        F.sqrt(F.greatest(F.lit(0.0), vx - 2.0 * r * cxy + r * r * vy))
        / ((F.col("sy") * F.lit(1.0) / n) * F.sqrt(n))
        / 100
    )
    return m.select(
        "n",
        F.round(r / 100, 6).alias("revenue_per_order"),
        F.round(se, 6).alias("se"),
        F.round(r / 100 - 1.96 * se, 6).alias("ci_lo"),
        F.round(r / 100 + 1.96 * se, 6).alias("ci_hi"),
    )


@register(
    "agg_customer_tenure_dist",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             datediff('day', MIN(o_orderdate), MAX(o_orderdate)) AS span,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT span // 365 AS tenure_years,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(AVG(n_orders), 6) AS avg_orders,
           CAST(MIN(span) AS BIGINT) AS min_span_days,
           CAST(MAX(span) AS BIGINT) AS max_span_days
    FROM per GROUP BY 1
    """,
)
def agg_customer_tenure_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer tenure distribution: first-to-last-order span bucketed
    into whole years, with how many customers land in each bucket
    and how order volume grows with tenure — the base-rate table
    behind every LTV extrapolation (agg_cohort_ltv projects value
    over time; this shows how much OBSERVED lifetime the data
    actually contains, the check that stops a 7-year LTV claim built
    on 18 months of history).  Spans are exact day differences;
    buckets are integer division.

    Scale (100 TB): one per-customer min/max/count combine, one
    bounded rollup — single scan."""
    o = load(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias("span"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    return per.groupBy(
        F.floor(F.col("span") / 365).cast("long").alias("tenure_years")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(F.avg("n_orders"), 6).alias("avg_orders"),
        F.min("span").cast("long").alias("min_span_days"),
        F.max("span").cast("long").alias("max_span_days"),
    )


@register(
    "feature_robust_scale",
    oracle="""
    WITH c AS (
      SELECT event_id, event_type, value,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    stats AS (
      SELECT event_type,
             quantile_cont(cents, 0.25) AS q1,
             quantile_cont(cents, 0.50) AS med,
             quantile_cont(cents, 0.75) AS q3
      FROM c GROUP BY event_type
    )
    SELECT c.event_id, c.event_type, c.value,
           round((c.cents - s.med) / NULLIF(s.q3 - s.q1, 0), 6) + 0.0
             AS robust_z
    FROM c JOIN stats s USING (event_type)
    """,
)
def feature_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/IQR robust scaling per event_type — the outlier-immune
    standardization (vs mean/std, which one 490-dollar event drags) every
    feature pipeline applies before distance-based models.  Exactness: the
    quartiles are computed on integer CENTS at p ∈ {.25,.5,.75}, where the
    interpolation fraction is a power-of-2-exact binary value — a+(b−a)·f
    over ints is bit-exact in both engines, so the only float op is the
    final division (then round-6, +0.0 normalizing any −0.0).

    Scale (100 TB): one aggregate computes 3 quantiles per type (swap in
    approx_percentile's mergeable sketch beyond memory), broadcast back as
    a |types|-row table; scaling is a narrow map projection."""
    e = load(spark, sf_dir, "events")
    from ..exprs import fp_scaled_long

    cents = fp_scaled_long(F.col("value"), 100)
    c = e.select("event_id", "event_type", "value", cents.alias("cents"))
    stats = c.groupBy("event_type").agg(
        F.percentile("cents", 0.25).alias("q1"),
        F.percentile("cents", 0.50).alias("med"),
        F.percentile("cents", 0.75).alias("q3"),
    )
    return c.join(F.broadcast(stats), "event_type").select(
        "event_id", "event_type", "value",
        # NULLIF guard (degenerate sweep): a constant type has IQR = 0 —
        # robust_z is NULL on both sides.
        (
            F.round(
                (F.col("cents") - F.col("med"))
                / F.nullif(F.col("q3") - F.col("q1"), F.lit(0.0)),
                6,
            )
            + 0.0
        ).alias("robust_z"),
    )


@register(
    "feature_cyclical_encode",
    oracle="""
    WITH g AS (
      SELECT CAST(EXTRACT(dow FROM ts) AS INTEGER) AS dow,
             CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT dow, hour, n_events,
           round(sin(2 * pi() * hour / 24.0), 6) + 0.0 AS sin_hour,
           round(cos(2 * pi() * hour / 24.0), 6) + 0.0 AS cos_hour,
           round(sin(2 * pi() * dow / 7.0), 6) + 0.0 AS sin_dow,
           round(cos(2 * pi() * dow / 7.0), 6) + 0.0 AS cos_dow
    FROM g
    """,
)
def feature_cyclical_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sin/cos cyclical encoding of hour-of-day and day-of-week — the
    standard trick that keeps 23:00 adjacent to 00:00 for any model with a
    distance metric (raw hour puts them 23 apart).  Computed on the
    distinct (dow,hour) grid with event counts, which is both the feature
    lookup table a pipeline broadcasts AND a load heatmap.  Engine parity:
    both sides build the identical argument double left-to-right
    (2·π·h/24), libm-vs-JVM sin differ by ≤1 ulp which round-6 absorbs,
    and +0.0 normalizes the −0.0 that rounding a negative tiny (e.g.
    cos(3π/2)) produces.  DOW convention pinned to Sunday=0 on both sides
    (Spark's dayofweek is 1-based).

    Scale (100 TB): one map-side-combined groupBy onto a ≤168-row grid;
    the trig runs on the grid, not the events."""
    import math

    e = load(spark, sf_dir, "events")
    g = (
        e.select(
            (F.dayofweek("ts") - 1).alias("dow"),
            F.hour("ts").alias("hour"),
        )
        .groupBy("dow", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    two_pi = F.lit(2.0) * math.pi

    def enc(fn, col, period):
        return F.round(fn(two_pi * F.col(col) / period), 6) + 0.0

    return g.select(
        "dow", "hour", "n_events",
        enc(F.sin, "hour", 24.0).alias("sin_hour"),
        enc(F.cos, "hour", 24.0).alias("cos_hour"),
        enc(F.sin, "dow", 7.0).alias("sin_dow"),
        enc(F.cos, "dow", 7.0).alias("cos_dow"),
    )


@register(
    "agg_interpurchase_time_cv",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT user_id,
             (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) // 1000000 AS gap_s
      FROM p
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    st AS (
      SELECT user_id,
             CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
             CAST(SUM(gap_s) AS BIGINT) AS s1,
             CAST(SUM(gap_s * gap_s) AS BIGINT) AS s2
      FROM gaps WHERE gap_s IS NOT NULL
      GROUP BY user_id
    ),
    cv AS (
      SELECT user_id, n_gaps,
             round(s1 / CAST(n_gaps AS DOUBLE) / 86400, 6) AS mean_gap_days,
             CASE WHEN s1 = 0 THEN NULL
                  ELSE sqrt((n_gaps * s2 - s1 * s1)
                            / CAST(n_gaps * (n_gaps - 1) AS DOUBLE))
                       / (s1 / CAST(n_gaps AS DOUBLE)) END AS cv_raw
      FROM st WHERE n_gaps >= 2
    )
    SELECT user_id, n_gaps, mean_gap_days,
           round(cv_raw, 6) AS cv,
           CASE WHEN cv_raw < 0.5 THEN 'regular'
                WHEN cv_raw < 1.0 THEN 'moderate'
                ELSE 'bursty' END AS regularity
    FROM cv
    """,
)
def agg_interpurchase_time_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase-time coefficient of variation per user — the
    regularity segmentation behind replenishment detection (cv << 1 =
    clockwork/subscription-like, cv ≈ 1 = Poisson-random, cv >> 1 =
    bursty), which ts_interarrival_stats' global view can't give per
    customer.  Gaps are exact integer seconds (µs diff floor-divided —
    the ts_sessionize precision rule); the variance numerator
    n·Σx²−(Σx)² stays inside BIGINT because gaps are in seconds, not
    µs (µs squares would overflow — the fixed-point cross-product trap);
    only the final sqrt/divisions are float.  Users need ≥2 gaps; the
    classification thresholds compare the UNrounded cv so the class and
    the reported value can't disagree.

    Scale (100 TB): one user-partitioned lag window plus a
    map-side-combinable moment aggregate — the canonical two-pass-free
    CV shape; output is |users with 3+ purchases| rows."""
    e = load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = p.select(
        "user_id",
        F.expr(
            "(unix_micros(ts) - unix_micros(lag(ts) over "
            "(partition by user_id order by ts, event_id))) DIV 1000000"
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    st = gaps.groupBy("user_id").agg(
        F.count("gap_s").cast("long").alias("n_gaps"),
        F.sum("gap_s").cast("long").alias("s1"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("long").alias("s2"),
    )
    n, s1, s2 = F.col("n_gaps"), F.col("s1"), F.col("s2")
    cv_raw = F.when(
        s1 == 0, F.lit(None).cast("double")
    ).otherwise(
        F.sqrt((n * s2 - s1 * s1) / (n * (n - 1)).cast("double"))
        / (s1 / n.cast("double"))
    )
    return (
        st.filter(n >= 2)
        .withColumn("cv_raw", cv_raw)
        .select(
            "user_id", "n_gaps",
            F.round(s1 / n.cast("double") / 86400, 6).alias("mean_gap_days"),
            F.round("cv_raw", 6).alias("cv"),
            F.when(F.col("cv_raw") < 0.5, "regular")
            .when(F.col("cv_raw") < 1.0, "moderate")
            .otherwise("bursty")
            .alias("regularity"),
        )
    )


@register(
    "agg_weekday_weekend_split",
    oracle="""
    WITH base AS (
      SELECT event_type, value,
             CAST(date_trunc('day', ts) AS DATE) AS d,
             CASE WHEN EXTRACT(dow FROM ts) IN (0, 6) THEN 1 ELSE 0 END AS wknd
      FROM events
    ),
    daycnt AS (
      SELECT CAST(COUNT(DISTINCT CASE WHEN wknd = 1 THEN d END) AS BIGINT)
               AS wknd_days,
             CAST(COUNT(DISTINCT CASE WHEN wknd = 0 THEN d END) AS BIGINT)
               AS wkdy_days
      FROM base
    )
    SELECT event_type,
           CAST(SUM(1 - wknd) AS BIGINT) AS n_weekday,
           CAST(SUM(wknd) AS BIGINT) AS n_weekend,
           round(CAST(SUM(wknd) AS BIGINT)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS weekend_share,
           round((CAST(SUM(wknd) AS BIGINT)
                  / CAST(NULLIF(MAX(dc.wknd_days), 0) AS DOUBLE))
                 / NULLIF(CAST(SUM(1 - wknd) AS BIGINT)
                    / CAST(NULLIF(MAX(dc.wkdy_days), 0) AS DOUBLE), 0), 6)
             AS weekend_daily_index
    FROM base CROSS JOIN daycnt dc
    GROUP BY event_type
    """,
)
def agg_weekday_weekend_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday/weekend behavior split per event_type: volumes, the
    weekend share, and the per-day weekend index (weekend events per
    weekend day ÷ weekday events per weekday day — 1.0 = no weekly
    rhythm), normalized by the OBSERVED day counts rather than an
    assumed 2/7 so partial months don't fake a weekday bias.  The
    Sunday=0 DOW convention is pinned on both sides.

    Scale (100 TB): the day-count scalar is one tiny aggregate cross-
    joined (broadcast) into a map-side-combined per-type rollup."""
    e = load(spark, sf_dir, "events")
    base = e.select(
        "event_type", "value",
        F.date_trunc("day", "ts").cast("date").alias("d"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wknd"),
    )
    daycnt = base.agg(
        F.countDistinct(F.when(F.col("wknd") == 1, F.col("d")))
        .cast("long")
        .alias("wknd_days"),
        F.countDistinct(F.when(F.col("wknd") == 0, F.col("d")))
        .cast("long")
        .alias("wkdy_days"),
    )
    g = base.crossJoin(F.broadcast(daycnt)).groupBy("event_type").agg(
        F.sum(1 - F.col("wknd")).cast("long").alias("n_weekday"),
        F.sum("wknd").cast("long").alias("n_weekend"),
        F.round(
            F.sum("wknd").cast("long") / F.count(F.lit(1)).cast("double"), 6
        ).alias("weekend_share"),
        # NULLIF guards (degenerate sweep): a span with no weekend (or no
        # weekday) days, or zero weekday events, zeroes the index base —
        # both sides agree on NULL.
        F.round(
            (
                F.sum("wknd").cast("long")
                / F.nullif(F.max("wknd_days").cast("double"), F.lit(0.0))
            )
            / F.nullif(
                F.sum(1 - F.col("wknd")).cast("long")
                / F.nullif(F.max("wkdy_days").cast("double"), F.lit(0.0)),
                F.lit(0.0),
            ),
            6,
        ).alias("weekend_daily_index"),
    )
    return g


@register(
    "agg_adstock_decay_correlation",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(CAST(SUM(CASE WHEN event_type = 'click'
                  THEN CAST(ROUND(value * 1000000) AS BIGINT) ELSE 0 END)
                  AS DOUBLE) / 1000000 AS DOUBLE) AS clicks,
             CAST(CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 1000000) AS BIGINT) ELSE 0 END)
                  AS DOUBLE) / 1000000 AS DOUBLE) AS purch
      FROM events GROUP BY 1
    ),
    ad AS (
      SELECT d, clicks, purch,
             list_reduce(list(clicks) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               (a, x) -> x + 0.5 * a) AS adstock
      FROM daily
    ),
    mu AS (
      SELECT CAST(ROUND(adstock * 1000000) AS BIGINT) AS ax,
             CAST(ROUND(purch * 1000000) AS BIGINT) AS py,
             CAST(ROUND(clicks * 1000000) AS BIGINT) AS cx
      FROM ad
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(ax) AS BIGINT) AS DOUBLE) AS sx,
             CAST(CAST(SUM(py) AS BIGINT) AS DOUBLE) AS sy,
             CAST(SUM(CAST(ax AS HUGEINT) * py) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(ax AS HUGEINT) * ax) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(py AS HUGEINT) * py) AS DOUBLE) AS syy,
             CAST(CAST(SUM(cx) AS BIGINT) AS DOUBLE) AS rx,
             CAST(SUM(CAST(cx AS HUGEINT) * py) AS DOUBLE) AS rxy,
             CAST(SUM(CAST(cx AS HUGEINT) * cx) AS DOUBLE) AS rxx
      FROM mu
    )
    SELECT n,
           round((n * sxy - sx * sy)
                 / NULLIF(sqrt(n * sxx - sx * sx)
                          * sqrt(n * syy - sy * sy), 0), 6)
             AS corr_adstock,
           round((n * rxy - rx * sy)
                 / NULLIF(sqrt(n * rxx - rx * rx)
                          * sqrt(n * syy - sy * sy), 0), 6)
             AS corr_raw
    FROM s
    """,
)
def agg_adstock_decay_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adstock (geometric carry-over, λ=0.5) of daily click value
    correlated with daily purchase value, next to the raw same-day
    correlation — the media-mix-modeling transform that answers 'does
    accounting for lagged ad effect explain revenue better'.  The
    adstock recursion is a SCALAR window fold (safe in both engines —
    only struct folds are broken, see ts_holt_linear_smoothing); the
    correlation moments quantize the series to exact integer micro-units
    and cross-multiply in HUGEINT/decimal(38,0) (int64 would overflow —
    the fixed-point cross-product trap), casting to double only for the
    final closed-form Pearson expression, identical text on both sides.

    Scale (100 TB): events collapse map-side to the |days| axis; fold
    and moments run on that axis.  Per-channel adstock adds a partition
    key to the window and a group key to the moments."""
    e = load(spark, sf_dir, "events")
    from ..exprs import lsum as _lsum

    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(
        _lsum(F.when(F.col("event_type") == "click", F.col("value")).otherwise(0.0))
        .alias("clicks"),
        _lsum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0))
        .alias("purch"),
    )
    wexp = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    vals = F.collect_list("clicks").over(wexp)
    adstock = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda a, x: x + F.lit(0.5) * a,
    )
    ad = daily.select("d", "clicks", "purch", adstock.alias("adstock"))
    mu = ad.select(
        (F.col("adstock") * 1_000_000 + F.lit(0.5)).cast("long").alias("ax"),
        (F.col("purch") * 1_000_000 + F.lit(0.5)).cast("long").alias("py"),
        (F.col("clicks") * 1_000_000 + F.lit(0.5)).cast("long").alias("cx"),
    )

    def wide(col):
        return F.col(col).cast("decimal(38,0)")

    s = mu.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ax").cast("long").cast("double").alias("sx"),
        F.sum("py").cast("long").cast("double").alias("sy"),
        F.sum(wide("ax") * F.col("py")).cast("double").alias("sxy"),
        F.sum(wide("ax") * F.col("ax")).cast("double").alias("sxx"),
        F.sum(wide("py") * F.col("py")).cast("double").alias("syy"),
        F.sum("cx").cast("long").cast("double").alias("rx"),
        F.sum(wide("cx") * F.col("py")).cast("double").alias("rxy"),
        F.sum(wide("cx") * F.col("cx")).cast("double").alias("rxx"),
    )
    n = F.col("n")
    # NULLIF guards (degenerate sweep): a constant series zeroes either
    # Pearson variance — both sides agree on NULL.
    return s.select(
        "n",
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.nullif(
                F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy")),
                F.lit(0.0),
            ),
            6,
        ).alias("corr_adstock"),
        F.round(
            (n * F.col("rxy") - F.col("rx") * F.col("sy"))
            / F.nullif(
                F.sqrt(n * F.col("rxx") - F.col("rx") * F.col("rx"))
                * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy")),
                F.lit(0.0),
            ),
            6,
        ).alias("corr_raw"),
    )


@register(
    "agg_next_basket_pairs",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_orderkey,
             LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey)
               AS next_orderkey
      FROM orders
    ),
    cur_cat AS (
      SELECT DISTINCT s.o_custkey, s.o_orderkey, s.next_orderkey,
             l.l_partkey % 50 AS cat_a
      FROM seq s JOIN lineitem l ON l.l_orderkey = s.o_orderkey
      WHERE s.next_orderkey IS NOT NULL
    ),
    pairs AS (
      SELECT c.cat_a, l2.l_partkey % 50 AS cat_b
      FROM cur_cat c JOIN lineitem l2 ON l2.l_orderkey = c.next_orderkey
    ),
    counted AS (
      SELECT cat_a, cat_b, CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs GROUP BY 1, 2
    ),
    ranked AS (
      SELECT cat_a, cat_b, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, cat_a, cat_b) AS rnk
      FROM counted
    )
    SELECT rnk, cat_a, cat_b, n FROM ranked WHERE rnk <= 20
    """,
)
def agg_next_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-basket transitions: which part CATEGORY a customer's next
    order contains, given a category in the current order — the
    sequential sibling of basket_pair_counts (same basket) and the
    candidate generator for next-purchase recommendation.  Category =
    partkey mod 50 (item-level pairs are all count-1 on this fixture —
    category-level transitions concentrate).  Orders sequence per
    customer via LEAD with the (date, orderkey) total order; the current
    side is DISTINCT per (order, category) so one order with three
    same-category items doesn't triple-count the transition; top-20 with
    deterministic tie-break.

    Scale (100 TB): the LEAD window keys on custkey; both basket joins
    are equi-key on orderkey; pair counts combine map-side onto the
    bounded category² grid."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey", "o_orderkey",
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    ).filter(F.col("next_orderkey").isNotNull())
    cur_cat = (
        seq.join(li, seq.o_orderkey == li.l_orderkey)
        .select(
            "o_custkey", "o_orderkey", "next_orderkey",
            (F.col("l_partkey") % 50).alias("cat_a"),
        )
        .distinct()
    )
    li2 = li.select(
        F.col("l_orderkey").alias("next_orderkey"),
        (F.col("l_partkey") % 50).alias("cat_b"),
    )
    counted = (
        cur_cat.join(li2, "next_orderkey")
        .groupBy("cat_a", "cat_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wr = Window.orderBy(F.col("n").desc(), "cat_a", "cat_b")
    return (
        counted.select(
            F.row_number().over(wr).alias("rnk"), "cat_a", "cat_b", "n"
        )
        .filter(F.col("rnk") <= 20)
    )


@register(
    "agg_reorder_point_calc",
    oracle="""
    WITH daily AS (
      SELECT l_partkey,
             CAST(date_trunc('day', l_shipdate) AS DATE) AS d,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem WHERE l_partkey % 25 = 0
      GROUP BY 1, 2
    ),
    span AS (
      SELECT CAST(date_diff('day', MIN(d), MAX(d)) + 1 AS BIGINT)
        AS n_days
      FROM daily
    ),
    st AS (
      SELECT l_partkey,
             CAST(SUM(q) AS BIGINT) AS s1,
             CAST(SUM(CAST(q AS HUGEINT) * q) AS BIGINT) AS s2,
             CAST(COUNT(*) AS BIGINT) AS n_active,
             MAX(sp.n_days) AS n_days
      FROM daily CROSS JOIN span sp
      GROUP BY l_partkey
    )
    SELECT l_partkey, n_active, n_days,
           round(s1 / CAST(n_days AS DOUBLE), 6) AS mu_daily,
           round(sqrt((s2 - CAST(s1 AS HUGEINT) * s1 / CAST(n_days AS DOUBLE))
                      / CAST(n_days AS DOUBLE)), 6) AS sigma_daily,
           CAST(l_partkey % 7 + 3 AS BIGINT) AS lead_days,
           round(s1 / CAST(n_days AS DOUBLE) * (l_partkey % 7 + 3)
                 + 1.645 * sqrt((s2 - CAST(s1 AS HUGEINT) * s1
                                 / CAST(n_days AS DOUBLE))
                                / CAST(n_days AS DOUBLE))
                   * sqrt(CAST(l_partkey % 7 + 3 AS DOUBLE)), 6)
             AS reorder_point
    FROM st
    """,
)
def agg_reorder_point_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder-point (ROP) calculation per part: daily-demand mean and
    population std over the FULL calendar span (zero-demand days count —
    dividing by active days only would inflate μ for slow movers), a
    deterministic synthetic lead time, and ROP = μL + z·σ√L at 95%
    service (z=1.645) — the standard continuous-review inventory policy.
    Demand moments come from exact BIGINT sums with the HUGEINT
    cross-product guard; the zero-day correction works because Σq and
    Σq² over active days equal the sums over all days (zeros contribute
    nothing), so no calendar expansion is needed.

    Scale (100 TB): one (part, day) aggregate, one per-part moment
    aggregate riding the same key, one scalar span cross-join — demand
    history never expands to the calendar grid."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 25 == 0)
    q = (F.col("l_quantity") + F.lit(0.5)).cast("long")  # qty > 0, integral
    daily = li.groupBy(
        "l_partkey", F.date_trunc("day", "l_shipdate").cast("date").alias("d")
    ).agg(F.sum(q).cast("long").alias("q"))
    span = daily.agg(
        (F.datediff(F.max("d"), F.min("d")) + 1).cast("long").alias("n_days")
    )
    st = daily.crossJoin(F.broadcast(span)).groupBy("l_partkey").agg(
        F.sum("q").cast("long").alias("s1"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).cast("long").alias("s2"),
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.max("n_days").alias("n_days"),
    )
    nd = F.col("n_days").cast("double")
    mu = F.col("s1") / nd
    var = (
        F.col("s2") - F.col("s1").cast("decimal(38,0)") * F.col("s1") / nd
    ) / nd
    sigma = F.sqrt(var)
    lead = F.col("l_partkey") % 7 + 3
    return st.select(
        "l_partkey", "n_active", "n_days",
        F.round(mu, 6).alias("mu_daily"),
        F.round(sigma, 6).alias("sigma_daily"),
        lead.cast("long").alias("lead_days"),
        F.round(
            mu * lead + F.lit(1.645) * sigma * F.sqrt(lead.cast("double")), 6
        ).alias("reorder_point"),
    )


_MK_CHANNELS = ("click", "error", "signup", "view")  # alphabetical, fixed
_MK_DSTS = ("click", "conv", "error", "null", "signup", "view")
_MK_ITERS = 60


def _markov_edges_sql() -> str:
    """Transition edges (src, dst, cnt) of the first-purchase journey
    chain: start → channels → conv (first purchase) / null (no purchase)."""
    return """
      seqd AS (
        SELECT user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS rn,
               CASE WHEN event_type = 'purchase' THEN 'conv'
                    ELSE event_type END AS state
        FROM events
        WHERE event_type IS NOT NULL
      ),
      lim AS (
        SELECT user_id,
               COALESCE(MIN(CASE WHEN state = 'conv' THEN rn END),
                        MAX(rn)) AS last_rn,
               MIN(CASE WHEN state = 'conv' THEN rn END) IS NOT NULL
                 AS converted
        FROM seqd GROUP BY user_id
      ),
      kept AS (
        SELECT s.user_id, s.rn, s.state, l.last_rn, l.converted
        FROM seqd s JOIN lim l USING (user_id)
        WHERE s.rn <= l.last_rn
      ),
      hops AS (
        SELECT user_id,
               COALESCE(LAG(state) OVER (PARTITION BY user_id ORDER BY rn),
                        'start') AS src,
               state AS dst
        FROM kept
        UNION ALL
        SELECT user_id, state AS src, 'null' AS dst
        FROM kept WHERE NOT converted AND rn = last_rn
      ),
      edges AS (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM hops GROUP BY src, dst
      )
    """


def _markov_oracle() -> str:
    srcs = ("start",) + _MK_CHANNELS
    # pivoted per-variant transition probabilities: SUM(CASE...) per cell —
    # the removal redirect merges at most TWO edges per cell (dst=c plus the
    # existing dst=null), and two-operand IEEE addition is commutative, so
    # the pivot is order-free
    cells = ",\n".join(
        f"             SUM(CASE WHEN src = '{s}' AND rdst = '{d}' "
        f"THEN prob ELSE 0.0 END) AS p_{s}_{d}"
        for s in srcs
        for d in _MK_DSTS
    )
    # one fold expression per transient state, fixed alphabetical dst order
    def fold(s: str, prev: str) -> str:
        terms = []
        for d in _MK_DSTS:
            if d == "conv":
                pd = "1.0"
            elif d == "null":
                pd = "0.0"
            else:
                pd = f"{prev}.p_{d}"
            terms.append(f"pr.p_{s}_{d} * {pd}")
        return " + ".join(terms)

    folds = ",\n".join(
        f"             {fold(s, 'w')} AS p_{s}" for s in srcs
    )
    # CAST the base-case literals: a bare 0.0 types as DECIMAL(2,1) and
    # DuckDB unifies the WHOLE recursion to it, quantizing every iterate
    base_cols = ", ".join(f"CAST(0 AS DOUBLE) AS p_{s}" for s in srcs)
    variants = ", ".join(
        ["('base', NULL)"] + [f"('{c}', '{c}')" for c in _MK_CHANNELS]
    )
    pivots = ", ".join(
        f"MAX(CASE WHEN variant = '{v}' THEN p_start END) AS ps_{v}"
        for v in ("base",) + _MK_CHANNELS
    )
    # NULLIF guards (degenerate sweep): a zero-conversion chain has
    # ps_base = 0 (removal effects undefined) and a no-effect chain a
    # zero share denominator — NULL on both sides.
    re_terms = {
        c: f"(ps_base - ps_{c}) / NULLIF(ps_base, 0)" for c in _MK_CHANNELS
    }
    denom = " + ".join(f"re_{c}" for c in _MK_CHANNELS)
    per_channel = "\n    UNION ALL\n".join(
        f"    SELECT '{c}' AS channel, round(ps_{c}, 6) AS conv_prob_without,"
        f" round(ps_base, 6) AS base_conv_prob,"
        f" round(re_{c}, 6) AS removal_effect,"
        f" round(re_{c} / NULLIF({denom}, 0), 6) AS attribution_share"
        f" FROM wide"
        for c in _MK_CHANNELS
    )
    return f"""
    WITH RECURSIVE
    {_markov_edges_sql().strip()},
    totals AS (
      SELECT src, CAST(SUM(cnt) AS BIGINT) AS total FROM edges GROUP BY src
    ),
    variants(variant, removed) AS (VALUES {variants}),
    redge AS (
      SELECT v.variant, e.src,
             CASE WHEN e.dst = v.removed THEN 'null' ELSE e.dst END AS rdst,
             e.cnt / CAST(t.total AS DOUBLE) AS prob
      FROM edges e JOIN totals t USING (src)
      CROSS JOIN variants v
    ),
    probs AS (
      SELECT variant,
{cells}
      FROM redge GROUP BY variant
    ),
    walk(variant, it, {", ".join("p_" + s for s in srcs)}) AS (
      SELECT variant, 0, {base_cols} FROM probs
      UNION ALL
      SELECT w.variant, w.it + 1,
{folds}
      FROM walk w JOIN probs pr ON pr.variant = w.variant
      WHERE w.it < {_MK_ITERS}
    ),
    finals AS (SELECT variant, p_start FROM walk WHERE it = {_MK_ITERS}),
    pivoted AS (
      SELECT {pivots} FROM finals
    ),
    wide AS (
      SELECT *,
             {", ".join(f"{expr} AS re_{c}" for c, expr in re_terms.items())}
      FROM pivoted
    )
{per_channel}
    """


@register("attribution_markov_removal", oracle=_markov_oracle())
def attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution: model user journeys
    (start → channel → … → first purchase / no purchase) as a first-order
    Markov chain, compute the absorbing conversion probability from
    'start' by fixed-point iteration, then re-run it with each channel's
    inbound edges redirected to 'null' — a channel's attribution is how
    much conversion collapses without it, normalized across channels.
    The data-driven alternative to positional rules
    (attribution_last_touch / attribution_position_based), which cannot
    see that a channel mid-path is load-bearing.

    Engine parity: transition probabilities are exact-count ratios; the
    60 fixed-point iterations run over a WIDE state vector (one column
    per transient state) so every inner product is an explicit
    fixed-order expression — Spark's driver-side float loop and the
    oracle's recursive CTE execute the identical IEEE sequence.  The
    removal redirect merges at most two edges per cell (two-operand
    addition is commutative-exact), keeping the pivot order-free.

    Scale (100 TB): journeys reduce to ≤|states|² edge counts via one
    window + one aggregate (the documented bounded-collect exception,
    registry.py: the chain solve touches a ≤36-cell matrix, never data);
    everything before the collect is distributed."""
    # NULL-type events are not journey touchpoints: an unlabeled state
    # can be neither a channel nor an absorber (oracle filters the same)
    e = load(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seqd = e.select(
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.when(F.col("event_type") == "purchase", "conv")
        .otherwise(F.col("event_type"))
        .alias("state"),
    )
    lim = seqd.groupBy("user_id").agg(
        F.coalesce(
            F.min(F.when(F.col("state") == "conv", F.col("rn"))), F.max("rn")
        ).alias("last_rn"),
        F.min(F.when(F.col("state") == "conv", F.col("rn"))).isNotNull().alias(
            "converted"
        ),
    )
    kept = seqd.join(lim, "user_id").filter(F.col("rn") <= F.col("last_rn"))
    wk = Window.partitionBy("user_id").orderBy("rn")
    hops = kept.select(
        F.coalesce(F.lag("state").over(wk), F.lit("start")).alias("src"),
        F.col("state").alias("dst"),
    ).unionByName(
        kept.filter(~F.col("converted") & (F.col("rn") == F.col("last_rn"))).select(
            F.col("state").alias("src"), F.lit("null").alias("dst")
        )
    )
    edges = {
        (r["src"], r["dst"]): r["cnt"]
        for r in hops.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    totals: dict[str, int] = {}
    for (s, _), c in edges.items():
        totals[s] = totals.get(s, 0) + c
    srcs = ("start",) + _MK_CHANNELS

    def solve(removed: str | None) -> float:
        P = {
            s: {d: 0.0 for d in _MK_DSTS} for s in srcs
        }
        for (s, d), c in sorted(edges.items()):
            if s not in P:
                continue  # 'conv'/'null' never source transitions
            rd = "null" if d == removed else d
            if rd not in _MK_DSTS:
                # out-of-taxonomy state (hostile-strings sweep: an exotic
                # event_type is not a modeled channel): its transition
                # mass drops, exactly as the oracle's fixed CASE pivot
                # never matches it — totals still include it, so the
                # remaining probabilities stay sub-stochastic identically
                continue
            P[s][rd] = P[s][rd] + c / float(totals[s])
        p = {s: 0.0 for s in srcs}
        for _ in range(_MK_ITERS):
            nxt = {}
            for s in srcs:
                acc = None
                for d in _MK_DSTS:
                    pd = (
                        1.0
                        if d == "conv"
                        else 0.0
                        if d == "null"
                        else p[d]
                        if d in p
                        else 0.0
                    )
                    term = P[s][d] * pd
                    acc = term if acc is None else acc + term
                nxt[s] = acc
            p = nxt
        return p["start"]

    if not edges:
        # Empty-sweep guard: with no observed journeys the chain never
        # materializes — every probability is undefined (NULL), matching
        # the oracle's pivot over an empty recursion (not a 0.0 fold
        # over an all-zero matrix).
        rows = [(c, None, None, None, None) for c in _MK_CHANNELS]
        return spark.createDataFrame(
            rows,
            "channel string, conv_prob_without double, "
            "base_conv_prob double, removal_effect double, "
            "attribution_share double",
        )
    base = solve(None)
    removed_p = {c: solve(c) for c in _MK_CHANNELS}
    # degenerate-sweep guard: base = 0 (no conversions) leaves removal
    # effects undefined; a zero effect sum leaves shares undefined —
    # None mirrors the oracle's NULLIF exactly
    re = {
        c: (base - removed_p[c]) / base if base != 0.0 else None
        for c in _MK_CHANNELS
    }
    if any(v is None for v in re.values()):
        denom = None
    else:
        denom = re["click"] + re["error"] + re["signup"] + re["view"]
    rows = [
        (
            c,
            removed_p[c],
            base,
            re[c],
            re[c] / denom if re[c] is not None and denom else None,
        )
        for c in _MK_CHANNELS
    ]
    raw = spark.createDataFrame(
        rows,
        "channel string, conv_prob_without double, base_conv_prob double, "
        "removal_effect double, attribution_share double",
    )
    # rounding happens IN Spark (half-up, matching the oracle's round())
    # — python's round() is banker's and would diverge at .5 boundaries
    return raw.select(
        "channel",
        F.round("conv_prob_without", 6).alias("conv_prob_without"),
        F.round("base_conv_prob", 6).alias("base_conv_prob"),
        F.round("removal_effect", 6).alias("removal_effect"),
        F.round("attribution_share", 6).alias("attribution_share"),
    )


@register(
    "attribution_time_decay",
    oracle="""
    WITH seqd AS (
      SELECT user_id, ts, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    convs AS (
      SELECT user_id, rn AS conv_rn, ts AS conv_ts,
             COALESCE(LAG(rn) OVER (PARTITION BY user_id ORDER BY rn), 0)
               AS prev_conv_rn
      FROM seqd WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT s.user_id, c.conv_rn, s.event_type,
             1.0 / (1.0 + (epoch_us(c.conv_ts) - epoch_us(s.ts))
                          / 3600000000.0) AS w
      FROM seqd s
      JOIN convs c ON c.user_id = s.user_id
                  AND s.rn > c.prev_conv_rn AND s.rn < c.conv_rn
      WHERE s.event_type <> 'purchase'
    ),
    normed AS (
      SELECT user_id, conv_rn, event_type,
             CAST(round(w, 9) AS DECIMAL(18,9)) AS wq
      FROM touches
    ),
    shares AS (
      SELECT user_id, conv_rn, event_type,
             CAST(SUM(wq) AS DOUBLE)
               / CAST(SUM(SUM(wq)) OVER (PARTITION BY user_id, conv_rn)
                      AS DOUBLE) AS share
      FROM normed GROUP BY user_id, conv_rn, event_type
    )
    SELECT event_type AS channel,
           CAST(COUNT(DISTINCT user_id || '#' || conv_rn) AS BIGINT)
             AS n_conversions_touched,
           round(CAST(SUM(CAST(round(share, 9) AS DECIMAL(18,9)))
                      AS DOUBLE), 6) AS credit,
           round(CAST(SUM(CAST(round(share, 9) AS DECIMAL(18,9))) AS DOUBLE)
                 / (SELECT CAST(SUM(CAST(round(share, 9) AS DECIMAL(18,9)))
                           AS DOUBLE) FROM shares), 6) AS credit_share
    FROM shares GROUP BY event_type
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every non-purchase touch
    between two purchases credits the LATER purchase with weight
    1/(1+Δhours) — recency-weighted, then normalized per conversion so
    each conversion distributes exactly one unit of credit; channel
    totals and shares roll up across conversions.  Between last-touch
    (all credit to the final touch) and linear (equal credit), this is
    the standard middle ground; the hyperbolic kernel is chosen over
    exp(−Δt/τ) because it is division-only — bit-exact in both engines —
    and the swap is one line.

    Determinism: raw weights are exact double arithmetic; per-conversion
    and per-channel reductions quantize to 9 dp and sum in DECIMAL so no
    float accumulation order leaks into the hash (round-6 output).

    Scale (100 TB): touches join conversions per user (one user-keyed
    shuffle); per-conversion normalization is a window over the same
    key; channel rollup is map-side-combined."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seqd = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.row_number().over(w).alias("rn"),
    )
    wc = Window.partitionBy("user_id").orderBy("rn")
    convs = seqd.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("rn").alias("conv_rn"),
        F.col("ts").alias("conv_ts"),
        F.coalesce(F.lag("rn").over(wc), F.lit(0)).alias("prev_conv_rn"),
    )
    s, c = seqd.alias("s"), convs.alias("c")
    touches = (
        s.join(
            c,
            (F.col("s.user_id") == F.col("c.user_id"))
            & (F.col("s.rn") > F.col("c.prev_conv_rn"))
            & (F.col("s.rn") < F.col("c.conv_rn")),
        )
        .filter(F.col("s.event_type") != "purchase")
        .select(
            F.col("s.user_id").alias("user_id"),
            F.col("c.conv_rn").alias("conv_rn"),
            F.col("s.event_type").alias("event_type"),
            (
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + (
                        F.unix_micros(F.col("c.conv_ts"))
                        - F.unix_micros(F.col("s.ts"))
                    )
                    / F.lit(3600000000.0)
                )
            ).alias("w"),
        )
    )
    normed = touches.select(
        "user_id", "conv_rn", "event_type",
        F.round("w", 9).cast("decimal(18,9)").alias("wq"),
    )
    grp = normed.groupBy("user_id", "conv_rn", "event_type").agg(
        F.sum("wq").alias("swq")
    )
    wconv = Window.partitionBy("user_id", "conv_rn")
    shares = grp.select(
        "user_id", "conv_rn", "event_type",
        (
            F.col("swq").cast("double")
            / F.sum("swq").over(wconv).cast("double")
        ).alias("share"),
    )
    sq = F.round("share", 9).cast("decimal(18,9)")
    per_channel = shares.groupBy(F.col("event_type").alias("channel")).agg(
        F.countDistinct(
            F.concat_ws("#", F.col("user_id"), F.col("conv_rn"))
        ).cast("long").alias("n_conversions_touched"),
        F.sum(sq).cast("double").alias("credit_raw"),
    )
    tot = shares.agg(F.sum(sq).cast("double").alias("total_credit"))
    return per_channel.crossJoin(F.broadcast(tot)).select(
        "channel", "n_conversions_touched",
        F.round("credit_raw", 6).alias("credit"),
        F.round(F.col("credit_raw") / F.col("total_credit"), 6).alias("credit_share"),
    )


@register(
    "agg_queueing_mm1_metrics",
    oracle="""
    WITH iv AS (
      SELECT CAST(o_orderdate AS DATE) AS arr,
             CAST(o_orderkey % 30 + 1 AS BIGINT) AS dur_days
      FROM orders
    ),
    bounds AS (
      SELECT CAST(date_diff('day', MIN(arr),
                            MAX(arr + CAST(dur_days AS INTEGER))) AS BIGINT)
        AS horizon
      FROM iv
    ),
    rates AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             MAX(b.horizon) AS horizon,
             COUNT(*) / CAST(MAX(b.horizon) AS DOUBLE) AS lam,
             CAST(SUM(dur_days) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS es
      FROM iv CROSS JOIN bounds b
    )
    SELECT n, horizon,
           round(lam, 6) AS arrival_rate,
           round(1.0 / es, 6) AS service_rate,
           round(lam * es, 6) AS offered_load,
           round(lam * es / 128.0, 6) AS per_server_util,
           CASE WHEN lam * es / 128.0 >= 1.0 THEN NULL
                ELSE round((lam * es / 128.0) * (lam * es / 128.0)
                           / (1.0 - lam * es / 128.0), 6)
           END AS lq_per_server,
           CASE WHEN lam * es / 128.0 >= 1.0 THEN NULL
                ELSE round((lam * es / 128.0) * es
                           / (1.0 - lam * es / 128.0), 6)
           END AS wq_days_per_server
    FROM rates
    """,
)
def agg_queueing_mm1_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M/M/1 queueing summary of the order in-flight system: arrival
    rate λ, service rate μ=1/E[S], utilization ρ=λ·E[S], and the
    steady-state queue length Lq = ρ²/(1−ρ) and wait Wq = ρ·E[S]/(1−ρ)
    — the capacity-planning companion to agg_littles_law_check (Little's
    law is model-free accounting; queueing adds the variability penalty
    that says WHY 85% utilization hurts).  The offered load here is
    ρ ≈ 95, so the report models a c = 128 server pool under random
    routing and gives PER-SERVER M/M/1 utilization, queue length, and
    wait (the pessimistic bound — a shared queue does strictly better);
    the ρ ≥ 1 instability guard is identical in both engines, and all
    rates derive from exact integer order-days.

    Scale (100 TB): one aggregate over the interval table plus a scalar
    bound — same shape as the Little's-law check."""
    o = load(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_orderdate").cast("date").alias("arr"),
        (F.col("o_orderkey") % 30 + 1).cast("long").alias("dur_days"),
    )
    bounds = iv.agg(
        F.datediff(
            F.max(F.date_add(F.col("arr"), F.col("dur_days").cast("int"))),
            F.min("arr"),
        )
        .cast("long")
        .alias("horizon")
    )
    j = iv.crossJoin(F.broadcast(bounds))
    n = F.count(F.lit(1)).cast("long")
    horizon = F.max("horizon")
    lam = n / horizon.cast("double")
    es = F.sum("dur_days").cast("long") / n.cast("double")
    rho = lam * es
    rho_c = lam * es / 128.0
    return j.agg(
        n.alias("n"),
        horizon.alias("horizon"),
        F.round(lam, 6).alias("arrival_rate"),
        F.round(F.lit(1.0) / es, 6).alias("service_rate"),
        F.round(rho, 6).alias("offered_load"),
        F.round(rho_c, 6).alias("per_server_util"),
        F.when(rho_c >= 1.0, F.lit(None).cast("double"))
        .otherwise(F.round(rho_c * rho_c / (F.lit(1.0) - rho_c), 6))
        .alias("lq_per_server"),
        F.when(rho_c >= 1.0, F.lit(None).cast("double"))
        .otherwise(F.round(rho_c * es / (F.lit(1.0) - rho_c), 6))
        .alias("wq_days_per_server"),
    )


@register(
    "ab_sequential_obf",
    oracle="""
    WITH base AS (
      SELECT user_id,
             CASE WHEN strpos('0123456789abcdef',
                              substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1
                       < 8
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(CEIL(EXTRACT(day FROM ts) / 7.0) AS INTEGER) AS wk,
             CASE WHEN event_type = 'purchase' AND value > 90
                  THEN 1 ELSE 0 END AS conv_event
      FROM events
    ),
    per_user AS (
      SELECT arm, look, user_id, MAX(conv_event) AS converted
      FROM base CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS look) ks
      WHERE wk <= look
      GROUP BY arm, look, user_id
    ),
    looks AS (
      SELECT look, arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv
      FROM per_user GROUP BY look, arm
    ),
    wide AS (
      SELECT look,
             MAX(CASE WHEN arm = 'A' THEN n END) AS na,
             MAX(CASE WHEN arm = 'A' THEN conv END) AS ca,
             MAX(CASE WHEN arm = 'B' THEN n END) AS nb,
             MAX(CASE WHEN arm = 'B' THEN conv END) AS cb
      FROM looks GROUP BY look
    ),
    z AS (
      SELECT look, na, ca, nb, cb,
             (ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE))
             / NULLIF(sqrt((ca + cb) / CAST(na + nb AS DOUBLE)
                           * (1.0 - (ca + cb) / CAST(na + nb AS DOUBLE))
                           * (1.0 / na + 1.0 / nb)), 0) AS zstat,
             CAST(CASE look WHEN 1 THEN 4.049 WHEN 2 THEN 2.863
                       WHEN 3 THEN 2.337 ELSE 2.024 END AS DOUBLE)
               AS obf_bound
      FROM wide
    )
    SELECT look, na, ca, nb, cb,
           round(zstat, 6) AS zstat, obf_bound,
           CASE WHEN abs(zstat) >= obf_bound THEN 1 ELSE 0 END AS crossed
    FROM z
    """,
)
def ab_sequential_obf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring with O'Brien-Fleming boundaries:
    the experiment is 'peeked' at four weekly looks, each computing the
    cumulative two-proportion z on users seen SO FAR, compared against
    the OBF spending boundaries (4.049 / 2.863 / 2.337 / 2.024 for K=4,
    α=0.05 two-sided) — the statistically-licensed way to stop early
    that naive repeated ab_two_proportion_ztest peeking is not.  Arms
    come from the house md5 user split (8/16 → A); conversion = a
    >90-value purchase (top-decile tightening so neither arm saturates —
    the saturated-outcome trap).  Each look's z uses exact cumulative
    counts; the boundary constants are literals on both sides.

    Scale (100 TB): the look expansion is a 4-row broadcast cross join;
    per-(look, arm) counts combine map-side; the z table is 4 rows."""
    e = load(spark, sf_dir, "events")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 32, 1), 16, 10)
        .cast("long")
        < 8,
        "A",
    ).otherwise("B")
    looks = e.sparkSession.createDataFrame([(1,), (2,), (3,), (4,)], "look int")
    base = e.select(
        "user_id",
        arm.alias("arm"),
        F.ceil(F.dayofmonth("ts") / 7.0).cast("int").alias("wk"),
        F.when(
            (F.col("event_type") == "purchase") & (F.col("value") > 90), 1
        )
        .otherwise(0)
        .alias("conv_event"),
    )
    per_user = (
        base.crossJoin(F.broadcast(looks))
        .filter(F.col("wk") <= F.col("look"))
        .groupBy("arm", "look", "user_id")
        .agg(F.max("conv_event").alias("converted"))
    )
    lk = per_user.groupBy("look", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    wide = lk.groupBy("look").agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("conv"))).alias("ca"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("conv"))).alias("cb"),
    )
    pa = F.col("ca") / F.col("na").cast("double")
    pb = F.col("cb") / F.col("nb").cast("double")
    pp = (F.col("ca") + F.col("cb")) / (F.col("na") + F.col("nb")).cast("double")
    # NULLIF guard (NULL-regime sweep): a saturated or zero-conversion
    # pooled rate zeroes the variance — z is undefined, not a crash
    z = (pa - pb) / F.nullif(
        F.sqrt(
            pp * (F.lit(1.0) - pp)
            * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
        ),
        F.lit(0.0),
    )
    bound = (
        F.when(F.col("look") == 1, 4.049)
        .when(F.col("look") == 2, 2.863)
        .when(F.col("look") == 3, 2.337)
        .otherwise(2.024)
    )
    scored = wide.select(
        "look", "na", "ca", "nb", "cb",
        z.alias("zraw"),
        bound.alias("obf_bound"),
    )
    return scored.select(
        "look", "na", "ca", "nb", "cb",
        F.round("zraw", 6).alias("zstat"),
        "obf_bound",
        F.when(F.abs(F.col("zraw")) >= F.col("obf_bound"), 1)
        .otherwise(0)
        .alias("crossed"),
    )


@register(
    "eval_offpolicy_ips",
    oracle="""
    WITH logged AS (
      SELECT o_orderkey,
             CASE WHEN strpos('0123456789abcdef',
                              substr(md5(CAST(o_orderkey AS VARCHAR)), 32, 1))
                       - 1 < 8
                  THEN 'promo' ELSE 'no_promo' END AS logged_action,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 'promo' ELSE 'no_promo' END AS target_action,
             CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS reward
      FROM orders
    ),
    w AS (
      SELECT reward,
             CASE WHEN logged_action = target_action THEN 2 ELSE 0 END AS wt
      FROM logged
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN wt > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           round(CAST(SUM(CAST(reward * wt AS BIGINT)) AS BIGINT)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS ips_value,
           round(CAST(SUM(CAST(reward * wt AS BIGINT)) AS BIGINT)
                 / CAST(SUM(CAST(wt AS BIGINT)) AS DOUBLE), 6) AS snips_value,
           round(CAST(SUM(reward) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 6)
             AS logged_policy_value
    FROM w
    """,
)
def eval_offpolicy_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation by inverse propensity scoring: estimate what
    a TARGET promo policy ('promo to urgent/high-priority orders') would
    earn from logs collected under a DIFFERENT logged policy (a uniform
    50/50 hash assignment, so the propensity is exactly 0.5 and the IPS
    weight is exactly 2 on matching actions) — the counterfactual
    answer-without-an-experiment every bandit/recommender team needs,
    with the self-normalized SNIPS variant alongside (lower variance,
    slight bias) and the logged policy's own value as the baseline.
    Every term is an exact integer (rewards 0/1, weights 0/2) until the
    final divisions.

    Scale (100 TB): a narrow map projection and one global rollup;
    per-segment policy values add a group key."""
    o = load(spark, sf_dir, "orders")
    logged_action = F.when(
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 32, 1), 16, 10
        ).cast("long")
        < 8,
        "promo",
    ).otherwise("no_promo")
    target_action = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "promo"
    ).otherwise("no_promo")
    w = o.select(
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("reward"),
        F.when(logged_action == target_action, 2).otherwise(0).alias("wt"),
    )
    return w.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("wt") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_matched"),
        F.round(
            F.sum((F.col("reward") * F.col("wt")).cast("long")).cast("long")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("ips_value"),
        F.round(
            F.sum((F.col("reward") * F.col("wt")).cast("long")).cast("long")
            / F.sum(F.col("wt").cast("long")).cast("double"),
            6,
        ).alias("snips_value"),
        F.round(
            F.sum("reward").cast("long") / F.count(F.lit(1)).cast("double"), 6
        ).alias("logged_policy_value"),
    )


@register(
    "agg_repeat_rate_by_first_value",
    oracle="""
    WITH purch AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS pn,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_purch
      FROM events WHERE event_type = 'purchase'
    ),
    firsts AS (
      SELECT user_id, n_purch,
             CASE WHEN value < 15 THEN 'low'
                  WHEN value < 60 THEN 'mid'
                  ELSE 'high' END AS first_value_bucket
      FROM purch WHERE pn = 1
    )
    SELECT first_value_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           round(CAST(SUM(CASE WHEN n_purch >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS repeat_rate,
           round(CAST(SUM(n_purch) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 6)
             AS avg_purchases,
           CAST(MAX(n_purch) AS BIGINT) AS max_purchases
    FROM firsts GROUP BY first_value_bucket
    """,
)
def agg_repeat_rate_by_first_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the first purchase predict loyalty?  Users bucket by their
    FIRST purchase value (low/mid/high with fixed cuts at 15 and 60) and
    each bucket reports repeat rate and purchase depth — the
    'whale-first-order' question behind onboarding-offer design
    (agg_churn_risk_recency looks backward from today; this op looks
    forward from acquisition).  First purchase resolves on the unique
    (ts, event_id) order; all counts are exact.

    Scale (100 TB): one user-partitioned window pass (first purchase +
    per-user count share the partition) and a 3-row rollup."""
    e = load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    purch = p.select(
        "user_id", "value",
        F.row_number().over(w).alias("pn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id"))
        .cast("long")
        .alias("n_purch"),
    )
    firsts = purch.filter(F.col("pn") == 1).select(
        "n_purch",
        F.when(F.col("value") < 15, "low")
        .when(F.col("value") < 60, "mid")
        .otherwise("high")
        .alias("first_value_bucket"),
    )
    return firsts.groupBy("first_value_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(
            F.sum(F.when(F.col("n_purch") >= 2, 1).otherwise(0)).cast("long")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("repeat_rate"),
        F.round(
            F.sum("n_purch").cast("long") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_purchases"),
        F.max("n_purch").cast("long").alias("max_purchases"),
    )


@register(
    "agg_unit_economics_summary",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(n_orders) AS BIGINT) AS n_orders,
           round(CAST(SUM(cents) AS BIGINT)
                 / CAST(SUM(n_orders) AS DOUBLE) / 100, 6) AS avg_order_value,
           round(CAST(SUM(n_orders) AS BIGINT)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS orders_per_customer,
           round(CAST(SUM(cents) AS BIGINT)
                 / CAST(COUNT(*) AS DOUBLE) / 100, 6) AS revenue_per_customer,
           round((CAST(SUM(cents) AS BIGINT)
                  / CAST(SUM(n_orders) AS DOUBLE) / 100)
                 * (CAST(SUM(n_orders) AS BIGINT) / CAST(COUNT(*) AS DOUBLE))
                 * 0.25, 6) AS ltv_proxy_25pct_margin
    FROM per_cust GROUP BY segment
    """,
)
def agg_unit_economics_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-economics table per market segment: average order value,
    order frequency per customer, revenue per customer, and an LTV
    proxy at an assumed 25% contribution margin (AOV × frequency ×
    margin) — the four numbers every growth model starts from
    (agg_cohort_ltv tracks realized LTV over time; this is the
    steady-state cross-section).  All revenue stays exact integer cents
    through the per-customer rollup; the ratios divide once each and
    the LTV proxy composes them in fixed order.

    Scale (100 TB): one (segment, customer) aggregate riding the
    customer join's partitioning, then a |segments|-row rollup."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cents = (
        F.signum("o_totalprice")
        * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    per_cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(cents).cast("long").alias("cents"),
        )
    )
    aov = F.sum("cents").cast("long") / F.sum("n_orders").cast("double") / 100
    freq = F.sum("n_orders").cast("long") / F.count(F.lit(1)).cast("double")
    return per_cust.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.round(aov, 6).alias("avg_order_value"),
        F.round(freq, 6).alias("orders_per_customer"),
        F.round(
            F.sum("cents").cast("long") / F.count(F.lit(1)).cast("double") / 100,
            6,
        ).alias("revenue_per_customer"),
        F.round(aov * freq * 0.25, 6).alias("ltv_proxy_25pct_margin"),
    )


@register(
    "agg_demand_intermittency_sbc",
    oracle="""
    WITH demand AS (
      SELECT l_partkey,
             CAST(date_trunc('day', l_shipdate) AS DATE) AS d,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem WHERE l_partkey % 25 = 0
      GROUP BY 1, 2
    ),
    gaps AS (
      SELECT l_partkey, d, q,
             date_diff('day', LAG(d) OVER (PARTITION BY l_partkey ORDER BY d),
                       d) AS gap
      FROM demand
    ),
    st AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_demands,
             CAST(SUM(gap) AS BIGINT) AS gap_sum,
             CAST(COUNT(gap) AS BIGINT) AS n_gaps,
             CAST(SUM(q) AS BIGINT) AS q_sum,
             CAST(SUM(CAST(q AS HUGEINT) * q) AS BIGINT) AS q_sq
      FROM gaps GROUP BY l_partkey
      HAVING COUNT(gap) >= 2
    ),
    scored AS (
      SELECT l_partkey, n_demands,
             gap_sum / CAST(n_gaps AS DOUBLE) AS adi,
             (q_sq / CAST(n_demands AS DOUBLE)
              - (q_sum / CAST(n_demands AS DOUBLE))
                * (q_sum / CAST(n_demands AS DOUBLE)))
             / ((q_sum / CAST(n_demands AS DOUBLE))
                * (q_sum / CAST(n_demands AS DOUBLE))) AS cv2
      FROM st
    )
    SELECT l_partkey, n_demands,
           round(adi, 6) AS adi, round(cv2, 6) AS cv2,
           CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
                WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
                WHEN adi < 1.32 THEN 'erratic'
                ELSE 'lumpy' END AS sbc_class
    FROM scored
    """,
)
def agg_demand_intermittency_sbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syntetos-Boylan demand classification per part: average demand
    interval (ADI) and the squared coefficient of variation of demand
    sizes split parts into smooth / intermittent / erratic / lumpy —
    the standard gate that decides WHICH forecaster a part gets
    (Croston-family for intermittent/lumpy, exponential smoothing for
    smooth/erratic; agg_reorder_point_calc's normal ROP is only valid
    in the smooth cell).  On this sparse fixture slice ADI ≈ 60-90, so
    only the two high-ADI classes are REACHABLE — exactly the reading
    the classifier should give for slow movers.  All moments are exact
    BIGINT/HUGEINT sums; the class CASE compares unrounded values
    identically in both engines.

    Scale (100 TB): one (part, day) collapse, one lag window, one
    per-part moment aggregate — all sharing the part key."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 25 == 0)
    q = (F.col("l_quantity") + F.lit(0.5)).cast("long")
    demand = li.groupBy(
        "l_partkey", F.date_trunc("day", "l_shipdate").cast("date").alias("d")
    ).agg(F.sum(q).cast("long").alias("q"))
    w = Window.partitionBy("l_partkey").orderBy("d")
    gaps = demand.select(
        "l_partkey", "q",
        F.datediff(F.col("d"), F.lag("d").over(w)).alias("gap"),
    )
    st = (
        gaps.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_demands"),
            F.sum("gap").cast("long").alias("gap_sum"),
            F.count("gap").cast("long").alias("n_gaps"),
            F.sum("q").cast("long").alias("q_sum"),
            F.sum(F.col("q").cast("decimal(38,0)") * F.col("q"))
            .cast("long")
            .alias("q_sq"),
        )
        .filter(F.col("n_gaps") >= 2)
    )
    adi = F.col("gap_sum") / F.col("n_gaps").cast("double")
    mean_q = F.col("q_sum") / F.col("n_demands").cast("double")
    cv2 = (F.col("q_sq") / F.col("n_demands").cast("double") - mean_q * mean_q) / (
        mean_q * mean_q
    )
    return st.select(
        "l_partkey", "n_demands",
        F.round(adi, 6).alias("adi"),
        F.round(cv2, 6).alias("cv2"),
        F.when((adi < 1.32) & (cv2 < 0.49), "smooth")
        .when((adi >= 1.32) & (cv2 < 0.49), "intermittent")
        .when(adi < 1.32, "erratic")
        .otherwise("lumpy")
        .alias("sbc_class"),
    )


@register(
    "ab_interaction_check",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN strpos('0123456789abcdef',
                              substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1
                       < 8 THEN 1 ELSE 0 END AS exp1,
             CASE WHEN strpos('0123456789abcdef',
                              substr(md5(CAST(user_id AS VARCHAR)), 31, 1)) - 1
                       < 8 THEN 1 ELSE 0 END AS exp2,
             MAX(CASE WHEN event_type = 'purchase' AND value > 90
                      THEN 1 ELSE 0 END) AS converted
      FROM events
      GROUP BY user_id
    ),
    cells AS (
      SELECT exp1, exp2,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv
      FROM assigned GROUP BY exp1, exp2
    ),
    wide AS (
      SELECT MAX(CASE WHEN exp1 = 0 AND exp2 = 0 THEN n END) AS n00,
             MAX(CASE WHEN exp1 = 0 AND exp2 = 0 THEN conv END) AS c00,
             MAX(CASE WHEN exp1 = 0 AND exp2 = 1 THEN n END) AS n01,
             MAX(CASE WHEN exp1 = 0 AND exp2 = 1 THEN conv END) AS c01,
             MAX(CASE WHEN exp1 = 1 AND exp2 = 0 THEN n END) AS n10,
             MAX(CASE WHEN exp1 = 1 AND exp2 = 0 THEN conv END) AS c10,
             MAX(CASE WHEN exp1 = 1 AND exp2 = 1 THEN n END) AS n11,
             MAX(CASE WHEN exp1 = 1 AND exp2 = 1 THEN conv END) AS c11
      FROM cells
    )
    SELECT n00, c00, n01, c01, n10, c10, n11, c11,
           round((c11 / CAST(n11 AS DOUBLE) - c10 / CAST(n10 AS DOUBLE))
                 - (c01 / CAST(n01 AS DOUBLE) - c00 / CAST(n00 AS DOUBLE)), 6)
             AS interaction_effect,
           round(((c11 / CAST(n11 AS DOUBLE) - c10 / CAST(n10 AS DOUBLE))
                  - (c01 / CAST(n01 AS DOUBLE) - c00 / CAST(n00 AS DOUBLE)))
                 / sqrt(c11 / CAST(n11 AS DOUBLE)
                        * (1 - c11 / CAST(n11 AS DOUBLE)) / n11
                        + c10 / CAST(n10 AS DOUBLE)
                          * (1 - c10 / CAST(n10 AS DOUBLE)) / n10
                        + c01 / CAST(n01 AS DOUBLE)
                          * (1 - c01 / CAST(n01 AS DOUBLE)) / n01
                        + c00 / CAST(n00 AS DOUBLE)
                          * (1 - c00 / CAST(n00 AS DOUBLE)) / n00), 6)
             AS interaction_z
    FROM wide
    """,
)
def ab_interaction_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-experiment interaction check: with two overlapping
    50/50 experiments (independent md5 characters → orthogonal splits),
    the difference-in-differences of conversion across the 2×2 arm grid
    estimates the interaction effect, with a four-cell pooled z — the
    platform guardrail that says whether two teams' experiments can
    read their results independently or stepped on each other.
    Conversion uses the top-decile tightening (saturated-outcome trap);
    all cells are exact counts and the z expression is identical text
    in both engines.

    Scale (100 TB): one per-user aggregate (both assignments are
    hash-derived in the same pass) onto a 4-cell grid."""
    e = load(spark, sf_dir, "events")
    md5u = F.md5(F.col("user_id").cast("string"))
    exp1 = F.when(
        F.conv(F.substring(md5u, 32, 1), 16, 10).cast("long") < 8, 1
    ).otherwise(0)
    exp2 = F.when(
        F.conv(F.substring(md5u, 31, 1), 16, 10).cast("long") < 8, 1
    ).otherwise(0)
    assigned = e.groupBy("user_id").agg(
        F.first(exp1).alias("exp1"),
        F.first(exp2).alias("exp2"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 90), 1
            ).otherwise(0)
        ).alias("converted"),
    )
    cells = assigned.groupBy("exp1", "exp2").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )

    def cell(e1, e2, col):
        return F.max(
            F.when((F.col("exp1") == e1) & (F.col("exp2") == e2), F.col(col))
        )

    wide = cells.agg(
        cell(0, 0, "n").alias("n00"), cell(0, 0, "conv").alias("c00"),
        cell(0, 1, "n").alias("n01"), cell(0, 1, "conv").alias("c01"),
        cell(1, 0, "n").alias("n10"), cell(1, 0, "conv").alias("c10"),
        cell(1, 1, "n").alias("n11"), cell(1, 1, "conv").alias("c11"),
    )

    def p(c, n):
        return F.col(c) / F.col(n).cast("double")

    eff = (p("c11", "n11") - p("c10", "n10")) - (p("c01", "n01") - p("c00", "n00"))
    se = F.sqrt(
        p("c11", "n11") * (1 - p("c11", "n11")) / F.col("n11")
        + p("c10", "n10") * (1 - p("c10", "n10")) / F.col("n10")
        + p("c01", "n01") * (1 - p("c01", "n01")) / F.col("n01")
        + p("c00", "n00") * (1 - p("c00", "n00")) / F.col("n00")
    )
    return wide.select(
        "n00", "c00", "n01", "c01", "n10", "c10", "n11", "c11",
        F.round(eff, 6).alias("interaction_effect"),
        F.round(eff / se, 6).alias("interaction_z"),
    )


@register(
    "eval_qini_uplift_curve",
    oracle="""
    WITH users AS (
      SELECT user_id,
             CASE WHEN strpos('0123456789abcdef',
                              substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1
                       < 8 THEN 1 ELSE 0 END AS treated,
             MAX(CASE WHEN event_type = 'purchase' AND value > 90
                      THEN 1 ELSE 0 END) AS converted,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS score
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT treated, converted,
             NTILE(10) OVER (ORDER BY score DESC, user_id) AS decile
      FROM users
    ),
    per AS (
      SELECT decile,
             CAST(SUM(treated) AS BIGINT) AS n_t,
             CAST(SUM(1 - treated) AS BIGINT) AS n_c,
             CAST(SUM(treated * converted) AS BIGINT) AS conv_t,
             CAST(SUM((1 - treated) * converted) AS BIGINT) AS conv_c
      FROM ranked GROUP BY decile
    ),
    cum AS (
      SELECT decile,
             CAST(SUM(n_t) OVER w AS BIGINT) AS cn_t,
             CAST(SUM(n_c) OVER w AS BIGINT) AS cn_c,
             CAST(SUM(conv_t) OVER w AS BIGINT) AS cc_t,
             CAST(SUM(conv_c) OVER w AS BIGINT) AS cc_c
      FROM per
      WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    )
    SELECT decile, cn_t, cn_c, cc_t, cc_c,
           round(cc_t - cc_c * (cn_t / CAST(NULLIF(cn_c, 0) AS DOUBLE)), 6)
             AS qini,
           round(cc_t / CAST(NULLIF(cn_t, 0) AS DOUBLE)
                 - cc_c / CAST(NULLIF(cn_c, 0) AS DOUBLE), 6)
             AS cum_uplift_rate
    FROM cum
    """,
)
def eval_qini_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve for uplift-model evaluation: users ranked by a
    targeting score (click volume as the deterministic proxy) into
    deciles, with the cumulative incremental conversions
    Qini(k) = conv_T(k) − conv_C(k)·N_T(k)/N_C(k) at each cut — the
    standard 'did the model target the persuadables' evaluation that
    plain AUC cannot answer because uplift is a counterfactual quantity
    (eval_offpolicy_ips values a POLICY; Qini evaluates the RANKING).
    Treatment is the house md5 split; with a random treatment the curve
    should hug the diagonal — the null calibration every uplift harness
    needs before trusting a real model's lift.  All cells are exact
    counts; NTILE uses the (score DESC, user_id) total order.

    Scale (100 TB): one per-user aggregate, a global NTILE (swap to the
    distributed quantile-cut pattern past memory), and a 10-row
    cumulative window."""
    e = load(spark, sf_dir, "events")
    treated = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 32, 1), 16, 10)
        .cast("long")
        < 8,
        1,
    ).otherwise(0)
    users = e.groupBy("user_id").agg(
        F.first(treated).alias("treated"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 90), 1
            ).otherwise(0)
        ).alias("converted"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("score"),
    )
    ranked = users.select(
        "treated", "converted",
        F.ntile(10)
        .over(Window.orderBy(F.col("score").desc(), "user_id"))
        .alias("decile"),
    )
    per = ranked.groupBy("decile").agg(
        F.sum("treated").cast("long").alias("n_t"),
        F.sum(1 - F.col("treated")).cast("long").alias("n_c"),
        F.sum(F.col("treated") * F.col("converted")).cast("long").alias("conv_t"),
        F.sum((1 - F.col("treated")) * F.col("converted"))
        .cast("long")
        .alias("conv_c"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "decile",
        F.sum("n_t").over(w).cast("long").alias("cn_t"),
        F.sum("n_c").over(w).cast("long").alias("cn_c"),
        F.sum("conv_t").over(w).cast("long").alias("cc_t"),
        F.sum("conv_c").over(w).cast("long").alias("cc_c"),
    )
    # NULLIF guards (degenerate sweep): an all-treated (or all-control)
    # prefix zeroes a cumulative arm count — both sides agree on NULL.
    return cum.select(
        "decile", "cn_t", "cn_c", "cc_t", "cc_c",
        F.round(
            F.col("cc_t")
            - F.col("cc_c")
            * (F.col("cn_t") / F.nullif(F.col("cn_c").cast("double"), F.lit(0.0))),
            6,
        ).alias("qini"),
        F.round(
            F.col("cc_t") / F.nullif(F.col("cn_t").cast("double"), F.lit(0.0))
            - F.col("cc_c") / F.nullif(F.col("cn_c").cast("double"), F.lit(0.0)),
            6,
        ).alias("cum_uplift_rate"),
    )


@register(
    "ab_mde_current_power",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN strpos('0123456789abcdef',
                              substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1
                       < 8 THEN 'A' ELSE 'B' END AS arm,
             MAX(CASE WHEN event_type = 'purchase' AND value > 90
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             CAST(SUM(converted) AS BIGINT) AS conv,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM assigned
    )
    SELECT na, nb,
           round(conv / CAST(n AS DOUBLE), 6) AS pooled_p,
           round((1.959964 + 0.841621)
                 * sqrt(conv / CAST(n AS DOUBLE)
                        * (1.0 - conv / CAST(n AS DOUBLE))
                        * (1.0 / NULLIF(na, 0) + 1.0 / NULLIF(nb, 0))), 6)
             AS mde_absolute,
           round((1.959964 + 0.841621)
                 * sqrt(conv / CAST(n AS DOUBLE)
                        * (1.0 - conv / CAST(n AS DOUBLE))
                        * (1.0 / NULLIF(na, 0) + 1.0 / NULLIF(nb, 0)))
                 / NULLIF(conv / CAST(n AS DOUBLE), 0), 6) AS mde_relative
    FROM arms
    """,
)
def ab_mde_current_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at CURRENT sample sizes: given the
    pooled conversion rate and the arms as they stand, the smallest
    absolute (and relative) lift detectable at α=0.05 two-sided with
    80% power — (z₀.₉₇₅+z₀.₈)·√(p(1−p)(1/nₐ+1/n_b)) — the
    'is this experiment even capable of seeing the effect we care
    about' answer mid-flight (ab_sample_size_estimate plans BEFORE
    launch; this op reads the running experiment).  z constants are
    double literals; counts exact.

    Scale (100 TB): one per-user aggregate onto a one-row summary."""
    e = load(spark, sf_dir, "events")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 32, 1), 16, 10)
        .cast("long")
        < 8,
        "A",
    ).otherwise("B")
    assigned = e.groupBy("user_id").agg(
        F.first(arm).alias("arm"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 90), 1
            ).otherwise(0)
        ).alias("converted"),
    )
    arms = assigned.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast("long").alias("nb"),
        F.sum("converted").cast("long").alias("conv"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # NULLIF guards (degenerate sweep): an empty arm zeroes 1/nₐ or 1/n_b
    # and zero conversions zero the relative base — both sides NULL.
    p = F.col("conv") / F.col("n").cast("double")
    mde = (F.lit(1.959964) + 0.841621) * F.sqrt(
        p
        * (F.lit(1.0) - p)
        * (
            F.lit(1.0) / F.nullif(F.col("na").cast("double"), F.lit(0.0))
            + F.lit(1.0) / F.nullif(F.col("nb").cast("double"), F.lit(0.0))
        )
    )
    return arms.select(
        "na", "nb",
        F.round(p, 6).alias("pooled_p"),
        F.round(mde, 6).alias("mde_absolute"),
        F.round(mde / F.nullif(p, F.lit(0.0)), 6).alias("mde_relative"),
    )


@register(
    "ab_bucketing_uniformity",
    oracle="""
    WITH users AS (
      SELECT DISTINCT user_id FROM events
    ),
    buckets AS (
      SELECT strpos('0123456789abcdef',
                    substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1
               AS bucket
      FROM users
    ),
    counts AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM buckets GROUP BY bucket
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k FROM counts)
    SELECT t.n AS n_users, t.k AS n_buckets,
           CAST(MIN(c.c) AS BIGINT) AS min_bucket,
           CAST(MAX(c.c) AS BIGINT) AS max_bucket,
           round(CAST(SUM(CAST(round((c.c - t.n / 16.0)
                                      * (c.c - t.n / 16.0)
                                      / (t.n / 16.0), 9) AS DECIMAL(18,9)))
                      AS DOUBLE), 6) AS chi_square,
           CASE WHEN CAST(SUM(CAST(round((c.c - t.n / 16.0)
                                         * (c.c - t.n / 16.0)
                                         / (t.n / 16.0), 9)
                                   AS DECIMAL(18,9))) AS DOUBLE) > 30.578
                THEN 'nonuniform' ELSE 'uniform' END AS verdict
    FROM counts c CROSS JOIN tot t
    GROUP BY t.n, t.k
    """,
)
def ab_bucketing_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketing-uniformity audit of the house md5 assignment: the 16
    hash buckets behind every hash-split experiment, checked with a
    chi-square against the uniform expectation (df=15 critical value
    30.578 at α=0.01) — the root-cause probe to run the moment
    ab_sample_ratio_mismatch fires, separating 'the hash is fine, the
    pipeline drops users' from 'the hash itself is skewed' (it never
    should be, which is exactly why it must be CHECKED, not assumed).
    Per-bucket chi terms round to 9 dp and sum in DECIMAL; the verdict
    compares the same sum on both engines.

    Scale (100 TB): one distinct-user pass onto a 16-cell histogram."""
    e = load(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    bucket = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 32, 1), 16, 10
    ).cast("long")
    counts = users.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = counts.agg(
        F.sum("c").cast("long").alias("n"), F.count(F.lit(1)).cast("long").alias("k")
    )
    j = counts.crossJoin(F.broadcast(tot))
    exp = F.col("n") / 16.0
    term = F.round((F.col("c") - exp) * (F.col("c") - exp) / exp, 9).cast(
        "decimal(18,9)"
    )
    chi = F.sum(term)
    return j.groupBy("n", "k").agg(
        F.min("c").cast("long").alias("min_bucket"),
        F.max("c").cast("long").alias("max_bucket"),
        F.round(chi.cast("double"), 6).alias("chi_square"),
        F.when(chi.cast("double") > 30.578, "nonuniform")
        .otherwise("uniform")
        .alias("verdict"),
    ).select(
        F.col("n").alias("n_users"), F.col("k").alias("n_buckets"),
        "min_bucket", "max_bucket", "chi_square", "verdict",
    )


@register(
    "ab_itt_vs_perprotocol",
    oracle="""
    WITH users AS (
      SELECT user_id,
             CASE WHEN strpos('0123456789abcdef',
                              substr(md5(CAST(user_id AS VARCHAR)), 32, 1)) - 1
                       < 8 THEN 1 ELSE 0 END AS assigned_treat,
             CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       >= 13 THEN 1 ELSE 0 END AS engaged,
             MAX(CASE WHEN event_type = 'purchase' AND value > 90
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    )
    SELECT CAST(SUM(assigned_treat) AS BIGINT) AS n_assigned,
           CAST(SUM(assigned_treat * engaged) AS BIGINT) AS n_exposed,
           round(CAST(SUM(assigned_treat * engaged) AS BIGINT)
                 / CAST(NULLIF(SUM(assigned_treat), 0) AS DOUBLE), 6)
             AS exposure_rate,
           round(CAST(SUM(assigned_treat * converted) AS BIGINT)
                 / CAST(NULLIF(SUM(assigned_treat), 0) AS DOUBLE), 6)
             AS itt_conversion,
           round(CAST(SUM(assigned_treat * engaged * converted) AS BIGINT)
                 / CAST(NULLIF(SUM(assigned_treat * engaged), 0) AS DOUBLE), 6)
             AS perprotocol_conversion,
           round(CAST(SUM(assigned_treat * converted) AS BIGINT)
                 / CAST(NULLIF(SUM(assigned_treat), 0) AS DOUBLE)
                 / NULLIF(CAST(SUM(assigned_treat * engaged) AS BIGINT)
                    / CAST(NULLIF(SUM(assigned_treat), 0) AS DOUBLE), 0), 6)
             AS late_estimate
    FROM users
    """,
)
def ab_itt_vs_perprotocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intention-to-treat vs per-protocol readout: assigned-arm
    conversion (unbiased but diluted by the never-exposed), exposed-only
    conversion (undiluted but selection-biased), the exposure rate
    connecting them, and the one-sided-noncompliance LATE estimate
    (ITT ÷ exposure rate) — the three numbers an experiment review must
    see TOGETHER, because reading per-protocol alone is the most common
    way to ship a false win.  Exposure = 13+ clicks (the engagement bar is set above the fixture's
    mean so ~40% of assigned users genuinely fail it — an any-click
    definition saturates at 100% and collapses the three estimates);
    all cells exact counts.

    Scale (100 TB): one per-user aggregate onto a one-row summary."""
    e = load(spark, sf_dir, "events")
    treat = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 32, 1), 16, 10)
        .cast("long")
        < 8,
        1,
    ).otherwise(0)
    users = e.groupBy("user_id").agg(
        F.first(treat).alias("assigned_treat"),
        F.when(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)) >= 13,
            1,
        )
        .otherwise(0)
        .alias("engaged"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 90), 1
            ).otherwise(0)
        ).alias("converted"),
    )
    at = F.sum("assigned_treat").cast("long")
    ex = F.sum(F.col("assigned_treat") * F.col("engaged")).cast("long")
    cv = F.sum(F.col("assigned_treat") * F.col("converted")).cast("long")
    exv = F.sum(
        F.col("assigned_treat") * F.col("engaged") * F.col("converted")
    ).cast("long")
    # NULLIF guards (degenerate sweep): an all-control assignment or a
    # zero-exposure arm zeroes every denominator — both sides NULL.
    itt = cv / F.nullif(at.cast("double"), F.lit(0.0))
    erate = ex / F.nullif(at.cast("double"), F.lit(0.0))
    return users.agg(
        at.alias("n_assigned"),
        ex.alias("n_exposed"),
        F.round(erate, 6).alias("exposure_rate"),
        F.round(itt, 6).alias("itt_conversion"),
        F.round(exv / F.nullif(ex.cast("double"), F.lit(0.0)), 6).alias(
            "perprotocol_conversion"
        ),
        F.round(itt / F.nullif(erate, F.lit(0.0)), 6).alias("late_estimate"),
    )


@register(
    "agg_cart_abandonment_by_dow",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE THEN 0
                  ELSE 1 END AS new_session,
             event_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_id,
             CAST(EXTRACT(dow FROM MIN(ts)) AS INTEGER) AS dow,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS has_click,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS has_purchase
      FROM sess GROUP BY user_id, session_id
    )
    SELECT dow,
           CAST(SUM(has_click) AS BIGINT) AS n_cart_sessions,
           CAST(SUM(has_click * (1 - has_purchase)) AS BIGINT) AS n_abandoned,
           round(CAST(SUM(has_click * (1 - has_purchase)) AS BIGINT)
                 / CAST(SUM(has_click) AS DOUBLE), 6) AS abandonment_rate
    FROM per_session
    WHERE has_click = 1
    GROUP BY dow
    """,
)
def agg_cart_abandonment_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cart-abandonment rate by day of week: sessions that clicked (the
    cart proxy) but never purchased before the 30-minute gap closed the
    session — the conversion-leak dashboard cut by weekday, where a
    weekend spike usually means a checkout dependency with weekend-only
    degradation (agg_bounce_rate counts the no-engagement exits; this op
    counts the engaged-then-lost ones, the expensive kind).  Sessions
    reuse ts_sessionize's gaps-and-islands ids; the dow comes from the
    session's first event; all counts exact, Sunday=0.

    Scale (100 TB): session assembly shares the user_id exchange;
    the rollup is a 7-row conditional aggregate."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = (
        F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
        <= 1_800_000_000
    )
    sess = e.select(
        "user_id", "ts", "event_type",
        F.sum(F.when(gap_ok, 0).otherwise(1))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("session_id"),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        (F.dayofweek(F.min("ts")) - 1).alias("dow"),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "has_click"
        ),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "has_purchase"
        ),
    )
    return (
        per_session.filter(F.col("has_click") == 1)
        .groupBy("dow")
        .agg(
            F.sum("has_click").cast("long").alias("n_cart_sessions"),
            F.sum(F.col("has_click") * (1 - F.col("has_purchase")))
            .cast("long")
            .alias("n_abandoned"),
            F.round(
                F.sum(F.col("has_click") * (1 - F.col("has_purchase"))).cast("long")
                / F.sum("has_click").cast("double"),
                6,
            ).alias("abandonment_rate"),
        )
    )


@register(
    "ab_days_to_power",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             MIN(CAST(date_trunc('day', ts) AS DATE)) AS first_d,
             MAX(CASE WHEN event_type = 'purchase' AND value > 90
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    span AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS conv,
             CAST(date_diff('day', MIN(first_d), MAX(first_d)) + 1 AS BIGINT)
               AS accrual_days
      FROM assigned
    )
    SELECT n_users, accrual_days,
           round(n_users / CAST(accrual_days AS DOUBLE), 6)
             AS users_per_day,
           round(conv / CAST(n_users AS DOUBLE), 6) AS pooled_p,
           round(2.0 * ((1.959964 + 0.841621) * (1.959964 + 0.841621))
                 * (conv / CAST(n_users AS DOUBLE))
                 * (1.0 - conv / CAST(n_users AS DOUBLE))
                 / (0.05 * 0.05), 6) AS n_per_arm_needed,
           round(2.0 * (2.0 * ((1.959964 + 0.841621) * (1.959964 + 0.841621))
                 * (conv / CAST(n_users AS DOUBLE))
                 * (1.0 - conv / CAST(n_users AS DOUBLE))
                 / (0.05 * 0.05))
                 / (n_users / CAST(accrual_days AS DOUBLE)), 6)
             AS days_to_power
    FROM span
    """,
)
def ab_days_to_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-duration planning: at the observed user accrual rate
    and pooled conversion, how many days until the experiment can
    detect a 5-point absolute lift at 80% power (n per arm =
    2(z₀.₉₇₅+z₀.₈)²p(1−p)/MDE², doubled for two arms, divided by the
    accrual rate) — the 'when can we read this' answer that pairs with
    ab_mde_current_power's 'what can we read NOW' (one inverts the
    other, so the two ops cross-check).  Accrual spans first-seen
    dates; all inputs exact counts, z constants double literals.

    Scale (100 TB): one per-user aggregate onto a one-row summary."""
    e = load(spark, sf_dir, "events")
    assigned = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts").cast("date")).alias("first_d"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 90), 1
            ).otherwise(0)
        ).alias("converted"),
    )
    span = assigned.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("conv"),
        (F.datediff(F.max("first_d"), F.min("first_d")) + 1)
        .cast("long")
        .alias("accrual_days"),
    )
    p = F.col("conv") / F.col("n_users").cast("double")
    z2 = (F.lit(1.959964) + 0.841621) * (F.lit(1.959964) + 0.841621)
    n_arm = 2.0 * z2 * p * (F.lit(1.0) - p) / (0.05 * 0.05)
    rate = F.col("n_users") / F.col("accrual_days").cast("double")
    return span.select(
        "n_users", "accrual_days",
        F.round(rate, 6).alias("users_per_day"),
        F.round(p, 6).alias("pooled_p"),
        F.round(n_arm, 6).alias("n_per_arm_needed"),
        F.round(2.0 * n_arm / rate, 6).alias("days_to_power"),
    )


@register(
    "agg_eoq_order_quantity",
    oracle="""
    WITH li AS (
      SELECT l_partkey,
             CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty,
             CAST(l_shipdate AS DATE) AS sd
      FROM lineitem WHERE l_partkey % 97 = 0
    ),
    span AS (
      SELECT CAST(date_diff('day', MIN(sd), MAX(sd)) + 1 AS BIGINT)
               AS span_days
      FROM li
    ),
    demand AS (
      SELECT l_partkey AS part_key,
             CAST(SUM(qty) AS BIGINT) AS total_qty
      FROM li GROUP BY 1
    )
    SELECT d.part_key, d.total_qty, s.span_days,
           round(d.total_qty * 365.0 / s.span_days, 6) AS annual_demand,
           round(sqrt(2.0 * (d.total_qty * 365.0 / s.span_days) * 100.0
                      / (0.2 * p.p_retailprice)), 6) AS eoq_units,
           round((d.total_qty * 365.0 / s.span_days)
                 / sqrt(2.0 * (d.total_qty * 365.0 / s.span_days) * 100.0
                        / (0.2 * p.p_retailprice)), 6) AS orders_per_year,
           round(365.0 * sqrt(2.0 * (d.total_qty * 365.0 / s.span_days)
                              * 100.0 / (0.2 * p.p_retailprice))
                 / (d.total_qty * 365.0 / s.span_days), 6) AS cycle_days
    FROM demand d
    CROSS JOIN span s
    JOIN part p ON p.p_partkey = d.part_key
    """,
)
def agg_eoq_order_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economic order quantity per part: annualize each part's observed
    demand over the data's shipping span, then EOQ = √(2·D·S / H) with
    order cost S=$100 and holding cost H=20% of retail price — the
    classical inventory sizing rule, plus the implied orders/year and
    reorder cycle length (the planner-facing numbers;
    agg_reorder_point_calc sets WHEN to order, this op sets HOW MUCH).
    A mod-97 part subset keeps the demo output bounded; production
    drops the filter.

    Engine parity: demand sums are exact BIGINTs (FLOOR(q+0.5) dodges
    the CAST-rounds-vs-truncates trap on whole-number double
    quantities); the span is a single exact day count; EOQ and its
    derivatives compute on identical doubles in identical textual
    order, rounded at 6 dp.

    Scale (100 TB): one map-side-combined groupBy on l_partkey, a
    1-row span bind (broadcast), and an equi-join against the part
    dimension (broadcast at dimension scale).  No other shuffle."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 97 == 0)
        .select(
            "l_partkey",
            F.floor(F.col("l_quantity") + 0.5).cast("long").alias("qty"),
            F.col("l_shipdate").cast("date").alias("sd"),
        )
    )
    span = li.agg(
        (F.datediff(F.max("sd"), F.min("sd")) + 1).cast("long").alias("span_days")
    )
    demand = li.groupBy(F.col("l_partkey").alias("part_key")).agg(
        F.sum("qty").cast("long").alias("total_qty")
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    d_ann = F.col("total_qty") * 365.0 / F.col("span_days")
    eoq = F.sqrt(2.0 * d_ann * 100.0 / (0.2 * F.col("p_retailprice")))
    return (
        demand.crossJoin(F.broadcast(span))
        .join(p, F.col("p_partkey") == F.col("part_key"))
        .select(
            "part_key", "total_qty", "span_days",
            F.round(d_ann, 6).alias("annual_demand"),
            F.round(eoq, 6).alias("eoq_units"),
            F.round(d_ann / eoq, 6).alias("orders_per_year"),
            F.round(365.0 * eoq / d_ann, 6).alias("cycle_days"),
        )
    )


@register(
    "agg_inventory_turns_gmroi",
    oracle="""
    WITH li AS (
      SELECT l_partkey,
             CAST(ROUND(l_extendedprice * (1 - l_discount) * 1000000)
                  AS HUGEINT) AS rev_micro,
             CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty,
             CAST(l_shipdate AS DATE) AS sd
      FROM lineitem
    ),
    span AS (
      SELECT CAST(date_diff('day', MIN(sd), MAX(sd)) + 1 AS BIGINT)
               AS span_days
      FROM li
    ),
    sold AS (
      SELECT p.p_brand AS brand,
             SUM(l.rev_micro) AS rev_micro,
             SUM(CAST(ROUND(l.qty * 0.8 * p.p_retailprice * 1000000)
                      AS HUGEINT)) AS cogs_micro
      FROM li l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1
    ),
    inv AS (
      SELECT p_brand AS brand,
             SUM(CAST(ROUND(p_size * p_retailprice * 0.8 * 1000000)
                      AS HUGEINT)) AS inv_micro
      FROM part GROUP BY 1
    )
    SELECT s.brand,
           CAST(s.rev_micro AS DOUBLE) / 1000000.0 AS revenue,
           CAST(s.cogs_micro AS DOUBLE) / 1000000.0 AS cogs,
           CAST(s.rev_micro - s.cogs_micro AS DOUBLE) / 1000000.0
             AS gross_margin,
           CAST(i.inv_micro AS DOUBLE) / 1000000.0 AS avg_inventory_cost,
           round(s.cogs_micro * 365.0 / sp.span_days / i.inv_micro, 6)
             AS inventory_turns,
           round((s.rev_micro - s.cogs_micro) * 365.0 / sp.span_days
                 / i.inv_micro, 6) AS gmroi
    FROM sold s
    JOIN inv i ON i.brand = s.brand
    CROSS JOIN span sp
    """,
)
def agg_inventory_turns_gmroi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory turns and GMROI per brand — the two numbers a
    merchandising review runs on: annualized COGS over average
    inventory at cost (how many times the shelf cycles per year), and
    annualized gross margin over the same base (margin dollars earned
    per inventory dollar parked).  Cost is modeled at 80% of retail;
    on-hand units per part are proxied by p_size (a deterministic
    1–50 stand-in — swap in a real stock snapshot table at
    production, same plan).  agg_eoq_order_quantity sizes the orders;
    this op scores how hard the resulting inventory works.

    Engine parity: revenue/COGS/inventory are exact 1e6 fixed-point
    integer sums (the lsum discipline — money-shaped factors, so
    ROUND lands mid-integer-safe); the turns/GMROI ratios divide the
    same exact integers by the same exact span, rounded at 6 dp (the
    ratios are O(1)-magnitude, where the grain is sound).  The four
    MONEY displays carry no float round: at sf0.1 revenue reaches
    1.3e9 dollars, where round(x, 6) is below double resolution and
    the engines' rounding algorithms can split (the r10 magnitude-scan
    class) — exact micro decimals go through one correctly-rounded
    int→double division instead (the subtraction done in decimal
    first), deterministic at any scale.

    Scale (100 TB): lineitem aggregates map-side per partkey-free
    brand only AFTER the part join — the join is fact⋈dimension
    (broadcast part at real scale), then one brand-keyed groupBy
    (≤ brand-cardinality groups), a dimension-only inventory rollup,
    and 1-row span/brand binds.  No fact-fact shuffle."""
    # int128-class micros (extreme regime): a ~1e10 price at 1e6 fixed
    # point is ~1e16 per line and ~1e20 after the qty factor — every
    # micro column runs decimal(38,0) (HUGEINT on the oracle side);
    # round() and HUGEINT/decimal casts agree because both engines round
    # the SAME double half away from zero
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1_000_000)
        .cast("decimal(38,0)")
        .alias("rev_micro"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("qty"),
        F.col("l_shipdate").cast("date").alias("sd"),
    )
    span = li.agg(
        (F.datediff(F.max("sd"), F.min("sd")) + 1).cast("long").alias("span_days")
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size", "p_retailprice")
    cogs_line = F.round(
        F.col("qty") * 0.8 * F.col("p_retailprice") * 1_000_000
    ).cast("decimal(38,0)")
    sold = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum("rev_micro").alias("rev_micro"),
            F.sum(cogs_line).alias("cogs_micro"),
        )
    )
    inv_line = F.round(
        F.col("p_size") * F.col("p_retailprice") * 0.8 * 1_000_000
    ).cast("decimal(38,0)")
    inv = p.groupBy(F.col("p_brand").alias("ibrand")).agg(
        F.sum(inv_line).alias("inv_micro")
    )
    j = (
        sold.join(inv, F.col("ibrand") == F.col("brand"))
        .crossJoin(F.broadcast(span))
    )
    return j.select(
        "brand",
        (F.col("rev_micro").cast("double") / F.lit(1e6)).alias("revenue"),
        (F.col("cogs_micro").cast("double") / F.lit(1e6)).alias("cogs"),
        (
            (F.col("rev_micro") - F.col("cogs_micro")).cast("double")
            / F.lit(1e6)
        ).alias("gross_margin"),
        (F.col("inv_micro").cast("double") / F.lit(1e6)).alias(
            "avg_inventory_cost"
        ),
        F.round(
            F.col("cogs_micro") * 365.0 / F.col("span_days") / F.col("inv_micro"), 6
        ).alias("inventory_turns"),
        F.round(
            (F.col("rev_micro") - F.col("cogs_micro"))
            * 365.0
            / F.col("span_days")
            / F.col("inv_micro"),
            6,
        ).alias("gmroi"),
    )
