"""Category E (advanced) — stats, percentiles, collections, grouping sets.

Float-outputting aggregates (stddev/corr/percentile) are rounded to 6dp on
both sides (SURVEY §7.4.1): their accumulation is order-dependent in the
last ulps; everything money-shaped still goes through decimal.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..exprs import fp_scaled_long, fp_split_sum_of, fp_split_sum_over, lsum
from ..ranks import group_percentiles_exact, ranked_by_range
from ..registry import register
from ..tables import load, spread


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_samp(l_quantity), 6) AS var_qty,
           round(covar_samp(l_quantity, l_extendedprice)
                 / NULLIF(stddev_samp(l_quantity)
                          * stddev_samp(l_extendedprice), 0), 6)
             AS corr_qty_price,
           round(covar_pop(l_quantity, l_discount), 6) AS covar_qty_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates — single-pass Welford-style merge in both
    engines; 2-phase partial/final agg in Spark so it scales like any sum.

    Pearson is composed as covar_samp/(sd·sd) with a NULLIF guard instead
    of the corr() built-in: Spark 4's corr() THROWS DIVIDE_BY_ZERO under
    ANSI on a zero-variance group while DuckDB's returns NULL
    (degenerate-sweep find); the composed form is null-safe in both
    engines and runs the identical final expression text."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(
            F.covar_samp("l_quantity", "l_extendedprice")
            / F.nullif(
                F.stddev_samp("l_quantity") * F.stddev_samp("l_extendedprice"),
                F.lit(0.0),
            ),
            6,
        ).alias("corr_qty_price"),
        F.round(F.covar_pop("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price,
           round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles — interpolation semantics verified identical to
    quantile_cont (SURVEY §2.E).

    r12 (VERDICT item 2): the `percentile` aggregate buffers every value
    of a group and its final merge sorts them in ONE task per group — the
    largest remaining single-task shape in the registry.  Replaced by the
    range-partitioned two-phase rank (ranks.group_percentiles_exact),
    which reproduces the aggregate's interpolation BIT-FOR-BIT (form
    probed in scripts/percentile_form_probe.py, equivalence battery
    pinned in tests/test_r12_optimizations.py) while every phase runs
    partition-parallel."""
    li = load(spark, sf_dir, "lineitem")
    pct = group_percentiles_exact(
        li,
        "l_extendedprice",
        ["l_returnflag"],
        {"p50_price": 0.5, "p90_price": 0.9},
    )
    return pct.select(
        "l_returnflag",
        F.round("p50_price", 6).alias("p50_price"),
        F.round("p90_price", 6).alias("p90_price"),
    )


@register(
    "agg_collect",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderkey)), ' ') AS order_keys,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ' ')
               AS statuses
    FROM orders
    GROUP BY o_custkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group sorted list + set.  collect_list order is nondeterministic
    under parallel merge → array_sort on both sides (§7.4); the sorted lists
    are then space-joined to strings because the driver's canonicalizer
    can't hash list cells (r02 VERDICT item 1).  Group sizes are bounded
    (orders per customer) so the buffered list is safe at scale."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("o_orderkey")),
                lambda x: x.cast("string"),
            ),
            " ",
        ).alias("order_keys"),
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), " ").alias(
            "statuses"
        ),
    )


_GSETS_AGG = """
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n
"""


@register(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_flag,
           grouping(l_linestatus) AS g_status,
           {_GSETS_AGG}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy subtotals (flag,status) → (flag) → () with grouping()
    markers disambiguating real NULLs from subtotal rows."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_qty", "n"
    )


@register(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_flag,
           grouping(l_linestatus) AS g_status,
           {_GSETS_AGG}
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_qty", "n"
    )


@register(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_GSETS_AGG}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via SQL (the DataFrame API exposes only
    rollup/cube; GROUPING SETS is the general form)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {_GSETS_AGG}
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register("agg_approx_distinct")  # rows-only: HLL sketches differ per engine
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct users per event_type.  The sketch is the 100 TB
    answer to COUNT(DISTINCT): mergeable, constant memory.  Accuracy (±5% vs
    exact) is asserted in tests/test_property.py; Spark's HLL++ and DuckDB's
    HLL differ by design so there is no hash oracle."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register("agg_approx_percentile")  # rows-only: t-digest sketches differ per engine
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (mergeable quantile sketch) — the 100 TB quantile
    path: constant memory per group vs exact percentile's full buffer.
    Accuracy vs the exact agg_percentile is asserted in
    tests/test_property.py (no hash oracle: sketch internals differ from
    DuckDB's)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "p50_approx"
        ),
        F.approx_percentile("l_extendedprice", F.lit(0.9), F.lit(10000)).alias(
            "p90_approx"
        ),
    )


@register(
    "agg_mode",
    oracle="""
    WITH c AS (
      SELECT event_type, date_part('hour', ts) AS hour_of_day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY n DESC, hour_of_day
      ) AS rn FROM c
    )
    SELECT event_type, hour_of_day, n AS n_events FROM r WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: the busiest hour-of-day per event_type.  Native
    ``mode()`` is unspecified on ties in both engines, so this is the
    portable formulation — count per candidate, then rank with an explicit
    tie-break (higher count first, smaller hour wins ties; SURVEY §7.4
    rule 2).

    Scale: the aggregate shrinks events to |types|x24 rows before the
    window, so the rank pass is over a tiny relation regardless of event
    count — mode never touches raw rows twice."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hour_of_day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n_events"), F.asc("hour_of_day")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "hour_of_day", "n_events")
    )


_PROFILE_COLS = ("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")


@register(
    "profile_table",
    # floating-point min/max render through DECIMAL(38,6): bare
    # double->string switches to scientific notation in Spark above ~1e7
    # ("4.5E10") where DuckDB prints positional ("45000000000.0") — the
    # fixed-scale decimal prints identically on both engines at any
    # magnitude (extreme regime)
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_null,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST({'CAST(MIN(' + c + ') AS DECIMAL(38,6))' if c == 'o_totalprice' else 'MIN(' + c + ')'} AS VARCHAR) AS min_val,
           CAST({'CAST(MAX(' + c + ') AS DECIMAL(38,6))' if c == 'o_totalprice' else 'MAX(' + c + ')'} AS VARCHAR) AS max_val
    FROM orders
    """
        for c in _PROFILE_COLS
    ),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile: per-column row/null/distinct counts and
    min/max (stringified for a uniform schema) — the pipeline-health check
    run before any training ingest.

    Scale: ONE scan computes every column's stats in a single aggregate
    (Catalyst expands the multi-DISTINCT into one Expand + two-phase agg);
    the stack() unpivot happens on the 1-row aggregate result, so the
    reshape is free.  Compare: the naive per-column loop scans the table
    |cols| times — at 100 TB that is the difference between one pass and
    four."""
    o = load(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        is_float = c == "o_totalprice"

        def render(col):
            return (
                col.cast("decimal(38,6)").cast("string")
                if is_float
                else col.cast("string")
            )

        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            render(F.min(c)).alias(f"{c}__min"),
            render(F.max(c)).alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__null, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(column_name, n_rows, n_null, n_distinct, min_val, max_val)"
    )


_HIST_WIDTH = 30000
_HIST_MAX_BUCKET = 19


@register(
    "agg_histogram",
    oracle=f"""
    SELECT least({_HIST_MAX_BUCKET},
                 CAST(floor(o_totalprice / {_HIST_WIDTH}) AS BIGINT)) AS bucket,
           least({_HIST_MAX_BUCKET},
                 CAST(floor(o_totalprice / {_HIST_WIDTH}) AS BIGINT))
             * {_HIST_WIDTH} AS bucket_lo,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (20 buckets, last one
    open-ended) — the distribution-profiling aggregate.  Bucketing is pure
    integer arithmetic on the scan (no sort, no sketch), so the whole op is
    one map-side-combined aggregate over <=20 keys: at 100 TB the shuffle
    carries 20 rows per mapper."""
    o = load(spark, sf_dir, "orders")
    bucket = F.least(
        F.lit(_HIST_MAX_BUCKET),
        F.floor(F.col("o_totalprice") / _HIST_WIDTH).cast("long"),
    )
    return (
        o.select(
            bucket.alias("bucket"),
            (bucket * _HIST_WIDTH).alias("bucket_lo"),
        )
        .groupBy("bucket", "bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "agg_listagg",
    oracle="""
    SELECT c_nationkey,
           string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segs,
           COUNT(*) AS n
    FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer) t
    GROUP BY c_nationkey
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): distinct market
    segments per nation, concatenated in sorted order.  collect_list order
    is nondeterministic under parallel merge, so the list is sort_array'd
    before joining — SURVEY §7.4's determinism rule applied to aggregation
    of strings.  Scale: the distinct prunes to |nation|x|segment| rows
    before any list is built; lists never exceed the (bounded) segment
    vocabulary."""
    c = load(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment").distinct()
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_list("c_mktsegment")), ",").alias("segs"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_approx_topk",
    oracle="""
    SELECT word, cnt FROM (
      SELECT word, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word
    )
    ORDER BY cnt DESC, word ASC
    LIMIT 20
    """,
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via mergeable Misra-Gries summaries + exact recount —
    the streaming-sketch top-k that never shuffles the full key space.

    Phase 1 (mapInPandas): each partition keeps a K=200-counter summary of
    the word stream (on overflow, subtract the (K+1)-th largest count from
    all and drop non-positives — the mergeable-summary reduction).  Any
    word with global frequency > n/K is GUARANTEED to survive in at least
    one partition (if its count were <= n_p/K in every partition, the
    total would be <= n/K), so the candidate union always contains every
    true heavy hitter regardless of partition boundaries.
    Phase 2: exact count of the bounded candidate set only (broadcast
    semi-join), so emitted counts are EXACT and the result is
    partition-layout independent — which is what licenses the exact hash
    oracle for an "approximate" operator.
    At 100 TB phase 1 moves K rows per partition (not the key space) and
    phase 2 aggregates a candidate-pruned stream; driver never sees raw
    data."""
    import pandas as pd

    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("word"))
    K = 200

    def mg_summary(batches):
        counters = pd.Series(dtype="int64")
        for pdf in batches:
            counters = counters.add(pdf["word"].value_counts(), fill_value=0)
            if len(counters) > K:
                m = counters.nlargest(K + 1).iloc[-1]
                counters = counters - m
                counters = counters[counters > 0]
        yield pd.DataFrame({"word": counters.index.astype(str)})

    candidates = toks.mapInPandas(mg_summary, "word string").distinct()
    exact = (
        toks.join(F.broadcast(candidates), "word", "left_semi")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return exact.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(20)


@register(
    "dq_expectations",
    oracle="""
    SELECT 'l_discount_in_range' AS rule, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.10 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity_positive', COUNT(*),
           CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag_accepted', COUNT(*),
           CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate_complete', COUNT(*),
           CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'o_orderkey_unique', COUNT(*) ,
           COUNT(*) - COUNT(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'lineitem_orderkey_referential',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (the Deequ/Great-Expectations shape):
    declarative rules evaluated in bulk, one result row per rule —
    range, positivity, accepted-values, completeness, key uniqueness, and
    cross-table referential integrity.  The report a pipeline gates a
    publish step on.

    Scale: the four lineitem row-rules fuse into ONE conditional aggregate
    (single scan, map-side partials — adding rules is free); uniqueness is
    a count-distinct over the key; referential integrity is a single
    left hash join on the key columns with a null-probe count — n_rows and
    n_violations in one pass, never EXISTS-per-row (its count matches the
    oracle's NOT EXISTS because o_orderkey is unique — itself verified by
    the adjacent rule).  Every rule's violation count shuffles one partial
    row per partition."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")

    def viol(cond):  # count rows violating the rule
        return F.sum(cond.cast("int"))

    li_rules = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        viol((F.col("l_discount") < 0.0) | (F.col("l_discount") > 0.10)).alias(
            "l_discount_in_range"
        ),
        viol(F.col("l_quantity").isNull() | (F.col("l_quantity") <= 0)).alias(
            "l_quantity_positive"
        ),
        viol(~F.col("l_returnflag").isin("A", "N", "R")).alias(
            "l_returnflag_accepted"
        ),
        viol(F.col("l_shipdate").isNull()).alias("l_shipdate_complete"),
    )
    li_report = li_rules.selectExpr(
        "stack(4, "
        "'l_discount_in_range', n_rows, l_discount_in_range, "
        "'l_quantity_positive', n_rows, l_quantity_positive, "
        "'l_returnflag_accepted', n_rows, l_returnflag_accepted, "
        "'l_shipdate_complete', n_rows, l_shipdate_complete"
        ") AS (rule, n_rows, n_violations)"
    )
    uniq = o.agg(
        F.lit("o_orderkey_unique").alias("rule"),
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_violations"),
    )
    orphans = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left")
        .agg(
            F.lit("lineitem_orderkey_referential").alias("rule"),
            F.count(F.lit(1)).alias("n_rows"),
            # COALESCE (empty sweep): the oracle's NOT-EXISTS count is 0
            # on an empty lineitem, so the null-probe SUM must be too.
            F.coalesce(
                F.sum(F.col("o_orderkey").isNull().cast("int")), F.lit(0)
            ).alias("n_violations"),
        )
    )
    return li_report.unionByName(uniq).unionByName(orphans)


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable roaring-style bitmaps (Spark
    3.5+ bitmap_* functions) — the warehouse pattern for distributed exact
    COUNT DISTINCT: keys bucket into 32k-bit bitmap segments
    (bitmap_bucket_number / bitmap_bit_position), segments OR-merge in a
    partial agg (bitmap_construct_agg), and the count is the sum of
    per-segment popcounts.  Unlike COUNT(DISTINCT)'s expand+reshuffle of
    every distinct VALUE, the shuffle here is one 4 KB bitmap per
    (group, bucket) — mergeable like an HLL sketch but exact; precomputed
    segment bitmaps also compose incrementally (the materialized-view
    trick).  Value-verified against the oracle's plain COUNT(DISTINCT).

    Each key gets its OWN (group, bucket) level — bucketing two keys in
    one grouping would replicate a key's bits across the other key's
    buckets and overcount — then the per-key counts join back on the
    group (3 rows, trivially broadcast)."""
    li = load(spark, sf_dir, "lineitem")

    def bitmap_distinct(key: str, alias: str) -> DataFrame:
        return (
            li.selectExpr(
                "l_returnflag",
                f"bitmap_bucket_number({key}) AS bkt",
                f"bitmap_bit_position({key}) AS pos",
            )
            .groupBy("l_returnflag", "bkt")
            .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
            .groupBy("l_returnflag")
            .agg(F.expr("sum(bitmap_count(bm))").alias(alias))
        )

    # null-safe join key: GROUP BY keeps the NULL-flag group, and a plain
    # equi-join between the two per-key count tables would silently drop
    # it (NULL = NULL is never true) where the oracle's single GROUP BY
    # keeps the row
    parts = bitmap_distinct("l_partkey", "n_parts")
    supps = bitmap_distinct("l_suppkey", "n_supps").withColumnRenamed(
        "l_returnflag", "rf2"
    )
    return (
        parts.join(supps, parts["l_returnflag"].eqNullSafe(supps["rf2"]))
        .drop("rf2")
    )


@register(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(28,6)))
                     AS VARCHAR) AS DOUBLE)
             / CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6)))
                         AS VARCHAR) AS DOUBLE)
             AS wavg_price,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6)))
                         AS VARCHAR) AS DOUBLE)
             AS effective_rate
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted averages — quantity-weighted unit price and the effective
    post-discount rate — the ratio-of-sums formulation (NEVER avg of
    ratios, and never an engine's own weighted-avg whose accumulation
    order differs).  Both numerator and denominator sum in decimal then
    divide once as doubles, so the hash is bit-stable (SURVEY §7.4).

    Scale: plain 2-phase hash aggregate; ratio-of-sums is the ONLY
    correct distributed weighted mean — it composes from partial sums,
    while avg-of-ratios cannot."""
    li = load(spark, sf_dir, "lineitem")
    dec = lambda c: F.sum(c.cast("decimal(28,6)")).cast("double")
    return li.groupBy("l_returnflag").agg(
        (
            dec(F.col("l_extendedprice") * F.col("l_quantity"))
            / dec(F.col("l_quantity"))
        ).alias("wavg_price"),
        (
            dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            / dec(F.col("l_extendedprice"))
        ).alias("effective_rate"),
    )


@register(
    "profile_key_skew",
    oracle="""
    WITH k AS (
      SELECT o_custkey AS key, COUNT(*) AS n FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys FROM k)
    SELECT key, n,
           ROUND(n * 1.0 / total, 6) AS share,
           ROUND(n * 1.0 * n_keys / total, 6) AS skew_factor
    FROM k CROSS JOIN tot
    ORDER BY n DESC, key ASC
    LIMIT 20
    """,
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew profiler: the 20 heaviest join/agg keys with their
    share of all rows and skew factor (count / mean-count — 1.0 = uniform)
    — the diagnostic run BEFORE choosing between plain shuffle,
    join_salted, and AQE skew-join (SCALE.md's per-key skew levers).

    Scale: one map-side-combined count per key, a broadcast 1-row total,
    and TakeOrderedAndProject for the top-20 — the profiler costs one
    aggregate regardless of table size, which is why it's cheap insurance
    before any big join."""
    o = load(spark, sf_dir, "orders")
    k = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = k.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        k.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
            F.round(F.col("n") * F.col("n_keys") / F.col("total"), 6).alias(
                "skew_factor"
            ),
        )
        .orderBy(F.col("n").desc(), F.col("key").asc())
        .limit(20)
    )


@register(
    "agg_mad_outliers",
    oracle="""
    WITH med AS (SELECT quantile_cont(value, 0.5) AS m FROM events),
    mad AS (
      SELECT m, quantile_cont(abs(value - m), 0.5) AS mad
      FROM events CROSS JOIN med GROUP BY m
    )
    SELECT event_id, value,
           ROUND(abs(value - m) / (1.4826 * NULLIF(mad, 0)), 4) AS robust_z
    FROM events CROSS JOIN mad
    WHERE abs(value - m) / (1.4826 * NULLIF(mad, 0)) > 3.0
    """,
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation: unlike the
    mean/stddev z-score (ts_zscore_outliers), the median/MAD pair is
    unmoved by the outliers themselves — the estimator of choice when
    contamination is the thing being hunted.  1.4826 scales MAD to
    sigma-equivalents under normality; threshold 3.

    Two exact-median passes (value, then |value - median|) with the
    1-row results broadcast into a narrow filter — three scans total,
    nothing but scalar rows ever moves.  Exact medians for oracle parity;
    at 100 TB both swap to approx_percentile (same broadcast shape)."""
    ev = load(spark, sf_dir, "events")
    med = ev.agg(F.percentile("value", F.lit(0.5)).alias("m"))
    mad = (
        ev.crossJoin(F.broadcast(med))
        .agg(
            F.first("m").alias("m"),
            F.percentile(F.abs(F.col("value") - F.col("m")), F.lit(0.5)).alias("mad"),
        )
    )
    # NULLIF guard (degenerate sweep): a constant series has MAD = 0 —
    # robust_z becomes NULL on both sides, so no row flags (a flat series
    # has no outliers) instead of ANSI-throw vs DuckDB-inf.
    rz = F.abs(F.col("value") - F.col("m")) / (
        1.4826 * F.nullif(F.col("mad"), F.lit(0.0))
    )
    return (
        ev.crossJoin(F.broadcast(mad))
        .filter(rz > 3.0)
        .select("event_id", "value", F.round(rz, 4).alias("robust_z"))
    )


@register(
    "agg_higher_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(l_quantity * l_quantity * l_quantity
                           AS DECIMAL(38,6))) AS DOUBLE) AS s3,
             CAST(SUM(CAST(l_quantity * l_quantity * l_quantity * l_quantity
                           AS DECIMAL(38,6))) AS DOUBLE) AS s4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * pow(s1 / n, 3))
                 / NULLIF(pow(s2 / n - pow(s1 / n, 2), 1.5), 0), 6)
             AS skewness_g1,
           ROUND((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * pow(s1 / n, 2) * (s2 / n) - 3 * pow(s1 / n, 4))
                 / NULLIF(pow(s2 / n - pow(s1 / n, 2), 2), 0) - 3.0, 6)
             AS kurtosis_g2
    FROM s
    """,
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness (g1) and excess kurtosis (g2) derived EXPLICITLY from
    power sums — not the engines' own skewness()/kurtosis(), whose bias
    conventions differ between Spark (population) and DuckDB (sample) and
    would never hash-match.  Σx..Σx⁴ accumulate in decimal (exact ints of
    the fixture's integral quantities), so the moment arithmetic sees
    identical doubles on both sides; round(6).

    The scale point: FOUR mergeable partial sums per group is the entire
    distributed cost — higher moments compose from power sums exactly
    like mean/variance do, one 2-phase aggregate at any size."""
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    dec = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dec(q).alias("s1"),
        dec(q * q).alias("s2"),
        dec(q * q * q).alias("s3"),
        dec(q * q * q * q).alias("s4"),
    )
    n = F.col("n")
    m1, m2, m3, m4 = (F.col(c) / n for c in ("s1", "s2", "s3", "s4"))
    # NULLIF guards (degenerate sweep): a constant column has var = 0 —
    # ANSI Spark throws, DuckDB infs; both sides agree on NULL.
    var = m2 - F.pow(m1, 2)
    g1 = (m3 - 3 * m1 * m2 + 2 * F.pow(m1, 3)) / F.nullif(
        F.pow(var, 1.5), F.lit(0.0)
    )
    g2 = (m4 - 4 * m1 * m3 + 6 * F.pow(m1, 2) * m2 - 3 * F.pow(m1, 4)) / F.nullif(
        F.pow(var, 2), F.lit(0.0)
    ) - 3.0
    return s.select(
        "l_returnflag",
        "n",
        F.round(g1, 6).alias("skewness_g1"),
        F.round(g2, 6).alias("kurtosis_g2"),
    )


@register(
    "profile_column_entropy",
    oracle="""
    WITH ce AS (
      SELECT event_type AS v, COUNT(*) AS c FROM events GROUP BY 1
    ),
    cl AS (
      SELECT lang AS v, COUNT(*) AS c FROM documents GROUP BY 1
    ),
    cs AS (
      SELECT source AS v, COUNT(*) AS c FROM documents GROUP BY 1
    )
    SELECT 'events.event_type' AS col, COUNT(*) AS n_distinct,
           round(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6) AS entropy_bits
    FROM ce
    UNION ALL
    SELECT 'documents.lang', COUNT(*),
           round(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6)
    FROM cl
    UNION ALL
    SELECT 'documents.source', COUNT(*),
           round(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6)
    FROM cs
    """,
)
def profile_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy + cardinality per categorical column — the data-
    profiling metric behind feature selection, anomaly baselining, and
    'is this column worth indexing/partitioning on' decisions (0 bits =
    constant column; log2(n_distinct) = uniform).

    Formulation: H = log2(N) - Σ c·log2(c) / N over the per-value count
    table, which needs only ONE aggregate over the counts — no p=c/N
    per-row division, no second pass for N (both N and Σ fall out of the
    same agg).  Integer counts in, one rounded float out.

    Scale (100 TB): per column, a map-side-combined count aggregate
    (|distinct values| rows shuffle) then a single-row reduction; the
    three columns run as independent branches of a union — on a cluster
    they schedule concurrently, and each branch's scan prunes to its one
    column (ReadSchema)."""
    ev = load(spark, sf_dir, "events")
    docs = load(spark, sf_dir, "documents")

    def col_entropy(df: DataFrame, col: str, label: str) -> DataFrame:
        counts = df.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        n = F.sum("c")
        return counts.agg(
            F.lit(label).alias("col"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(
                F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n, 6
            ).alias("entropy_bits"),
        )

    return (
        col_entropy(ev, "event_type", "events.event_type")
        .unionByName(col_entropy(docs, "lang", "documents.lang"))
        .unionByName(col_entropy(docs, "source", "documents.source"))
    )


@register(
    "agg_duplicate_stats",
    oracle="""
    WITH clusters AS (
      SELECT text, COUNT(*) AS c FROM documents GROUP BY text
    )
    SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
           COUNT(*) AS n_distinct_texts,
           CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_duplicate_rows,
           MAX(c) AS max_cluster,
           round(1.0 - COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS dup_ratio
    FROM clusters
    """,
)
def agg_duplicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication profile in one pass: total docs, distinct
    texts, surplus (removable) rows, the largest duplicate cluster, and
    the dedup ratio — the go/no-go report run BEFORE committing to an
    expensive full dedup of a crawl snapshot (dedup_exact then removes;
    this op only measures).

    Scale (100 TB): groups by sha256 digest so full text never shuffles
    (32-byte keys; the oracle groups raw text — identical modulo
    cryptographic collision, P < 2^-100); map-side combine collapses
    within-partition duplicates first, then a single-row reduction over
    |distinct| counts.  Output is 1 row — safe to collect anywhere."""
    d = load(spark, sf_dir, "documents")
    clusters = d.groupBy(F.sha2(F.col("text"), 256).alias("digest")).agg(
        F.count(F.lit(1)).alias("c")
    )
    n = F.sum("c")
    return clusters.agg(
        n.cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct_texts"),
        (n - F.count(F.lit(1))).cast("long").alias("n_duplicate_rows"),
        F.max("c").alias("max_cluster"),
        F.round(F.lit(1.0) - F.count(F.lit(1)) / n.cast("double"), 6).alias(
            "dup_ratio"
        ),
    )


@register(
    "agg_gini_coefficient",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(CAST(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT))
                  AS DOUBLE) / 1000000 AS DOUBLE) AS x
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i FROM cust
    )
    SELECT COUNT(*) AS n_customers,
           round(2.0 * SUM(i * x) / (COUNT(*) * SUM(x))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM ranked
    """,
)
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the one-number
    concentration summary (0 = perfectly even, →1 = one whale) behind
    'what % of revenue is our top decile' conversations; the scalar
    companion to dist_cumulative_share's full Pareto curve.  Uses the
    rank formulation G = 2·Σi·xᵢ/(n·Σxᵢ) − (n+1)/n over revenue sorted
    ascending with a customer-key tie-break (total order, so both
    engines rank identically).

    Scale (100 TB): the fact scan collapses to |customers| fixed-point
    sums first (map-side partials); the global ROW_NUMBER then runs
    over that bounded key space — one task over |customers| rows, the
    same bounded-axis argument as ts_inflight_orders (for a key space
    too big for one task, range-partition the sort and offset ranks by
    partition prefix counts — the two-pass prefix sum
    agg_abc_classification now demonstrates).  Output is one row."""
    o = load(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(lsum(F.col("o_totalprice")).alias("x"))
    w = Window.orderBy("x", "o_custkey")
    ranked = cust.select("x", F.row_number().over(w).alias("i"))
    n = F.count(F.lit(1))
    return ranked.agg(
        n.alias("n_customers"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("x")) / (n * F.sum("x"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


@register(
    "dq_freshness_sla",
    oracle="""
    WITH g AS (SELECT MAX(ts) AS gmax FROM events)
    SELECT event_type,
           CAST(FLOOR(epoch((SELECT gmax FROM g))) AS BIGINT)
             - CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS lag_s,
           CASE WHEN CAST(FLOOR(epoch((SELECT gmax FROM g))) AS BIGINT)
                     - CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) <= 3600
                THEN 1 ELSE 0 END AS sla_met
    FROM events
    GROUP BY event_type
    """,
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness monitoring: how far behind the newest event
    is each event_type's latest record, and does it meet a 1-hour SLA —
    the 'is this feed stale' page that fronts every ingestion dashboard.
    Anchored to the global data max (not wall clock) so the check is
    deterministic; integer-second lags via matching epoch floors.

    Scale (100 TB): two map-side-combined MAX aggregates over the same
    scan — Catalyst computes the global max as a 1-row broadcast join
    onto the |event_types|-key aggregate; nothing but (type, max)
    pairs shuffle.  On a live stream the same query runs incrementally
    as a streaming agg (stream_tumbling's machinery) with the SLA flag
    evaluated per micro-batch."""
    ev = load(spark, sf_dir, "events")
    g = ev.agg(F.unix_timestamp(F.max("ts")).alias("gmax"))
    per_type = ev.groupBy("event_type").agg(
        F.unix_timestamp(F.max("ts")).alias("tmax")
    )
    lag_s = F.col("gmax") - F.col("tmax")
    return per_type.join(F.broadcast(g)).select(
        "event_type",
        lag_s.alias("lag_s"),
        F.when(lag_s <= 3600, 1).otherwise(0).alias("sla_met"),
    )


@register(
    "agg_partial_merge_rollup",
    oracle="""
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS DOUBLE)
                / 1000000 AS DOUBLE) AS total_value,
           MIN(user_id) AS min_user,
           MAX(user_id) AS max_user
    FROM events
    GROUP BY 1, 2
    """,
)
def agg_partial_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup via MERGEABLE PARTIALS: aggregate the facts once
    into daily partial states (count / fixed-point sum / min / max per
    day+type), then combine partials into the weekly rollup WITHOUT
    touching the facts again — the state-table pattern behind every
    incremental materialized view (each new day computes only its own
    partial; historical weeks re-merge from ~7 tiny rows).  The oracle
    aggregates the raw facts directly in one pass: hash-equality IS the
    proof that the two-level merge loses nothing — which holds precisely
    because every statistic here is an algebraic aggregate (count/sum/
    min/max merge; a median would NOT and needs a sketch).

    Scale (100 TB): the daily partial table is |days|x|types| rows —
    the fact scan happens once per new partition ever; weekly/monthly/
    yearly rollups all derive from partials at log-scale cost.  Exactly
    Spark's own partial/final HashAggregate contract, materialized
    across runs instead of across tasks."""
    ev = load(spark, sf_dir, "events")
    # partial sums carry the hi/lo-split exact decimal(38,0) total
    # (exprs.fp_split_sum_of): a day×type partial at 100 TB holds ~1e9
    # rows and the weekly re-merge adds partials, so both levels stay
    # exact without a single-long accumulator's 9.2e18 cliff — and
    # decimal partials still MERGE algebraically, which is the whole
    # point of the op
    fp6 = fp_scaled_long(F.col("value"), 1_000_000)
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("p_n"),
        fp_split_sum_of(fp6).alias("p_sum6"),
        F.min("user_id").alias("p_min"),
        F.max("user_id").alias("p_max"),
    )
    return daily.groupBy(
        F.date_trunc("week", "day").cast("date").alias("week"),
        "event_type",
    ).agg(
        F.sum("p_n").cast("long").alias("n"),
        (F.sum("p_sum6").cast("double") / 1e6).alias("total_value"),
        F.min("p_min").alias("min_user"),
        F.max("p_max").alias("max_user"),
    )


@register(
    "agg_benford_distribution",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                         AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
      WHERE o_totalprice > 0
    )
    SELECT digit,
           COUNT(*) AS n,
           round(COUNT(*) / CAST((SELECT COUNT(*) FROM digits) AS DOUBLE),
                 6) AS pct,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_pct
    FROM digits
    GROUP BY digit
    """,
)
def agg_benford_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of order totals — the classic
    audit-analytics screen (fabricated or threshold-gamed amounts deviate
    from the log10(1+1/d) digit law that organic multiplicative data
    follows).  Digit extraction goes through EXACT integer cents
    (round(x·100) as bigint → first character) — never float log10 of
    the raw value, which would misbin at representation boundaries.

    Scale (100 TB): one projection + a 9-key aggregate with map-side
    partials; the total for pct is the same single-row broadcast the
    engines already share.  Output: 9 rows, observed vs expected
    percentages side by side."""
    o = load(spark, sf_dir, "orders")
    digits = o.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    total = digits.agg(F.count(F.lit(1)).alias("tot"))
    return (
        digits.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("tot").cast("double"), 6).alias("pct"),
            F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 6).alias(
                "benford_pct"
            ),
        )
    )


@register(
    "agg_weighted_percentile",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             l_extendedprice AS price,
             CAST(ROUND(l_quantity) AS BIGINT) AS wt,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    c AS (
      SELECT l_returnflag, price, wt,
             SUM(wt) OVER (PARTITION BY l_returnflag
                           ORDER BY price, l_orderkey, l_linenumber
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(wt) OVER (PARTITION BY l_returnflag) AS total
      FROM w
    )
    SELECT l_returnflag,
           CAST(MAX(total) AS BIGINT) AS total_weight,
           MIN(CASE WHEN 2 * cum >= total THEN price END) AS wmedian_price
    FROM c
    GROUP BY l_returnflag
    """,
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the price at which HALF THE QUANTITY (not half
    the line items) has been sold — the right central tendency whenever
    rows carry unequal mass (volume-weighted price, wealth-weighted
    income).  Formulation: cumulative weight over price-sorted rows, pick
    the first price whose cumulative weight reaches half the total; the
    2·cum ≥ total comparison stays in INTEGER weights so the threshold
    has no float boundary ambiguity.

    Scale (100 TB): one hashpartitioning(returnflag) exchange serves
    both windows and the final aggregate; the per-flag sort is the real
    cost (same as any exact percentile — switch to a weighted sketch
    when groups stop fitting a task).  Ties are totally ordered
    (price, orderkey, linenumber) so both engines cut at the same row."""
    li = load(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.round("l_quantity").cast("long").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    order = [F.col("price"), F.col("l_orderkey"), F.col("l_linenumber")]
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt_total = Window.partitionBy("l_returnflag")
    c = w.select(
        "l_returnflag",
        "price",
        F.sum("wt").over(wc).alias("cum"),
        F.sum("wt").over(wt_total).alias("total"),
    )
    return c.groupBy("l_returnflag").agg(
        F.max("total").cast("long").alias("total_weight"),
        F.min(
            F.when(2 * F.col("cum") >= F.col("total"), F.col("price"))
        ).alias("wmedian_price"),
    )


@register(
    "agg_histogram_2d",
    oracle="""
    SELECT CAST(FLOOR(l_extendedprice / 10000) AS BIGINT) AS price_bin,
           CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_bin,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def agg_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint 2-D histogram (price × quantity density grid) — the heatmap
    companion to agg_histogram's 1-D profile, and the cheap first look at
    correlation structure / outlier pockets before fitting anything.

    Scale (100 TB): one projection + a |bins_x|×|bins_y|-key aggregate
    with map-side partials; bin arithmetic is exact integer FLOOR
    division so both engines bucket identically at every boundary."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.floor(F.col("l_extendedprice") / 10000).cast("long").alias("price_bin"),
        F.floor(F.col("l_quantity") / 10).cast("long").alias("qty_bin"),
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "profile_value_patterns",
    oracle="""
    WITH pats AS (
      SELECT 'customer.c_name' AS col,
             regexp_replace(regexp_replace(regexp_replace(c_name,
               '[A-Z]', 'A', 'g'), '[a-z]', 'a', 'g'), '[0-9]', '9', 'g')
               AS pattern,
             c_name AS v
      FROM customer
      UNION ALL
      SELECT 'events.props',
             regexp_replace(regexp_replace(regexp_replace(props,
               '[A-Z]', 'A', 'g'), '[a-z]', 'a', 'g'), '[0-9]', '9', 'g'),
             props
      FROM events
    )
    SELECT col, pattern, COUNT(*) AS n,
           COUNT(DISTINCT v) AS n_distinct, MIN(v) AS example
    FROM pats
    GROUP BY col, pattern
    """,
)
def profile_value_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-pattern (shape) profiling: map every value to its character-
    class skeleton (A=upper, a=lower, 9=digit; punctuation kept literal)
    and count the shapes — the data-quality lens that surfaces mixed
    formats instantly ('three phone shapes in one column', 'some JSON
    props carry two-digit keys').  This is also the first step of
    format-preserving masking: the skeleton is what the mask must keep.

    Scale (100 TB): three chained regexp_replace projections (anchored
    character classes — no backtracking) in whole-stage codegen, then a
    |patterns|-key aggregate with map-side partials; example values ride
    along as MIN, so nothing unaggregated reaches the driver."""
    shape = lambda c: F.regexp_replace(
        F.regexp_replace(F.regexp_replace(c, "[A-Z]", "A"), "[a-z]", "a"),
        "[0-9]",
        "9",
    )
    c = load(spark, sf_dir, "customer").select(
        F.lit("customer.c_name").alias("col"),
        shape(F.col("c_name")).alias("pattern"),
        F.col("c_name").alias("v"),
    )
    e = load(spark, sf_dir, "events").select(
        F.lit("events.props").alias("col"),
        shape(F.col("props")).alias("pattern"),
        F.col("props").alias("v"),
    )
    return (
        c.unionByName(e)
        .groupBy("col", "pattern")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("v").alias("n_distinct"),
            F.min("v").alias("example"),
        )
    )


@register(
    "agg_cramers_v",
    oracle="""
    WITH cont AS (
      SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow,
             COUNT(*) AS n_ij
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, dow, n_ij,
             SUM(n_ij) OVER (PARTITION BY event_type) AS n_i,
             SUM(n_ij) OVER (PARTITION BY dow) AS n_j,
             SUM(n_ij) OVER () AS n
      FROM cont
    ),
    chi AS (
      SELECT SUM(pow(n_ij - n_i * n_j / CAST(n AS DOUBLE), 2)
                 / (n_i * n_j / CAST(n AS DOUBLE))) AS chi2,
             MAX(n) AS n,
             COUNT(DISTINCT event_type) AS r,
             COUNT(DISTINCT dow) AS c
      FROM tot
    )
    SELECT round(chi2, 6) AS chi2,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           round(sqrt(chi2 / NULLIF(n * (LEAST(r, c) - 1), 0)), 6) AS cramers_v
    FROM chi
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between two categoricals (event type ×
    day-of-week): the chi-square contingency statistic normalized to
    [0, 1] — the EDA answer to 'are these columns related' that a
    correlation matrix can't give for categories (is error traffic
    weekday-shaped?).

    Scale (100 TB): the fact table collapses to the r×c contingency
    matrix map-side (≤56 cells here); the marginals are windows over
    those cells and the statistic is a single-row reduction — the heavy
    term is one |r×c|-key aggregate regardless of row count.
    Determinism: counts are exact integers; expected frequencies and χ²
    are identically-formulated double arithmetic rounded at the end
    (both engines' dayofweek over DATE agrees: 0=Sunday after Spark's
    -1 shift)."""
    ev = load(spark, sf_dir, "events")
    cont = ev.groupBy(
        "event_type",
        (F.dayofweek(F.col("ts").cast("date")) - 1).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n_ij"))
    wi = Window.partitionBy("event_type")
    wj = Window.partitionBy("dow")
    wall = Window.partitionBy()
    tot = cont.select(
        "event_type",
        "dow",
        "n_ij",
        F.sum("n_ij").over(wi).alias("n_i"),
        F.sum("n_ij").over(wj).alias("n_j"),
        F.sum("n_ij").over(wall).alias("n"),
    )
    e = F.col("n_i") * F.col("n_j") / F.col("n").cast("double")
    chi = tot.agg(
        F.sum(F.pow(F.col("n_ij") - e, 2) / e).alias("chi2"),
        F.max("n").alias("n"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("dow").alias("c"),
    )
    return chi.select(
        F.round("chi2", 6).alias("chi2"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        # NULLIF guard (degenerate sweep): a 1×c or r×1 table zeroes
        # min(r,c)−1 — both sides agree on NULL.
        F.round(
            F.sqrt(
                F.col("chi2")
                / F.nullif(
                    (F.col("n") * (F.least("r", "c") - 1)).cast("double"),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "agg_audience_overlap",
    oracle="""
    WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    i AS (SELECT COUNT(*) AS n_inter FROM a JOIN b USING (user_id))
    SELECT (SELECT COUNT(*) FROM a) AS n_click,
           (SELECT COUNT(*) FROM b) AS n_purchase,
           n_inter,
           round(n_inter / NULLIF(CAST((SELECT COUNT(*) FROM a)
                 + (SELECT COUNT(*) FROM b) - n_inter AS DOUBLE), 0), 6)
             AS jaccard,
           round(n_inter / NULLIF(CAST((SELECT COUNT(*) FROM a) AS DOUBLE), 0),
                 6)
             AS containment_in_click
    FROM i
    """,
)
def agg_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between two behavioral segments (clickers vs
    purchasers): intersection, Jaccard, and containment — the
    campaign-targeting / identity-resolution overlap report ('how much
    of segment B is already inside A').

    Scale (100 TB): each segment reduces to a distinct user set
    (digest-width shuffle); the intersection is one equi join between
    those REDUCED sets, and all counts are 1-row aggregates combined by
    broadcast — raw events never pairwise-join.  For many segments at
    once, switch to per-segment HLL sketches and pairwise sketch
    intersection (agg_hll_merge's machinery) at bounded memory."""
    ev = load(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    na = a.agg(F.count(F.lit(1)).alias("n_click"))
    nb = b.agg(F.count(F.lit(1)).alias("n_purchase"))
    ni = a.join(b, "user_id").agg(F.count(F.lit(1)).alias("n_inter"))
    return (
        ni.crossJoin(na)
        .crossJoin(nb)
        .select(
            "n_click",
            "n_purchase",
            "n_inter",
            # NULLIF guard (empty sweep): both segments empty zeroes the
            # union and the click count — both engines agree on NULL.
            F.round(
                F.col("n_inter")
                / F.nullif(
                    (
                        F.col("n_click")
                        + F.col("n_purchase")
                        - F.col("n_inter")
                    ).cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_inter")
                / F.nullif(F.col("n_click").cast("double"), F.lit(0.0)),
                6,
            ).alias("containment_in_click"),
        )
    )


@register(
    "agg_hhi_concentration",
    oracle="""
    WITH nation_rev AS (
      SELECT n.n_regionkey AS regionkey, n.n_nationkey,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 1000000) AS BIGINT))
                  AS BIGINT) AS rev6
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    )
    , shares AS (
      SELECT regionkey,
             rev6 / CAST(SUM(rev6) OVER (PARTITION BY regionkey) AS DOUBLE)
               AS share
      FROM nation_rev
    )
    SELECT regionkey,
           COUNT(*) AS n_nations,
           round(SUM(pow(share, 2)), 6) AS hhi
    FROM shares
    GROUP BY regionkey
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index per region: the sum of
    squared revenue shares across that region's nations — the
    market-concentration scalar (1/n = perfectly even, →1 = monopoly)
    that pairs with agg_gini_coefficient (population inequality) and
    dist_cumulative_share (the full curve).

    Determinism: shares divide exact fixed-point longs by their exact
    partition sum; the ≤|nations| squared terms round at 6dp.

    Scale (100 TB): the fact scan collapses to |nations| rows (dims
    broadcast); share normalization is a window over ≤25 rows and the
    HHI itself a |regions|-key aggregate — everything after the first
    aggregate is driver-trivial."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    # per-nation revenue is a scale-proportional group (~6e9 rows at
    # 100 TB x fp<=5.5e11 o_totalprice overflows a single long) — the
    # hi/lo-split exact decimal sum has no cliff; the window sum adds
    # <=25 exact decimals and the share divides their double images,
    # bit-identical to the previous long->double promotion
    rev6 = fp_split_sum_of(
        fp_scaled_long(F.col("o_totalprice"), 1_000_000)
    )
    nation_rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_regionkey").alias("regionkey"), "n_nationkey"
        )
        .agg(rev6.alias("rev6"))
    )
    wr = Window.partitionBy("regionkey")
    share = F.col("rev6").cast("double") / F.sum("rev6").over(wr).cast("double")
    return (
        nation_rev.select("regionkey", share.alias("share"))
        .groupBy("regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.round(F.sum(F.pow("share", 2)), 6).alias("hhi"),
        )
    )


@register(
    "agg_leadtime_sla",
    oracle="""
    WITH lt AS (
      SELECT datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT CASE WHEN days <= 30 THEN '0-30'
                WHEN days <= 60 THEN '31-60'
                WHEN days <= 90 THEN '61-90'
                ELSE '90+' END AS bucket,
           COUNT(*) AS n,
           round(COUNT(*) / CAST((SELECT COUNT(*) FROM lt) AS DOUBLE), 6)
             AS pct
    FROM lt
    GROUP BY 1
    """,
)
def agg_leadtime_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead-time SLA distribution: line items bucketed by
    days between order and ship date — the fulfillment-performance
    report ('what fraction ships within 30 days'), and the template for
    any duration-SLA rollup (ticket resolution, approval latency).

    Scale (100 TB): the only real cost is the fact-fact key join
    (orders side serves dates; at scale pre-join or denormalize
    o_orderdate onto lineitem at ingest, as TPC-H's own schema hints);
    bucketing is integer CASE arithmetic and the aggregate is 4 keys
    map-side combined, with the total as a 1-row broadcast."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    days = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    lt = li.join(o, li.l_orderkey == o.o_orderkey).select(days.alias("days"))
    bucket = (
        F.when(F.col("days") <= 30, "0-30")
        .when(F.col("days") <= 60, "31-60")
        .when(F.col("days") <= 90, "61-90")
        .otherwise("90+")
    )
    total = lt.agg(F.count(F.lit(1)).alias("tot"))
    return (
        lt.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(total))
        .select(
            "bucket",
            "n",
            F.round(F.col("n") / F.col("tot").cast("double"), 6).alias("pct"),
        )
    )


@register(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk,
           (SELECT COUNT(*) FROM lineitem) AS n_child_rows,
           (SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
             AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM supplier s
                               WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT COUNT(*) FROM customer),
           (SELECT COUNT(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           (SELECT COUNT(*) FROM supplier),
           (SELECT COUNT(*) FROM supplier s
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = s.s_nationkey))
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full referential-integrity sweep: orphan counts for every foreign
    key in the schema in one report — the audit a lakehouse needs
    because nothing enforces FKs at write time (an upstream partial
    load shows up here first, as lineitems pointing at missing orders).
    All six edges of the TPC-H-ish FK graph are checked
    (lineitem→orders/part/supplier, orders→customer,
    customer→nation, supplier→nation).

    Scale (100 TB): each check is a LEFT ANTI join on the key — the
    parent side reduces to its key column (and broadcasts when it
    fits); the child side streams.  Checks are independent branches of
    a union, so a cluster runs them concurrently; output is 6 rows.
    Run it per-partition-increment after each load, not over history."""
    tables = {
        t: load(spark, sf_dir, t)
        for t in ("lineitem", "orders", "part", "supplier", "customer", "nation")
    }

    def check(fk: str, child: DataFrame, ckey: str, parent: DataFrame, pkey: str) -> DataFrame:
        n_child = child.agg(F.count(F.lit(1)).alias("n_child_rows"))
        orphans = child.join(
            parent.select(pkey), child[ckey] == parent[pkey], "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_orphans"))
        return (
            n_child.crossJoin(orphans)
            .select(
                F.lit(fk).alias("fk"), "n_child_rows", "n_orphans"
            )
        )

    li, o, p, s, c, n = (
        tables["lineitem"], tables["orders"], tables["part"],
        tables["supplier"], tables["customer"], tables["nation"],
    )
    reports = [
        check("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        check("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"),
        check("lineitem.l_suppkey->supplier", li, "l_suppkey", s, "s_suppkey"),
        check("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        check("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
        check("supplier.s_nationkey->nation", s, "s_nationkey", n, "n_nationkey"),
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


@register(
    "agg_abc_classification",
    oracle="""
    WITH part_rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 1000000) AS BIGINT))
                  AS BIGINT) AS rev6
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT rev6,
             SUM(rev6) OVER (ORDER BY rev6 DESC, l_partkey
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                             ROW) AS cum6,
             SUM(rev6) OVER () AS total6
      FROM part_rev
    ),
    classed AS (
      SELECT CASE WHEN cum6 <= 0.8 * total6 THEN 'A'
                  WHEN cum6 <= 0.95 * total6 THEN 'B'
                  ELSE 'C' END AS cls,
             rev6, total6
      FROM ranked
    )
    SELECT cls, COUNT(*) AS n_parts,
           round(SUM(rev6) / CAST(MAX(total6) AS DOUBLE), 6)
             AS revenue_share
    FROM classed
    GROUP BY cls
    """,
)
def agg_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: rank parts by revenue,
    class A = the head covering 80% of cumulative revenue, B = the next
    15%, C = the tail — the supply-chain segmentation that decides
    cycle-count frequency and stocking policy; the categorical readout
    of dist_cumulative_share's curve.

    Determinism: cumulative and total revenue are exact fixed-point
    longs, and the 80%/95% thresholds compare long·double products
    identically; rank ties break on the part key.

    Scale (100 TB): the fact table collapses to |parts| sums first;
    the global cumulative sum then runs as the two-pass RANGE-PARTITIONED
    prefix sum of ranks.ranked_by_range with the revenue as its weight —
    range-shuffle on the ranking key, per-partition split-sum partials
    prefix-summed into broadcast offsets, then within-partition running
    sums — so NO single task ever holds the |parts| axis (2e10 keys at
    100 TB), unlike a bare Window.partitionBy() cumulative.  This op is
    the demonstrated swap-in that the other ranked-cumulative ops'
    "range-partition the sort past task scale" notes point to; output
    is 3 rows."""
    li = load(spark, sf_dir, "lineitem")
    # single-long-ok: per-part sums are bounded (≈30 rows/part at any
    # SF ⇒ rev6 ≤ ~3e12, far under 2^63); every sum OVER the part space —
    # cumulative, total, per-class — is scale-proportional and uses the
    # hi/lo-split exact decimal form instead (exprs.fp_split_sum_*)
    part_rev = li.groupBy("l_partkey").agg(
        F.sum(
            fp_scaled_long(F.col("l_extendedprice"), 1_000_000)
        ).alias("rev6")
    )
    # values are identical to a single global window: the range
    # partitioner preserves the total order (rev6 DESC, partkey ASC) and
    # every sum is an exact decimal
    ranked = ranked_by_range(
        part_rev,
        [F.col("rev6").desc(), "l_partkey"],
        weight=F.col("rev6"),
    ).select("rev6", F.col("_rank").alias("cum6"), F.col("_n").alias("total6"))
    cls = (
        F.when(F.col("cum6") <= 0.8 * F.col("total6"), "A")
        .when(F.col("cum6") <= 0.95 * F.col("total6"), "B")
        .otherwise("C")
    )
    return (
        ranked.select(cls.alias("cls"), "rev6", "total6")
        .groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(
                fp_split_sum_of(F.col("rev6")).cast("double")
                / F.max("total6").cast("double"),
                6,
            ).alias("revenue_share"),
        )
    )


@register(
    "agg_bootstrap_ci",
    oracle="""
    WITH daily AS (
      SELECT datediff('day', DATE '1970-01-01',
                      CAST(date_trunc('day', ts) AS DATE)) AS dnum,
             CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
               AS v6
      FROM events GROUP BY 1
    ),
    draws AS (
      SELECT b.b, d.v6,
             ((d.dnum * 2654435761 + b.b * 40503 + 12345) % 1000000)
               / 1000000.0 AS u
      FROM daily d, (SELECT unnest(range(0, 100)) AS b) b
    ),
    weighted AS (
      SELECT b, v6,
             CASE WHEN u < 0.367879 THEN 0
                  WHEN u < 0.735759 THEN 1
                  WHEN u < 0.919699 THEN 2
                  WHEN u < 0.981012 THEN 3
                  ELSE 4 END AS w
      FROM draws
    ),
    means AS (
      SELECT b,
             SUM(w * v6) / 1000000.0 / SUM(w) AS m
      FROM weighted GROUP BY b HAVING SUM(w) > 0
    ),
    pt AS (
      SELECT AVG(v6 / 1000000.0) AS point_mean FROM daily
    )
    SELECT COUNT(*) AS n_resamples,
           round((SELECT point_mean FROM pt), 6) AS point_mean,
           round(quantile_cont(m, 0.025), 6) AS ci_lo,
           round(quantile_cont(m, 0.975), 6) AS ci_hi
    FROM means
    """,
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the daily-mean value — 100
    Poisson(1) resamples of the day series, each day's resample weight
    drawn from a DETERMINISTIC integer hash of (day, replicate), so the
    whole CI is replayable across engines and runs (no RNG stream to
    diverge — the same reasoning as sample_balanced_class).  Poisson
    bootstrap is the distributed-systems standard precisely because
    weights are computable per-row with no global coordination.

    Why it matters: a mean without an interval invites false reads of
    noise; this gives the 95% band from the data's own variability, no
    normality assumption.

    Scale (100 TB): the fact table collapses to the |days| axis FIRST;
    the 100× explode applies to that bounded axis (6k rows here), the
    per-replicate means are one small aggregate, and the percentile
    runs over 100 values.  Bootstrapping raw rows at scale uses the
    same weights computed inline — still one pass."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(
            F.date_trunc("day", "ts").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("dnum")
    ).agg(
        # per-day exact decimal total (hi/lo split): the replicate-level
        # Σ(w·v6) below adds ~1000 day totals of up to ~2e18 each at
        # 100 TB — a single-long accumulator would overflow there, while
        # decimal products/sums stay exact
        fp_split_sum_of(
            fp_scaled_long(F.col("value"), 1_000_000)
        ).alias("v6")
    )
    reps = spark.range(100).select(F.col("id").alias("b"))
    u = (
        (F.col("dnum") * F.lit(2654435761) + F.col("b") * 40503 + 12345)
        % 1000000
    ) / 1000000.0
    w = (
        F.when(u < 0.367879, 0)
        .when(u < 0.735759, 1)
        .when(u < 0.919699, 2)
        .when(u < 0.981012, 3)
        .otherwise(4)
    )
    weighted = daily.crossJoin(F.broadcast(reps)).select(
        "b", "v6", w.alias("w")
    )
    means = (
        weighted.groupBy("b")
        .agg(
            (F.sum(F.col("w") * F.col("v6")) / 1e6 / F.sum("w")).alias("m"),
            F.sum("w").alias("tw"),
        )
        .filter(F.col("tw") > 0)
    )
    pt = daily.agg(F.round(F.avg(F.col("v6") / 1e6), 6).alias("point_mean"))
    return means.crossJoin(F.broadcast(pt)).agg(
        F.count(F.lit(1)).alias("n_resamples"),
        F.max("point_mean").alias("point_mean"),
        F.round(F.percentile("m", F.lit(0.025)), 6).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(0.975)), 6).alias("ci_hi"),
    )


@register(
    "agg_topk_share",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT))
                  AS BIGINT) AS rev6
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT rev6,
             ROW_NUMBER() OVER (ORDER BY rev6 DESC, o_custkey) AS rk,
             SUM(rev6) OVER () AS total6,
             COUNT(*) OVER () AS n_cust
      FROM cust
    )
    SELECT CAST(MAX(n_cust) AS BIGINT) AS n_customers,
           round(SUM(CASE WHEN rk <= 10 THEN rev6 ELSE 0 END)
                 / CAST(MAX(total6) AS DOUBLE), 6) AS top10_share,
           round(SUM(CASE WHEN rk <= 100 THEN rev6 ELSE 0 END)
                 / CAST(MAX(total6) AS DOUBLE), 6) AS top100_share
    FROM ranked
    """,
)
def agg_topk_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whale concentration KPI: the share of total revenue held by the
    top-10 and top-100 customers — the number account-management and
    risk teams actually quote ('our top ten are 4% of revenue'), sitting
    between agg_gini_coefficient (one abstract scalar) and
    dist_cumulative_share (the whole curve).  Rank ties break on the
    customer key.

    Scale (100 TB): facts collapse to |customers| exact fixed-point
    sums; rank + shares run on that bounded axis (beyond task scale,
    the two-pass range-partitioned prefix sum agg_abc_classification
    demonstrates); output is one row."""
    o = load(spark, sf_dir, "orders")
    # single-long-ok: per-customer rev6 is bounded (~10 orders/customer
    # at any SF); the grand total over the whole customer axis is
    # scale-proportional — hi/lo-split exact decimal (the top-10/top-100
    # numerators sum ≤100 bounded longs, also single-long-ok)
    cust = o.groupBy("o_custkey").agg(
        F.sum(
            fp_scaled_long(F.col("o_totalprice"), 1_000_000)
        ).alias("rev6")
    )
    ranked = cust.select(
        "rev6",
        F.row_number()
        .over(Window.orderBy(F.col("rev6").desc(), F.col("o_custkey")))
        .alias("rk"),
        fp_split_sum_over(F.col("rev6"), Window.partitionBy()).alias("total6"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_cust"),
    )
    return ranked.agg(
        F.max("n_cust").cast("long").alias("n_customers"),
        F.round(
            F.sum(F.when(F.col("rk") <= 10, F.col("rev6")).otherwise(0))
            / F.max("total6").cast("double"),
            6,
        ).alias("top10_share"),
        F.round(
            F.sum(F.when(F.col("rk") <= 100, F.col("rev6")).otherwise(0))
            / F.max("total6").cast("double"),
            6,
        ).alias("top100_share"),
    )


@register(
    "agg_histogram_equidepth",
    oracle="""
    WITH b AS (
      SELECT l_extendedprice AS v,
             NTILE(10) OVER (ORDER BY l_extendedprice, l_orderkey,
                             l_linenumber) AS bucket
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL
    )
    SELECT bucket, COUNT(*) AS n,
           MIN(v) AS lo, MAX(v) AS hi
    FROM b
    GROUP BY bucket
    """,
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (10 buckets of equal row count with their
    value bounds) — the histogram optimizers and monitoring actually
    want: equi-width bins (agg_histogram) starve on skewed data, one bin
    holding 90% of rows; equi-depth bounds adapt to the distribution and
    read directly as deciles.  NTILE over a totally-ordered sort (value,
    then the unique line key) makes every bucket boundary deterministic.

    Scale (100 TB): an exact global NTILE is a global sort — fine for
    profiling runs; recurring production profiles use approx_percentile
    cutpoints instead (one sketch pass) and bucket by comparison, which
    is this op's documented swap (SURVEY §2.E).  Output: 10 rows."""
    # NULL prices have no position in a value distribution — excluded on
    # both sides (Spark's ASC NULLS FIRST would otherwise stuff them into
    # bucket 1 while the oracle's NULLS LAST pushes them to bucket 10)
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice").isNotNull()
    )
    w = Window.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    b = li.select(
        F.col("l_extendedprice").alias("v"), F.ntile(10).over(w).alias("bucket")
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )


@register(
    "dq_missingness_patterns",
    oracle="""
    WITH masked AS (
      SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderstatus END AS s,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE o_orderpriority END AS p,
             CASE WHEN o_orderkey % 13 = 0 THEN NULL
                  ELSE o_totalprice END AS t
      FROM orders
    )
    SELECT concat(CASE WHEN s IS NULL THEN 'S' ELSE '-' END,
                  CASE WHEN p IS NULL THEN 'P' ELSE '-' END,
                  CASE WHEN t IS NULL THEN 'T' ELSE '-' END) AS pattern,
           COUNT(*) AS n
    FROM masked
    GROUP BY 1
    """,
)
def dq_missingness_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-missingness pattern profile: rows bucketed by WHICH columns are
    null together (pattern 'SP-' = status+priority both missing) — the
    DQ lens per-column null rates can't give: correlated missingness
    usually means one broken upstream join or source, not three
    independent glitches, and the repair differs accordingly.  Nulls are
    injected deterministically (the fixture is complete) — on real data
    drop the injection and profile the raw columns.

    Scale (100 TB): the pattern string is a pure projection over null
    flags; the aggregate has ≤2^|cols| keys map-side combined.  For
    wide tables, bit-pack the flags into a long (fn_bitpack_key's
    technique) instead of a string."""
    o = load(spark, sf_dir, "orders")
    s = F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
        F.col("o_orderstatus")
    )
    p = F.when(F.col("o_orderkey") % 11 == 0, F.lit(None)).otherwise(
        F.col("o_orderpriority")
    )
    t = F.when(F.col("o_orderkey") % 13 == 0, F.lit(None)).otherwise(
        F.col("o_totalprice")
    )
    pattern = F.concat(
        F.when(s.isNull(), "S").otherwise("-"),
        F.when(p.isNull(), "P").otherwise("-"),
        F.when(t.isNull(), "T").otherwise("-"),
    )
    return o.select(pattern.alias("pattern")).groupBy("pattern").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "agg_trimmed_mean",
    oracle="""
    WITH bounds AS (
      SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
             quantile_cont(l_extendedprice, 0.95) AS hi
      FROM lineitem
    )
    SELECT round(CAST(SUM(CAST(ROUND(l_extendedprice * 1000000) AS BIGINT))
                 AS DOUBLE) / 1000000 / COUNT(*), 6) AS raw_mean,
           round(CAST(SUM(CAST(ROUND(l_extendedprice * 1000000) AS BIGINT))
                      FILTER (WHERE l_extendedprice >= (SELECT lo FROM bounds)
                              AND l_extendedprice <= (SELECT hi FROM bounds))
                 AS DOUBLE) / 1000000
                 / COUNT(*) FILTER (WHERE l_extendedprice
                                    >= (SELECT lo FROM bounds)
                                    AND l_extendedprice
                                    <= (SELECT hi FROM bounds)), 6)
             AS trimmed_mean,
           round(CAST(SUM(CAST(ROUND(GREATEST((SELECT lo FROM bounds),
                          LEAST((SELECT hi FROM bounds), l_extendedprice))
                          * 1000000) AS BIGINT)) AS DOUBLE) / 1000000
                 / COUNT(*), 6) AS winsorized_mean,
           CAST(COUNT(*) FILTER (WHERE l_extendedprice
                                 < (SELECT lo FROM bounds)
                                 OR l_extendedprice
                                 > (SELECT hi FROM bounds)) AS BIGINT)
             AS n_outside
    FROM lineitem
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust central tendency: the 5–95% trimmed mean (outliers
    dropped) and winsorized mean (outliers clamped to the bounds) next
    to the raw mean — the difference between them IS the outlier
    influence, the first number to check when a mean moves and nobody
    believes it.  Bounds come from exact percentiles (quantile_cont
    interpolation, the agg_percentile parity).

    Scale (100 TB): pass 1 computes the two cutpoints (exact here;
    approx_percentile's mergeable sketch at scale); the cutpoints
    broadcast as a 1-row join and pass 2 computes all three means +
    the outside count in ONE aggregate.  Two scans total, no sort of
    the full data."""
    # spread pass 2 (r11, guide §2.4): the full-column fixed-point sums ran
    # on the single fixture scan split.  Pass 1 (r12, VERDICT item 2): the
    # exact-percentile single-task buffer merge is replaced by the
    # range-partitioned two-phase rank — bit-identical bounds (pinned
    # equivalence, tests/test_r12_optimizations.py), every phase parallel,
    # so the raw scan feeds it directly (the helper's range exchange is
    # its own spread).
    li = spread(load(spark, sf_dir, "lineitem").select("l_extendedprice"))
    bounds = group_percentiles_exact(
        load(spark, sf_dir, "lineitem").select("l_extendedprice"),
        "l_extendedprice",
        [],
        {"lo": 0.05, "hi": 0.95},
    )
    v = F.col("l_extendedprice")
    inside = (v >= F.col("lo")) & (v <= F.col("hi"))

    # r12 correctness fix (found verifying the inherited tree): the three
    # means were plain double AVGs, whose summation order follows the
    # partitioning — at cpus=32 the sf0.01 winsorized mean sat on a 6dp
    # rounding midpoint and flipped vs the oracle (53055.821699 vs
    # 53055.8217 at cpus=8/DuckDB).  Both engines now sum the IDENTICAL
    # 6dp fixed-point integers (the repo's determinism discipline,
    # mirroring agg_winsorized_stats on the same column), which is
    # partition-order independent at any scale.
    def fp6(col):
        return fp_scaled_long(col, 1_000_000)

    def fpmean(col, cnt):
        return F.round(
            fp_split_sum_of(fp6(col)).cast("double") / 1000000 / cnt, 6
        )

    return li.join(F.broadcast(bounds)).agg(
        fpmean(v, F.count(F.lit(1))).alias("raw_mean"),
        fpmean(F.when(inside, v), F.count(F.when(inside, 1))).alias(
            "trimmed_mean"
        ),
        fpmean(
            F.greatest(F.col("lo"), F.least(F.col("hi"), v)), F.count(F.lit(1))
        ).alias("winsorized_mean"),
        F.count(F.when(~inside, 1)).cast("long").alias("n_outside"),
    )


@register(
    "agg_behavior_entropy",
    oracle="""
    WITH cnt AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    ent AS (
      SELECT user_id,
             log2(SUM(c)) - SUM(c * log2(c)) / SUM(c) AS h,
             COUNT(*) AS n_types
      FROM cnt GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           round(AVG(h), 6) AS mean_entropy,
           round(quantile_cont(h, 0.5), 6) AS p50_entropy,
           CAST(COUNT(*) FILTER (WHERE n_types = 1) AS BIGINT)
             AS n_single_type
    FROM ent
    """,
)
def agg_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity profile: Shannon entropy of each user's
    event-type mix (0 bits = does one thing; log2(k) = uses everything
    equally), summarized across the user base — the engagement-breadth
    signal that raw event counts miss (a 1000-event user who only
    'view's is a different product story from a 100-event power user),
    and a standard churn-model feature.  Uses profile_column_entropy's
    single-aggregate H formulation, per user.

    Scale (100 TB): one (user, type) aggregate, one |users| aggregate
    riding the same partitioning, then a bounded summary (exact median
    over |users| values — sketch it past task scale).  Nothing about
    the per-user entropy needs the corpus: it ships as a feature
    column directly from the second aggregate."""
    ev = load(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    n = F.sum("c")
    ent = cnt.groupBy("user_id").agg(
        (F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n).alias("h"),
        F.count(F.lit(1)).alias("n_types"),
    )
    return ent.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("h"), 6).alias("mean_entropy"),
        F.round(F.percentile("h", F.lit(0.5)), 6).alias("p50_entropy"),
        F.count(F.when(F.col("n_types") == 1, 1)).cast("long").alias(
            "n_single_type"
        ),
    )


@register(
    "agg_generalized_means",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           round(AVG(l_extendedprice), 2) AS arithmetic_mean,
           round(exp(AVG(ln(l_extendedprice))), 2) AS geometric_mean,
           round(COUNT(*) / SUM(1.0 / l_extendedprice), 2) AS harmonic_mean,
           round(sqrt(AVG(l_extendedprice * l_extendedprice)), 2)
             AS quadratic_mean
    FROM lineitem
    WHERE l_extendedprice > 0
    GROUP BY l_returnflag
    """,
)
def agg_generalized_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mean family side by side: arithmetic, geometric (exp of the
    log-mean — THE mean for growth rates and ratios, where averaging
    multipliers arithmetically overstates), harmonic (the mean for
    rates: average speed, price-per-unit), quadratic/RMS (the mean for
    magnitudes) — each answers a different question and the ordering
    HM ≤ GM ≤ AM ≤ QM is a built-in sanity check on any run.

    Determinism: every variant reduces to mergeable SUM/COUNT partials
    (Σln x, Σ1/x, Σx²) — engine-order float drift sits ~1e-13 relative,
    far inside the 6dp rounding; the >0 guard keeps ln/1-over defined.

    Scale (100 TB): one map-side-combined aggregate per group, exactly
    like any sum — no sort, no buffering, re-aggregatable upward by
    re-merging the same partials."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    v = F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        # round(x, 2), not 6 (extreme regime): at x ~ 1e10 the 6dp round
        # itself diverges cross-engine — x*1e6 crosses 2^53, where DuckDB's
        # multiply/nearbyint round drifts an ulp from Spark's BigDecimal
        # rounding; 2dp (money precision) stays exact to |x| ~ 9e13
        F.round(F.avg(v), 2).alias("arithmetic_mean"),
        F.round(F.exp(F.avg(F.log(v))), 2).alias("geometric_mean"),
        F.round(F.count(F.lit(1)) / F.sum(F.lit(1.0) / v), 2).alias(
            "harmonic_mean"
        ),
        F.round(F.sqrt(F.avg(v * v)), 2).alias("quadratic_mean"),
    )


@register(
    "agg_allocation_by_share",
    oracle="""
    WITH shares AS (
      SELECT l.l_orderkey, l.l_linenumber,
             CAST(ROUND(l.l_quantity) AS BIGINT) AS qty,
             SUM(CAST(ROUND(l.l_quantity) AS BIGINT))
               OVER (PARTITION BY l.l_orderkey) AS order_qty,
             o.o_totalprice
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    alloc AS (
      SELECT l_orderkey, l_linenumber,
             round(o_totalprice * qty / CAST(order_qty AS DOUBLE), 6)
               AS allocated
      FROM shares
    )
    SELECT CAST(SUM(CASE WHEN l_orderkey % 997 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sampled_lines,
           CAST(CAST(SUM(CASE WHEN l_orderkey % 997 = 0
                         THEN CAST(ROUND(allocated * 1e6) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS DOUBLE) / 1e6
             AS sampled_allocated
    FROM alloc
    """,
)
def agg_allocation_by_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allocation join: spread each order's header-level total across its
    line items in proportion to quantity share — the finance/cost-
    accounting primitive (freight allocation, overhead absorption,
    revenue splitting) that naive joins get wrong by either duplicating
    the header amount per line (the join_fanout_safe trap) or losing
    lines.  The share denominator is a window sum over the SAME join
    key, so no second aggregate-and-rejoin pass.

    Integer quantities keep shares exactly comparable; the sampled
    checksum (every 997th order) pins per-line allocations, not just
    totals, in the hash.

    Scale (100 TB): one fact-fact key join (header side often
    broadcastable after projection) and one window riding the SAME
    hashpartitioning(l_orderkey) — Catalyst reuses the join's exchange;
    per-line output, no second scan."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity").cast("long").alias("qty"),
        "o_totalprice",
    )
    w = Window.partitionBy("l_orderkey")
    alloc = j.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.col("o_totalprice")
            * F.col("qty")
            / F.sum("qty").over(w).cast("double"),
            6,
        ).alias("allocated"),
    )
    sampled = F.col("l_orderkey") % 997 == 0
    # The checksum was round(SUM(allocated), 6): a float sum over the
    # sampled lines (summation order engine-dependent) rounded at a
    # magnitude already 3.8e7 at sf0.1 (r11 near-cliff probe).  Each
    # per-line `allocated` is a 6dp-rounded double, i.e. within ~1e-5 of
    # its integer micro count k — ROUND(allocated*1e6) recovers k
    # exactly on both engines (no half-tie reachable), the sum is an
    # exact long (order-free), and the display is one correctly-rounded
    # 64-bit int->double cast (exact-agreeing in both engines at any
    # long magnitude).  The per-line round stays: O(1e5) per-line money
    # never grows with SF, where 6dp is sound.
    alloc6 = F.round(F.col("allocated") * 1e6).cast("long")
    return alloc.agg(
        F.sum(F.when(sampled, 1).otherwise(0)).cast("long").alias(
            "n_sampled_lines"
        ),
        (
            F.sum(F.when(sampled, alloc6).otherwise(0))
            .cast("long")  # single-long-ok: sampled micro-sum < 2^63 to ~$9e12 sampled total; ANSI aborts loudly beyond
            .cast("double")
            / F.lit(1e6)
        ).alias("sampled_allocated"),
    )


@register(
    "dq_json_schema_check",
    oracle="""
    WITH feed AS (
      SELECT CASE
               WHEN event_id % 101 = 0 THEN substr(props, 1, 3)
               WHEN event_id % 103 = 0 THEN '{"wrong": true}'
               ELSE props
             END AS payload
      FROM events
    ),
    checked AS (
      -- NOTE: json_extract* must sit in a NESTED CASE branch, not behind
      -- an AND guard: DuckDB adaptively reorders conjunction clauses by
      -- measured cost at larger row counts, so `json_valid(p) AND
      -- json_extract(p, ...)` starts THROWING on malformed payloads
      -- once enough vectors have flowed (reproduced: green at sf0.01,
      -- Invalid Input Error at sf0.1 — found by the r10 full-registry
      -- sf0.1 parity sweep).  CASE branches evaluate only on their
      -- selection vector and are never reordered.
      SELECT payload,
             CASE WHEN json_valid(payload) THEN 1 ELSE 0 END AS is_json,
             CASE WHEN json_valid(payload)
                  THEN CASE WHEN json_extract(payload, '$.k') IS NOT NULL
                                 AND TRY_CAST(
                                       json_extract_string(payload, '$.k')
                                       AS BIGINT) IS NOT NULL
                            THEN 1 ELSE 0 END
                  ELSE 0 END AS schema_ok
      FROM feed
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(1 - is_json) AS BIGINT) AS n_malformed,
           CAST(SUM(is_json * (1 - schema_ok)) AS BIGINT) AS n_wrong_schema,
           CAST(SUM(schema_ok) AS BIGINT) AS n_valid
    FROM checked
    """,
)
def dq_json_schema_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-feed schema validation: classify every payload as malformed (not
    JSON at all), wrong-schema (parses, but the required integer key
    'k' is missing or mistyped), or valid — the three-way triage every
    semi-structured ingest needs before from_json silently nulls its
    way through bad data.  Corruption is injected deterministically
    (%101 truncates, %103 substitutes keys) since the fixture feed is
    clean.

    Engine note: Spark get_json_object returns NULL on malformed input
    (so is_json uses a parse probe) and DuckDB exposes json_valid —
    different idioms, same classification, hash-proved identical.

    Scale (100 TB): all checks are per-row JSON-path projections in
    codegen (no UDF); the report is a single-row reduction.  Rows
    failing triage route to a quarantine sink (scan_csv_permissive's
    pattern) rather than dying in a cast."""
    ev = load(spark, sf_dir, "events")
    payload = (
        F.when(F.col("event_id") % 101 == 0, F.substring("props", 1, 3))
        .when(F.col("event_id") % 103 == 0, F.lit('{"wrong": true}'))
        .otherwise(F.col("props"))
    )
    feed = ev.select(payload.alias("payload"))
    # parse probe: a malformed document nulls EVERY path — probe '$'
    is_json = F.when(
        F.get_json_object("payload", "$").isNotNull(), 1
    ).otherwise(0)
    k_str = F.get_json_object("payload", "$.k")
    schema_ok = F.when(
        (is_json == 1)
        & k_str.isNotNull()
        & k_str.try_cast("bigint").isNotNull(),
        1,
    ).otherwise(0)
    checked = feed.select(is_json.alias("is_json"), schema_ok.alias("schema_ok"))
    return checked.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(1 - F.col("is_json")).cast("long").alias("n_malformed"),
        F.sum(F.col("is_json") * (1 - F.col("schema_ok")))
        .cast("long")
        .alias("n_wrong_schema"),
        F.sum("schema_ok").cast("long").alias("n_valid"),
    )


@register(
    "dq_duplicate_payments",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_totalprice, o_orderdate, o_orderkey,
             LAG(o_orderdate) OVER w AS prev_date,
             LAG(o_orderkey) OVER w AS prev_key
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey, o_totalprice
                   ORDER BY o_orderdate, o_orderkey)
    )
    SELECT COUNT(*) AS n_suspect_pairs,
           CAST(COALESCE(SUM(o_orderkey + prev_key), 0) AS BIGINT)
             AS pair_checksum
    FROM seq
    WHERE prev_date IS NOT NULL
      AND datediff('day', CAST(prev_date AS DATE),
                   CAST(o_orderdate AS DATE)) <= 1
    """,
)
def dq_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge detection: consecutive orders from the SAME customer
    for the EXACT same amount within one day — the finops/fraud screen
    for retried payments and double submissions.  Formulated as a LAG
    window over (customer, amount) so each order compares only against
    its same-amount predecessor — never a self-join of orders against
    orders on a fuzzy date predicate (which fans out quadratically per
    customer and needs a range join).

    The checksum of suspect order-key pairs pins exactly WHICH pairs
    fired, not just how many.

    Scale (100 TB): one hashpartitioning(custkey, amount) exchange and
    a single-row reduction.  Amount-tolerance variants ('same ±1%')
    bucket the amount first (join_range_binned's banding) and keep the
    same shape."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_totalprice").orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = o.select(
        "o_custkey",
        "o_totalprice",
        "o_orderdate",
        "o_orderkey",
        F.lag("o_orderdate").over(w).alias("prev_date"),
        F.lag("o_orderkey").over(w).alias("prev_key"),
    )
    suspect = seq.filter(
        F.col("prev_date").isNotNull()
        & (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.col("prev_date").cast("date")
            )
            <= 1
        )
    )
    return suspect.agg(
        F.count(F.lit(1)).alias("n_suspect_pairs"),
        F.coalesce(F.sum(F.col("o_orderkey") + F.col("prev_key")), F.lit(0))
        .cast("long")
        .alias("pair_checksum"),
    )


@register(
    "dq_sequence_gaps",
    oracle="""
    WITH s AS (
      SELECT event_id,
             event_id - LAG(event_id) OVER (ORDER BY event_id) AS step
      FROM (SELECT DISTINCT event_id FROM events WHERE event_id % 3 <> 0)
    )
    SELECT COUNT(*) AS n_gaps,
           CAST(SUM(step - 1) AS BIGINT) AS n_missing_ids,
           MAX(step - 1) AS max_gap
    FROM s
    WHERE step > 1
    """,
)
def dq_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-continuity audit: gaps in a supposedly-gapless ID stream
    (every third id deterministically withheld to simulate loss — the
    fixture sequence is complete) — gap count, total missing ids, and
    the largest hole: the first question after 'did we drop messages',
    answerable without any reference table because the sequence is its
    own contract.  LAG over the sorted distinct ids finds every hole in
    one pass — never a generate-series anti-join, which materializes
    the full id range.

    Scale (100 TB): the global LAG is a total sort of distinct ids —
    for an audit extract that is the point; a recurring check instead
    runs per partition-range (ids are monotone within a day) so each
    day's gaps localize without a global sort."""
    ev = load(spark, sf_dir, "events")
    ids = ev.filter(F.col("event_id") % 3 != 0).select("event_id").distinct()
    w = Window.orderBy("event_id")
    s = ids.select(
        (F.col("event_id") - F.lag("event_id").over(w)).alias("step")
    ).filter(F.col("step") > 1)
    return s.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("step") - 1).cast("long").alias("n_missing_ids"),
        F.max(F.col("step") - 1).alias("max_gap"),
    )


@register(
    "agg_rank_stability_spearman",
    oracle="""
    WITH per AS (
      SELECT c.c_nationkey,
             CAST(SUM(CASE WHEN o.o_orderkey % 2 = 0
                      THEN CAST(ROUND(o.o_totalprice * 1000000) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS r1_6,
             CAST(SUM(CASE WHEN o.o_orderkey % 2 = 1
                      THEN CAST(ROUND(o.o_totalprice * 1000000) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS r2_6
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    ),
    ranked AS (
      SELECT c_nationkey,
             ROW_NUMBER() OVER (ORDER BY r1_6 DESC, c_nationkey) AS rk1,
             ROW_NUMBER() OVER (ORDER BY r2_6 DESC, c_nationkey) AS rk2
      FROM per
    )
    SELECT COUNT(*) AS n_nations,
           CAST(SUM((rk1 - rk2) * (rk1 - rk2)) AS BIGINT) AS sum_d2,
           round(1.0 - 6.0 * SUM((rk1 - rk2) * (rk1 - rk2))
                 / NULLIF(COUNT(*) * (COUNT(*) * COUNT(*) - 1.0), 0), 6)
             AS spearman_rho
    FROM ranked
    """,
)
def agg_rank_stability_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """League-table stability: Spearman's rank correlation between the
    nation revenue rankings of two periods (order-key-parity halves) —
    ρ near 1 says the leaderboard is structural, ρ near 0 says last
    quarter's ranking was noise and nobody should be promoted over it.
    Uses the exact-integer formulation ρ = 1 − 6Σd²/(n(n²−1)) over
    tie-broken ROW_NUMBER ranks, so everything before the final ratio
    is integer arithmetic.

    Scale (100 TB): facts collapse to |nations| conditional sums in one
    scan; both rankings and the Σd² reduction run on that bounded axis.
    Rank stability of customers/SKUs = the same plan at the larger key
    (past task scale, the two-pass range-partitioned prefix sum
    agg_abc_classification demonstrates)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    r6 = fp_scaled_long(F.col("o_totalprice"), 1_000_000)
    p1 = F.col("o_orderkey") % 2 == 0
    per = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            # per-nation groups are scale-proportional (~6e9 orders each
            # at 100 TB) — hi/lo-split exact decimal sums; downstream
            # only orders/compares/differences them, sign-preserving
            fp_split_sum_of(F.when(p1, r6).otherwise(0)).alias("r1_6"),
            fp_split_sum_of(F.when(~p1, r6).otherwise(0)).alias("r2_6"),
        )
    )
    ranked = per.select(
        "c_nationkey",
        F.row_number()
        .over(Window.orderBy(F.col("r1_6").desc(), F.col("c_nationkey")))
        .alias("rk1"),
        F.row_number()
        .over(Window.orderBy(F.col("r2_6").desc(), F.col("c_nationkey")))
        .alias("rk2"),
    )
    d2 = (F.col("rk1") - F.col("rk2")) * (F.col("rk1") - F.col("rk2"))
    n = F.count(F.lit(1))
    return ranked.agg(
        n.alias("n_nations"),
        F.sum(d2).cast("long").alias("sum_d2"),
        # NULLIF guard (degenerate sweep): one ranked entity zeroes
        # n(n²−1) — both sides agree on NULL.
        F.round(
            F.lit(1.0)
            - F.lit(6.0)
            * F.sum(d2)
            / F.nullif(n * (n * n - F.lit(1.0)), F.lit(0.0)),
            6,
        ).alias("spearman_rho"),
    )


@register(
    "agg_rate_wilson_ci",
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events
    ),
    w AS (
      SELECT n, k,
             NULLIF(CAST(n AS DOUBLE), 0) AS nd,
             k / NULLIF(CAST(n AS DOUBLE), 0) AS p,
             1.959963985 AS z
      FROM s
    )
    SELECT n, k, round(p, 6) AS rate,
           round((p + z * z / (2 * nd)
                  - z * sqrt(p * (1 - p) / nd + z * z / (4.0 * nd * nd)))
                 / (1 + z * z / nd), 6) AS ci_lo,
           round((p + z * z / (2 * nd)
                  + z * sqrt(p * (1 - p) / nd + z * z / (4.0 * nd * nd)))
                 / (1 + z * z / nd), 6) AS ci_hi
    FROM w
    """,
)
def agg_rate_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% confidence interval for the purchase rate — the
    CORRECT interval for proportions: the naive p ± z√(p(1−p)/n) breaks
    near 0/1 (can go negative, badly undercovers on small counts) while
    Wilson stays in [0, 1] and covers as advertised — which is why it's
    the standard for conversion rates, defect rates, and ranked
    review scores.  agg_bootstrap_ci covers general statistics; this is
    the closed form the binomial case deserves.

    Scale (100 TB): one conditional-count aggregate and scalar
    arithmetic; per-segment intervals are the same formula after a
    keyed aggregate."""
    ev = load(spark, sf_dir, "events")
    s = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("k"),
    )
    # NULLIF guard (empty sweep): an empty events slice zeroes n and
    # every /n term — both engines agree on NULL intervals.
    nd = F.nullif(F.col("n").cast("double"), F.lit(0.0))
    p = F.col("k") / nd
    z = F.lit(1.959963985)
    denom = 1 + z * z / nd
    center = p + z * z / (2 * nd)
    half = z * F.sqrt(p * (1 - p) / nd + z * z / (4.0 * nd * nd))
    return s.select(
        "n",
        "k",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    )


@register(
    "agg_ks_two_sample",
    oracle="""
    WITH pooled AS (
      SELECT value AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g,
             event_id
      -- a NULL value cannot enter an empirical CDF (and would sort
      -- NULLS-FIRST in Spark vs NULLS-LAST here, shifting every step)
      FROM events WHERE event_type IN ('click', 'view')
        AND value IS NOT NULL
    ),
    counts AS (
      SELECT CAST(SUM(g) AS BIGINT) AS n1,
             CAST(SUM(1 - g) AS BIGINT) AS n2
      FROM pooled
    ),
    cdf AS (
      SELECT v,
             SUM(g) OVER (ORDER BY v, event_id ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW)
               / CAST(NULLIF((SELECT n1 FROM counts), 0) AS DOUBLE) AS f1,
             SUM(1 - g) OVER (ORDER BY v, event_id ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW)
               / CAST(NULLIF((SELECT n2 FROM counts), 0) AS DOUBLE) AS f2
      FROM pooled
    )
    SELECT (SELECT n1 FROM counts) AS n1,
           (SELECT n2 FROM counts) AS n2,
           round(MAX(abs(f1 - f2)), 6) AS ks_d,
           round(MAX(abs(f1 - f2))
                 / (1.3581 * sqrt(((SELECT n1 FROM counts)
                    + (SELECT n2 FROM counts))
                    / NULLIF(CAST((SELECT n1 FROM counts) AS DOUBLE)
                       * (SELECT n2 FROM counts), 0))), 6) AS d_over_crit05
    FROM cdf
    """,
)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the click and view
    value distributions: D = max |F₁ − F₂| over the pooled sorted
    sample, plus D relative to the 5% critical value (>1 rejects
    equality) — the distribution-level comparison that catches shape
    changes mean-based tests (ab_welch_ttest) are blind to, computed
    exactly with two cumulative windows over one sorted pass (the
    ROWS frame with the event_id tie-break makes both engines step the
    CDFs identically through tied values; the max over all rows is the
    supremum over step points).

    Scale (100 TB): the global sort is the cost (same class as the
    exact NTILE ops); at scale compute D on equi-depth bin boundaries
    from approx_percentile — the binned KS loses only within-bin
    resolution.  Output is one row."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
        # NULL values can't enter the empirical CDF (NULLS-FIRST vs
        # NULLS-LAST sort divergence in the cumulative window)
        & F.col("value").isNotNull()
    )
    pooled = ev.select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("g"),
        "event_id",
    )
    counts = pooled.agg(
        F.sum("g").cast("long").alias("n1"),
        F.sum(1 - F.col("g")).cast("long").alias("n2"),
    )
    w = Window.orderBy("v", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # NULLIF guards (degenerate sweep): an empty sample (n1 or n2 = 0)
    # zeroes the CDF and critical-value denominators — both sides NULL.
    cdf = pooled.join(F.broadcast(counts)).select(
        "n1",
        "n2",
        (
            F.sum("g").over(w)
            / F.nullif(F.col("n1").cast("double"), F.lit(0.0))
        ).alias("f1"),
        (
            F.sum(1 - F.col("g")).over(w)
            / F.nullif(F.col("n2").cast("double"), F.lit(0.0))
        ).alias("f2"),
    )
    d = F.max(F.abs(F.col("f1") - F.col("f2")))
    crit = 1.3581 * F.sqrt(
        (F.max("n1") + F.max("n2"))
        / F.nullif(F.max("n1").cast("double") * F.max("n2"), F.lit(0.0))
    )
    return cdf.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.round(d, 6).alias("ks_d"),
        F.round(d / crit, 6).alias("d_over_crit05"),
    )


@register(
    "agg_psi_drift",
    oracle="""
    WITH b AS (
      SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
    ),
    tagged AS (
      SELECT value,
             CASE WHEN epoch_us(ts) < (SELECT lo + (hi - lo) // 2 FROM b)
                  THEN 1 ELSE 2 END AS period
      FROM events
    ),
    edges AS (
      SELECT quantile_cont(value, 0.1) AS e1,
             quantile_cont(value, 0.2) AS e2,
             quantile_cont(value, 0.3) AS e3,
             quantile_cont(value, 0.4) AS e4,
             quantile_cont(value, 0.5) AS e5,
             quantile_cont(value, 0.6) AS e6,
             quantile_cont(value, 0.7) AS e7,
             quantile_cont(value, 0.8) AS e8,
             quantile_cont(value, 0.9) AS e9
      FROM tagged WHERE period = 1
    ),
    binned AS (
      SELECT t.period,
             CASE WHEN t.value <= e.e1 THEN 1
                  WHEN t.value <= e.e2 THEN 2
                  WHEN t.value <= e.e3 THEN 3
                  WHEN t.value <= e.e4 THEN 4
                  WHEN t.value <= e.e5 THEN 5
                  WHEN t.value <= e.e6 THEN 6
                  WHEN t.value <= e.e7 THEN 7
                  WHEN t.value <= e.e8 THEN 8
                  WHEN t.value <= e.e9 THEN 9
                  ELSE 10 END AS bin
      FROM tagged t CROSS JOIN edges e
    ),
    dist AS (
      SELECT bin,
             SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END)
               / NULLIF(CAST((SELECT COUNT(*) FROM tagged WHERE period = 1)
                             AS DOUBLE), 0) AS p1,
             SUM(CASE WHEN period = 2 THEN 1 ELSE 0 END)
               / NULLIF(CAST((SELECT COUNT(*) FROM tagged WHERE period = 2)
                             AS DOUBLE), 0) AS p2
      FROM binned GROUP BY bin
    )
    SELECT COUNT(*) AS n_bins,
           round(SUM((p2 - p1) * ln(NULLIF(p2, 0) / NULLIF(p1, 0))), 6) AS psi
    FROM dist
    """,
)
def agg_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the two halves of the window:
    decile bins FIT ON PERIOD 1 (the training-time distribution — the
    binning must never refit, that's the monitoring contract), period-2
    traffic scored into them, PSI = Σ(p₂−p₁)·ln(p₂/p₁) — THE
    feature-drift gate of production ML (rule of thumb: <0.1 stable,
    0.1–0.25 watch, >0.25 retrain).  KS (agg_ks_two_sample) asks 'are
    they different'; PSI quantifies 'how badly, for scorecards'.

    Determinism: the exact-microsecond midpoint rule; bin edges are
    interpolated decile values both engines compute identically; bin
    assignment is a ≤-comparison against 9 broadcast edges.

    Scale (100 TB): edges come from one percentile pass over period 1
    (sketch at scale), broadcast; binning is a projection; the PSI is a
    10-row reduction."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    b = ev.agg(
        (F.min(us) + F.floor((F.max(us) - F.min(us)) / 2).cast("long")).alias(
            "mid_us"
        )
    )
    tagged = ev.join(F.broadcast(b)).select(
        "value",
        F.when(F.unix_micros("ts") < F.col("mid_us"), 1).otherwise(2).alias(
            "period"
        ),
    )
    p1 = tagged.filter(F.col("period") == 1)
    edges = p1.agg(
        *[
            F.percentile("value", F.lit(0.1 * k)).alias(f"e{k}")
            for k in range(1, 10)
        ]
    )
    binned = tagged.join(F.broadcast(edges)).select(
        "period",
        F.when(F.col("value") <= F.col("e1"), 1)
        .when(F.col("value") <= F.col("e2"), 2)
        .when(F.col("value") <= F.col("e3"), 3)
        .when(F.col("value") <= F.col("e4"), 4)
        .when(F.col("value") <= F.col("e5"), 5)
        .when(F.col("value") <= F.col("e6"), 6)
        .when(F.col("value") <= F.col("e7"), 7)
        .when(F.col("value") <= F.col("e8"), 8)
        .when(F.col("value") <= F.col("e9"), 9)
        .otherwise(10)
        .alias("bin"),
    )
    # Period totals as a broadcast 1-row aggregate instead of two driver
    # .count() actions (r11, guide §5.1): the old form ran the scan+midpoint
    # pipeline two extra times before the real query even started.  The
    # cast-to-double totals are value-identical to the old float(n) literals
    # (counts are exact integers far below 2^53).
    totals = tagged.agg(
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0))
        .cast("double")
        .alias("t1"),
        F.sum(F.when(F.col("period") == 2, 1).otherwise(0))
        .cast("double")
        .alias("t2"),
    )
    # NULLIF guards (degenerate sweep): a one-period table zeroes the other
    # period's count, and a bin all of whose mass is in period 2 zeroes p1 —
    # ANSI Spark throws, DuckDB infs; both sides now agree on NULL psi.
    dist = (
        binned.join(F.broadcast(totals))
        .groupBy("bin")
        .agg(
            (
                F.sum(F.when(F.col("period") == 1, 1).otherwise(0))
                / F.nullif(F.first("t1"), F.lit(0.0))
            ).alias("p1"),
            (
                F.sum(F.when(F.col("period") == 2, 1).otherwise(0))
                / F.nullif(F.first("t2"), F.lit(0.0))
            ).alias("p2"),
        )
    )
    return dist.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.round(
            F.sum(
                (F.col("p2") - F.col("p1"))
                # NULLIF on BOTH proportions: ln(0) is a hard error in
                # DuckDB (and -inf in IEEE) when a bin has zero period-2
                # mass — the empty-bin term drops out as NULL on both sides
                * F.log(
                    F.nullif(F.col("p2"), F.lit(0.0))
                    / F.nullif(F.col("p1"), F.lit(0.0))
                )
            ),
            6,
        ).alias("psi"),
    )


@register(
    "agg_mutual_information",
    oracle="""
    WITH cont AS (
      SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow,
             COUNT(*) AS n_ij
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, dow, n_ij,
             SUM(n_ij) OVER (PARTITION BY event_type) AS n_i,
             SUM(n_ij) OVER (PARTITION BY dow) AS n_j,
             SUM(n_ij) OVER () AS n
      FROM cont
    )
    SELECT round(SUM((n_ij / CAST(n AS DOUBLE))
                     * ln(n_ij * CAST(n AS DOUBLE)
                          / (CAST(n_i AS DOUBLE) * n_j))), 6) AS mi_nats,
           round(SUM((n_ij / CAST(n AS DOUBLE))
                     * ln(n_ij * CAST(n AS DOUBLE)
                          / (CAST(n_i AS DOUBLE) * n_j)))
                 / ln(2.0), 6) AS mi_bits
    FROM tot
    """,
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and day-of-week — the
    information-theoretic dependence measure feature selection ranks by
    (MI = 0 ⟺ independent; unlike correlation it catches ANY
    dependence shape, and unlike Cramér's V it is additive across a
    feature set in the chain-rule sense).  Same contingency machinery as
    agg_cramers_v — the two ops are the χ²-school and the
    information-school readings of one table, worth having side by
    side.

    Scale (100 TB): the r×c contingency collapse map-side, marginal
    windows over ≤56 cells, one-row reduction — data volume only
    touches the first aggregate."""
    ev = load(spark, sf_dir, "events")
    cont = ev.groupBy(
        "event_type",
        F.dayofweek(F.col("ts").cast("date")).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n_ij"))
    wi = Window.partitionBy("event_type")
    wj = Window.partitionBy("dow")
    wall = Window.partitionBy()
    tot = cont.select(
        "n_ij",
        F.sum("n_ij").over(wi).alias("n_i"),
        F.sum("n_ij").over(wj).alias("n_j"),
        F.sum("n_ij").over(wall).alias("n"),
    )
    term = (F.col("n_ij") / F.col("n").cast("double")) * F.log(
        F.col("n_ij")
        * F.col("n").cast("double")
        / (F.col("n_i").cast("double") * F.col("n_j"))
    )
    return tot.agg(
        F.round(F.sum(term), 6).alias("mi_nats"),
        F.round(F.sum(term) / F.log(F.lit(2.0)), 6).alias("mi_bits"),
    )


@register(
    "agg_skyline_pareto",
    oracle="""
    WITH graded AS (
      SELECT * FROM part
      WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    ),
    levels AS (
      SELECT p_retailprice AS price, MAX(p_size) AS level_max
      FROM graded GROUP BY p_retailprice
    ),
    pref AS (
      SELECT price, level_max,
             MAX(level_max) OVER (ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cheaper_max
      FROM levels
    ),
    sky_levels AS (
      SELECT price, level_max FROM pref
      WHERE cheaper_max IS NULL OR level_max > cheaper_max
    )
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM graded p
    JOIN sky_levels s
      ON p.p_retailprice = s.price AND p.p_size = s.level_max
    """,
)
def agg_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query: the parts not dominated on
    (minimize p_retailprice, maximize p_size) — A dominates B when it
    is no worse on both axes and strictly better on one; ties on both
    axes keep both rows.  The classic 'best tradeoff candidates'
    operator (cheapest-per-capability sourcing, price/performance
    shortlists) that engines without a SKYLINE keyword express as an
    O(n²) NOT EXISTS; here it is the 2-D linear algorithm: collapse to
    per-price max-size levels, one strict-prefix running max ordered
    by price, keep levels that rise above every cheaper level, then a
    semi-join back for the witness rows.

    Scale (100 TB): one map-side-combined aggregate to |distinct
    prices| levels, one window over levels (tiny), one broadcast-able
    join back — versus the quadratic anti-join a naive formulation
    shuffles.  Higher dimensions fall back to the block-nested-loop
    skyline over this op's pre-filtered frontier candidates."""
    # a part with an unknown price or size cannot enter the dominance
    # order — excluded on both sides (a NULL axis would otherwise make
    # the running-max prefix and the witness join disagree cross-engine)
    p = load(spark, sf_dir, "part").where(
        F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
    )
    levels = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("level_max")
    )
    w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    sky_levels = (
        levels.select(
            "price", "level_max", F.max("level_max").over(w).alias("cheaper_max")
        )
        .filter(
            F.col("cheaper_max").isNull()
            | (F.col("level_max") > F.col("cheaper_max"))
        )
        .select("price", "level_max")
    )
    return p.join(
        F.broadcast(sky_levels),
        (p.p_retailprice == sky_levels.price)
        & (p.p_size == sky_levels.level_max),
    ).select("p_partkey", "p_retailprice", "p_size")


@register(
    "dq_cross_field_rules",
    oracle="""
    WITH r1 AS (
      SELECT 'ship_before_order' AS rule,
             COUNT(*) AS n_checked,
             CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    r2 AS (
      SELECT 'discount_out_of_band' AS rule,
             COUNT(*) AS n_checked,
             CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.5
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      FROM lineitem
    ),
    r3 AS (
      SELECT 'nonpositive_extendedprice' AS rule,
             COUNT(*) AS n_checked,
             CAST(SUM(CASE WHEN l_extendedprice <= 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      FROM lineitem
    ),
    r4 AS (
      SELECT 'bad_order_status' AS rule,
             COUNT(*) AS n_checked,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      FROM orders
    ),
    allr AS (
      SELECT * FROM r1 UNION ALL SELECT * FROM r2
      UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
    )
    SELECT rule, n_checked, n_violations,
           round(n_violations / CAST(n_checked AS DOUBLE), 6)
             AS violation_rate
    FROM allr
    """,
)
def dq_cross_field_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field consistency rulepack — the DQ checks single-column
    profiling (dq_expectations) cannot see: a line shipped before its
    order was placed (needs the orders join), discounts outside the
    contractual [0, 0.5] band, non-positive prices, and order statuses
    outside the enum — one row per rule with checked/violation counts
    and the rate, the shape a DQ dashboard ingests directly.

    Scale (100 TB): each rule is a map-side-combined conditional
    count over one scan; the only join keys lineitem to orders on
    orderkey (the co-partitioned fact-fact join join_bucketed
    pre-buckets at scale).  Rules union as 1-row frames — adding a
    rule never adds a pass over the data it does not touch."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")

    def pack(rule: str, df: DataFrame, viol) -> DataFrame:
        return df.agg(
            F.lit(rule).alias("rule"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(viol, 1).otherwise(0)).cast("long").alias(
                "n_violations"
            ),
        )

    joined = l.join(o, l.l_orderkey == o.o_orderkey)
    rules = (
        pack(
            "ship_before_order",
            joined,
            F.col("l_shipdate") < F.col("o_orderdate"),
        )
        .unionAll(
            pack(
                "discount_out_of_band",
                l,
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5),
            )
        )
        .unionAll(
            pack(
                "nonpositive_extendedprice", l, F.col("l_extendedprice") <= 0
            )
        )
        .unionAll(
            pack(
                "bad_order_status",
                o,
                ~F.col("o_orderstatus").isin("F", "O", "P"),
            )
        )
    )
    return rules.select(
        "rule",
        "n_checked",
        "n_violations",
        F.round(
            F.col("n_violations") / F.col("n_checked").cast("double"), 6
        ).alias("violation_rate"),
    )


@register(
    "dq_rowcount_anomaly_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    scored AS (
      SELECT d, n,
             AVG(n) OVER (ORDER BY d
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS avg7,
             STDDEV_SAMP(n) OVER (ORDER BY d
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sd7,
             COUNT(*) OVER (ORDER BY d
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_hist
      FROM daily
    )
    SELECT d, n, round(avg7, 6) AS avg7,
           CASE WHEN n_hist >= 7 AND sd7 > 0
                THEN round((n - avg7) / sd7, 6) END AS z,
           CASE WHEN n_hist >= 7 AND sd7 > 0
                     AND abs((n - avg7) / sd7) > 2.0
                THEN 1 ELSE 0 END AS anomaly
    FROM scored
    """,
)
def dq_rowcount_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly monitor: each day's event row count scored
    against the trailing 7-day mean/stddev (current day excluded so an
    anomalous day cannot vote on itself), z beyond ±2 flagged — the
    'did ingestion break last night' check every pipeline runs before
    trusting downstream aggregates, complementing dq_freshness_sla
    (is data late) with is-data-COMPLETE.  Warm-up days with under 7
    history rows emit NULL z and no flag rather than a junk score.

    Scale (100 TB): the daily rollup map-side combines to |days| rows;
    the trailing window runs over that tiny frame.  Per-source
    monitoring adds the source key to both the rollup and the window
    partition — same two-step shape."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("d").rowsBetween(-7, -1)
    scored = daily.select(
        "d",
        "n",
        F.avg("n").over(w).alias("avg7"),
        F.stddev_samp("n").over(w).alias("sd7"),
        F.count(F.lit(1)).over(w).alias("n_hist"),
    )
    ok = (F.col("n_hist") >= 7) & (F.col("sd7") > 0)
    z = (F.col("n") - F.col("avg7")) / F.col("sd7")
    return scored.select(
        "d",
        "n",
        F.round("avg7", 6).alias("avg7"),
        F.when(ok, F.round(z, 6)).alias("z"),
        F.when(ok & (F.abs(z) > 2.0), 1).otherwise(0).alias("anomaly"),
    )


@register(
    "dq_primary_key_check",
    oracle="""
    WITH checks AS (
      SELECT 'orders' AS tbl, 'o_orderkey' AS key_cols,
             COUNT(*) AS n_rows,
             COUNT(DISTINCT o_orderkey) AS n_distinct,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null_keys
      FROM orders
      UNION ALL
      SELECT 'lineitem', 'l_orderkey+l_linenumber', COUNT(*),
             COUNT(DISTINCT (l_orderkey, l_linenumber)),
             CAST(SUM(CASE WHEN l_orderkey IS NULL
                           OR l_linenumber IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'customer', 'c_custkey', COUNT(*),
             COUNT(DISTINCT c_custkey),
             CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
      FROM customer
      UNION ALL
      SELECT 'events', 'event_id', COUNT(*),
             COUNT(DISTINCT event_id),
             CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
      FROM events
      UNION ALL
      SELECT 'documents', 'doc_id', COUNT(*),
             COUNT(DISTINCT doc_id),
             CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
      FROM documents
    )
    SELECT tbl, key_cols, n_rows, n_distinct, n_null_keys,
           CASE WHEN n_rows = n_distinct AND n_null_keys = 0
                THEN 1 ELSE 0 END AS is_valid_pk
    FROM checks
    """,
)
def dq_primary_key_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key audit across the warehouse: for each declared or
    candidate key (simple and composite) the row count, distinct key
    count, null-key count and the resulting is-it-actually-a-PK
    verdict — the uniqueness half of referential health that
    dq_referential_integrity (FK orphans) assumes but never checks;
    run it BEFORE trusting any merge_upsert or cdc_compact_latest
    keyed on these columns.

    Scale (100 TB): one map-side-combined distinct-count aggregate
    per table, unioned as 1-row frames — each table is scanned once
    with only its key columns read (column pruning keeps the scan
    narrow)."""

    def check(tbl: str, label: str, cols: list, null_cond) -> DataFrame:
        t = load(spark, sf_dir, tbl)
        return t.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(label).alias("key_cols"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(*cols).alias("n_distinct"),
            F.sum(F.when(null_cond, 1).otherwise(0))
            .cast("long")
            .alias("n_null_keys"),
        )

    checks = (
        check("orders", "o_orderkey", ["o_orderkey"], F.col("o_orderkey").isNull())
        .unionAll(
            check(
                "lineitem",
                "l_orderkey+l_linenumber",
                ["l_orderkey", "l_linenumber"],
                F.col("l_orderkey").isNull() | F.col("l_linenumber").isNull(),
            )
        )
        .unionAll(
            check("customer", "c_custkey", ["c_custkey"], F.col("c_custkey").isNull())
        )
        .unionAll(
            check("events", "event_id", ["event_id"], F.col("event_id").isNull())
        )
        .unionAll(
            check("documents", "doc_id", ["doc_id"], F.col("doc_id").isNull())
        )
    )
    return checks.select(
        "tbl",
        "key_cols",
        "n_rows",
        "n_distinct",
        "n_null_keys",
        F.when(
            (F.col("n_rows") == F.col("n_distinct"))
            & (F.col("n_null_keys") == 0),
            1,
        )
        .otherwise(0)
        .alias("is_valid_pk"),
    )


@register(
    "agg_winsorized_stats",
    oracle="""
    WITH bounds AS (
      SELECT l_returnflag AS flag,
             quantile_cont(l_extendedprice, 0.05) AS p5,
             quantile_cont(l_extendedprice, 0.95) AS p95
      FROM lineitem GROUP BY l_returnflag
    ),
    clamped AS (
      SELECT l.l_returnflag AS flag,
             l.l_extendedprice AS x,
             LEAST(GREATEST(l.l_extendedprice, b.p5), b.p95) AS xw,
             CASE WHEN l.l_extendedprice < b.p5
                  OR l.l_extendedprice > b.p95 THEN 1 ELSE 0 END AS clamped
      FROM lineitem l JOIN bounds b ON l.l_returnflag = b.flag
    )
    SELECT flag, COUNT(*) AS n,
           CAST(SUM(clamped) AS BIGINT) AS n_clamped,
           round(CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE)
                 / 1000000 / COUNT(*), 6) AS raw_mean,
           round(CAST(SUM(CAST(ROUND(xw * 1000000) AS BIGINT)) AS DOUBLE)
                 / 1000000 / COUNT(*), 6) AS winsorized_mean
    FROM clamped GROUP BY flag
    """,
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized statistics: per-group means after CLAMPING (not
    dropping — that's agg_trimmed_mean) values to the exact [p5, p95]
    band, with the clamp counts — the robust mean that keeps sample
    size intact, standard for KPI reporting over long-tailed revenue.
    The clamped values pass through the 6-dp fixed-point accumulator,
    so both engines sum identical integers even though the clamp
    bounds are interpolated percentiles (deterministic doubles by the
    verified percentile rule).

    Scale (100 TB): exact percentiles per group (the one sort-bound
    step — swap approx_percentile at scale, documented), broadcast
    bounds join, then a map-side-combined fixed-point mean."""
    li = load(spark, sf_dir, "lineitem")
    # r12 (VERDICT item 2): single-task-per-group percentile buffer merge
    # -> range-partitioned two-phase rank, bit-identical bounds
    bounds = group_percentiles_exact(
        li, "l_extendedprice", ["l_returnflag"], {"p5": 0.05, "p95": 0.95}
    ).select(F.col("l_returnflag").alias("flag"), "p5", "p95")
    clamped = li.join(
        F.broadcast(bounds), li.l_returnflag == bounds.flag
    ).select(
        "flag",
        F.col("l_extendedprice").alias("x"),
        F.least(
            F.greatest(F.col("l_extendedprice"), F.col("p5")), F.col("p95")
        ).alias("xw"),
        F.when(
            (F.col("l_extendedprice") < F.col("p5"))
            | (F.col("l_extendedprice") > F.col("p95")),
            1,
        )
        .otherwise(0)
        .alias("clamped"),
    )

    def fp6(col):
        return fp_scaled_long(col, 1_000_000)

    # the flag axis has ~3 GLOBAL groups over lineitem — exact decimal
    # split sums (a single long overflows at ~8.7e7 rows/group)
    return clamped.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("clamped").cast("long").alias("n_clamped"),
        F.round(
            fp_split_sum_of(fp6(F.col("x"))).cast("double")
            / 1000000
            / F.count(F.lit(1)),
            6,
        ).alias("raw_mean"),
        F.round(
            fp_split_sum_of(fp6(F.col("xw"))).cast("double")
            / 1000000
            / F.count(F.lit(1)),
            6,
        ).alias("winsorized_mean"),
    )


@register(
    "dq_drift_report_multi",
    oracle="""
    WITH split AS (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS period,
             LEAST(9, CAST(FLOOR(o_totalprice / 60000) AS BIGINT))
               AS price_bucket,
             o_orderpriority AS prio,
             isodow(CAST(date_trunc('day', o_orderdate) AS DATE)) AS dow
      FROM orders
    ),
    dims AS (
      SELECT 'price_decile' AS col, CAST(price_bucket AS VARCHAR) AS cat,
             period FROM split
      UNION ALL
      SELECT 'orderpriority', prio, period FROM split
      UNION ALL
      SELECT 'orderdate_dow', CAST(dow AS VARCHAR), period FROM split
    ),
    counts AS (
      SELECT col, cat,
             CAST(SUM(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS BIGINT)
               AS ca,
             CAST(SUM(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT)
               AS cb
      FROM dims GROUP BY col, cat
    ),
    tots AS (
      SELECT col, CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cb) AS BIGINT) AS nb,
             COUNT(*) AS k
      FROM counts GROUP BY col
    ),
    psi AS (
      SELECT c.col,
             SUM(((c.ca + 1.0) / (t.na + t.k)
                  - (c.cb + 1.0) / (t.nb + t.k))
                 * ln(((c.ca + 1.0) / (t.na + t.k))
                      / ((c.cb + 1.0) / (t.nb + t.k)))) AS psi_raw,
             MAX(t.na) AS n_a, MAX(t.nb) AS n_b
      FROM counts c JOIN tots t ON c.col = t.col
      GROUP BY c.col
    )
    SELECT col, n_a, n_b, round(psi_raw, 6) AS psi,
           CASE WHEN psi_raw > 0.1 THEN 1 ELSE 0 END AS drift_flag
    FROM psi
    """,
)
def dq_drift_report_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column drift report: Laplace-smoothed PSI between the two
    (order-key parity) periods for a numeric column (fixed price
    deciles), a categorical (order priority) and a derived calendar
    dimension (weekday) — agg_psi_drift monitors ONE column; a real
    drift gate sweeps the schema and reports per-column PSI with one
    flag each (>0.1 = investigate, the standard threshold).  The +1
    smoothing keeps empty categories finite and deterministic on both
    engines; all counts are integers until the ≤20-term PSI sum.

    Scale (100 TB): one scan fans the row into |columns| (col, cat)
    pairs — the union is projection, not re-reads; counting map-side
    combines to Σ|cardinalities| keys and PSI reduces per column."""
    o = load(spark, sf_dir, "orders")
    split = o.select(
        F.when(F.col("o_orderkey") % 2 == 0, "a").otherwise("b").alias(
            "period"
        ),
        F.least(
            F.lit(9), F.floor(F.col("o_totalprice") / 60000).cast("long")
        )
        .cast("string")
        .alias("price_decile"),
        F.col("o_orderpriority").alias("orderpriority"),
        (F.weekday(F.to_date("o_orderdate")) + 1)
        .cast("string")
        .alias("orderdate_dow"),
    )
    dims = None
    for colname in ("price_decile", "orderpriority", "orderdate_dow"):
        part = split.select(
            F.lit(colname).alias("col"),
            F.col(colname).alias("cat"),
            "period",
        )
        dims = part if dims is None else dims.unionAll(part)
    counts = dims.groupBy("col", "cat").agg(
        F.sum(F.when(F.col("period") == "a", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("period") == "b", 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    tots = counts.groupBy("col").agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.count(F.lit(1)).alias("k"),
    )
    j = counts.join(F.broadcast(tots), "col")
    pa = (F.col("ca") + 1.0) / (F.col("na") + F.col("k"))
    pb = (F.col("cb") + 1.0) / (F.col("nb") + F.col("k"))
    psi = j.groupBy("col").agg(
        F.sum((pa - pb) * F.log(pa / pb)).alias("psi_raw"),
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
    )
    return psi.select(
        "col",
        "n_a",
        "n_b",
        F.round("psi_raw", 6).alias("psi"),
        F.when(F.col("psi_raw") > 0.1, 1).otherwise(0).alias("drift_flag"),
    )


@register(
    "agg_reference_percentile_rank",
    oracle="""
    WITH ref AS (
      SELECT CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS bin
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    ),
    ref_bins AS (
      SELECT bin, COUNT(*) AS c FROM ref GROUP BY bin
    ),
    ref_cdf AS (
      SELECT bin,
             CAST(SUM(c) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(SUM(c) OVER () AS BIGINT) AS n_ref
      FROM ref_bins
    ),
    cur AS (
      SELECT o_orderkey, o_totalprice,
             CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS bin
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderkey % 20 = 0
    ),
    matched AS (
      SELECT c.o_orderkey, c.o_totalprice,
             COALESCE(MAX(r.cum), 0) AS cum,
             MAX(r.n_ref) AS n_ref
      FROM cur c LEFT JOIN ref_cdf r ON r.bin <= c.bin
      GROUP BY c.o_orderkey, c.o_totalprice
    ),
    nref AS (SELECT MAX(n_ref) AS n FROM ref_cdf)
    SELECT o_orderkey, o_totalprice,
           round(cum / CAST((SELECT n FROM nref) AS DOUBLE), 6)
             AS ref_pct_rank
    FROM matched
    """,
)
def agg_reference_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile rank against a REFERENCE population: each current-
    period order's value scored by where it would have landed in the
    pre-1998 distribution ('this order is bigger than 93% of last
    era's orders') — the normalization behind 'versus historical
    baseline' scorecards and model-feature stability checks, distinct
    from percent_rank() which ranks within the SAME population.  The
    reference collapses to a $1000-binned CDF of integer counts
    (broadcast-size), so the lookup is deterministic and the rank
    exact at bin granularity.

    Scale (100 TB): the reference CDF is |bins| rows broadcast; each
    current row does one binary-search-shaped lookup — here expressed
    as a ≤-join collapsed by MAX, at scale a broadcast range lookup —
    so scoring is one pass with no shuffle of the current period."""
    o = load(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    ref_bins = (
        o.filter(F.col("o_orderdate") < cut)
        .select(F.floor(F.col("o_totalprice") / 1000).cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    ref_cdf = ref_bins.select(
        "bin",
        F.sum("c").over(wc).cast("long").alias("cum"),
        F.sum("c").over(wall).cast("long").alias("n_ref"),
    )
    cur = o.filter(
        (F.col("o_orderdate") >= cut) & (F.col("o_orderkey") % 20 == 0)
    ).select(
        "o_orderkey",
        "o_totalprice",
        F.floor(F.col("o_totalprice") / 1000).cast("long").alias("cbin"),
    )
    matched = (
        cur.join(F.broadcast(ref_cdf), F.col("bin") <= F.col("cbin"), "left")
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.coalesce(F.max("cum"), F.lit(0)).alias("cum"),
            F.max("n_ref").alias("n_ref"),
        )
    )
    n_ref_all = ref_cdf.agg(F.max("n_ref").alias("n"))
    return matched.crossJoin(F.broadcast(n_ref_all)).select(
        "o_orderkey",
        "o_totalprice",
        F.round(F.col("cum") / F.col("n").cast("double"), 6).alias(
            "ref_pct_rank"
        ),
    )


@register(
    "dq_rare_categories",
    oracle="""
    WITH levels AS (
      SELECT source || '/' || lang AS level, COUNT(*) AS n
      FROM documents GROUP BY source || '/' || lang
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM levels)
    SELECT l.level, l.n,
           round(l.n / CAST(t.total AS DOUBLE), 6) AS share
    FROM levels l CROSS JOIN tot t
    WHERE l.n * 100 < t.total
    """,
)
def dq_rare_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-category report: composite (source/lang) levels holding
    under 1% of rows — the levels that break one-hot encoders, leak
    identity under k-anonymity (pii_kanon_generalize collapses them),
    and destabilize per-segment metrics; surfacing them WITH counts
    is the prerequisite for the group-into-'other' decision.  The
    rarity cut is the integer cross-multiplication n·100 < total.

    Scale (100 TB): one map-side-combined level count, one scalar
    total, a broadcast filter — cardinality-bounded regardless of
    row count."""
    d = load(spark, sf_dir, "documents")
    levels = d.groupBy(
        F.concat_ws("/", "source", "lang").alias("level")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = levels.agg(F.sum("n").cast("long").alias("total"))
    return (
        levels.crossJoin(F.broadcast(tot))
        .filter(F.col("n") * 100 < F.col("total"))
        .select(
            "level",
            "n",
            F.round(F.col("n") / F.col("total").cast("double"), 6).alias(
                "share"
            ),
        )
    )


@register(
    "agg_anova_oneway",
    oracle="""
    WITH x AS (
      SELECT c.c_mktsegment AS seg,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS v
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    per AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(v) AS BIGINT) AS s_g,
             SUM(CAST(v AS HUGEINT) * v) AS ss_g
      FROM x GROUP BY seg
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS BIGINT) AS s,
             SUM(ss_g) AS ss,
             SUM(CAST(s_g AS DOUBLE) * s_g / n_g) AS sum_sq_over_n
      FROM per
    )
    SELECT k, n,
           k - 1 AS df_between, n - k AS df_within,
           round((sum_sq_over_n - CAST(s AS DOUBLE) * s / n)
                 / NULLIF(k - 1, 0)
                 / NULLIF((CAST(ss AS DOUBLE) - sum_sq_over_n)
                          / NULLIF(n - k, 0), 0), 6)
             AS f_stat,
           round((sum_sq_over_n - CAST(s AS DOUBLE) * s / n)
                 / NULLIF(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n, 0), 6)
             AS eta_squared
    FROM tot
    """,
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does order value differ across market segments?
    F = (SSB/(k-1)) / (SSW/(N-k)) plus eta-squared effect size — the
    'is this grouping real or noise' gate that runs before anyone
    builds per-segment models (ab_welch_ttest handles two groups;
    this is the k-group generalization).  Sums of squares accumulate
    as exact wide integers (cents in HUGEINT/decimal(38,0) — a cents
    square times row count overflows BIGINT, the classic silent-
    wraparound trap), and only the final F ratio goes through
    doubles.

    Scale (100 TB): one fact scan with a broadcast dim join, map-side
    combined partial sums to |segments| rows, then a 1-row reduction
    — the textbook two-phase aggregate; no sort, no second pass."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    v = (
        F.signum("o_totalprice") * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    x = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), v.alias("v")
    )
    per = x.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("v").cast("long").alias("s_g"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("ss_g"),
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ss_g").cast("double").alias("ss"),
        F.sum(F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g")).alias(
            "sum_sq_over_n"
        ),
    )
    # NULLIF guards (degenerate sweep): a single segment (k−1 = 0), one
    # row per group (n−k = 0), or constant values (SSW = SST = 0) zero
    # the F/eta denominators — both sides agree on NULL.
    ssb = F.col("sum_sq_over_n") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ssw = F.col("ss") - F.col("sum_sq_over_n")
    sst = F.col("ss") - F.col("s").cast("double") * F.col("s") / F.col("n")
    return tot.select(
        "k",
        "n",
        (F.col("k") - 1).alias("df_between"),
        (F.col("n") - F.col("k")).alias("df_within"),
        F.round(
            ssb
            / F.nullif((F.col("k") - 1).cast("double"), F.lit(0.0))
            / F.nullif(
                ssw
                / F.nullif((F.col("n") - F.col("k")).cast("double"), F.lit(0.0)),
                F.lit(0.0),
            ),
            6,
        ).alias("f_stat"),
        F.round(ssb / F.nullif(sst, F.lit(0.0)), 6).alias("eta_squared"),
    )


@register(
    "agg_theil_index",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s
      FROM per WHERE cents > 0
    )
    SELECT t.n,
           round(SUM((p.cents * 1.0 / t.s)
                     * ln(p.cents * 1.0 / t.s * t.n)), 6) + 0.0 AS theil_t,
           round(-SUM(ln(p.cents * 1.0 / t.s * t.n)) / t.n, 6) + 0.0 AS theil_l
    FROM per p CROSS JOIN tot t
    WHERE p.cents > 0
    GROUP BY t.n
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T and Theil L (mean log deviation) inequality of customer
    revenue — the decomposable inequality measures economists prefer
    over Gini (agg_gini_coefficient) because they split exactly into
    within-group + between-group terms.  Each ln term is computed on
    the revenue SHARE (exact long total in the denominator), so every
    float term is O(1/n) and the 6-dp round sits far above both
    engines' summation error — never ln of a raw magnitude, whose
    float sum would drift at the rounding boundary.

    Scale (100 TB): per-customer rollup map-side combines; the total
    is a 1-row broadcast back over the bounded per-customer set; both
    indices are one more combine."""
    o = load(spark, sf_dir, "orders")
    cents = (
        F.signum("o_totalprice") * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    per = (
        o.groupBy("o_custkey")
        .agg(F.sum(cents).cast("long").alias("cents"))
        .filter(F.col("cents") > 0)
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    share = F.col("cents") * F.lit(1.0) / F.col("s")
    return (
        per.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            # + 0.0 canonicalizes IEEE -0.0 (a perfectly equal distribution
            # rounds to ±0.0 differently per engine — degenerate-sweep find)
            (F.round(F.sum(share * F.log(share * F.col("n"))), 6) + 0.0).alias(
                "theil_t"
            ),
            (
                F.round(
                    -F.sum(F.log(share * F.col("n"))) / F.col("n").cast("double"), 6
                )
                + 0.0
            ).alias("theil_l"),
        )
        .select("n", "theil_t", "theil_l")
    )


@register(
    "agg_kendall_tau",
    oracle="""
    WITH per AS (
      SELECT c.c_nationkey,
             CAST(SUM(CASE WHEN o.o_orderkey % 2 = 0
                      THEN CAST(ROUND(o.o_totalprice * 1000000) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS r1_6,
             CAST(SUM(CASE WHEN o.o_orderkey % 2 = 1
                      THEN CAST(ROUND(o.o_totalprice * 1000000) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS r2_6
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    ),
    pairs AS (
      SELECT CAST(SUM(CASE WHEN sign(a.r1_6 - b.r1_6) = sign(a.r2_6 - b.r2_6)
                            AND a.r1_6 <> b.r1_6 AND a.r2_6 <> b.r2_6
                      THEN 1 ELSE 0 END) AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN sign(a.r1_6 - b.r1_6) = -sign(a.r2_6 - b.r2_6)
                            AND a.r1_6 <> b.r1_6 AND a.r2_6 <> b.r2_6
                      THEN 1 ELSE 0 END) AS BIGINT) AS nd,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM per a JOIN per b ON a.c_nationkey < b.c_nationkey
    )
    SELECT n_pairs, nc, nd,
           round((nc - nd) * 1.0 / n_pairs, 6) AS kendall_tau
    FROM pairs
    """,
)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau between the two period revenue rankings of
    agg_rank_stability_spearman — the pair-concordance view of the
    same question (tau is the probability a random nation pair keeps
    its order, minus the probability it flips; more robust to single
    large rank jumps than Spearman's rho).  The concordance test
    compares exact integer difference SIGNS (never the cross-product,
    which overflows 64 bits at 6-dp fixed point), and the pair join
    runs on the BOUNDED post-aggregation axis (|nations|² pairs) — the same
    declared-exact contract as dedup_near_jaccard, never on facts.

    Scale (100 TB): facts collapse to |nations| rows first; for a
    large key axis (customers, SKUs) swap the quadratic pair stage
    for the merge-sort inversion count (O(n log n)) over the
    range-partitioned rank arrays."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    r6 = fp_scaled_long(F.col("o_totalprice"), 1_000_000)
    p1 = F.col("o_orderkey") % 2 == 0
    per = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            # per-nation groups are scale-proportional (~6e9 orders each
            # at 100 TB) — hi/lo-split exact decimal sums; downstream
            # only orders/compares/differences them, sign-preserving
            fp_split_sum_of(F.when(p1, r6).otherwise(0)).alias("r1_6"),
            fp_split_sum_of(F.when(~p1, r6).otherwise(0)).alias("r2_6"),
        )
    )
    a = per.select(
        F.col("c_nationkey").alias("ka"),
        F.col("r1_6").alias("x1"),
        F.col("r2_6").alias("y1"),
    )
    b = per.select(
        F.col("c_nationkey").alias("kb"),
        F.col("r1_6").alias("x2"),
        F.col("r2_6").alias("y2"),
    )
    # sign comparison, NOT the cross-product: 6-dp fixed-point sums can
    # reach ~1e15, whose pairwise product overflows BIGINT on both engines
    sx = F.signum((F.col("x1") - F.col("x2")).cast("double"))
    sy = F.signum((F.col("y1") - F.col("y2")).cast("double"))
    both_distinct = (F.col("x1") != F.col("x2")) & (F.col("y1") != F.col("y2"))
    pairs = a.join(F.broadcast(b), F.col("ka") < F.col("kb")).agg(
        F.sum(F.when((sx == sy) & both_distinct, 1).otherwise(0))
        .cast("long")
        .alias("nc"),
        F.sum(F.when((sx == -sy) & both_distinct, 1).otherwise(0))
        .cast("long")
        .alias("nd"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    return pairs.select(
        "n_pairs",
        "nc",
        "nd",
        F.round((F.col("nc") - F.col("nd")) * F.lit(1.0) / F.col("n_pairs"), 6).alias(
            "kendall_tau"
        ),
    )


@register(
    "agg_chi_square_gof",
    oracle="""
    WITH obs AS (
      SELECT isodow(CAST(date_trunc('day', ts) AS DATE)) AS dow,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs)
    SELECT t.n, 6 AS df,
           round(SUM((o - t.n / 7.0) * (o - t.n / 7.0) / (t.n / 7.0)), 6)
             AS chi2,
           CASE WHEN SUM((o - t.n / 7.0) * (o - t.n / 7.0) / (t.n / 7.0))
                     > 12.591587 THEN 1 ELSE 0 END AS reject_uniform_5pct
    FROM obs CROSS JOIN tot t
    GROUP BY t.n
    """,
)
def agg_chi_square_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of event weekday load against the
    uniform-traffic hypothesis — the 'do we actually have a weekly
    cycle' test that should precede any dow-seasonal model
    (ts_seasonality_dow describes the profile; this says whether it
    is statistically real; agg_cramers_v is the two-variable cousin).
    Weekday keys are ISO (Spark weekday()+1 == DuckDB isodow — the
    engines' default dayofweek origins DISAGREE, Sunday-1 vs
    Sunday-0, so neither is used).  Observed counts are exact longs;
    each chi-square term derives from integers, and the 5% decision
    compares against the df=6 critical value as a constant.

    Scale (100 TB): a 7-key map-side-combined count and a 1-row
    reduction — one scan, no sort."""
    ev = load(spark, sf_dir, "events")
    obs = ev.groupBy(
        (F.expr("weekday(date_trunc('day', ts))") + 1).alias("dow")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    tot = obs.agg(F.sum("o").cast("long").alias("n"))
    exp = F.col("n") / F.lit(7.0)
    term = (F.col("o") - exp) * (F.col("o") - exp) / exp
    return (
        obs.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.sum(term).alias("_chi2_raw"),
        )
        .select(
            "n",
            F.lit(6).alias("df"),
            F.round(F.col("_chi2_raw"), 6).alias("chi2"),
            F.when(F.col("_chi2_raw") > 12.591587, 1)
            .otherwise(0)
            .alias("reject_uniform_5pct"),
        )
    )


@register(
    "dq_table_fingerprint",
    oracle="""
    WITH canon AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS c_orderkey,
             o_orderstatus AS c_status,
             o_orderpriority AS c_priority,
             strftime(o_orderdate, '%Y-%m-%d') AS c_date,
             CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)
               AS c_cents
      FROM orders
    ),
    u AS (
      SELECT 'o_orderkey' AS col_name, c_orderkey AS v FROM canon
      UNION ALL SELECT 'o_orderstatus', c_status FROM canon
      UNION ALL SELECT 'o_orderpriority', c_priority FROM canon
      UNION ALL SELECT 'o_orderdate', c_date FROM canon
      UNION ALL SELECT 'o_totalprice_cents', c_cents FROM canon
    )
    SELECT col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
           CAST(SUM(CAST(('0x' || substr(md5(COALESCE(v, chr(1))), 1, 8))
                         AS BIGINT)) AS BIGINT) AS checksum64
    FROM u GROUP BY col_name
    """,
)
def dq_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-wise table fingerprint: one row per audited column with
    row/null/distinct counts and an ORDER-INSENSITIVE content
    checksum (sum of the first 8 md5 hex digits per canonicalized
    value) — the cheap signature two sides of a migration exchange to
    prove 'same data' without moving it (reconcile_table_diff finds
    WHICH rows differ; this is the O(columns)-sized handshake that
    decides whether to bother).  Values canonicalize per type before
    hashing — money through the cents fixed-point, dates to ISO
    strings — because raw float/date formatting is exactly where two
    engines' to-string rules diverge.

    Scale (100 TB): one scan fans out to |audited columns| unioned
    aggregates, each a map-side-combined sum+distinct; the additive
    checksum is mergeable across partitions by construction (a
    commutative sum), which is what makes it a fingerprint you can
    compute incrementally per partition and roll up."""
    o = load(spark, sf_dir, "orders")
    cents = (
        F.signum("o_totalprice") * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    canon = o.select(
        F.col("o_orderkey").cast("string").alias("c_orderkey"),
        F.col("o_orderstatus").alias("c_status"),
        F.col("o_orderpriority").alias("c_priority"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("c_date"),
        cents.cast("string").alias("c_cents"),
    )
    cols = [
        ("o_orderkey", "c_orderkey"),
        ("o_orderstatus", "c_status"),
        ("o_orderpriority", "c_priority"),
        ("o_orderdate", "c_date"),
        ("o_totalprice_cents", "c_cents"),
    ]
    parts = None
    for name, c in cols:
        sl = canon.select(F.lit(name).alias("col_name"), F.col(c).alias("v"))
        parts = sl if parts is None else parts.unionAll(sl)
    return parts.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
        F.countDistinct("v").cast("long").alias("n_distinct"),
        F.sum(
            F.conv(
                F.substring(F.md5(F.coalesce(F.col("v"), F.lit("\x01"))), 1, 8),
                16,
                10,
            ).cast("long")
        )
        .cast("long")
        .alias("checksum64"),
    )


@register(
    "agg_atkinson_index",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s
      FROM per WHERE cents > 0
    )
    SELECT t.n,
           round(1.0 - power(AVG(sqrt(p.cents * 1.0 / t.s * t.n)), 2), 6)
             AS atkinson_050,
           round(1.0 - exp(AVG(ln(p.cents * 1.0 / t.s))) * t.n, 6)
             AS atkinson_100
    FROM per p CROSS JOIN tot t
    WHERE p.cents > 0
    GROUP BY t.n
    """,
)
def agg_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality at ε=0.5 and ε=1 over customer revenue —
    the welfare-theoretic member of the inequality family
    (agg_gini_coefficient, agg_theil_index): A(ε) reads directly as
    'the fraction of total revenue you could discard and be equally
    well off were it distributed evenly', with ε the inequality
    aversion.  Both indices are scale-invariant, so they compute on
    exact revenue SHARES (x/μ = share·n): every sqrt/ln term is O(1)
    and the 6-dp round dominates summation order on both engines —
    the same float discipline agg_theil_index establishes.

    Scale (100 TB): per-customer rollup map-side combines; one 1-row
    broadcast total; one reduction."""
    o = load(spark, sf_dir, "orders")
    cents = (
        F.signum("o_totalprice") * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    per = (
        o.groupBy("o_custkey")
        .agg(F.sum(cents).cast("long").alias("cents"))
        .filter(F.col("cents") > 0)
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    share = F.col("cents") * F.lit(1.0) / F.col("s")
    return (
        per.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.round(
                F.lit(1.0) - F.pow(F.avg(F.sqrt(share * F.col("n"))), 2), 6
            ).alias("atkinson_050"),
            F.round(
                F.lit(1.0) - F.exp(F.avg(F.log(share))) * F.col("n"), 6
            ).alias("atkinson_100"),
        )
        .select("n", "atkinson_050", "atkinson_100")
    )


@register(
    "agg_kmv_cardinality",
    oracle="""
    WITH h AS (
      SELECT DISTINCT CAST(('0x' || substr(
               md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM events
    ),
    ranked AS (
      SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_exact
      FROM h
    )
    SELECT n_exact, 64 AS k,
           round((64 - 1)
                 / (MAX(CASE WHEN rk = 64 THEN hv END)
                    / 1152921504606846976.0), 6) AS kmv_estimate,
           round(abs((64 - 1)
                 / (MAX(CASE WHEN rk = 64 THEN hv END)
                    / 1152921504606846976.0) - n_exact) * 1.0 / n_exact, 6)
             AS rel_err
    FROM ranked GROUP BY n_exact
    """,
)
def agg_kmv_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, audited against
    the exact count: hash every key to a uniform 60-bit value, keep
    the k=64 smallest, estimate |D| ≈ (k−1)/h_(k) where h_(k) is the
    k-th minimum normalized to [0,1) — the OTHER mergeable
    cardinality sketch besides HLL (agg_approx_distinct /
    agg_hll_merge), and unlike HLL its state supports set
    INTERSECTION estimates.  The hash is md5-derived (engine-
    identical), so estimate, exact count, and relative error all
    hash-verify — the sketch itself is under test, the same contract
    as dedup_minhash_estimate.

    Scale (100 TB): per-partition keep-64-smallest merges
    associatively (a bounded top-k combine, never a global distinct);
    the exact count here is the audit baseline, not the product
    path."""
    ev = load(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    h = ev.select(hv.alias("hv")).distinct()
    wr = Window.orderBy("hv")
    ranked = h.select(
        "hv",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("n_exact"),
    )
    hk = F.max(F.when(F.col("rk") == 64, F.col("hv")))
    est = F.lit(63) / (hk / F.lit(1152921504606846976.0))
    return (
        ranked.groupBy("n_exact")
        .agg(
            F.round(est, 6).alias("kmv_estimate"),
            F.round(
                F.abs(est - F.col("n_exact")) * F.lit(1.0) / F.col("n_exact"), 6
            ).alias("rel_err"),
        )
        .select("n_exact", F.lit(64).alias("k"), "kmv_estimate", "rel_err")
    )


@register(
    "agg_quantile_normalize",
    oracle="""
    WITH a AS (
      SELECT CAST(ROUND("value" * 100) AS BIGINT) AS cents, event_id,
             ROW_NUMBER() OVER (ORDER BY "value", event_id) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS na
      FROM events WHERE event_type = 'purchase'
    ),
    b AS (
      SELECT event_id, CAST(ROUND("value" * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (ORDER BY "value", event_id) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS nb
      FROM events WHERE event_type = 'click'
    )
    SELECT b.event_id, b.cents AS click_cents,
           a.cents AS normalized_cents,
           b.rk AS b_rank, a.rk AS a_rank
    FROM b JOIN a ON a.rk = (b.rk * a.na + b.nb - 1) // b.nb
    WHERE b.event_id % 5 = 0
    """,
)
def agg_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization: map every click-event value onto the
    purchase-value distribution by matching empirical ranks (value at
    the same quantile), the nearest-rank exact form — the
    distribution-transfer tool (microarray normalization, score
    calibration across channels) that feature_quantile_bucketize's
    coarse bins can't do: after mapping, B's distribution IS A's.
    Target rank is pure integer math, ceil(rB·nA/nB) as
    (rB·nA + nB − 1) // nB, and ranks tie-break on event_id so both
    engines pick identical row orderings.

    Scale (100 TB): two global sorts (range-partitioned at scale) and
    one equi-join on rank — at extreme n, swap exact ranks for
    percentile-sketch lookups (agg_approx_percentile's shape) with
    bounded error."""
    ev = load(spark, sf_dir, "events")
    cents = (
        F.signum("value") * ((F.abs(F.col("value")) * 100 + 0.5).cast("long"))
    ).cast("long")
    a = ev.filter(F.col("event_type") == "purchase").select(
        cents.alias("a_cents"),
        F.row_number()
        .over(Window.orderBy("value", "event_id"))
        .alias("a_rank"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("long")
        .alias("na"),
    )
    b = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        cents.alias("click_cents"),
        F.row_number()
        .over(Window.orderBy("value", "event_id"))
        .alias("b_rank"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("long")
        .alias("nb"),
    )
    target = (F.col("b_rank") * F.col("na") + F.col("nb") - 1) / F.col("nb")
    return (
        b.join(
            a,
            F.col("a_rank") == target.cast("long"),
        )
        .filter(F.col("event_id") % 5 == 0)
        .select(
            "event_id",
            "click_cents",
            F.col("a_cents").alias("normalized_cents"),
            "b_rank",
            "a_rank",
        )
    )


@register(
    "agg_mood_median_test",
    oracle="""
    WITH pool AS (
      SELECT CASE WHEN event_type = 'click' THEN 'A' ELSE 'B' END AS grp,
             CAST(ROUND("value" * 100) AS BIGINT) AS v
      FROM events
      WHERE event_type IN ('click', 'error') AND "value" IS NOT NULL
    ),
    med AS (
      SELECT v AS gm FROM (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rk,
               COUNT(*) OVER () AS n
        FROM pool
      ) WHERE rk = (n + 1) // 2
    ),
    cnt AS (
      SELECT
        CAST(SUM(CASE WHEN grp = 'A' AND v >  m.gm THEN 1 ELSE 0 END)
             AS BIGINT) AS a,
        CAST(SUM(CASE WHEN grp = 'A' AND v <= m.gm THEN 1 ELSE 0 END)
             AS BIGINT) AS b,
        CAST(SUM(CASE WHEN grp = 'B' AND v >  m.gm THEN 1 ELSE 0 END)
             AS BIGINT) AS c,
        CAST(SUM(CASE WHEN grp = 'B' AND v <= m.gm THEN 1 ELSE 0 END)
             AS BIGINT) AS d,
        MAX(m.gm) AS median_cents
      FROM pool CROSS JOIN med m
    )
    SELECT median_cents, a, b, c, d,
           round((a + b + c + d)
                 * CAST((a * d - b * c) AS DOUBLE)
                 * (a * d - b * c)
                 / NULLIF((a + b) * 1.0 * (c + d) * (a + c) * (b + d), 0), 6)
             AS chi2
    FROM cnt
    """,
)
def agg_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test on the click-vs-error value pool: classify
    every observation above/at-or-below the GRAND median (an exact
    order statistic, rank (N+1)//2) and chi-square the resulting 2×2
    table — the blunt-but-assumption-free location test that
    complements ab_mann_whitney_u (rank-sum is more powerful;
    median-test survives gross outliers and censoring untouched).
    Counts are exact integers; the chi-square statistic
    N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) computes its one big product in
    DOUBLE after an exact integer ad−bc.

    Scale (100 TB): the median is one global order statistic
    (range-partitioned sort or percentile-sketch swap at extreme n);
    classification and the 2×2 rollup are a single broadcast-compare
    pass."""
    ev = load(spark, sf_dir, "events")
    cents = (
        F.signum("value") * ((F.abs(F.col("value")) * 100 + 0.5).cast("long"))
    ).cast("long")
    # a NULL value is no observation: it cannot rank against the median
    # (and Spark/DuckDB disagree on where NULLs sort, so the grand-median
    # row number would shift cross-engine)
    pool = ev.filter(
        F.col("event_type").isin("click", "error")
        & F.col("value").isNotNull()
    ).select(
        F.when(F.col("event_type") == "click", F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("grp"),
        cents.alias("v"),
    )
    ranked = pool.select(
        "v",
        F.row_number().over(Window.orderBy("v")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    med = ranked.filter(
        F.col("rk") == ((F.col("n") + 1) / 2).cast("long")
    ).select(F.col("v").alias("gm"))
    cnt = pool.crossJoin(F.broadcast(med)).agg(
        F.sum(F.when((F.col("grp") == "A") & (F.col("v") > F.col("gm")), 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when((F.col("grp") == "A") & (F.col("v") <= F.col("gm")), 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when((F.col("grp") == "B") & (F.col("v") > F.col("gm")), 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when((F.col("grp") == "B") & (F.col("v") <= F.col("gm")), 1).otherwise(0)).cast("long").alias("d"),
        F.max("gm").alias("median_cents"),
    )
    det = (F.col("a") * F.col("d") - F.col("b") * F.col("c")).cast("double")
    return cnt.select(
        "median_cents",
        "a",
        "b",
        "c",
        "d",
        # NULLIF guard (degenerate sweep): an empty group or a one-sided
        # median split zeroes a margin — both sides agree on NULL.
        F.round(
            (F.col("a") + F.col("b") + F.col("c") + F.col("d"))
            * det
            * det.cast("double")
            / F.nullif(
                (F.col("a") + F.col("b"))
                * F.lit(1.0)
                * (F.col("c") + F.col("d"))
                * (F.col("a") + F.col("c"))
                * (F.col("b") + F.col("d")),
                F.lit(0.0),
            ),
            6,
        ).alias("chi2"),
    )


@register(
    "agg_poisson_rate_ci",
    oracle="""
    WITH span AS (
      SELECT CAST(COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE))
                  AS BIGINT) AS days
      FROM events
    ),
    k AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type
    )
    SELECT k.event_type, k.n_events, s.days,
           round(k.n_events * 1.0 / s.days, 6) AS rate_per_day,
           round(k.n_events * 1.0 / s.days
                 - 1.96 * sqrt(k.n_events) / s.days, 6) AS ci_lo,
           round(k.n_events * 1.0 / s.days
                 + 1.96 * sqrt(k.n_events) / s.days, 6) AS ci_hi
    FROM k CROSS JOIN span s
    """,
)
def agg_poisson_rate_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate with a 95% interval per event type: events/day and
    the normal-approximation band rate ± 1.96·√k/days — the 'is this
    alert rate actually elevated' primitive for count data, the
    Poisson sibling of agg_rate_wilson_ci's binomial interval (valid
    here because every k is huge; the op documents the exact-gamma
    swap for k < ~30).  Counts and the day span are exact integers;
    sqrt and the two divisions are the only float steps.

    Scale (100 TB): one |types|-key map-side-combined count and one
    distinct-day count — a single scan, no sort."""
    ev = load(spark, sf_dir, "events")
    span = ev.agg(
        F.countDistinct(F.date_trunc("day", "ts").cast("date"))
        .cast("long")
        .alias("days")
    )
    k = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    rate = F.col("n_events") * F.lit(1.0) / F.col("days")
    half = F.lit(1.96) * F.sqrt(F.col("n_events")) / F.col("days")
    return k.crossJoin(F.broadcast(span)).select(
        "event_type",
        "n_events",
        "days",
        F.round(rate, 6).alias("rate_per_day"),
        F.round(rate - half, 6).alias("ci_lo"),
        F.round(rate + half, 6).alias("ci_hi"),
    )


@register(
    "agg_cohen_h",
    oracle="""
    WITH splits AS (
      SELECT 'user_parity' AS split_name,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS arm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events
      UNION ALL
      SELECT 'first_vs_second_half',
             CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                       <= DATE '2024-01-15' THEN 1 ELSE 0 END,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
      FROM events
      UNION ALL
      SELECT 'weekend_vs_weekday',
             CASE WHEN isodow(CAST(date_trunc('day', ts) AS DATE)) >= 6
                  THEN 1 ELSE 0 END,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
      FROM events
    ),
    p AS (
      SELECT split_name,
             SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) * 1.0
               / NULLIF(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END), 0) AS p1,
             SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) * 1.0
               / NULLIF(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 0) AS p2
      FROM splits GROUP BY split_name
    )
    SELECT split_name, round(p1, 6) AS p1, round(p2, 6) AS p2,
           round(2 * (asin(sqrt(p1)) - asin(sqrt(p2))), 6) AS cohens_h
    FROM p
    """,
)
def agg_cohen_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's h effect size for proportions — h = 2(arcsin√p1 −
    arcsin√p2), the variance-stabilized difference that makes 1% vs
    2% (huge) and 50% vs 51% (trivial) comparable, computed over
    three natural splits of purchase conversion (user parity, month
    halves, weekend vs weekday); the proportions companion to
    ab_effect_size_cohens_d just as agg_cohen_h's arcsine transform
    underlies power math in ab_sample_size_estimate.  Proportions are
    exact count ratios; arcsin/sqrt round at 6dp.

    Scale (100 TB): each split is one conditional-sum pass; the
    union of three is still one scan of events fanned to three
    grouped aggregates — no shuffle wider than 3 keys."""
    ev = load(spark, sf_dir, "events")
    conv = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    arms = [
        ("user_parity", F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)),
        (
            "first_vs_second_half",
            F.when(
                F.date_trunc("day", "ts").cast("date") <= F.lit("2024-01-15"),
                1,
            ).otherwise(0),
        ),
        (
            "weekend_vs_weekday",
            F.when(
                F.expr("weekday(date_trunc('day', ts))") + 1 >= 6, 1
            ).otherwise(0),
        ),
    ]
    parts = None
    for name, arm in arms:
        sl = ev.select(
            F.lit(name).alias("split_name"), arm.alias("arm"), conv.alias("conv")
        )
        parts = sl if parts is None else parts.unionAll(sl)
    # NULLIF guards (degenerate sweep): a single-day or single-arm corpus
    # empties one side of a split — both sides agree on NULL.
    p = parts.groupBy("split_name").agg(
        (
            F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
            * F.lit(1.0)
            / F.nullif(
                F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("double"),
                F.lit(0.0),
            )
        ).alias("p1"),
        (
            F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
            * F.lit(1.0)
            / F.nullif(
                F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("double"),
                F.lit(0.0),
            )
        ).alias("p2"),
    )
    return p.select(
        "split_name",
        F.round("p1", 6).alias("p1"),
        F.round("p2", 6).alias("p2"),
        F.round(
            2 * (F.asin(F.sqrt("p1")) - F.asin(F.sqrt("p2"))), 6
        ).alias("cohens_h"),
    )


@register(
    "agg_overdispersion_index",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           round(AVG(k), 6) AS mean_daily,
           round(SUM(CAST(k AS HUGEINT) * k) * 1.0 / COUNT(*)
                 - AVG(k) * AVG(k), 6) AS var_daily,
           round((SUM(CAST(k AS HUGEINT) * k) * 1.0 / COUNT(*)
                  - AVG(k) * AVG(k)) / AVG(k), 6) AS dispersion_index
    FROM daily GROUP BY event_type
    """,
)
def agg_overdispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion (variance-to-mean) index of daily event counts
    per type: D ≈ 1 is Poisson-consistent, D ≫ 1 is bursty
    (contagion, bot storms — the regime where agg_poisson_rate_ci's
    interval is a lie and a negative-binomial model is due), D ≪ 1
    is suspiciously regular (rate-limited or synthetic traffic —
    this fixture's uniform generator shows exactly that).  Moments
    come from exact integer Σk and Σk² (population variance form).

    Scale (100 TB): |types|×|days| map-side-combined count, then a
    |types|-key moment rollup — one scan, bounded state."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("k"))
    mean = F.avg("k")
    var = F.sum(F.col("k").cast("decimal(38,0)") * F.col("k")) * F.lit(1.0) / F.count(
        F.lit(1)
    ) - mean * mean
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(mean, 6).alias("mean_daily"),
        F.round(var, 6).alias("var_daily"),
        F.round(var / mean, 6).alias("dispersion_index"),
    )


@register(
    "agg_friedman_test",
    oracle="""
    WITH daily AS (
      SELECT datediff('day', DATE '2024-01-01',
                      CAST(date_trunc('day', ts) AS DATE)) AS di,
             CAST(SUM(CAST(ROUND("value" * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events
      WHERE datediff('day', DATE '2024-01-01',
                     CAST(date_trunc('day', ts) AS DATE)) < 28
      GROUP BY 1
    ),
    ranked AS (
      SELECT di // 7 AS block, di % 7 AS treat,
             ROW_NUMBER() OVER (PARTITION BY di // 7
                                ORDER BY cents, di) AS rk
      FROM daily
    ),
    rsum AS (
      SELECT treat, CAST(SUM(rk) AS BIGINT) AS r_j
      FROM ranked GROUP BY treat
    )
    SELECT 4 AS n_blocks, 7 AS k_treatments,
           CAST(SUM(r_j * r_j) AS BIGINT) AS sum_r2,
           round(12.0 / (4 * 7 * 8) * SUM(r_j * r_j) - 3 * 4 * 8, 6)
             AS friedman_chi2,
           6 AS df,
           CASE WHEN 12.0 / (4 * 7 * 8) * SUM(r_j * r_j) - 3 * 4 * 8
                     > 12.591587 THEN 1 ELSE 0 END AS reject_5pct
    FROM rsum
    """,
)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test for the weekly cycle: four complete weeks are the
    BLOCKS, weekdays the TREATMENTS; revenue ranks within each week
    feed χ²_F = 12/(nk(k+1))·ΣR_j² − 3n(k+1) — the nonparametric
    repeated-measures ANOVA that asks agg_chi_square_gof's question
    (is there a weekday effect?) without assuming anything about the
    revenue distribution, and robustly to week-to-week level shifts
    (each week re-ranks from scratch, so a growth trend can't fake a
    weekday effect).  Ranks are exact integers ((cents, di)
    tie-break); the statistic is one rational expression.

    Scale (100 TB): facts collapse to 28 day rows; the per-block rank
    is a 7-row window; everything after is a 7-key reduction.  With
    entities as blocks (millions of stores × 7 weekdays), the same
    plan partitions ranks by store — still one shuffle."""
    ev = load(spark, sf_dir, "events")
    di = F.datediff(
        F.date_trunc("day", "ts").cast("date"), F.lit("2024-01-01").cast("date")
    )
    cents = (
        F.signum("value") * ((F.abs(F.col("value")) * 100 + 0.5).cast("long"))
    ).cast("long")
    daily = (
        ev.filter(di < 28)
        .groupBy(di.alias("di"))
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    ranked = daily.select(
        F.floor(F.col("di") / 7).alias("block"),
        (F.col("di") % 7).alias("treat"),
        F.row_number()
        .over(
            Window.partitionBy(F.floor(F.col("di") / 7)).orderBy("cents", "di")
        )
        .alias("rk"),
    )
    rsum = ranked.groupBy("treat").agg(F.sum("rk").cast("long").alias("r_j"))
    stat = F.lit(12.0) / (4 * 7 * 8) * F.col("sum_r2") - F.lit(3 * 4 * 8)
    return (
        rsum.agg(F.sum(F.col("r_j") * F.col("r_j")).cast("long").alias("sum_r2"))
        .select(
            F.lit(4).alias("n_blocks"),
            F.lit(7).alias("k_treatments"),
            "sum_r2",
            F.round(stat, 6).alias("friedman_chi2"),
            F.lit(6).alias("df"),
            F.when(stat > 12.591587, 1).otherwise(0).alias("reject_5pct"),
        )
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH x AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    cum AS (
      SELECT flag, cents, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY cents, w
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY flag) AS tw
      FROM x
    )
    SELECT flag,
           CAST(MAX(tw) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN 4 * cw >= tw THEN cents END) AS BIGINT)
             AS wp25_cents,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN cents END) AS BIGINT)
             AS wmedian_cents,
           CAST(MIN(CASE WHEN 4 * cw >= 3 * tw THEN cents END) AS BIGINT)
             AS wp75_cents
    FROM cum GROUP BY flag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median and quartiles: price order statistics where
    each line item counts by its QUANTITY, per return flag — the
    'median unit price actually paid' that the unweighted percentile
    family (agg_percentile, agg_approx_percentile) silently gets
    wrong whenever volume correlates with price.  Defined as the
    smallest value whose cumulative weight reaches the quantile of
    total weight — integer comparisons like 2·cw ≥ tw, no float
    quantile anywhere, (cents, w) ordering for engine-stable ties.

    Scale (100 TB): one partitioned sort per flag (range-partitioned
    at scale) carrying a running weight — same cost envelope as any
    exact percentile; the sketch swap (weighted t-digest) is the
    documented approximate path."""
    # a line with an unknown price or quantity carries no weighted mass —
    # excluded on both sides (NULL cents would also sort differently
    # cross-engine and shift every cumulative weight after it)
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    )
    cents = (
        F.signum("l_extendedprice") * ((F.abs(F.col("l_extendedprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    x = li.select(
        F.col("l_returnflag").alias("flag"),
        cents.alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    wc = Window.partitionBy("flag").orderBy("cents", "w").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("flag")
    cum = x.select(
        "flag",
        "cents",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    return cum.groupBy("flag").agg(
        F.max("tw").cast("long").alias("total_weight"),
        F.min(F.when(4 * F.col("cw") >= F.col("tw"), F.col("cents")))
        .cast("long")
        .alias("wp25_cents"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("cents")))
        .cast("long")
        .alias("wmedian_cents"),
        F.min(F.when(4 * F.col("cw") >= 3 * F.col("tw"), F.col("cents")))
        .cast("long")
        .alias("wp75_cents"),
    )


@register(
    "dq_benford_second_digit",
    oracle="""
    WITH d2 AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 2, 1) AS BIGINT) AS digit
      FROM orders
      WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) >= 10
    ),
    obs AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d2 GROUP BY digit
    ),
    expd AS (
      SELECT d.digit,
             SUM(ln(1.0 + 1.0 / (10 * k.k + d.digit)) / ln(10.0)) AS p_exp
      FROM range(10) d(digit) CROSS JOIN range(1, 10) k(k)
      GROUP BY d.digit
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM obs)
    SELECT e.digit, COALESCE(o.n, 0) AS observed,
           round(e.p_exp, 6) AS expected_p,
           round(COALESCE(o.n, 0) * 1.0 / t.nt, 6) AS observed_p,
           round((COALESCE(o.n, 0) - t.nt * e.p_exp)
                 * (COALESCE(o.n, 0) - t.nt * e.p_exp)
                 / (t.nt * e.p_exp), 6) AS chi2_term
    FROM expd e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot t
    """,
)
def dq_benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford SECOND-digit screen: observed second-significant-digit
    shares of money amounts against the Benford expectation
    P(d) = Σ_k log10(1 + 1/(10k+d)) — the forensic refinement
    auditors run AFTER agg_benford_distribution's first-digit test,
    because round-number invention (psychological pricing, threshold
    gaming) distorts second digits while leaving first digits
    plausible.  The expectation is computed from the same closed form
    on both engines (never a hardcoded table that can drift), digits
    come from exact integer cents, and per-digit chi-square terms
    localize WHICH digit misbehaves.

    Scale (100 TB): one projection to a 10-key count plus a constant
    90-term expectation table — one scan, bounded state."""
    o = load(spark, sf_dir, "orders")
    cents = (
        F.signum("o_totalprice") * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    d2 = o.select(cents.alias("cents")).filter(F.col("cents") >= 10).select(
        F.substring(F.col("cents").cast("string"), 2, 1).cast("long").alias("digit")
    )
    obs = d2.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ds = spark.range(10).select(F.col("id").cast("long").alias("digit"))
    ks = spark.range(1, 10).select(F.col("id").cast("long").alias("k"))
    expd = (
        ds.crossJoin(ks)
        .groupBy("digit")
        .agg(
            F.sum(
                F.log(F.lit(1.0) + F.lit(1.0) / (10 * F.col("k") + F.col("digit")))
                / F.log(F.lit(10.0))
            ).alias("p_exp")
        )
    )
    tot = obs.agg(F.sum("n").cast("long").alias("nt"))
    on = F.coalesce(F.col("n"), F.lit(0))
    return (
        expd.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            on.alias("observed"),
            F.round("p_exp", 6).alias("expected_p"),
            F.round(on * F.lit(1.0) / F.col("nt"), 6).alias("observed_p"),
            F.round(
                (on - F.col("nt") * F.col("p_exp"))
                * (on - F.col("nt") * F.col("p_exp"))
                / (F.col("nt") * F.col("p_exp")),
                6,
            ).alias("chi2_term"),
        )
    )


@register(
    "agg_mcnemar_test",
    oracle="""
    WITH per AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' AND "value" > 90
                       AND CAST(date_trunc('day', ts) AS DATE)
                           <= DATE '2024-01-15' THEN 1 ELSE 0 END) AS w1,
             MAX(CASE WHEN event_type = 'purchase' AND "value" > 90
                       AND CAST(date_trunc('day', ts) AS DATE)
                           > DATE '2024-01-15' THEN 1 ELSE 0 END) AS w2
      FROM events GROUP BY user_id
    ),
    cnt AS (
      SELECT CAST(SUM(CASE WHEN w1 = 1 AND w2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN w1 = 1 AND w2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(SUM(CASE WHEN w1 = 0 AND w2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(SUM(CASE WHEN w1 = 0 AND w2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM per
    )
    SELECT a, b, c, d,
           round(CASE WHEN b + c > 0
                 THEN (b - c) * (b - c) * 1.0 / (b + c) ELSE 0 END, 6)
             AS mcnemar_chi2,
           round(CASE WHEN b + c > 0
                 THEN (abs(b - c) - 1) * (abs(b - c) - 1) * 1.0 / (b + c)
                 ELSE 0 END, 6) AS mcnemar_cc_chi2
    FROM cnt
    """,
)
def agg_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes: did each user make
    a BIG purchase (value > 90, the top decile — plain purchase
    saturates to all-yes on this fixture and the test degenerates)
    in the first vs second half of the month, reduced to
    the discordant cells (b: converted then lapsed, c: the reverse)
    with χ² = (b−c)²/(b+c) plus the continuity-corrected variant —
    the right test for before/after conversion questions where
    ab_two_proportion_ztest would wrongly treat the halves as
    independent samples (they share every user).  Everything is
    exact integer counts; the concordant cells are reported because
    their size is what gives the test its power context.

    Scale (100 TB): one per-user MAX-flag combine, one 1-row
    reduction — a single scan."""
    ev = load(spark, sf_dir, "events")
    d = F.date_trunc("day", "ts").cast("date")
    per = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 90)
                & (d <= F.lit("2024-01-15")),
                1,
            ).otherwise(0)
        ).alias("w1"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 90)
                & (d > F.lit("2024-01-15")),
                1,
            ).otherwise(0)
        ).alias("w2"),
    )
    cnt = per.agg(
        F.sum(F.when((F.col("w1") == 1) & (F.col("w2") == 1), 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when((F.col("w1") == 1) & (F.col("w2") == 0), 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when((F.col("w1") == 0) & (F.col("w2") == 1), 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when((F.col("w1") == 0) & (F.col("w2") == 0), 1).otherwise(0)).cast("long").alias("d"),
    )
    bc = F.col("b") + F.col("c")
    diff = F.col("b") - F.col("c")
    return cnt.select(
        "a",
        "b",
        "c",
        "d",
        F.round(
            F.when(bc > 0, diff * diff * F.lit(1.0) / bc).otherwise(0.0), 6
        ).alias("mcnemar_chi2"),
        F.round(
            F.when(
                bc > 0,
                (F.abs(diff) - 1) * (F.abs(diff) - 1) * F.lit(1.0) / bc,
            ).otherwise(0.0),
            6,
        ).alias("mcnemar_cc_chi2"),
    )


@register(
    "dq_hash_collision_audit",
    oracle="""
    WITH widths AS (
      SELECT w, CAST(power(16, w) AS BIGINT) AS space
      FROM (VALUES (3), (4), (6)) v(w)
    ),
    hashed AS (
      SELECT w.w, w.space,
             substr(md5(CAST(c_custkey AS VARCHAR)), 1, w.w) AS h
      FROM customer CROSS JOIN widths w
    ),
    per AS (
      SELECT w, space, CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct
      FROM hashed GROUP BY w, space
    )
    SELECT w AS hex_digits, space, n_keys, n_distinct,
           n_keys - n_distinct AS collisions,
           round(n_keys - space * (1.0 - power(1.0 - 1.0 / space, n_keys)),
                 6) AS expected_collisions
    FROM per
    """,
)
def dq_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-hash collision audit: how many customer keys collide
    when the md5 surrogate is cut to 3/4/6 hex digits, against the
    birthday-problem expectation n − m(1−(1−1/m)ⁿ) — the sizing
    check to run BEFORE choosing a shortened surrogate key or
    bucket-id width (fn_surrogate_key mints full-width keys;
    fn_bitpack_key packs fields exactly; this quantifies what
    truncation costs).  Observed collisions are exact distinct
    counts; the expectation is one closed-form float per width,
    identical on both engines.

    Scale (100 TB): one projection per width (a 3-row broadcast
    fan-out) into distinct counts — at extreme cardinality the
    distinct swaps for HLL (agg_approx_distinct) with documented
    error."""
    c = load(spark, sf_dir, "customer")
    widths = spark.createDataFrame([(3,), (4,), (6,)], "w int").select(
        "w", F.pow(F.lit(16.0), F.col("w")).cast("long").alias("space")
    )
    hashed = c.crossJoin(F.broadcast(widths)).select(
        "w",
        "space",
        F.expr("substring(md5(cast(c_custkey as string)), 1, w)").alias("h"),
    )
    per = hashed.groupBy("w", "space").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.countDistinct("h").cast("long").alias("n_distinct"),
    )
    return per.select(
        F.col("w").alias("hex_digits"),
        "space",
        "n_keys",
        "n_distinct",
        (F.col("n_keys") - F.col("n_distinct")).alias("collisions"),
        F.round(
            F.col("n_keys")
            - F.col("space")
            * (
                F.lit(1.0)
                - F.pow(F.lit(1.0) - F.lit(1.0) / F.col("space"), F.col("n_keys"))
            ),
            6,
        ).alias("expected_collisions"),
    )


@register(
    "agg_wilcoxon_signed_rank",
    oracle="""
    WITH per AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                            <= DATE '2024-01-15'
                      THEN CAST(ROUND("value" * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS w1,
             CAST(SUM(CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                            > DATE '2024-01-15'
                      THEN CAST(ROUND("value" * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS w2
      FROM events GROUP BY user_id
    ),
    diffs AS (
      SELECT w2 - w1 AS d, abs(w2 - w1) AS ad FROM per WHERE w2 <> w1
    ),
    ranked AS (
      SELECT d,
             2 * RANK() OVER (ORDER BY ad)
               + COUNT(*) OVER (PARTITION BY ad) - 1 AS r2
      FROM diffs
    ),
    ties AS (
      SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS sum_t3_t
      FROM (SELECT COUNT(*) AS t FROM diffs GROUP BY ad)
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT) AS wp2
      FROM ranked
    )
    SELECT s.n, s.wp2 / 2.0 AS w_plus,
           round((s.wp2 / 2.0 - s.n * (s.n + 1) / 4.0)
                 / sqrt(s.n * (s.n + 1.0) * (2 * s.n + 1) / 24.0
                        - t.sum_t3_t / 48.0), 6) AS z
    FROM s CROSS JOIN ties t
    """,
)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED user revenue (first vs
    second half of the month): rank the absolute per-user changes,
    sum the ranks of the increases, and compare against the
    no-change null — the paired companion to ab_mann_whitney_u
    (same doubled-rank midrank trick keeping .5 ranks exact) and
    the magnitude-aware upgrade of agg_mcnemar_test's binary flip
    counts.  Zero differences drop per the standard treatment; the
    normal approximation carries the tie-corrected variance
    n(n+1)(2n+1)/24 − Σ(t³−t)/48.

    Scale (100 TB): one per-user combine, one global rank of |diff|
    (range-partitioned sort at scale), two reductions — never
    pairwise."""
    ev = load(spark, sf_dir, "events")
    d = F.date_trunc("day", "ts").cast("date")
    cents = (
        F.signum("value") * ((F.abs(F.col("value")) * 100 + 0.5).cast("long"))
    ).cast("long")
    per = ev.groupBy("user_id").agg(
        F.sum(F.when(d <= F.lit("2024-01-15"), cents).otherwise(0))
        .cast("long")
        .alias("w1"),
        F.sum(F.when(d > F.lit("2024-01-15"), cents).otherwise(0))
        .cast("long")
        .alias("w2"),
    )
    diffs = per.filter(F.col("w2") != F.col("w1")).select(
        (F.col("w2") - F.col("w1")).alias("dd"),
        F.abs(F.col("w2") - F.col("w1")).alias("ad"),
    )
    ranked = diffs.select(
        "dd",
        (
            F.lit(2) * F.rank().over(Window.orderBy("ad"))
            + F.count(F.lit(1)).over(Window.partitionBy("ad"))
            - 1
        ).alias("r2"),
    )
    ties = (
        diffs.groupBy("ad")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("long")
            .alias("sum_t3_t")
        )
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("dd") > 0, F.col("r2")).otherwise(0))
        .cast("long")
        .alias("wp2"),
    )
    wp = F.col("wp2") / F.lit(2.0)
    sigma = F.sqrt(
        F.col("n") * (F.col("n") + F.lit(1.0)) * (2 * F.col("n") + 1) / F.lit(24.0)
        - F.col("sum_t3_t") / F.lit(48.0)
    )
    return s.crossJoin(F.broadcast(ties)).select(
        "n",
        wp.alias("w_plus"),
        F.round(
            (wp - F.col("n") * (F.col("n") + 1) / F.lit(4.0)) / sigma, 6
        ).alias("z"),
    )


@register(
    "agg_contingency_residuals",
    oracle="""
    WITH cells AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
             CAST(COUNT(*) AS BIGINT) AS o_n
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    margins AS (
      SELECT seg, prio, o_n,
             CAST(SUM(o_n) OVER (PARTITION BY seg) AS BIGINT) AS r_tot,
             CAST(SUM(o_n) OVER (PARTITION BY prio) AS BIGINT) AS c_tot,
             CAST(SUM(o_n) OVER () AS BIGINT) AS n_tot
      FROM cells
    )
    SELECT seg, prio, o_n,
           round(r_tot * 1.0 * c_tot / n_tot, 6) AS expected,
           round((o_n - r_tot * 1.0 * c_tot / n_tot)
                 / NULLIF(sqrt(r_tot * 1.0 * c_tot / n_tot
                        * (1 - r_tot * 1.0 / n_tot)
                        * (1 - c_tot * 1.0 / n_tot)), 0), 6) AS std_residual
    FROM margins
    """,
)
def agg_contingency_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized (adjusted) residuals of the segment × priority
    contingency table: per cell, (observed − expected) scaled by the
    Haberman denominator √(e(1−r/n)(1−c/n)) — the drill-down that
    says WHICH cells drive a significant association after
    agg_cramers_v reports THAT one exists (|residual| > 2 ≈ cell
    significant at 5%).  Margins come from window sums over the
    bounded cell table; each residual is one float expression over
    exact counts.

    Scale (100 TB): facts collapse to |rows|×|cols| cells first;
    margins and residuals never touch facts again."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("o_n"))
    )
    margins = cells.select(
        "seg",
        "prio",
        "o_n",
        F.sum("o_n").over(Window.partitionBy("seg")).cast("long").alias("r_tot"),
        F.sum("o_n").over(Window.partitionBy("prio")).cast("long").alias("c_tot"),
        F.sum("o_n").over(Window.partitionBy()).cast("long").alias("n_tot"),
    )
    e = F.col("r_tot") * F.lit(1.0) * F.col("c_tot") / F.col("n_tot")
    denom = F.sqrt(
        e
        * (1 - F.col("r_tot") * F.lit(1.0) / F.col("n_tot"))
        * (1 - F.col("c_tot") * F.lit(1.0) / F.col("n_tot"))
    )
    # NULLIF guard (degenerate sweep): a full-margin row/column
    # (r_tot = n or c_tot = n) zeroes the Haberman denominator — NULL.
    return margins.select(
        "seg",
        "prio",
        "o_n",
        F.round(e, 6).alias("expected"),
        F.round((F.col("o_n") - e) / F.nullif(denom, F.lit(0.0)), 6).alias(
            "std_residual"
        ),
    )


@register(
    "ab_cochran_armitage_trend",
    oracle="""
    WITH g AS (
      -- TRY_CAST (hostile-strings sweep): a malformed priority ('comma,
      -- inside') has no dose score — excluded on BOTH engines instead of
      -- crashing the ANSI cast
      SELECT TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS score,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM orders
      WHERE TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) IS NOT NULL
      GROUP BY 1
    ),
    m AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(k) AS BIGINT) AS kt,
             CAST(SUM(score * k) AS BIGINT) AS ssk,
             CAST(SUM(score * n) AS BIGINT) AS ssn,
             CAST(SUM(score * score * n) AS BIGINT) AS ss2n
      FROM g
    )
    SELECT nt, kt,
           round((ssk - kt * 1.0 * ssn / nt)
                 / NULLIF(sqrt((kt * 1.0 / nt) * (1 - kt * 1.0 / nt)
                               * (ss2n - ssn * 1.0 * ssn / nt)), 0), 6)
             AS trend_z
    FROM m
    """,
)
def ab_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does the completion rate move
    MONOTONICALLY across the ordered priority levels (scores 1-5 from
    the priority prefix)?  The test every ordered-dose question needs
    — a plain chi-square (agg_chi_square_gof, agg_cramers_v) burns
    power ignoring the ordering, while the trend statistic
    z = (Σs·k − K·Σs·n/N) / √(p̄(1−p̄)(Σs²n − (Σsn)²/N)) targets it
    directly.  Every moment is an exact integer sum; one float
    expression at the end.

    Scale (100 TB): a |levels|-key map-side-combined count then a
    1-row reduction — single scan."""
    o = load(spark, sf_dir, "orders")
    # try_cast + filter (hostile-strings sweep): malformed priorities have
    # no dose score — drop them on both engines, never ANSI-crash
    score = F.substring("o_orderpriority", 1, 1).try_cast("long")
    g = o.filter(score.isNotNull()).groupBy(
        score.alias("score")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("k"),
    )
    m = g.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("k").cast("long").alias("kt"),
        F.sum(F.col("score") * F.col("k")).cast("long").alias("ssk"),
        F.sum(F.col("score") * F.col("n")).cast("long").alias("ssn"),
        F.sum(F.col("score") * F.col("score") * F.col("n"))
        .cast("long")
        .alias("ss2n"),
    )
    p = F.col("kt") * F.lit(1.0) / F.col("nt")
    num = F.col("ssk") - F.col("kt") * F.lit(1.0) * F.col("ssn") / F.col("nt")
    den = F.sqrt(
        p
        * (1 - p)
        * (F.col("ss2n") - F.col("ssn") * F.lit(1.0) * F.col("ssn") / F.col("nt"))
    )
    # NULLIF guard (degenerate sweep): a saturated rate (p̄ ∈ {0,1}) or a
    # single dose level zeroes the denominator — ANSI Spark would throw,
    # DuckDB would emit inf; both sides now agree on NULL.
    return m.select(
        "nt", "kt", F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("trend_z")
    )


@register(
    "agg_price_endings_profile",
    oracle="""
    WITH e AS (
      SELECT CAST(ROUND(p_retailprice * 100) AS BIGINT) % 100 AS ending,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents
      FROM part
    ),
    per AS (
      SELECT ending, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY ending
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM per),
    ranked AS (
      SELECT ending, n, ROW_NUMBER() OVER (ORDER BY n DESC, ending) AS rk
      FROM per
    )
    SELECT r.ending AS cents_ending, r.n,
           round(r.n * 1.0 / t.nt, 6) AS share,
           round(1.0 / 100, 6) AS uniform_share,
           round(r.n * 1.0 / t.nt - 0.01, 6) AS excess
    FROM ranked r CROSS JOIN tot t
    WHERE r.rk <= 10 OR r.ending IN (0, 49, 50, 95, 99)
    """,
)
def agg_price_endings_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Psychological price-ending profile: the distribution of cent
    endings (.99, .95, .49, .00 …) against the uniform 1% baseline —
    the pricing-forensics cut that detects charm-pricing policies,
    repricing-bot artifacts, and fabricated amounts
    (dq_benford_second_digit looks at significant digits; endings
    are where HUMAN pricing psychology concentrates).  Reports the
    top-10 endings plus the canonical psychological points whatever
    their rank, each with its excess over uniform.

    Scale (100 TB): one modulo projection into a 100-key count —
    single scan, bounded state."""
    p = load(spark, sf_dir, "part")
    cents = (
        F.signum("p_retailprice") * ((F.abs(F.col("p_retailprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    per = p.select((cents % 100).alias("ending")).groupBy("ending").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = per.agg(F.sum("n").cast("long").alias("nt"))
    ranked = per.select(
        "ending",
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), "ending"))
        .alias("rk"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .filter((F.col("rk") <= 10) | F.col("ending").isin(0, 49, 50, 95, 99))
        .select(
            F.col("ending").alias("cents_ending"),
            "n",
            F.round(F.col("n") * F.lit(1.0) / F.col("nt"), 6).alias("share"),
            F.round(F.lit(1.0) / 100, 6).alias("uniform_share"),
            F.round(F.col("n") * F.lit(1.0) / F.col("nt") - 0.01, 6).alias(
                "excess"
            ),
        )
    )


@register(
    "dq_penny_drift_audit",
    oracle="""
    WITH x AS (
      SELECT c.c_nationkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
             CAST(ROUND(o.o_totalprice) AS BIGINT) AS rounded_dollars
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS exact_cents,
           CAST(SUM(rounded_dollars) * 100 AS BIGINT)
             AS sum_of_rounded_cents,
           CAST(SUM(rounded_dollars) * 100 - SUM(cents) AS BIGINT)
             AS drift_cents,
           round((SUM(rounded_dollars) * 100 - SUM(cents)) * 1.0
                 / COUNT(*), 6) AS drift_cents_per_order
    FROM x GROUP BY c_nationkey
    """,
)
def dq_penny_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Penny-drift audit: per nation, the exact cents total against
    the total of per-row ROUNDED dollars — the reconciliation gap
    that appears whenever a report rounds rows before summing (the
    classic 'sum of the rounded ≠ round of the sum' bug, and the
    mechanism of salami-slicing fraud).  Drift per order near zero
    means rounding errors cancel as they should; a systematic bias
    means someone's rounding isn't symmetric (fn_round_half_even
    shows exactly which policy choice causes that).  Everything is
    exact integer arithmetic.

    Scale (100 TB): one broadcast-dim join, one map-side-combined
    rollup — a single scan."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cents = (
        F.signum("o_totalprice") * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    rdollars = (
        F.signum("o_totalprice") * ((F.abs(F.col("o_totalprice")) + 0.5).cast("long"))
    ).cast("long")
    x = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_nationkey", cents.alias("cents"), rdollars.alias("rounded_dollars")
    )
    return x.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("exact_cents"),
        (F.sum("rounded_dollars") * 100).cast("long").alias("sum_of_rounded_cents"),
        (F.sum("rounded_dollars") * 100 - F.sum("cents"))
        .cast("long")
        .alias("drift_cents"),
        F.round(
            (F.sum("rounded_dollars") * 100 - F.sum("cents"))
            * F.lit(1.0)
            / F.count(F.lit(1)),
            6,
        ).alias("drift_cents_per_order"),
    )


@register(
    "agg_hhi_yearly_trend",
    oracle="""
    WITH per AS (
      SELECT EXTRACT(year FROM o.o_orderdate) AS yr, c.c_nationkey,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE EXTRACT(year FROM o.o_orderdate) BETWEEN 1993 AND 1997
      GROUP BY 1, 2
    ),
    shares AS (
      SELECT yr, c_nationkey,
             cents * 1.0 / SUM(cents) OVER (PARTITION BY yr) AS s
      FROM per
    ),
    hhi AS (
      SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_nations,
             SUM(s * s) AS h
      FROM shares GROUP BY yr
    )
    SELECT yr, n_nations,
           round(h, 6) AS hhi,
           round((h - 1.0 / n_nations) / NULLIF(1 - 1.0 / n_nations, 0), 6)
             AS hhi_normalized,
           round(h - LAG(h) OVER (ORDER BY yr), 6) AS hhi_delta
    FROM hhi
    """,
)
def agg_hhi_yearly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration TREND: the Herfindahl-Hirschman index of
    nation revenue shares per year, normalized for the number of
    players, with year-over-year deltas — the question regulators
    and strategy decks actually ask ('is this market concentrating?')
    where agg_hhi_concentration's single snapshot can't answer it.
    Shares are within-year exact ratios, so a growing market doesn't
    masquerade as a concentrating one.

    Scale (100 TB): facts collapse to |years|×|nations| cells; the
    share window, HHI rollup, and lag all run on that bounded
    grid."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cents = (
        F.signum("o_totalprice") * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    per = (
        o.filter(F.year("o_orderdate").between(1993, 1997))
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.year("o_orderdate").alias("yr"), "c_nationkey")
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    shares = per.select(
        "yr",
        (
            F.col("cents")
            * F.lit(1.0)
            / F.sum("cents").over(Window.partitionBy("yr"))
        ).alias("s"),
    )
    hhi = shares.groupBy("yr").agg(
        F.count(F.lit(1)).cast("long").alias("n_nations"),
        F.sum(F.col("s") * F.col("s")).alias("h"),
    )
    return hhi.select(
        "yr",
        "n_nations",
        F.round("h", 6).alias("hhi"),
        # NULLIF guard (degenerate sweep): a one-player market makes the
        # normalization 0/0 — both sides agree on NULL.
        F.round(
            (F.col("h") - F.lit(1.0) / F.col("n_nations"))
            / F.nullif(1 - F.lit(1.0) / F.col("n_nations"), F.lit(0.0)),
            6,
        ).alias("hhi_normalized"),
        F.round(
            F.col("h") - F.lag("h").over(Window.orderBy("yr")), 6
        ).alias("hhi_delta"),
    )


@register(
    "agg_cr_concentration",
    oracle="""
    WITH per AS (
      SELECT EXTRACT(year FROM o.o_orderdate) AS yr, c.c_nationkey,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE EXTRACT(year FROM o.o_orderdate) BETWEEN 1993 AND 1997
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT yr, cents,
             ROW_NUMBER() OVER (PARTITION BY yr
                                ORDER BY cents DESC, c_nationkey) AS rk,
             CAST(SUM(cents) OVER (PARTITION BY yr) AS BIGINT) AS total
      FROM per
    )
    SELECT yr,
           CAST(COUNT(*) AS BIGINT) AS n_players,
           round(CAST(SUM(CASE WHEN rk <= 4 THEN cents ELSE 0 END) AS BIGINT)
                 / CAST(MAX(total) AS DOUBLE), 6) AS cr4,
           round(CAST(SUM(CASE WHEN rk <= 8 THEN cents ELSE 0 END) AS BIGINT)
                 / CAST(MAX(total) AS DOUBLE), 6) AS cr8
    FROM ranked GROUP BY yr
    """,
)
def agg_cr_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CR4/CR8 concentration ratios — the share of yearly revenue held by
    the top-4 and top-8 nations — the antitrust-style headline number
    that pairs with agg_hhi_yearly_trend (HHI weights ALL players
    quadratically; CR-k answers 'how big are just the leaders').
    Ranking uses the (cents DESC, nationkey) total order so ties place
    identically in both engines; every sum is exact integer cents until
    the two final divisions.

    Scale (100 TB): facts collapse to |years|x|nations| cells; ranking,
    totals, and the CR rollup all run on that bounded grid."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cents = (
        F.signum("o_totalprice")
        * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    per = (
        o.filter(F.year("o_orderdate").between(1993, 1997))
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.year("o_orderdate").alias("yr"), "c_nationkey")
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    wy = Window.partitionBy("yr")
    ranked = per.select(
        "yr", "cents",
        F.row_number()
        .over(wy.orderBy(F.col("cents").desc(), "c_nationkey"))
        .alias("rk"),
        F.sum("cents").over(wy).cast("long").alias("total"),
    )
    return ranked.groupBy("yr").agg(
        F.count(F.lit(1)).cast("long").alias("n_players"),
        F.round(
            F.sum(F.when(F.col("rk") <= 4, F.col("cents")).otherwise(0)).cast("long")
            / F.max("total").cast("double"),
            6,
        ).alias("cr4"),
        F.round(
            F.sum(F.when(F.col("rk") <= 8, F.col("cents")).otherwise(0)).cast("long")
            / F.max("total").cast("double"),
            6,
        ).alias("cr8"),
    )


@register(
    "agg_quartile_dispersion",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    q AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             quantile_cont(cents, 0.25) AS q1,
             quantile_cont(cents, 0.50) AS med,
             quantile_cont(cents, 0.75) AS q3
      FROM c GROUP BY event_type
    )
    SELECT event_type, n,
           round(med / 100.0, 6) AS median,
           round((q3 - q1) / 100.0, 6) AS iqr,
           round((q3 - q1) / NULLIF(q3 + q1, 0), 6) AS qcd,
           round((q3 + q1 - 2 * med) / NULLIF(q3 - q1, 0), 6) AS bowley_skew
    FROM q
    """,
)
def agg_quartile_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile-based robust dispersion per event_type: IQR, the quartile
    coefficient of dispersion (IQR / midhinge — the scale-free robust
    'coefficient of variation'), and Bowley's quartile skewness — the
    outlier-immune distribution summary that mean/std (agg_stats) can't
    give on heavy-tailed money columns.  Same exactness trick as
    feature_robust_scale: quartiles interpolate on integer cents at
    power-of-2-exact quarter fractions, bit-identical cross-engine; the
    three ratios are the only float ops.

    Scale (100 TB): one aggregate per type (approx_percentile's mergeable
    sketch is the drop-in beyond memory); output is |types| rows."""
    e = load(spark, sf_dir, "events")
    cents = fp_scaled_long(F.col("value"), 100)
    q = e.select("event_type", cents.alias("cents")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.percentile("cents", 0.25).alias("q1"),
        F.percentile("cents", 0.50).alias("med"),
        F.percentile("cents", 0.75).alias("q3"),
    )
    return q.select(
        "event_type", "n",
        F.round(F.col("med") / 100.0, 6).alias("median"),
        F.round((F.col("q3") - F.col("q1")) / 100.0, 6).alias("iqr"),
        # NULLIF guards (degenerate sweep): a constant distribution has
        # q3 = q1 (Bowley 0/0) and an all-zero one a zero midhinge — NULL.
        F.round(
            (F.col("q3") - F.col("q1"))
            / F.nullif(F.col("q3") + F.col("q1"), F.lit(0.0)),
            6,
        ).alias("qcd"),
        F.round(
            (F.col("q3") + F.col("q1") - 2 * F.col("med"))
            / F.nullif(F.col("q3") - F.col("q1"), F.lit(0.0)),
            6,
        ).alias("bowley_skew"),
    )


@register(
    "dq_timeliness_lag_profile",
    oracle="""
    WITH lags AS (
      SELECT o.o_orderpriority AS prio,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS lag_days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT prio,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(lag_days) AS BIGINT) AS min_lag,
           round(quantile_cont(lag_days, 0.25), 6) AS p25_lag,
           round(quantile_cont(lag_days, 0.50), 6) AS p50_lag,
           round(quantile_cont(lag_days, 0.75), 6) AS p75_lag,
           CAST(MAX(lag_days) AS BIGINT) AS max_lag,
           round(CAST(SUM(CASE WHEN lag_days > 60 THEN 1 ELSE 0 END) AS BIGINT)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS frac_over_60d
    FROM lags GROUP BY prio
    """,
)
def dq_timeliness_lag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-timeliness profile: the ship-after-order lag distribution per
    order priority — quartiles, extremes, and the share breaching a 60-day
    SLA — the freshness companion to dq_freshness_sla (that op checks the
    pipeline's own lag; this one profiles the business process lag inside
    the data, where an URGENT order shipping in 90 days is a data-quality
    red flag even though every field validates).  Lags are exact integer
    day diffs, so the quartiles interpolate bit-identically (quarter
    fractions are power-of-2 exact).

    Scale (100 TB): one equi-join on orderkey (both sides shuffle-keyed)
    feeding a per-priority aggregate — 5 output rows; approx_percentile
    is the sketch drop-in past memory."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    lags = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("lag_days"),
    )
    return lags.groupBy("prio").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("lag_days").cast("long").alias("min_lag"),
        F.round(F.percentile("lag_days", 0.25), 6).alias("p25_lag"),
        F.round(F.percentile("lag_days", 0.50), 6).alias("p50_lag"),
        F.round(F.percentile("lag_days", 0.75), 6).alias("p75_lag"),
        F.max("lag_days").cast("long").alias("max_lag"),
        F.round(
            F.sum(F.when(F.col("lag_days") > 60, 1).otherwise(0)).cast("long")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("frac_over_60d"),
    )


@register(
    "profile_temporal_coverage",
    oracle="""
    WITH days AS (
      SELECT DISTINCT CAST(date_trunc('day', o_orderdate) AS DATE) AS d
      FROM orders
    ),
    gaps AS (
      SELECT d, d - LAG(d) OVER (ORDER BY d) AS gap_days FROM days
    )
    SELECT MIN(d) AS first_day,
           MAX(d) AS last_day,
           CAST(date_diff('day', MIN(d), MAX(d)) + 1 AS BIGINT)
             AS span_days,
           CAST(COUNT(*) AS BIGINT) AS observed_days,
           CAST(date_diff('day', MIN(d), MAX(d)) + 1 - COUNT(*) AS BIGINT)
             AS missing_days,
           round(COUNT(*) / CAST(date_diff('day', MIN(d), MAX(d)) + 1
                                 AS DOUBLE), 6) AS coverage,
           CAST(MAX(gap_days) AS BIGINT) AS longest_gap_days
    FROM gaps
    """,
)
def profile_temporal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-axis continuity profile of the orders table: span, observed
    vs missing days, coverage ratio, and the longest gap — the first
    question asked of any time-partitioned dataset ('do we actually have
    every day?') and the guard a backfill scheduler reads before
    declaring a range complete.  dq_sequence_gaps lists individual holes;
    this op is the one-row summary a freshness dashboard polls.

    Scale (100 TB): the fact table collapses to DISTINCT days map-side
    (bounded by calendar length); the gap window and summary run on that
    axis.  Per-partition coverage adds the partition key to both."""
    o = load(spark, sf_dir, "orders")
    days = o.select(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).distinct()
    w = Window.orderBy("d")
    gaps = days.select("d", F.datediff(F.col("d"), F.lag("d").over(w)).alias("gap_days"))
    span = F.datediff(F.max("d"), F.min("d")) + 1
    return gaps.agg(
        F.min("d").alias("first_day"),
        F.max("d").alias("last_day"),
        span.cast("long").alias("span_days"),
        F.count(F.lit(1)).cast("long").alias("observed_days"),
        (span - F.count(F.lit(1))).cast("long").alias("missing_days"),
        F.round(F.count(F.lit(1)) / span.cast("double"), 6).alias("coverage"),
        F.max("gap_days").cast("long").alias("longest_gap_days"),
    )


@register(
    "agg_share_of_parent_hierarchy",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation, cents,
           round(cents / CAST(SUM(cents) OVER (PARTITION BY region)
                              AS DOUBLE), 6) AS share_of_region,
           round(SUM(cents) OVER (PARTITION BY region)
                 / CAST(SUM(cents) OVER () AS DOUBLE), 6) AS region_share_of_total,
           round(cents / CAST(SUM(cents) OVER () AS DOUBLE), 6)
             AS share_of_total
    FROM rev
    """,
)
def agg_share_of_parent_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent down a dimension hierarchy: each nation's share
    of its region, each region's share of the total, and the through
    share — the drill-down table every BI hierarchy widget renders
    (win_share_of_total is the flat version; this op layers the parent
    levels).  Revenue stays exact integer cents; the three shares are
    windowed integer sums divided once.

    Scale (100 TB): facts collapse to the |region|x|nation| grid before
    any window; both partition windows and the grand total run on that
    bounded grid (the grand-total window is a 2-row broadcast exchange,
    not a single-reducer pass over facts)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    cents = (
        F.signum("o_totalprice")
        * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    wr = Window.partitionBy("region")
    wt = Window.partitionBy()
    return rev.select(
        "region", "nation", "cents",
        F.round(F.col("cents") / F.sum("cents").over(wr).cast("double"), 6)
        .alias("share_of_region"),
        F.round(
            F.sum("cents").over(wr) / F.sum("cents").over(wt).cast("double"), 6
        ).alias("region_share_of_total"),
        F.round(F.col("cents") / F.sum("cents").over(wt).cast("double"), 6)
        .alias("share_of_total"),
    )


@register(
    "agg_littles_law_check",
    oracle="""
    WITH iv AS (
      SELECT CAST(o_orderdate AS DATE) AS arr,
             CAST(o_orderkey % 30 + 1 AS BIGINT) AS dur_days
      FROM orders
    ),
    bounds AS (
      SELECT MIN(arr) AS d0,
             MAX(arr + CAST(dur_days AS INTEGER)) AS d1
      FROM iv
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(date_diff('day', MAX(b.d0), MAX(b.d1)) AS BIGINT)
             AS horizon_days,
           round(COUNT(*) / CAST(date_diff('day', MAX(b.d0), MAX(b.d1))
                                 AS DOUBLE), 6) AS arrival_rate_per_day,
           round(CAST(SUM(dur_days) AS BIGINT)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS avg_duration_days,
           round((COUNT(*) / CAST(date_diff('day', MAX(b.d0), MAX(b.d1))
                                  AS DOUBLE))
                 * (CAST(SUM(dur_days) AS BIGINT)
                    / CAST(COUNT(*) AS DOUBLE)), 6)
             AS littles_law_wip,
           round(CAST(SUM(dur_days) AS BIGINT)
                 / CAST(date_diff('day', MAX(b.d0), MAX(b.d1)) AS DOUBLE), 6)
             AS observed_avg_inflight
    FROM iv CROSS JOIN bounds b
    """,
)
def agg_littles_law_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law consistency check on the order in-flight system:
    L = λ·W computed two ways — arrival rate × average duration vs the
    time-average of work-in-progress (Σ order-days ÷ horizon) — the
    queueing sanity test an ops team runs to validate its WIP dashboards
    (ts_inflight_orders draws the daily curve; this op checks its level
    is arithmetically consistent).  The two WIP estimates agree exactly
    here because every interval lies inside the horizon — a mismatch in
    production means truncated intervals or clock skew.  All sums are
    exact BIGINT order-days; divisions are the only float ops.

    Scale (100 TB): one aggregate over the interval table plus a 1-row
    bounds cross join — no per-day expansion needed for the check."""
    o = load(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_orderdate").cast("date").alias("arr"),
        (F.col("o_orderkey") % 30 + 1).cast("long").alias("dur_days"),
    )
    bounds = iv.agg(
        F.min("arr").alias("d0"),
        F.max(F.date_add(F.col("arr"), F.col("dur_days").cast("int"))).alias("d1"),
    )
    j = iv.crossJoin(F.broadcast(bounds))
    horizon = F.datediff(F.max("d1"), F.max("d0")).cast("long")
    n = F.count(F.lit(1)).cast("long")
    sdur = F.sum("dur_days").cast("long")
    lam = n / horizon.cast("double")
    wbar = sdur / n.cast("double")
    return j.agg(
        n.alias("n_orders"),
        horizon.alias("horizon_days"),
        F.round(lam, 6).alias("arrival_rate_per_day"),
        F.round(wbar, 6).alias("avg_duration_days"),
        F.round(lam * wbar, 6).alias("littles_law_wip"),
        F.round(sdur / horizon.cast("double"), 6).alias("observed_avg_inflight"),
    )


_SCHEMA_CONTRACT = (
    # (column, expected_type_category) — deliberately drifted from the
    # actual orders schema so every status branch populates: o_clerk is
    # missing from the table, o_totalprice is contracted DECIMAL but
    # lands DOUBLE, and o_orderpriority arrives uncontracted.
    ("o_orderkey", "integer"),
    ("o_custkey", "integer"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "decimal"),
    ("o_orderdate", "timestamp"),
    ("o_clerk", "string"),
)


@register(
    "dq_schema_contract_check",
    oracle="""
    WITH contract(column_name, expected_type) AS (
      VALUES ('o_orderkey', 'integer'), ('o_custkey', 'integer'),
             ('o_orderstatus', 'string'), ('o_totalprice', 'decimal'),
             ('o_orderdate', 'timestamp'), ('o_clerk', 'string')
    ),
    actual AS (
      SELECT column_name,
             CASE WHEN column_type IN ('TINYINT','SMALLINT','INTEGER','BIGINT')
                    THEN 'integer'
                  WHEN column_type IN ('FLOAT','DOUBLE') THEN 'double'
                  WHEN column_type LIKE 'DECIMAL%' THEN 'decimal'
                  WHEN column_type = 'VARCHAR' THEN 'string'
                  WHEN column_type LIKE 'TIMESTAMP%' THEN 'timestamp'
                  WHEN column_type = 'DATE' THEN 'date'
                  ELSE lower(column_type) END AS actual_type
      FROM (DESCRIBE SELECT * FROM orders)
    )
    SELECT COALESCE(c.column_name, a.column_name) AS column_name,
           c.expected_type, a.actual_type,
           CASE WHEN a.column_name IS NULL THEN 'missing'
                WHEN c.column_name IS NULL THEN 'unexpected'
                WHEN c.expected_type = a.actual_type THEN 'ok'
                ELSE 'type_mismatch' END AS status
    FROM contract c FULL OUTER JOIN actual a
      ON a.column_name = c.column_name
    """,
)
def dq_schema_contract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract enforcement: the table's ACTUAL schema diffed
    against a declared column/type contract, reporting ok /
    type_mismatch / missing / unexpected per column — the check a data
    contract gate runs before letting a producer's push through
    (dq_expectations validates VALUES; this op validates SHAPE, which
    breaks consumers faster).  Types compare as coarse categories
    (integer/double/decimal/string/timestamp/date) so width-only
    differences don't page anyone.  The demo contract is deliberately
    drifted: one missing column, one decimal-vs-double mismatch, one
    uncontracted arrival — all four statuses populate.

    Scale (100 TB): pure metadata — the schema comes from the catalog
    (Spark: analyzed plan; oracle: DESCRIBE), no data is read; the diff
    is a full-outer join of two ~|columns|-row relations."""
    o = load(spark, sf_dir, "orders")

    def cat(t: str) -> str:
        t = t.lower()
        if t in ("tinyint", "smallint", "int", "bigint"):
            return "integer"
        if t in ("float", "double"):
            return "double"
        if t.startswith("decimal"):
            return "decimal"
        if t == "string":
            return "string"
        if t.startswith("timestamp"):
            return "timestamp"
        return t

    actual = spark.createDataFrame(
        [(n, cat(t)) for n, t in o.dtypes], "column_name string, actual_type string"
    )
    contract = spark.createDataFrame(
        list(_SCHEMA_CONTRACT), "column_name string, expected_type string"
    )
    j = contract.alias("c").join(
        actual.alias("a"), on="column_name", how="full_outer"
    )
    return j.select(
        "column_name", "expected_type", "actual_type",
        F.when(F.col("actual_type").isNull(), "missing")
        .when(F.col("expected_type").isNull(), "unexpected")
        .when(F.col("expected_type") == F.col("actual_type"), "ok")
        .otherwise("type_mismatch")
        .alias("status"),
    )


@register(
    "agg_forecast_reconciliation_topdown",
    oracle="""
    WITH monthly AS (
      SELECT n.n_name AS nation,
             CAST(date_trunc('month', o.o_orderdate) AS DATE) AS m,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    bounds AS (SELECT MAX(m) AS last_m FROM monthly),
    t3 AS (
      SELECT nation, CAST(SUM(cents) AS BIGINT) AS t3_cents
      FROM monthly CROSS JOIN bounds
      WHERE m > last_m - INTERVAL 3 MONTH
      GROUP BY nation
    ),
    top AS (
      SELECT CAST(SUM(t3_cents) AS BIGINT) AS total_t3,
             CAST(floor(SUM(t3_cents) / 3) AS BIGINT) AS top_forecast_cents
      FROM t3
    )
    SELECT tr.nation, tr.t3_cents,
           round(tr.t3_cents / CAST(tp.total_t3 AS DOUBLE), 6) AS share,
           tp.top_forecast_cents,
           CAST((CAST(tp.top_forecast_cents AS HUGEINT) * tr.t3_cents)
                // tp.total_t3 AS BIGINT) AS reconciled_forecast_cents
    FROM t3 tr CROSS JOIN top tp
    """,
)
def agg_forecast_reconciliation_topdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-down hierarchical forecast reconciliation: forecast the TOTAL
    (trailing-3-month mean) once, then disaggregate to nations by their
    trailing revenue shares — the coherence guarantee (child forecasts
    sum exactly to the parent) that independently-fitted per-nation
    models never give, and the standard baseline in the hierarchical
    forecasting literature before MinT-style optimal reconciliation.
    All revenue stays exact integer cents; the share column is the only
    float (one IEEE division — bit-identical across engines).  The
    disaggregation itself is EXACT integer arithmetic — floor(top·t3 ÷
    total) via a decimal(38,0)/HUGEINT product and integer division —
    because the float form `round(top·share, 6)` diverged by 1 ulp
    between engines at sf0.1 (r10 sweep finding): at ~1.26e9 cents,
    x·10⁶ ≈ 1.26e15 sits where double ulp ≈ 0.25, so "round to 6dp"
    is below the representable grain and the engines' rounding
    algorithms legitimately disagree; at 100 TB magnitudes every float
    grain breaks, only the integer form is scale-proof.  Floor loses
    ≤ 1 cent per child against the coherence identity.

    Scale (100 TB): facts collapse to the nation×month grid; the
    trailing filter, shares, and disaggregation all run on that grid
    with one broadcast scalar."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    cents = (
        F.signum("o_totalprice")
        * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
        )
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    bounds = monthly.agg(F.max("m").alias("last_m"))
    trailing = (
        monthly.crossJoin(F.broadcast(bounds))
        .filter(F.col("m") > F.add_months(F.col("last_m"), -3))
        .groupBy("nation")
        .agg(F.sum("cents").cast("long").alias("t3_cents"))
    )
    top = trailing.agg(
        F.sum("t3_cents").cast("long").alias("total_t3"),
        F.floor(F.sum("t3_cents") / 3).cast("long").alias("top_forecast_cents"),
    )
    share = F.col("t3_cents") / F.col("total_t3").cast("double")
    return trailing.crossJoin(F.broadcast(top)).select(
        "nation", "t3_cents",
        F.round(share, 6).alias("share"),
        "top_forecast_cents",
        F.expr("CAST((CAST(top_forecast_cents AS DECIMAL(38,0)) * t3_cents) "
               "DIV total_t3 AS BIGINT)").alias("reconciled_forecast_cents"),
    )


@register(
    "agg_price_index_laspeyres",
    oracle="""
    WITH py AS (
      SELECT l_partkey,
             EXTRACT(year FROM l_shipdate) AS yr,
             CAST(SUM(CAST(ROUND(l_extendedprice / l_quantity * 100)
                      AS BIGINT) * CAST(ROUND(l_quantity) AS BIGINT))
                  AS BIGINT) AS val_cents,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      WHERE EXTRACT(year FROM l_shipdate) IN (1996, 1997)
      GROUP BY 1, 2
    ),
    unitp AS (
      SELECT l_partkey, yr, qty,
             val_cents / CAST(qty AS DOUBLE) AS p_cents
      FROM py
    ),
    paired AS (
      SELECT b.l_partkey,
             b.p_cents AS p0, c.p_cents AS p1,
             b.qty AS q0, c.qty AS q1
      FROM unitp b JOIN unitp c
        ON c.l_partkey = b.l_partkey AND b.yr = 1996 AND c.yr = 1997
    ),
    q AS (
      SELECT l_partkey,
             CAST(round(p0, 6) AS DECIMAL(18,6)) AS p0q,
             CAST(round(p1, 6) AS DECIMAL(18,6)) AS p1q,
             q0, q1
      FROM paired
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
           round(CAST(SUM(p1q * q0) AS DOUBLE)
                 / CAST(SUM(p0q * q0) AS DOUBLE), 6) AS laspeyres,
           round(CAST(SUM(p1q * q1) AS DOUBLE)
                 / CAST(SUM(p0q * q1) AS DOUBLE), 6) AS paasche,
           round(sqrt((CAST(SUM(p1q * q0) AS DOUBLE)
                       / CAST(SUM(p0q * q0) AS DOUBLE))
                      * (CAST(SUM(p1q * q1) AS DOUBLE)
                         / CAST(SUM(p0q * q1) AS DOUBLE))), 6) AS fisher
    FROM q
    """,
)
def agg_price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche, and Fisher price indices 1996→1997 over the
    parts traded in BOTH years — the standard inflation/price-change
    decomposition (Laspeyres weights by base-year quantities, Paasche by
    current, Fisher is their geometric mean) any pricing or econ team
    computes from transaction data.  Unit prices come from exact integer
    value/quantity cents; the four weighted sums quantize unit
    prices to 6 dp and multiply into DECIMAL so every accumulation is
    order-exact (a raw double SUM would expose map-side combine order);
    only the final ratios are float.

    Scale (100 TB): facts collapse to part×year cells; the pairing join
    and index sums run on |parts| rows."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(1996, 1997)
    )
    unit_cents = fp_scaled_long(
        F.col("l_extendedprice") / F.col("l_quantity"), 100
    )
    qty = (F.col("l_quantity") + F.lit(0.5)).cast("long")
    py = li.groupBy(
        "l_partkey", F.year("l_shipdate").alias("yr")
    ).agg(
        F.sum(unit_cents * qty).cast("long").alias("val_cents"),
        F.sum(qty).cast("long").alias("qty"),
    )
    unitp = py.select(
        "l_partkey", "yr", "qty",
        (F.col("val_cents") / F.col("qty").cast("double")).alias("p_cents"),
    )
    b = unitp.filter(F.col("yr") == 1996).select(
        "l_partkey", F.col("p_cents").alias("p0"), F.col("qty").alias("q0")
    )
    c = unitp.filter(F.col("yr") == 1997).select(
        "l_partkey", F.col("p_cents").alias("p1"), F.col("qty").alias("q1")
    )
    paired = b.join(c, "l_partkey").select(
        F.round("p0", 6).cast("decimal(18,6)").alias("p0q"),
        F.round("p1", 6).cast("decimal(18,6)").alias("p1q"),
        "q0", "q1",
    )
    lasp = (
        F.sum(F.col("p1q") * F.col("q0")).cast("double")
        / F.sum(F.col("p0q") * F.col("q0")).cast("double")
    )
    paas = (
        F.sum(F.col("p1q") * F.col("q1")).cast("double")
        / F.sum(F.col("p0q") * F.col("q1")).cast("double")
    )
    return paired.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


@register(
    "agg_hill_tail_index",
    oracle="""
    WITH ranked AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS rk
      FROM orders
    ),
    kth AS (SELECT cents AS x_k1 FROM ranked WHERE rk = 101),
    terms AS (
      SELECT r.rk,
             CAST(round(ln(r.cents / CAST(k.x_k1 AS DOUBLE)), 9)
                  AS DECIMAL(18,9)) AS t
      FROM ranked r CROSS JOIN kth k
      WHERE r.rk <= 100
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           round(CAST(SUM(t) AS DOUBLE) / COUNT(*), 6) AS hill_gamma,
           round(COUNT(*) / CAST(SUM(t) AS DOUBLE), 6) AS tail_alpha
    FROM terms
    """,
)
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index over the top k=100
    order statistics: γ̂ = (1/k)·Σ ln(x_i / x_(k+1)) and α = 1/γ̂ — the
    standard answer to 'how heavy is the revenue tail' (α ≤ 2 means
    infinite variance and every mean-based KPI is fragile; text_zipf_fit
    is the rank-frequency cousin for tokens).  The top-(k+1) order
    statistics come from a deterministic (value DESC, orderkey) rank;
    each log ratio computes from exact integer cents, rounds to 9 dp,
    and sums in DECIMAL so the k-term reduction is order-free.

    Scale (100 TB): the only global structure needed is the top-101
    rows — TakeOrderedAndProject, never a full sort; the estimator
    arithmetic runs on k rows."""
    o = load(spark, sf_dir, "orders")
    cents = (
        F.signum("o_totalprice")
        * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    ranked = o.select(
        cents.alias("cents"),
        F.row_number()
        .over(Window.orderBy(F.col("o_totalprice").desc(), "o_orderkey"))
        .alias("rk"),
    )
    kth = ranked.filter(F.col("rk") == 101).select(
        F.col("cents").alias("x_k1")
    )
    terms = (
        ranked.filter(F.col("rk") <= 100)
        .crossJoin(F.broadcast(kth))
        .select(
            F.round(
                F.log(F.col("cents") / F.col("x_k1").cast("double")), 9
            )
            .cast("decimal(18,9)")
            .alias("t")
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.round(F.sum("t").cast("double") / F.count(F.lit(1)), 6).alias(
            "hill_gamma"
        ),
        F.round(F.count(F.lit(1)) / F.sum("t").cast("double"), 6).alias(
            "tail_alpha"
        ),
    )


@register(
    "agg_margin_waterfall",
    oracle="""
    WITH per AS (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS gross_c,
             CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT)
               AS disc_c,
             CAST(ROUND(l_extendedprice * (1 - l_discount) * l_tax * 100)
                  AS BIGINT) AS tax_c
      FROM lineitem
    ),
    tot AS (
      SELECT CAST(SUM(gross_c) AS BIGINT) AS gross,
             CAST(SUM(disc_c) AS BIGINT) AS disc,
             CAST(SUM(tax_c) AS BIGINT) AS tax
      FROM per
    )
    SELECT 1 AS step, 'gross_revenue' AS component,
           gross AS delta_cents, gross AS running_cents FROM tot
    UNION ALL
    SELECT 2, 'discounts', -disc, gross - disc FROM tot
    UNION ALL
    SELECT 3, 'tax', -tax, gross - disc - tax FROM tot
    """,
)
def agg_margin_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue→net waterfall: gross extended price, minus discounts,
    minus tax — the three-step bridge chart every finance review opens
    with, as (step, component, delta, running) rows ready for a
    waterfall renderer.  Every component rounds per-row to exact integer
    cents BEFORE summing (the reconciliation property: steps add to the
    final number to the cent, which per-aggregate float rounding cannot
    guarantee), using the house half-away rule on both engines.

    Scale (100 TB): one narrow map projection and one global integer
    rollup; per-segment waterfalls add a group key and the same three
    rows per segment."""
    li = load(spark, sf_dir, "lineitem")

    def cents(col):
        # house half-away-from-zero rule — a refund (negative) line under
        # the unsigned +0.5 shortcut truncation-rounds a cent HIGH
        return (F.signum(col) * ((F.abs(col) * 100 + 0.5).cast("long"))).cast("long")

    per = li.select(
        cents(F.col("l_extendedprice")).alias("gross_c"),
        cents(F.col("l_extendedprice") * F.col("l_discount")).alias("disc_c"),
        cents(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.col("l_tax")
        ).alias("tax_c"),
    )
    tot = per.agg(
        F.sum("gross_c").cast("long").alias("gross"),
        F.sum("disc_c").cast("long").alias("disc"),
        F.sum("tax_c").cast("long").alias("tax"),
    )
    g, d, t = F.col("gross"), F.col("disc"), F.col("tax")
    s1 = tot.select(
        F.lit(1).alias("step"), F.lit("gross_revenue").alias("component"),
        g.alias("delta_cents"), g.alias("running_cents"),
    )
    s2 = tot.select(
        F.lit(2).alias("step"), F.lit("discounts").alias("component"),
        (-d).alias("delta_cents"), (g - d).alias("running_cents"),
    )
    s3 = tot.select(
        F.lit(3).alias("step"), F.lit("tax").alias("component"),
        (-t).alias("delta_cents"), (g - d - t).alias("running_cents"),
    )
    return s1.unionByName(s2).unionByName(s3)


@register(
    "dq_balance_reconciliation_three_way",
    oracle="""
    WITH o_side AS (
      SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        AS order_header_cents
      FROM orders
    ),
    l_gross AS (
      SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        AS line_gross_cents
      FROM lineitem
    ),
    l_net AS (
      SELECT CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS line_net_cents
      FROM lineitem
    )
    SELECT o.order_header_cents, g.line_gross_cents, n.line_net_cents,
           g.line_gross_cents - o.order_header_cents AS gross_vs_header,
           n.line_net_cents - o.order_header_cents AS net_vs_header,
           round(abs(g.line_gross_cents - o.order_header_cents)
                 / CAST(o.order_header_cents AS DOUBLE), 6)
             AS gross_gap_ratio,
           CASE WHEN g.line_gross_cents = o.order_header_cents
                     OR n.line_net_cents = o.order_header_cents
                THEN 'reconciled' ELSE 'unreconciled' END AS verdict
    FROM o_side o CROSS JOIN l_gross g CROSS JOIN l_net n
    """,
)
def dq_balance_reconciliation_three_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way ledger reconciliation: order-header totals vs the
    line-item gross rollup vs the discounted net rollup, with exact-cent
    deltas and a reconciled/unreconciled verdict — the close-of-books
    check that catches dropped lines, double-posting, and 'which total
    does the header actually store' ambiguity.  On this fixture the
    sides genuinely do NOT reconcile (header totals are synthesized
    independently of lines) and the op's whole point is to say so with
    the exact gap instead of letting two dashboards silently disagree.
    All sums are per-row-rounded integer cents (agg_margin_waterfall's
    reconciliation property).

    Scale (100 TB): three map-side-combined global sums — one scan each
    of two tables; per-order reconciliation (find WHICH orders break)
    is the same op grouped by orderkey."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")

    def cents(col):
        # house half-away-from-zero rule (see agg_margin_waterfall): the
        # unsigned +0.5 shortcut rounds refund lines a cent high
        return (F.signum(col) * ((F.abs(col) * 100 + 0.5).cast("long"))).cast("long")

    oh = o.agg(
        F.sum(
            (
                F.signum("o_totalprice")
                * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
            ).cast("long")
        )
        .cast("long")
        .alias("order_header_cents")
    )
    lg = li.agg(
        F.sum(cents(F.col("l_extendedprice"))).cast("long").alias("line_gross_cents")
    )
    ln = li.agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .cast("long")
        .alias("line_net_cents")
    )
    j = oh.crossJoin(lg).crossJoin(ln)
    return j.select(
        "order_header_cents", "line_gross_cents", "line_net_cents",
        (F.col("line_gross_cents") - F.col("order_header_cents")).alias(
            "gross_vs_header"
        ),
        (F.col("line_net_cents") - F.col("order_header_cents")).alias(
            "net_vs_header"
        ),
        F.round(
            F.abs(F.col("line_gross_cents") - F.col("order_header_cents"))
            / F.col("order_header_cents").cast("double"),
            6,
        ).alias("gross_gap_ratio"),
        F.when(
            (F.col("line_gross_cents") == F.col("order_header_cents"))
            | (F.col("line_net_cents") == F.col("order_header_cents")),
            "reconciled",
        )
        .otherwise("unreconciled")
        .alias("verdict"),
    )


@register(
    "profile_candidate_keys",
    oracle="""
    WITH stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS d_orderkey,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d_custkey,
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS d_status,
             CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS d_totalprice,
             CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS d_orderdate,
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS d_priority
      FROM orders
    )
    SELECT col, n_distinct, n,
           round(n_distinct / NULLIF(CAST(n AS DOUBLE), 0), 6) AS uniqueness,
           CASE WHEN n_distinct = n THEN 1 ELSE 0 END AS is_candidate_key
    FROM (
      SELECT 'o_orderkey' AS col, d_orderkey AS n_distinct, n FROM stats
      UNION ALL SELECT 'o_custkey', d_custkey, n FROM stats
      UNION ALL SELECT 'o_orderstatus', d_status, n FROM stats
      UNION ALL SELECT 'o_totalprice', d_totalprice, n FROM stats
      UNION ALL SELECT 'o_orderdate', d_orderdate, n FROM stats
      UNION ALL SELECT 'o_orderpriority', d_priority, n FROM stats
    )
    """,
)
def profile_candidate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery: per-column uniqueness ratios over orders
    with an is_candidate_key verdict (distinct == rows) — the profiling
    step BEFORE dq_primary_key_check can even be configured (that op
    validates a KNOWN key; this one finds the candidates, and near-1
    ratios flag almost-keys whose duplicates are usually bugs).  One
    wide aggregate computes all six distinct counts in a single scan,
    then unpivots to a column-per-row report.

    Scale (100 TB): multiple COUNT(DISTINCT) in one aggregate plan as
    Expand + two-phase aggregation — one scan, |columns| output rows;
    swap approx_count_distinct at extreme cardinalities."""
    o = load(spark, sf_dir, "orders")
    stats = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("o_orderkey").cast("long").alias("d_orderkey"),
        F.countDistinct("o_custkey").cast("long").alias("d_custkey"),
        F.countDistinct("o_orderstatus").cast("long").alias("d_status"),
        F.countDistinct("o_totalprice").cast("long").alias("d_totalprice"),
        F.countDistinct("o_orderdate").cast("long").alias("d_orderdate"),
        F.countDistinct("o_orderpriority").cast("long").alias("d_priority"),
    )
    cols = [
        ("o_orderkey", "d_orderkey"),
        ("o_custkey", "d_custkey"),
        ("o_orderstatus", "d_status"),
        ("o_totalprice", "d_totalprice"),
        ("o_orderdate", "d_orderdate"),
        ("o_orderpriority", "d_priority"),
    ]
    parts = [
        stats.select(
            F.lit(name).alias("col"),
            F.col(d).alias("n_distinct"),
            "n",
        )
        for name, d in cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "col", "n_distinct", "n",
        # NULLIF on n (empty sweep): an empty table has no uniqueness
        # ratio to report — both engines agree on NULL.
        F.round(
            F.col("n_distinct")
            / F.nullif(F.col("n").cast("double"), F.lit(0.0)),
            6,
        ).alias("uniqueness"),
        F.when(F.col("n_distinct") == F.col("n"), 1).otherwise(0).alias(
            "is_candidate_key"
        ),
    )


@register(
    "dq_benford_mad_conformity",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS d1
      FROM orders WHERE o_totalprice > 0
    ),
    obs AS (
      SELECT d1, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n
      FROM digits GROUP BY d1
    ),
    dev AS (
      SELECT d1,
             CAST(round(abs(c / CAST(n AS DOUBLE)
                            - log10(1.0 + 1.0 / d1)), 9)
                  AS DECIMAL(18,9)) AS ad
      FROM obs
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_digits,
           round(CAST(SUM(ad) AS DOUBLE) / COUNT(*), 6) AS mad,
           CASE WHEN CAST(SUM(ad) AS DOUBLE) / COUNT(*) < 0.006
                  THEN 'close_conformity'
                WHEN CAST(SUM(ad) AS DOUBLE) / COUNT(*) < 0.012
                  THEN 'acceptable_conformity'
                WHEN CAST(SUM(ad) AS DOUBLE) / COUNT(*) < 0.015
                  THEN 'marginally_acceptable'
                ELSE 'nonconformity' END AS nigrini_class
    FROM dev
    """,
)
def dq_benford_mad_conformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford conformity VERDICT via Nigrini's MAD bands: the mean
    absolute deviation of observed first-digit frequencies from
    log10(1+1/d), classified against the published thresholds
    (0.006 / 0.012 / 0.015) — agg_benford_distribution shows the
    digit table; auditors act on this one number ('nonconformity' =
    open the forensic review).  First digits come from exact integer
    cents; per-digit deviations round to 9 dp and sum in DECIMAL so the
    9-term reduction is order-free; the class CASE compares the same
    expression in both engines.

    Scale (100 TB): a 9-cell digit histogram (map-side combined) and a
    constant-size verdict — cost is one scan."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = (
        F.signum("o_totalprice")
        * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    digits = o.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("d1")
    )
    obs = digits.groupBy("d1").agg(F.count(F.lit(1)).cast("long").alias("c"))
    obs = obs.withColumn(
        "n", F.sum("c").over(Window.partitionBy()).cast("long")
    )
    dev = obs.select(
        F.round(
            F.abs(
                F.col("c") / F.col("n").cast("double")
                - F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d1"))
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("ad")
    )
    mad = F.sum("ad").cast("double") / F.count(F.lit(1))
    return dev.agg(
        F.count(F.lit(1)).cast("long").alias("n_digits"),
        F.round(mad, 6).alias("mad"),
        F.when(mad < 0.006, "close_conformity")
        .when(mad < 0.012, "acceptable_conformity")
        .when(mad < 0.015, "marginally_acceptable")
        .otherwise("nonconformity")
        .alias("nigrini_class"),
    )


@register(
    "agg_dso_days_sales_outstanding",
    oracle="""
    WITH iv AS (
      SELECT CAST(o_orderdate AS DATE) AS arr,
             CAST(o_orderdate AS DATE)
               + CAST(o_orderkey % 30 + 1 AS INTEGER) AS paid,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    snapd AS (SELECT MAX(arr) AS snap FROM iv),
    measures AS (
      SELECT CAST(SUM(CASE WHEN iv.arr <= a.snap AND iv.paid > a.snap
                           THEN iv.cents ELSE 0 END) AS BIGINT) AS ar_cents,
             CAST(SUM(CASE WHEN iv.arr > a.snap - 90 AND iv.arr <= a.snap
                           THEN iv.cents ELSE 0 END) AS BIGINT)
               AS rev90_cents,
             CAST(SUM(CASE WHEN iv.arr <= a.snap AND iv.paid > a.snap
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_open
      FROM iv CROSS JOIN snapd a
    )
    SELECT ar_cents, rev90_cents, n_open,
           round(ar_cents / (rev90_cents / 90.0), 6) AS dso_days,
           round(ar_cents / CAST(rev90_cents AS DOUBLE), 6)
             AS ar_to_rev90_ratio
    FROM measures
    """,
)
def agg_dso_days_sales_outstanding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days Sales Outstanding at the latest order date: open receivables
    (orders arrived but not yet 'paid' — the synthetic duration closes
    them) divided by the trailing-90-day daily revenue run-rate — the
    cash-conversion KPI finance tracks weekly (agg_ar_aging_buckets
    shows WHERE the AR sits; DSO says how many days of sales it
    represents).  Snapshot, AR, and run-rate all come from one pass of
    exact integer cents with DATE+int arithmetic; the two ratios are
    the only float ops.

    Scale (100 TB): a scalar snapshot cross-joined into one
    map-side-combined conditional rollup."""
    o = load(spark, sf_dir, "orders")
    cents = (
        F.signum("o_totalprice")
        * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    iv = o.select(
        F.col("o_orderdate").cast("date").alias("arr"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (F.col("o_orderkey") % 30 + 1).cast("int"),
        ).alias("paid"),
        cents.alias("cents"),
    )
    asof = iv.agg(F.max("arr").alias("snap"))
    j = iv.crossJoin(F.broadcast(asof))
    open_ar = (F.col("arr") <= F.col("snap")) & (F.col("paid") > F.col("snap"))
    in90 = (F.col("arr") > F.date_sub(F.col("snap"), 90)) & (
        F.col("arr") <= F.col("snap")
    )
    m = j.agg(
        F.sum(F.when(open_ar, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("ar_cents"),
        F.sum(F.when(in90, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("rev90_cents"),
        F.sum(F.when(open_ar, 1).otherwise(0)).cast("long").alias("n_open"),
    )
    return m.select(
        "ar_cents", "rev90_cents", "n_open",
        F.round(
            F.col("ar_cents") / (F.col("rev90_cents") / 90.0), 6
        ).alias("dso_days"),
        F.round(
            F.col("ar_cents") / F.col("rev90_cents").cast("double"), 6
        ).alias("ar_to_rev90_ratio"),
    )


@register(
    "dq_join_fanout_estimate",
    oracle="""
    WITH lk AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cl
      FROM lineitem GROUP BY 1
    ),
    ok AS (
      SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS co
      FROM orders GROUP BY 1
    ),
    prod AS (
      SELECT COALESCE(l.k, o.k) AS k,
             COALESCE(l.cl, 0) AS cl, COALESCE(o.co, 0) AS co,
             COALESCE(l.cl, 0) * COALESCE(o.co, 0) AS fanout
      FROM lk l FULL OUTER JOIN ok o ON o.k = l.k
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(fanout) AS BIGINT) AS est_output_rows,
           CAST(MAX(fanout) AS BIGINT) AS max_key_fanout,
           CAST(SUM(CASE WHEN cl = 0 OR co = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dangling_keys,
           round(CAST(MAX(fanout) AS BIGINT)
                 / (CAST(SUM(fanout) AS BIGINT)
                    / CAST(COUNT(*) AS DOUBLE)), 6) AS skew_ratio
    FROM prod
    """,
)
def dq_join_fanout_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join fanout pre-flight: from per-key counts on both sides of the
    planned orders⋈lineitem join, the EXACT output size (Σ cl·co), the
    worst single key's contribution, dangling-key counts, and the skew
    ratio (max key vs mean) — the guard a pipeline runs before a join
    that might explode (join_fanout_safe enforces a cap at run time;
    this op prices the join from metadata-sized histograms first, and a
    skew_ratio in the tens says 'salt this key', join_salted's cue).

    Scale (100 TB): two map-side-combined key histograms and a key-
    keyed outer join — the estimate costs two narrow scans, never the
    join itself."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    lk = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("cl")
    )
    ok = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("co")
    )
    prod = lk.join(ok, "k", "full_outer").select(
        F.coalesce("cl", F.lit(0).cast("long")).alias("cl"),
        F.coalesce("co", F.lit(0).cast("long")).alias("co"),
    ).withColumn("fanout", F.col("cl") * F.col("co"))
    return prod.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("fanout").cast("long").alias("est_output_rows"),
        F.max("fanout").cast("long").alias("max_key_fanout"),
        F.sum(F.when((F.col("cl") == 0) | (F.col("co") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_dangling_keys"),
        F.round(
            F.max("fanout").cast("long")
            / (
                F.sum("fanout").cast("long")
                / F.count(F.lit(1)).cast("double")
            ),
            6,
        ).alias("skew_ratio"),
    )


@register(
    "dq_survivorship_bias_probe",
    oracle="""
    WITH survivors AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE EXTRACT(year FROM o_orderdate) = 2001
    ),
    per AS (
      SELECT o.o_custkey,
             s.o_custkey IS NOT NULL AS survived,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o LEFT JOIN survivors s ON s.o_custkey = o.o_custkey
      GROUP BY o.o_custkey, s.o_custkey IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN survived THEN 1 ELSE 0 END) AS BIGINT)
             AS n_survivors,
           round(CAST(SUM(cents) AS BIGINT)
                 / CAST(SUM(n_orders) AS DOUBLE) / 100, 6) AS aov_all,
           round(CAST(SUM(CASE WHEN survived THEN cents ELSE 0 END) AS BIGINT)
                 / CAST(NULLIF(SUM(CASE WHEN survived THEN n_orders ELSE 0 END),
                               0) AS DOUBLE) / 100, 6) AS aov_survivors,
           round((CAST(SUM(CASE WHEN survived THEN cents ELSE 0 END) AS BIGINT)
                  / CAST(NULLIF(SUM(CASE WHEN survived THEN n_orders ELSE 0 END),
                                0) AS DOUBLE))
                 / NULLIF(CAST(SUM(cents) AS BIGINT)
                    / CAST(SUM(n_orders) AS DOUBLE), 0) - 1.0, 6)
             AS survivor_bias_pct
    FROM per
    """,
)
def dq_survivorship_bias_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship-bias probe: average order value computed over ALL
    customers vs only those still active in the final year — the audit
    that catches the classic dashboard lie ('our AOV grew!' because the
    churned cheap customers left the denominator).  The reported bias
    percentage is exactly the error an analyst inherits by filtering to
    currently-active accounts.  All sums exact integer cents; three
    ratios at the end.

    Scale (100 TB): survivor membership is one distinct-key set — but
    it is |active customers|-proportional (easily 1e9+ keys), so the
    membership join carries NO broadcast hint: AQE broadcasts while
    the set fits and shuffles on o_custkey beyond; the rollup is one
    customer-keyed aggregate either way."""
    o = load(spark, sf_dir, "orders")
    cents = (
        F.signum("o_totalprice")
        * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    survivors = (
        o.filter(F.year("o_orderdate") == 2001)
        .select("o_custkey")
        .distinct()
        .withColumn("survived_flag", F.lit(1))
    )
    per = (
        o.join(survivors, "o_custkey", "left")
        .groupBy("o_custkey", F.col("survived_flag").isNotNull().alias("survived"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(cents).cast("long").alias("cents"),
        )
    )
    surv_cents = F.sum(F.when(F.col("survived"), F.col("cents")).otherwise(0)).cast(
        "long"
    )
    # NULLIF guards (degenerate sweep): a span with no final-year actives
    # has zero survivor orders — survivor AOV and bias are NULL.
    surv_orders = F.nullif(
        F.sum(F.when(F.col("survived"), F.col("n_orders")).otherwise(0)).cast(
            "double"
        ),
        F.lit(0.0),
    )
    aov_all = F.sum("cents").cast("long") / F.sum("n_orders").cast("double")
    aov_surv = surv_cents / surv_orders
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.when(F.col("survived"), 1).otherwise(0))
        .cast("long")
        .alias("n_survivors"),
        F.round(aov_all / 100, 6).alias("aov_all"),
        F.round(aov_surv / 100, 6).alias("aov_survivors"),
        F.round(aov_surv / F.nullif(aov_all, F.lit(0.0)) - 1.0, 6).alias(
            "survivor_bias_pct"
        ),
    )


@register(
    "dq_fx_triangulation_audit",
    oracle="""
    WITH months AS (
      SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             CAST(EXTRACT(year FROM o_orderdate) * 12
                  + EXTRACT(month FROM o_orderdate) AS BIGINT) AS mi
      FROM orders
    ),
    rates AS (
      -- consistent by construction: r_ac = r_ab * r_bc in exact micro
      -- units — then every 13th month's direct a->c rate is corrupted
      -- by +1%, which triangulation must catch
      SELECT m,
             CAST(1000000 + (mi % 7) * 10000 AS BIGINT) AS r_ab,
             CAST(1000000 + (mi % 5) * 20000 AS BIGINT) AS r_bc,
             CAST(
               (CAST(1000000 + (mi % 7) * 10000 AS HUGEINT)
                * (1000000 + (mi % 5) * 20000)) // 1000000
               * (CASE WHEN mi % 13 = 0 THEN 101 ELSE 100 END) // 100
               AS BIGINT) AS r_ac
      FROM months
    )
    SELECT m, r_ab, r_bc, r_ac,
           CAST((CAST(r_ab AS HUGEINT) * r_bc) // 1000000 AS BIGINT)
             AS r_ac_implied,
           CAST(r_ac - (CAST(r_ab AS HUGEINT) * r_bc) // 1000000 AS BIGINT)
             AS drift_micro,
           CASE WHEN r_ac <> CAST((CAST(r_ab AS HUGEINT) * r_bc) // 1000000
                                  AS BIGINT)
                THEN 1 ELSE 0 END AS violation
    FROM rates
    """,
)
def dq_fx_triangulation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FX cross-rate triangulation audit: for each month, the direct
    a→c rate must equal a→b × b→c (in exact integer micro-units) — the
    arbitrage-consistency check every treasury data feed needs, because
    a stale leg silently mis-converts everything priced through it.
    The rate table is built consistent by construction and every 13th
    month's direct rate is corrupted by +1%, so the audit provably
    CATCHES the injected violations (and only those).  All arithmetic
    is integer multiply/floor-divide in HUGEINT/decimal — no float in
    the consistency test.

    Scale (100 TB): the audit runs on the |months| rate grid —
    metadata-sized regardless of fact volume."""
    o = load(spark, sf_dir, "orders")
    months = o.select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("mi"),
    ).distinct()
    r_ab = (F.lit(1000000) + (F.col("mi") % 7) * 10000).cast("long")
    r_bc = (F.lit(1000000) + (F.col("mi") % 5) * 20000).cast("long")
    rates = months.select(
        "m",
        r_ab.alias("r_ab"),
        r_bc.alias("r_bc"),
        F.expr(
            "CAST((CAST(1000000 + (mi % 7) * 10000 AS DECIMAL(38,0))"
            " * (1000000 + (mi % 5) * 20000)) DIV 1000000"
            " * (CASE WHEN mi % 13 = 0 THEN 101 ELSE 100 END) DIV 100"
            " AS LONG)"
        ).alias("r_ac"),
    )
    implied = F.expr(
        "CAST((CAST(r_ab AS DECIMAL(38,0)) * r_bc) DIV 1000000 AS LONG)"
    )
    return rates.select(
        "m", "r_ab", "r_bc", "r_ac",
        implied.alias("r_ac_implied"),
        (F.col("r_ac") - implied).cast("long").alias("drift_micro"),
        F.when(F.col("r_ac") != implied, 1).otherwise(0).alias("violation"),
    )


@register(
    "agg_month_end_lift",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    flagged AS (
      SELECT d, cents,
             CASE WHEN date_diff('day', d,
                       CAST(date_trunc('month', d) AS DATE)
                       + INTERVAL 1 MONTH - INTERVAL 1 DAY) < 7
                  THEN 1 ELSE 0 END AS me_week
      FROM daily
    ),
    sums AS (
      SELECT CAST(SUM(me_week) AS BIGINT) AS n_me,
             CAST(SUM(1 - me_week) AS BIGINT) AS n_ot,
             CAST(SUM(CASE WHEN me_week = 1 THEN cents ELSE 0 END)
                  AS BIGINT) AS me_c,
             CAST(SUM(CASE WHEN me_week = 0 THEN cents ELSE 0 END)
                  AS BIGINT) AS ot_c
      FROM flagged
    )
    SELECT n_me AS n_me_days,
           n_ot AS n_other_days,
           CAST(CASE WHEN me_c < 0
                THEN -(CAST(-me_c AS HUGEINT) * 10000 // NULLIF(n_me, 0))
                ELSE CAST(me_c AS HUGEINT) * 10000 // NULLIF(n_me, 0)
                END AS DOUBLE) / 1e6 AS me_rev_per_day,
           CAST(CASE WHEN ot_c < 0
                THEN -(CAST(-ot_c AS HUGEINT) * 10000 // NULLIF(n_ot, 0))
                ELSE CAST(ot_c AS HUGEINT) * 10000 // NULLIF(n_ot, 0)
                END AS DOUBLE) / 1e6 AS other_rev_per_day,
           round((me_c / CAST(NULLIF(n_me, 0) AS DOUBLE))
                 / NULLIF(ot_c / CAST(NULLIF(n_ot, 0) AS DOUBLE), 0)
                 - 1.0, 6) AS month_end_lift
    FROM sums
    """,
)
def agg_month_end_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end lift: revenue per day in the last week of the month vs
    all other days, as a single lift percentage — the payday/close-
    of-quarter effect quantified (fn_month_boundary_features builds the
    flag; this op prices it), the number a demand planner multiplies
    into month-end staffing.  Per-day normalization keeps the 7-vs-23
    day-count asymmetry from faking a lift; exact integer cents with
    two divisions and one ratio.

    Scale (100 TB): rides the daily collapse; the lift is a one-row
    conditional rollup."""
    o = load(spark, sf_dir, "orders")
    cents = (
        F.signum("o_totalprice")
        * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(F.sum(cents).cast("long").alias("cents"))
    me = F.when(F.datediff(F.last_day(F.col("d")), F.col("d")) < 7, 1).otherwise(0)
    flagged = daily.select("d", "cents", me.alias("me_week"))
    me_cents = F.sum(F.when(F.col("me_week") == 1, F.col("cents")).otherwise(0)).cast(
        "long"
    )
    ot_cents = F.sum(F.when(F.col("me_week") == 0, F.col("cents")).otherwise(0)).cast(
        "long"
    )
    # Per-day money displays go through the exact sign-split floor-div
    # micro idiom (r11 near-cliff probe: round(x, 6) here sat at 1.6e7
    # at sf0.1 and crosses the ~5e8 engine-split cliff by sf3); the
    # NULLIF guards (degenerate sweep) ride inside the DIV — a span
    # with no month-end (or no other) days yields NULL on both engines.
    # The lift ratio stays O(1), where round(x, 6) is sound.
    sums = flagged.agg(
        F.sum("me_week").cast("long").alias("n_me_days"),
        F.sum(1 - F.col("me_week")).cast("long").alias("n_other_days"),
        me_cents.alias("_me_c"),
        ot_cents.alias("_ot_c"),
    )
    per_day = (
        "CAST(CASE WHEN {c} < 0"
        " THEN -(CAST(-{c} AS DECIMAL(38,0)) * 10000 DIV NULLIF({n}, 0))"
        " ELSE CAST({c} AS DECIMAL(38,0)) * 10000 DIV NULLIF({n}, 0)"
        " END AS DOUBLE)"
    )
    return sums.select(
        "n_me_days",
        "n_other_days",
        (
            F.expr(per_day.format(c="_me_c", n="n_me_days")) / F.lit(1e6)
        ).alias("me_rev_per_day"),
        (
            F.expr(per_day.format(c="_ot_c", n="n_other_days")) / F.lit(1e6)
        ).alias("other_rev_per_day"),
        F.round(
            (F.col("_me_c") / F.nullif(F.col("n_me_days").cast("double"), F.lit(0.0)))
            / F.nullif(
                F.col("_ot_c")
                / F.nullif(F.col("n_other_days").cast("double"), F.lit(0.0)),
                F.lit(0.0),
            )
            - 1.0,
            6,
        ).alias("month_end_lift"),
    )


@register(
    "dq_event_order_audit",
    oracle="""
    WITH skewed AS (
      -- inject client clock skew: every 97th event's timestamp reads 2h
      -- early — the audit must find exactly the inversions this creates
      SELECT user_id, event_id,
             CASE WHEN event_id % 97 = 0 THEN ts - INTERVAL 2 HOUR
                  ELSE ts END AS ts
      FROM events
    ),
    seq AS (
      SELECT user_id, event_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
      FROM skewed
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN prev_ts > ts THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inversions,
           CAST(COUNT(DISTINCT CASE WHEN prev_ts > ts THEN user_id END)
                AS BIGINT) AS n_affected_users,
           round(CAST(SUM(CASE WHEN prev_ts > ts THEN 1 ELSE 0 END) AS BIGINT)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS inversion_rate,
           CAST(MAX(CASE WHEN prev_ts > ts
                    THEN (epoch_us(prev_ts) - epoch_us(ts)) // 1000000 END)
                AS BIGINT) AS max_skew_seconds
    FROM seq
    """,
)
def dq_event_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-ordering audit: per user, ingestion order (event_id) and
    event time must agree — inversions mean client clock skew or
    out-of-order ingestion, and every sessionization and funnel op
    upstream silently miscounts on them.  The fixture is clean (probed:
    zero natural inversions), so the audit injects deterministic skew
    (every 97th event reads 2h early) and must report exactly the
    inversions that creates, with the affected-user count and worst
    skew — proving the check catches what it claims to.

    Scale (100 TB): one user-keyed lag window and a global rollup."""
    e = load(spark, sf_dir, "events")
    skewed = e.select(
        "user_id", "event_id",
        F.when(
            F.col("event_id") % 97 == 0,
            F.col("ts") - F.expr("INTERVAL 2 HOURS"),
        )
        .otherwise(F.col("ts"))
        .alias("ts"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = skewed.select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    inv = F.col("prev_ts") > F.col("ts")
    return seq.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(inv, 1).otherwise(0)).cast("long").alias("n_inversions"),
        F.countDistinct(F.when(inv, F.col("user_id")))
        .cast("long")
        .alias("n_affected_users"),
        F.round(
            F.sum(F.when(inv, 1).otherwise(0)).cast("long")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("inversion_rate"),
        F.max(
            F.when(
                inv,
                F.expr("(unix_micros(prev_ts) - unix_micros(ts)) DIV 1000000"),
            )
        )
        .cast("long")
        .alias("max_skew_seconds"),
    )


@register(
    "agg_discount_response_curve",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN l_discount < 0.005 THEN '0_none'
                  WHEN l_discount < 0.055 THEN '1_low'
                  ELSE '2_high' END AS discount_band,
             CAST(ROUND(l_quantity) AS BIGINT) AS qty,
             CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
               AS net_cents
      FROM lineitem
    )
    SELECT discount_band,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           round(CAST(SUM(qty) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 6)
             AS avg_qty,
           round(CAST(SUM(net_cents) AS BIGINT)
                 / CAST(COUNT(*) AS DOUBLE) / 100, 6) AS avg_net_value,
           round(CAST(SUM(net_cents) AS BIGINT)
                 / CAST(SUM(qty) AS DOUBLE) / 100, 6) AS net_per_unit
    FROM b GROUP BY discount_band
    """,
)
def agg_discount_response_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-depth response curve: line volume, average quantity, and
    net value per unit across none / low / high discount bands — the
    merchandising table that answers 'does discounting move units or
    just give margin away' before agg_price_elasticity fits a single
    elasticity number to it.  Band edges sit at 0.005/0.055 (between
    the fixture's discrete discount steps, so float representation of
    0.05 can't straddle a boundary); quantities and net cents are
    per-row exact integers.

    Scale (100 TB): a 3-band conditional rollup riding one scan."""
    li = load(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_discount") < 0.005, "0_none")
        .when(F.col("l_discount") < 0.055, "1_low")
        .otherwise("2_high")
    )
    qty = (F.col("l_quantity") + F.lit(0.5)).cast("long")
    net = fp_scaled_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 100
    )
    b = li.select(band.alias("discount_band"), qty.alias("qty"), net.alias("net_cents"))
    return b.groupBy("discount_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(
            F.sum("qty").cast("long") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_qty"),
        F.round(
            F.sum("net_cents").cast("long") / F.count(F.lit(1)).cast("double") / 100,
            6,
        ).alias("avg_net_value"),
        F.round(
            F.sum("net_cents").cast("long") / F.sum("qty").cast("double") / 100, 6
        ).alias("net_per_unit"),
    )


@register(
    "dq_doc_embedding_coverage",
    oracle="""
    WITH d AS (SELECT doc_id FROM documents),
    e AS (SELECT vec_id FROM embeddings),
    j AS (
      SELECT COALESCE(d.doc_id, e.vec_id) AS id,
             d.doc_id IS NOT NULL AS has_doc,
             e.vec_id IS NOT NULL AS has_vec
      FROM d FULL OUTER JOIN e ON e.vec_id = d.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ids,
           CAST(SUM(CASE WHEN has_doc AND has_vec THEN 1 ELSE 0 END)
                AS BIGINT) AS n_paired,
           CAST(SUM(CASE WHEN has_doc AND NOT has_vec THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_missing_vec,
           CAST(SUM(CASE WHEN has_vec AND NOT has_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS vecs_missing_doc,
           round(CAST(SUM(CASE WHEN has_doc AND has_vec THEN 1 ELSE 0 END)
                      AS BIGINT)
                 / CAST(SUM(CASE WHEN has_doc THEN 1 ELSE 0 END) AS DOUBLE),
                 6) AS doc_coverage
    FROM j
    """,
)
def dq_doc_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document↔embedding coverage audit for the retrieval stack: every
    doc should have a vector (un-embedded docs are silently
    unsearchable by the dense path — sim_cosine_topk and the hybrid
    fusion just never return them) and every vector should have a doc
    (orphan vectors surface retrievals that 404) — the
    dq_referential_integrity pattern applied to the multimodal pairing
    (doc_id = vec_id, multimodal_enrich's convention).  Exact counts
    from one full-outer key join.

    Scale (100 TB): a key-keyed outer join of two id projections —
    narrow scans, no payloads."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    e = load(spark, sf_dir, "embeddings").select("vec_id")
    j = d.join(e, d.doc_id == e.vec_id, "full_outer").select(
        F.col("doc_id").isNotNull().alias("has_doc"),
        F.col("vec_id").isNotNull().alias("has_vec"),
    )
    paired = F.sum(F.when(F.col("has_doc") & F.col("has_vec"), 1).otherwise(0)).cast(
        "long"
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_ids"),
        paired.alias("n_paired"),
        F.sum(F.when(F.col("has_doc") & ~F.col("has_vec"), 1).otherwise(0))
        .cast("long")
        .alias("docs_missing_vec"),
        F.sum(F.when(F.col("has_vec") & ~F.col("has_doc"), 1).otherwise(0))
        .cast("long")
        .alias("vecs_missing_doc"),
        F.round(
            paired
            / F.sum(F.when(F.col("has_doc"), 1).otherwise(0)).cast("double"),
            6,
        ).alias("doc_coverage"),
    )


@register(
    "agg_dormant_skus",
    oracle="""
    WITH bounds AS (
      SELECT MAX(CAST(l_shipdate AS DATE)) AS maxd FROM lineitem
    ),
    per AS (
      SELECT l.l_partkey,
             MAX(CAST(l.l_shipdate AS DATE)) AS last_ship,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS lifetime_cents
      FROM lineitem l
      GROUP BY l.l_partkey
    )
    SELECT p.l_partkey, p.last_ship, p.n_lines,
           CAST(date_diff('day', p.last_ship, b.maxd) AS BIGINT)
             AS days_dormant,
           round(p.lifetime_cents / 100.0, 6) AS lifetime_value
    FROM per p CROSS JOIN bounds b
    WHERE date_diff('day', p.last_ship, b.maxd) > 365
    """,
)
def agg_dormant_skus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormant-SKU report: parts with no shipment in over a year
    (relative to the data's own horizon, not wall clock — so the report
    is reproducible), with dormancy age and lifetime value — the
    write-off / delist candidate list merchandising reviews quarterly
    (q22_dormant_customers is the demand-side twin; this is supply-
    side).  Exact day diffs and integer cents.

    Scale (100 TB): one per-part aggregate plus a scalar horizon —
    the filter prunes to the dormant tail before any reporting."""
    li = load(spark, sf_dir, "lineitem")
    cents = fp_scaled_long(F.col("l_extendedprice"), 100)
    per = li.groupBy("l_partkey").agg(
        F.max(F.col("l_shipdate").cast("date")).alias("last_ship"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(cents).cast("long").alias("lifetime_cents"),
    )
    bounds = li.agg(F.max(F.col("l_shipdate").cast("date")).alias("maxd"))
    j = per.crossJoin(F.broadcast(bounds))
    dorm = F.datediff(F.col("maxd"), F.col("last_ship"))
    return j.filter(dorm > 365).select(
        "l_partkey", "last_ship", "n_lines",
        dorm.cast("long").alias("days_dormant"),
        F.round(F.col("lifetime_cents") / 100.0, 6).alias("lifetime_value"),
    )


@register(
    "agg_time_to_nth_purchase",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
    ),
    purch AS (
      SELECT e.user_id, e.ts,
             ROW_NUMBER() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS pn
      FROM events e WHERE e.event_type = 'purchase'
    ),
    nth AS (
      SELECT p.user_id,
             (epoch_us(p.ts) - epoch_us(f.first_ts)) // 3600000000 AS hrs
      FROM purch p JOIN firsts f ON f.user_id = p.user_id
      WHERE p.pn = 5
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users_reached,
           CAST(MIN(hrs) AS BIGINT) AS min_hours,
           round(quantile_cont(hrs, 0.25), 6) AS p25_hours,
           round(quantile_cont(hrs, 0.50), 6) AS p50_hours,
           round(quantile_cont(hrs, 0.75), 6) AS p75_hours,
           CAST(MAX(hrs) AS BIGINT) AS max_hours
    FROM nth
    """,
)
def agg_time_to_nth_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Milestone velocity: hours from a user's FIRST event to their FIFTH
    purchase, summarized as quartiles — the activation metric growth
    teams target ('get users to 5 purchases in week one') where
    time-to-FIRST conversion (conversion_lag_stats) misses the habit-
    formation part of the curve.  Durations are exact integer hours
    (floor-divided epoch µs, the cross-engine-safe form) so the
    quartiles interpolate bit-identically.

    Scale (100 TB): first-event timestamps and the purchase rank window
    both key on user_id; the summary is one bounded aggregate."""
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.row_number().over(w).alias("pn"))
        .filter(F.col("pn") == 5)
    )
    nth = purch.join(firsts, "user_id").select(
        F.expr(
            "(unix_micros(ts) - unix_micros(first_ts)) DIV 3600000000"
        ).alias("hrs")
    )
    return nth.agg(
        F.count(F.lit(1)).cast("long").alias("n_users_reached"),
        F.min("hrs").cast("long").alias("min_hours"),
        F.round(F.percentile("hrs", 0.25), 6).alias("p25_hours"),
        F.round(F.percentile("hrs", 0.50), 6).alias("p50_hours"),
        F.round(F.percentile("hrs", 0.75), 6).alias("p75_hours"),
        F.max("hrs").cast("long").alias("max_hours"),
    )


@register(
    "agg_mixed_discount_baskets",
    oracle="""
    WITH lines AS (
      SELECT l_orderkey,
             CASE WHEN l_discount < 0.005 THEN 0
                  WHEN l_discount < 0.055 THEN 1
                  ELSE 2 END AS band,
             CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
               AS net_cents
      FROM lineitem
    ),
    per_order AS (
      SELECT l_orderkey,
             CAST(COUNT(DISTINCT band) AS BIGINT) AS n_bands,
             CAST(SUM(net_cents) AS BIGINT) AS net_cents,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lines GROUP BY l_orderkey
    )
    SELECT n_bands,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           round(CAST(SUM(net_cents) AS BIGINT)
                 / CAST(COUNT(*) AS DOUBLE) / 100, 6) AS avg_order_value,
           round(CAST(SUM(n_lines) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 6)
             AS avg_lines,
           round(CAST(COUNT(*) AS BIGINT)
                 / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) AS order_share
    FROM per_order GROUP BY n_bands
    """,
)
def agg_mixed_discount_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-mix composition of baskets: how many distinct discount
    bands each order combines (full-price only, single-band discounted,
    or mixed), with order value and size per mix class — the
    cross-subsidy question ('are discounted lines riding along in
    otherwise full-price baskets?') that a line-level discount table
    (agg_discount_response_curve) cannot see because it forgets basket
    boundaries.  Same band edges as the response curve so the two
    reports compose; exact integer cents and counts.

    Scale (100 TB): one per-order aggregate (band distinct-count
    combines map-side), then a 3-row rollup."""
    li = load(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_discount") < 0.005, 0)
        .when(F.col("l_discount") < 0.055, 1)
        .otherwise(2)
    )
    net = fp_scaled_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 100
    )
    per_order = li.select(
        "l_orderkey", band.alias("band"), net.alias("net_cents")
    ).groupBy("l_orderkey").agg(
        F.countDistinct("band").cast("long").alias("n_bands"),
        F.sum("net_cents").cast("long").alias("net_cents"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )
    g = per_order.groupBy("n_bands").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(
            F.sum("net_cents").cast("long") / F.count(F.lit(1)).cast("double") / 100,
            6,
        ).alias("avg_order_value"),
        F.round(
            F.sum("n_lines").cast("long") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_lines"),
    )
    tot = Window.partitionBy()
    return g.select(
        "n_bands", "n_orders", "avg_order_value", "avg_lines",
        F.round(
            F.col("n_orders") / F.sum("n_orders").over(tot).cast("double"), 6
        ).alias("order_share"),
    )


@register(
    "agg_return_rate_drivers",
    oracle="""
    WITH lines AS (
      SELECT CASE WHEN l_discount < 0.005 THEN '0_none'
                  WHEN l_discount < 0.055 THEN '1_low'
                  ELSE '2_high' END AS discount_band,
             CASE WHEN l_quantity < 17 THEN '0_small'
                  WHEN l_quantity < 34 THEN '1_mid'
                  ELSE '2_large' END AS qty_band,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS returned
      FROM lineitem
    )
    SELECT discount_band, qty_band,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(returned) AS BIGINT) AS n_returned,
           round(CAST(SUM(returned) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 6)
             AS return_rate,
           round(CAST(SUM(returned) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)
                 / NULLIF(CAST(SUM(SUM(returned)) OVER () AS BIGINT)
                    / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 0) - 1.0, 6)
             AS lift_vs_overall
    FROM lines GROUP BY discount_band, qty_band
    """,
)
def agg_return_rate_drivers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate driver matrix: the R-flag rate across discount band ×
    quantity band cells with each cell's lift vs the overall rate — the
    returns-triage table that says whether deep discounts or bulk lines
    drive returns (they'd better not: a +20% lift cell is a policy or
    quality problem with an address).  All counts exact; the lift
    divides two exact ratios.

    Scale (100 TB): a 9-cell conditional rollup with window totals on
    the cell grid — one scan."""
    li = load(spark, sf_dir, "lineitem")
    dband = (
        F.when(F.col("l_discount") < 0.005, "0_none")
        .when(F.col("l_discount") < 0.055, "1_low")
        .otherwise("2_high")
    )
    qband = (
        F.when(F.col("l_quantity") < 17, "0_small")
        .when(F.col("l_quantity") < 34, "1_mid")
        .otherwise("2_large")
    )
    lines = li.select(
        dband.alias("discount_band"), qband.alias("qty_band"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("returned"),
    )
    g = lines.groupBy("discount_band", "qty_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("returned").cast("long").alias("n_returned"),
    )
    tot = Window.partitionBy()
    rate = F.col("n_returned") / F.col("n_lines").cast("double")
    overall = (
        F.sum("n_returned").over(tot).cast("long")
        / F.sum("n_lines").over(tot).cast("double")
    )
    # NULLIF guard (degenerate sweep): a zero-return corpus zeroes the
    # overall rate — lift is NULL on both sides.
    return g.select(
        "discount_band", "qty_band", "n_lines", "n_returned",
        F.round(rate, 6).alias("return_rate"),
        F.round(rate / F.nullif(overall, F.lit(0.0)) - 1.0, 6).alias(
            "lift_vs_overall"
        ),
    )


@register(
    "agg_supplier_concentration_tiers",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    tops AS (
      SELECT l_partkey,
             CAST(SUM(cents) AS BIGINT) AS part_cents,
             CAST(MAX(cents) AS BIGINT) / CAST(SUM(cents) AS DOUBLE)
               AS top_share
      FROM ps GROUP BY l_partkey
    ),
    cuts AS (
      SELECT quantile_cont(top_share, 0.5) AS med,
             quantile_cont(top_share, 0.75) AS p75
      FROM tops
    )
    SELECT CASE WHEN t.top_share >= c.p75 THEN '2_top_quartile'
                WHEN t.top_share >= c.med THEN '1_above_median'
                ELSE '0_below_median' END AS concentration_tier,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(CAST(SUM(t.part_cents) AS BIGINT) AS DOUBLE) / 100.0
             AS value_at_tier,
           round(CAST(SUM(t.part_cents) AS BIGINT)
                 / CAST(SUM(SUM(t.part_cents)) OVER () AS DOUBLE), 6)
             AS value_share
    FROM tops t CROSS JOIN cuts c
    GROUP BY concentration_tier
    """,
)
def agg_supplier_concentration_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration tiers: each part's TOP-supplier value share
    (how much of the part's spend rides on one supplier) tiered against
    the dataset's own median and 75th percentile — the procurement-risk
    cut that works at any scale because the tiers are relative (a fixed
    'single-sourced' class is empty on this many-supplier fixture —
    probed — and relative concentration is what a buyer actually ranks).
    Quantile cuts interpolate at binary-exact 0.5/0.75 fractions over
    identical share doubles; value sums are exact cents.  The tier
    value display carries NO float round: at sf0.1 it reaches 1.8e10
    dollars, where round(x, 6) asks for a grain below double
    resolution and the engines' rounding algorithms can split (the r10
    magnitude-scan class) — the exact cents go through one correctly-
    rounded int→double division instead, deterministic at any scale.

    Scale (100 TB): one (part, supplier) aggregate, one per-part
    rollup, a 2-number quantile broadcast, and a 3-row tier summary."""
    li = load(spark, sf_dir, "lineitem")
    cents = fp_scaled_long(F.col("l_extendedprice"), 100)
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(cents).cast("long").alias("cents")
    )
    tops = ps.groupBy("l_partkey").agg(
        F.sum("cents").cast("long").alias("part_cents"),
        (F.max("cents").cast("long") / F.sum("cents").cast("double")).alias(
            "top_share"
        ),
    )
    cuts = tops.agg(
        F.percentile("top_share", 0.5).alias("med"),
        F.percentile("top_share", 0.75).alias("p75"),
    )
    j = tops.crossJoin(F.broadcast(cuts))
    tier = (
        F.when(F.col("top_share") >= F.col("p75"), "2_top_quartile")
        .when(F.col("top_share") >= F.col("med"), "1_above_median")
        .otherwise("0_below_median")
    )
    g = j.groupBy(tier.alias("concentration_tier")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("part_cents").cast("long").alias("cents"),
    )
    tot = Window.partitionBy()
    return g.select(
        "concentration_tier", "n_parts",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("value_at_tier"),
        F.round(
            F.col("cents") / F.sum("cents").over(tot).cast("double"), 6
        ).alias("value_share"),
    )
