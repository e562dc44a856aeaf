"""Partition-parallel global ranks, running sums and exact percentiles
(r12, VERDICT items 2 and 8; optimization guide §2/§5).

A ``Window.orderBy(...)`` row_number or running sum and Spark's exact
``percentile`` aggregate share the same scale-killer: every row of the
(group's) data funnels through ONE task — the window's single partition,
or the final merge of the percentile aggregate's value buffer.  Fine for
bounded audit extracts; wrong as a recurring 100 TB pattern.  Both are
replaced here by the classic two-pass range-partitioned prefix
(``ranked_by_range``, the one place this idea lives):

1. ``repartitionByRange`` on (group, order) — the same sampled range
   exchange a global sort pays; equal keys land in one partition;
2. per-(group, partition) partials — row counts, or exact split sums of
   a weight — a map-side-combined aggregate of |partitions| rows,
   cumulated into per-partition global offsets and the group total;
3. per-(group, partition) local ``row_number`` (or running split sum) +
   broadcast offset join = the exact global rank (or running sum),
   computed |partitions|-wide.

The two consumers of the range layout (the partials and the local
ranks) share one ``localCheckpoint`` of it, not one shuffle.  The range
bounds come from a nondeterministic SAMPLE of the data: if the two
consumers read different materializations (AQE coalescing each reader
differently, or exchange reuse not firing), ``spark_partition_id``
disagrees between them and the composed ranks silently break (caught at
sf0.1: 3,016 of 6,000 sampled rows).  The eager checkpoint fixes the
layout ONCE, so both read the identical partitions by construction.
Its cost: one full copy of the projected input (MEMORY_AND_DISK on the
executors) and a Spark job at plan construction.  Its failure mode:
lineage is truncated, so losing an executor that holds a checkpointed
block raises instead of silently recomputing with fresh bounds.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .exprs import fp_split_sum_of, fp_split_sum_over


def _null_safe_join(
    left: DataFrame, right: DataFrame, keys: list[str], how: str = "inner"
) -> DataFrame:
    """Equi-join that MATCHES NULL keys (a NULL group is a real group to
    every aggregate here; a plain equi-join would silently drop it — the
    nulls-regime failure this helper exists for).  The right side's key
    columns are renamed away and dropped after the join, so the output
    carries the left side's keys exactly once."""
    ren = right
    for k in keys:
        ren = ren.withColumnRenamed(k, f"_r_{k}")
    cond = reduce(
        and_, [left[k].eqNullSafe(ren[f"_r_{k}"]) for k in keys]
    )
    out = left.join(ren, cond, how)
    return out.drop(*[f"_r_{k}" for k in keys])


def ranked_by_range(
    df: DataFrame,
    order: list[str | Column],
    group_cols: list[str] | None = None,
    weight: Column | None = None,
) -> DataFrame:
    """Attach ``_rank`` and ``_n``, computed partition-parallel (no
    single-task sort).  ``order`` holds column names (ascending) or sort
    Columns such as ``F.col("x").desc()``.

    Without ``weight``, ``_rank`` is the 1-based rank of each row within
    its group under ``order`` and ``_n`` the group's row count (longs).
    With an exact fixed-point long ``weight``, ``_rank`` is the running
    sum of the weight up to and including the row and ``_n`` the group's
    total weight (exact decimal split sums, exprs.fp_split_sum_*).

    Ties take arbitrary order WITHIN equal keys (same as any row_number
    over a non-total order): callers must either pass a total order
    (unique keys) or be indifferent to tie order (percentile extraction
    reads values, and equal keys have equal values).

    Partition count: explicit and scale-adaptive (max of core count and
    configured shuffle width) so AQE cannot re-group the checkpointed
    layout."""
    group_cols = list(group_cols or [])
    order = [F.col(c) if isinstance(c, str) else c for c in order]
    sess = df.sparkSession
    n = max(
        sess.sparkContext.defaultParallelism,
        int(sess.conf.get("spark.sql.shuffle.partitions")),
    )
    rr = df.repartitionByRange(
        n, *[F.col(c) for c in group_cols], *order
    ).localCheckpoint()
    base = rr.withColumn("_pid", F.spark_partition_id())
    w_lr = (
        Window.partitionBy(*group_cols, "_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    if weight is None:
        part, run = F.count(F.lit(1)), F.row_number().over(w_lr)
    else:
        part, run = fp_split_sum_of(weight), fp_split_sum_over(weight, w_lr)
    parts = base.groupBy(*group_cols, "_pid").agg(part.alias("_c"))
    w_grp = Window.partitionBy(*group_cols)
    w_off = w_grp.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = parts.select(
        *group_cols,
        "_pid",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_c").over(w_grp).alias("_n"),
    )
    return (
        _null_safe_join(
            base.withColumn("_lr", run), F.broadcast(offs), group_cols + ["_pid"]
        )
        .withColumn("_rank", F.col("_off") + F.col("_lr"))
        .drop("_pid", "_lr", "_off")
    )


def _bitwise_eq(a: Column, b: Column) -> Column:
    """java.lang.Double.equals semantics in SQL: the string cast
    distinguishes -0.0 from 0.0 and unifies NaN with NaN — exactly the
    boxed-Double equality Spark's percentile aggregate applies to its
    sorted neighbor keys."""
    return a.cast("string") == b.cast("string")


def group_percentiles_exact(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    percentiles: dict[str, float],
) -> DataFrame:
    """EXACT percentiles per group — one output row per group (every group
    of ``df`` appears; all-NULL groups yield NULL), one column per entry of
    ``percentiles`` — computed partition-parallel and reproducing Spark's
    ``percentile`` aggregate BIT-FOR-BIT (form probed empirically against
    the aggregate, scripts/percentile_form_probe.py, and pinned in
    tests/test_r12_optimizations.py):

        pos = p * (n - 1)                 # n = count of non-NULL values
        lower = floor(pos); higher = ceil(pos)
        higher == lower                  -> value at rank lower+1
        neighbors bitwise-equal          -> that value
        else  (higher - pos) * a + (pos - lower) * b

    NaN values are buffered and sort greatest on both implementations
    (SQLOrderingUtil.compareDoubles == the SQL sort order); NULLs are
    excluded from the buffer and the count, exactly like the aggregate."""
    group_cols = list(group_cols)
    vals = df.select(
        *group_cols, F.col(value_col).cast("double").alias("_x")
    ).filter(F.col("_x").isNotNull())
    ranked = ranked_by_range(vals, ["_x"], group_cols)

    def pos_expr(p: float) -> Column:
        return F.lit(float(p)) * (F.col("_n") - F.lit(1)).cast("double")

    keep = []
    for p in percentiles.values():
        pos = pos_expr(p)
        keep.append(F.col("_rank") == F.floor(pos) + F.lit(1))
        keep.append(F.col("_rank") == F.ceil(pos) + F.lit(1))
    sel = ranked.filter(reduce(or_, keep))

    aggs = []
    for name, p in percentiles.items():
        pos = pos_expr(p)
        aggs.append(
            F.max(F.when(F.col("_rank") == F.floor(pos) + F.lit(1), F.col("_x"))).alias(
                f"_lo_{name}"
            )
        )
        aggs.append(
            F.max(F.when(F.col("_rank") == F.ceil(pos) + F.lit(1), F.col("_x"))).alias(
                f"_hi_{name}"
            )
        )
    got = sel.groupBy(*group_cols, "_n").agg(*aggs)

    outcols = list(group_cols)
    for name, p in percentiles.items():
        pos = pos_expr(p)
        lo, hi = F.floor(pos), F.ceil(pos)
        a, b = F.col(f"_lo_{name}"), F.col(f"_hi_{name}")
        outcols.append(
            F.when(lo == hi, a)
            .when(_bitwise_eq(a, b), a)
            .otherwise(
                (hi.cast("double") - pos) * a + (pos - lo.cast("double")) * b
            )
            .alias(name)
        )
    got = got.select(*outcols)

    # groups with zero non-NULL values (or an empty global input) must
    # still appear, with NULL percentiles — the aggregate's contract
    if group_cols:
        axis = df.select(*group_cols).distinct()
        return _null_safe_join(axis, got, group_cols, "left")
    axis = df.sparkSession.range(1).select(F.lit(1).alias("_k"))
    return (
        axis.join(got.withColumn("_k", F.lit(1)), "_k", "left")
        .drop("_k")
        .select(*[name for name in percentiles])
    )
