"""ranks.ranked_by_range: the two-pass range prefix must equal a single
global window exactly — ranks, weighted running sums and group totals."""

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from carpet_spark.ranks import ranked_by_range


def _rows(n: int, seed: int) -> list[tuple]:
    rng = random.Random(seed)
    # few distinct values, so the descending first key has many ties
    # that only the second key breaks
    return [
        (rng.choice(["a", "b", None]), k, rng.randrange(20), rng.randrange(10**6))
        for k in range(n)
    ]


def test_weighted_running_sum_equals_global_window(spark):
    df = spark.createDataFrame(_rows(3000, 3), "g string, k long, v long, w long")
    df = df.repartition(5)
    order = [F.col("v").desc(), F.col("k")]
    got = {
        r.k: (r._rank, r._n)
        for r in ranked_by_range(df, order, weight=F.col("w")).collect()
    }
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    total = df.agg(F.sum("w")).first()[0]
    ref = {
        r.k: (r.cum, total)
        for r in df.withColumn("cum", F.sum("w").over(w)).collect()
    }
    assert got == ref


def test_grouped_with_null_group_ranks_sums_and_totals(spark):
    df = spark.createDataFrame(_rows(1500, 4), "g string, k long, v long, w long")
    order = [F.col("v").desc(), "k"]
    wg = Window.partitionBy("g")
    w = wg.orderBy(F.col("v").desc(), "k").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ref = df.select(
        "k",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wg).alias("cnt"),
        F.sum("w").over(w).alias("cum"),
        F.sum("w").over(wg).alias("tot"),
    )
    ranks = {r.k: (r._rank, r._n) for r in ranked_by_range(df, order, ["g"]).collect()}
    sums = {
        r.k: (r._rank, r._n)
        for r in ranked_by_range(df, order, ["g"], weight=F.col("w")).collect()
    }
    rows = ref.collect()
    assert None in {r.g for r in df.select("g").distinct().collect()}
    assert ranks == {r.k: (r.rn, r.cnt) for r in rows}
    assert sums == {r.k: (r.cum, r.tot) for r in rows}
