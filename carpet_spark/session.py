"""SparkSession factory with the engine's scale-aware defaults.

Local testing uses ``local[N]``; the same conf keys are the ones that matter
on a 1000-executor cluster (AQE, shuffle partitions, broadcast threshold,
Arrow batches).  SURVEY.md §4/§6.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session our queries run under
# (including the driver's own session) via ensure_runtime_confs().
RUNTIME_CONFS = {
    # events.parquet is TIMESTAMP(NANOS): unreadable without this (SURVEY §1.3)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp collection — DuckDB timestamps are naive/UTC
    "spark.sql.session.timeZone": "UTC",
    # local-mode parallelism: at test scale task-scheduling overhead dominates
    # (measured: 8 partitions is 2-6x faster than 32 at sf0.1); on a real
    # cluster this is overridden via spark-submit to ~2-3x total cores and
    # AQE coalesces the rest
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "8"),
    # InferFiltersFromGenerate turns every explode(computed_array) into a
    # pre-Generate Filter whose predicate, after alias substitution by
    # predicate pushdown, RE-EVALUATES the full array expression (twice:
    # size()>0 AND isnotnull) below any exchange — for the 3-gram shingle
    # pipeline that filter alone cost 8.6 s of the 10.9 s explode stage at
    # sf0.1 (r11, guide §1.2/§2.3; measured 8.63 s -> 1.11 s with the rule
    # excluded, identical 260,388 output rows).  The pruning the rule buys
    # (skip rows with empty arrays before the Generate) is re-added
    # explicitly and CHEAPLY where it matters (e.g. _doc_shingles'
    # token-count pre-filter).  Excluding an optimizer rule is
    # semantics-preserving by contract, and the same recomputation burns
    # real money at 100 TB where the generate inputs are corpus text.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}

# NOTE on Arrow batch sizing: Python->JVM OUTPUT batches are unbounded by
# default, so a payload-amplifying UDF (300-byte text row -> ~100 KB
# raster) can turn one bounded input batch into a multi-hundred-MB output
# buffer and exhaust JVM direct memory across 32 concurrent tasks (found
# at 10x raster volume, SCALE.md "Raster decode tier").  The binary-emitting
# UDFs self-bound via ops/multimodal._bounded_slices.  Spark 4.1's
# spark.sql.execution.arrow.maxBytesPerOutputBatch conf was tried as a
# global guard and REVERTED: enabling it trips an
# ArrayIndexOutOfBoundsException in MapInBatchEvaluator's writeSizedBatch
# on chained mapInPandas plans (ArrowColumnVector.getChild(0) on an empty
# struct) — bound amplifying outputs in the UDF, not via that conf.


_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this session build; reads may still work
    return spark


def get_spark(app_name: str = "carpet_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the local session.

    Scale notes: on a real cluster these builder confs move to spark-submit;
    AQE handles partition coalescing + skew joins at runtime, shuffle
    partitions sized ~2-3x total cores (here: small local default).  The
    SQL confs in RUNTIME_CONFS (shuffle width, time zone, ...) are set on
    the returned session by ensure_runtime_confs, not repeated here.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python-worker spawn must survive a loaded host: the default 15 s
        # connect-back window flakes ("Python worker failed to connect
        # back") when several local JVMs fork workers concurrently — seen
        # once in the 8-way sharded suite; on a busy production node the
        # same knob prevents spurious task failures.
        .config("spark.python.authenticate.socketTimeout", "120s")
        .config("spark.ui.enabled", "false")
        # machine-readable output (bench JSON, sweeps) carries no
        # "[Stage N: …]" progress bars
        .config("spark.ui.showConsoleProgress", "false")
        # Python workers import carpet_spark (UDFs, Python data sources)
        # whatever the driver's working directory; Spark merges this with
        # any PYTHONPATH the workers already get
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # Parquet output is zstd level 1, not Spark's legacy snappy: the
        # redaction path writes 0.61 bytes per byte read instead of 1.06
        # (64-char hex hashes replace short names).  On a 400k-row PII
        # file (4 vCPU, median of 16 writes): snappy 33.37 MB in 1.032 s,
        # zstd level 3 (Spark's zstd default) 19.45 MB in 1.090 s, zstd
        # level 1 19.01 MB in 1.008 s.  Builder-only, not RUNTIME_CONFS:
        # ensure_runtime_confs leaves the codec of a session built
        # elsewhere alone.  The builder beats a spark-submit --conf, so
        # pick another codec per write (.option("compression", ...)) or
        # with spark.conf.set on the returned session.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.hadoop.parquet.compression.codec.zstd.level", "1")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_runtime_confs(spark)
