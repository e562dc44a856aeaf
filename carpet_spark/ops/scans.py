"""Category A — scans / sources / sinks (SURVEY.md §2.A).

This is (half of) the reference's own surface: parquet in, parquet out.
Spark-first: the scan is declarative, so column pruning / predicate pushdown
reach the parquet reader (asserted in tests/test_plans.py).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..exprs import fp_scaled_long, fp_split_sum_of, lsum
from ..registry import register
from ..tables import load


@register("scan_parquet", oracle="SELECT * FROM nation")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan. At 100 TB this is a parallel columnar read split by
    row-group; no driver materialization."""
    return load(spark, sf_dir, "nation")


@register(
    "scan_projected",
    oracle="SELECT l_orderkey, l_quantity, l_shipdate FROM lineitem",
)
def scan_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan — ReadSchema must show exactly 3 columns
    (verified in test_plans.py): at scale this is the difference between
    reading 3 columns and reading 16."""
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_shipdate"
    )


@register(
    "scan_events_ns",
    oracle="SELECT event_id, ts, user_id, event_type, value FROM events",
)
def scan_events_ns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ns-timestamp normalization (SURVEY §1.3): bigint ns → µs timestamp;
    DuckDB truncates ns→µs natively so values hash-match."""
    return load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


_SINK_SLICE_ORACLE = """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem WHERE l_quantity >= 45
    """


@functools.cache
def _sink_root(base: str | None = None) -> str:
    """One fresh dir per interpreter under `base` (default: the system
    temp dir), holding every sink/fixture/checkpoint dir this process
    writes there; removed at interpreter exit, so runs leave nothing
    behind."""
    if base:
        os.makedirs(base, exist_ok=True)
    root = tempfile.mkdtemp(prefix="carpet_spark_", dir=base)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _sink_path(spark: SparkSession, name: str) -> str:
    """Per-application sink dir: two concurrent sessions (parallel driver +
    pytest runs) must never overwrite each other's roundtrip mid read-back
    (ADVICE r01) — the root is per process and applicationId is unique
    per SparkContext.  The returned DataFrames read from it lazily, so
    they are valid until the interpreter exits."""
    return os.path.join(
        _sink_root(), f"{name}_{spark.sparkContext.applicationId}"
    )


@register("sink_parquet_roundtrip", oracle=_SINK_SLICE_ORACLE)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a transformed slice partitioned by l_returnflag (the
    session's default codec, zstd level 1), read it back.  Partitioned
    layout is the 100 TB story: downstream queries with a returnflag
    predicate prune whole directories.  The roundtrip is
    an identity, so the oracle is the source filter itself — a lost or
    mangled row anywhere in write→read fails the hash."""
    df = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )
    out = _sink_path(spark, "sink_parquet")
    df.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    # explicit schema: an EMPTY slice writes a file-less partitioned dir,
    # where schema inference fails (degenerate-sweep find) — the roundtrip
    # must return the same empty relation instead of erroring
    back = spark.read.schema(df.schema).parquet(out)
    # partition column comes back typed as read; normalize column order
    return back.select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@register(
    "sink_partition_prune",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE CAST(ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) FROM events)
    GROUP BY event_type
    """,
)
def sink_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned sink + pruned read-back: events written
    ``partitionBy(day)``, then a one-day query against the sink.  The plan
    must show ``PartitionFilters: [... day = <lit>]`` (asserted in
    test_plans.py) — directory-level pruning, the mechanism that turns a
    100 TB events table into a one-day read.  The day literal is resolved
    with a bounded 1-value collect (metadata-scale, like ann.py's k-means
    state); the oracle recomputes the same day from the source, so a row
    landing in the wrong partition fails the hash."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out = _sink_path(spark, "sink_part")
    written = e.withColumn("day", F.to_date("ts"))
    written.write.mode("overwrite").partitionBy("day").parquet(out)
    # Explicit schema on read-back (empty-sweep rule): an empty
    # partitioned write leaves a file-less directory that schema
    # inference cannot read.
    day0 = (
        spark.read.schema(written.schema)
        .parquet(out)
        .agg(F.min("day"))
        .collect()[0][0]
    )
    return (
        spark.read.schema(written.schema).parquet(out)
        .filter(F.col("day") == F.lit(day0))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "scan_dpp",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE EXTRACT(day FROM CAST(ts AS DATE)) <= 5
    GROUP BY 1
    """,
)
def scan_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a day-partitioned fact joined to a
    filtered dimension of days.  The dim-side predicate (day-of-month <= 5)
    is only known at plan time on the DIM, not the fact — Catalyst's DPP
    rewrites the fact scan's PartitionFilters to a
    ``dynamicpruningexpression`` fed by the broadcast dim, so the fact
    reads ~1/6 of its partitions instead of all of them (plan-asserted in
    test_plans.py).  At 100 TB this is the star-schema pruning mechanism:
    the dim filter travels to the fact's directory listing at runtime.
    The oracle collapses join+filter to the equivalent source predicate
    (inner join on the same table's distinct days = filter)."""
    from pyspark.sql.functions import broadcast

    e = load(spark, sf_dir, "events").select("event_id", "ts", "value")
    out = _sink_path(spark, "sink_dpp")
    written = e.withColumn("day", F.to_date("ts"))
    written.write.mode("overwrite").partitionBy("day").parquet(out)
    # Explicit schema on read-back (empty-sweep rule, see
    # sink_partition_prune).
    fact = spark.read.schema(written.schema).parquet(out)
    dim = (
        e.select(F.to_date("ts").alias("day"))
        .distinct()
        .filter(F.dayofmonth("day") <= 5)
    )
    return (
        fact.join(broadcast(dim), "day")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register("sink_csv_roundtrip", oracle="SELECT * FROM region")
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write/read with explicit schema on the way back (header=True);
    identity roundtrip hash-checked against the source.  CSV kills type
    fidelity + splittable compression at scale — offered for interchange
    parity, not the 100 TB path (parquet is)."""
    df = load(spark, sf_dir, "region")
    out = _sink_path(spark, "sink_csv")
    df.write.mode("overwrite").option("header", True).csv(out)
    return spark.read.schema(df.schema).option("header", True).csv(out)


@register("sink_json_roundtrip", oracle="SELECT * FROM nation")
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write/read with explicit schema (identity, hash-checked).
    Same interchange caveats as CSV; newline-delimited JSON stays splittable
    so it parallelizes at scale, just 5-10x the bytes of parquet."""
    df = load(spark, sf_dir, "nation")
    out = _sink_path(spark, "sink_json")
    df.write.mode("overwrite").json(out)
    return spark.read.schema(df.schema).json(out)


@register("sink_orc_roundtrip", oracle="SELECT * FROM supplier")
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write/read (identity, hash-checked) — the second columnar format
    Spark ships natively; same pushdown/pruning machinery as parquet."""
    df = load(spark, sf_dir, "supplier")
    out = _sink_path(spark, "sink_orc")
    df.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@register(
    "scan_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name, NULL AS n_population
    FROM nation WHERE n_regionkey <= 1
    UNION ALL
    SELECT n_nationkey, n_name, n_nationkey * 1000 + 7 AS n_population
    FROM nation WHERE n_regionkey > 1
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution at the source: two parquet files in one dataset,
    the newer with an added column (n_population), read with
    ``mergeSchema=true`` — old rows surface NULL for the new column, the
    production contract for append-only datasets whose schema widens over
    time.  At 100 TB schema merge is a FOOTER-level operation (no data
    rewrite); the oracle reconstructs the same union with explicit NULLs.
    Write order doesn't matter: merge is by column NAME."""
    n = load(spark, sf_dir, "nation")
    out = _sink_path(spark, "schema_evo")
    old = n.filter(F.col("n_regionkey") <= 1).select("n_nationkey", "n_name")
    new = n.filter(F.col("n_regionkey") > 1).select(
        "n_nationkey",
        "n_name",
        (F.col("n_nationkey") * 1000 + 7).alias("n_population"),
    )
    old.write.mode("overwrite").parquet(os.path.join(out, "v1"))
    new.write.mode("overwrite").parquet(os.path.join(out, "v2"))
    return spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "v1"), os.path.join(out, "v2")
    ).select("n_nationkey", "n_name", "n_population")


@register(
    "sink_sorted_skip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-06-01'
      AND l_shipdate <  TIMESTAMP '1995-07-01'
    """,
)
def sink_sorted_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping layout: write lineitem range-partitioned AND sorted by
    l_shipdate, then read back one month.  Because every file (and every
    row group inside it) covers a tight l_shipdate interval, the parquet
    min/max footer stats let the pushed-down predicate skip almost all
    I/O — the sorted-layout half of what table formats call clustering /
    Z-ordering (one sort key, so a plain range sort IS the optimal
    curve).  At 100 TB this is the difference between scanning the
    dataset and scanning ~1/84th of it; the plan test asserts the filter
    reaches the scan (PushedFilters) rather than running post-read."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice"
    )
    out = _sink_path(spark, "sorted_skip")
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    lo, hi = "1995-06-01", "1995-07-01"
    return spark.read.parquet(out).filter(
        (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
    )


@register(
    "scan_python_datasource",
    oracle="""
    SELECT i AS id,
           CAST(i % 8 AS INT) AS part,
           md5(CAST(i AS VARCHAR)) AS payload
    FROM range(0, 10000) t(i)
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python Data Source API — the
    extension point for a source format the built-in readers don't speak
    (the engine's equivalent of a reference source plugin).  The source
    here deterministically synthesizes (id, part, md5(id)) rows so the
    result is hash-checkable against DuckDB's range().

    The distributed mechanics are real: ``partitions()`` plans 8 input
    splits on the driver, and each executor's ``read(partition)``
    generates ONLY its split — no driver-side materialization, no
    single-task scan.  100 TB design: a real connector returns one
    InputPartition per file/shard/offset-range and streams rows (or Arrow
    batches) per split, so source parallelism scales with the data
    exactly like the parquet reader's."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    n_rows, n_parts = 10_000, 8

    class SynDocsReader(DataSourceReader):
        def __init__(self, options):
            self.rows = int(options.get("rows", n_rows))
            self.parts = int(options.get("parts", n_parts))

        def partitions(self):
            return [InputPartition(p) for p in range(self.parts)]

        def read(self, partition):
            # Arrow RecordBatch yield (r12, VERDICT item 4 / guide §4):
            # Spark 4 converts row-tuple yields via a per-row pickle path;
            # one columnar batch per split crosses the Python boundary as
            # Arrow instead — same rows, same schema, no per-row cost.
            import hashlib

            import pyarrow as pa

            p = partition.value
            ids = list(range(p, self.rows, self.parts))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array([p] * len(ids), pa.int32()),
                    pa.array(
                        [hashlib.md5(str(i).encode()).hexdigest() for i in ids],
                        pa.string(),
                    ),
                ],
                names=["id", "part", "payload"],
            )

    class SynDocsDataSource(DataSource):
        @classmethod
        def name(cls):
            return "syndocs"

        def schema(self):
            return "id bigint, part int, payload string"

        def reader(self, schema):
            return SynDocsReader(self.options)

    spark.dataSource.register(SynDocsDataSource)
    return (
        spark.read.format("syndocs")
        .option("rows", str(n_rows))
        .option("parts", str(n_parts))
        .load()
    )


@register(
    "scan_python_datasource_pushdown",
    oracle="""
    SELECT i AS id,
           CAST(i % 8 AS INT) AS part,
           md5(CAST(i AS VARCHAR)) AS payload
    FROM range(0, 10000) t(i)
    WHERE i % 8 = 3 AND i >= 2000 AND i < 9000
    """,
)
def scan_python_datasource_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pushdown INTO a Python Data Source (Spark 4.1
    ``DataSourceReader.pushFilters``): the connector receives the query's
    conjunctive filters at planning time, claims the ones it can evaluate
    natively — ``part = k`` prunes input splits in ``partitions()``, the
    ``id`` range bounds each split's generator in ``read()`` — and
    returns the rest for Spark to re-apply.  This is the API a database /
    REST / index-backed connector uses so a selective query never
    materializes the full source.

    The op queries the synthetic (id, part, md5(id)) source of
    scan_python_datasource with ``part = 3 AND 2000 <= id < 9000``; with
    pushdown the scan plans ONE input split generating 875 rows instead
    of 8 splits × 10 000 rows (plan-asserted in tests/test_plans.py:
    PushedFilters lists all three, one source partition).  Correctness
    does not depend on the conf: unclaimed filters are Spark's to apply,
    so the result is identical either way — only the scanned volume
    changes.

    100 TB design: pushFilters is the difference between "scan the
    source and filter" and "ask the source for the slice" — split-level
    pruning (partitions()) scales the task count with selectivity, and
    generator bounds (read()) cap per-task I/O; both happen before any
    row reaches Spark."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        GreaterThanOrEqual,
        InputPartition,
        LessThan,
    )

    n_rows, n_parts = 10_000, 8

    class PushdownReader(DataSourceReader):
        def __init__(self, options):
            self.rows = int(options.get("rows", n_rows))
            self.parts = int(options.get("parts", n_parts))
            self.part_eq: int | None = None
            self.id_lo, self.id_hi = 0, self.rows

        def pushFilters(self, filters):
            # Claim part-equality (split pruning) and id bounds (generator
            # bounds); yield everything else back as residual.  Contract:
            # returned filters must be the input objects by reference.
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == ("part",):
                    self.part_eq = int(f.value)
                elif isinstance(f, GreaterThanOrEqual) and f.attribute == ("id",):
                    self.id_lo = max(self.id_lo, int(f.value))
                elif isinstance(f, LessThan) and f.attribute == ("id",):
                    self.id_hi = min(self.id_hi, int(f.value))
                else:
                    yield f

        def partitions(self):
            ps = range(self.parts) if self.part_eq is None else [self.part_eq]
            return [InputPartition(p) for p in ps]

        def read(self, partition):
            # Arrow RecordBatch yield (r12, VERDICT item 4 / guide §4) —
            # the pushed-down bounds still cap what is generated; what
            # survives crosses the boundary as one columnar batch.
            import hashlib

            import pyarrow as pa

            p = partition.value
            start = self.id_lo + ((p - self.id_lo) % self.parts)
            ids = list(range(start, self.id_hi, self.parts))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array([p] * len(ids), pa.int32()),
                    pa.array(
                        [hashlib.md5(str(i).encode()).hexdigest() for i in ids],
                        pa.string(),
                    ),
                ],
                names=["id", "part", "payload"],
            )

    class PushdownDataSource(DataSource):
        @classmethod
        def name(cls):
            return "synpush"

        def schema(self):
            return "id bigint, part int, payload string"

        def reader(self, schema):
            return PushdownReader(self.options)

    # Python-source pushdown is opt-in (4.1 default off); per-source only —
    # sources that don't override pushFilters keep identical plans.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PushdownDataSource)
    return (
        spark.read.format("synpush")
        .option("rows", str(n_rows))
        .option("parts", str(n_parts))
        .load()
        .filter(
            (F.col("part") == 3) & (F.col("id") >= 2000) & (F.col("id") < 9000)
        )
    )


# --- JSON-lines Python Data Source sink (module-level so the two-phase
# task-commit protocol is unit-testable; regression tests in
# tests/test_edge_cases.py cover commit([.., None]) from empty/failed
# task attempts) ---
import json as _json
import uuid as _uuid
from dataclasses import dataclass as _dataclass

from pyspark.sql.datasource import (
    DataSource as _DataSource,
    DataSourceArrowWriter as _DataSourceArrowWriter,
    WriterCommitMessage as _WriterCommitMessage,
)


@_dataclass
class PartCommit(_WriterCommitMessage):
    path: str
    rows: int


class JsonLinesWriter(_DataSourceArrowWriter):
    """Arrow-batch writer (r12, VERDICT item 4 / guide §4): the row-based
    DataSourceWriter receives every row as a pickled Spark Row; the Arrow
    form receives whole columnar RecordBatches.  ``to_pylist()`` yields
    dicts in schema column order — the same key order ``Row.asDict()``
    produced — so the emitted JSONL bytes are unchanged."""

    def __init__(self, options):
        self.path = options["path"]

    def write(self, iterator):
        os.makedirs(self.path, exist_ok=True)
        # unique per task ATTEMPT: a retried/speculative attempt writes
        # a fresh file and only the attempt that reaches commit() is
        # manifested
        part = os.path.join(self.path, f"part-{_uuid.uuid4().hex}.jsonl")
        n = 0
        with open(part, "w") as f:
            for batch in iterator:
                for rec in batch.to_pylist():
                    f.write(_json.dumps(rec) + "\n")
                    n += 1
        return PartCommit(path=part, rows=n)

    def commit(self, messages):
        manifest = os.path.join(self.path, "_MANIFEST")
        with open(manifest, "w") as f:
            for m in messages:
                # a task that wrote nothing can commit None — same
                # guard as abort() and the streaming sink's commit()
                if m is not None:
                    f.write(m.path + "\n")

    def abort(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class JsonLinesDataSource(_DataSource):
    @classmethod
    def name(cls):
        return "jsonlines"

    def writer(self, schema, overwrite):
        return JsonLinesWriter(self.options)


@register(
    "sink_python_datasource_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_acctbal FROM supplier",
)
def sink_python_datasource_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via the Python Data Source API writer protocol — the
    other half of scan_python_datasource's connector story.  Each write
    task streams its partition's rows to a uniquely-named JSON-lines part
    file and returns a WriterCommitMessage naming it; the driver-side
    ``commit()`` then atomically publishes a _MANIFEST listing exactly the
    committed parts.  Readers trust only manifested files, so output from
    failed/speculative task attempts is invisible — the same two-phase
    task-commit contract FileOutputCommitter gives Spark's built-in sinks,
    reproduced in ~20 lines for a format Spark doesn't speak.

    100 TB design: writes are executor-local and embarrassingly parallel
    (one part per task, no shuffle); the only driver-side work is the
    O(|tasks|) manifest."""
    spark.dataSource.register(JsonLinesDataSource)
    out = _sink_path(spark, "pyds_jsonl")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    sup.write.format("jsonlines").option("path", out).mode("append").save()
    with open(os.path.join(out, "_MANIFEST")) as f:
        parts = [line.strip() for line in f if line.strip()]
    return spark.read.schema("s_suppkey bigint, s_name string, s_acctbal double").json(
        parts
    )


@register(
    "sink_zorder_skip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
    FROM lineitem
    WHERE l_partkey BETWEEN 50 AND 150
      AND l_suppkey BETWEEN 2 AND 8
    """,
)
def sink_zorder_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional clustering: write lineitem laid out along a
    Z-order (Morton) curve over (l_partkey, l_suppkey) — bit-interleave
    the two 16-bit keys into one z-value, range-partition AND sort by it —
    then read back a 2-D box predicate.  A single-column sort
    (sink_sorted_skip) gives footer-stats skipping on ONE dimension only;
    the space-filling curve keeps rows close in BOTH keys inside each file
    and row group, so min/max stats prune on both predicates at once —
    what table formats call Z-ORDER clustering, built from two Spark
    primitives (repartitionByRange + sortWithinPartitions).

    The z-value is layout-only; returned rows are the exact box filter,
    so the op stays hash-checkable.  100 TB design: the curve turns a
    full-scan 2-D selection into O(files overlapping the box), and the
    layout job itself is one range shuffle — the standard compaction
    pass's cost."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    x = F.col("l_partkey").bitwiseAND(0xFFFF)
    y = F.col("l_suppkey").bitwiseAND(0xFFFF)
    z = F.lit(0).cast("long")
    for i in range(16):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(1), 2 * i)
        ).bitwiseOR(F.shiftleft(F.shiftright(y, i).bitwiseAND(1), 2 * i + 1))
    out = _sink_path(spark, "zorder_skip")
    (
        li.withColumn("zval", z)
        .repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .drop("zval")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out).filter(
        F.col("l_partkey").between(50, 150) & F.col("l_suppkey").between(2, 8)
    )


@register(
    "scan_file_metadata",
    oracle="""
    SELECT 'lineitem.parquet' AS file_name, COUNT(*) AS n_rows
    FROM lineitem GROUP BY 1
    """,
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-metadata columns (`_metadata.file_name` etc.) on a
    file-source scan — per-row lineage without a UDF or path parsing,
    the modern replacement for input_file_name().  Grouped per source
    file; the fixture ships one file per table so the oracle pins the
    name and total.

    100 TB design: _metadata is populated by the reader from the split it
    is already holding — zero extra I/O — and is the idiom for per-file
    quarantine/debugging (group error counts by file, trace a bad row to
    its object-store key)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select(F.col("_metadata.file_name").alias("file_name"))
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "sink_jsonl_sharded",
    oracle="""
    SELECT doc_id, text, lang, n_chars FROM documents
    """,
)
def sink_jsonl_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded JSONL export — the training-data delivery format: newline-
    delimited JSON with ``maxRecordsPerFile`` bounding every shard, so
    downstream loaders stream fixed-size files regardless of upstream
    partition sizes.  Shard-count bound is asserted in
    tests/test_operators.py; content integrity is this op's read-back
    hash against the source oracle.

    Scale: maxRecordsPerFile splits at the WRITER (no extra shuffle —
    each task rolls to a new file every N records); pair with
    repartition(n) only when shard COUNT must also be exact.  JSONL stays
    splittable so re-reads parallelize."""
    df = load(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    out = _sink_path(spark, "sink_jsonl_sharded")
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", 100)
        .json(out)
    )
    return spark.read.schema(df.schema).json(out)


@register(
    "sink_compact_small_files",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (the OPTIMIZE maintenance op): a slice is
    first written deliberately over-partitioned (64 files for a few
    hundred rows — the classic streaming-ingest debris), then compacted
    with coalesce(1) into target-sized files and read back.  Content
    identity is the hash check; the file-count collapse (64 -> 1) is
    asserted in tests/test_operators.py.

    Scale: coalesce merges WITHOUT a shuffle (narrow: each output task
    reads whole input files); repartition is the shuffle variant for when
    output must also be balanced by a key.  At 100 TB the target is
    ~256 MB-1 GB per file — file count = bytes/target, never 'one'."""
    df = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 0)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    )
    debris = _sink_path(spark, "compact_debris")
    df.repartition(64).write.mode("overwrite").parquet(debris)
    compacted = _sink_path(spark, "compact_out")
    spark.read.parquet(debris).coalesce(1).write.mode("overwrite").parquet(compacted)
    return spark.read.parquet(compacted)


@register(
    "sink_csv_quoted_multiline",
    oracle="""
    SELECT doc_id,
           'a,b"c' || chr(10) || substr(text, 1, 30) AS tricky,
           lang
    FROM documents
    """,
)
def sink_csv_quoted_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip of ADVERSARIAL values: every field carries an
    embedded comma, a double-quote, AND a newline — the trifecta that
    breaks naive CSV handling.  Written with explicit quote/escape
    settings, read back with multiLine=true; the read-back values hash
    against the oracle's expected strings, so any mis-quoting or
    mis-splitting anywhere in the writer/reader fails the value check.

    Scale note (and the reason parquet wins): multiLine=true makes CSV
    files NON-SPLITTABLE (a record boundary can no longer be found by
    seeking to a newline), so each file becomes one task — acceptable for
    interchange, wrong for a 100 TB fact table.  The op documents that
    trade-off by existing."""
    d = load(spark, sf_dir, "documents")
    tricky = F.concat(
        F.lit('a,b"c\n'), F.substring("text", 1, 30)
    )
    df = d.select("doc_id", tricky.alias("tricky"), "lang")
    out = _sink_path(spark, "sink_csv_quoted")
    # nullValue sentinel (hostile-strings sweep): with defaults, CSV
    # conflates '' and NULL — the writer emits both as an empty field and
    # the reader maps it back to NULL, silently corrupting empty-string
    # cells.  Writing NULL as an explicit \N sentinel leaves the quoted
    # "" form to mean empty string, making the round-trip bijective
    # (probed: '' -> '' and NULL -> NULL with this one option pair).
    csv_opts = {
        "header": True,
        "quote": '"',
        "escape": '"',
        "nullValue": "\\N",
        # the CSV WRITER trims by default (ignore*WhiteSpace=true) — a
        # silent data change; disabled on both ends for true round-trip
        "ignoreLeadingWhiteSpace": False,
        "ignoreTrailingWhiteSpace": False,
    }
    df.write.mode("overwrite").options(**csv_opts).csv(out)
    return (
        spark.read.schema(df.schema)
        .options(**csv_opts)
        .option("multiLine", True)
        .csv(out)
    )


@register(
    "sink_dynamic_partition_overwrite",
    oracle="""
    WITH keyed AS (
      -- '(empty)' sentinel (hostile-strings sweep): Hive's partition
      -- layout maps '' to __HIVE_DEFAULT_PARTITION__, which reads back
      -- as NULL — a silent ''→NULL corruption.  An explicit sentinel
      -- keeps the round-trip bijective; genuinely-NULL priorities keep
      -- Hive's NULL convention (the nulls regime pins that path).
      SELECT CASE WHEN o_orderpriority = '' THEN '(empty)'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders
    )
    SELECT o_orderpriority,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN COUNT(*) + 1000000 ELSE COUNT(*) END AS n,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 'v2' ELSE 'v1' END AS version
    FROM keyed GROUP BY o_orderpriority
    """,
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the incremental-reload semantics
    every partitioned warehouse table depends on: a second write replaces
    ONLY the partitions present in the new batch
    (partitionOverwriteMode=dynamic), leaving all others untouched.
    Static mode (the default!) would silently DELETE the untouched
    partitions — the classic data-loss footgun this op pins.

    Sequence: full 5-partition write (v1 counts) → dynamic overwrite of
    just the URGENT/HIGH partitions with v2 counts (+1e6 marker) → read
    back.  The oracle encodes the expected merged state: overwritten
    partitions carry v2/+1e6, the rest remain v1 — any leakage of static
    semantics fails the hash.

    Scale: partition-granular replacement IS the idempotent-backfill
    primitive (re-run yesterday's batch without touching history);
    per-partition file layout makes it an O(changed partitions) commit."""
    o = load(spark, sf_dir, "orders").withColumn(
        # '(empty)' sentinel: '' is not a representable Hive partition
        # value (it aliases __HIVE_DEFAULT_PARTITION__ = NULL on read);
        # oracle applies the same mapping
        "o_orderpriority",
        F.when(F.col("o_orderpriority") == "", "(empty)").otherwise(
            F.col("o_orderpriority")
        ),
    )
    base = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).select(
        "o_orderpriority", "n", F.lit("v1").alias("version")
    )
    out = _sink_path(spark, "dyn_overwrite")
    base.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)

    update = (
        base.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(
            "o_orderpriority",
            (F.col("n") + 1000000).alias("n"),
            F.lit("v2").alias("version"),
        )
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        update.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # Explicit schema on read-back (empty-sweep rule): an empty orders
    # slice writes a file-less partitioned dir inference cannot read.
    back = spark.read.schema(base.schema).parquet(out)
    return back.select("o_orderpriority", "n", "version")


@register(
    "scan_recursive_dir",
    oracle="SELECT * FROM nation",
)
def scan_recursive_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive directory ingest (recursiveFileLookup=true): data laid
    out in arbitrary nested folders — the landing-zone reality when
    upstream systems drop files by date/source/team with no Hive
    partition naming — read as one dataset.  Without the option, Spark
    reads only the top level (and nested NON-partition dirs error);
    with it, every descendant file loads and partition inference is
    disabled (documented trade: nested dirs carrying k=v semantics must
    use the partitioned reader instead).

    Fixture prep scatters nation across a/deep/, b/deeper/still/, c/ —
    the read-back must recover the exact table (identity hash oracle).
    Scale: listing is parallelized driver-side (InMemoryFileIndex); at
    object-store scale prefer fewer, larger directories — listing cost
    is per-object."""
    df = load(spark, sf_dir, "nation")
    out = _sink_path(spark, "recursive_src")
    for i, sub in enumerate(("a/deep", "b/deeper/still", "c")):
        (
            df.filter(F.col("n_nationkey") % 3 == i)
            .write.mode("overwrite")
            .parquet(os.path.join(out, sub))
        )
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema(df.schema)
        .parquet(out)
    )


@register(
    "scan_csv_permissive",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE l_orderkey % 1000 <> 0) AS n_good,
           COUNT(*) FILTER (WHERE l_orderkey % 1000 = 0) AS n_corrupt,
           CAST(CAST(SUM(CAST(ROUND(CASE WHEN l_orderkey % 1000 <> 0
                                         THEN l_quantity ELSE 0 END
                              * 1000000) AS BIGINT)) AS DOUBLE)
                / 1000000 AS DOUBLE) AS good_qty
    FROM lineitem
    WHERE l_orderkey % 199 = 0
    """,
)
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record ingestion: write a CSV feed in which a
    deterministic subset of rows is corrupted (non-numeric quantity),
    then read it back in PERMISSIVE mode with a ``_corrupt`` rescue
    column — the dirty-ingest contract every production loader needs
    (FAILFAST aborts the job on one bad line; DROPMALFORMED silently
    loses data; PERMISSIVE quarantines).  Returns row/good/corrupt
    counts plus the fixed-point sum of successfully-parsed quantities,
    proving values (not just line counts) survived the round trip.

    Scale (100 TB): corruption handling is per-line inside the scan —
    no extra pass, no driver involvement; the rescue column adds one
    nullable string only for bad rows.  CSV itself (single-pass text
    parse, no pushdown) is the interchange path, not the query path —
    land it to parquet once, as sink_parquet_roundtrip does."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 199 == 0)
    # corrupt rule: every orderkey divisible by 1000 gets a non-numeric qty
    line = F.concat_ws(
        ",",
        F.col("l_orderkey"),
        F.when(F.col("l_orderkey") % 1000 == 0, F.lit("NOT_A_NUMBER")).otherwise(
            F.col("l_quantity").cast("string")
        ),
        F.col("l_returnflag"),
    )
    out = _sink_path(spark, "scan_csv_permissive")
    li.select(line.alias("value")).write.mode("overwrite").text(out)
    schema = "l_orderkey bigint, l_quantity double, l_returnflag string, _corrupt string"
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
    )
    good = F.col("_corrupt").isNull()
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(good, 1)).alias("n_good"),
        F.count(F.when(~good, 1)).alias("n_corrupt"),
        lsum(F.when(good, F.col("l_quantity")).otherwise(F.lit(0.0))).alias(
            "good_qty"
        ),
    )


@register(
    "scan_versioned_time_travel",
    oracle="""
    SELECT 'v0' AS version,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0) AS n_rows,
           (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM orders
             WHERE o_orderkey % 3 = 0) AS key_checksum
    UNION ALL
    SELECT 'v1',
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 <> 2),
           (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM orders
             WHERE o_orderkey % 3 <> 2)
    """,
)
def scan_versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over a versioned table WITHOUT a table format: each
    write lands a complete snapshot under ``v{N}/`` and commits by
    atomically advancing a manifest pointer (the
    stream_foreachbatch_upsert layout); readers resolve either the
    pinned version or the manifest head — so 'what did the table say
    yesterday' is answered by reading yesterday's directory, which no
    in-place overwrite can do.  The op writes v0, appends more rows as
    v1, then reads BOTH versions back and reports count + key checksum
    per version — proving v0 is still byte-stable after v1 committed.

    Scale (100 TB): full-snapshot versions suit dimension-sized tables;
    fact-scale time travel keeps per-version DELTAS and compacts
    (merge_upsert/cdc shapes) — the manifest mechanism is identical.
    Retention = deleting old version dirs after a vacuum window.

    Limitation: the pointer protocol is SINGLE-WRITER — two concurrent
    committers race the ``os.replace`` and the last one silently wins
    (no conflict detection or retry, unlike Delta/Iceberg optimistic
    commits).  Serialize writers externally, or back this op with a
    real table format on clusters that have one (USAGE.md)."""
    base = _sink_path(spark, "time_travel")
    manifest = os.path.join(base, "_LATEST")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    def commit_version(df: DataFrame, n: int) -> None:
        vdir = os.path.join(base, f"v{n}")
        df.write.mode("overwrite").parquet(vdir)
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            f.write(vdir)
        os.replace(tmp, manifest)

    commit_version(o.filter(F.col("o_orderkey") % 3 == 0), 0)
    commit_version(o.filter(F.col("o_orderkey") % 3 != 2), 1)

    v0 = spark.read.parquet(os.path.join(base, "v0"))
    with open(manifest) as f:
        head = spark.read.parquet(f.read().strip())

    def report(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_checksum"),
        )

    return report(v0, "v0").unionByName(report(head, "v1"))


@register(
    "scan_highwatermark_incremental",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(*) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum
    FROM events
    GROUP BY 1
    """,
)
def scan_highwatermark_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch incremental ELT via a HIGH WATERMARK: each run processes
    only days strictly beyond the stored watermark, appends its daily
    aggregates to the target, then advances the watermark file — the
    non-streaming sibling of stream_checkpoint_resume and the single
    most common nightly-job pattern there is.  The op runs the job
    TWICE (first over the earlier half of days, then over the rest);
    the identity oracle over per-day aggregates proves run 2 processed
    exactly the unprocessed days — no re-aggregation of old days
    (duplicate rows would break the hash), none skipped.

    Scale (100 TB): each run's predicate (day > watermark) prunes at
    the partition level on a date-partitioned source — run cost is
    O(new days), never O(history); the watermark itself is one scalar
    in a state file, atomically replaced (the manifest-commit rule)."""
    base = _sink_path(spark, "hwm")
    # fresh pipeline state per invocation: the op DEMONSTRATES the two-run
    # incremental cycle, so a re-run within one session must not append to
    # the previous demonstration's target (idempotent rebuild)
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    wm_file = os.path.join(base, "_WATERMARK")
    out = os.path.join(base, "out")

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", F.date_trunc("day", "ts").cast("date").alias("day")
    )
    days = sorted(
        r["day"] for r in ev.select("day").distinct().collect()
    )  # bounded: the day axis (metadata-scale collect, ann.py rule)
    if not days:
        # Empty-sweep guard: no days means no batches to demonstrate —
        # return the (empty) per-day aggregate with the target schema
        # instead of indexing into an empty day axis.
        return ev.groupBy("day").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
    mid = days[len(days) // 2]

    def run(upper_bound) -> None:
        wm = None
        if os.path.exists(wm_file):
            with open(wm_file) as f:
                wm = f.read().strip()
        batch = ev.filter(F.col("day") <= F.lit(upper_bound))
        if wm:
            batch = batch.filter(F.col("day") > F.lit(wm))
        agg = batch.groupBy("day").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
        agg.write.mode("append").parquet(out)
        tmp = wm_file + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(upper_bound))
        os.replace(tmp, wm_file)

    run(mid)          # nightly run 1: everything up to the midpoint
    run(days[-1])     # nightly run 2: only the NEW days
    return spark.read.parquet(out)


@register(
    "scan_multiformat_union",
    oracle="""
    SELECT 'parquet' AS fmt, r_regionkey, r_name FROM region
    UNION ALL
    SELECT 'csv', r_regionkey, r_name FROM region
    UNION ALL
    SELECT 'json', r_regionkey, r_name FROM region
    """,
)
def scan_multiformat_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-format lake read: the same table written as parquet, CSV,
    and JSON-lines, read back through each format's reader and unioned
    with a provenance column — the migration-period reality of every
    lake (the old CSV feed keeps landing while the parquet path ramps),
    where the QUERY layer must not care about the container.  The
    identity oracle (3× the source with format tags) proves each
    reader preserved every row and value, including the
    CSV→schema-cast round trip.

    Scale: each format scans with its own parallelism (CSV/JSON split
    by line, parquet by row group); the union is plan-level.  The
    documented endgame is compacting the laggard formats into parquet
    (sink_compact_small_files) — until then this op IS the read
    path."""
    r = load(spark, sf_dir, "region")
    base = _sink_path(spark, "multifmt")
    p, cdir, jdir = (os.path.join(base, x) for x in ("p", "c", "j"))
    r.write.mode("overwrite").parquet(p)
    r.write.mode("overwrite").option("header", True).csv(cdir)
    r.write.mode("overwrite").json(jdir)
    pq = spark.read.parquet(p).select(
        F.lit("parquet").alias("fmt"), "r_regionkey", "r_name"
    )
    cs = (
        spark.read.schema(r.schema).option("header", True).csv(cdir)
        .select(F.lit("csv").alias("fmt"), "r_regionkey", "r_name")
    )
    js = spark.read.schema(r.schema).json(jdir).select(
        F.lit("json").alias("fmt"), "r_regionkey", "r_name"
    )
    return pq.unionByName(cs).unionByName(js)


@register(
    "scan_jsonl_corrupt_capture",
    oracle="""
    SELECT lang, COUNT(*) AS n FROM documents
    WHERE doc_id % 5 <> 0 GROUP BY lang
    UNION ALL
    SELECT '_corrupt', COUNT(*) FROM documents WHERE doc_id % 5 = 0
    """,
)
def scan_jsonl_corrupt_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSONL ingestion with corrupt-record capture: a jsonl
    file is materialized where every fifth record is deliberately
    malformed (truncated JSON — the reality of any crawled or
    vendor-delivered feed), then read back with
    columnNameOfCorruptRecord so bad lines land in a quarantine
    column instead of killing the job; the report counts valid rows
    per language plus the '_corrupt' bucket.  The oracle predicts
    both populations arithmetically from the source table — proving
    no record was silently dropped OR mis-parsed (FAILFAST would
    abort; DROPMALFORMED would lie).

    Scale (100 TB): jsonl splits by line, so the permissive parse is
    embarrassingly parallel; the corrupt bucket is the operational
    dead-letter queue, counted in the same pass as the good rows."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    path = _sink_path(spark, "jsonl_corrupt")
    lines = d.select(
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit('{"doc_id": '),
                F.col("doc_id").cast("string"),
                F.lit(', "lang": "tru'),
            ),
        )
        .otherwise(F.to_json(F.struct("doc_id", "lang")))
        .alias("value")
    )
    lines.write.mode("overwrite").text(path)
    parsed = (
        spark.read.schema("doc_id long, lang string, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    # Spark refuses plans whose only referenced column is the corrupt-
    # record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN); one grouped pass
    # referencing lang AND _bad together counts both populations and is
    # the cheaper plan anyway.
    label = F.when(F.col("_bad").isNotNull(), "_corrupt").otherwise(
        F.col("lang")
    )
    counts = parsed.groupBy(label.alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # The '_corrupt' bucket must exist even when NOTHING is corrupt (the
    # dead-letter queue reports 0, it doesn't vanish — degenerate-sweep
    # find, and what the oracle's ungrouped COUNT(*) branch always emits):
    # union a 0-row and re-aggregate, which is a no-op when the bucket is
    # already populated.
    zero = spark.range(1).select(
        F.lit("_corrupt").alias("lang"), F.lit(0).cast("long").alias("n")
    )
    return (
        counts.unionByName(zero)
        .groupBy("lang")
        .agg(F.sum("n").cast("long").alias("n"))
    )


@register(
    "sink_manifest_publish",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT))
                AS DOUBLE) / 1000000 AS DOUBLE) AS revenue
    FROM orders WHERE o_orderkey % 3 = 0
    GROUP BY o_orderstatus
    """,
)
def sink_manifest_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic publish via manifest: a slice of orders is written as a
    fixed-width parquet fileset, then a _MANIFEST is committed listing
    every data file WITH its row count; the read side consumes ONLY
    the manifest's files and cross-checks each file's actual rows
    against the manifest before serving — the publish/subscribe
    contract that makes a batch output atomic on stores without
    atomic directory rename (readers never see a half-written
    fileset; a file/manifest mismatch raises instead of returning
    partial data).  The returned rollup hash-checks against the
    source, proving the publish-read cycle lost nothing.

    Scale (100 TB): manifest cost is O(files), not rows; the
    row-count cross-check rides parquet footer metadata (a count()
    over one file reads no data pages).

    Limitation: manifest commit is SINGLE-WRITER — concurrent
    publishers to the same target last-write-win the manifest swap
    with no conflict detection; serialize writers externally or use a
    real table format (USAGE.md)."""
    import json as _json
    import os as _os

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    out = _sink_path(spark, "manifest_pub")
    data_dir = _os.path.join(out, "data")
    o.repartition(4).write.mode("overwrite").parquet(data_dir)
    files = sorted(
        f
        for f in _os.listdir(data_dir)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    manifest = []
    for f in files:
        path = _os.path.join(data_dir, f)
        n = spark.read.parquet(path).count()  # footer metadata only
        manifest.append({"file": f, "rows": n})
    with open(_os.path.join(out, "_MANIFEST"), "w") as fh:
        _json.dump(manifest, fh)

    with open(_os.path.join(out, "_MANIFEST")) as fh:
        listed = _json.load(fh)
    paths = [_os.path.join(data_dir, m["file"]) for m in listed]
    back = spark.read.parquet(*paths)
    for m in listed:
        actual = spark.read.parquet(
            _os.path.join(data_dir, m["file"])
        ).count()
        if actual != m["rows"]:
            raise RuntimeError(
                f"manifest mismatch: {m['file']} has {actual} rows,"
                f" manifest says {m['rows']}"
            )
    r6 = fp_scaled_long(F.col("o_totalprice"), 1_000_000)
    # 3 global status groups over every landed order — hi/lo split
    # (a single-long Σ of o_totalprice micro-units clears 2^63 at
    # ~6e7 rows/group; 100 TB has ~5e10)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (fp_split_sum_of(r6).cast("double") / 1000000)
        .cast("double")
        .alias("revenue"),
    )


@register(
    "sink_row_hash_audit",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_rows,
           COUNT(*) AS n_hash_ok
    FROM orders WHERE o_orderkey % 4 = 0
    GROUP BY o_orderstatus
    """,
)
def sink_row_hash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level integrity audit through a sink: each row is written
    with a sha256 row_hash over its business columns (pipe-joined,
    fixed column order); the read side RECOMPUTES the hash from the
    stored values and counts matches — the tamper/corruption audit
    trail regulated pipelines attach to every landed file, and the
    mechanism that catches a bit flip or a sneaky schema-default
    rewrite that row counts (sink_manifest_publish) cannot see.  The
    oracle asserts n_hash_ok == n_rows per group from the source —
    any divergence anywhere in write→read fails the hash gate.

    Scale (100 TB): the row hash computes in the write projection and
    re-verifies in the read scan — both JVM-side sha256, no shuffle
    added; auditing cost is one extra column."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 0)
    business = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    ]
    hashed = o.withColumn(
        "row_hash",
        F.sha2(F.concat_ws("|", *[F.col(c).cast("string") for c in business]), 256),
    )
    out = _sink_path(spark, "row_hash_audit")
    hashed.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    recomputed = F.sha2(
        F.concat_ws("|", *[F.col(c).cast("string") for c in business]), 256
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(recomputed == F.col("row_hash"), 1).otherwise(0))
        .cast("long")
        .alias("n_hash_ok"),
    )


@register(
    "scan_glob_subset",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE CAST(ts AS DATE) < DATE '2024-01-10'
    GROUP BY event_type
    """,
)
def scan_glob_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-glob partition subsetting: events land day-partitioned and
    the reader addresses `day=2024-01-0*` DIRECTLY by glob — no
    filter, no listing of the other partitions — the ad-hoc ops
    pattern ('just read the first week's directories') that
    complements predicate-driven pruning (sink_partition_prune): the
    subset is chosen by PATH before Spark ever plans, so even the
    directory listing cost scales with the subset.  basePath keeps
    the partition column recoverable; the oracle recomputes the same
    nine days from the source, so a row in a mis-named partition
    fails the hash.

    Scale (100 TB): glob resolution is a metadata operation on the
    store listing; the scan itself touches only matching
    directories."""
    import os as _os

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out = _sink_path(spark, "glob_subset")
    e.withColumn("day", F.to_date("ts")).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(out)
    import glob as _glob

    if not _glob.glob(_os.path.join(out, "day=2024-01-0*")):
        # Empty-sweep guard: a glob that matches no partition directory
        # is PATH_NOT_FOUND to the reader; the subset is simply empty.
        return e.filter(F.lit(False)).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    subset = spark.read.option("basePath", out).parquet(
        _os.path.join(out, "day=2024-01-0*")
    )
    return subset.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "scan_fixed_width",
    oracle="""
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS bal_cents
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (COBOL/mainframe-extract) text format: suppliers are
    serialized to a strict columnar byte layout (key 10, nation 4,
    balance-cents 13 right-aligned; name 25 left-aligned last so
    spaces inside values stay unambiguous), written through the text
    sink, then re-parsed by substring offsets and aggregated — the
    ingest path for the bank/ERP extracts that predate delimiters.
    The oracle aggregates the SOURCE table, so a single byte lost or
    mis-sliced anywhere in serialize→write→read→parse fails the hash
    (the same identity-roundtrip contract the sink_* ops use).

    Scale (100 TB): both directions are embarrassingly parallel row
    projections; text files split by line, so read parallelism is
    byte-range like CSV.  Parse is pure substring/cast — whole-stage
    codegen, no Python."""
    s = load(spark, sf_dir, "supplier")
    cents = (
        F.signum("s_acctbal") * ((F.abs(F.col("s_acctbal")) * 100 + 0.5).cast("long"))
    ).cast("long")
    # NULL convention of fixed-width extracts: an all-spaces field (a NULL
    # anywhere in concat would otherwise null the whole LINE and the text
    # sink would emit an empty record that breaks the byte layout)
    lines = s.select(
        F.concat(
            F.lpad(F.coalesce(F.col("s_suppkey").cast("string"), F.lit("")), 10, " "),
            F.lpad(F.coalesce(F.col("s_nationkey").cast("string"), F.lit("")), 4, " "),
            F.lpad(F.coalesce(cents.cast("string"), F.lit("")), 13, " "),
            F.rpad(F.coalesce(F.col("s_name"), F.lit("")), 25, " "),
        ).alias("value")
    )
    out = _sink_path(spark, "scan_fixed_width")
    lines.write.mode("overwrite").text(out)
    back = spark.read.text(out)
    parsed = back.select(
        F.nullif(F.trim(F.substring("value", 1, 10)), F.lit("")).cast("long").alias("s_suppkey"),
        F.nullif(F.trim(F.substring("value", 11, 4)), F.lit("")).cast("long").alias("s_nationkey"),
        F.nullif(F.trim(F.substring("value", 15, 13)), F.lit("")).cast("long").alias("bal_cents"),
    )
    return parsed.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("bal_cents").cast("long").alias("bal_cents"),
    )


@register(
    "sink_csv_gzip_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
           l_returnflag
    FROM lineitem WHERE l_quantity >= 48
    """,
)
def sink_csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink with gzip codec, read back through an explicit schema —
    the compressed-flat-file interchange path (partner feeds, legacy
    loaders) that sink_csv_roundtrip leaves uncompressed.  Money
    crosses the text boundary as integer cents, never as a float
    string (engine float-formatting is exactly where text roundtrips
    rot), and the read supplies the schema instead of inferring it so
    types are a contract, not a guess.

    Scale (100 TB): gzip is NOT splittable — each .csv.gz file is one
    read task, so write parallelism (file count) fixes read
    parallelism; the op keeps Spark's default many-files layout for
    that reason.  For splittable compressed text choose bzip2; for
    real scale use parquet+zstd (next op)."""
    cents = (
        F.signum("l_extendedprice") * ((F.abs(F.col("l_extendedprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    df = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 48)
        .select(
            "l_orderkey", "l_linenumber", cents.alias("cents"), "l_returnflag"
        )
    )
    out = _sink_path(spark, "sink_csv_gzip")
    df.write.mode("overwrite").option("header", True).option(
        "compression", "gzip"
    ).csv(out)
    return spark.read.schema(
        "l_orderkey long, l_linenumber long, cents long, l_returnflag string"
    ).option("header", True).csv(out)


@register(
    "sink_parquet_zstd_roundtrip",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM lineitem WHERE l_shipdate >= DATE '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def sink_parquet_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink with zstd compression, read back and aggregated —
    the codec the 100 TB tier actually stores on (zstd ~ snappy's
    speed at gzip-class ratios; snappy is only Spark's legacy default),
    proving the zstd-jni native path works end-to-end in this build.
    ``get_spark`` sessions also write zstd by default; this op keeps
    its explicit ``.option("compression", "zstd")`` so it still writes
    zstd under a session built elsewhere with another codec.
    The oracle aggregates the SOURCE slice, so any corruption across
    encode→decode fails the hash.

    Scale (100 TB): parquet+zstd stays SPLITTABLE (row-group
    boundaries, unlike the gzip text sink above) — read parallelism
    is row-group-, not file-, bound; columnar pushdown and pruning
    are unaffected by the codec choice."""
    cents = (
        F.signum("l_extendedprice") * ((F.abs(F.col("l_extendedprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    df = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        .select("l_returnflag", cents.alias("cents"))
    )
    out = _sink_path(spark, "sink_parquet_zstd")
    df.write.mode("overwrite").option("compression", "zstd").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents"),
    )


@register(
    "scan_csv_dateformat",
    oracle="""
    SELECT EXTRACT(year FROM o_orderdate) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders WHERE o_orderkey % 8 = 0
    GROUP BY 1
    """,
)
def scan_csv_dateformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-ISO date interchange: orders serialized to CSV with
    dd/MM/yyyy dates (the European-locale format that silently
    byte-swaps into MM/dd on naive loaders), read back through an
    explicit to_date pattern, and aggregated by year — the oracle
    aggregates the SOURCE, so a day/month transposition anywhere in
    format→write→read→parse shifts rows across years and fails the
    hash (an 03/04 vs 04/03 swap is invisible to row counts alone).

    Scale (100 TB): both directions are parallel projections; the
    date pattern parse is JVM codegen, not a UDF."""
    cents = (
        F.signum("o_totalprice") * ((F.abs(F.col("o_totalprice")) * 100 + 0.5).cast("long"))
    ).cast("long")
    df = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 8 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.date_format("o_orderdate", "dd/MM/yyyy").alias("d_eu"),
            cents.alias("cents"),
        )
    )
    out = _sink_path(spark, "scan_csv_dateformat")
    df.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema("k long, d_eu string, cents long").option(
        "header", True
    ).csv(out)
    return back.select(
        F.year(F.to_date("d_eu", "dd/MM/yyyy")).alias("yr"), "cents"
    ).groupBy("yr").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("cents"),
    )


@register(
    "sink_tsv_roundtrip",
    oracle="""
    SELECT n_name, r_name,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS bal_cents
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY n_name, r_name
    """,
)
def sink_tsv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tab-separated-values roundtrip: the supplier→nation→region
    denormalization written as TSV (sep='\\t' — the format half of
    bioinformatics and most spreadsheet exports actually use, where
    commas inside names make plain CSV ambiguous), read back through
    an explicit schema and re-aggregated against a source-side
    oracle.  Money crosses as integer cents per the repo's text
    interchange rule.

    Scale (100 TB): same parallel projection properties as the CSV
    sinks; uncompressed text splits by line so read parallelism is
    byte-range."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    cents = (
        F.signum("s_acctbal") * ((F.abs(F.col("s_acctbal")) * 100 + 0.5).cast("long"))
    ).cast("long")
    df = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_name", "r_name", cents.alias("bal_cents"))
    )
    out = _sink_path(spark, "sink_tsv")
    df.write.mode("overwrite").option("header", True).option("sep", "\t").csv(out)
    back = spark.read.schema(
        "n_name string, r_name string, bal_cents long"
    ).option("header", True).option("sep", "\t").csv(out)
    return back.groupBy("n_name", "r_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("bal_cents").cast("long").alias("bal_cents"),
    )


@register(
    "sink_parquet_bloom_roundtrip",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_extendedprice
    FROM lineitem
    WHERE l_partkey IN (42, 420, 777)
    """,
)
def sink_parquet_bloom_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet bloom-filter authoring: write lineitem with a bloom filter
    on l_partkey (``parquet.bloom.filter.enabled#l_partkey``) plus
    dictionary fallback disabled for that column, then read back a
    point-set probe — the storage feature that turns needle-in-haystack
    key lookups into row-group skips when min/max stats are too wide to
    prune (high-cardinality keys scattered across the range).  The
    result set is the exact IN-list filter, so the hash check proves the
    bloom path returns complete results (a bloom filter may only skip,
    never drop).

    Scale (100 TB): bloom filters are per-row-group and cost ~1 byte/key
    at write; reads probe the filter before decoding any page.  The
    write here is the fixture slice; production writers set the same
    options on the real table."""
    out = _sink_path(spark, "sink_bloom")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    (
        li.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_partkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_partkey", "20000")
        .parquet(out)
    )
    return spark.read.parquet(out).filter(
        F.col("l_partkey").isin(42, 420, 777)
    )


@register(
    "dq_manifest_orphan_audit",
    oracle="""
    SELECT * FROM (VALUES
      ('part-0.parquet', 'ok'), ('part-1.parquet', 'ok'),
      ('part-2.parquet', 'ok'), ('part-3.parquet', 'ok'),
      ('part-4.parquet', 'ok'), ('part-5.parquet', 'orphan'),
      ('part-9.parquet', 'missing')
    ) AS t(file_name, status)
    """,
)
def dq_manifest_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest↔directory reconciliation: the hygiene audit every
    manifest-committed sink (sink_manifest_publish,
    sink_python_datasource_roundtrip) needs — files on disk but not
    manifested are ORPHANS (failed task attempts, eligible for GC);
    manifested files not on disk are MISSING (data loss, page someone).
    The fixture sink is built with two deliberate faults — one orphan
    part and one dangling manifest entry — and the audit must report
    exactly {5 ok, 1 orphan, 1 missing}, which IS the oracle (the sink
    construction is deterministic, so ground truth is literal — same
    convention as the sink roundtrip oracles that re-derive expected
    data from the source).

    Scale (100 TB): the directory side lists files via Spark's
    distributed binaryFile source (metadata columns only — content is
    pruned); the manifest side is a table; the diff is one full-outer
    join on file name.  No file CONTENT is read."""
    import shutil

    out = _sink_path(spark, "manifest_audit")
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    nat = load(spark, sf_dir, "nation")
    staging = os.path.join(out, "_staging")
    for i in range(6):
        nat.filter(F.col("n_nationkey") % 6 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
        os.rename(
            os.path.join(staging, part), os.path.join(out, f"part-{i}.parquet")
        )
    shutil.rmtree(staging)
    manifest_names = [f"part-{i}.parquet" for i in range(5)] + [
        "part-9.parquet"  # dangling entry: never written
    ]  # part-5 written but NOT manifested → orphan
    manifest = spark.createDataFrame(
        [(n,) for n in manifest_names], "file_name string"
    )
    listed = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(out)
        .select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name")
        )
    )
    j = listed.withColumn("in_dir", F.lit(1)).join(
        manifest.withColumn("in_manifest", F.lit(1)), "file_name", "full_outer"
    )
    return j.select(
        "file_name",
        F.when(F.col("in_dir").isNull(), "missing")
        .when(F.col("in_manifest").isNull(), "orphan")
        .otherwise("ok")
        .alias("status"),
    )


@register(
    "scan_delimiter_sniff",
    oracle="""
    WITH lines AS (
      SELECT CAST(s_suppkey AS VARCHAR) || '|' || s_name || '|'
             || CAST(s_nationkey AS VARCHAR) AS line
      FROM supplier
    ),
    cands(delim) AS (VALUES (','), ('|'), (';'), ('#')),
    counts AS (
      SELECT c.delim,
             CAST(SUM(len(l.line) - len(replace(l.line, c.delim, '')))
                  AS BIGINT) AS total_hits,
             CAST(SUM(CASE WHEN l.line LIKE '%' || c.delim || '%'
                      THEN 1 ELSE 0 END) AS BIGINT) AS lines_with_hits,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lines l CROSS JOIN cands c
      GROUP BY c.delim
    )
    SELECT delim, total_hits, lines_with_hits, n_lines,
           round(total_hits / CAST(n_lines AS DOUBLE), 6) AS hits_per_line,
           CASE WHEN ROW_NUMBER() OVER (ORDER BY total_hits DESC, delim) = 1
                THEN 1 ELSE 0 END AS chosen
    FROM counts
    """,
)
def scan_delimiter_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimiter sniffing for schemaless ingestion: write a
    pipe-delimited supplier extract (integer and name columns only, so
    the bytes are reproducible), read it back as raw text, and score
    each candidate delimiter by total occurrences and line coverage —
    the detector a landing-zone service runs before committing to a
    parse (scan_csv_permissive handles the rows a WRONG guess mangles;
    this op makes the right guess).  Scoring over ALL lines, not a
    head sample, keeps the op order-independent and the hash stable;
    '|' wins at exactly 2 hits/line with 100% coverage while '#'
    (inside every supplier name) shows why coverage alone is not
    enough.

    Scale (100 TB): candidate scoring is a narrow map over lines with a
    4-row rollup; production sniffs a bounded sample split per file."""
    out = _sink_path(spark, "sniff_src")
    sup = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    (
        sup.write.mode("overwrite")
        .option("sep", "|")
        .option("header", "false")
        .csv(out)
    )
    lines = spark.read.text(out).select(F.col("value").alias("line"))
    cands = spark.createDataFrame(
        [(",",), ("|",), (";",), ("#",)], "delim string"
    )
    j = lines.crossJoin(F.broadcast(cands))
    counts = j.groupBy("delim").agg(
        F.sum(
            F.length("line")
            - F.length(F.expr("replace(line, delim, '')"))
        )
        .cast("long")
        .alias("total_hits"),
        F.sum(F.when(F.expr("contains(line, delim)"), 1).otherwise(0))
        .cast("long")
        .alias("lines_with_hits"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )
    from pyspark.sql import Window

    wr = Window.orderBy(F.col("total_hits").desc(), "delim")
    return counts.select(
        "delim", "total_hits", "lines_with_hits", "n_lines",
        F.round(
            F.col("total_hits") / F.col("n_lines").cast("double"), 6
        ).alias("hits_per_line"),
        F.when(F.row_number().over(wr) == 1, 1).otherwise(0).alias("chosen"),
    )
