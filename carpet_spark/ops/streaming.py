"""Category J — streaming ops (SURVEY.md §2.J).

Engine path: Structured Streaming (readStream → watermark → windowed agg /
dedup → sink).  Event-time logic is deterministic, so each op also has a
batch-equivalent formulation: the window/session assignment of a row
depends only on its own timestamp (and its user's timeline), never on
arrival order — that twin is what the DuckDB oracle checks.  True
incremental semantics (late-data drops, state eviction) are exercised in
tests/test_streaming.py with rate-limited availableNow runs.

Scale notes: tumbling/sliding aggs shuffle on (window, key) — state per
key×window is bounded and evicted by the watermark; session windows use
SessionWindowStateStoreSaveExec with per-user state merged on gap overlap.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..exprs import dsum, sql_dsum
from ..registry import register
from ..tables import load
from .scans import _sink_path, _sink_root


@register(
    "stream_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS wstart, event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window per event_type (batch twin of the streaming
    agg — F.window works identically on batch DataFrames).  Epoch-aligned
    buckets ≡ date_trunc('hour') [verified SURVEY §2.J]."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(F.col("w.start").alias("wstart"), "event_type", "n_events", "sum_value")
    )


@register(
    "stream_sliding",
    oracle=f"""
    WITH expanded AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts)
               - k * (INTERVAL '15 minutes') AS wstart,
             event_type, value
      FROM events CROSS JOIN (SELECT unnest(range(4)) AS k)
    )
    SELECT wstart, event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM expanded
    GROUP BY 1, 2
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 min: each event lands in exactly 4
    epoch-aligned windows.  The oracle explodes each event into its 4
    covering buckets (time_bucket is epoch-aligned for sub-day intervals —
    probed: 10:37 → 10:30)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(F.col("w.start").alias("wstart"), "event_type", "n_events", "sum_value")
    )


@register(
    "stream_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    islands AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, session_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-min inactivity gap.  Engine path:
    F.session_window (state-store merged sessions in streaming; works on
    batch too).  Oracle: classic gaps-and-islands.  Spark's session end =
    last event + gap [verified SURVEY §2.J]."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def _scratch_dir() -> str:
    """Base dir for THROWAWAY streaming checkpoints (one-shot availableNow
    queries into memory sinks; unique per run, never resumed).  Under a
    ``local[*]`` master prefer the tmpfs when one exists — the HDFS-backed
    state store fsyncs per-batch delta files, and putting that on
    page-cache-backed tmpfs cut the stream-stream join 6.7 -> 5.0 s at
    sf0.1 (r11, guide §5/§6).  On any NON-local master the default is the
    ordinary temp dir, NOT node-local tmpfs: checkpoint state must be
    visible to every node of a cluster, and even throwaway availableNow
    state-store files are read back by downstream batches (r12, VERDICT
    item 7).  A real deployment's RESUMABLE checkpoints belong on durable
    shared storage — override via SPARK_GRAFT_CKPT_DIR either way.
    Callers put their checkpoints in ``scans._sink_root(_scratch_dir())``,
    a per-process dir under this base removed at interpreter exit, so
    tmpfs checkpoints do not pile up in RAM."""
    env = os.environ.get("SPARK_GRAFT_CKPT_DIR")
    if env:
        return env
    from pyspark.sql import SparkSession

    # getActiveSession is THREAD-local — a driver thread that didn't
    # create the session would silently lose the tmpfs fast path, so fall
    # back to the process-wide instantiated session
    s = SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None
    )
    master = s.sparkContext.master if s is not None else ""
    if master.startswith("local") and os.path.isdir("/dev/shm"):
        return "/dev/shm"
    return tempfile.gettempdir()


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (ns→µs normalized), one file per
    micro-batch capped — the file source is the deterministic stand-in for
    Kafka here; swap `format` for kafka in production."""
    from ..session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    # the file stream source requires a directory; stage the single events
    # file behind a symlink dir (zero-copy), one per sf_dir under the
    # per-process sink root, which is removed at exit
    import hashlib

    stage = os.path.join(
        _sink_root(),
        f"events_stream_{hashlib.sha256(sf_dir.encode()).hexdigest()[:16]}",
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), link)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = spark.readStream.schema(schema).parquet(stage)
    from ..tables import _normalize_event_ts, sanitize_events_values

    # same ingest contract as the batch loader: ns→µs ts + non-finite
    # metric values → NULL (tables.py module docstring)
    return sanitize_events_values(_normalize_event_ts(raw))


def _run_available_now(
    stream_df: DataFrame, query_name: str, mode: str = "append"
) -> DataFrame:
    """Drive a streaming query to completion with the availableNow trigger
    and return the materialized memory-sink table.

    One bounded retry for the transient worker-spawn failure class
    ("Python worker failed to connect back"): on an oversubscribed host
    (the 8-way sharded suite; any busy production node) forking the
    Python planner/reader workers can miss the connect-back window even
    with the raised socket timeout (session.py).  The failed attempt's
    memory sink and checkpoint are discarded and the query re-runs from
    scratch, so the retry cannot double-emit; any other failure re-raises
    immediately — correctness errors must never be retried away."""
    spark = stream_df.sparkSession
    last_exc: Exception | None = None
    for attempt in range(2):
        ckpt = os.path.join(
            _sink_root(_scratch_dir()), f"ckpt_{query_name}_{uuid.uuid4().hex}"
        )
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            return spark.table(query_name)
        except Exception as e:  # noqa: BLE001 — filtered to one message class below
            # Spark 4.1.2 emits two messages for the same transient
            # worker-spawn failure: "... failed to connect back" and
            # "Timed out while waiting for the Python worker to connect
            # back" — match the shared suffix so both retry.
            if "connect back" not in str(e) or attempt == 1:
                raise
            last_exc = e
            q.stop()
    raise last_exc  # unreachable; keeps type-checkers honest


@register(
    "stream_dedup_watermark",
    # promoted rows-only -> hash (r06 VERDICT item 6, the stream_sliding /
    # stream_interval_join precedent): availableNow delivers the file in
    # ONE ordered batch, the first batch's watermark is epoch-zero so
    # nothing can be dropped as late, and event_id is unique in every
    # fixture — the emitted result provably equals the identity projection,
    # which IS the batch oracle.  Incremental duplicate-drop behavior
    # stays pinned in tests/test_streaming.py with multi-batch feeds.
    oracle="SELECT event_id, ts, user_id, event_type, value FROM events",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming run: dropDuplicatesWithinWatermark on
    event_id with a 1-hour watermark, driven to completion via availableNow
    into a memory sink.  On the (already-unique) events table this is an
    identity — hash-checked against the batch projection (ns→µs ts
    normalization matches DuckDB's own truncation, the scan_events_ns
    contract); injected-duplicate behavior is asserted in
    tests/test_streaming.py."""
    stream = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = stream.dropDuplicatesWithinWatermark(["event_id"])
    name = f"dedup_wm_{uuid.uuid4().hex[:8]}"
    out = _run_available_now(
        deduped.select("event_id", "ts", "user_id", "event_type", "value"), name
    )
    return out


@register(
    "stream_late_data",
    # promoted rows-only -> hash (r06 VERDICT item 6): one availableNow
    # batch + epoch-zero initial watermark means no row can be late, and
    # complete-mode emission surfaces every window — the result provably
    # equals the batch tumbling aggregate, which IS the oracle.
    # Genuinely-late drops stay pinned in tests/test_streaming.py with
    # out-of-order micro-batch feeds.
    oracle="""
    SELECT date_trunc('hour', ts) AS wstart, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming aggregate (1h tumbling, 1h allowed lateness)
    driven by availableNow.  With a single ordered file nothing is late, so
    this equals the batch tumbling agg — hash-checked against it;
    genuinely-late drops are exercised in tests/test_streaming.py with
    out-of-order micro-batches."""
    stream = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n_events")
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    return _run_available_now(agg, name, mode="complete")


@register(
    "stream_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND c.ts >= p.ts - INTERVAL '1 hour'
     AND c.ts <= p.ts
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of join_interval_events (r01 VERDICT item 7): a TRUE
    watermarked stream-stream inner join — purchases matched to the same
    user's clicks in the preceding hour, driven to completion via
    availableNow into a memory sink.

    Both sides carry a 2-hour watermark; with the equi key (user_id) plus
    the event-time band, Spark bounds each side's join state and evicts
    rows older than watermark - 1 h — the state-cleanup contract that makes
    stream-stream attribution viable on an unbounded stream.  The file
    source delivers everything in one availableNow batch, so the emitted
    append-mode result equals the batch interval join exactly — which is
    the hash oracle (same SQL as join_interval_events); incremental
    multi-batch behavior is exercised in tests/test_streaming.py.
    """
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "inner",
    ).select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
    name = f"ssjoin_{uuid.uuid4().hex[:8]}"
    return _run_available_now(joined, name)


@register(
    "stream_stateful_counter",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-user running event counter whose GroupState survives across
    micro-batches.  Driven to completion with availableNow; on the single
    ordered source the final state per user equals the batch GROUP BY —
    which is the hash oracle — while the state machinery itself (update,
    exists, cross-batch carry) is exercised in tests/test_streaming.py.

    Scale notes: state lives in the executor-local StateStore keyed by
    user_id — memory is O(|active keys|), not O(events); this is the
    building block for custom sessionization/CEP operators Spark lacks.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def count_events(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    stream = _events_stream(spark, sf_dir)
    counted = stream.groupBy("user_id").applyInPandasWithState(
        count_events,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"stateful_{uuid.uuid4().hex[:8]}"
    out = _run_available_now(counted, name, mode="update")
    # update mode re-emits a row per key per batch; keep the final count
    return out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@register(
    "stream_cdc_latest",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_type
    FROM (
      SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) ranked
    WHERE rn = 1
    """,
)
def stream_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of cdc_compact_latest: a per-user GroupState holding
    the (max ts, event_id, type) seen so far, updated every micro-batch —
    the change-stream → current-state materialized view.  availableNow
    drives the full file source; the final state equals the batch
    row_number()=1 snapshot, which is the oracle.  The (ts, event_id)
    tie-break is applied inside the state update so arrival order across
    batches never matters.

    Scale notes: state is O(|keys|) in the StateStore; output in update
    mode re-emits only changed keys per batch — exactly the delta a
    downstream sink needs."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def keep_latest(key, pdfs, state: GroupState):
        if state.exists:
            best_ts, best_id, best_type = state.get
        else:
            best_ts, best_id, best_type = -1, -1, ""
        for pdf in pdfs:
            for ts, eid, etype in zip(
                pdf["ts_us"], pdf["event_id"], pdf["event_type"]
            ):
                if (ts, eid) > (best_ts, best_id):
                    # keep a NULL event_type as NULL — str(None) would
                    # smuggle the literal string 'None' into the state
                    best_ts, best_id = int(ts), int(eid)
                    best_type = None if etype is None else str(etype)
        state.update((best_ts, best_id, best_type))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "last_event_id": [best_id],
                "last_type": [best_type],
                "ts_us": [best_ts],
            }
        )

    stream = _events_stream(spark, sf_dir).withColumn(
        "ts_us", F.unix_micros(F.col("ts"))
    )
    latest = stream.groupBy("user_id").applyInPandasWithState(
        keep_latest,
        outputStructType="user_id long, last_event_id long, last_type string, ts_us long",
        stateStructType="ts long, eid long, etype string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"cdclatest_{uuid.uuid4().hex[:8]}"
    out = _run_available_now(latest, name, mode="update")
    # update mode re-emits per batch; the row with the max (ts, event_id)
    # per user is the final state
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("last_event_id").desc()
    )
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "last_event_id", "last_type")
    )


def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet — _events_stream's staging
    pattern (symlink dir keyed on a stable digest of sf_dir)."""
    import hashlib

    from ..session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    stage = os.path.join(
        _sink_root(),
        f"docs_stream_{hashlib.sha256(sf_dir.encode()).hexdigest()[:16]}",
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/documents.parquet"), link)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return spark.readStream.schema(schema).parquet(stage)


@register(
    "stream_pretrain_prep",
    oracle="""
    WITH scored AS (
      SELECT doc_id, text, lang, len(string_split(text, ' ')) AS n_tok
      FROM documents WHERE lang = 'en'
    ),
    filtered AS (
      SELECT * FROM scored WHERE n_tok BETWEEN 25 AND 80
    )
    SELECT MIN(doc_id) AS doc_id, ANY_VALUE(n_tok) AS n_tok,
           COUNT(*) AS n_copies
    FROM filtered
    GROUP BY text
    """,
)
def stream_pretrain_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline_pretrain_prep as a TRUE Structured Streaming query: the
    documents corpus arrives as a stream; language filter + token-count
    quality gate run stateless per micro-batch; the exact-dedup groupBy on
    the sha256 digest is a stateful streaming aggregate (complete mode),
    driven to completion with availableNow into a memory sink.

    This is the continuous-ingest shape of a training-data pipeline: a
    crawler drops files, the stream folds them into the deduped corpus
    incrementally — no batch recompute of already-seen documents.  The
    digest keyed state is 32 bytes + counters per UNIQUE doc; on an
    unbounded crawl you'd bound it with dropDuplicatesWithinWatermark on
    an ingest-time column instead (stream_dedup_watermark shows that).
    File-source delivery order doesn't affect the result (MIN/count are
    order-insensitive), so the emitted table equals the batch pipeline —
    the identical hash oracle."""
    stream = _documents_stream(spark, sf_dir).filter(F.col("lang") == "en")
    scored = stream.withColumn("n_tok", F.size(F.split("text", " ")))
    filtered = scored.filter(F.col("n_tok").between(25, 80))
    deduped = (
        filtered.groupBy(F.sha2("text", 256).alias("_h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.first("n_tok").alias("n_tok"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("doc_id", "n_tok", "n_copies")
    )
    name = f"pretrain_{uuid.uuid4().hex[:8]}"
    return _run_available_now(deduped, name, mode="complete")


@register(
    "stream_sink_exactly_once",
    oracle="SELECT event_id, ts, user_id, event_type, value FROM events",
)
def stream_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exactly-once file sink via foreachBatch: each micro-batch
    overwrites its OWN directory keyed by batch_id, so a replayed batch
    (post-crash restart from the checkpoint) lands idempotently instead of
    duplicating — the production pattern for non-transactional sinks.  The
    read-back of everything written must equal the source exactly (identity
    oracle): a lost, duplicated, or mangled row anywhere in
    stream→batch→write→read fails the hash.  Incremental replay behavior
    is exercised in tests/test_streaming.py's foreachBatch test."""
    stream = _events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out = _sink_path(spark, f"stream_sink_{uuid.uuid4().hex[:12]}")
    ckpt = os.path.join(out, "_ckpt")

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(os.path.join(out, f"batch={batch_id}"))

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def _twstate_available() -> bool:
    """transformWithStateInPandas drives its executor<->Python state server
    over protobuf; this container ships a broken google.protobuf (no
    descriptor module, verified by running the op: the micro-batch dies
    with ImportError inside the worker).  Gate registration on the probe —
    same honest-stub policy as the multimodal codecs (multimodal.py) — so
    environments WITH protobuf get the op and this one doesn't ship a
    guaranteed-red correctness row.  applyInPandasWithState
    (stream_stateful_counter / stream_cdc_latest) covers arbitrary
    stateful streaming either way."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _register_if(cond: bool, name: str, oracle: str | None = None):
    if cond:
        return register(name, oracle=oracle)
    return lambda fn: fn


@_register_if(
    _twstate_available(),
    "stream_transform_with_state",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           MAX(value) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming via transformWithStateInPandas (the
    Spark 4.x successor to applyInPandasWithState): a StatefulProcessor
    holding per-user ValueState (event count + running max), updated each
    micro-batch.  Driven with availableNow; the final state equals the
    batch GROUP BY, which is the hash oracle (count and max are exact
    regardless of batch order — no float-sum drift).

    Scale notes: same StateStore economics as stream_stateful_counter —
    O(|active keys|) executor-local state — but the processor-object API
    adds typed named state, TTL, and timers, which is the surface a
    production CEP/sessionization operator builds on."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class CountMax(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self.state = handle.getValueState("agg", "n long, mx double")

        def handleInputRows(self, key, rows, timer_values):
            n, mx = (0, None)
            if self.state.exists():
                n, mx = self.state.get()
            for pdf in rows:
                n += len(pdf)
                bmx = float(pdf["value"].max()) if len(pdf) else None
                if bmx is not None and (mx is None or bmx > mx):
                    mx = bmx
            self.state.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
            )

        def close(self):
            pass

    stream = _events_stream(spark, sf_dir).select("user_id", "value")
    out_stream = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=CountMax(),
        outputStructType="user_id long, n_events long, max_value double",
        outputMode="Update",
        timeMode="None",
    )
    name = f"tws_{uuid.uuid4().hex[:8]}"
    out = _run_available_now(out_stream, name, mode="update")
    # update mode re-emits per key per batch; final state row wins
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("max_value").alias("max_value")
    )


@register(
    "stream_python_datasource",
    oracle="""
    SELECT i % 7 AS bucket, COUNT(*) AS n,
           CAST(SUM(i) AS BIGINT) AS sum_id
    FROM range(0, 2000) t(i)
    GROUP BY i % 7
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING source via the Python Data Source API
    (DataSourceStreamReader — the partition-planned executor-side variant,
    not SimpleDataSourceStreamReader, whose reads run on the driver): a
    deterministic tick source whose offsets are row positions.  The
    micro-batch planner calls latestOffset(), splits the [start, end)
    offset range into 8 InputPartitions, and each executor reads ONLY its
    slice; offsets are committed through the checkpoint exactly like a
    Kafka source's.  availableNow drains to the declared end and the
    memory-sink contents — every id exactly once — are aggregated
    batch-side, which is what the hash oracle checks.

    100 TB design: this is the shape of a real ingest connector (Kafka /
    CDC / object-store listing): driver plans offset ranges, executors
    fetch rows, exactly-once lands on offset commit + idempotent sink —
    source parallelism is splits x micro-batches with no driver data
    path."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    n_rows, n_splits = 2000, 8

    class RangePart(InputPartition):
        def __init__(self, lo, hi):
            self.lo, self.hi = lo, hi

    class TickReader(DataSourceStreamReader):
        def __init__(self, options):
            self.max_rows = int(options.get("maxRows", n_rows))
            self.splits = int(options.get("splits", n_splits))

        def initialOffset(self):
            return {"pos": 0}

        def latestOffset(self):
            return {"pos": self.max_rows}

        def partitions(self, start, end):
            lo, hi = start["pos"], end["pos"]
            step = max(1, (hi - lo + self.splits - 1) // self.splits)
            return [RangePart(a, min(a + step, hi)) for a in range(lo, hi, step)]

        def read(self, partition):
            for i in range(partition.lo, partition.hi):
                yield (i, i % 7)

        def commit(self, end):
            pass

    class TickStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "tickstream"

        def schema(self):
            return "id bigint, bucket bigint"

        def streamReader(self, schema):
            return TickReader(self.options)

    spark.dataSource.register(TickStreamSource)
    stream = (
        spark.readStream.format("tickstream")
        .option("maxRows", str(n_rows))
        .option("splits", str(n_splits))
        .load()
    )
    name = f"pyds_stream_{uuid.uuid4().hex[:8]}"
    out = _run_available_now(stream, name)
    return out.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.sum("id").alias("sum_id")
    )


@register(
    "stream_python_datasource_sink",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING sink via DataSourceStreamWriter — the fourth leg of
    the connector matrix (batch read / batch write / stream read / stream
    write).  Each micro-batch's tasks write uniquely-named JSON-lines part
    files and the driver-side ``commit(messages, batchId)`` publishes a
    per-batch manifest named by batchId — so a replayed batch (failure
    recovery) OVERWRITES its own manifest instead of double-counting:
    batchId-keyed idempotence, the exactly-once contract an external sink
    must implement.  Readers union only manifested parts.

    The op streams the events table through the sink with availableNow,
    reads back what was committed, and aggregates — hash-checked against
    the batch GROUP BY of the source table, proving no loss and no
    duplication through the sink protocol.

    100 TB design: writes are per-task and shuffle-free; commit work is
    O(|tasks|) per batch on the driver, the same economics as
    FileStreamSink's manifest log."""
    import glob as _glob
    import json
    from dataclasses import dataclass

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamArrowWriter,
        WriterCommitMessage,
    )

    out = _sink_path(spark, f"pyds_stream_sink_{uuid.uuid4().hex[:8]}")
    os.makedirs(out, exist_ok=True)

    @dataclass
    class PartCommit(WriterCommitMessage):
        path: str

    class JsonlStreamWriter(DataSourceStreamArrowWriter):
        # Arrow-batch stream writer (r12, VERDICT item 4 / guide §4):
        # micro-batch rows arrive as columnar RecordBatches instead of
        # per-row pickles; to_pylist() keeps schema column order, so the
        # emitted JSONL bytes are unchanged.
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            import uuid as _u

            part = os.path.join(self.path, f"part-{_u.uuid4().hex}.jsonl")
            with open(part, "w") as f:
                for batch in iterator:
                    for rec in batch.to_pylist():
                        f.write(json.dumps(rec) + "\n")
            return PartCommit(path=part)

        def commit(self, messages, batchId):
            # manifest keyed by batchId: a replayed batch overwrites its own
            # manifest — idempotent, never double-counted
            with open(os.path.join(self.path, f"_MANIFEST-{batchId}"), "w") as f:
                for m in messages:
                    if m is not None:
                        f.write(m.path + "\n")

        def abort(self, messages, batchId):
            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

    class JsonlStreamSink(DataSource):
        @classmethod
        def name(cls):
            return "jsonlsink"

        def streamWriter(self, schema, overwrite):
            return JsonlStreamWriter(self.options)

    spark.dataSource.register(JsonlStreamSink)
    stream = _events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    ckpt = os.path.join(
        _sink_root(_scratch_dir()), f"ckpt_pyds_sink_{uuid.uuid4().hex}"
    )
    q = (
        stream.writeStream.format("jsonlsink")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    parts = []
    for man in sorted(_glob.glob(os.path.join(out, "_MANIFEST-*"))):
        with open(man) as f:
            parts += [line.strip() for line in f if line.strip()]
    committed = spark.read.schema("event_id long, event_type string, value double").json(
        parts
    )
    return committed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
    )


@register(
    "stream_static_join",
    oracle="""
    SELECT e.event_id, e.ts, e.user_id, e.event_type,
           c.c_name, c.c_mktsegment
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: each incoming event picks up its
    customer's dimension attributes — the canonical streaming-ETL step
    (enrich-then-sink).  Stream-static joins are STATELESS in Structured
    Streaming: the static side is (re)broadcast per micro-batch and no
    join state accumulates, so this shape runs forever at constant
    memory — unlike stream-stream joins (stream_interval_join) whose
    state the watermark must bound.

    This is the deterministic batch twin (same plan shape); the
    incremental run is exercised in tests/test_streaming.py.  No forced
    hint: at 100 TB the static side is a true dim table — Catalyst
    broadcasts it while it fits the threshold, else a bucketed storage
    join; forcing the broadcast would OOM on a grown dim."""
    ev = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer")
    return ev.join(
        c, ev.user_id == c.c_custkey
    ).select("event_id", "ts", "user_id", "event_type", "c_name", "c_mktsegment")


@register(
    "stream_foreachbatch_upsert",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_type
    FROM (
      SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch MERGE idiom: Structured Streaming has no built-in
    upsert sink, so production pipelines materialize a keyed table by
    merging each micro-batch inside foreachBatch — here latest-event-
    per-user, the same target as stream_cdc_latest but maintained as a
    TABLE on storage rather than operator state.  Each batch: reduce the
    batch to its per-key latest, full-outer-merge with the current
    target version, write a NEW versioned directory, then commit by
    advancing a manifest pointer — read-path never sees a half-written
    version (the same two-phase shape as the Python-datasource sink's
    task manifest, and what Delta's MERGE does transactionally).

    Scale notes: per-batch work is one |batch-keys| shuffle plus a
    key-partitioned merge join against the target; versioned-dir +
    manifest gives atomic swap on any filesystem with atomic rename.
    Old versions are retained (time travel / vacuum policy out of
    scope).  Determinism: the (ts DESC, event_id DESC) tie-break makes
    the final table independent of batch boundaries — the batch oracle
    is the proof.

    Limitation: the manifest pointer is SINGLE-WRITER — safe here
    because one streaming query owns the target (Spark's own
    checkpoint lock enforces that), but two independent writers to
    one target would race the swap last-write-wins (USAGE.md)."""
    target = _sink_path(spark, f"upsert_target_{uuid.uuid4().hex[:8]}")
    os.makedirs(target, exist_ok=True)
    manifest = os.path.join(target, "_LATEST")

    def latest_per_user(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "event_type", "ts")
        )

    def upsert(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        delta = latest_per_user(batch)
        if os.path.exists(manifest):
            with open(manifest) as f:
                cur = sp.read.parquet(f.read().strip())
            merged = latest_per_user(cur.unionByName(delta))
        else:
            merged = delta
        vdir = os.path.join(target, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(vdir)
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            f.write(vdir)
        os.replace(tmp, manifest)  # atomic commit

    ckpt = os.path.join(
        _sink_root(_scratch_dir()), f"ckpt_upsert_{uuid.uuid4().hex}"
    )
    q = (
        _events_stream(spark, sf_dir)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not os.path.exists(manifest):
        # an empty source commits no batch — the target is a valid empty
        # table, not an error (same guard as the sink commit paths)
        return spark.createDataFrame(
            [], "user_id long, last_event_id long, last_type string"
        )
    with open(manifest) as f:
        final = spark.read.parquet(f.read().strip())
    return final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
    )


@register(
    "stream_checkpoint_resume",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    """,
)
def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume incrementality — the property that makes
    Structured Streaming viable at 100 TB: run one availableNow query
    over the first half of the data, land a SECOND file, then start a
    NEW query on the SAME checkpoint — the resumed run processes ONLY
    the new file (the checkpoint's file-source log remembers what was
    committed).  Both runs append via batch-id-keyed idempotent dirs
    (stream_sink_exactly_once's pattern, offset so the two runs never
    collide).  The identity oracle is the proof: if the resumed query
    re-read the first file, the duplicated rows would fail the driver's
    hash; if it missed the new file, the row count would.

    Scale: this is exactly how a daily 100 TB ingest works — each run
    bills only the new partitions, state lives in the checkpoint, and
    restart cost is O(new data), not O(history)."""
    base = _sink_path(spark, f"ckpt_resume_{uuid.uuid4().hex[:8]}")
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "_ckpt")
    os.makedirs(src, exist_ok=True)

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    schema = ev.schema
    # land the first half as file 1
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "f1"))

    def run(tag: int) -> None:
        def write_batch(df: DataFrame, batch_id: int) -> None:
            df.write.mode("overwrite").parquet(
                os.path.join(out, f"run={tag}_batch={batch_id}")
            )

        q = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(1)
    # second file arrives; the resumed query must pick up ONLY this one
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "f2"))
    run(2)
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema(schema)
        .parquet(out)
        .select("event_id", "user_id", "event_type")
    )


@register(
    "stream_multi_source_union",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(user_id) AS BIGINT) AS user_checksum
    FROM events
    GROUP BY event_type
    """,
)
def stream_multi_source_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source streaming topology: two independent file streams
    (staged as disjoint halves of the events feed — stand-ins for two
    Kafka topics / two regions) UNIONED into one streaming aggregation —
    the consolidation shape every multi-region pipeline needs, and
    where Structured Streaming quietly shines: each source keeps its own
    offsets in the one checkpoint, and the union is plan-level (no extra
    shuffle beyond the aggregate's own).

    The identity-style oracle (full per-type counts + user checksum)
    proves no row was lost or duplicated across the two sources' merge.

    Scale: sources scale independently (each source's file/partition
    discovery is its own); the downstream agg sees one logical stream.
    Watermarks propagate as the MIN across sources — a slow source
    holds back event-time progress, the documented cross-source
    caveat."""
    base = _sink_path(spark, f"multi_src_{uuid.uuid4().hex[:8]}")
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    schema = ev.schema
    for tag, pred in (("a", F.col("event_id") % 2 == 0),
                      ("b", F.col("event_id") % 2 == 1)):
        ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(base, f"src_{tag}")
        )
    s1 = spark.readStream.schema(schema).parquet(os.path.join(base, "src_a"))
    s2 = spark.readStream.schema(schema).parquet(os.path.join(base, "src_b"))
    merged = s1.unionByName(s2).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").cast("long").alias("user_checksum"),
    )
    name = f"multisrc_{uuid.uuid4().hex[:8]}"
    return _run_available_now(merged, name, mode="complete")


@register(
    "stream_windowed_topk",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS wstart, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT wstart, event_type, n_events,
             ROW_NUMBER() OVER (PARTITION BY wstart
                                ORDER BY n_events DESC, event_type NULLS LAST)
               AS rnk
      FROM hourly
    )
    SELECT wstart, rnk, event_type, n_events FROM ranked WHERE rnk <= 3
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 'trending now': top-3 event types per tumbling hour —
    the leaderboard shape (trending hashtags, hot products, noisiest
    services) run as a REAL readStream: the file source feeds a windowed
    count in complete mode (availableNow drives it to completion into
    the memory sink), and the rank-and-cut runs batch-side on the
    finalized windows — ranking inside the stream would need arbitrary
    stateful processing for no gain when the consumer is a dashboard
    reading closed windows.  Ties break on event_type so the top-3 set
    is deterministic in both engines.

    Scale (100 TB/day): the streaming agg keeps |windows|×|types| state
    rows (bounded); in production the memory sink becomes a Delta/
    foreachBatch sink and complete mode becomes update+watermark with
    the same downstream rank."""
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    done = _run_available_now(agg, f"wtopk_{uuid.uuid4().hex[:8]}", mode="complete")
    # NULLS LAST tie-break: Spark ASC would rank the NULL type ahead of
    # named types on count ties (oracle pins the same order)
    wr = Window.partitionBy("wstart").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc_nulls_last()
    )
    return (
        done.select(
            F.col("w.start").alias("wstart"), "event_type",
            F.col("n_events").cast("long").alias("n_events"),
        )
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select("wstart", "rnk", "event_type", "n_events")
    )


@register(
    "stream_alert_episodes",
    oracle="""
    WITH flagged AS (
      SELECT event_type, ts, event_id,
             CASE WHEN value > 60.0 THEN 1 ELSE 0 END AS hot
      FROM events
    ),
    runs AS (
      SELECT event_type, ts, event_id, hot,
             CAST(SUM(1 - hot) OVER (PARTITION BY event_type
               ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS grp
      FROM flagged
    ),
    episodes AS (
      -- first alert = the FIRST ROW IN (ts, event_id) ORDER, not the
      -- minimum id: ids are not monotone in event time (skew-sweep find —
      -- two interleaved producers), so MIN(event_id) can name a LATER
      -- alert than the one that actually paged
      SELECT event_type, grp,
             arg_min(event_id,
               lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 20, '0'))
               AS first_event_id,
             CAST(COUNT(*) AS BIGINT) AS episode_len
      FROM runs WHERE hot = 1
      GROUP BY event_type, grp
    )
    SELECT event_type, first_event_id, episode_len,
           episode_len - 1 AS n_suppressed
    FROM episodes
    """,
)
def stream_alert_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming alert suppression: consecutive over-threshold
    events (value > 60) collapse into ONE alert episode per event_type —
    page on the first event, suppress the rest until a cool event closes
    the episode — the dedup every alerting pipeline needs so a 40-minute
    incident is one page, not forty.  Implemented with
    applyInPandasWithState; rows sort by (ts, event_id) inside the
    batch before the episode scan.

    Batch-boundary semantics, stated honestly: the op runs the file
    source with availableNow = ONE ordered batch, so every episode —
    including the trailing open one — can be emitted and hash-checked
    against the batch gaps-and-islands oracle.  Under forced multi-batch
    feeding an episode spanning a boundary emits once per batch segment
    (state resets, it is not carried), because append-mode emission and
    carried state cannot both hold without retraction; the production
    continuous variant flips one line (hold the open episode in
    GroupState, emit on close/timeout) and trades away the trailing
    emission instead.  tests/test_streaming.py pins the two-batch
    cold-boundary case equal to the single-batch result.

    Scale notes: state is O(|alerting keys|) booleans+counters in the
    StateStore; output is one row per closed episode plus the trailing
    open one — exactly the paging stream."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def episodes(key, pdfs, state: GroupState):
        open_first, open_len = (
            (state.get[0], state.get[1]) if state.exists else (None, 0)
        )
        rows = []
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        # r12 (guide §4.2): the per-row iterrows scan cost ~2 s of pure
        # Python over the batch; episodes are RUNS of the hot flag, so one
        # vectorized boundary pass + a tiny loop over segments reproduces
        # the row loop exactly (a hot segment extends/opens the episode,
        # the first row of a cool segment closes it, later cool rows were
        # no-ops; NaN > 60.0 is False on both paths).
        import numpy as np

        vals = pdf["value"].to_numpy()
        ids = pdf["event_id"].to_numpy()
        hot = vals > 60.0
        n = len(hot)
        bounds = np.concatenate(
            ([0], np.flatnonzero(np.diff(hot.astype(np.int8)) != 0) + 1, [n])
        )
        for s, e in zip(bounds[:-1], bounds[1:]):
            if s == e:
                continue
            if hot[s]:
                if open_first is None:
                    open_first, open_len = int(ids[s]), int(e - s)
                else:
                    open_len += int(e - s)
            else:
                if open_first is not None:
                    rows.append((key[0], open_first, open_len, open_len - 1))
                    open_first, open_len = None, 0
        if open_first is not None:
            # trailing open episode: emit now (availableNow = final batch);
            # a continuous pipeline would hold it in state instead
            rows.append((key[0], open_first, open_len, open_len - 1))
            state.update((-1, 0))
        else:
            state.update((-1, 0))
        yield pd.DataFrame(
            rows,
            columns=[
                "event_type", "first_event_id", "episode_len", "n_suppressed"
            ],
        )

    stream = _events_stream(spark, sf_dir).select(
        "event_type", "ts", "event_id", "value"
    )
    out = stream.groupBy("event_type").applyInPandasWithState(
        episodes,
        outputStructType=(
            "event_type string, first_event_id long, "
            "episode_len long, n_suppressed long"
        ),
        stateStructType="first long, len long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"alertep_{uuid.uuid4().hex[:8]}"
    return _run_available_now(out, name, mode="append")
