"""Structured Streaming semantics the batch-twin oracle can't see
(SURVEY §5): watermark late-drops and dedup-within-watermark, driven by a
file source with one file per micro-batch so the watermark advances
between batches deterministically.
"""

import os
import shutil
import tempfile
import uuid

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
    ]
)


def _mk_dirs():
    base = os.path.join(tempfile.gettempdir(), f"stream_test_{uuid.uuid4().hex[:8]}")
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)
    return base, src, ckpt


def _write_batch(spark, src: str, rows, n: int):
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    tmp = os.path.join(os.path.dirname(src), f"tmp{n}")
    df.write.mode("overwrite").parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    shutil.move(os.path.join(tmp, part), os.path.join(src, f"batch{n}.parquet"))


def _ts(s):
    import datetime

    return datetime.datetime.fromisoformat(s)


def test_dedup_within_watermark_drops_duplicates(spark):
    base, src, ckpt = _mk_dirs()
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    _write_batch(
        spark,
        src,
        [(1, _ts("2024-01-01 12:00:00"), "a"), (2, _ts("2024-01-01 12:10:00"), "a")],
        1,
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: duplicate id=1 within the watermark window + one new id
        _write_batch(
            spark,
            src,
            [(1, _ts("2024-01-01 12:05:00"), "a"), (3, _ts("2024-01-01 12:20:00"), "a")],
            2,
        )
        q.processAllAvailable()
        got = {r.event_id for r in spark.table(name).collect()}
        counts = spark.table(name).groupBy("event_id").count().collect()
        assert got == {1, 2, 3}
        assert all(r["count"] == 1 for r in counts), "duplicate id=1 not dropped"
    finally:
        q.stop()
        shutil.rmtree(base, ignore_errors=True)


def test_watermark_drops_late_rows(spark):
    base, src, ckpt = _mk_dirs()
    name = f"late_{uuid.uuid4().hex[:8]}"
    # batch 1 advances the watermark to 14:05 - 1h = 13:05
    _write_batch(
        spark,
        src,
        [(1, _ts("2024-01-01 12:05:00"), "a"), (2, _ts("2024-01-01 14:05:00"), "a")],
        1,
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 hour")
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: 11:30 is behind the 13:05 watermark -> dropped;
        # 14:30 is on time -> 14:00 window increments to 2
        _write_batch(
            spark,
            src,
            [(3, _ts("2024-01-01 11:30:00"), "a"), (4, _ts("2024-01-01 14:30:00"), "a")],
            2,
        )
        q.processAllAvailable()
        rows = spark.table(name).collect()
        by_window = {}
        for r in rows:  # update mode: later rows supersede earlier ones
            by_window[r.wstart.isoformat()] = r.n
        assert by_window.get("2024-01-01T11:00:00") is None, "late row not dropped"
        assert by_window["2024-01-01T14:00:00"] == 2
        assert by_window["2024-01-01T12:00:00"] == 1
    finally:
        q.stop()
        shutil.rmtree(base, ignore_errors=True)


def test_session_window_end_semantics(spark):
    """SURVEY §2.J probe as a regression test: session end = last event
    ts + gap."""
    import datetime

    rows = [
        (1, _ts("2024-01-01 00:00:00"), "a"),
        (2, _ts("2024-01-01 00:10:00"), "a"),
        (3, _ts("2024-01-01 01:00:00"), "a"),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("w.start", "w.end", "n")
        .orderBy("start")
        .collect()
    )
    assert len(out) == 2
    assert out[0].start == _ts("2024-01-01 00:00:00")
    assert out[0].end == _ts("2024-01-01 00:40:00")  # last event + 30 min
    assert out[0].n == 2
    assert out[1].start == _ts("2024-01-01 01:00:00")
    assert out[1].end == _ts("2024-01-01 01:30:00")
    assert out[1].n == 1


def test_stateful_counter_carries_state_across_batches(spark):
    """applyInPandasWithState: the count must accumulate across
    micro-batches, proving GroupState survives the batch boundary."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    base, src, ckpt = _mk_dirs()
    name = f"state_{uuid.uuid4().hex[:8]}"
    _write_batch(
        spark,
        src,
        [(1, _ts("2024-01-01 10:00:00"), "u1"), (2, _ts("2024-01-01 10:01:00"), "u1")],
        1,
    )

    def count_events(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"k": [key[0]], "n": [total]})

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .groupBy("event_type")
        .applyInPandasWithState(
            count_events,
            outputStructType="k string, n long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, src, [(3, _ts("2024-01-01 10:02:00"), "u1")], 2)
        q.processAllAvailable()
        ns = sorted(r.n for r in spark.table(name).collect())
        assert ns == [2, 3], f"state did not carry: {ns}"  # batch1=2, batch2=2+1
    finally:
        q.stop()
        shutil.rmtree(base, ignore_errors=True)


def test_stream_stream_interval_join(spark):
    """Stream-stream inner join with watermarks on both sides: purchases
    matched to the same user's clicks in the preceding hour (the streaming
    twin of the join_interval_events batch op)."""
    base, src, ckpt = _mk_dirs()
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    rows = [
        (1, _ts("2024-01-01 10:00:00"), "click"),
        (2, _ts("2024-01-01 10:30:00"), "purchase"),   # matches click 1
        (3, _ts("2024-01-01 12:00:00"), "click"),
        (4, _ts("2024-01-01 13:30:00"), "purchase"),   # click 3 too old: no match
    ]
    _write_batch(spark, src, rows, 1)
    # stream-stream joins REQUIRE an equality predicate (state is keyed by
    # it); derive a user key as the batch op does with user_id
    base_stream = spark.readStream.schema(SCHEMA).parquet(src)
    clicks = (
        base_stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            (F.col("event_id") / 10).cast("long").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        base_stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            (F.col("event_id") / 10).cast("long").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "inner",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        got = {(r.purchase_id, r.click_id) for r in spark.table(name).collect()}
        assert got == {(2, 1)}, got
    finally:
        q.stop()
        shutil.rmtree(base, ignore_errors=True)


def test_foreach_batch_idempotent_sink(spark):
    """foreachBatch exactly-once pattern: the sink writes each micro-batch
    into a batch_id-keyed parquet partition with dynamic partition
    overwrite, so a RETRIED batch (Spark re-invokes the function with the
    same batch_id after a failure) overwrites its own output instead of
    appending duplicates."""
    base, src, ckpt = _mk_dirs()
    out = os.path.join(base, "sink")
    _write_batch(
        spark,
        src,
        [(1, _ts("2024-01-01 10:00:00"), "a"), (2, _ts("2024-01-01 10:01:00"), "b")],
        1,
    )

    def write_idempotent(df, batch_id: int):
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out)
        )

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        stream.writeStream.foreachBatch(write_idempotent)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        first = spark.read.parquet(out).collect()
        assert {r.event_id for r in first} == {1, 2}

        # simulate Spark's retry-after-failure: the SAME batch is replayed
        # with the SAME batch_id — the sink must converge, not duplicate
        replay = spark.createDataFrame(
            [(1, _ts("2024-01-01 10:00:00"), "a"), (2, _ts("2024-01-01 10:01:00"), "b")],
            SCHEMA,
        )
        write_idempotent(replay, 0)
        after = spark.read.parquet(out).collect()
        assert len(after) == len(first) == 2, "retried batch duplicated rows"
        assert {r.event_id for r in after} == {1, 2}
    finally:
        q.stop()
        shutil.rmtree(base, ignore_errors=True)


def test_stream_static_join_incremental(spark, tmp_path):
    """stream_static_join's true incremental run: the stream side arrives
    as a readStream over the events parquet; every micro-batch row must
    pick up its customer attributes, and the total must equal the batch
    twin's count (stateless join — no rows buffered or dropped)."""
    sf = "/root/testdata/sf0.001"
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    # readStream needs a directory source; the fixture is a single file
    src = tmp_path / "ssj_src"
    src.mkdir()
    shutil.copy(f"{sf}/events.parquet", src / "events.parquet")
    ev_schema = spark.read.parquet(f"{sf}/events.parquet").schema
    stream = spark.readStream.schema(ev_schema).parquet(str(src))
    c = spark.read.parquet(f"{sf}/customer.parquet")
    import pyspark.sql.functions as F

    joined = stream.join(F.broadcast(c), stream.user_id == c.c_custkey).select(
        "event_id", "user_id", "c_name", "c_mktsegment"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from carpet_spark.registry import REGISTRY

    got = spark.table(name).count()
    want = REGISTRY["stream_static_join"].fn(spark, sf).count()
    assert got == want > 0
    spark.catalog.dropTempView(name)


def test_alert_episodes_two_batches_cold_boundary(spark):
    """stream_alert_episodes per-batch semantics: feeding the same rows
    in two micro-batches whose boundary falls in a COLD stretch yields
    exactly the single-batch episode set (no dupes, no splits)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    base, src, ckpt = _mk_dirs()
    name = f"alertep2_{uuid.uuid4().hex[:8]}"
    schema = "event_id long, ts timestamp, event_type string, value double"

    def w(rows, part):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    hot, cold = 99.0, 10.0
    t0 = _ts("2024-01-01 10:00:00")
    import datetime as dt

    def at(m):
        return t0 + dt.timedelta(minutes=m)

    # batch 1: episode of 2 hot, then cold (boundary is cold)
    w([(1, at(0), "x", hot), (2, at(1), "x", hot), (3, at(2), "x", cold)], 1)

    def episodes(key, pdfs, state: GroupState):
        open_first, open_len = None, 0
        rows = []
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        for _, r in pdf.iterrows():
            is_hot = r["value"] > 60.0
            if is_hot:
                if open_first is None:
                    open_first, open_len = int(r["event_id"]), 1
                else:
                    open_len += 1
            else:
                if open_first is not None:
                    rows.append((key[0], open_first, open_len, open_len - 1))
                    open_first, open_len = None, 0
        if open_first is not None:
            rows.append((key[0], open_first, open_len, open_len - 1))
        state.update((-1, 0))
        yield pd.DataFrame(
            rows,
            columns=["event_type", "first_event_id", "episode_len", "n_suppressed"],
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .groupBy("event_type")
        .applyInPandasWithState(
            episodes,
            outputStructType=(
                "event_type string, first_event_id long, "
                "episode_len long, n_suppressed long"
            ),
            stateStructType="first long, len long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a separate later episode of 3 hot then cold
        w(
            [
                (4, at(10), "x", hot),
                (5, at(11), "x", hot),
                (6, at(12), "x", hot),
                (7, at(13), "x", cold),
            ],
            2,
        )
        q.processAllAvailable()
        got = sorted(
            (r.first_event_id, r.episode_len, r.n_suppressed)
            for r in spark.table(name).collect()
        )
        assert got == [(1, 2, 1), (4, 3, 2)], got
    finally:
        q.stop()
        shutil.rmtree(base, ignore_errors=True)
