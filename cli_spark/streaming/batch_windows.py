"""Event-time window operators over `events` — tumbling, sliding and
session windows, plus a *true* Structured Streaming run of the
tumbling aggregation wired into the graded surface.

The same `F.window` / `F.session_window` expressions serve batch and
streaming (SURVEY.md §2 note: the driver calls queries as batch, so
each streaming op also exists in batch form; q103 additionally runs
the real `readStream` micro-batch path and returns its memory-sink
result). True-streaming semantics (watermarks, late-data drops,
stateful processing) are covered by tests/test_streaming.py.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cli_spark.functions.determinism import (
    MONEY_SCALE,
    dsum,
    quantize,
    sql_dsum,
    ts_str,
)
from cli_spark.plans.registry import register
from cli_spark.session import materialize_local
from cli_spark.streaming.drain import (
    collect_memory_sink,
    drain_rows,
    replay_batch_rows,
    replay_file,
    replay_in_phases,
    replay_stream,
    run_stream,
)
from cli_spark.tables import events_stream, load_table


def _drain_memory_sink(
    spark: SparkSession, agg: DataFrame, prefix: str, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming aggregation over a bounded source to completion
    (`run_stream`) into a memory sink and return the materialized
    result (`collect_memory_sink` drops the sink's temp view).

    CONTRACT: callers must pass an AGGREGATED stream (windowed/keyed
    rollup) whose output cardinality is bounded by group count — the
    memory sink materializes the full result on the driver, so a
    per-event (non-aggregated) stream through this helper would be a
    driver OOM at scale. Per-event streams use a file/foreachBatch
    sink instead (see training.py::q160's keyed-table merge).

    The contract is ENFORCED, not trusted: the analyzed plan must
    contain an Aggregate node (all current callers are windowed/keyed
    rollups) or the helper refuses to start the query."""
    analyzed = agg._jdf.queryExecution().analyzed().toString()
    if "Aggregate" not in analyzed:
        raise ValueError(
            "_drain_memory_sink requires an AGGREGATED stream (its "
            "memory sink materializes the full result on the driver); "
            "route per-event streams through a file or foreachBatch "
            "sink instead. Analyzed plan has no Aggregate node:\n"
            + analyzed
        )
    sink_name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    run_stream(
        agg.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode(output_mode)
        .start()
    )
    return collect_memory_sink(spark, sink_name)


@register(
    "q100_tumbling_window",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {sql_dsum('value')} AS value_sum
FROM events
GROUP BY date_trunc('hour', ts)
""",
    tags=("streaming", "window", "headline"),
)
def q100_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time windows (batch form of the
    streaming aggregation — the same F.window expression works under
    readStream, see q103).

    The distinct-user count is computed as a TWO-LEVEL aggregation
    (groupBy (window, user_id) then groupBy window) instead of
    countDistinct: a single countDistinct mixed with plain aggregates
    makes Catalyst plan an Expand that duplicates every input row
    per aggregate family before the shuffle. The two-level form
    shuffles each (hour, user) combination once — map-side combine
    collapses a user's repeat events within an hour pre-shuffle — and
    the second aggregation runs on the already-tiny per-user relation.
    At 100 TB that halves shuffle volume on the widest stage.
    count("user_id") at level 2 counts non-null user groups, matching
    COUNT(DISTINCT user_id) null semantics exactly."""
    e = load_table(spark, sf_dir, "events")
    per_user = (
        e.groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(quantize(F.col("value"))).alias("qs"),
        )
    )
    return (
        per_user.groupBy("window")
        .agg(
            F.sum("c").alias("n_events"),
            F.count("user_id").alias("n_users"),
            (F.sum("qs").cast("double") / F.lit(float(10 ** MONEY_SCALE))).alias("value_sum"),
        )
        .select(
            ts_str(F.col("window.start")).alias("window_start"),
            "n_events",
            "n_users",
            "value_sum",
        )
    )


@register(
    "q101_sliding_window",
    oracle=f"""
WITH expanded AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) - i.i * (INTERVAL '15 minutes') AS ws,
         user_id, value
  FROM events
  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM expanded
GROUP BY ws
""",
    tags=("streaming", "window"),
)
def q101_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour length, 15-minute slide — every event
    lands in exactly 4 windows. Spark expands via the window operator;
    the oracle mirrors with an explicit ×4 cross join on 15-minute
    buckets."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("value_sum"),
        )
        .select(
            ts_str(F.col("window.start")).alias("window_start"),
            "n_events",
            "value_sum",
        )
    )


@register(
    "q102_session_windows",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, event_id, value,
         epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
         CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP)))
                   OVER (PARTITION BY user_id
                         ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) IS NULL
              OR epoch_us(CAST(ts AS TIMESTAMP))
                 - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                   OVER (PARTITION BY user_id
                         ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
                 > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
tagged AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM ordered
)
SELECT user_id,
       strftime(make_timestamp(min(t_us)), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(make_timestamp(max(t_us)) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM tagged
GROUP BY user_id, session_seq
""",
    tags=("streaming", "session"),
)
def q102_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap
    (F.session_window). Session end = last event + gap, matching the
    classic lag-gap-cumsum sessionization SQL the oracle runs.
    Spark MERGES an event at exactly gap distance (sessions join when
    next_ts <= prev_ts + gap; verified empirically on Spark 4.1 and
    pinned by tests/test_parity.py::test_session_gap_exactly_30min_
    half_open), so the oracle compares microsecond-truncated gaps
    with STRICT > — only a gap strictly beyond 30:00 starts a new
    session. Same convention as q124."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("value_sum"),
        )
        .select(
            "user_id",
            ts_str(F.col("session_window.start")).alias("session_start"),
            ts_str(F.col("session_window.end")).alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


@register(
    "q103_streaming_tumbling_true",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    tags=("streaming", "true_stream"),
)
def q103_streaming_tumbling_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured Streaming: readStream over the events parquet,
    watermarked tumbling aggregation, drained into a
    memory sink (complete mode), result returned as the sink table.

    The watermark is wider than the data's time span, so no row is
    late — the streaming result must exactly equal the batch oracle.
    Late-data-dropping behaviour is exercised in tests/test_streaming.py.
    """
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "365 days")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("value_sum"),
        )
        .select(
            ts_str(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )
    return _drain_memory_sink(spark, agg, "stream_result")


@register(
    "q124_streaming_session_true",
    oracle=f"""
WITH seq AS (
  SELECT user_id, value, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
         CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w IS NULL
               OR epoch_us(CAST(ts AS TIMESTAMP))
                  - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) ASC, event_id ASC)
),
mark AS (
  SELECT *, SUM(new_sess) OVER (
    PARTITION BY user_id ORDER BY t_us ASC, event_id ASC ROWS UNBOUNDED PRECEDING
  ) AS sess_no
  FROM seq
)
SELECT user_id,
       strftime(make_timestamp(min(t_us)), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM mark GROUP BY user_id, sess_no
""",
    tags=("streaming", "true_stream", "session"),
)
def q124_streaming_session_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming session windows: readStream over the events
    parquet, per-user 30-minute-gap session aggregation, drained
    into a memory sink (complete mode). The oracle is the classic
    batch sessionization (lag-gap → running session number) on
    MICROSECOND-truncated timestamps with a STRICT > gap test,
    matching Spark's session merge rule (an event at exactly gap
    distance continues the session; see q102).

    Streaming session state merges out-of-order events per key — at
    scale the shuffle is on user_id and state size is bounded by
    open sessions per key, with the watermark reaping closed ones."""
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "365 days")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("value_sum"),
        )
        .select(
            "user_id",
            ts_str(F.col("session_window.start")).alias("session_start"),
            "n_events",
            "value_sum",
        )
    )
    return _drain_memory_sink(spark, agg, "stream_sess")


@register(
    "q179_streaming_dedup_true",
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
    tags=("streaming", "true_stream", "dedup"),
)
def q179_streaming_dedup_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming deduplication: readStream over the events
    parquet, dropDuplicates on (user_id, event_type) — the stateful
    streaming dedup operator, whose state store holds one entry per
    distinct key pair — then a per-type census in complete mode. The
    result must equal batch COUNT(DISTINCT user_id) exactly.

    At scale the dedup state shuffles on the dedup key and is bounded
    by distinct-key cardinality, not stream volume; production streams
    bound it further with dropDuplicatesWithinWatermark (covered in
    tests/test_streaming.py, where late/expired behaviour is
    assertable)."""
    stream = events_stream(spark, sf_dir)
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    return _drain_memory_sink(spark, agg, "stream_dedup")


@register(
    "q214_streaming_enrichment_true",
    oracle=f"""
SELECT c.c_mktsegment AS mktsegment,
       COUNT(*) AS n_events,
       {sql_dsum('e.value')} AS value_sum
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
    tags=("streaming", "stream-static", "join"),
)
def q214_streaming_enrichment_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured Streaming stream-static enrichment: readStream
    over the events parquet, equi-joined against the STATIC customer
    dimension (the canonical "enrich the stream with the dim table"
    pattern — Spark re-plans the static side per micro-batch, so dim
    updates between batches are picked up), then a per-segment
    aggregation drained through the memory sink.

    The static side is broadcast (dim-sized); the streaming state is
    one row per market segment. This is the graded complement of
    tests/test_streaming.py's stream-static semantics test — the
    batch oracle must match exactly because every event joins (the
    generator draws user_id from the customer key range) and no
    watermark can drop rows from a complete-mode aggregation."""
    stream = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("value_sum"),
        )
    )
    return _drain_memory_sink(spark, agg, "stream_enrich")


@register(
    "q246_streaming_sliding_true",
    oracle=f"""
WITH expanded AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) - i.i * (INTERVAL '15 minutes') AS ws,
         value
  FROM events
  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM expanded
GROUP BY ws
""",
    tags=("streaming", "true_stream", "window"),
)
def q246_streaming_sliding_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured Streaming run of the SLIDING window aggregation
    (1-hour windows every 15 minutes — q101's streaming sibling, the
    same F.window expression under readStream): watermarked, drained
    through the memory sink in complete mode. Every event
    belongs to exactly 4 windows; the streaming state is one row per
    open window, and the watermark (wider than the data span) never
    drops a row, so the result must equal the ×4-expansion batch
    oracle exactly."""
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "365 days")
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("value_sum"),
        )
        .select(
            ts_str(F.col("window.start")).alias("window_start"),
            "n_events",
            "value_sum",
        )
    )
    return _drain_memory_sink(spark, agg, "stream_sliding")


@register(
    "q264_streaming_join_true",
    oracle=f"""
SELECT p.user_id,
       COUNT(*) AS n_pairs,
       {sql_dsum('e.value')} AS error_value_sum
FROM events p
JOIN events e
  ON e.user_id = p.user_id
 AND e.ts >= p.ts - INTERVAL '30 minutes'
 AND e.ts <= p.ts
WHERE p.event_type = 'purchase' AND e.event_type = 'error'
GROUP BY p.user_id
""",
    tags=("streaming", "true_stream", "stream-stream"),
)
def q264_streaming_join_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-STREAM interval join: two independent readStream
    instances over the events parquet (purchases, errors), inner-
    joined per user on an event-time interval (errors in the 30
    minutes before each purchase), drained through `drain_rows`'
    parquet sink — the q160 pattern, because a raw join's output is
    per-pair (unbounded) and so must land in a distributed sink, not
    a driver-resident memory table. Both sides carry watermarks (the
    state-cleanup contract a production stream-stream join needs);
    drained by `run_stream` every match emits within the run, so the
    per-user pair census over the sink equals the batch interval-join
    oracle exactly."""
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "365 days")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    errors = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .withWatermark("ts", "365 days")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("value").alias("e_value"),
        )
    )
    joined = purchases.join(
        errors,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 minutes"))
        & (F.col("e_ts") <= F.col("p_ts")),
    )
    with drain_rows(spark, joined) as pairs:
        result = (
            pairs.groupBy(F.col("p_user").alias("user_id"))
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                dsum(F.col("e_value")).alias("error_value_sum"),
            )
        )
        return materialize_local(result)


@register(
    "q271_streaming_multibatch_true",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    tags=("streaming", "true_stream", "multibatch"),
)
def q271_streaming_multibatch_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE MULTI-micro-batch streaming: the events table replayed
    through `drain.replay_stream` in ~20 batches of at least 500 rows
    (the single-file testdata otherwise arrives in ONE batch and
    cross-batch state accumulation never executes — q103's documented
    limitation), aggregated under complete mode so
    per-window state must accumulate correctly ACROSS batches. The
    result is read after the source reports exhaustion; complete-mode
    aggregation is batch-slicing-invariant, so it must equal the batch
    oracle exactly whatever the batch boundaries."""
    with replay_stream(
        spark, f"{sf_dir}/events.parquet", 20, min_rows=500
    ) as stream:
        agg = (
            stream.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum(F.col("value")).alias("value_sum"),
            )
            .select(
                ts_str(F.col("window.start")).alias("window_start"),
                "event_type",
                "n_events",
                "value_sum",
            )
        )
        return _drain_memory_sink(spark, agg, "replay_graded")


def _run_restart_recovery(
    spark: SparkSession, sf_dir: str, files_per_batch: int = 1
) -> tuple[DataFrame, dict]:
    """Shared engine for q310/q352: run the replayed windowed
    aggregation with a checkpoint, STOP it mid-stream, restart it from
    the same checkpoint, drain to exhaustion, and return (result,
    evidence). The stop is made by the input (`replay_in_phases`):
    phase 1 runs with only the files of batches 0 and 1 on disk, so it
    drains exactly rows [0, 2·batch_rows) and commits them; then the
    remaining batch files are cut into the same directory and phase 2
    restarts from the checkpoint, whose file-source log already holds
    batches 0 and 1, so it must start at ``logOffset`` 1 and read only
    the rest. Evidence records both phases' input row counts and the
    offset phase 2 started from, so tests can assert the restart
    really was a mid-stream recovery rather than a fresh start.
    ``files_per_batch`` > 1 (q352) cuts each batch into that many
    files, read together as one multi-partition micro-batch."""
    import json
    import shutil
    import tempfile
    import uuid as _uuid

    path = f"{sf_dir}/events.parquet"
    ckpt = tempfile.mkdtemp(prefix="cli_spark_ckpt_")
    # ~10 micro-batches at ANY scale factor, so the stop always lands
    # mid-stream
    n, batch_rows = replay_batch_rows(path, 10)

    def start(stream: DataFrame, name: str):
        agg = (
            stream.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum(F.col("value")).alias("value_sum"),
            )
            .select(
                ts_str(F.col("window.start")).alias("window_start"),
                "event_type",
                "n_events",
                "value_sum",
            )
        )
        return (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )

    def rows_read(query) -> int:
        return sum(p.numInputRows for p in query.recentProgress)

    evidence: dict = {"n": n, "batch_rows": batch_rows}
    try:
        with replay_in_phases(
            spark, path, 10, 2, files_per_batch=files_per_batch
        ) as (stream, cut_rest):
            # ---- phase 1: only batches 0 and 1 are on disk
            name1 = "restart_p1_" + _uuid.uuid4().hex[:8]
            q1 = start(stream, name1)
            run_stream(q1)
            spark.catalog.dropTempView(name1)
            evidence["phase1_rows"] = rows_read(q1)

            # ---- phase 2: the rest arrives; restart from the SAME
            # checkpoint and drain fully
            cut_rest()
            name2 = "restart_p2_" + _uuid.uuid4().hex[:8]
            q2 = start(stream, name2)
            run_stream(q2)
            evidence["phase2_rows"] = rows_read(q2)
            # the progress reports the offset as a dict's repr (single
            # quotes), not JSON; a fresh start reports none
            so = q2.recentProgress[0].sources[0].startOffset
            evidence["phase2_start_offset"] = (
                json.loads(so.replace("'", '"')) if so else None)
            out = collect_memory_sink(spark, name2)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return out, evidence


@register(
    "q310_streaming_restart_recovery",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    tags=("streaming", "true_stream", "checkpoint", "recovery"),
)
def q310_streaming_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming CHECKPOINT RECOVERY, graded (VERDICT r6 #8): the
    replayed event stream's windowed aggregation is started with a
    checkpoint directory, STOPPED after its first two committed
    micro-batches (a simulated driver crash; only those two batches'
    files exist in phase 1, which makes the stop point deterministic),
    then RESTARTED from the same checkpoint once the remaining batch
    files have arrived, and drained to exhaustion. The restarted query
    resumes from the file-source log offset recorded in the checkpoint
    with its state-store contents intact, so the final complete-mode
    result must equal the uninterrupted batch aggregation EXACTLY —
    any lost state undercounts, any replayed-and-recounted batch
    overcounts, so a bit-exact oracle match IS the exactly-once
    evidence. Offset
    resumption (not a silent from-zero rerun) is asserted separately
    in tests/test_streaming.py via the recovery evidence dict."""
    out, _evidence = _run_restart_recovery(spark, sf_dir)
    return out


@register(
    "q352_partitioned_restart_recovery",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    tags=("streaming", "true_stream", "checkpoint", "recovery",
          "datasource", "partitioned"),
)
def q352_partitioned_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint recovery × MULTI-PARTITION micro-batches (VERDICT r7
    #8): q310's kill/restart protocol over q330's layout, where every
    batch is 4 contiguous files read together as 4 scan tasks. A
    restart recovers the committed log offset from the checkpoint and
    the file source must plan only the files not yet in its log, 4 per
    batch, so resumption is exact even though no individual file or
    task is itself checkpointed. Bit-exact oracle match of the drained
    complete-mode aggregate is the exactly-once evidence — a file
    re-read after the crash overcounts, a skipped one undercounts."""
    out, _evidence = _run_restart_recovery(spark, sf_dir, files_per_batch=4)
    return out


@register(
    "q354_streaming_chained_windows",
    # Emission cut pinned empirically against Spark 4.1.2 (q279's
    # method): with an event-time-ORDERED replay (no drops at any
    # delay) and a 0-second watermark, the final no-data micro-batch
    # advances the watermark to the global max event time and both
    # stateful levels flush windows with end <= watermark
    # (non-strict). Hence: hour windows whose end <= max(ts) are
    # emitted; the hour containing max(ts) is not (unless max lies
    # exactly on an hour boundary, in which case the preceding hour's
    # 10-minute windows all finalize too — consistent on both sides).
    oracle=f"""
WITH mx AS (SELECT max(ts) AS m FROM events)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM events, mx
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= mx.m
GROUP BY date_trunc('hour', ts)
""",
    tags=("streaming", "true_stream", "chained", "multi_stateful"),
)
def q354_streaming_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming aggregations in ONE query (Spark
    3.4+ multiple-stateful-operator support, ungraded anywhere else
    in the registry): a 10-minute windowed pre-aggregation feeds an
    hourly rollup via `window_time()` — the production two-level
    pattern that keeps per-trigger state small (10-min partials) while
    serving a coarser SLA rollup, without running two queries or
    re-reading the stream. Both levels run in append mode with one
    event-time watermark; the replay delivers rows in EVENT TIME
    order (`replay_stream`'s ``order_by``), which makes the 0-second
    watermark drop-free, so the graded result is exactly the batch
    hourly census cut at the last finalized hour — any state lost
    between the chained operators, or a mis-propagated watermark,
    breaks the hash."""
    with replay_stream(
        spark, f"{sf_dir}/events.parquet", 10, order_by=("ts", "event_id")
    ) as stream:
        lvl1 = (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "10 minutes"))
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.sum(quantize(F.col("value")).cast("decimal(38,0)")).alias("qs"),
            )
        )
        lvl2 = (
            lvl1.groupBy(F.window(F.window_time("window"), "1 hour"))
            .agg(
                F.sum("c").alias("n_events"),
                (F.sum("qs").cast("double") / F.lit(float(10 ** MONEY_SCALE)))
                .alias("value_sum"),
            )
            .select(
                ts_str(F.col("window.start")).alias("window_start"),
                "n_events",
                "value_sum",
            )
        )
        return _drain_memory_sink(spark, lvl2, "chained", "append")


@register(
    "q279_streaming_watermark_drop",
    # The oracle SIMULATES Spark's batched watermark protocol exactly,
    # as pinned empirically against Spark 4.1.2 (see docstring):
    #   wm_reported(N) = runmax(batch max event time through N-1) - delay
    #   drop in batch N : window_end <= wm_reported(N-1)   [non-strict]
    #   emit (ever)     : window_end <= global_max - delay [non-strict]
    # Batch slicing is deterministic: rows replay ordered by
    # (md5(event_id), event_id) in ceil-sized batches mirrored below.
    oracle=f"""
WITH n AS (SELECT COUNT(*) AS cnt FROM events),
bsz AS (
  SELECT GREATEST(500, CAST(ceil(cnt / 40.0) AS BIGINT)) AS rows_per_batch FROM n
),
ordered AS (
  SELECT event_type, value,
         epoch_us(ts) AS ts_us,
         (epoch_us(ts) // 3600000000) * 3600000000 AS win_start_us,
         (epoch_us(ts) // 3600000000) * 3600000000 + 3600000000 AS win_end_us,
         row_number() OVER (ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
           AS rn
  FROM events
),
batched AS (
  SELECT o.*, (o.rn - 1) // b.rows_per_batch AS batch
  FROM ordered o CROSS JOIN bsz b
),
batch_max AS (
  SELECT batch, MAX(ts_us) AS bmax FROM batched GROUP BY batch
),
thresholds AS (
  SELECT batch,
         MAX(bmax) OVER (ORDER BY batch
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           - 7200000000 AS drop_thr
  FROM batch_max
),
kept AS (
  SELECT r.win_start_us, r.event_type, r.value
  FROM batched r JOIN thresholds t ON r.batch = t.batch
  WHERE t.drop_thr IS NULL OR r.win_end_us > t.drop_thr
),
final_wm AS (SELECT MAX(ts_us) - 7200000000 AS wm FROM ordered)
SELECT strftime(to_timestamp(k.win_start_us // 1000000), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       k.event_type,
       COUNT(*) AS n_events,
       {sql_dsum('k.value')} AS value_sum
FROM kept k CROSS JOIN final_wm f
WHERE k.win_start_us + 3600000000 <= f.wm
GROUP BY k.win_start_us, k.event_type
""",
    tags=("streaming", "true_stream", "watermark", "late_data"),
)
def q279_streaming_watermark_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming watermark semantics, GRADED: events are
    re-ordered by (md5(event_id), event_id) — an adversarial arrival
    order where event time is uncorrelated with arrival — replayed in
    deterministic micro-batches through the `replay` DataSource, and
    aggregated per (1 h window, event_type) under a 2-hour watermark
    in APPEND mode. Late rows really are dropped and finalized windows
    really are evicted, across ~40 real micro-batches.

    The oracle replays Spark's watermark protocol in SQL, pinned by
    experiment against Spark 4.1.2 (three boundary probes, this
    session): the reported watermark of batch N is the running max
    event time through batch N-1 minus the delay; the LATE-ROW FILTER
    of batch N uses the watermark reported with batch N-1 (one batch
    of extra lag — a row arriving in the batch right after its
    window's eviction threshold was reached is still merged); both
    the drop and the final-emission comparisons are non-strict on
    window end. Because the drop threshold lags eviction by exactly
    one batch, an evicted window can never re-form — the append sink
    holds at most one row per group, which is what makes this
    exactly-graded.

    Scale shape: the scrambled replay fixture is a one-off test
    harness (repartition(1) + in-partition sort — no driver
    collect); the streaming plan itself is the production shape:
    watermarked source → windowed hash aggregation with RocksDB-able
    keyed state, bounded by live-window count, not stream length."""
    e = load_table(spark, sf_dir, "events")
    scrambled = e.select(
        "event_id",
        "ts",
        "event_type",
        "value",
        F.md5(F.col("event_id").cast("string")).alias("_k"),
    )
    with (
        replay_file(spark, scrambled, ("_k", "event_id"),
                    drop=("_k",)) as part,
        replay_stream(spark, part, 40, min_rows=500) as stream,
    ):
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum(F.col("value")).alias("value_sum"),
            )
            .select(
                ts_str(F.col("window.start")).alias("window_start"),
                "event_type",
                "n_events",
                "value_sum",
            )
        )
        return _drain_memory_sink(spark, agg, "wmdrop", "append")


@register(
    "q285_streaming_dedup_multibatch",
    oracle="""
WITH keyed AS (
  SELECT doc_id, lang, md5(substr(text, 1, 100)) AS h FROM documents
),
kept AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY h ORDER BY doc_id ASC) AS rn
  FROM keyed
)
SELECT lang,
       COUNT(*) AS n_unique,
       CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM kept WHERE rn = 1
GROUP BY lang
""",
    tags=("streaming", "true_stream", "dedup", "multibatch"),
)
def q285_streaming_dedup_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE cross-batch streaming dedup: documents replay through the
    `replay` DataSource in ~20 micro-batches and a stateful
    `dropDuplicates` on the 100-char-prefix hash (the boilerplate
    key — exact-text dups are zero in this corpus, prefix dups are
    real) emits each key's FIRST-seen row; duplicates arriving in
    LATER batches are suppressed by keyed state, which is the part a
    single-batch run never exercises (q179's documented limitation).
    Emitted rows flow through `drain_rows`' distributed parquet sink
    (per-row output is unbounded at scale — the memory-sink contract
    forbids it), and the per-language census of survivors is graded
    exactly: replay order is doc_id order, so first-seen ≡ min doc_id
    per key, which the oracle states as a keep-first window.

    ORDERING DEPENDENCY (ADVICE r6): when duplicates of a key CO-OCCUR
    in one micro-batch, `dropDuplicates` keeps whichever row its tasks
    encounter first — "first ≡ min doc_id" then holds only because each
    micro-batch is ONE file read as a single ordered scan partition and
    Spark's shuffle reads preserve per-mapper order, so the state store
    always meets the lower doc_id first. A multi-partition source voids
    that guarantee; the production form would pre-collapse each batch to
    its min-doc_id row per key (deterministic reduce) before the
    stateful dedup. The single-partition replay contract is asserted
    by this query's bit-exact oracle match across ~20 batches."""
    with replay_stream(
        spark, f"{sf_dir}/documents.parquet", 20, min_rows=50
    ) as stream:
        deduped = stream.select(
            "doc_id", "lang", F.md5(F.expr("substring(text, 1, 100)")).alias("h")
        ).dropDuplicates(["h"])
        with drain_rows(spark, deduped) as kept:
            result = kept.groupBy("lang").agg(
                F.count(F.lit(1)).alias("n_unique"),
                F.sum("doc_id").alias("doc_id_sum"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            return materialize_local(result)


@register(
    "q294_stateful_running_totals_graded",
    # Batch size mirrored from the Spark side (max(500, ceil(n/25)));
    # events.parquet row order IS event_id order (verified at every
    # sf), so the oracle reconstructs each event's micro-batch from
    # its row number and counts the distinct batches per user — the
    # cross-batch state evidence — while totals are plain censuses.
    oracle="""
WITH n AS (SELECT COUNT(*) AS cnt FROM events),
bsz AS (
  SELECT GREATEST(500, CAST(ceil(cnt / 25.0) AS BIGINT)) AS rows_per_batch FROM n
),
batched AS (
  SELECT e.user_id, e.value,
         (e.event_id) // b.rows_per_batch AS batch
  FROM events e CROSS JOIN bsz b
)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_cents,
       COUNT(DISTINCT batch) AS n_update_batches
FROM batched GROUP BY user_id
""",
    tags=("streaming", "true_stream", "stateful", "multibatch"),
)
def q294_stateful_running_totals_graded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED custom stateful operator (applyInPandasWithState): the
    events table replays in ~25 micro-batches and a GroupState keyed
    per user accumulates (event count, exact integer cents, update
    count) ACROSS batches, emitting the running value each time the
    key appears (update mode). The run is proven stateful, not
    re-aggregated: the driver keeps each user's LAST emission, whose
    update count must equal the number of distinct micro-batches that
    carried that user — reconstructed independently by the oracle
    from row numbers — while count/cents equal the batch census.
    State is integer cents, so cross-batch accumulation is exact and
    order-free.

    Scale shape: keys hash-shard across executors via the groupBy;
    state is one small row per user in the state store (RocksDB in
    production); per-batch output rides `drain_rows`' distributed
    parquet sink."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.window import Window as _Win

    def _update(key, batches: Iterator[pd.DataFrame], state: GroupState):
        cnt, cents, ub = state.get if state.exists else (0, 0, 0)
        for pdf in batches:
            cnt += len(pdf)
            cents += int(
                (pdf["value"].astype(float) * 100.0 + 0.5).apply(
                    lambda x: int(x // 1)
                ).sum()
            )
        ub += 1
        state.update((cnt, cents, ub))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [cnt],
                "value_cents": [cents],
                "n_update_batches": [ub],
            }
        )

    with replay_stream(
        spark, f"{sf_dir}/events.parquet", 25, min_rows=500
    ) as stream:
        totals = stream.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
            _update,
            outputStructType="user_id long, n_events long, value_cents long, "
            "n_update_batches long",
            stateStructType="cnt long, cents long, ub long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        with drain_rows(spark, totals, "update") as upd:
            # `ub` increases by 1 on every emission for a key, so a user's
            # last emission is the one with the largest n_update_batches
            last = (
                upd.withColumn(
                    "rn",
                    F.row_number().over(
                        _Win.partitionBy("user_id")
                        .orderBy(F.col("n_update_batches").desc())
                    ),
                )
                .filter(F.col("rn") == 1)
                .select("user_id", "n_events", "value_cents", "n_update_batches")
            )
            return materialize_local(last)


@register(
    "q306_streaming_topk_complete",
    oracle=f"""
SELECT user_id,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM events GROUP BY user_id
ORDER BY n_events DESC, user_id ASC
LIMIT 10
""",
    tags=("streaming", "true_stream", "topk", "multibatch"),
)
def q306_streaming_topk_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE-streaming top-K maintenance: the leaderboard query under
    complete output mode — per-user aggregation state accumulates
    across ~20 replay micro-batches and the sink re-ranks the top-10
    most active users after every batch (sort + limit are legal under
    complete mode precisely because the full aggregated state is
    re-emitted). The final sink content must equal the batch top-10
    exactly — complete-mode aggregation is batch-slicing-invariant
    and the rank has full tie-breaks. The memory sink holds K rows,
    not the keyed state, so the driver footprint is K regardless of
    user cardinality."""
    with replay_stream(
        spark, f"{sf_dir}/events.parquet", 20, min_rows=500
    ) as stream:
        ranked = (
            stream.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum(F.col("value")).alias("value_sum"),
            )
            .orderBy(F.col("n_events").desc(), F.col("user_id").asc())
            .limit(10)
        )
        return _drain_memory_sink(spark, ranked, "topk")


@register(
    "q318_streaming_outer_join_true",
    # Matched pairs equal the batch interval join (no drops: arrival
    # is near event-time order and the 2 h delay dominates disorder);
    # null-side emission follows Spark's outer-join state eviction,
    # pinned empirically on Spark 4.1.2: an unmatched left row emits
    # exactly when the FINAL global watermark — the MIN of the two
    # sources' max event times minus the delay, reached via the
    # trailing no-data micro-batches — passes STRICTLY above its
    # latest possible match time (p_ts). Purchases at-or-above the
    # final watermark stay in state and never emit; the oracle
    # reproduces that exact cut.
    oracle=f"""
WITH pur AS (
  SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
),
err AS (
  SELECT user_id AS e_user, ts AS e_ts, value AS e_value
  FROM events WHERE event_type = 'error'
),
inner_j AS (
  SELECT p.p_id, p.p_user, e.e_value
  FROM pur p JOIN err e
    ON e.e_user = p.p_user
   AND e.e_ts >= p.p_ts - INTERVAL 30 MINUTE
   AND e.e_ts <= p.p_ts
),
wm AS (
  SELECT LEAST((SELECT MAX(p_ts) FROM pur), (SELECT MAX(e_ts) FROM err))
         - INTERVAL 2 HOUR AS w
),
matched AS (
  SELECT p_user AS u, COUNT(*) AS n_pairs, {sql_dsum('e_value')} AS err_value_sum
  FROM inner_j GROUP BY p_user
),
unmatched AS (
  SELECT p.p_user AS u, COUNT(*) AS n_unmatched
  FROM pur p
  LEFT JOIN (SELECT DISTINCT p_id FROM inner_j) m ON p.p_id = m.p_id
  WHERE m.p_id IS NULL AND p.p_ts < (SELECT w FROM wm)
  GROUP BY p.p_user
)
SELECT COALESCE(a.u, b.u) AS user_id,
       COALESCE(a.n_pairs, 0) AS n_pairs,
       COALESCE(b.n_unmatched, 0) AS n_unmatched,
       COALESCE(a.err_value_sum, 0.0) AS err_value_sum
FROM matched a FULL OUTER JOIN unmatched b ON a.u = b.u
""",
    tags=("streaming", "true_stream", "outer_join", "watermark"),
)
def q318_streaming_outer_join_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-STREAM LEFT OUTER interval join — the hardest
    stateful join semantic: matches emit as both sides arrive across
    micro-batches, and an unmatched purchase emits its null row ONLY
    once the global watermark (min across both input streams) proves
    no future error can still match it. Both sides replay the events
    file through the `replay` DataSource in ~10 batches under a
    2-hour watermark; per-row join output is unbounded at scale, so
    it lands in `drain_rows`' distributed parquet sink (the q264
    contract), and the graded result is the per-user census of
    matched pairs and watermark-released null rows. Purchases above
    the final watermark are still in the join state when the stream
    ends — exactly as in production, where they'd emit on the next
    day's data — and the oracle reproduces that strict cut."""
    with (
        _stream_join_sides(spark, sf_dir) as (pur, err, cond),
        drain_rows(spark, pur.join(err, cond, "leftOuter")) as rows,
    ):
        matched = (
            rows.filter(F.col("e_user").isNotNull())
            .groupBy(F.col("p_user").alias("u"))
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                dsum(F.col("e_value")).alias("err_value_sum"),
            )
        )
        unmatched = (
            rows.filter(F.col("e_user").isNull())
            .groupBy(F.col("p_user").alias("u"))
            .agg(F.count(F.lit(1)).alias("n_unmatched"))
        )
        result = (
            matched.join(unmatched, "u", "full_outer")
            .select(
                F.col("u").alias("user_id"),
                F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
                F.coalesce("n_unmatched", F.lit(0)).alias("n_unmatched"),
                F.coalesce("err_value_sum", F.lit(0.0)).alias("err_value_sum"),
            )
        )
        return materialize_local(result)


@register(
    "q330_streaming_partitioned_source",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    tags=("streaming", "true_stream", "datasource", "partitioned"),
)
def q330_streaming_partitioned_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming over MULTI-PARTITION micro-batches: each of the
    ~10 batches is cut into 4 contiguous files, and the file source
    reads 4 files per trigger (`replay_stream(files_per_batch=4)`), so
    every batch runs as 4 scan tasks over disjoint row slices.
    Windowed complete-mode aggregation must equal the batch oracle
    exactly; correctness is batch-slicing- AND partition-slicing-
    invariant, so any row lost or duplicated at a file boundary breaks
    the hash."""
    with replay_stream(
        spark, f"{sf_dir}/events.parquet", 10, files_per_batch=4
    ) as stream:
        agg = (
            stream.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum(F.col("value")).alias("value_sum"),
            )
            .select(
                ts_str(F.col("window.start")).alias("window_start"),
                "event_type",
                "n_events",
                "value_sum",
            )
        )
        return _drain_memory_sink(spark, agg, "replay_part")


@register(
    "q331_streaming_idempotent_sink",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM events
GROUP BY date_trunc('hour', ts)
""",
    tags=("streaming", "true_stream", "exactly_once", "sink"),
)
def q331_streaming_idempotent_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once SINK semantics under failure — the other half of
    q310's recovery story: q310 proved the STATE recovers; here the
    sink is per-event foreachBatch parquet, and the crash-restart
    re-executes its in-flight micro-batch, so a naive append sink
    would double-write those rows. The sink is made idempotent the
    standard way (batch-id keyed dynamic partition overwrite: a
    replayed batch OVERWRITES its own partition instead of appending),
    and the graded census over everything on disk must equal the
    batch oracle exactly — any duplicated or lost batch breaks the
    hash. This is the pattern every production foreachBatch sink uses
    when the target store lacks transactions.

    Scale shape: per-batch writes are distributed parquet appends to
    one partition directory; the final census is an ordinary scan-agg
    over the sink. The crash is deterministic: phase 1's sink raises
    right after writing batch ``_Q331_CRASH_BATCH``, which is then
    offset-logged but never committed, so the restart always
    re-executes it (asserted in tests/test_streaming.py through
    `_run_idempotent_sink_recovery`'s evidence)."""
    out, _evidence = _run_idempotent_sink_recovery(spark, sf_dir)
    return out


# the batch q331's phase-1 sink fails on, after writing it
_Q331_CRASH_BATCH = 1


def _run_idempotent_sink_recovery(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict]:
    """q331's engine: returns (census, evidence) where evidence holds
    the batch id phase 1 crashed on and the batch ids phase 2 ran."""
    import shutil
    import tempfile

    from pyspark.errors import StreamingQueryException

    ckpt = tempfile.mkdtemp(prefix="cli_spark_idem_ckpt_")
    out_root = tempfile.mkdtemp(prefix="cli_spark_idem_out_")
    evidence: dict = {"crash_batch_id": _Q331_CRASH_BATCH, "phase2_batch_ids": []}

    def start(stream: DataFrame, sink):
        return (
            stream.select("event_id", "ts", "value")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_bid", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bid")
            .parquet(out_root + "/rows")
        )

    def crashing_sink(batch_df: DataFrame, batch_id: int) -> None:
        write(batch_df, batch_id)
        if batch_id == _Q331_CRASH_BATCH:
            raise RuntimeError(f"q331: simulated crash after writing batch {batch_id}")

    def recording_sink(batch_df: DataFrame, batch_id: int) -> None:
        evidence["phase2_batch_ids"].append(batch_id)
        write(batch_df, batch_id)

    try:
        with replay_stream(spark, f"{sf_dir}/events.parquet", 10) as stream:
            # phase 1: the sink crashes after writing the crash batch, so
            # that batch is in the offset log but not the commit log
            try:
                run_stream(start(stream, crashing_sink))
            except StreamingQueryException as exc:
                if "q331: simulated crash" not in str(exc):
                    raise
            else:
                raise RuntimeError("q331: phase 1 drained without the simulated crash")

            # phase 2: restart from the checkpoint; the in-flight batch
            # re-executes and OVERWRITES its own partition (idempotent)
            run_stream(start(stream, recording_sink))
        rows = spark.read.parquet(out_root + "/rows")
        result = (
            rows.groupBy(F.window("ts", "1 hour"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum(F.col("value")).alias("value_sum"),
            )
            .select(
                ts_str(F.col("window.start")).alias("window_start"),
                "n_events",
                "value_sum",
            )
        )
        out = materialize_local(result)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out_root, ignore_errors=True)
    return out, evidence


@register(
    "q337_backfill_live_merge",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {sql_dsum('value')} AS value_sum
FROM events
GROUP BY date_trunc('hour', ts)
""",
    tags=("streaming", "true_stream", "backfill", "lambda"),
)
def q337_backfill_live_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill + live-tail cutover — the lambda-architecture merge
    every pipeline runs when streaming starts against a table with
    history: the BATCH side owns the first 60% of events (by the
    replay order), the STREAM side replays from half a batch BEFORE
    the cutover (a deliberate overlap window — in production you
    always overlap rather than risk a gap): its batch files are cut
    from that row on, at the full file's batch size, so the tail's
    batches keep the same size as an unshifted replay's. Per-event
    rows land in a
    distributed parquet sink, and the union dedupes the overlap by
    event_id before the census. The graded result must equal the
    full-history batch aggregation exactly: a gap undercounts, an
    un-deduped overlap double-counts.

    Scale shape: the batch side is one bounded scan; the stream side
    is the replay contract; overlap dedup is an exact-key
    dropDuplicates on the unioned row-level relation (keyed shuffle);
    the census is the q100 two-level distinct shape."""
    path = f"{sf_dir}/events.parquet"
    n_rows, batch_rows = replay_batch_rows(path, 10)
    cutover = (n_rows * 6) // 10
    overlap_start = max(0, cutover - batch_rows // 2)

    # batch side: rows [0, cutover) in file order. The slice is cut by
    # an event_id THRESHOLD located with the q194 two-phase bucketed
    # rank (range-bucket census + per-bucket keyed window) — never a
    # global row_number over the fact rows (ADVICE r7): the only
    # windows are over the ≤1024-row bucket census and within buckets.
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window as _W

    bounds = ev.agg(
        F.min("event_id").alias("_lo"), F.max("event_id").alias("_hi")
    )
    bkt = (
        ev.select("event_id")
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_id",
            (
                (F.col("event_id") - F.col("_lo")) * 1024
                / (F.col("_hi") - F.col("_lo") + 1)
            ).cast("long").alias("_bucket"),
        )
    )
    census = bkt.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_c"))
    cum = census.select(
        "_bucket",
        (
            F.sum("_c").over(
                _W.orderBy("_bucket").rowsBetween(_W.unboundedPreceding, -1)
            )
        ).alias("_before"),
    ).fillna(0, subset=["_before"])
    granked = (
        bkt.join(F.broadcast(cum), "_bucket")
        .withColumn(
            "_grank",
            F.row_number().over(_W.partitionBy("_bucket").orderBy("event_id"))
            - 1 + F.col("_before"),
        )
    )
    probes = {
        int(r["_grank"]): int(r["event_id"])
        for r in granked.filter(
            F.col("_grank").isin(cutover, overlap_start)
        ).collect()  # two scalar threshold probes, never fact rows
    }
    cut_id, overlap_id = probes[cutover], probes[overlap_start]
    batch_part = ev.filter(F.col("event_id") < cut_id).select(
        "event_id", "ts", "user_id", "value"
    )

    # stream side: replay from BEFORE the cutover (overlap on purpose)
    with (
        replay_stream(spark, path, 10, start_row=overlap_start) as stream,
        drain_rows(spark, stream.select(
            "event_id", "ts", "user_id", "value")) as tail,
    ):
        # The merge is gap-free iff the file's replay order equals
        # event_id order (first `cutover` file rows = smallest
        # `cutover` ids). Assert it instead of assuming it (ADVICE
        # r7): the tail's files are cut from row `overlap_start`, so its
        # min event_id must be the id at rank overlap_start.
        tail_min = tail.agg(F.min("event_id")).collect()[0][0]
        if tail_min != overlap_id:
            raise ValueError(
                f"replay order != event_id order: tail starts at id "
                f"{tail_min}, rank-{overlap_start} id is {overlap_id}"
            )
        merged = batch_part.unionByName(tail).dropDuplicates(["event_id"])
        per_user = merged.groupBy(F.window("ts", "1 hour"), "user_id").agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(quantize(F.col("value"))).alias("qs"),
        )
        result = (
            per_user.groupBy("window")
            .agg(
                F.sum("c").alias("n_events"),
                F.count("user_id").alias("n_users"),
                (F.sum("qs").cast("double") / F.lit(float(10 ** MONEY_SCALE)))
                .alias("value_sum"),
            )
            .select(
                ts_str(F.col("window.start")).alias("window_start"),
                "n_events",
                "n_users",
                "value_sum",
            )
        )
        return materialize_local(result)


@register(
    "q338_streaming_checksum_sink",
    # The oracle recomputes the sink's 48-bit xor-fold (q119's hash48
    # machinery over event_id rendered as a string) plus the batch
    # count implied by the ceil-slicing construction.
    oracle="""
WITH n AS (SELECT COUNT(*) AS cnt FROM events),
h AS (
  SELECT CAST(bit_xor((
    """ + " + ".join(
        f"CAST(instr('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), {i + 1}, 1)) - 1 AS BIGINT) * {16 ** (11 - i)}"
        for i in range(12)
    ) + """
  )) AS BIGINT) AS checksum48 FROM events
)
SELECT CAST(ceil(n.cnt / ceil(n.cnt / 10.0)) AS BIGINT) AS n_batches,
       CAST(n.cnt AS BIGINT) AS total_rows,
       h.checksum48
FROM n CROSS JOIN h
""",
    tags=("streaming", "true_stream", "datasource", "sink"),
)
def q338_streaming_checksum_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Python DataSource WRITER (Spark 4
    `DataSourceStreamWriter`) — the stream-write cell of the
    custom-source API matrix (batch read, batch write, STREAM write):
    events replay in ~10 micro-batches into the
    checksum stream sink, whose executor tasks fold (count, 48-bit
    xor) commit messages and whose per-batch commit writes ONE
    manifest file named by batch id via atomic rename — a replayed
    batch overwrites its own manifest, so the sink is idempotent
    under crash-replay at the API level (the q331 pattern, moved
    into the DataSource contract). The graded readout folds the
    batch manifests: batch count, total rows, and the
    order/partition/batch-slicing-independent xor checksum must
    equal the oracle's recomputation over the events table."""
    import json as _json
    import os as _os
    import shutil
    import tempfile

    from cli_spark.sources.checksum_sink import register_checksum_sink

    register_checksum_sink(spark)
    out_root = tempfile.mkdtemp(prefix="q338_cks_")
    ckpt = tempfile.mkdtemp(prefix="q338_ckpt_")
    try:
        with replay_stream(spark, f"{sf_dir}/events.parquet", 10) as stream:
            run_stream(
                stream.select(F.col("event_id").cast("string").alias("k"))
                .writeStream.format("checksum")
                .option("path", out_root)
                .option("checkpointLocation", ckpt)
                .start()
            )
        total, acc, n_batches = 0, 0, 0
        for f in sorted(_os.listdir(out_root)):
            if not f.startswith("batch_"):
                continue
            j = _json.load(open(_os.path.join(out_root, f)))
            n_batches += 1
            total += j["row_count"]
            acc ^= j["checksum48"]
        return spark.createDataFrame(
            [(n_batches, total, acc)],
            "n_batches long, total_rows long, checksum48 long",
        )
    finally:
        shutil.rmtree(out_root, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


@register(
    "q370_streaming_full_outer_join",
    # Both null sides follow Spark 4.1.2's symmetric state eviction,
    # pinned empirically (q318's method, extended to the right side):
    # an unmatched LEFT row (purchase) emits when the final global
    # watermark — min of the two sources' max event times minus the
    # 2 h delay — passes STRICTLY above its latest possible match
    # time (p_ts); an unmatched RIGHT row (error) when it passes
    # strictly above e_ts + 30 min (the latest purchase it could
    # still join). Rows at-or-above the cut stay in state unemitted.
    oracle=f"""
WITH pur AS (
  SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
),
err AS (
  SELECT event_id AS e_id, user_id AS e_user, ts AS e_ts, value AS e_value
  FROM events WHERE event_type = 'error'
),
inner_j AS (
  SELECT p.p_id, p.p_user, e.e_id, e.e_user, e.e_value
  FROM pur p JOIN err e
    ON e.e_user = p.p_user
   AND e.e_ts >= p.p_ts - INTERVAL 30 MINUTE
   AND e.e_ts <= p.p_ts
),
wm AS (
  SELECT LEAST((SELECT MAX(p_ts) FROM pur), (SELECT MAX(e_ts) FROM err))
         - INTERVAL 2 HOUR AS w
),
matched AS (
  SELECT p_user AS u, COUNT(*) AS n_pairs, {sql_dsum('e_value')} AS err_value_sum
  FROM inner_j GROUP BY p_user
),
un_l AS (
  SELECT p.p_user AS u, COUNT(*) AS n_unmatched_purchases
  FROM pur p
  LEFT JOIN (SELECT DISTINCT p_id FROM inner_j) m ON p.p_id = m.p_id
  WHERE m.p_id IS NULL AND p.p_ts < (SELECT w FROM wm)
  GROUP BY p.p_user
),
un_r AS (
  SELECT e.e_user AS u, COUNT(*) AS n_unmatched_errors
  FROM err e
  LEFT JOIN (SELECT DISTINCT e_id FROM inner_j) m ON e.e_id = m.e_id
  WHERE m.e_id IS NULL AND e.e_ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
  GROUP BY e.e_user
)
SELECT COALESCE(a.u, l.u, r.u) AS user_id,
       COALESCE(a.n_pairs, 0) AS n_pairs,
       COALESCE(l.n_unmatched_purchases, 0) AS n_unmatched_purchases,
       COALESCE(r.n_unmatched_errors, 0) AS n_unmatched_errors,
       COALESCE(a.err_value_sum, 0.0) AS err_value_sum
FROM matched a
FULL OUTER JOIN un_l l ON a.u = l.u
FULL OUTER JOIN un_r r ON COALESCE(a.u, l.u) = r.u
""",
    tags=("streaming", "true_stream", "full_outer_join", "watermark"),
)
def q370_streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream FULL OUTER interval join (Spark 3.1+), the
    completion of the outer-join matrix q318 opened: BOTH sides hold
    symmetric state, matches emit as partners arrive across
    micro-batches, and each side's unmatched rows emit null-partner
    rows only when the global watermark proves no future partner can
    arrive — purchases once the watermark passes their own timestamp,
    errors once it passes the end of their 30-minute forward match
    window. Per-row output is unbounded at 100 TB, so it lands in
    `drain_rows`' distributed parquet sink and the graded result is
    the per-user census of pairs and both null-side families. Rows
    still inside the final watermark stay in state unemitted — the
    production steady-state — and the oracle reproduces both strict
    eviction cuts exactly."""
    with (
        _stream_join_sides(spark, sf_dir) as (pur, err, cond),
        drain_rows(spark, pur.join(err, cond, "fullOuter")) as rows,
    ):
        matched = (
            rows.filter(F.col("p_id").isNotNull() & F.col("e_id").isNotNull())
            .groupBy(F.col("p_user").alias("u"))
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                dsum(F.col("e_value")).alias("err_value_sum"),
            )
        )
        un_l = (
            rows.filter(F.col("e_id").isNull())
            .groupBy(F.col("p_user").alias("u"))
            .agg(F.count(F.lit(1)).alias("n_unmatched_purchases"))
        )
        un_r = (
            rows.filter(F.col("p_id").isNull())
            .groupBy(F.col("e_user").alias("u"))
            .agg(F.count(F.lit(1)).alias("n_unmatched_errors"))
        )
        result = (
            matched.join(un_l, "u", "full_outer")
            .join(un_r, "u", "full_outer")
            .select(
                F.col("u").alias("user_id"),
                F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
                F.coalesce("n_unmatched_purchases", F.lit(0))
                .alias("n_unmatched_purchases"),
                F.coalesce("n_unmatched_errors", F.lit(0))
                .alias("n_unmatched_errors"),
                F.coalesce("err_value_sum", F.lit(0.0)).alias("err_value_sum"),
            )
        )
        return materialize_local(result)


@register(
    "q371_statestore_reader",
    # The graded rows come from the CHECKPOINT STATE, not the sink:
    # after the stream drains, spark.read.format("statestore") opens
    # the last committed snapshot and its per-key aggregate buffers
    # must equal the batch group-by of the full table.
    oracle=f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * {10 ** MONEY_SCALE}) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events
GROUP BY event_type
""",
    tags=("streaming", "statestore", "observability", "spark4"),
)
def q371_statestore_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State Data Source (Spark 4.0 `statestore` format): the
    operational window into a streaming query's checkpoint — the tool
    for debugging hot keys, auditing state size, and seeding state
    migrations at 100 TB, where checkpoint state (not the sink) is
    the system of record. A multi-batch replay stream runs a per-type
    count + exact-cents sum aggregate against a checkpoint; after it
    drains, the checkpoint's LAST COMMITTED state snapshot is read
    back with `spark.read.format("statestore")` and the per-key
    HDFS-backed aggregation buffers (`value.count`, `value.sum`) are
    graded — bit-exactly — against the batch aggregate of the whole
    table. Any lost update, replayed batch, or partial-buffer flush
    in the state machinery breaks the hash; `state-metadata` is also
    asserted (operator name, partition count) so the checkpoint shape
    itself is part of the contract."""
    import shutil
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="q371_ckpt_")
    name = "ss_" + uuid.uuid4().hex[:8]
    try:
        with replay_stream(spark, f"{sf_dir}/events.parquet", 6) as stream:
            agg = stream.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * (10 ** MONEY_SCALE)).cast("long"))
                .alias("value_cents"),
            )
            run_stream(
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .start()
            )
        spark.catalog.dropTempView(name)
        md = spark.read.format("state-metadata").load(ckpt).collect()
        if len(md) != 1 or md[0]["operatorName"] != "stateStoreSave":
            raise ValueError(f"unexpected state metadata: {md}")
        state = (
            spark.read.format("statestore")
            .load(ckpt)
            .select(
                F.col("key.event_type").alias("event_type"),
                F.col("value.count").cast("long").alias("n_events"),
                F.col("value.sum").cast("long").alias("value_cents"),
            )
        )
        out = materialize_local(state)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


@register(
    "q383_streaming_pivot_foreachbatch",
    # Pivot is an unsupported operation ON a stream; the oracle is
    # the batch per-hour conditional-aggregation matrix the partial
    # merge must reconstruct exactly.
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_n,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_n,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_n,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup_n,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view_n,
       CAST(SUM(CAST(round(value * {10 ** MONEY_SCALE}) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
GROUP BY date_trunc('hour', ts)
""",
    tags=("streaming", "true_stream", "pivot", "foreachbatch"),
)
def q383_streaming_pivot_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PIVOT via the foreachBatch escape hatch — `pivot()`
    is an unsupported operation on a streaming DataFrame (its column
    set depends on data Spark hasn't seen), so the production pattern
    is: each micro-batch appends UN-pivoted partial aggregates
    (hour, event_type, count, cents) — a tiny, mergeable relation —
    and the pivot runs as a BATCH query over the accumulated
    partials, where the column set is closed. The graded result is
    the per-hour event-type matrix; splitting any hour across
    micro-batches tests that the partials actually merge (SUM of
    COUNTs), and the oracle is the direct batch pivot. This is the
    general recipe for every streaming-unsupported operator (pivot,
    global sort, percentile): stream the mergeable sufficient
    statistic, finish the non-mergeable shape in batch."""
    import shutil
    import tempfile

    out_root = tempfile.mkdtemp(prefix="q383_pivot_")
    try:
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            partial = batch_df.groupBy(
                F.date_trunc("hour", "ts").alias("h"), "event_type"
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("value") * (10 ** MONEY_SCALE)).cast("long")
                ).alias("cents"),
            )
            partial.write.mode("append").parquet(f"{out_root}/partials")

        with replay_stream(spark, f"{sf_dir}/events.parquet", 8) as stream:
            run_stream(stream.writeStream.foreachBatch(sink).start())
        partials = spark.read.parquet(f"{out_root}/partials")
        types = ["click", "error", "purchase", "signup", "view"]
        pivoted = (
            partials.groupBy("h")
            .pivot("event_type", types)
            .sum("n")
            .na.fill(0, types)
        )
        cents = partials.groupBy("h").agg(F.sum("cents").alias("total_cents"))
        result = pivoted.join(cents, "h").select(
            ts_str(F.col("h")).alias("window_start"),
            F.col("click").cast("long").alias("click_n"),
            F.col("error").cast("long").alias("error_n"),
            F.col("purchase").cast("long").alias("purchase_n"),
            F.col("signup").cast("long").alias("signup_n"),
            F.col("view").cast("long").alias("view_n"),
            F.col("total_cents").cast("long").alias("total_cents"),
        )
        out = materialize_local(result)
    finally:
        shutil.rmtree(out_root, ignore_errors=True)
    return out


@register(
    "q386_streaming_scd2_enrichment",
    # Oracle closed-forms the version lookup: version = 10-day slot
    # since 2024-01-01, tier = (user_id + version) % 3 — the same
    # derivation that built the dimension, reached WITHOUT the join.
    oracle=f"""
WITH enr AS (
  SELECT (user_id + (epoch_us(ts) - 1704067200000000) // 864000000000) % 3
           AS tier,
         value
  FROM events
  WHERE epoch_us(ts) >= 1704067200000000
    AND (epoch_us(ts) - 1704067200000000) // 864000000000 < 36
)
SELECT CAST(tier AS BIGINT) AS tier,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM enr GROUP BY tier
""",
    tags=("streaming", "true_stream", "scd2", "stream_static", "asof"),
)
def q386_streaming_scd2_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static AS-OF enrichment against an SCD2 dimension — the
    production upgrade of q214's static join: the dimension has
    VERSIONED rows with validity intervals (36 ten-day user-tier
    versions from 2024-01-01, tier = (user_id + version) % 3), and
    each streamed event must pick the version valid AT ITS EVENT
    TIME: an equi-join on user_id with the interval predicate as
    residual, re-evaluated per micro-batch — Spark re-broadcasts the
    dimension every batch, so a dimension update between batches is
    picked up, which is exactly why stream-static (not a snapshot
    join at job start) is the SCD2-correct pattern. Graded: per-tier
    census of the drained stream; the oracle closed-forms the version
    arithmetic and reaches the same numbers without any join."""
    BASE_US = 1704067200000000  # 2024-01-01 00:00:00 UTC
    SLOT_US = 864000000000      # 10 days
    users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id").distinct()
    )
    dim = (
        users.crossJoin(
            spark.range(36).select(F.col("id").alias("version"))
        )
        .select(
            "user_id",
            "version",
            (F.lit(BASE_US) + F.col("version") * F.lit(SLOT_US)).alias("from_us"),
            (F.lit(BASE_US) + (F.col("version") + 1) * F.lit(SLOT_US)).alias("to_us"),
            ((F.col("user_id") + F.col("version")) % 3).alias("tier"),
        )
    )
    with replay_stream(spark, f"{sf_dir}/events.parquet", 8) as src:
        stream = src.withColumn("t_us", F.unix_micros("ts"))
        enriched = stream.join(
            dim,
            (stream.user_id == dim.user_id)
            & (F.col("t_us") >= F.col("from_us"))
            & (F.col("t_us") < F.col("to_us")),
            "inner",
        ).select("tier", "value")
        agg = enriched.groupBy("tier").agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("value_sum"),
        )
        sink = _drain_memory_sink(spark, agg, "scd2")
    return sink.select(
        F.col("tier").cast("long").alias("tier"), "n_events", "value_sum"
    )


@register(
    "q387_session_window_dynamic_gap",
    # Dynamic-gap sessionization = union of per-event intervals
    # [ts, ts + gap): a new session opens when ts exceeds the running
    # max of all previous interval ends; session end = max end.
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us,
         CASE WHEN event_type = 'purchase' THEN 3600000000
              ELSE 1800000000 END AS gap_us,
         value
  FROM events
),
marked AS (
  SELECT *,
         CASE WHEN t_us > COALESCE(MAX(t_us + gap_us) OVER (
                PARTITION BY user_id ORDER BY t_us ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_sess
  FROM ev
),
sess AS (
  SELECT *, CAST(SUM(new_sess) OVER (
    PARTITION BY user_id ORDER BY t_us ASC, event_id ASC
    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_no
  FROM marked
)
SELECT user_id, sess_no,
       strftime(make_timestamp(MIN(t_us)), '%Y-%m-%d %H:%M:%S')
         AS session_start,
       strftime(make_timestamp(MAX(t_us + gap_us)), '%Y-%m-%d %H:%M:%S')
         AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM sess
GROUP BY user_id, sess_no
""",
    tags=("streaming", "session_window", "dynamic_gap"),
)
def q387_session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION WINDOWS WITH A DYNAMIC GAP (Spark 3.2+
    `session_window(ts, gap_expression)`): the session timeout is a
    per-EVENT expression — purchases hold a session open for 60
    minutes, everything else 30 — the production shape for behavioral
    sessionization where high-intent actions extend engagement
    windows (a fixed gap must pick one number and mis-sessionizes the
    other class). Semantics: each event spans [ts, ts+gap); sessions
    are the connected unions of overlapping spans, so session END is
    the max span end, not last-event-time + constant. The oracle
    replays exactly that union rule as a running-max gaps-and-islands
    pass; q102's fixed-gap sessions are the degenerate case. Same
    expression works under `readStream` with a watermark (q124's
    harness) — graded here in batch form for the exact census, one
    shuffle on user_id."""
    e = load_table(spark, sf_dir, "events")
    # gap must be CalendarIntervalType: a string-typed column works
    gap = F.when(F.col("event_type") == "purchase", F.lit("60 minutes")) \
        .otherwise(F.lit("30 minutes"))
    sw = e.groupBy(
        F.session_window(F.col("ts"), gap).alias("w"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("value_sum"),
    )
    from pyspark.sql.window import Window as _Wdg

    win = _Wdg.partitionBy("user_id").orderBy(F.col("w.start").asc())
    return sw.select(
        "user_id",
        F.row_number().over(win).cast("long").alias("sess_no"),
        ts_str(F.col("w.start")).alias("session_start"),
        ts_str(F.col("w.end")).alias("session_end"),
        "n_events",
        "value_sum",
    )


@register(
    "q391_rocksdb_statestore",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    tags=("streaming", "true_stream", "rocksdb", "statestore"),
)
def q391_rocksdb_statestore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming aggregation on the ROCKSDB STATE STORE
    (`RocksDBStateStoreProvider`) — the production state backend for
    large stateful jobs: HDFSBackedStateStoreProvider holds every
    version of state in executor HEAP (state size is memory-bounded
    and GC-hostile at 100 TB), while RocksDB keeps state off-heap on
    local SSD with incremental changelog checkpointing, which is why
    every large-scale deployment (and transformWithState) requires
    it. Graded, not just unit-tested: the events table is replayed in
    event-time order as six batch files (`replay_stream`, one file per
    trigger), so the hourly census accumulates across 6 micro-batches of
    RocksDB get/put/commit cycles — a wrong provider wiring, a lost
    RocksDB commit, or a version rollback breaks the bit-exact match
    with the batch oracle. The run asserts RocksDB custom metrics in
    the final progress (proof the provider actually served the
    stateful operator) and restores the session's provider conf."""
    import tempfile

    key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    with (
        tempfile.TemporaryDirectory(prefix="q391_rocksdb_",
                                    ignore_cleanup_errors=True) as tmp,
        replay_stream(spark, f"{sf_dir}/events.parquet", 6,
                      order_by=("ts", "event_id")) as stream,
    ):
        agg = stream.groupBy(
            F.window("ts", "1 hour"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("value_sum"),
        ).select(
            ts_str(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
        prev = spark.conf.get(key, None)
        spark.conf.set(key, rocksdb)
        try:
            name = f"q391_{uuid.uuid4().hex[:8]}"
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", tmp + "/ck")
                .start()
            )
            run_stream(q)
            committed = [p for p in q.recentProgress if p["numInputRows"] > 0]
            if len(committed) < 2:
                raise RuntimeError(
                    f"q391 expected multi-batch RocksDB run, got "
                    f"{len(committed)} data batches"
                )
            metrics = committed[-1]["stateOperators"][0].get("customMetrics", {})
            if not any("rocksdb" in k.lower() for k in metrics):
                raise RuntimeError(
                    "q391: no RocksDB custom metrics in progress — "
                    "state did not run on RocksDBStateStoreProvider"
                )
            out = collect_memory_sink(spark, name)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    return out


@register(
    "q395_streaming_file_sink",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM events
GROUP BY event_type
""",
    tags=("streaming", "true_stream", "file_sink", "exactly_once"),
)
def q395_streaming_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming FILE SINK with its `_spark_metadata`
    commit log — the exactly-once contract for writing a stream AS
    FILES (the lakehouse landing pattern; q331/q338 graded custom
    foreachBatch/DataSource sinks, this grades Spark's own). The
    sink records every committed file per batch in
    `_spark_metadata/`; a batch reader of the directory must use
    that log as the file index, NOT a directory listing — that is
    what makes task-crash orphan files invisible. Proved here, not
    assumed: after the drain an ORPHAN parquet file (a duplicated
    real output file, as a failed-then-retried task would leave) is
    planted in the output directory, and the graded read-back census
    still matches the batch oracle bit-exactly — a listing-based
    read would double-count the orphan's rows and break the hash.
    Multi-batch (`replay_stream`, ~10 micro-batches), append mode."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="q395_filesink_")
    out_dir = tmp + "/out"
    try:
        with replay_stream(spark, f"{sf_dir}/events.parquet", 10) as stream:
            run_stream(
                stream.select("event_id", "event_type", "value")
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", tmp + "/ck")
                .outputMode("append")
                .start()
            )
        if not os.path.isdir(out_dir + "/_spark_metadata"):
            raise RuntimeError("q395: file sink wrote no _spark_metadata log")
        # plant an orphan: copy a committed part file under an
        # uncommitted name — exactly what a crashed-then-retried task
        # leaves behind. The metadata-log file index must ignore it.
        parts = sorted(_glob.glob(out_dir + "/part-*.parquet"))
        if not parts:
            raise RuntimeError("q395: file sink produced no part files")
        shutil.copy(parts[0], out_dir + "/part-99999-orphan.c000.snappy.parquet")
        back = spark.read.parquet(out_dir)
        res = back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("value_sum"),
        )
        out = materialize_local(res)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@contextmanager
def _stream_join_sides(spark: SparkSession, sf_dir: str):
    """Purchase / error replay sides shared by the stream-stream
    join-type matrix (q318 outer, q370 full outer, q396 semi, q397
    anti, q414's state reader): each side replays the events file from
    its own directory in ~10 micro-batches with a 2-hour watermark, and
    ``(pur, err, cond)`` is yielded while both directories exist.
    Each side carries every column a caller reads; the callers
    aggregate named columns, so the extra ones change no result."""
    path = f"{sf_dir}/events.parquet"
    with (
        replay_stream(spark, path, 10) as pur_src,
        replay_stream(spark, path, 10) as err_src,
    ):
        pur = (
            pur_src.filter(F.col("event_type") == "purchase")
            .withWatermark("ts", "2 hours")
            .select(
                F.col("event_id").alias("p_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("value").alias("p_value"),
            )
        )
        err = (
            err_src.filter(F.col("event_type") == "error")
            .withWatermark("ts", "2 hours")
            .select(
                F.col("event_id").alias("e_id"),
                F.col("user_id").alias("e_user"),
                F.col("ts").alias("e_ts"),
                F.col("value").alias("e_value"),
            )
        )
        cond = (
            (F.col("e_user") == F.col("p_user"))
            & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 minutes"))
            & (F.col("e_ts") <= F.col("p_ts"))
        )
        yield pur, err, cond


@register(
    "q396_streaming_semi_join",
    oracle=f"""
WITH pur AS (
  SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts, value AS p_value
  FROM events WHERE event_type = 'purchase'
),
err AS (
  SELECT user_id AS e_user, ts AS e_ts
  FROM events WHERE event_type = 'error'
),
survivors AS (
  SELECT DISTINCT p.p_id, p.p_user, p.p_value
  FROM pur p JOIN err e
    ON e.e_user = p.p_user
   AND e.e_ts >= p.p_ts - INTERVAL 30 MINUTE
   AND e.e_ts <= p.p_ts
)
SELECT p_user AS user_id,
       COUNT(*) AS n_flagged,
       {sql_dsum('p_value')} AS flagged_value_sum
FROM survivors GROUP BY p_user
""",
    tags=("streaming", "true_stream", "semi_join", "watermark"),
)
def q396_streaming_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream LEFT SEMI join (Spark 3.4+): emit each
    purchase AT MOST ONCE as soon as SOME error from the same user
    lands in its 30-minute lookback window — the streaming
    existence-test (fraud-style flagging: "purchase preceded by an
    error"), distinct from inner (q318's shape would re-emit per
    match) and from outer (no null rows). State semantics: the left
    row is held until matched (then marked, never re-emitted) or
    evicted by the watermark; right rows are held only within the
    interval bound. Output is left-columns-only by definition —
    the grade censuses flagged purchases per user, which catches
    both failure modes: a per-match duplicate emission overcounts
    vs the DISTINCT oracle, a dropped match undercounts."""
    with (
        _stream_join_sides(spark, sf_dir) as (pur, err, cond),
        drain_rows(spark, pur.join(err, cond, "leftSemi")) as rows,
    ):
        res = rows.groupBy(F.col("p_user").alias("user_id")).agg(
            F.count(F.lit(1)).alias("n_flagged"),
            dsum(F.col("p_value")).alias("flagged_value_sum"),
        )
        return materialize_local(res)


@register(
    "q397_streaming_anti_join",
    # Anti rows follow the same strict left-side eviction cut pinned
    # for q318/q370's unmatched-left family: a purchase with no match
    # emits once the final global watermark — min of both sources'
    # max event times minus the 2 h delay — passes STRICTLY above its
    # latest possible match time (p_ts itself, since the error window
    # ends at the purchase). Rows at-or-above the cut stay in state.
    oracle=f"""
WITH pur AS (
  SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts, value AS p_value
  FROM events WHERE event_type = 'purchase'
),
err AS (
  SELECT user_id AS e_user, ts AS e_ts
  FROM events WHERE event_type = 'error'
),
matched AS (
  SELECT DISTINCT p.p_id
  FROM pur p JOIN err e
    ON e.e_user = p.p_user
   AND e.e_ts >= p.p_ts - INTERVAL 30 MINUTE
   AND e.e_ts <= p.p_ts
),
wm AS (
  SELECT LEAST((SELECT MAX(p_ts) FROM pur),
               (SELECT MAX(e_ts) FROM err)) - INTERVAL 2 HOUR AS w
)
SELECT p.p_user AS user_id,
       COUNT(*) AS n_clean,
       {sql_dsum('p.p_value')} AS clean_value_sum
FROM pur p
LEFT JOIN matched m ON p.p_id = m.p_id
WHERE m.p_id IS NULL AND p.p_ts < (SELECT w FROM wm)
GROUP BY p.p_user
""",
    tags=("streaming", "true_stream", "anti_join", "watermark"),
)
def q397_streaming_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream LEFT ANTI join (Spark 3.4+), completing the
    streaming join-type matrix (inner q318-shape / left+full outer
    q318+q370 / semi q396 / anti here): emit each purchase exactly
    once when the WATERMARK PROVES no error from that user can ever
    arrive in its 30-minute lookback — the streaming non-existence
    test ("purchase with a clean error history"), which is
    fundamentally watermark-gated: unlike semi, a match can only be
    disproven by time passing, never by data arriving. Spark has NO
    native streaming left-anti (`leftAnti` with a streaming right
    side raises AnalysisException, verified on 4.1.2), so the engine
    composes it the only semantics-preserving way: the watermarked
    LEFT OUTER interval join filtered to its null-partner rows —
    outer emits an unmatched left row exactly once, exactly when the
    watermark proves no partner can arrive, which IS the anti
    contract. Purchases still inside the final watermark remain in
    state unemitted (the production steady-state), and the oracle
    reproduces the strict eviction cut exactly — an early emission
    (before the watermark proof) would be a false positive on any
    fixture where the match arrives late."""
    with (
        _stream_join_sides(spark, sf_dir) as (pur, err, cond),
        drain_rows(spark, pur.join(err, cond, "leftOuter")
                   .filter(F.col("e_id").isNull())) as rows,
    ):
        res = rows.groupBy(F.col("p_user").alias("user_id")).agg(
            F.count(F.lit(1)).alias("n_clean"),
            dsum(F.col("p_value")).alias("clean_value_sum"),
        )
        return materialize_local(res)


@register(
    "q409_streaming_join_then_agg",
    # Emission cut follows q354's empirical pin: with an event-time-
    # ORDERED replay and 0-second watermarks on both join sides, the
    # final no-data batch advances the query watermark to
    # min(max purchase ts, max error ts) and the downstream hourly
    # aggregation flushes windows with end <= watermark (non-strict).
    oracle=f"""
WITH pur AS (
  SELECT user_id AS p_user, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
),
err AS (
  SELECT user_id AS e_user, ts AS e_ts, value AS e_value
  FROM events WHERE event_type = 'error'
),
pairs AS (
  SELECT p.p_ts, e.e_value
  FROM pur p JOIN err e
    ON e.e_user = p.p_user
   AND e.e_ts >= p.p_ts - INTERVAL 30 MINUTE
   AND e.e_ts <= p.p_ts
),
wm AS (
  SELECT LEAST((SELECT MAX(p_ts) FROM pur),
               (SELECT MAX(e_ts) FROM err)) AS w
)
SELECT strftime(date_trunc('hour', p_ts), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       COUNT(*) AS n_pairs,
       {sql_dsum('e_value')} AS err_value_sum
FROM pairs, wm
WHERE date_trunc('hour', p_ts) + INTERVAL 1 HOUR <= wm.w
GROUP BY date_trunc('hour', p_ts)
""",
    tags=("streaming", "true_stream", "multi_stateful", "join_then_agg"),
)
def q409_streaming_join_then_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM JOIN CHAINED INTO A WINDOWED AGGREGATION — the
    second multiple-stateful-operator pair (q354 chained agg->agg;
    this chains join->agg, the production "enrich then roll up"
    shape: match purchases to their error context as both streams
    arrive, and serve an hourly SLA census off the matched pairs,
    in ONE query with ONE state lifecycle instead of a join job, an
    intermediate topic, and an agg job). Both sides carry the same
    event-time watermark; matched pairs flow to the hourly window
    keyed on the PURCHASE time, and a window finalizes only when the
    watermark — propagated THROUGH the join — passes its end. A
    mis-propagated watermark (the classic multi-stateful bug Spark
    3.4 fixed) either flushes windows early (missing late-batch
    matches) or never flushes them; both break the bit-exact match
    with the drained-to-exhaustion oracle."""

    path, order = f"{sf_dir}/events.parquet", ("ts", "event_id")
    with (
        replay_stream(spark, path, 10, order_by=order) as pur_src,
        replay_stream(spark, path, 10, order_by=order) as err_src,
    ):
        pur = (
            pur_src.filter(F.col("event_type") == "purchase")
            .withWatermark("ts", "0 seconds")
            .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        )
        err = (
            err_src.filter(F.col("event_type") == "error")
            .withWatermark("ts", "0 seconds")
            .select(
                F.col("user_id").alias("e_user"),
                F.col("ts").alias("e_ts"),
                F.col("value").alias("e_value"),
            )
        )
        joined = pur.join(
            err,
            (F.col("e_user") == F.col("p_user"))
            & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 minutes"))
            & (F.col("e_ts") <= F.col("p_ts")),
            "inner",
        )
        hourly = (
            joined.groupBy(F.window("p_ts", "1 hour"))
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                dsum(F.col("e_value")).alias("err_value_sum"),
            )
            .select(
                ts_str(F.col("window.start")).alias("window_start"),
                "n_pairs",
                "err_value_sum",
            )
        )
        return _drain_memory_sink(spark, hourly, "joinagg", "append")


@register(
    "q411_streaming_fanout_sinks",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum,
       CAST(0 AS BIGINT) AS sink_divergence
FROM events
GROUP BY event_type
""",
    tags=("streaming", "true_stream", "foreachbatch", "fanout"),
)
def q411_streaming_fanout_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAN-OUT TO TWO SINKS from one foreachBatch — the production
    "write the lake AND the serving store" pattern, with the
    documented footgun pinned: `batch_df` is LAZY inside
    foreachBatch, so writing it twice re-executes the micro-batch
    lineage per sink (twice the IO; with a non-deterministic
    transform, DIVERGENT sinks). The correct form persists the batch
    frame, writes both sinks from the cached copy, then unpersists —
    exactly what this query does per micro-batch. Graded on three
    properties at once: sink A's census matches the batch oracle
    (no loss), and sink_divergence — the count of (event_type)
    census cells where A and B disagree, computed by full-outer
    joining the two sinks' censuses — must be exactly 0 (the
    consistency contract fan-out exists to provide)."""
    import shutil
    import tempfile

    out_root = tempfile.mkdtemp(prefix="q411_fanout_")
    try:
        def fanout(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.persist()
            try:
                batch_df.write.mode("append").parquet(out_root + "/a")
                batch_df.write.mode("append").parquet(out_root + "/b")
            finally:
                batch_df.unpersist()

        with replay_stream(spark, f"{sf_dir}/events.parquet", 10) as stream:
            run_stream(
                stream.select("event_id", "event_type", "value")
                .writeStream.foreachBatch(fanout).start())

        def census(path: str, prefix: str) -> DataFrame:
            return spark.read.parquet(path).groupBy("event_type").agg(
                F.count(F.lit(1)).alias(f"{prefix}_n"),
                dsum(F.col("value")).alias(f"{prefix}_sum"),
            )

        a = census(out_root + "/a", "a")
        b = census(out_root + "/b", "b")
        joined = a.join(b, "event_type", "full_outer")
        diverged = joined.filter(
            ~(F.col("a_n").eqNullSafe(F.col("b_n"))
              & F.col("a_sum").eqNullSafe(F.col("b_sum")))
        ).count()
        res = joined.select(
            "event_type",
            F.col("a_n").alias("n_events"),
            F.col("a_sum").alias("value_sum"),
            F.lit(int(diverged)).cast("long").alias("sink_divergence"),
        )
        out = materialize_local(res)
    finally:
        shutil.rmtree(out_root, ignore_errors=True)
    return out


@register(
    "q414_statestore_join_reader",
    # State retention mirrors the emission cuts pinned in q318/q370:
    # a LEFT (purchase) row leaves join state when the final global
    # watermark — min of both sides' max event times minus the 2 h
    # delay — passes STRICTLY above p_ts; a RIGHT (error) row when it
    # passes strictly above e_ts + 30 min. Rows at-or-above the cut
    # are still buffered when the query stops, and THOSE are what the
    # statestore reader must see.
    oracle=f"""
WITH pur AS (
  SELECT ts AS p_ts FROM events WHERE event_type = 'purchase'
),
err AS (
  SELECT ts AS e_ts FROM events WHERE event_type = 'error'
),
wm AS (
  SELECT LEAST((SELECT MAX(p_ts) FROM pur),
               (SELECT MAX(e_ts) FROM err)) - INTERVAL 2 HOUR AS w
)
SELECT 'left' AS side,
       CAST((SELECT COUNT(*) FROM pur, wm WHERE p_ts >= wm.w) AS BIGINT)
         AS n_state_rows
UNION ALL
SELECT 'right',
       CAST((SELECT COUNT(*) FROM err, wm
             WHERE e_ts + INTERVAL 30 MINUTE >= wm.w) AS BIGINT)
""",
    tags=("streaming", "statestore", "join_state", "reader"),
)
def q414_statestore_join_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE READER over a STREAM-STREAM JOIN checkpoint (the
    `joinSide` option of the Spark 4 statestore source — q371 read
    an AGGREGATION's state; join state is the harder operational
    target because BOTH sides buffer rows and the watermark, not the
    data, decides retention): after a purchase x error interval join
    drains, each side's state store must hold EXACTLY the rows the
    final watermark has not yet released — the production
    steady-state inventory an operator inspects when join state
    balloons (the #1 stream-stream incident: a stalled source pins
    the watermark and the other side buffers forever). The graded
    census reads both sides' buffered-row counts from the checkpoint
    and they must equal the watermark-cut oracle exactly — a row
    evicted early would have broken q318/q370's output grades; a row
    retained past its cut shows up ONLY here, which is why the state
    reader is graded separately from the join output."""
    import shutil
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="q414_ckpt_")
    try:
        # the join rows are never read: only the checkpoint's state is
        with _stream_join_sides(spark, sf_dir) as (pur, err, cond):
            run_stream(
                pur.join(err, cond, "inner").writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .start()
            )
        left = (
            spark.read.format("statestore")
            .option("path", ckpt).option("joinSide", "left").load()
        )
        right = (
            spark.read.format("statestore")
            .option("path", ckpt).option("joinSide", "right").load()
        )
        rows = [("left", left.count()), ("right", right.count())]
        out = spark.createDataFrame(rows, "side string, n_state_rows long")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return out
