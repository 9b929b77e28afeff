"""Streaming surfaces, round 10: the multiple-watermark union policy,
event-time state timeouts, and the deterministic rate-micro-batch
source.

All three grade TRUE streaming runs (multi-micro-batch, real watermark
progression) against exact DuckDB oracles; watermark-dependent
emission cuts follow the empirical-pin method established by
q279/q354 (pin the <=/< boundary against Spark 4.1.2 with a dedicated
run, document it, encode it identically in the oracle).

q425 and q426 replay a bounded file and end through `run_stream`;
q427 and q444 read the unbounded rate-micro-batch source, so they stop
on a data predicate instead (see `drain.run_stream`).
"""

from __future__ import annotations

import time
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cli_spark.functions.determinism import (
    MONEY_SCALE,
    quantize,
    sql_dsum,
    ts_str,
)
from cli_spark.plans.registry import register
from cli_spark.session import materialize_local
from cli_spark.streaming.drain import (
    collect_memory_sink,
    replay_stream,
    run_stream,
)


@register(
    "q425_multiwatermark_union",
    # Emission cut pinned empirically (q354's method): the final
    # no-data micro-batch advances each side's watermark to (its own
    # max event time - its delay); the DEFAULT 'min' policy sets the
    # global watermark to the minimum across watermark operators, and
    # hour windows with end <= global watermark (non-strict) flush.
    # Side A (even event_id) has 0s delay, side B (odd) 2h, so the
    # global cut is min(max_ts_even, max_ts_odd - 2h).
    oracle=f"""
WITH wm AS (
  SELECT LEAST(
    (SELECT max(ts) FROM events WHERE event_id % 2 = 0),
    (SELECT max(ts) - INTERVAL 2 HOUR FROM events WHERE event_id % 2 = 1)
  ) AS cut
)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM events, wm
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.cut
GROUP BY date_trunc('hour', ts)
""",
    tags=("streaming", "true_stream", "watermark_policy", "union"),
)
def q425_multiwatermark_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPLE-WATERMARK POLICY (union of two watermarked streams,
    `spark.sql.streaming.multipleWatermarkPolicy`): the even-keyed
    half of events streams with a 0-second watermark, the odd half
    with a 2-HOUR watermark, and the union feeds one hourly append
    census. Under the DEFAULT 'min' policy the global watermark is
    the SLOWEST input's — correctness-first: no row that either side
    still considers on-time is ever finalized against, so the graded
    cut sits 2 hours behind the data's edge. The query then re-runs
    the identical plan under policy 'max' and asserts IN-QUERY that
    it finalizes strictly more hour windows (throughput-first, at
    the cost of dropping the slow side's stragglers) — the policy
    lever actually moving the result is the graded proof, not a conf
    echo. At 100 TB this is the fan-in shape of every multi-region
    ingest: one laggy region holds back finalization of the union
    exactly as graded here (and 'max' is how you trade its late data
    for latency). Both runs replay event-time-ordered, so the 'min'
    run is drop-free and bit-exact vs the oracle."""
    path, order = f"{sf_dir}/events.parquet", ("ts", "event_id")

    def census(policy: str) -> DataFrame:
        # one replay directory per side
        with (
            replay_stream(spark, path, 8, order_by=order) as even,
            replay_stream(spark, path, 8, order_by=order) as odd,
        ):
            u = (
                even.filter(F.col("event_id") % 2 == 0)
                .withWatermark("ts", "0 seconds")
                .unionByName(
                    odd.filter(F.col("event_id") % 2 == 1)
                    .withWatermark("ts", "2 hours"))
            )
            agg = (
                u.groupBy(F.window("ts", "1 hour"))
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    (F.sum(quantize(F.col("value")).cast("decimal(38,0)"))
                     .cast("double") / F.lit(float(10 ** MONEY_SCALE)))
                    .alias("value_sum"),
                )
                .select(
                    ts_str(F.col("window.start")).alias("window_start"),
                    "n_events",
                    "value_sum",
                )
            )
            key = "spark.sql.streaming.multipleWatermarkPolicy"
            prev = spark.conf.get(key, None)
            spark.conf.set(key, policy)
            try:
                name = f"q425_{policy}_{_uuid.uuid4().hex[:8]}"
                run_stream(
                    agg.writeStream.format("memory")
                    .queryName(name)
                    .outputMode("append")
                    .start()
                )
                return collect_memory_sink(spark, name)
            finally:
                if prev is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prev)

    min_out = census("min")
    max_out = census("max")
    n_min, n_max = min_out.count(), max_out.count()
    if n_max <= n_min:
        raise RuntimeError(
            f"q425: 'max' policy finalized {n_max} windows vs 'min' "
            f"{n_min} — the watermark policy had no effect"
        )
    return min_out


@register(
    "q426_state_event_time_timeout",
    # Session-expiry pin (verified empirically on 4.1.2): a pending
    # event-time timeout fires once the global watermark reaches
    # last_ts + gap (non-strict, wm >= timeout); the final no-data
    # batch advances the watermark to the global max event time, so
    # trailing sessions with last_ts + 30min <= max(ts) are emitted
    # and later ones stay open (lost) — mirrored in the oracle cut.
    oracle="""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id,
         ts
  FROM marked
),
agg AS (
  SELECT user_id, sess_id, COUNT(*) AS n_rows,
         min(ts) AS t0, max(ts) AS t1
  FROM sessions GROUP BY user_id, sess_id
),
mx AS (SELECT max(ts) AS m FROM events)
SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_rows) AS BIGINT) AS n_events,
       CAST(SUM(epoch_us(t1) - epoch_us(t0)) // 1000000 AS BIGINT) AS dur_s_sum
FROM agg, mx
WHERE t1 + INTERVAL 30 MINUTE <= mx.m
GROUP BY user_id % 10
""",
    tags=("streaming", "true_stream", "stateful", "timeout"),
)
def q426_state_event_time_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME STATE TIMEOUT (`GroupStateTimeout.EventTimeTimeout`
    with applyInPandasWithState) — the state-TTL mechanism that q294's
    NoTimeout surface leaves ungraded: per-user sessions accumulate in
    state, each batch re-arms a timeout at last_ts + 30min, and the
    WATERMARK (not new data for that key) fires expiry — exactly how
    production sessionization emits a user's final session after they
    leave. Three emission paths grade together: gap-split inside a
    batch (handler detects > 30min between consecutive rows), timeout
    callback (`state.hasTimedOut`, no rows for the key), and the
    already-expired short-circuit (batch arrives with the watermark
    past last+gap — setTimeoutTimestamp would throw, the handler must
    emit directly: the API contract that naive implementations hit as
    a crash). Trailing sessions whose expiry the final watermark never
    reaches stay open and are correctly ABSENT from the census. State
    per key is three longs — at 100 TB the state store holds only
    open sessions, and event-time timeouts (unlike processing-time)
    replay deterministically from the checkpoint."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from cli_spark.streaming.round10_handlers import session_timeout_handler

    name = f"q426_{_uuid.uuid4().hex[:8]}"
    with replay_stream(
        spark, f"{sf_dir}/events.parquet", 8, order_by=("ts", "event_id")
    ) as stream:
        sessions = (
            stream.select("user_id", "ts")
            .withWatermark("ts", "0 seconds")
            .groupBy("user_id")
            .applyInPandasWithState(
                session_timeout_handler,
                outputStructType="user_id long, n_rows long, t0_us long, t1_us long",
                stateStructType="t0_us long, t1_us long, n_rows long",
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )
        run_stream(
            sessions.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
    raw = collect_memory_sink(spark, name)
    return (
        raw.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_rows").cast("long").alias("n_events"),
            ((F.sum(F.col("t1_us") - F.col("t0_us"))) / F.lit(1000000))
            .cast("long").alias("dur_s_sum"),
        )
    )


@register(
    "q427_rate_micro_batch_source",
    oracle="""
WITH vals AS (
  SELECT range AS v FROM range(0, 5000)
)
SELECT CAST(v % 7 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(v) AS BIGINT) AS val_sum,
       CAST(SUM(1700000000000 + (v // 1000) * 60000) AS BIGINT) AS ts_ms_sum
FROM vals GROUP BY v % 7
""",
    tags=("streaming", "true_stream", "source", "rate"),
)
def q427_rate_micro_batch_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATE-MICRO-BATCH source (`rate-micro-batch`, Spark 3.3+): the
    DETERMINISTIC load generator — unlike plain `rate` (rows per
    wall-clock second, unreproducible), it emits exactly rowsPerBatch
    rows per micro-batch with values 0,1,2,... and timestamps pinned
    to startTimestamp + batch*advanceMillisPerBatch, so a streaming
    pipeline can be load-tested and REPLAYED bit-identically — which
    is precisely what grading exploits: the first five batches'
    censuses (value mod-7 buckets, value sums, per-batch timestamp
    sums) match closed-form arithmetic in the oracle. The in-query
    gate asserts >= 5 distinct batch timestamps reached the sink
    (the source really advanced micro-batches, not one bulk read).
    sf_dir is deliberately unused — the source IS the data; the
    census filters to value < 5000 so the grade is independent of
    how many extra batches ran before stop."""
    rows_per_batch, n_batches = 1000, 5
    start_ms, advance_ms = 1700000000000, 60000
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("numPartitions", "4")
        .option("startTimestamp", str(start_ms))
        .option("advanceMillisPerBatch", str(advance_ms))
        .load()
    )
    name = f"q427_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        need = rows_per_batch * n_batches
        t0 = time.time()
        while time.time() - t0 < 120:
            if spark.table(name).count() >= need:
                break
            time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination()
    got = materialize_local(spark.table(name).filter(F.col("value") < need))
    spark.catalog.dropTempView(name)
    n_ts = got.select("timestamp").distinct().count()
    if n_ts < n_batches:
        raise RuntimeError(
            f"q427: only {n_ts} distinct batch timestamps in the first "
            f"{need} rows — the rate-micro-batch source did not advance"
        )
    return got.groupBy((F.col("value") % 7).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value").cast("long").alias("val_sum"),
        F.sum(F.unix_millis("timestamp")).cast("long").alias("ts_ms_sum"),
    )


@register(
    "q444_streaming_observed_metrics",
    # Closed-form: rate-micro-batch batch k carries values
    # [1000k, 1000(k+1)), so rows = 1000 and sum = 10^6·k + 499500.
    oracle="""
SELECT * FROM (VALUES
  (0, 1000,  499500),
  (1, 1000, 1499500),
  (2, 1000, 2499500),
  (3, 1000, 3499500),
  (4, 1000, 4499500)
) AS t(batch_rank, n_rows, value_sum)
""",
    tags=("streaming", "observe", "monitoring", "true_stream"),
)
def q444_streaming_observed_metrics(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """STREAMING OBSERVED METRICS (`Dataset.observe` +
    `StreamingQueryProgress.observedMetrics` — the production
    monitoring surface): per-micro-batch audit aggregates computed
    INSIDE the streaming plan (one extra stateless aggregate, no
    second job, no sink round-trip) and surfaced through the
    progress events an operator alerts on. The graded rows are taken
    exclusively from the progress stream — NOT from the sink — so
    the query proves the observe pipeline end-to-end: a
    deterministic rate-micro-batch source (q427's load generator)
    emits five 1000-row batches whose per-batch row counts and value
    sums must match closed-form arithmetic. Batches are identified
    by their min(value) (batch k carries exactly [1000k, 1000(k+1)))
    so extra batches past the fifth are filtered deterministically;
    empty triggers (rows = 0) are dropped. In-query gate: at least
    five observed batches. At scale this is how per-batch data
    quality (null rates, domain violations, volume anomalies) is
    monitored without re-reading the stream. sf_dir unused — the
    source IS the data."""
    rows_per_batch, n_batches = 1000, 5
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("numPartitions", "4")
        .option("startTimestamp", "1700000000000")
        .option("advanceMillisPerBatch", "60000")
        .load()
    )
    observed = stream.observe(
        "audit",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value").alias("value_sum"),
        F.min("value").alias("min_value"),
    )
    name = f"q444_{_uuid.uuid4().hex[:8]}"
    q = (
        observed.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    need = rows_per_batch * n_batches

    def _qualifying() -> list[tuple[int, int, int]]:
        out = []
        for prog in q.recentProgress:
            om = (prog.observedMetrics.get("audit")
                  if prog.observedMetrics else None)
            if om is None or om["n_rows"] == 0 or om["min_value"] is None:
                continue
            if om["min_value"] < need:
                out.append((int(om["min_value"]) // rows_per_batch,
                            int(om["n_rows"]), int(om["value_sum"])))
        return out

    try:
        t0 = time.time()
        while time.time() - t0 < 120:
            # wait on the PROGRESS stream, not the sink — the grade
            # reads observedMetrics, and the last batch's progress
            # event can trail its sink rows
            if len(_qualifying()) >= n_batches:
                break
            time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination()
    metrics = _qualifying()
    spark.catalog.dropTempView(name)
    if len(metrics) < n_batches:
        raise RuntimeError(
            f"q444: only {len(metrics)} observed batches reported metrics "
            f"(need {n_batches})")
    return spark.createDataFrame(
        sorted(metrics),
        "batch_rank int, n_rows int, value_sum int",
    )
