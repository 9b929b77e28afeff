"""Round-11 streaming operator: dropDuplicatesWithinWatermark, graded
end-to-end over TRUE micro-batches.

The operator's protocol was pinned EMPIRICALLY against Spark 4.1.2
through the same replay input the graded query uses
(`drain.replay_stream`).
The seven committed regression pins in tests/test_streaming_ddww.py
each assert one clause below (two-batch lag, strict late filter at
equality AND survival just above the watermark, live-state dedup
drop, no expiry extension, non-strict eviction at equality,
re-emission after eviction):

  wm(N) = runmax(per-batch max event time through batch N-2) - delay
          — the watermark VISIBLE to batch N lags its data by TWO
          batches, exactly the protocol q279 pinned for windowed
          aggregation eviction (probes L1/L1b: a row under b0's max
          still emits in b1, is late-dropped in b2);
  LATE FILTER: a row of batch N is dropped before touching state iff
          ts <= wm(N) (STRICT `>` survives; equality is late — L3);
  DEDUP:  a row whose key holds live state is dropped (P3); a dropped
          duplicate does NOT extend the stored expiry (P9);
  EVICTION: state expiry = stored event time + delay; evicted once
          wm(N) >= expiry (NON-strict at equality — L4), after which
          a later same-key row RE-EMITS (L2-b3) — the operator's
          documented at-least-once contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cli_spark.plans.registry import register
from cli_spark.session import materialize_local
from cli_spark.tables import load_table

# Echo-stream parameters, in PER-MILLE OF THE EVENT-TIME SPAN so the
# dynamics are scale-invariant (batch width is span/40 at any sf —
# wall-time constants would be dwarfed by the 18 h batches of sf0.01
# while dominating the 2 h batches of a bigger corpus): every event
# streams TWICE under the same key (event_id), the echo 8% of the
# span later in EVENT time; arrival order is event-time order
# perturbed by a deterministic ±5%-of-span md5 jitter; watermark
# delay is 1% of span. At sf0.01 that yields 10,504 emissions /
# 2,718 re-emissions / 2,214 fully-late of 10,000 keys; at sf0.001
# 1,187 / 354 / 167 of 1,000 — every outcome class is real at every
# graded tier.
_OFF_PM = 80
_JIT_PM = 50
_DELAY_PM = 10
_ARR_HASH = (
    "CAST(conv(substr(md5(concat(CAST(event_id AS STRING), ':', "
    "CAST(copy AS STRING))), 1, 15), 16, 10) AS BIGINT)"
)
_ARR_HASH_DUCK = (
    "CAST(concat('0x', substr(md5(event_id || ':' || copy), 1, 15)) AS BIGINT)"
)


@register(
    "q453_dropdup_within_watermark",
    oracle=f"""
WITH span AS (
  SELECT MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS s FROM events
),
par AS (
  SELECT s * {_OFF_PM} // 1000 AS off_us,
         s * {_JIT_PM} // 1000 AS jit_us,
         s * {_DELAY_PM} // 1000 AS delay_us
  FROM span
),
base AS (
  SELECT event_id, event_type, copy,
         epoch_us(ts) + copy * p.off_us AS ts_us,
         epoch_us(ts) + copy * p.off_us
           + ({_ARR_HASH_DUCK} % (2 * p.jit_us)) - p.jit_us AS arr_us
  FROM events, unnest([0, 1]) AS t(copy), par p
),
n AS (SELECT COUNT(*) AS cnt FROM base),
bsz AS (SELECT CAST(ceil(cnt / 40.0) AS BIGINT) AS b FROM n),
ordered AS (
  SELECT *, row_number() OVER (ORDER BY arr_us, event_id, copy) AS rn
  FROM base
),
batched AS (
  SELECT o.*, (o.rn - 1) // b.b AS batch FROM ordered o CROSS JOIN bsz b
),
bm AS (SELECT batch, MAX(ts_us) AS bmax FROM batched GROUP BY batch),
wm AS (
  SELECT batch,
         MAX(bmax) OVER (ORDER BY batch
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           - (SELECT delay_us FROM par) AS wm_n
  FROM bm
),
vis AS (
  SELECT r.*, (w.wm_n IS NULL OR r.ts_us > w.wm_n) AS visible, w.wm_n
  FROM batched r JOIN wm w ON r.batch = w.batch
),
keyed AS (
  SELECT event_id, event_type,
         MIN(CASE WHEN visible THEN rn END) AS rn_a,
         COUNT(*) FILTER (WHERE visible) AS n_vis
  FROM vis GROUP BY event_id, event_type
),
a AS (
  SELECT k.event_id, k.event_type, k.n_vis, v.ts_us AS ts_a
  FROM keyed k LEFT JOIN vis v ON v.rn = k.rn_a
),
b AS (
  SELECT k.event_id, v.wm_n AS wm_b
  FROM keyed k
  JOIN vis v ON v.event_id = k.event_id AND v.visible AND v.rn > k.rn_a
),
emits AS (
  SELECT a.event_id, a.event_type,
         CASE WHEN a.n_vis >= 1 THEN 1 ELSE 0 END AS emit_a,
         CASE WHEN a.n_vis = 2 AND b.wm_b IS NOT NULL
                   AND a.ts_a + (SELECT delay_us FROM par) <= b.wm_b
              THEN 1 ELSE 0 END AS emit_b
  FROM a LEFT JOIN b ON b.event_id = a.event_id
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(emit_a + emit_b) AS BIGINT) AS n_emitted,
       CAST(SUM(CASE WHEN emit_a = 1 AND emit_b = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_reemitted,
       CAST(SUM(CASE WHEN emit_a = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fully_late
FROM emits GROUP BY event_type
""",
    tags=("streaming", "true_stream", "dedup", "watermark", "state"),
)
def q453_dropdup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dropDuplicatesWithinWatermark`, graded over ~40 TRUE
    micro-batches — the bounded-state streaming dedup every production
    pipeline actually deploys (unbounded `dropDuplicates` state grows
    with distinct-key cardinality forever; the within-watermark form
    holds a key only `delay` past its event time — at 100 TB/day that
    is the difference between a state store bounded by the disorder
    window and one bounded by history).

    The fixture makes every outcome class REAL (module docstring for
    the span-relative parameters): some duplicates hit LIVE state
    (dropped), some arrive after their state expired (RE-emitted —
    the operator's documented at-least-once contract), some fall
    behind the watermark entirely (late-dropped before touching
    state), and whole keys can lose both arrivals. Emitted fact-grain
    rows go through a foreachBatch parquet sink (never the memory
    sink — the fact-grain rule), then one batch census per event
    type: keys, emissions, re-emissions, fully-late keys.

    The oracle replays the operator's protocol in closed form —
    possible with NO recursion because each key has exactly two
    arrivals: the first VISIBLE arrival emits and stores expiry
    ts_a + delay; the second emits iff visible and the state already
    evicted. Every boundary — the TWO-batch watermark lag, the strict
    late filter, the non-strict eviction, no expiry extension by
    dropped duplicates — was pinned empirically against Spark 4.1.2
    through this same replay input (module docstring;
    tests/test_streaming_ddww.py keeps the probes as regression
    pins)."""
    import tempfile

    from cli_spark.session import (
        STREAM_PARTITIONS,
        scoped_replay_ckpt_manager,
        scoped_shuffle_partitions,
    )
    from cli_spark.streaming.drain import replay_file, replay_stream, run_stream

    e = load_table(spark, sf_dir, "events")
    lo, hi = e.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))).collect()[0]
    span = hi - lo
    off_us = span * _OFF_PM // 1000
    jit_us = span * _JIT_PM // 1000
    delay_us = span * _DELAY_PM // 1000
    ts_us = F.unix_micros("ts") + F.col("copy") * F.lit(off_us)
    echoed = (
        e.select("event_id", "ts", "event_type")
        .withColumn("copy", F.explode(F.array(F.lit(0), F.lit(1))))
        .select(
            "event_id",
            "event_type",
            F.timestamp_micros(ts_us).alias("ts"),
            (ts_us + F.expr(_ARR_HASH) % F.lit(2 * jit_us)
             - F.lit(jit_us)).alias("arr_us"),
            "copy",
        )
    )
    with (
        tempfile.TemporaryDirectory(prefix="q453_sink_",
                                    ignore_cleanup_errors=True) as out_root,
        replay_file(spark, echoed, ("arr_us", "event_id", "copy"),
                    drop=("arr_us", "copy")) as part,
        # ~40 batches over both copies
        replay_stream(spark, part, 40) as stream,
    ):
        deduped = (
            stream.withWatermark("ts", f"{delay_us} microseconds")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "event_type")
        )

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # NO coalesce here: a coalesce(1) on the micro-batch output
            # narrows the whole post-exchange stage to ONE task, which
            # then runs ALL state-store partitions' dedup work serially
            # — measured +43 s on the full run (round-15 A/B,
            # BENCH_r15_opt_before/mid). File count per batch is
            # instead bounded by the stream's state partitioning
            # (STREAM_PARTITIONS), sized to batch volume.
            # Committer v2 + no _SUCCESS marker (round 16, guide §1.4):
            # ~40 job commits per run each paid the v1 two-level
            # rename plus a marker create — per-WRITE options, so
            # nothing leaks to other writes (A/B: 16.0/17.5 ->
            # 13.7/16.3 s full-query; isolated 40-append probe
            # 8.3/8.6 -> 7.4/7.4 s). v2 task-commits rename directly —
            # the standard high-throughput cluster setting; exactly-
            # once on task retry is not weakened for this sink (the
            # whole tempdir is discarded on any failure).
            (
                batch_df.write.mode("append")
                .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
                .option("mapreduce.fileoutputcommitter.marksuccessfuljobs",
                        "false")
                .parquet(f"{out_root}/emitted")
            )

        # default trigger + processAllAvailable: the file source
        # reads one batch file per trigger (~40 real micro-batches)
        # scoped_shuffle_partitions: the stateful dedup creates one
        # state store per shuffle partition and re-pays that
        # per-partition fixed cost EVERY batch — size it to the
        # ~5k-row batch grain, not the core count (session.py
        # STREAM_PARTITIONS; round-15 optimization, guide §2.2/§5)
        # scoped_replay_ckpt_manager (round 16): the FileSystem-API
        # checkpoint manager for this throwaway per-invocation
        # checkpoint. Both managers are rename-based (temp file +
        # .crc, then rename); the saving is per-call overhead of the
        # default FileContext path, paid for every offset/commit log
        # entry and every state-store delta file (8 partitions x ~40
        # batches) — see session.py for the file-operation diff.
        with scoped_shuffle_partitions(spark, STREAM_PARTITIONS), \
                scoped_replay_ckpt_manager(spark):
            run_stream(deduped.writeStream.foreachBatch(sink).start())
        emitted = spark.read.parquet(f"{out_root}/emitted")
        per_key = emitted.groupBy("event_type", "event_id").agg(
            F.count(F.lit(1)).alias("n_em"))
        census = per_key.groupBy("event_type").agg(
            F.sum("n_em").cast("long").alias("n_emitted"),
            F.count_if(F.col("n_em") == 2).alias("n_reemitted"),
            F.count(F.lit(1)).alias("n_keys_emitted"),
        )
        totals = e.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_keys"))
        result = (
            totals.join(census, "event_type", "left")
            .select(
                "event_type",
                "n_keys",
                F.coalesce("n_emitted", F.lit(0)).cast("long")
                .alias("n_emitted"),
                F.coalesce("n_reemitted", F.lit(0)).cast("long")
                .alias("n_reemitted"),
                (F.col("n_keys") - F.coalesce("n_keys_emitted", F.lit(0)))
                .cast("long").alias("n_fully_late"),
            )
        )
        return materialize_local(result)
