"""Regression pins for the dropDuplicatesWithinWatermark protocol
that q453's oracle encodes — pinned empirically against Spark 4.1.2
through `drain.replay_stream` (the same path the graded query uses).

If any of these flips on a Spark upgrade, q453's oracle must be
re-derived before trusting its parity.
"""

from __future__ import annotations

import datetime
import glob
import os
import shutil
import tempfile
import uuid

import pytest


def _ts(hm: str) -> datetime.datetime:
    h, m = hm.split(":")
    return datetime.datetime(2024, 1, 1, int(h), int(m))


def _run(spark, rows, delay="60 minutes"):
    """Replay `rows` one per micro-batch through `replay_stream`,
    dedup on event_id within `delay`, return emitted (id, HH:MM)."""
    from cli_spark.streaming.drain import replay_stream

    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string")
    tmp = tempfile.mkdtemp(prefix="ddww_probe_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        [part] = glob.glob(os.path.join(tmp, "part-*.parquet"))
        name = "ddww_" + uuid.uuid4().hex[:8]
        # one row per batch
        with replay_stream(spark, part, len(rows)) as stream:
            dd = (stream.withWatermark("ts", delay)
                  .dropDuplicatesWithinWatermark(["event_id"]))
            q = (dd.writeStream.format("memory").queryName(name)
                 .outputMode("append").start())
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        return sorted(
            (r["event_id"], str(r["ts"])[11:16])
            for r in spark.table(name).collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_two_batch_watermark_lag(spark):
    """b1 does NOT yet see b0's max (emits a row under it); b2 does."""
    out = _run(spark, [(99, _ts("12:01"), "t"), (2, _ts("10:30"), "t")])
    assert (2, "10:30") in out  # b1 unaware of b0's max
    out = _run(spark, [(99, _ts("12:01"), "t"), (98, _ts("12:02"), "t"),
                       (2, _ts("10:30"), "t")])
    assert (2, "10:30") not in out  # b2 filters with runmax through b0


def test_late_filter_strict_at_equality(spark):
    """ts == wm is LATE (only strictly-greater rows survive)."""
    out = _run(spark, [(99, _ts("12:00"), "t"), (98, _ts("12:00"), "t"),
                       (2, _ts("11:00"), "t")])  # wm in b2 = 11:00
    assert (2, "11:00") not in out


def test_late_filter_survives_just_above_watermark(spark):
    """ts one minute above wm is NOT late — the `>` side of L3."""
    out = _run(spark, [(99, _ts("12:00"), "t"), (98, _ts("12:00"), "t"),
                       (2, _ts("11:01"), "t")])  # wm in b2 = 11:00
    assert (2, "11:01") in out


def test_live_state_duplicate_dropped(spark):
    """P3: a second arrival of a key with live state is dropped even
    when it is not late (wm is still -inf in b1)."""
    out = _run(spark, [(1, _ts("10:00"), "t"), (1, _ts("10:05"), "t")])
    assert out == [(1, "10:00")]


def test_eviction_lag_and_reemission(spark):
    """State eviction uses the same 2-lagged watermark: a duplicate
    re-emits only once wm(N) has reached its stored expiry."""
    # b2: wm = runmax through b0 (10:00) - 60m -> state live -> drop
    out = _run(spark, [(1, _ts("10:00"), "t"), (99, _ts("12:01"), "t"),
                       (1, _ts("11:30"), "t")])
    assert out.count((1, "11:30")) == 0
    # b3: wm = 12:01 - 60m = 11:01 >= expiry 11:00 -> evicted -> re-emit
    out = _run(spark, [(1, _ts("10:00"), "t"), (99, _ts("12:01"), "t"),
                       (98, _ts("12:02"), "t"), (1, _ts("11:30"), "t")])
    assert (1, "11:30") in out


def test_eviction_nonstrict_at_equality(spark):
    """wm == expiry evicts (re-emission happens at exact equality)."""
    out = _run(spark, [(1, _ts("10:00"), "t"), (99, _ts("12:00"), "t"),
                       (98, _ts("12:00"), "t"), (1, _ts("11:30"), "t")])
    # wm in b3 = 12:00 - 60m = 11:00 == expiry 11:00 -> evicted
    assert (1, "11:30") in out


def test_duplicate_does_not_extend_expiry(spark):
    """A dropped duplicate must not push the stored expiry forward."""
    out = _run(spark, [
        (1, _ts("10:00"), "t"),   # expiry 11:00
        (1, _ts("10:55"), "t"),   # dup (dropped) — extension would say 11:55
        (99, _ts("12:05"), "t"),
        (98, _ts("12:06"), "t"),
        (1, _ts("11:40"), "t"),   # wm = 11:05 >= 11:00 -> evicted -> emits
    ])
    assert (1, "11:40") in out
