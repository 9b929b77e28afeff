"""Focused tests for cli_spark.streaming.drain — opening a replay
stream (`replay_stream`, `replay_in_phases`), the per-row drain
(`drain_rows`), the replay prep (`replay_file`), the sketch streams'
drain (`drain_partials`, `replay_partials`) and the stream ending
(`run_stream`). Asserts the helpers' contracts directly: the batch
sizing, order, start row and phase cut reach the stream, its schema
and rows equal a batch read of the file, every batch's rows or
partial rows survive, the
schema is the stream's (or the partial plan's plus the ``batch_id``
tag the drain adds), batch ids tag rows correctly across >= 2 real
micro-batches, NULL group keys merge like any other key, the batch
count never depends on which partials are empty, the footer row count
matches a Spark count of the same file, temp dirs are gone after a
normal or a failed run, a stream started after its replay block
raises, the drain refuses a progress list that may have dropped
events, the row-to-batch rule over the replay file equals the batch
each row was drained in (in one split or several), and the replay
checkpoint-manager scope keeps a session's own manager."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import cli_spark.streaming.drain as drain
from cli_spark.session import local_relation
from cli_spark.streaming.drain import (
    drain_partials,
    drain_rows,
    replay_batch_rows,
    replay_file,
    replay_in_phases,
    replay_partials,
    replay_partials_and_rows,
    replay_row_count,
    replay_stream,
    run_stream,
)


@pytest.fixture()
def replay_part(spark):
    tmp = tempfile.mkdtemp(prefix="drain_test_")
    df = spark.range(0, 97).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
    )
    df.repartition(1).sortWithinPartitions("id").write.mode(
        "overwrite").parquet(tmp)
    [part] = glob.glob(os.path.join(tmp, "part-*.parquet"))
    yield part
    shutil.rmtree(tmp, ignore_errors=True)


def test_drain_partials_accumulates_every_batch(spark, replay_part):
    def partial_of(batch_df, batch_id):
        return batch_df.groupBy("grp").agg(
            F.count(F.lit(1)).cast("long").alias("c"))

    # 97 rows -> 4 micro-batches of 25
    with replay_stream(spark, replay_part, 4) as stream:
        parts = drain_partials(spark, stream, partial_of)
    rows = parts.collect()
    batch_ids = sorted({r["batch_id"] for r in rows})
    assert len(batch_ids) >= 2, "must see multiple real micro-batches"
    # ADDITION merge of the drained partials == the all-rows census
    merged = {
        r["grp"]: r["s"]
        for r in parts.groupBy("grp").agg(
            F.sum("c").cast("long").alias("s")).collect()
    }
    exact = {i: len([x for x in range(97) if x % 7 == i]) for i in range(7)}
    assert merged == exact
    assert [f.name for f in parts.schema.fields] == ["grp", "c", "batch_id"]
    assert {f.dataType.simpleString() for f in parts.schema.fields} == {"bigint"}


def test_replay_row_count_matches_spark_count(spark, replay_part):
    assert replay_row_count(replay_part) == 97
    assert spark.read.parquet(replay_part).count() == 97


def test_drain_partials_keeps_empty_partials(spark, replay_part):
    """A batch whose partial is EMPTY (the q479 Misra-Gries case)
    contributes no rows but must not break accumulation or schema."""
    def partial_of(batch_df, batch_id):
        # drop everything from odd batches — an always-empty partial
        return (
            batch_df.groupBy("grp")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .filter(F.lit(batch_id % 2 == 0))
        )

    # batches of 40 rows
    with replay_stream(spark, replay_part, 4, min_rows=40) as stream:
        parts = drain_partials(spark, stream, partial_of)
    ids = {r["batch_id"] for r in parts.collect()}
    assert ids and all(i % 2 == 0 for i in ids)


def test_drain_partials_rejects_fact_grain_streams(spark, replay_part, monkeypatch):
    """The sketch-grain contract is enforced in code (round-16,
    VERDICT r15 item 2): a partial that ships the batch's FACT rows
    (here: every input row, with the ceiling lowered so the fixture
    trips it) must raise instead of silently accumulating on the
    driver."""
    import cli_spark.streaming.drain as drain_mod

    monkeypatch.setattr(drain_mod, "MAX_PARTIAL_ROWS_PER_BATCH", 10)

    def fact_grain(batch_df, batch_id):
        return batch_df.withColumn("batch_id", F.lit(batch_id).cast("long"))

    from pyspark.errors import StreamingQueryException

    with (
        replay_stream(spark, replay_part, 4) as stream,
        pytest.raises((ValueError, StreamingQueryException), match="sketch-grain"),
    ):
        drain_mod.drain_partials(spark, stream, fact_grain)


@pytest.fixture()
def empty_replay_part(spark):
    tmp = tempfile.mkdtemp(prefix="drain_empty_")
    spark.range(0, 0).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    ).repartition(1).write.mode("overwrite").parquet(tmp)
    [part] = glob.glob(os.path.join(tmp, "part-*.parquet"))
    yield part
    shutil.rmtree(tmp, ignore_errors=True)


def test_run_stream_empty_source_returns_empty_sink(spark, empty_replay_part):
    """A zero-row replay file: the source is dry from the start, so
    run_stream returns as soon as the first trigger finds no data and
    the memory sink holds nothing."""
    import time
    import uuid

    from cli_spark.streaming.drain import collect_memory_sink, run_stream

    name = "empty_" + uuid.uuid4().hex[:6]
    t0 = time.monotonic()
    with replay_stream(spark, empty_replay_part, 4) as stream:
        run_stream(stream.writeStream.format("memory").queryName(name).start())
    assert time.monotonic() - t0 < 60
    out = collect_memory_sink(spark, name)
    assert out.count() == 0
    assert out.columns == ["id", "grp"]


def test_drain_partials_rejects_empty_stream(spark, empty_replay_part):
    """The same zero-row file through drain_partials runs no
    micro-batch, so there is no partial schema to return."""
    with (
        replay_stream(spark, empty_replay_part, 4) as stream,
        pytest.raises(RuntimeError, match="delivered no micro-batch"),
    ):
        drain_partials(spark, stream, lambda df, _bid: df)


def _grp_rows(spark, null_every: int):
    """97 rows; ``grp`` is NULL on every ``null_every``-th id (1: all)."""
    return spark.range(0, 97).select(
        F.col("id"),
        F.when(F.col("id") % null_every == 0, F.lit(None))
        .otherwise(F.col("id") % 7).alias("grp"),
    )


@pytest.mark.parametrize("null_every", [5, 1], ids=["some_null", "all_null"])
def test_replay_partials_merges_null_group_keys(spark, monkeypatch, null_every):
    """NULL is one more group key: the merged per-batch counts equal
    an all-rows count, NULL group included, also when every key is
    NULL."""
    monkeypatch.setattr(drain, "N_BATCHES", 4)
    rows = _grp_rows(spark, null_every)

    def partial_of(batch_df, batch_id):
        return batch_df.groupBy("grp").agg(
            F.count(F.lit(1)).cast("long").alias("c"))

    parts, n, batch_rows, n_batches = replay_partials(
        spark, rows, ("id",), partial_of)
    assert (n, batch_rows, n_batches) == (97, 25, 4)
    merged = {
        r["grp"]: r["s"]
        for r in parts.groupBy("grp").agg(
            F.sum("c").cast("long").alias("s")).collect()
    }
    exact = {r["grp"]: r["count"] for r in rows.groupBy("grp").count().collect()}
    assert merged == exact
    assert None in merged
    assert sum(merged.values()) == 97


def test_replay_partials_counts_batches_with_empty_partials(spark, monkeypatch):
    """A partial that ships no rows for a non-empty batch (the q479
    Misra-Gries case) does not change ``n_batches``: it is
    ceil(n / batch_rows), never the number of batch ids in the
    partials."""
    monkeypatch.setattr(drain, "N_BATCHES", 5)

    def partial_of(batch_df, batch_id):
        return (
            batch_df.groupBy("grp")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .filter(F.lit(batch_id % 2 == 0))
        )

    parts, n, batch_rows, n_batches = replay_partials(
        spark, _grp_rows(spark, 5), ("id",), partial_of)
    assert n_batches == -(-n // batch_rows) == 5
    ids = {r["batch_id"] for r in parts.collect()}
    assert ids == {0, 2, 4}


def test_local_relation_keeps_rows_after_an_empty_table(spark):
    """Every table's rows survive, also after a zero-row table, and
    the frame is a JVM local relation with the given schema."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("x", LongType())])

    def table(xs):
        return pa.table({"x": pa.array(xs, pa.int64())})

    df = local_relation(spark, [table([1, 2]), table([]), table([3])], schema)
    assert sorted(r["x"] for r in df.collect()) == [1, 2, 3]
    assert df.schema == schema
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


_PROGRESS_KEY = "spark.sql.streaming.numRecentProgressUpdates"


def test_drain_partials_refuses_a_full_progress_list(spark, replay_part):
    """``recentProgress`` keeps only the last ``numRecentProgressUpdates
    - 1`` events; a run with as many events as that may have dropped
    batch ids, so the drain raises instead of checking a partial list.
    The 4-batch stream runs at least 4 events, more than a cap of 4
    keeps."""
    def partial_of(batch_df, batch_id):
        return batch_df.groupBy("grp").agg(
            F.count(F.lit(1)).cast("long").alias("c"))

    spark.conf.set(_PROGRESS_KEY, "4")
    try:
        with (
            replay_stream(spark, replay_part, 4) as stream,
            pytest.raises(RuntimeError, match=r"as many as it keeps \(3\)"),
        ):
            drain_partials(spark, stream, partial_of)
    finally:
        spark.conf.unset(_PROGRESS_KEY)
    with replay_stream(spark, replay_part, 4) as stream:
        assert drain_partials(spark, stream, partial_of).count() > 0


@pytest.mark.parametrize("splits", ["one", "several"])
def test_batch_rule_matches_drained_batch_ids(spark, monkeypatch, splits):
    """Over the replay file, ``_metadata.row_index DIV batch_rows`` (the
    ``batch_id`` of ``replayed``) is the batch ``drain_partials`` saw each
    row in, also when the file has many row groups and is read in
    several splits."""
    monkeypatch.setattr(drain, "N_BATCHES", 4)
    rows = spark.range(0, 2000).select(
        "id", (F.lit(1999) - F.col("id")).alias("rev"))

    def partial_of(batch_df, batch_id):
        return batch_df.select("id")

    # row groups of ~100 rows, so splits of a few KB hold rows
    small = {"parquet.block.size": "2048",
             "spark.sql.files.maxPartitionBytes": "4096"}
    if splits == "several":
        for k, v in small.items():
            spark.conf.set(k, v)
    try:
        with replay_partials_and_rows(
            spark, rows, ("rev",), partial_of
        ) as (parts, replayed, n, batch_rows, n_batches):
            tagged = {r["id"]: r["batch_id"] for r in replayed.collect()}
            used = replayed.groupBy(F.spark_partition_id()).count().count()
    finally:
        for k in small:
            spark.conf.unset(k)
    assert (n, batch_rows, n_batches) == (2000, 500, 4)
    assert (used > 1) == (splits == "several")
    drained = {r["id"]: r["batch_id"] for r in parts.collect()}
    assert len(drained) == 2000
    assert tagged == drained
    # the file is in ``rev`` order: id 1999 arrives first
    assert drained[1999] == 0 and drained[0] == 3


def test_replay_file_yields_sorted_single_file(spark, tmp_path, monkeypatch):
    """The file holds ``rows`` in ``order_by`` order minus ``drop``,
    and its footer count is the row count."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = spark.range(0, 50).select(
        "id", (F.lit(49) - F.col("id")).alias("rev"))
    with replay_file(spark, rows, ("rev",), drop=("rev",)) as path:
        assert replay_row_count(path) == 50
        got = spark.read.parquet(path)
        assert got.columns == ["id"]
        assert [r["id"] for r in got.collect()] == list(range(49, -1, -1))
    assert not list(tmp_path.glob("replay_*"))


def test_replay_partials_removes_file_on_return_and_on_error(
        spark, tmp_path, monkeypatch):
    """The replay temp dir exists while the stream runs and is gone
    after a normal return and after a ``partial_of`` that raises."""
    from pyspark.errors import StreamingQueryException

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(drain, "N_BATCHES", 2)
    seen: list = []

    def partial_of(batch_df, batch_id):
        seen.extend(tmp_path.glob("replay_*"))
        return batch_df.groupBy("grp").agg(
            F.count(F.lit(1)).cast("long").alias("c"))

    replay_partials(spark, _grp_rows(spark, 5), ("id",), partial_of)
    assert seen, "the replay dir must exist while the stream runs"
    assert not list(tmp_path.glob("replay_*"))

    def failing(batch_df, batch_id):
        raise ValueError("partial failed")

    with pytest.raises((ValueError, StreamingQueryException),
                       match="partial failed"):
        replay_partials(spark, _grp_rows(spark, 5), ("id",), failing)
    assert not list(tmp_path.glob("replay_*"))


def _batches_of(stream) -> dict[int, list[int]]:
    """The ``id`` values of every micro-batch that carried rows, by
    batch id."""
    seen: dict[int, list[int]] = {}

    def sink(batch_df, batch_id):
        ids = [r["id"] for r in batch_df.collect()]
        if ids:
            seen[batch_id] = ids

    run_stream(stream.writeStream.foreachBatch(sink).start())
    return seen


@pytest.mark.parametrize(("batches", "min_rows", "batch_rows"),
                         [(4, 1, 25), (4, 40, 40), (2, 1, 49)])
def test_replay_stream_sizes_batches(spark, replay_part, batches, min_rows,
                                     batch_rows):
    """``batch_rows = max(min_rows, ceil(n / batches))``, and the 97-row
    file arrives as ``ceil(n / batch_rows)`` consecutive data batches."""
    assert replay_batch_rows(replay_part, batches, min_rows) == (97, batch_rows)
    with replay_stream(spark, replay_part, batches, min_rows=min_rows) as stream:
        seen = _batches_of(stream)
    assert sorted(seen) == list(range(-(-97 // batch_rows)))
    assert [seen[b] for b in sorted(seen)] == [
        list(range(lo, min(lo + batch_rows, 97)))
        for lo in range(0, 97, batch_rows)]


def test_replay_stream_honours_order_by_and_end_row(spark, replay_part):
    """``order_by`` sets the arrival order. With only the first two
    batches cut (`replay_in_phases`), the stream ends at row
    ``2 * batch_rows`` = 50; with ``start_row`` the cut starts there and
    keeps the full file's batch size."""
    order = sorted(range(97), key=lambda i: (i % 7, i))
    with replay_in_phases(
        spark, replay_part, 4, 2, order_by=("grp", "id")
    ) as (stream, _):
        seen = _batches_of(stream)
    assert [i for b in sorted(seen) for i in seen[b]] == order[:50]

    with replay_stream(
        spark, replay_part, 4, order_by=("grp", "id"), start_row=47
    ) as stream:
        seen = _batches_of(stream)
    assert [seen[b] for b in sorted(seen)] == [order[47:72], order[72:]]


def test_drain_rows_returns_the_streams_rows(spark, replay_part):
    with (
        replay_stream(spark, replay_part, 4) as stream,
        drain_rows(spark, stream) as rows,
    ):
        got = sorted((r["id"], r["grp"]) for r in rows.collect())
        assert rows.schema == stream.schema
    assert got == [(i, i % 7) for i in range(97)]


def test_drain_rows_empty_stream_keeps_schema(spark, replay_part):
    with replay_stream(spark, replay_part, 4) as src:
        stream = src.filter(F.col("id") < 0)
        with drain_rows(spark, stream) as rows:
            assert rows.count() == 0
            assert rows.schema == stream.schema


@pytest.mark.parametrize("fail", ["body", "stream"])
def test_drain_rows_removes_dir_on_exit_and_on_error(
        spark, replay_part, tmp_path, monkeypatch, fail):
    """The temp dir exists inside the block and is gone after a normal
    exit and after the body or the stream raises."""
    from pyspark.errors import StreamingQueryException

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with (
        replay_stream(spark, replay_part, 2) as stream,
        drain_rows(spark, stream) as rows,
    ):
        assert rows.count() == 97
        assert list(tmp_path.glob("drain_rows_*"))
    assert not list(tmp_path.glob("drain_rows_*"))

    with replay_stream(spark, replay_part, 2) as stream:
        if fail == "stream":
            stream = stream.select(F.raise_error(F.lit("stream failed")))
        with pytest.raises((ValueError, StreamingQueryException), match="failed"):
            with drain_rows(spark, stream):
                raise ValueError("body failed")
    assert not list(tmp_path.glob("drain_rows_*"))


def test_replay_stream_removes_dir_on_exit_and_on_error(
        spark, replay_part, tmp_path, monkeypatch):
    """The batch files exist inside the block and are gone after a
    normal exit and after the body raises."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with replay_stream(spark, replay_part, 4):
        [d] = tmp_path.glob("replay_stream_*")
        assert len(list(d.glob("*.parquet"))) == 4
    assert not list(tmp_path.glob("replay_stream_*"))
    with pytest.raises(ValueError, match="body failed"):
        with replay_stream(spark, replay_part, 4):
            raise ValueError("body failed")
    assert not list(tmp_path.glob("replay_stream_*"))


@pytest.mark.parametrize("opener", ["replay_stream", "replay_in_phases"])
def test_stream_started_after_its_block_raises(spark, replay_part, opener):
    """A replay stream started after its block has removed the batch
    files raises in run_stream, naming the directory, instead of
    draining an empty source to 0 rows; the query is stopped."""
    import uuid

    if opener == "replay_stream":
        with replay_stream(spark, replay_part, 4) as stream:
            pass
    else:
        with replay_in_phases(spark, replay_part, 4, 2) as (stream, _):
            pass
    query = stream.writeStream.format("memory").queryName(
        "late_" + uuid.uuid4().hex[:6]).start()
    with pytest.raises(FileNotFoundError, match="replay_stream_.*is gone"):
        run_stream(query)
    assert not query.isActive
    with pytest.raises(FileNotFoundError, match="is gone"):
        with drain_rows(spark, stream):
            pass


def test_replay_stream_schema_matches_batch_read(spark, tmp_path):
    """The stream's schema and rows equal ``spark.read.parquet`` of the
    same file for types beyond long/int/double/string: date, int16,
    decimal(10,2), a nullable int64 with NULLs and a UTC timestamp."""
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "types.parquet")
    pq.write_table(pa.table({
        "d": pa.array([datetime.date(2024, 1, i) for i in range(1, 8)],
                      pa.date32()),
        "s": pa.array(range(7), pa.int16()),
        "m": pa.array([decimal.Decimal(f"{i}.25") for i in range(7)],
                      pa.decimal128(10, 2)),
        "n": pa.array([1, None, 3, None, 5, 6, None], pa.int64()),
        "ts": pa.array([datetime.datetime(2024, 1, 1, i) for i in range(7)],
                       pa.timestamp("us", tz="UTC")),
    }), path)
    want = spark.read.parquet(path)
    with replay_stream(spark, path, 3) as stream:
        assert stream.schema == want.schema
        seen: dict = {}
        run_stream(stream.writeStream.foreachBatch(
            lambda df, bid: seen.setdefault(bid, df.collect())).start())
    assert [len(seen[b]) for b in sorted(seen)] == [3, 3, 1]
    assert [r for b in sorted(seen) for r in seen[b]] == want.collect()


_CKPT_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def test_replay_ckpt_manager_keeps_the_sessions_manager(spark):
    """A session that sets its own checkpoint file manager keeps it
    inside the replay scope and after it."""
    from cli_spark.session import scoped_replay_ckpt_manager

    own = ("org.apache.spark.sql.execution.streaming.checkpointing."
           "FileContextBasedCheckpointFileManager")
    spark.conf.set(_CKPT_KEY, own)
    try:
        with scoped_replay_ckpt_manager(spark):
            assert spark.conf.get(_CKPT_KEY) == own
        assert spark.conf.get(_CKPT_KEY) == own
    finally:
        spark.conf.unset(_CKPT_KEY)


def test_replay_ckpt_manager_applies_default_and_unsets_it(spark):
    from cli_spark.session import scoped_replay_ckpt_manager

    assert spark.conf.get(_CKPT_KEY, None) is None
    with scoped_replay_ckpt_manager(spark):
        assert spark.conf.get(_CKPT_KEY).endswith(
            "FileSystemBasedCheckpointFileManager")
    assert spark.conf.get(_CKPT_KEY, None) is None
