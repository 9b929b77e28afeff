"""Focused tests for cli_spark.streaming.drain — opening a replay
stream (`replay_stream`), the per-row drain (`drain_rows`), the replay
prep (`replay_file`), the sketch streams' drain (`drain_partials`,
`replay_partials`) and the stream ending (`run_stream`). Asserts the
helpers' contracts directly: the batch sizing and the source options
reach the stream, every batch's rows or partial rows survive, the
schema is the stream's (or the partial plan's plus the ``batch_id``
tag the drain adds), batch ids tag rows correctly across >= 2 real
micro-batches, NULL group keys merge like any other key, the batch
count never depends on which partials are empty, the footer row count
matches a Spark count of the same file, temp dirs are gone after a
normal or a failed run, and the replay checkpoint-manager scope keeps
a session's own manager."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cli_spark.sources.replay_datasource import register_replay_source
import cli_spark.streaming.drain as drain
from cli_spark.streaming.drain import (
    drain_partials,
    drain_rows,
    replay_batch_rows,
    replay_file,
    replay_partials,
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
    register_replay_source(spark)
    stream = (
        spark.readStream.format("replay")
        .option("path", replay_part)
        .option("batchRows", 25)  # 97 rows -> 4 micro-batches
        .load()
    )

    def partial_of(batch_df, batch_id):
        return batch_df.groupBy("grp").agg(
            F.count(F.lit(1)).cast("long").alias("c"))

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
    register_replay_source(spark)
    stream = (
        spark.readStream.format("replay")
        .option("path", replay_part)
        .option("batchRows", 40)
        .load()
    )

    def partial_of(batch_df, batch_id):
        # drop everything from odd batches — an always-empty partial
        return (
            batch_df.groupBy("grp")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .filter(F.lit(batch_id % 2 == 0))
        )

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
    register_replay_source(spark)
    stream = (
        spark.readStream.format("replay")
        .option("path", replay_part)
        .option("batchRows", 25)
        .load()
    )

    def fact_grain(batch_df, batch_id):
        return batch_df.withColumn("batch_id", F.lit(batch_id).cast("long"))

    from pyspark.errors import StreamingQueryException

    with pytest.raises((ValueError, StreamingQueryException), match="sketch-grain"):
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

    register_replay_source(spark)
    stream = (
        spark.readStream.format("replay")
        .option("path", empty_replay_part)
        .option("batchRows", 25)
        .load()
    )
    name = "empty_" + uuid.uuid4().hex[:6]
    t0 = time.monotonic()
    run_stream(stream.writeStream.format("memory").queryName(name).start())
    assert time.monotonic() - t0 < 60
    out = collect_memory_sink(spark, name)
    assert out.count() == 0
    assert out.columns == ["id", "grp"]


def test_drain_partials_rejects_empty_stream(spark, empty_replay_part):
    """The same zero-row file through drain_partials runs no
    micro-batch, so there is no partial schema to return."""
    register_replay_source(spark)
    stream = (
        spark.readStream.format("replay")
        .option("path", empty_replay_part)
        .option("batchRows", 25)
        .load()
    )
    with pytest.raises(RuntimeError, match="delivered no micro-batch"):
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
    """``batchRows = max(min_rows, ceil(n / batches))``, and the 97-row
    file arrives as ``ceil(n / batch_rows)`` consecutive data batches."""
    assert replay_batch_rows(replay_part, batches, min_rows) == (97, batch_rows)
    seen = _batches_of(
        replay_stream(spark, replay_part, batches, min_rows=min_rows))
    assert sorted(seen) == list(range(-(-97 // batch_rows)))
    assert [seen[b] for b in sorted(seen)] == [
        list(range(lo, min(lo + batch_rows, 97)))
        for lo in range(0, 97, batch_rows)]


def test_replay_stream_honours_order_by_and_end_row(spark, replay_part):
    seen = _batches_of(
        replay_stream(spark, replay_part, 4, orderBy="grp,id", endRow=50))
    got = [i for b in sorted(seen) for i in seen[b]]
    assert got == sorted(range(97), key=lambda i: (i % 7, i))[:50]


def test_drain_rows_returns_the_streams_rows(spark, replay_part):
    stream = replay_stream(spark, replay_part, 4)
    with drain_rows(spark, stream) as rows:
        got = sorted((r["id"], r["grp"]) for r in rows.collect())
        assert rows.schema == stream.schema
    assert got == [(i, i % 7) for i in range(97)]


def test_drain_rows_empty_stream_keeps_schema(spark, replay_part):
    stream = replay_stream(spark, replay_part, 4).filter(F.col("id") < 0)
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
    with drain_rows(spark, replay_stream(spark, replay_part, 2)) as rows:
        assert rows.count() == 97
        assert list(tmp_path.glob("drain_rows_*"))
    assert not list(tmp_path.glob("drain_rows_*"))

    stream = replay_stream(spark, replay_part, 2)
    if fail == "stream":
        stream = stream.select(F.raise_error(F.lit("stream failed")))
    with pytest.raises((ValueError, StreamingQueryException), match="failed"):
        with drain_rows(spark, stream):
            raise ValueError("body failed")
    assert not list(tmp_path.glob("drain_rows_*"))


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
