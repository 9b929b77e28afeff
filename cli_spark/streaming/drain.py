"""How the TRUE-stream queries replay their input and how they end.

Every replay stream is Spark's own parquet file source over a
directory of per-batch files. `replay_stream` reads the input parquet
with pyarrow (no Spark job), sorts it when asked, and writes batch
``b`` — rows ``[b * batch_rows, (b + 1) * batch_rows)`` — as
``files_per_batch`` files with strictly increasing mtimes. The file
source reads new files oldest first, ``maxFilesPerTrigger =
files_per_batch`` at a time, so micro-batch ``b`` is exactly batch
file group ``b``. The stream's schema is the Arrow table's, and
timestamps are cast to UTC micros on the way.

Entry points:

* `replay_stream(spark, path, batches, *, min_rows=1, order_by=(),
  start_row=0, files_per_batch=1)` — context manager yielding the
  stream of ``batch_rows = max(min_rows, ceil(n / batches))`` rows per
  micro-batch (``n`` counts the whole file, also when the cut starts
  at ``start_row``); the batch files are removed on exit.
  `replay_batch_rows` gives the same ``(n, batch_rows)`` from the
  footer to callers that need the numbers.
* `replay_in_phases(..., first_batches, ...)` — the same, with only
  the first ``first_batches`` batches on disk until the yielded
  ``cut_rest()`` writes the others: the restart queries' (q310/q352)
  deterministic mid-stream stop.
* `drain_rows(spark, stream, output_mode="append")` — the per-row
  (fact-grain) drain: the stream runs into a foreachBatch sink that
  appends each micro-batch to parquet in a temp dir, and the rows are
  yielded read back; the dir is removed on exit.
* `replay_file(spark, rows, order_by, drop=())` — the sorted replay
  prep for a DataFrame input: one single-file parquet of ``rows`` in
  ``order_by`` order, yielded as its path and removed on exit (q279,
  q453 and the sketch streams).
* `replay_partials(spark, rows, order_by, partial_of, drop=())` — the
  mergeable-sketch streams (q473/q476/q479/q481/q486/q491/q493/q496/
  q500): `replay_file`, `replay_stream` at ``N_BATCHES`` and
  `drain_partials`. It owns the file layout, the batch sizing and the
  batch identity, so a query only states its partial and its merge.
  `replay_partials_and_rows` is the same as a context manager that
  also yields the replayed rows, each tagged with its batch, while the
  replay file still exists (q476's exact audit).
* `run_stream(query)` — how every stream over a bounded source ends:
  `processAllAvailable()` returns once the source reports no new data
  AND every data and no-data micro-batch (the final watermark advance
  that flushes append-mode windows) has committed, so no result
  depends on wall-clock polling. It raises when a file source's
  directory is gone, so a replay stream drained after its block has
  exited fails instead of returning no rows. `collect_memory_sink`
  reads a memory sink back as a local relation (`materialize_local`).

The row-to-batch rule: in the single sorted file `replay_file` writes,
the row at position ``i`` (Spark's ``_metadata.row_index``, which
counts from the file's first row whatever split reads it) arrives in
micro-batch ``i DIV batch_rows``, and `drain_partials` checks that the
batches carrying rows are numbered ``0..k-1``. `_with_batch_id` is the
only place that states it.

`drain_partials` is the sketch family's sink. Each micro-batch's
partial is collected to the driver instead of appended to parquet:
with a per-batch `write.mode("append").parquet(...)` each ~20-batch
run paid ~20 FileFormatWriter commit protocols plus a read-back
(round 15: addBatch ~250 ms/batch, ~110 ms of it the write; tmpfs
changed nothing), and driver collection cut addBatch ~40%. The
partials come back as Arrow tables and leave as one JVM local relation
(`session.local_relation`), so the merge plan over them runs no Python
worker.

Driver accumulation is sound only because every partial is
SKETCH-grain — O(buckets | registers | counters | bottom-k samples)
rows per batch regardless of input volume — so the driver holds
n_batches x sketch-size rows, the same order as the queries' final
results. `MAX_PARTIAL_ROWS_PER_BATCH` enforces that in code.
Fact-grain streams keep a durable sink (`drain_rows`, or q453's own
foreachBatch file sink); the merge algebra downstream is the same
either way, which the all-rows DuckDB oracles prove.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import tempfile
import time
from collections.abc import Iterator
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cli_spark.session import local_relation, materialize_local, scoped_replay_ckpt_manager

# Target micro-batch count of the sketch streams. Read at call time
# so tests can patch it (the fast-mode fixture runs 5); the oracles
# hard-code the graded 20.
N_BATCHES = 20


def run_stream(query: StreamingQuery) -> None:
    """Drain a started stream over a BOUNDED source, then stop it.

    `processAllAvailable()` blocks until the source has no new data
    and the last batch (including any no-data batch that advances the
    watermark) has committed; it re-raises the query's failure. The
    stop runs in any case, so a failed or interrupted drain never
    leaks a running query.

    Out of scope: streams over an UNBOUNDED source. q427 and q444
    read `rate-micro-batch`, which always has another batch, so
    `processAllAvailable()` would never return, and available-now
    folds it into a single batch; they keep their data-predicate
    waits, which raise on a shortfall.

    Raises FileNotFoundError when a local file source's directory no
    longer exists once the drain returns: Spark's file source lists a
    missing directory as empty, so a replay stream started after its
    `replay_stream` block had removed the batch files would otherwise
    end with no rows and no error."""
    try:
        query.processAllAvailable()
        _check_file_sources(query)
    finally:
        query.stop()
        query.awaitTermination()


# toString of Spark's FileStreamSource: the qualified base path
_FILE_SOURCE = re.compile(r"FileStreamSource\[file:(.*)\]")


def _check_file_sources(query: StreamingQuery) -> None:
    """Raise FileNotFoundError naming the first local file-source path
    of ``query`` that matches nothing on disk. The sources are the
    started query's own (set before its first trigger), so the check
    reads no progress event and runs no Spark job."""
    sources = query._jsq.streamingQuery().sources()
    for i in range(sources.size()):
        m = _FILE_SOURCE.fullmatch(sources.apply(i).toString())
        if m and not (os.path.exists(m.group(1)) or glob.glob(m.group(1))):
            raise FileNotFoundError(
                f"{m.group(1)}: the stream's source directory is gone (a "
                "replay stream must run inside its replay_stream block)")


def collect_memory_sink(spark: SparkSession, name: str) -> DataFrame:
    """Materialize memory sink ``name`` as a local relation and drop
    its temp view, so repeated invocations in one session don't keep
    fully-materialized sink tables on the driver."""
    out = materialize_local(spark.table(name))
    spark.catalog.dropTempView(name)
    return out


# Hard per-batch ceiling enforcing the sketch-grain contract in CODE
# (round-16, VERDICT r15 item 2): every legitimate caller ships
# O(buckets | registers | counters | bottom-k samples) rows per batch
# — hundreds at most. A fact-grain stream routed through this helper
# would silently grow driver memory with input volume; failing fast at
# a bound two orders of magnitude above any sketch keeps the failure
# mode an exception, not an OOM.
MAX_PARTIAL_ROWS_PER_BATCH = 100_000


def drain_partials(
    spark: SparkSession,
    stream: DataFrame,
    partial_of: Callable[[DataFrame, int], DataFrame],
) -> DataFrame:
    """Run ``stream`` to completion under the default trigger,
    evaluating ``partial_of(batch_df, batch_id)`` in each micro-batch's
    foreachBatch and accumulating the partial's rows on the driver
    (``toArrow``), tagged with a ``batch_id`` long column. Returns ONE
    local relation holding every partial row (schema = the partial
    plan's schema + ``batch_id``).

    Raises ``ValueError`` when one batch's partial exceeds
    ``MAX_PARTIAL_ROWS_PER_BATCH`` rows — driver accumulation is only
    sound for sketch-grain partials; fact-grain streams must keep a
    durable sink (q453's parquet append is the reference). Raises
    ``RuntimeError`` when no batch carried input rows, or when the
    batches that did are not numbered ``0..k-1`` — the batch identity
    the callers' mid-stream splits rely on. The ids are read from
    ``recentProgress``, which keeps only the last
    ``spark.sql.streaming.numRecentProgressUpdates - 1`` progress events
    (99 by default, far more than the ~21 a sketch stream runs); it
    raises ``RuntimeError`` when the list is that long, because earlier
    events may have been dropped."""
    tables: list = []
    schema_cell: list = []

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        partial = partial_of(batch_df, batch_id).withColumn(
            "batch_id", F.lit(batch_id).cast("long"))
        if not schema_cell:
            schema_cell.append(partial.schema)
        # limit(cap + 1): a fact-grain batch trips the guard after at
        # most cap + 1 rows reach the driver, not after all of them
        batch = partial.limit(MAX_PARTIAL_ROWS_PER_BATCH + 1).toArrow()
        if batch.num_rows > MAX_PARTIAL_ROWS_PER_BATCH:
            raise ValueError(
                f"drain_partials: batch {batch_id} produced more than "
                f"{MAX_PARTIAL_ROWS_PER_BATCH} partial rows — partials must be "
                "sketch-grain; use a durable sink for fact-grain "
                "streams"
            )
        tables.append(batch)

    # FileSystem-API checkpoint file manager for the bounded replay
    # run (round 16: ~1.8 s/query; see session.py for what it does
    # and does not change)
    with scoped_replay_ckpt_manager(spark):
        query = stream.writeStream.foreachBatch(_sink).start()
        run_stream(query)
    # Spark drops the oldest event once the list reaches the cap, so a
    # full list holds cap - 1 events and may have lost earlier ones
    progress = query.recentProgress
    keeps = int(spark.conf.get("spark.sql.streaming.numRecentProgressUpdates")) - 1
    if len(progress) >= keeps:
        raise RuntimeError(
            f"replay stream's recentProgress holds {len(progress)} events, as "
            f"many as it keeps ({keeps}); earlier batch ids may be missing")
    # an empty source still runs one empty batch 0; there is nothing
    # to merge unless some batch carried rows
    data_ids = _data_batch_ids(progress)
    if not data_ids:
        raise RuntimeError("replay stream delivered no micro-batch with input rows")
    if data_ids != list(range(len(data_ids))):
        raise RuntimeError(
            f"replay stream's data batches are {data_ids}, not "
            f"0..{len(data_ids) - 1}")
    return local_relation(spark, tables, schema_cell[0])


def _data_batch_ids(progress: list) -> list[int]:
    """Ids of the batches that read input rows, ascending. A batch
    counts when its input rows are non-zero or, after the first batch
    (whose start offset is reported as none), when its source offsets
    moved: ``numInputRows`` comes from the batch plan's scan metrics,
    which stay 0 when a partial never reads its batch (a plan pruned to
    an empty relation), while the offsets record what the source
    delivered."""
    return sorted(
        p.batchId for p in progress
        if p.numInputRows
        or (p.batchId > 0
            and any(s.startOffset != s.endOffset for s in p.sources)))


def replay_row_count(part_path: str) -> int:
    """Row count of a parquet file straight from the footer metadata:
    the file's cardinality with no Spark count() job."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(part_path).metadata.num_rows


def replay_batch_rows(path: str, batches: int, min_rows: int = 1) -> tuple[int, int]:
    """``(n, batch_rows)`` for replaying the parquet file ``path`` in
    about ``batches`` micro-batches: ``n`` from the footer and
    ``batch_rows = max(min_rows, ceil(n / batches))``."""
    n = replay_row_count(path)
    return n, max(min_rows, -(-n // batches))


def _replay_table(path: str, order_by: tuple[str, ...]):
    """The parquet file (or directory) ``path`` as one Arrow table in
    replay order: sorted by ``order_by`` (a stable sort, so ties keep
    file order), with every timestamp cast to UTC micros. The cast
    truncates nanos, as the batch loader's ``ts div 1000`` does, and
    makes the stream read the file's naive values as UTC instants."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    if order_by:
        tbl = tbl.sort_by([(c, "ascending") for c in order_by])
    for i, field in enumerate(tbl.schema):
        if pa.types.is_timestamp(field.type):
            tbl = tbl.set_column(i, field.name, pc.cast(
                tbl.column(i), pa.timestamp("us", tz="UTC"), safe=False))
    return tbl


def _cut_batches(tbl, out_dir: str, batch_rows: int, files_per_batch: int,
                 batches: range, t0_ms: int) -> None:
    """Write batches ``batches`` of ``tbl`` into ``out_dir``: batch
    ``b`` is rows ``[b * batch_rows, (b + 1) * batch_rows)``, cut into
    ``files_per_batch`` contiguous files (some empty when the batch has
    fewer rows). File ``i`` in batch order gets mtime ``t0_ms + i`` ms,
    strictly increasing, which is the order the file source reads new
    files in."""
    import pyarrow.parquet as pq

    for b in batches:
        lo = b * batch_rows
        size = min(batch_rows, tbl.num_rows - lo)
        for k in range(files_per_batch):
            i = b * files_per_batch + k
            a = lo + size * k // files_per_batch
            z = lo + size * (k + 1) // files_per_batch
            f = os.path.join(out_dir, f"{i:06d}.parquet")
            pq.write_table(tbl.slice(a, z - a), f)
            os.utime(f, ns=((t0_ms + i) * 1_000_000,) * 2)


@contextmanager
def replay_in_phases(
    spark: SparkSession,
    path: str,
    batches: int,
    first_batches: int | None,
    *,
    min_rows: int = 1,
    order_by: tuple[str, ...] = (),
    start_row: int = 0,
    files_per_batch: int = 1,
) -> Iterator[tuple[DataFrame, Callable[[], None]]]:
    """Cut the parquet ``path`` into one directory of per-batch files
    (`replay_stream` states the layout) and yield ``(stream,
    cut_rest)``. Only batches ``0..first_batches-1`` are on disk on
    entry (all of them when ``first_batches`` is None); ``cut_rest()``
    writes the others into the same directory, where a restart from
    the stream's checkpoint picks them up. The directory is removed on
    exit, also when the body raises, so the stream must not outlive
    the block (`run_stream` raises on a stream that does). No Spark job
    runs here: the cut is pyarrow, and the stream's schema is the Arrow
    table's."""
    from pyspark.sql.pandas.types import from_arrow_schema

    tbl = _replay_table(path, order_by)
    batch_rows = max(min_rows, -(-tbl.num_rows // batches))
    tbl = tbl.slice(start_row)
    n_batches = -(-tbl.num_rows // batch_rows)
    split = n_batches if first_batches is None else min(first_batches, n_batches)
    # the newest file gets an mtime near now: the file source's
    # maxFileAge counts back from the newest file it has seen
    t0_ms = time.time_ns() // 1_000_000 - n_batches * files_per_batch
    tmp = tempfile.mkdtemp(prefix="replay_stream_")
    try:
        _cut_batches(tbl, tmp, batch_rows, files_per_batch, range(split), t0_ms)
        stream = (
            spark.readStream.schema(from_arrow_schema(tbl.schema))
            .option("maxFilesPerTrigger", files_per_batch)
            .parquet(tmp)
        )
        yield stream, lambda: _cut_batches(
            tbl, tmp, batch_rows, files_per_batch, range(split, n_batches), t0_ms)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@contextmanager
def replay_stream(
    spark: SparkSession,
    path: str,
    batches: int,
    *,
    min_rows: int = 1,
    order_by: tuple[str, ...] = (),
    start_row: int = 0,
    files_per_batch: int = 1,
) -> Iterator[DataFrame]:
    """Yield the parquet file ``path`` replayed as a stream of
    ``batch_rows = max(min_rows, ceil(n / batches))`` rows per
    micro-batch (`replay_batch_rows`), in ``order_by`` order, from row
    ``start_row`` on. Each batch is ``files_per_batch`` files of Spark's
    file source, read ``maxFilesPerTrigger = files_per_batch`` at a
    time; the files are removed on exit (`replay_in_phases`)."""
    with replay_in_phases(
        spark, path, batches, None, min_rows=min_rows, order_by=order_by,
        start_row=start_row, files_per_batch=files_per_batch,
    ) as (stream, _):
        yield stream


@contextmanager
def drain_rows(
    spark: SparkSession, stream: DataFrame, output_mode: str = "append"
) -> Iterator[DataFrame]:
    """Run ``stream`` to completion (`run_stream`) into a foreachBatch
    sink that appends every micro-batch to parquet in a temp dir, and
    yield the rows read back, with the stream's schema (an empty frame
    when no batch emitted a row). The dir is removed on exit, also when
    the stream or the body raises, so the body must materialize what
    it returns.

    For per-row (fact-grain) output — joins, dedup survivors, running
    totals — which must land in a distributed sink, not on the driver
    (`drain_partials` is the sketch-grain drain)."""
    tmp = tempfile.mkdtemp(prefix="drain_rows_")
    try:
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("append").parquet(tmp)

        run_stream(
            stream.writeStream.foreachBatch(sink).outputMode(output_mode).start())
        yield spark.read.schema(stream.schema).parquet(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@contextmanager
def replay_file(
    spark: SparkSession,
    rows: DataFrame,
    order_by: tuple[str | Column, ...],
    drop: tuple[str, ...] = (),
) -> Iterator[str]:
    """Write ``rows`` as ONE parquet file sorted by ``order_by``, minus
    the ``drop`` columns, and yield its path. The temp dir is removed
    on exit, also when the body raises.

    The file is `replay_stream`'s input, which cuts it into batches in
    row order, so the sort here IS the stream's arrival order
    (repartition(1) + an in-partition sort — no driver collect, no
    global range exchange)."""
    tmp = tempfile.mkdtemp(prefix="replay_")
    try:
        (
            rows.repartition(1)
            .sortWithinPartitions(*order_by)
            .drop(*drop)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        [path] = glob.glob(os.path.join(tmp, "part-*.parquet"))
        yield path
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _with_batch_id(spark: SparkSession, path: str, batch_rows: int) -> DataFrame:
    """The replay file ``path`` read back, each row tagged with the
    ``batch_id`` of the micro-batch `replay_stream` cut it into:
    ``_metadata.row_index DIV batch_rows``. The row index is the row's
    position in the file, also when the scan reads the file in several
    splits, so no sort, window or single partition is needed. The
    schema comes from the footer, so no schema-inference job runs."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    return (
        spark.read.schema(from_arrow_schema(pq.read_schema(path))).parquet(path)
        .select("*", F.expr(f"_metadata.row_index DIV {batch_rows}")
                .alias("batch_id"))
    )


@contextmanager
def replay_partials_and_rows(
    spark: SparkSession,
    rows: DataFrame,
    order_by: tuple[str | Column, ...],
    partial_of: Callable[[DataFrame, int], DataFrame],
    drop: tuple[str, ...] = (),
) -> Iterator[tuple[DataFrame, DataFrame, int, int, int]]:
    """Replay ``rows`` (sorted by ``order_by``, minus ``drop``) through
    ~``N_BATCHES`` TRUE micro-batches, drain each batch's
    ``partial_of(batch_df, batch_id)`` to the driver, and yield
    ``(parts, replayed, n, batch_rows, n_batches)``: `replay_partials`'
    four values, plus ``replayed``, the replay file itself with every
    row tagged with the ``batch_id`` it arrived in (`_with_batch_id`),
    for an exact audit of the same batches. The file is removed on
    exit, also when the body raises, so the body must collect what it
    reads of ``replayed``; ``parts`` never references it."""
    with replay_file(spark, rows, order_by, drop) as path:
        n, batch_rows = replay_batch_rows(path, N_BATCHES)
        with replay_stream(spark, path, N_BATCHES) as stream:
            parts = drain_partials(spark, stream, partial_of)
        yield (parts, _with_batch_id(spark, path, batch_rows), n, batch_rows,
               -(-n // batch_rows))


def replay_partials(
    spark: SparkSession,
    rows: DataFrame,
    order_by: tuple[str | Column, ...],
    partial_of: Callable[[DataFrame, int], DataFrame],
    drop: tuple[str, ...] = (),
) -> tuple[DataFrame, int, int, int]:
    """Replay ``rows`` (sorted by ``order_by``, minus ``drop``) through
    ~``N_BATCHES`` TRUE micro-batches and drain each batch's
    ``partial_of(batch_df, batch_id)`` to the driver
    (`replay_partials_and_rows`).

    Returns ``(parts, n, batch_rows, n_batches)``: the local relation
    of every partial row tagged with ``batch_id``, the replayed row
    count, ``batch_rows = ceil(n / N_BATCHES)`` and
    ``n_batches = ceil(n / batch_rows)`` — the oracles' ``bsz`` and
    ``nb`` CTEs. The temp file is gone by the time this returns; the
    partials never reference it.

    Batch identity: `replay_stream` cuts the file into consecutive
    ``batch_rows``-row batch files, and `drain_partials` checks that the
    batches carrying rows are numbered ``0..k-1``, so batch
    ``batch_id`` holds rows ``[batch_id * batch_rows,
    (batch_id + 1) * batch_rows)`` of the sorted file and
    ``k == n_batches``. Row to batch: the row at file position ``i``
    (``_metadata.row_index``) is in batch ``i DIV batch_rows``, the tag
    `replay_partials_and_rows` puts on the replayed rows. A first-half
    split is therefore ``batch_id < n_batches DIV 2`` — the oracles'
    ``rn <= (nb DIV 2) * bsz``, since ``rn = i + 1``. It is the same
    split the old ``dense_rank`` form took: every data batch of a
    histogram or HLL stream yields a non-empty partial, so its dense
    rank over the partials' batch ids was ``batch_id + 1`` and its
    maximum was ``n_batches``. ``n_batches`` never comes from the
    partials, whose batches can be empty (q479: an all-singleton batch
    has no Misra-Gries counter)."""
    with replay_partials_and_rows(
        spark, rows, order_by, partial_of, drop
    ) as (parts, _, n, batch_rows, n_batches):
        return parts, n, batch_rows, n_batches
