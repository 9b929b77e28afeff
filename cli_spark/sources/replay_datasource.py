"""`spark.readStream.format("replay")` — a Spark 4 Python STREAMING
DataSource that replays a parquet file as a deterministic sequence of
micro-batches (`batchRows` rows per batch, in row order).

Why it exists: the driver testdata ships each table as ONE parquet
file, so Spark's file stream source delivers the whole table in a
single micro-batch — watermark advancement, state eviction and
cross-batch accumulation never actually happen in the graded
streaming queries. This source restores multi-batch reality for the
pytest layer: the same events flow through N batches with monotone
offsets, so stateful operators are exercised the way a production
stream would (tests/test_streaming.py asserts >= 2 micro-batches AND
bit-equality with the batch result).

Scale note: this is the SimpleDataSourceStreamReader form — offsets
are plain row indices and reads happen driver-side, which is exactly
right for replaying test fixtures (bounded, deterministic). A
production-scale replay (100 TB of history) uses the partitioned
DataSourceStreamReader: per-batch `partitions(start, end)` splitting
the row range across executors — same offset contract, executor-side
reads (the hgt source, sources/hgt_datasource.py, shows that shape
for batch).

Timestamps: parquet TIMESTAMP(NANOS) (the events table's `ts`) is
converted to microseconds in the reader — the stream's consumer needs
no `nanosAsLong` conf, unlike the file-source path in
`tables.events_stream`.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader


# Arrow type -> Spark DDL type; anything else is read as string
_SPARK_TYPES = {
    "int64": "long",
    "int32": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "large_string": "string",
    "bool": "boolean",
}


def _ddl_for(path: str) -> str:
    """The Spark schema of a parquet file or directory, from the
    footer metadata alone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    return ", ".join(
        f"{f.name} "
        + ("timestamp" if pa.types.is_timestamp(f.type)
           else _SPARK_TYPES.get(str(f.type), "string"))
        for f in pq.ParquetDataset(path).schema)


def _rows_of(tbl) -> list[tuple]:
    """An Arrow table's rows as tuples. NULL stays None in every
    column type (a pandas round-trip turns a NULL integer into a NaN
    double). Timestamps come out as UTC-aware micros: Spark's
    streaming-source row conversion rejects tz-naive timestamps, and
    the batch loader treats the file's naive values as UTC instants
    (truncating nanos, as the batch loader's ``ts div 1000`` does)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = []
    for field, col in zip(tbl.schema, tbl.columns):
        if pa.types.is_timestamp(field.type):
            col = pc.cast(col, pa.timestamp("us", tz="UTC"), safe=False)
        cols.append(col.to_pylist())
    return list(zip(*cols))


def _end_row(options, n_rows: int) -> int:
    """The ``endRow`` option clamped to the file (default: its end)."""
    end = options.get("endrow", options.get("endRow"))
    if end is None:
        return n_rows
    if int(end) < 0:
        raise ValueError("endRow must be >= 0")
    return min(int(end), n_rows)


class ReplayDataSource(DataSource):
    """Replays one parquet file as row-ordered micro-batches."""

    @classmethod
    def name(cls) -> str:
        return "replay"

    def schema(self) -> str:
        path = self.options.get("path")
        if not path or not os.path.exists(path):
            raise ValueError(f"replay source requires an existing path, got {path!r}")
        return _ddl_for(path)

    def simpleStreamReader(self, schema) -> "ReplayStreamReader":
        return ReplayStreamReader(self.options)


class ReplayStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options) -> None:
        self.path = options.get("path")
        self.batch_rows = int(options.get("batchrows", options.get("batchRows", 10000)))
        # startRow: begin the replay mid-file (the backfill-cutover
        # contract, q337) — the batch side owns rows < startRow
        self.start_row = int(options.get("startrow", options.get("startRow", 0)))
        if self.batch_rows <= 0 or self.start_row < 0:
            raise ValueError("batchRows must be positive and startRow >= 0")
        import pyarrow.parquet as pq

        self._tbl = pq.read_table(self.path)
        # endRow: stop the replay before this row (the source runs dry
        # there) — a deterministic mid-stream stop for the restart
        # queries (q310), whose resumed run omits the option
        self.end_row = _end_row(options, self._tbl.num_rows)
        if self.end_row < self.start_row:
            raise ValueError("endRow must be >= startRow")
        # orderBy: replay in a deterministic sort order instead of
        # file order (comma-separated columns; stable mergesort so
        # ties keep file order). An event-time-ordered replay makes
        # watermark semantics drop-free for any delay ≥ 0 — the
        # contract q354's chained windowed aggregations grade against.
        order = options.get("orderby", options.get("orderBy"))
        if order:
            cols = [c.strip() for c in order.split(",") if c.strip()]
            self._tbl = self._tbl.sort_by([(c, "ascending") for c in cols])

    def initialOffset(self) -> dict:
        return {"row": self.start_row}

    def _rows(self, lo: int, hi: int) -> "_CopyableRows":
        # Spark's prefetch cache needs an object that is BOTH an
        # iterator (add_result_to_cache drives it with next()) AND
        # copyable/picklable (planPartitions copy.copy()s cache
        # entries) — a plain generator fails the second, a plain list
        # the first
        return _CopyableRows(_rows_of(self._tbl.slice(lo, hi - lo)))

    def read(self, start: dict):
        lo = start["row"]
        hi = min(lo + self.batch_rows, self.end_row)
        return self._rows(lo, hi), {"row": hi}

    def readBetweenOffsets(self, start: dict, end: dict) -> "_CopyableRows":
        return self._rows(start["row"], end["row"])


class _CopyableRows:
    """List-backed iterator supporting copy.copy at the current
    position (shares the row list, copies the cursor)."""

    def __init__(self, rows: list[tuple], pos: int = 0) -> None:
        self.rows = rows
        self.pos = pos

    def __iter__(self) -> "_CopyableRows":
        return self

    def __next__(self) -> tuple:
        if self.pos >= len(self.rows):
            raise StopIteration
        row = self.rows[self.pos]
        self.pos += 1
        return row

    def __copy__(self) -> "_CopyableRows":
        return _CopyableRows(self.rows, self.pos)


def register_replay_source(spark) -> None:
    spark.dataSource.register(ReplayDataSource)
