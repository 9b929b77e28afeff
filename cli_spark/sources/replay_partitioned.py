"""`spark.readStream.format("replay_part")` — the PARTITIONED Spark 4
Python streaming DataSource: executor-side reads, the production form
the simple replay source's docstring promises (replay_datasource.py
reads driver-side via SimpleDataSourceStreamReader; that is right for
small fixtures but serializes all IO through the driver).

Offset contract is identical to the simple source (monotone row
indices over one parquet file, ``batchRows`` rows per micro-batch),
but batch planning goes through the full DataSourceStreamReader API:

* ``latestOffset`` advances the end offset one batch at a time
  (driver-side metadata only — one parquet-footer row count read at
  construction);
* ``partitions(start, end)`` splits the batch's row range into
  ``numPartitions`` contiguous slices, each annotated with the
  parquet ROW GROUPS it overlaps, so
* ``read(partition)`` — running ON AN EXECUTOR — opens the file
  itself, reads ONLY the overlapping row groups, and slices its row
  range out. No rows ever flow through the driver; at 100 TB this is
  N executors each pulling their own row-group byte ranges from
  object storage.

Used by q330 (graded: multi-batch windowed aggregation must equal the
batch oracle exactly), q352 (checkpoint restart through this source)
and tests/test_streaming.py (partition-planning unit contract +
batch/stream equality).
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from cli_spark.sources.replay_datasource import _ddl_for, _end_row, _rows_of


class RangePartition(InputPartition):
    """One contiguous row slice [lo, hi) of the file, with the row
    offset of the first overlapping parquet row group (rg_row0) and
    the row-group index range [rg_lo, rg_hi) to read."""

    def __init__(self, path: str, lo: int, hi: int,
                 rg_lo: int, rg_hi: int, rg_row0: int) -> None:
        self.path = path
        self.lo = lo
        self.hi = hi
        self.rg_lo = rg_lo
        self.rg_hi = rg_hi
        self.rg_row0 = rg_row0


class ReplayPartitionedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "replay_part"

    def schema(self) -> str:
        path = self.options.get("path")
        if not path or not os.path.exists(path):
            raise ValueError(f"replay_part requires an existing path, got {path!r}")
        return _ddl_for(path)

    def streamReader(self, schema) -> "ReplayPartitionedStreamReader":
        return ReplayPartitionedStreamReader(self.options)


class ReplayPartitionedStreamReader(DataSourceStreamReader):
    def __init__(self, options) -> None:
        import pyarrow.parquet as pq

        self.path = options.get("path")
        self.batch_rows = int(options.get("batchrows", options.get("batchRows", 10000)))
        self.num_partitions = int(
            options.get("numpartitions", options.get("numPartitions", 4)))
        if self.batch_rows <= 0 or self.num_partitions <= 0:
            raise ValueError("batchRows and numPartitions must be positive")
        meta = pq.ParquetFile(self.path)
        self.n_rows = meta.metadata.num_rows
        # endRow: the replay runs dry there (same contract as replay's)
        self.end_row = _end_row(options, self.n_rows)
        # row offset of each row group (driver-side footer metadata)
        self.rg_starts = []
        acc = 0
        for i in range(meta.metadata.num_row_groups):
            self.rg_starts.append(acc)
            acc += meta.metadata.row_group(i).num_rows

        self._floor = 0  # highest offset planned or committed so far

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        # advance at most one batch past the planning floor (rate
        # limiting is the source's job in this API). The floor is
        # in-memory only; a checkpoint RESTART seeds it because Spark
        # 4.1.2 re-plans the last logged offset before its first
        # latestOffset call (observed: partitions(200, 200) on q352's
        # restart at row 200), and partitions() raises the floor.
        return {"row": min(self.end_row, self._floor + self.batch_rows)}

    def commit(self, end: dict) -> None:
        self._floor = max(self._floor, end["row"])

    def _rg_range(self, lo: int, hi: int) -> tuple[int, int, int]:
        """Row groups overlapping rows [lo, hi) and the row offset of
        the first one."""
        import bisect

        rg_lo = bisect.bisect_right(self.rg_starts, lo) - 1
        rg_hi = bisect.bisect_left(self.rg_starts, hi, rg_lo + 1)
        return rg_lo, rg_hi, self.rg_starts[rg_lo]

    def partitions(self, start: dict, end: dict) -> Sequence[RangePartition]:
        lo, hi = start["row"], end["row"]
        self._floor = max(self._floor, hi)
        total = hi - lo
        if total <= 0:
            return [RangePartition(self.path, lo, lo, 0, 0, 0)]
        out = []
        step = -(-total // self.num_partitions)  # ceil
        for p_lo in range(lo, hi, step):
            p_hi = min(p_lo + step, hi)
            rg_lo, rg_hi, rg_row0 = self._rg_range(p_lo, p_hi)
            out.append(RangePartition(self.path, p_lo, p_hi, rg_lo, rg_hi, rg_row0))
        return out

    def read(self, partition: RangePartition) -> Iterator[tuple]:
        # EXECUTOR-side: open the file here, touch only the row groups
        # this slice overlaps
        if partition.hi <= partition.lo:
            return iter(())
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.path)
        tbl = pf.read_row_groups(list(range(partition.rg_lo, partition.rg_hi)))
        chunk = tbl.slice(partition.lo - partition.rg_row0,
                          partition.hi - partition.lo)
        return iter(_rows_of(chunk))


def register_replay_partitioned(spark) -> None:
    spark.dataSource.register(ReplayPartitionedDataSource)
