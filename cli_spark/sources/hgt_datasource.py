"""`spark.read.format("hgt")` — a Spark 4 Python DataSource for SRTM
elevation grids, the idiomatic final form of the A6 grid scan.

Where `sources/hgt.py` composes binaryFile + mapInPandas (two plan
nodes), this registers a first-class source: the planner asks
:meth:`HgtReader.partitions` for the file list (one input partition
per 1°-cell file — the natural parallelism unit; a 100 TB corpus is
~28M cells → ~28M independent splits, schedulable across any number
of executors), and each task decodes its file vectorized in numpy and
ships Arrow RecordBatches straight into the scan node — no Python row
loop anywhere.

Each file decodes through the same helpers as `hgt.decode_points`:
`hgt.grid` (north-edge-first rows, fencepost grid, void→NULL) and the
`hgt.cell_of` name rule (canonical cell, S/W-signed corners), so the
two decoders' rows are asserted equal in tests/test_hgt.py.

Usage::

    register_hgt_source(spark)          # once per session
    df = spark.read.format("hgt").load("/data/srtm/")
    # ├─ cell: string   ├─ lat: double  ├─ lng: double  ├─ alt: int (NULL = void)
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

SCHEMA = "cell string, lat double, lng double, alt int"


class HgtDataSource(DataSource):
    """Python DataSource (Spark 4 API) for directories of `.hgt` files."""

    @classmethod
    def name(cls) -> str:
        return "hgt"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> "HgtReader":
        return HgtReader(self.options)


class HgtReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("hgt source requires a path: .load('/dir/of/hgt')")
        self.pushed: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Partition-pruning pushdown: lat/lng range predicates and
        cell equality prune whole 1°-cell FILES at plan time (a bbox
        query over a 28M-cell corpus schedules only the intersecting
        cells instead of all of them). Pruning is conservative —
        every filter is also returned, so Spark still applies it
        row-level post-scan and correctness never depends on the
        pruning logic."""
        for f in filters:
            if (
                isinstance(f, (EqualTo, GreaterThan, GreaterThanOrEqual,
                               LessThan, LessThanOrEqual))
                and len(f.attribute) == 1
                and f.attribute[0] in ("lat", "lng", "cell")
            ):
                self.pushed.append(f)
            yield f  # pruning-only: Spark re-evaluates everything

    def _cell_survives(self, path: str) -> bool:
        """Conservative bbox test for one cell file against pushed filters.

        A cell named for corner (lat0, lng0) covers the CLOSED square
        [lat0, lat0+1] × [lng0, lng0+1] (fencepost rows/cols include
        both edges), so interval tests are inclusive."""
        from cli_spark.sources.hgt import cell_of

        try:
            cell, lat0, lng0 = cell_of(path)
        except ValueError:
            return True  # unparseable name: never prune (read() raises)
        lo = {"lat": float(lat0), "lng": float(lng0)}
        hi = {"lat": float(lat0) + 1.0, "lng": float(lng0) + 1.0}
        for f in self.pushed:
            col = f.attribute[0]
            if col == "cell":
                if isinstance(f, EqualTo) and cell != f.value:
                    return False
                continue
            try:
                v = float(f.value)
            except (TypeError, ValueError):
                continue
            if isinstance(f, EqualTo) and not (lo[col] <= v <= hi[col]):
                return False
            if isinstance(f, GreaterThan) and not (hi[col] > v):
                return False
            if isinstance(f, GreaterThanOrEqual) and not (hi[col] >= v):
                return False
            if isinstance(f, LessThan) and not (lo[col] < v):
                return False
            if isinstance(f, LessThanOrEqual) and not (lo[col] <= v):
                return False
        return True

    def partitions(self) -> list[InputPartition]:
        """One partition per surviving cell file — planner-side listing
        only (names and sizes, never content); pushed bbox predicates
        prune non-intersecting cells before any task is scheduled."""
        if os.path.isdir(self.path):
            files = sorted(glob.glob(os.path.join(self.path, "*.hgt")))
        else:
            files = [self.path]
        if not files:
            raise FileNotFoundError(f"no .hgt files under {self.path}")
        kept = [f for f in files if self._cell_survives(f)]
        # Fully-pruned scans return []; the planner worker then calls
        # read(None) once, which read() guards against (yields nothing).
        return [InputPartition(f) for f in kept]

    def read(self, partition: InputPartition) -> Iterator:
        """Decode one cell file → Arrow RecordBatch (vectorized)."""
        import numpy as np
        import pyarrow as pa

        from cli_spark.sources.hgt import VOID, cell_of, grid

        if partition is None:
            # Fully-pruned scan: when partitions() returns [], Spark's
            # planner worker substitutes [None] and still calls
            # read(None) once — yield no batches so the query returns
            # 0 rows instead of crashing on `None.value`.
            return
        path = partition.value
        cell, corner_lat, corner_lng = cell_of(path)
        with open(path, "rb") as fh:
            g = grid(fh.read(), path).astype(np.int32)
        n = g.shape[0]
        alt = g.ravel()
        step = 1.0 / (n - 1)
        lats = corner_lat + 1 - np.arange(n) * step  # row 0 = north edge
        lngs = corner_lng + np.arange(n) * step
        lat_m, lng_m = np.meshgrid(lats, lngs, indexing="ij")
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([cell] * (n * n), type=pa.string()),
                pa.array(lat_m.ravel(), type=pa.float64()),
                pa.array(lng_m.ravel(), type=pa.float64()),
                pa.array(alt, type=pa.int32(), mask=(alt == VOID)),
            ],
            names=["cell", "lat", "lng", "alt"],
        )


def register_hgt_source(spark) -> None:
    """Make ``format("hgt")`` available on this session (idempotent)."""
    spark.dataSource.register(HgtDataSource)
