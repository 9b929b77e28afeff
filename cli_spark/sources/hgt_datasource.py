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
`hgt.grid` (north-edge-first rows, fencepost grid, void→NULL), the
`hgt.cell_of` name rule (canonical cell, S/W-signed corners) and the
`hgt.axes` coordinate rule, so the two decoders' rows are asserted
equal in tests/test_hgt.py.

Window rule: the pushed ``lat``/``lng`` comparisons and ``cell``
equality select one row/column window per cell (`_window`). A row is
cut only when its lat fails a pushed lat filter, a column only when its
lng fails a pushed lng filter, compared on the doubles the reader
emits; a NaN literal never cuts. A cell whose window is empty is not
scheduled, and a task decodes only its cell's window — the point lookup
of gmalt/cli [A7] reads one sample, a bbox lookup one block. All
filters are still returned to Spark and re-applied after the scan, so
the window never changes a result.

Usage::

    register_hgt_source(spark)          # once per session
    df = spark.read.format("hgt").load("/data/srtm/")
    # ├─ cell: string   ├─ lat: double  ├─ lng: double  ├─ alt: int (NULL = void)
"""

from __future__ import annotations

import glob
import math
import operator
import os
from collections.abc import Callable, Iterator

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


# The pushed comparisons that can cut rows or columns of a cell's grid.
_COMPARE = {EqualTo: operator.eq, GreaterThan: operator.gt,
            GreaterThanOrEqual: operator.ge, LessThan: operator.lt,
            LessThanOrEqual: operator.le}


def _cut_of(f: Filter) -> tuple[str, Callable, object] | None:
    """``(column, comparison, value)`` for a pushed filter that can cut
    the scan: a comparison of ``lat`` or ``lng`` with a number, or
    ``cell = <name>``; None for every other filter. A NaN never cuts:
    Spark orders NaN above every double (``lat < NaN`` holds on every
    row), where a numpy comparison with NaN is false."""
    op = _COMPARE.get(type(f))
    if op is None or len(f.attribute) != 1:
        return None
    col = f.attribute[0]
    if col == "cell":
        return (col, op, f.value) if op is operator.eq else None
    if col not in ("lat", "lng"):
        return None
    try:
        v = float(f.value)
    except (TypeError, ValueError):
        return None
    return None if math.isnan(v) else (col, op, v)


def _window(cuts: list, cell: str, lats: np.ndarray, lngs: np.ndarray
            ) -> tuple[slice, slice] | None:
    """The rows and columns of one cell's grid that the pushed ``cuts``
    can select, as one (row slice, column slice) window; None when no
    sample of the cell can pass. A row is cut only when its lat fails a
    lat filter, a column only when its lng fails a lng filter, each
    compared on the very doubles `read` emits (``lats``/``lngs`` from
    `hgt.axes`), so every sample that passes all cuts lies in the
    window."""
    import numpy as np

    keep = {"lat": np.ones(lats.size, bool), "lng": np.ones(lngs.size, bool)}
    coords = {"lat": lats, "lng": lngs}
    for col, op, v in cuts:
        if col == "cell":
            if cell != v:
                return None
        else:
            keep[col] &= op(coords[col], v)
    rows, cols = np.flatnonzero(keep["lat"]), np.flatnonzero(keep["lng"])
    if not rows.size or not cols.size:
        return None
    return slice(rows[0], rows[-1] + 1), slice(cols[0], cols[-1] + 1)


class HgtReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("hgt source requires a path: .load('/dir/of/hgt')")
        self.cuts: list[tuple[str, Callable, object]] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Window pushdown: comparisons of ``lat``/``lng`` with a number
        and ``cell`` equality select, per cell file, the one row/column
        window of its grid that can hold matching samples (`_window`).
        `partitions` drops the cells whose window is empty at plan time
        (a bbox query over a 28M-cell corpus schedules only the
        intersecting cells) and `read` decodes only the window.
        Every filter is also returned, so Spark re-applies all of them
        row by row after the scan: the window only ever holds more rows
        than the query keeps, and a result never depends on it."""
        for f in filters:
            cut = _cut_of(f)
            if cut:
                self.cuts.append(cut)
            yield f

    def _keeps(self, path: str) -> bool:
        """Whether the cell file ``path`` has a non-empty window, with
        the grid side taken from its size. A file with no cell name or
        no square-grid size is kept, so `read` raises naming it."""
        from cli_spark.sources.hgt import axes, cell_of, grid_side

        n = grid_side(os.path.getsize(path))
        try:
            cell, lat0, lng0 = cell_of(path)
        except ValueError:
            return True
        return not n or _window(self.cuts, cell, *axes(n, lat0, lng0)) is not None

    def partitions(self) -> list[InputPartition]:
        """One partition per cell file whose window is non-empty —
        planner-side listing only (names and sizes, never content)."""
        if os.path.isdir(self.path):
            files = sorted(glob.glob(os.path.join(self.path, "*.hgt")))
        else:
            files = [self.path]
        if not files:
            raise FileNotFoundError(f"no .hgt files under {self.path}")
        # Fully-pruned scans return []; the planner worker then calls
        # read(None) once, which read() guards against (yields nothing).
        return [InputPartition(f) for f in files if self._keeps(f)]

    def read(self, partition: InputPartition) -> Iterator:
        """Decode one cell file's window → one Arrow RecordBatch
        (vectorized; the ``cell`` column is one repeated scalar)."""
        import numpy as np
        import pyarrow as pa

        from cli_spark.sources.hgt import VOID, axes, cell_of, grid

        if partition is None:
            # Fully-pruned scan: when partitions() returns [], Spark's
            # planner worker substitutes [None] and still calls
            # read(None) once — yield no batches so the query returns
            # 0 rows instead of crashing on `None.value`.
            return
        path = partition.value
        cell, corner_lat, corner_lng = cell_of(path)
        with open(path, "rb") as fh:
            g = grid(fh.read(), path)
        lats, lngs = axes(g.shape[0], corner_lat, corner_lng)
        win = _window(self.cuts, cell, lats, lngs)
        if win is None:
            return
        rows, cols = win
        alt = g[rows, cols].astype(np.int32)
        h, w = alt.shape
        alt = alt.ravel()
        yield pa.RecordBatch.from_arrays(
            [
                pa.repeat(pa.scalar(cell, pa.string()), alt.size),
                pa.array(np.repeat(lats[rows], w), type=pa.float64()),
                pa.array(np.tile(lngs[cols], h), type=pa.float64()),
                pa.array(alt, type=pa.int32(), mask=(alt == VOID)),
            ],
            names=["cell", "lat", "lng", "alt"],
        )


def register_hgt_source(spark) -> None:
    """Make ``format("hgt")`` available on this session (idempotent)."""
    spark.dataSource.register(HgtDataSource)
