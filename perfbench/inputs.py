"""Input generation for the benchmark: the ``events`` table the stream
query reads, and seeded SRTM3 elevation cells.

The table follows the schema the registry's loader expects
(FIXTURES.md §A) at the sf0.01 row count. Its contents come from a
fixed generator seed, not from the workload seed: the stream's oracle
compares float estimates computed by two engines, and a fixed table is
checked against it once for all runs. The workload seed drives the HGT
cells and the lookup boxes.

The HGT cells are 1201×1201 big-endian int16 grids (SRTM3) with about
1% voids (-32768), written under their SRTM file names so both the
``binaryFile`` and the ``format("hgt")`` scans parse their corners.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
EVENT_ROWS = 10_000
VOID = -32768
HGT_N = 1201

_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def make_events(seed: int = TABLE_SEED, rows: int = EVENT_ROWS) -> pa.Table:
    """The ``events`` table: ids in order, timestamps sorted over January
    2024, 150 users, five event types (deterministic in ``seed``)."""
    rng = np.random.default_rng(seed)
    month_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, month_us, rows))
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, rows).astype(np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, rows)),
        "value": pa.array(np.round(rng.uniform(0.01, 490.02, rows), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
    })


def write_events(directory: str) -> str:
    """Write ``events.parquet`` under ``directory``; returns ``directory``."""
    os.makedirs(directory, exist_ok=True)
    pq.write_table(make_events(), os.path.join(directory, "events.parquet"))
    return directory


# ----------------------------------------------------------------- HGT


def cell_name(lat: int, lng: int) -> str:
    """SRTM file stem for the cell whose south-west corner is (lat, lng)."""
    return f"{'N' if lat >= 0 else 'S'}{abs(lat):02d}{'E' if lng >= 0 else 'W'}{abs(lng):03d}"


def cell_axes(lat: int, lng: int, n: int = HGT_N) -> tuple[np.ndarray, np.ndarray]:
    """Latitude of each row (row 0 = north edge) and longitude of each
    column, computed with the same float expression both decoders use."""
    step = 1.0 / (n - 1)
    return lat + 1 - np.arange(n) * step, lng + np.arange(n) * step


@dataclass(frozen=True)
class HgtCell:
    lat: int
    lng: int
    grid: np.ndarray  # (n, n) int32, VOID marks missing samples

    @property
    def name(self) -> str:
        return cell_name(self.lat, self.lng)


def make_hgt_cells(seed: int, count: int, n: int = HGT_N) -> list[HgtCell]:
    """``count`` adjacent cells in a 2-row block at a seeded location,
    each a smooth seeded terrain field plus noise with ~1% voids."""
    rng = np.random.default_rng(seed)
    lat0 = int(rng.integers(-50, 45))
    lng0 = int(rng.integers(-170, 160))
    cols = (count + 1) // 2
    y, x = np.meshgrid(np.linspace(0, 1, n), np.linspace(0, 1, n), indexing="ij")
    cells = []
    for i in range(count):
        lat, lng = lat0 + i // cols, lng0 + i % cols
        ph = rng.uniform(0, 2 * np.pi, 3)
        field = (1500 + 900 * np.sin(3 * x + ph[0]) * np.cos(2 * y + ph[1])
                 + 300 * np.sin(11 * (x + y) + ph[2]))
        grid = (field + rng.normal(0, 20, (n, n))).astype(np.int32)
        grid[rng.random((n, n)) < 0.01] = VOID
        cells.append(HgtCell(lat, lng, grid))
    return cells


def write_hgt_cells(cells: list[HgtCell], directory: str) -> str:
    """Write each cell as ``<name>.hgt`` (big-endian int16) under ``directory``."""
    os.makedirs(directory, exist_ok=True)
    for c in cells:
        c.grid.astype(">i2").tofile(os.path.join(directory, f"{c.name}.hgt"))
    return directory


def cell_rollup(cell: HgtCell) -> tuple[int, int, int, int, int]:
    """(points, voids, min, max, sum) of one cell — the decode ground truth."""
    valid = cell.grid[cell.grid != VOID]
    return (cell.grid.size, cell.grid.size - valid.size,
            int(valid.min()), int(valid.max()), int(valid.sum()))


def box_rollup(cells: list[HgtCell], box: tuple[float, float, float, float]
               ) -> tuple[int, int, int | None, int | None, int | None]:
    """(points, voids, min, max, sum) over every sample inside the closed
    box (lat_lo, lat_hi, lng_lo, lng_hi). Samples on shared cell edges
    appear once per cell, as both decoders emit them."""
    lat_lo, lat_hi, lng_lo, lng_hi = box
    vals = []
    points = 0
    for c in cells:
        lats, lngs = cell_axes(c.lat, c.lng, c.grid.shape[0])
        rows = (lats >= lat_lo) & (lats <= lat_hi)
        cols = (lngs >= lng_lo) & (lngs <= lng_hi)
        sub = c.grid[np.ix_(rows, cols)]
        points += sub.size
        vals.append(sub[sub != VOID])
    valid = np.concatenate(vals) if vals else np.empty(0, np.int32)
    if valid.size == 0:
        return points, points, None, None, None
    return (points, points - valid.size, int(valid.min()), int(valid.max()),
            int(valid.sum()))


def make_boxes(seed: int, cells: list[HgtCell], count: int
               ) -> list[tuple[float, float, float, float]]:
    """Seeded lookup boxes over the cell block: even-indexed boxes sit
    inside one cell, odd-indexed ones span a cell corner (up to four
    cells). Edges fall between grid lines so no sample sits on one."""
    rng = np.random.default_rng(seed + 1)
    half = 0.5 / (HGT_N - 1)
    boxes = []
    for i in range(count):
        c = cells[int(rng.integers(0, len(cells)))]
        if i % 2 == 0:
            lo = rng.uniform(0.05, 0.6, 2)
            size = rng.uniform(0.1, 0.35, 2)
            lat_lo, lng_lo = c.lat + lo[0], c.lng + lo[1]
            lat_hi, lng_hi = lat_lo + size[0], lng_lo + size[1]
        else:
            size = rng.uniform(0.2, 0.5, 2)
            lat_lo, lng_lo = c.lat + 1 - size[0], c.lng + 1 - size[1]
            lat_hi, lng_hi = c.lat + 1 + size[0], c.lng + 1 + size[1]
        snap = lambda v: (np.floor(v * (HGT_N - 1)) / (HGT_N - 1)) + half  # noqa: E731
        boxes.append((snap(lat_lo), snap(lat_hi), snap(lng_lo), snap(lng_hi)))
    return boxes
