"""HGT (SRTM elevation raster) source — the reference's Tier-A domain
re-expressed Spark-first (SURVEY.md §2 Tier A, A4–A9).

Semantics preserved from the public SRTM format (the reference mount
is empty — SURVEY.md §0):
* one ``.hgt`` file = (N×N) grid of big-endian int16 samples covering
  a 1°×1° cell; N inferred from file size (size/2 must be a perfect
  square, N ≥ 2; SRTM3 → 1201, SRTM1 → 3601) [A5];
* filename ``N46E007.hgt`` (or ``N46E007.SRTMGL1.hgt``) encodes the
  bottom-left corner; S/W are negative [A4];
* row 0 is the NORTHERN edge: lat = corner_lat + 1 - row/(N-1),
  lng = corner_lng + col/(N-1) [A6];
* void sentinel -32768 → SQL NULL [A8];
* corner samples are shared between adjacent cells (N points per
  axis, not N-1 — fencepost) [SURVEY §2 traps].

Architecture: `binaryFile` datasource → numpy decode inside
`mapInPandas` (Arrow-batched, vectorized — never a per-row Python
UDF). Every decoder in the engine reads the bytes through :func:`grid`
and names the cell through :func:`cell_of` (or its column form,
:func:`cell_name_cols`), so they agree on shape and name checks. Each 1°-cell file decodes independently, so at 100 TB the scan
parallelizes per-file with zero shuffle; point lookup (A7) is a pure
column expression over the raw bytes — O(1) per file, no decode.
"""

from __future__ import annotations

import math
import os
import re
import zipfile
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

VOID = -32768

# ------------------------------------------------------------------ filename

# Anchored at the start of the base name and ended by a dot or the end,
# so ``N46E007.SRTMGL1.hgt`` is cell ``N46E007``; Python's ``re`` and the
# JVM's regexp_extract read it alike.
_CELL_RE = r"^([NS])(\d{2})([EW])(\d{3})(?=\.|$)"
_NOT_A_CELL = ": not an HGT cell name"
_NOT_A_GRID = " bytes is not a square HGT grid"


def cell_of(path: str) -> tuple[str, int, int]:
    """The one cell-name rule [A4]: a file path or name → (canonical
    cell, corner_lat, corner_lng). ``.../N46E007.SRTMGL1.hgt`` →
    ("N46E007", 46, 7); ``S01W072`` → ("S01W072", -1, -72). Raises
    ValueError naming the file when its base name is no cell name."""
    m = re.match(_CELL_RE, os.path.basename(path))
    if not m:
        raise ValueError(path + _NOT_A_CELL)
    lat = int(m.group(2)) * (1 if m.group(1) == "N" else -1)
    lng = int(m.group(4)) * (1 if m.group(3) == "E" else -1)
    return m.group(0), lat, lng


def parse_cell_name(name: str) -> tuple[int, int]:
    """``N46E007`` → (46, 7); ``S01W072`` → (-1, -72) [A4]."""
    return cell_of(name)[1:]


def cell_name_cols(path: Column) -> list[Column]:
    """Column expressions extracting (cell, corner_lat, corner_lng)
    from a binaryFile path — :func:`cell_of` in built-ins: the same
    anchored regexp, ``raise_error`` naming the file on no match."""
    base = F.element_at(F.split(path, "/"), -1)
    found = F.regexp_extract(base, _CELL_RE, 0)
    cell = F.when(found != "", found).otherwise(
        F.raise_error(F.concat(path, F.lit(_NOT_A_CELL))))
    lat = F.substring(cell, 2, 2).cast("int") * F.when(
        F.substring(cell, 1, 1) == "N", 1).otherwise(-1)
    lng = F.substring(cell, 5, 3).cast("int") * F.when(
        F.substring(cell, 4, 1) == "E", 1).otherwise(-1)
    return [cell.alias("cell"), lat.alias("corner_lat"), lng.alias("corner_lng")]


def grid_size_col(length: Column, path: Column) -> Column:
    """Grid side N from file byte length: N = sqrt(length/2) [A5],
    with ``raise_error`` naming the file unless length = 2·N², N ≥ 2
    (the sizes :func:`grid` rejects)."""
    n = F.sqrt((length / 2).cast("double")).cast("int")
    ok = (n >= 2) & (n.cast("long") * n * 2 == length)
    return F.when(ok, n).otherwise(F.raise_error(
        F.concat(path, F.lit(": "), length.cast("string"), F.lit(_NOT_A_GRID)))
    ).alias("grid_n")


def grid_side(nbytes: int) -> int:
    """Grid side n of an HGT file of ``nbytes`` bytes [A5]: nbytes =
    2·n² with n ≥ 2 (one sample has no grid step); 0 for any other
    size."""
    n = math.isqrt(nbytes // 2)
    return n if n >= 2 and 2 * n * n == nbytes else 0


def grid(buf: bytes, name: str) -> np.ndarray:
    """The one HGT decode [A5/A6]: the (n, n) big-endian int16 sample
    view of one file's bytes, row 0 = northern edge. Raises ValueError
    naming the file unless :func:`grid_side` finds a grid of that size.
    Callers cast to the dtype they compute in."""
    n = grid_side(len(buf))
    if not n:
        raise ValueError(f"{name}: {len(buf)}{_NOT_A_GRID}")
    return np.frombuffer(buf, dtype=">i2").reshape(n, n)


def axes(n: int, corner_lat: int, corner_lng: int) -> tuple[np.ndarray, np.ndarray]:
    """The one sample-coordinate rule [A6]: the per-row lats (row 0 =
    northern edge, lat = corner_lat + 1 - row/(n-1)) and per-column lngs
    (lng = corner_lng + col/(n-1)) of an (n, n) grid. Every decoder and
    the ``format("hgt")`` window read coordinates from here, so a
    sample's lat/lng is the same double everywhere."""
    step = 1.0 / (n - 1)
    return corner_lat + 1 - np.arange(n) * step, corner_lng + np.arange(n) * step


# ------------------------------------------------------------------ scan

def read_hgt(spark: SparkSession, path: str) -> DataFrame:
    """Raw HGT scan: binaryFile source + filename/shape metadata.

    Returns (path, cell, corner_lat, corner_lng, grid_n, content).
    Raises :func:`grid`'s error for a zero-byte ``.hgt``: Spark's file
    scan drops zero-length files before any task runs, so
    ``grid_size_col`` would never see one. The check reads the file
    listing ``load()`` already made, on the driver, with no Spark job.
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.hgt")
        .load(path)
    )
    files = raw._jdf.queryExecution().analyzed().relation().location().allFiles()
    for i in range(files.size()):
        if files.apply(i).getLen() == 0:
            grid(b"", files.apply(i).getPath().toString())
    return raw.select(
        "path",
        *cell_name_cols(F.col("path")),
        grid_size_col(F.col("length"), F.col("path")),
        "content",
    )


def decode_points(raw: DataFrame) -> DataFrame:
    """Full grid scan [A6]: every (lat, lng, alt) sample, void → NULL
    [A8]. Vectorized numpy decode per file inside mapInPandas."""

    schema = "cell string, lat double, lng double, alt int"

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                g = grid(row["content"], row["path"]).astype(np.int32)
                lats, lngs = axes(g.shape[0], row["corner_lat"], row["corner_lng"])
                lat_m, lng_m = np.meshgrid(lats, lngs, indexing="ij")
                alt = g.ravel()
                out = pd.DataFrame(
                    {
                        "cell": row["cell"],
                        "lat": lat_m.ravel(),
                        "lng": lng_m.ravel(),
                        "alt": alt,
                    }
                )
                out["alt"] = out["alt"].astype("Int32")
                out.loc[alt == VOID, "alt"] = pd.NA
                yield out

    return raw.select("path", "cell", "corner_lat", "corner_lng", "content").mapInPandas(
        _decode, schema
    )


def decode_tiles(raw: DataFrame, width: int, height: int) -> DataFrame:
    """Tile/sample iterator [A9]: cut each grid into width×height
    blocks (edge tiles are smaller), one row per tile with its origin
    (NW sample coordinate) and row-major values. Single pass per file
    — no shuffle (the in-file reshape happens in numpy)."""

    schema = (
        "cell string, tile_row int, tile_col int, origin_lat double, "
        "origin_lng double, width int, height int, values array<int>"
    )

    def _tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                g = grid(row["content"], row["path"]).astype(np.int32)
                n = g.shape[0]
                lats, lngs = axes(n, row["corner_lat"], row["corner_lng"])
                recs = []
                for tr in range(math.ceil(n / height)):
                    for tc in range(math.ceil(n / width)):
                        block = g[
                            tr * height : (tr + 1) * height, tc * width : (tc + 1) * width
                        ]
                        recs.append(
                            {
                                "cell": row["cell"],
                                "tile_row": tr,
                                "tile_col": tc,
                                "origin_lat": float(lats[tr * height]),
                                "origin_lng": float(lngs[tc * width]),
                                "width": block.shape[1],
                                "height": block.shape[0],
                                "values": block.ravel().tolist(),
                            }
                        )
                yield pd.DataFrame(recs)

    return raw.select("path", "cell", "corner_lat", "corner_lng", "content").mapInPandas(
        _tiles, schema
    )


def point_lookup_col(lat: float, lng: float) -> Column:
    """O(1) point elevation [A7] as a pure column expression over the
    raw bytes: (lat,lng) → (row,col) → byte offset → 2-byte slice →
    big-endian signed decode — no grid materialization, identical to
    the reference's seek+unpack but expressed in Catalyst built-ins."""
    n = F.col("grid_n")
    row = F.round((F.col("corner_lat") + 1 - F.lit(lat)) * (n - 1)).cast("int")
    col = F.round((F.lit(lng) - F.col("corner_lng")) * (n - 1)).cast("int")
    offset = (row * n + col) * 2 + 1  # substring is 1-based
    unsigned = F.conv(F.hex(F.substring(F.col("content"), offset, 2)), 16, 10).cast("long")
    signed = F.when(unsigned >= 32768, unsigned - 65536).otherwise(unsigned).cast("int")
    return F.nullif(signed, F.lit(VOID))


# ------------------------------------------------------- acquire / extract

def load_catalog(spark: SparkSession, catalog_path: str) -> DataFrame:
    """Dataset catalog scan [A1]: JSON of {cell: {url, zip}} → one row
    per cell. Mirrors the reference's dataset files (srtm1/srtm3.json)."""
    raw = spark.read.option("multiLine", "true").json(catalog_path)
    cells = [f.name for f in raw.schema.fields]
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("cell"),
                F.col(f"`{c}`.url").alias("url"),
                F.col(f"`{c}`.zip").alias("zip"),
            )
            for c in cells
        ]
    )
    return raw.select(F.explode(entries).alias("e")).select("e.cell", "e.url", "e.zip")


def fetch_catalog(catalog: DataFrame, dest_dir: str, skip_existing: bool = True) -> DataFrame:
    """Parallel fetch [A2]: each Spark task downloads its partition of
    the catalog — tasks replace the reference's thread pool, scaling
    with the cluster instead of one process. Supports file:// URLs
    (the only scheme testable in this offline container; http(s) goes
    through urllib the same way). Returns (cell, path, n_bytes, status).
    """

    schema = "cell string, path string, n_bytes long, status string"

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import shutil
        import urllib.parse
        import urllib.request

        os.makedirs(dest_dir, exist_ok=True)
        for pdf in batches:
            recs = []
            for _, row in pdf.iterrows():
                out_path = os.path.join(dest_dir, row["zip"])
                status = "fetched"
                if skip_existing and os.path.exists(out_path):
                    status = "skipped"
                else:
                    parsed = urllib.parse.urlparse(row["url"])
                    if parsed.scheme == "file":
                        shutil.copyfile(parsed.path, out_path)
                    else:  # pragma: no cover — no network in this env
                        with urllib.request.urlopen(row["url"]) as resp, open(
                            out_path, "wb"
                        ) as fh:
                            shutil.copyfileobj(resp, fh)
                recs.append(
                    {
                        "cell": row["cell"],
                        "path": out_path,
                        "n_bytes": os.path.getsize(out_path),
                        "status": status,
                    }
                )
            yield pd.DataFrame(recs)

    return catalog.repartition(8).mapInPandas(_fetch, schema)


def read_hgt_zips(spark: SparkSession, path: str) -> DataFrame:
    """Zip extract [A3] fused with the scan: binaryFile over *.zip →
    in-memory unzip per archive → same raw schema as :func:`read_hgt`
    (no intermediate disk write — at 100 TB the extraction is a
    streaming transform, not a staging step)."""

    schema = "path string, cell string, corner_lat int, corner_lng int, grid_n int, content binary"

    def _unzip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        for pdf in batches:
            recs = []
            for _, row in pdf.iterrows():
                with zipfile.ZipFile(io.BytesIO(bytes(row["content"]))) as zf:
                    for name in zf.namelist():
                        if not name.endswith(".hgt"):
                            continue
                        buf = zf.read(name)
                        path = row["path"] + "!" + name
                        cell, lat, lng = cell_of(name)
                        recs.append(
                            {
                                "path": path,
                                "cell": cell,
                                "corner_lat": lat,
                                "corner_lng": lng,
                                "grid_n": grid(buf, path).shape[0],
                                "content": buf,
                            }
                        )
            yield pd.DataFrame(recs)

    raw = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.zip").load(path)
    )
    return raw.select("path", "content").mapInPandas(_unzip, schema)


# ------------------------------------------------------------------ fixtures

def synth_grid(n: int, seed_phase: float, void_every: int = 97) -> np.ndarray:
    """Deterministic smooth elevation field with ~1% voids
    (FIXTURES.md §B: seeded, no RNG state)."""
    rows, cols = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    alt = (
        1000 * np.sin(rows / 7.0 + seed_phase) + 500 * np.cos(cols / 5.0 - seed_phase)
    ).astype(np.int16)
    flat = alt.ravel()
    flat[::void_every] = VOID
    return flat.reshape(n, n)


def write_fixture(directory: str, cell: str, n: int, seed_phase: float,
                  zipped: bool = False) -> str:
    """Write one synthetic big-endian HGT file (optionally zipped)."""
    os.makedirs(directory, exist_ok=True)
    grid = synth_grid(n, seed_phase)
    path = os.path.join(directory, f"{cell}.hgt")
    grid.astype(">i2").tofile(path)
    if zipped:
        zpath = os.path.join(directory, f"{cell}.hgt.zip")
        with zipfile.ZipFile(zpath, "w") as zf:
            zf.write(path, arcname=f"{cell}.hgt")
        return zpath
    return path


FIXTURE_CELLS = [("N46E007", 0.0), ("S01W072", 1.5), ("N00E000", 3.0)]

# --- mosaic fixtures: a 2×2 block of ADJACENT cells sampled from one
# GLOBAL field, so shared border samples (the fencepost trap — N
# points per axis, corner/edge lines duplicated between neighbors)
# agree bit-for-bit across files, exactly like real SRTM tiles.
MOSAIC_CELLS = [(46, 7), (46, 8), (47, 7), (47, 8)]


def mosaic_field(y: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Deterministic global elevation field over integer sample
    coordinates (y grows northward, x eastward; unit = 1/(n-1) deg).
    Voids are a function of the GLOBAL coordinate too, so a sample
    shared by two cells is void in both or neither."""
    alt = (1000 * np.sin(y / 7.0) + 500 * np.cos(x / 5.0)).astype(np.int16)
    void = (y * 104729 + x * 7919) % 97 == 0
    return np.where(void, np.int16(VOID), alt)


def synth_mosaic_cell(la: int, lo: int, n: int) -> np.ndarray:
    """Sample one 1°×1° cell from the global field: sample (r, c) sits
    at y = (la+1)(n-1) − r (row 0 = northern edge), x = lo(n-1) + c."""
    r, c = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    y = (la + 1) * (n - 1) - r
    x = lo * (n - 1) + c
    return mosaic_field(y, x)


def ensure_mosaic_fixtures(directory: str, n: int = 241) -> str:
    """Idempotently materialize the adjacent 2×2 mosaic fixture set
    (N46/47 × E007/008) at grid size ``n``."""
    marker = os.path.join(directory, f".ready_{n}")
    if not os.path.exists(marker):
        os.makedirs(directory, exist_ok=True)
        for la, lo in MOSAIC_CELLS:
            cell = f"N{la:02d}E{lo:03d}"
            path = os.path.join(directory, f"{cell}.hgt")
            synth_mosaic_cell(la, lo, n).astype(">i2").tofile(path)
        with open(marker, "w") as fh:
            fh.write("ok")
    return directory


def ensure_fixtures(directory: str, n: int = 241) -> str:
    """Idempotently materialize the standard fixture set (3 cells —
    northern, southern/western, origin) at grid size ``n``."""
    marker = os.path.join(directory, f".ready_{n}")
    if not os.path.exists(marker):
        for cell, phase in FIXTURE_CELLS:
            write_fixture(directory, cell, n, phase)
        with open(marker, "w") as fh:
            fh.write("ok")
    return directory
