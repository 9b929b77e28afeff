"""Graded queries over the HGT source. The DuckDB oracle's views are
fixed to the driver tables, but the fixture grids are DETERMINISTIC,
so each query's expected output is a closed-form literal: the oracles
are VALUES relations recomputed with independent numpy arithmetic
(the same ground-truth style as tests/test_hgt.py), making these
Tier-A checks hash-graded rather than rows-only.

Fixtures are generated deterministically under the repo's own
`.fixtures/` dir (gitignored) — never outside /root/repo.
"""

from __future__ import annotations

import os
from collections import deque
from collections.abc import Iterator
from types import SimpleNamespace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cli_spark.plans.registry import register
from cli_spark.session import materialize_local
from cli_spark.sources import hgt

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".fixtures", "hgt")
ACQUIRE_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "hgt_acquire")
MOSAIC_FIXTURE_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "hgt_mosaic")


def _raw(spark: SparkSession) -> DataFrame:
    hgt.ensure_fixtures(FIXTURE_DIR)
    return hgt.read_hgt(spark, FIXTURE_DIR)


def _mosaic_raw(spark: SparkSession) -> DataFrame:
    hgt.ensure_mosaic_fixtures(MOSAIC_FIXTURE_DIR)
    return hgt.read_hgt(spark, MOSAIC_FIXTURE_DIR)


# ------------------------------------------------------------ terrain kernels
#
# Every terrain query below is built from these helpers: one per-cell
# decode shell, one D8 table shared by the numpy and the Catalyst
# kernels, and one mosaic geometry.

def _per_cell(raw: DataFrame, kernel, schema: str, *cols: str) -> DataFrame:
    """The mapInPandas shell of every terrain query: each ``.hgt`` file
    of ``raw`` is decoded by ``hgt.grid`` (as int64: the fixed-point D8
    weights overflow int32) and named by ``hgt.cell_of``, then
    ``kernel(cell, la, lo, g, *extra)`` returns its output rows in any
    form ``pd.DataFrame`` takes; ``extra`` are the file's ``cols``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for path, content, *extra in zip(
                    pdf["path"], pdf["content"], *(pdf[c] for c in cols)):
                cell, la, lo = hgt.cell_of(path)
                g = hgt.grid(content, path).astype(np.int64)
                out = pd.DataFrame(kernel(cell, la, lo, g, *extra))
                if len(out):
                    frames.append(out)
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return raw.select("path", "content", *cols).mapInPandas(run, schema)


# D8 directions: (ESRI code, row offset, col offset) in ascending code
# order; the row index grows southward. A drop scores drop × CARD towards
# a cardinal neighbor and drop × DIAG towards a diagonal one, so
# CARD/DIAG is sqrt(2) in exact fixed point and numpy, Catalyst and the
# golden script argmax the same integers.
CARD, DIAG = 1414214, 1000000
DIRS = [(1, 0, 1), (2, 1, 1), (4, 1, 0), (8, 1, -1),
        (16, 0, -1), (32, -1, -1), (64, -1, 0), (128, -1, 1)]
WEIGHT = {code: CARD if dr == 0 or dc == 0 else DIAG for code, dr, dc in DIRS}
_CODES = np.array([code for code, _dr, _dc in DIRS])


def _d8(g: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The numpy D8 kernel. Returns (codes, ok) as (n, n) grids: ``ok``
    marks the samples D8 is defined on (interior, whole 3×3
    neighborhood valid); ``codes`` holds the ESRI code of each one's
    steepest-descent neighbor by drop/distance (first max = lowest code
    on ties, 0 for pits and flats) and 0 off ``ok``."""
    n = g.shape[0]
    v = g != hgt.VOID
    ok = np.zeros_like(v)
    ok[1:-1, 1:-1] = v[1:-1, 1:-1]
    ws = []
    for code, dr, dc in DIRS:
        nb = np.s_[1 + dr:n - 1 + dr, 1 + dc:n - 1 + dc]
        ok[1:-1, 1:-1] &= v[nb]
        ws.append((g[1:-1, 1:-1] - g[nb]) * WEIGHT[code])
    stack = np.stack(ws)
    codes = np.zeros_like(g)
    codes[1:-1, 1:-1] = np.where(
        stack.max(axis=0) > 0, _CODES[stack.argmax(axis=0)], 0)
    codes[~ok] = 0
    return codes, ok


def _d8_census(cell: str, la: int, lo: int, g: np.ndarray) -> dict:
    """Per-cell D8 direction census over the samples D8 is defined on."""
    codes, ok = _d8(g)
    direction, n_points = np.unique(codes[ok], return_counts=True)
    return {"cell": cell, "direction": direction, "n_points": n_points}


def _next(codes: np.ndarray) -> np.ndarray:
    """Flat index of each sample's D8 target; code 0 points at itself."""
    n = codes.shape[0]
    step = np.zeros(_CODES.max() + 1, dtype=np.int64)
    for code, dr, dc in DIRS:
        step[code] = dr * n + dc
    return np.arange(n * n) + step[codes.ravel()]


def _terminals(codes: np.ndarray) -> np.ndarray:
    """Flat index of the code-0 sample each sample's D8 chain ends at,
    by pointer doubling (next = next[next] to a fixpoint): O(log
    longest path) vectorized gathers."""
    nxt = _next(codes)
    while True:
        nxt2 = nxt[nxt]
        if np.array_equal(nxt2, nxt):
            return nxt
        nxt = nxt2


def _accumulate(codes: np.ndarray, acc: np.ndarray) -> np.ndarray:
    """D8 flow accumulation by one Kahn topological pass: the direction
    grid is a forest (out-degree ≤ 1), so a sample forwards its total
    once every upstream sample has; code-0 samples receive but never
    forward. ``acc`` holds each sample's own units; returns the totals."""
    nxt = _next(codes).tolist()
    flat = acc.ravel().tolist()
    indeg = [0] * len(nxt)
    for u, t in enumerate(nxt):
        if t != u:
            indeg[t] += 1
    q = deque(u for u, d in enumerate(indeg) if d == 0)
    while q:
        u = q.popleft()
        t = nxt[u]
        if t == u:
            continue
        flat[t] += flat[u]
        indeg[t] -= 1
        if indeg[t] == 0:
            q.append(t)
    return np.array(flat, dtype=np.int64).reshape(acc.shape)


ACCUM_SCHEMA = ("n_sources long, n_small long, n_medium long, "
                "n_large long, max_accum long")


def _accum_bands(acc: np.ndarray) -> dict:
    """Accumulation-band census: sources (1), 2-10, 11-100, >100 and
    the maximum."""
    return {
        "n_sources": int((acc == 1).sum()),
        "n_small": int(((acc >= 2) & (acc <= 10)).sum()),
        "n_medium": int(((acc >= 11) & (acc <= 100)).sum()),
        "n_large": int((acc > 100).sum()),
        "max_accum": int(acc.max()),
    }


# The 2×2 mosaic (hgt.MOSAIC_CELLS at the fixture grid size) in global
# sample coordinates: y grows northward, x eastward, one unit is
# 1/(n-1) degree. Seams are the internal shared lines, the border the
# mosaic's outer edge.
MOSAIC_N = 241
GID = 100000  # gid = y * GID + x
YMIN, YMAX = 46 * (MOSAIC_N - 1), 48 * (MOSAIC_N - 1)
XMIN, XMAX = 7 * (MOSAIC_N - 1), 9 * (MOSAIC_N - 1)
YSEAM, XSEAM = 47 * (MOSAIC_N - 1), 8 * (MOSAIC_N - 1)


def _owner(y, x):
    """Index of the mosaic cell that owns a sample (0..3, row-major from
    the south-west). The north/east cell claims a seam line, so every
    sample is owned exactly once."""
    return (np.minimum((y - YMIN) // (MOSAIC_N - 1), 1) * 2
            + np.minimum((x - XMIN) // (MOSAIC_N - 1), 1))


def _mosaic_samples(la: int, lo: int, v: np.ndarray) -> SimpleNamespace:
    """One mosaic cell's samples, flattened row-major: ``gid``; masks
    ``on_border`` (outer edge), ``on_seam`` (internal seam lines, border
    excluded), ``owned`` (valid off-seam samples this cell owns) and
    ``near`` (owned samples one step from a seam: every in-cell target
    a seam sample's D8 can have); ``idx`` is the cell's owner index."""
    n = v.shape[0]
    r, c = np.divmod(np.arange(n * n), n)
    y = (la + 1) * (n - 1) - r  # row 0 = northern edge
    x = lo * (n - 1) + c
    on_border = (y == YMIN) | (y == YMAX) | (x == XMIN) | (x == XMAX)
    on_seam = ((y == YSEAM) | (x == XSEAM)) & ~on_border
    idx = _owner(la * (n - 1), lo * (n - 1))  # a cell owns its SW corner
    owned = v.ravel() & ~on_seam & (_owner(y, x) == idx)
    near = owned & ((np.abs(y - YSEAM) <= 1) | (np.abs(x - XSEAM) <= 1))
    return SimpleNamespace(gid=y * GID + x, on_border=on_border,
                           on_seam=on_seam, owned=owned, near=near, idx=idx)


def _band_samples(cell: str, la: int, lo: int, g: np.ndarray) -> dict:
    """A cell's outer two sample lines on global coordinates, void → NULL."""
    n = g.shape[0]
    band = np.ones((n, n), dtype=bool)
    band[2:-2, 2:-2] = False
    r, c = np.nonzero(band)
    alt = pd.array(g[band], dtype="Int64")
    alt[g[band] == hgt.VOID] = pd.NA
    return {"y": (la + 1) * (n - 1) - r, "x": lo * (n - 1) + c, "alt": alt}


def _band(raw: DataFrame) -> DataFrame:
    """The mosaic border-band exchange: every cell's outer two sample
    lines (O(perimeter), not O(area)), deduplicated on global (y, x).
    The fencepost check is executed, not assumed: it raises when the two
    files holding a shared sample disagree on it. Returns (y, x, alt).

    The deduplicated band is materialized once (an eager
    localCheckpoint, freed by the ContextCleaner once unreferenced):
    the check counts over it, and the callers' nine-way seam join and
    border census read it instead of re-running the per-cell decode
    and the group-by."""
    copies = _per_cell(raw, _band_samples, "y long, x long, alt int")
    band = copies.groupBy("y", "x").agg(
        F.countDistinct(F.coalesce("alt", F.lit(hgt.VOID))).alias("variants"),
        F.min("alt").alias("alt"),
    ).localCheckpoint(eager=True)
    n_mismatch = band.filter(F.col("variants") > 1).count()
    if n_mismatch:
        raise ValueError(
            f"fencepost mismatch: {n_mismatch} shared border samples "
            f"differ between adjacent cells"
        )
    return band.select("y", "x", "alt")


def _seam_d8(band: DataFrame) -> DataFrame:
    """Catalyst D8 of the valid samples on the mosaic's internal seam
    lines, read from the exchanged band: eight broadcast shifted
    equi-joins and a fixed-point argmax (ascending code = lowest-code
    tie-break), no Python. Returns (y, x, s, ok, dir, ng): ``ok`` = the
    3×3 neighborhood is valid, ``dir`` is 0 unless ok, ``s`` and ``ng``
    are the global ids of the sample and its D8 target (NULL at 0)."""
    joined = band.filter(
        ((F.col("y") == YSEAM) | (F.col("x") == XSEAM))
        & (F.col("y") > YMIN) & (F.col("y") < YMAX)
        & (F.col("x") > XMIN) & (F.col("x") < XMAX)
        # void seam samples are not basin members and (all-valid D8
        # rule) can never be pointer targets — drop them here
        & F.col("alt").isNotNull()
    ).select(F.col("y").alias("sy"), F.col("x").alias("sx"),
             F.col("alt").alias("alt0"))
    # row offset dr (southward) maps to global dy = −dr
    for code, dr, dc in DIRS:
        nb = band.select(
            (F.col("y") + F.lit(dr)).alias("sy"),
            (F.col("x") - F.lit(dc)).alias("sx"),
            F.col("alt").alias(f"alt{code}"),
        )
        joined = joined.join(F.broadcast(nb), ["sy", "sx"], "left")
    ok = F.col("alt0").isNotNull()
    for code in WEIGHT:
        ok = ok & F.col(f"alt{code}").isNotNull()
    ws = {code: (F.col("alt0") - F.col(f"alt{code}")) * F.lit(w)
          for code, w in WEIGHT.items()}
    mx = F.greatest(*ws.values())
    chain = None
    for code, w in ws.items():  # ascending code = lowest-code tie-break
        chain = (F.when(w == mx, F.lit(code)) if chain is None
                 else chain.when(w == mx, F.lit(code)))
    direction = F.when(~ok | (mx <= 0), F.lit(0)).otherwise(chain)
    ng = F.lit(None).cast("long")
    for code, dr, dc in DIRS:
        ng = F.when(
            direction == code,
            (F.col("sy") - F.lit(dr)) * GID + (F.col("sx") + F.lit(dc)),
        ).otherwise(ng)
    return joined.select(
        F.col("sy").alias("y"), F.col("sx").alias("x"),
        (F.col("sy") * GID + F.col("sx")).alias("s"),
        ok.alias("ok"), direction.alias("dir"), ng.alias("ng"),
    )


@register(
    "q110_hgt_decode_stats",
    # The fixture is deterministic (synth_grid: seeded trig field, no
    # RNG), so the expected rollup is a closed-form literal. The VALUES
    # below were recomputed with INDEPENDENT numpy arithmetic (not by
    # running the engine) — same ground-truth style as tests/test_hgt.py
    # — which upgrades this Tier-A check from rows-only to hash-graded.
    oracle="""
SELECT * FROM (VALUES
  ('N00E000', 58081, 57482, 599, -1499, 1499, -2644097, 0.0, 1.0, 0.0, 1.0),
  ('N46E007', 58081, 57482, 599, -1499, 1499, 2867479, 46.0, 47.0, 7.0, 8.0),
  ('S01W072', 58081, 57482, 599, -1498, 1498, 1578258, -1.0, 0.0, -72.0, -71.0)
) AS t(cell, n_points, n_valid, n_void, min_alt, max_alt, sum_alt,
       min_lat, max_lat, min_lng, max_lng)
""",
    tags=("hgt", "tier_a", "source"),
)
def q110_hgt_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-grid scan [A6] + void normalization [A8] rolled up per
    cell: sample counts, void counts, min/max/sum elevation. Exercises
    filename parse [A4], shape inference [A5], the `hgt.decode_points`
    decode (`hgt.grid`, `hgt.cell_of`), and NULL semantics of the void
    sentinel."""
    pts = hgt.decode_points(_raw(spark))
    return (
        pts.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.count("alt").alias("n_valid"),
            (F.count(F.lit(1)) - F.count("alt")).alias("n_void"),
            F.min("alt").alias("min_alt"),
            F.max("alt").alias("max_alt"),
            F.sum("alt").cast("long").alias("sum_alt"),
            F.round(F.min("lat"), 6).alias("min_lat"),
            F.round(F.max("lat"), 6).alias("max_lat"),
            F.round(F.min("lng"), 6).alias("min_lng"),
            F.round(F.max("lng"), 6).alias("max_lng"),
        )
        .orderBy("cell")
    )


@register(
    "q111_hgt_point_lookup",
    # Independent numpy goldens over the deterministic fixture (see
    # q110 note). NW corners land on a void lattice index (row 0, col
    # 0 is index 0, and synth_grid voids every 97th flat index
    # starting at 0) → NULL.
    oracle="""
SELECT * FROM (VALUES
  ('N00E000', 'center',    0.5,  0.5,  687),
  ('N00E000', 'nw_corner', 1.0,  0.0,  NULL),
  ('N00E000', 'se_corner', 0.0,  1.0,  -139),
  ('N46E007', 'center',    46.5, 7.5,  -778),
  ('N46E007', 'nw_corner', 47.0, 7.0,  NULL),
  ('N46E007', 'se_corner', 46.0, 8.0,  -51),
  ('S01W072', 'center',    -0.5, -71.5, -641),
  ('S01W072', 'nw_corner', 0.0,  -72.0, NULL),
  ('S01W072', 'se_corner', -1.0, -71.0, -1347)
) AS t(cell, probe, lat, lng, alt)
""",
    tags=("hgt", "tier_a", "lookup"),
)
def q111_hgt_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(1) point lookups [A7] — NW corner, center, SE corner of each
    cell — decoded via byte-slice expressions on the raw content
    (no grid decode). The reference's `gmalt-hgtread` equivalent."""
    raw = _raw(spark)
    probes = [
        ("nw_corner", lambda la, ln: (la + 1.0, ln + 0.0)),
        ("center", lambda la, ln: (la + 0.5, ln + 0.5)),
        ("se_corner", lambda la, ln: (la + 0.0, ln + 1.0)),
    ]
    outs = []
    for cell, _phase in hgt.FIXTURE_CELLS:
        corner_lat, corner_lng = hgt.parse_cell_name(cell)
        for label, fn in probes:
            plat, plng = fn(corner_lat, corner_lng)
            outs.append(
                raw.filter(F.col("cell") == cell).select(
                    "cell",
                    F.lit(label).alias("probe"),
                    F.lit(float(plat)).alias("lat"),
                    F.lit(float(plng)).alias("lng"),
                    hgt.point_lookup_col(plat, plng).alias("alt"),
                )
            )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result.orderBy("cell", "probe")


@register(
    "q112_hgt_tiles",
    # Independent closed-form goldens: 241/50 → 5 tile rows/cols of
    # width 50 with a 41-wide remainder; values conserve the 241²
    # grid exactly (see q110 note).
    oracle="""
SELECT * FROM (VALUES
  ('N00E000', 25, 5, 5, 58081, 50, 41, 50, 41),
  ('N46E007', 25, 5, 5, 58081, 50, 41, 50, 41),
  ('S01W072', 25, 5, 5, 58081, 50, 41, 50, 41)
) AS t(cell, n_tiles, tile_rows, tile_cols, total_values,
       max_w, min_w, max_h, min_h)
""",
    tags=("hgt", "tier_a", "tiles"),
)
def q112_hgt_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile iterator [A9] (`--sample 50 50` equivalent): per cell,
    tile count and value-conservation stats (total values across
    tiles == grid size; per-tile dims recorded)."""
    tiles = hgt.decode_tiles(_raw(spark), width=50, height=50)
    return (
        tiles.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.countDistinct("tile_row").alias("tile_rows"),
            F.countDistinct("tile_col").alias("tile_cols"),
            F.sum(F.size("values")).cast("long").alias("total_values"),
            F.max("width").alias("max_w"),
            F.min("width").alias("min_w"),
            F.max("height").alias("max_h"),
            F.min("height").alias("min_h"),
        )
        .orderBy("cell")
    )


@register(
    "q265_hgt_slope_stats",
    # Ground truth recomputed with INDEPENDENT numpy arithmetic from
    # the deterministic fixture definition (central differences over
    # the synth trig field, voids masked from BOTH step endpoints) —
    # the same VALUES-literal oracle style as q110–q112.
    oracle="""
SELECT * FROM (VALUES
  ('N00E000', 56647, 56647, 3588184, 5128423, 100, 143, 22317, 20297),
  ('N46E007', 56647, 56647, 3575198, 5126561, 100, 143, 22312, 20298),
  ('S01W072', 56647, 56647, 3620347, 5166145, 100, 143, 23107, 19619)
) AS t(cell, n_dx, n_dy, sum_abs_dx, sum_abs_dy, max_abs_dx, max_abs_dy,
       n_steep_dx, n_steep_dy)
""",
    tags=("hgt", "tier_a", "terrain"),
)
def q265_hgt_slope_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terrain-derivative pass over the decoded elevation grid [A6]:
    per cell, the adjacent-sample difference field (the discrete
    slope a hillshade/gradient product computes) — step counts, total
    and maximum absolute rise in both axes, and steep-step censuses
    (|Δ| > 80 east-west, > 120 north-south). A step is valid only if
    BOTH endpoints are non-void [A8]. The differences are vectorized
    numpy inside the `_per_cell` decode shell — one pass over the raw
    bytes, no point-level shuffle (the per-cell stats aggregate inside
    the decoder), and the tiny 3-row rollup is the only thing that
    leaves Python."""
    schema = (
        "cell string, n_dx long, n_dy long, sum_abs_dx long, sum_abs_dy long, "
        "max_abs_dx long, max_abs_dy long, n_steep_dx long, n_steep_dy long"
    )

    def slopes(cell, la, lo, g):
        valid = g != hgt.VOID
        both_h = valid[:, 1:] & valid[:, :-1]
        both_v = valid[1:, :] & valid[:-1, :]
        dx = np.abs(g[:, 1:] - g[:, :-1])[both_h]
        dy = np.abs(g[1:, :] - g[:-1, :])[both_v]
        return [{
            "cell": cell, "n_dx": int(both_h.sum()), "n_dy": int(both_v.sum()),
            "sum_abs_dx": int(dx.sum()), "sum_abs_dy": int(dy.sum()),
            "max_abs_dx": int(dx.max()), "max_abs_dy": int(dy.max()),
            "n_steep_dx": int((dx > 80).sum()), "n_steep_dy": int((dy > 120).sum()),
        }]

    return _per_cell(_raw(spark), slopes, schema).orderBy("cell")


@register(
    "q266_hgt_acquire_pipeline",
    # Same closed-form literals as q110: the acquire path must land
    # byte-identical grids (catalog → fetch → unzip → decode), so the
    # decode rollup equals the direct-read rollup exactly.
    oracle="""
SELECT * FROM (VALUES
  ('N00E000', 58081, 57482, 599, -1499, 1499, -2644097),
  ('N46E007', 58081, 57482, 599, -1499, 1499, 2867479),
  ('S01W072', 58081, 57482, 599, -1498, 1498, 1578258)
) AS t(cell, n_points, n_valid, n_void, min_alt, max_alt, sum_alt)
""",
    tags=("hgt", "tier_a", "acquire"),
)
def q266_hgt_acquire_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full acquire pipeline as ONE graded lineage
    [A1→A2→A3→A6→A8]: dataset catalog JSON → distributed fetch
    (file:// URLs in this offline env; skip-if-exists semantics) →
    zip extract fused with the binaryFile scan → numpy grid decode →
    per-cell rollup. The rollup literals equal q110's direct-read
    numbers, proving the acquire path lands byte-identical grids.
    Fetch parallelism is Spark tasks over the catalog relation (the
    reference's worker pool [A13] replaced by the scheduler);
    everything below the catalog is the same `hgt.decode_points`
    decode as q110."""
    import json

    src = os.path.join(ACQUIRE_DIR, "remote")
    dest = os.path.join(ACQUIRE_DIR, "landing")
    cat_path = os.path.join(ACQUIRE_DIR, "catalog.json")
    marker = os.path.join(ACQUIRE_DIR, ".ready")
    if not os.path.exists(marker):
        os.makedirs(src, exist_ok=True)
        catalog = {}
        for cell, phase in hgt.FIXTURE_CELLS:
            zpath = hgt.write_fixture(src, cell, 241, phase, zipped=True)
            catalog[cell] = {"url": f"file://{zpath}", "zip": os.path.basename(zpath)}
        with open(cat_path, "w") as fh:
            json.dump(catalog, fh)
        with open(marker, "w") as fh:
            fh.write("ok")

    cat = hgt.load_catalog(spark, cat_path)
    hgt.fetch_catalog(cat, dest).collect()  # A2: pooled fetch, skip-if-exists
    raw = hgt.read_hgt_zips(spark, dest)    # A3: unzip fused with the scan
    pts = hgt.decode_points(raw)            # A6/A8
    return (
        pts.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.count("alt").alias("n_valid"),
            (F.count(F.lit(1)) - F.count("alt")).alias("n_void"),
            F.min("alt").alias("min_alt"),
            F.max("alt").alias("max_alt"),
            F.sum("alt").alias("sum_alt"),
        )
        .orderBy("cell")
    )


@register(
    "q277_hgt_hypsometry",
    # Ground truth recomputed with INDEPENDENT numpy arithmetic from
    # the fixture definition (np.floor(alt/500) bands over the valid
    # samples, cumulative share ×1e6 floor-divided by the valid
    # count) — the same VALUES-literal oracle style as q110–q112.
    # Regenerable: scripts_hgt_goldens.py::hypsometry_rows (pinned by
    # tests/test_hgt.py::test_terrain_goldens_match_checked_in_script).
    oracle="""
SELECT * FROM (VALUES
  ('N00E000', -3, 7744, 134720),
  ('N00E000', -2, 10993, 325962),
  ('N00E000', -1, 11811, 531435),
  ('N00E000', 0, 10633, 716415),
  ('N00E000', 1, 9470, 881162),
  ('N00E000', 2, 6831, 1000000),
  ('N46E007', -3, 6786, 118054),
  ('N46E007', -2, 9321, 280209),
  ('N46E007', -1, 10728, 466841),
  ('N46E007', 0, 11679, 670018),
  ('N46E007', 1, 11161, 864183),
  ('N46E007', 2, 7807, 1000000),
  ('S01W072', -3, 6607, 114940),
  ('S01W072', -2, 10214, 292630),
  ('S01W072', -1, 11243, 488222),
  ('S01W072', 0, 11067, 680752),
  ('S01W072', 1, 10704, 866967),
  ('S01W072', 2, 7647, 1000000)
) AS t(cell, band, n_points, cum_share_ppm)
""",
    tags=("hgt", "tier_a", "terrain"),
)
def q277_hgt_hypsometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypsometric curve per cell [A6+A8]: 500 m elevation-band census
    over the valid decoded samples with the cumulative
    share-below-band in ppm — the elevation-distribution product
    (complement of q265's gradient pass). Unlike q265, the decoded
    POINTS leave the decoder and the banding/rollup runs as ordinary
    engine aggregation: floor-banding is a scan-stage projection,
    the (cell, band) census partial-aggregates map-side, and the
    cumulative window runs over the ~7 band rows per cell — the same
    plan at any number of cells. Voids [A8] drop out via alt IS NULL
    before banding."""
    from pyspark.sql.window import Window

    pts = hgt.decode_points(_raw(spark)).filter(F.col("alt").isNotNull())
    census = pts.select(
        "cell", F.floor(F.col("alt") / F.lit(500.0)).cast("long").alias("band")
    ).groupBy("cell", "band").agg(F.count(F.lit(1)).alias("n_points"))
    w = (
        Window.partitionBy("cell")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("cell")
    return census.select(
        "cell",
        "band",
        "n_points",
        F.sum("n_points").over(w).alias("_cum"),
        F.sum("n_points").over(tot).alias("_tot"),
    ).select(
        "cell",
        "band",
        "n_points",
        F.expr("_cum * 1000000 div _tot").alias("cum_share_ppm"),
    ).orderBy("cell", "band")


@register(
    "q287_hgt_aspect_census",
    # Independent-numpy ground truth over the deterministic fixture
    # (central differences, 5-point validity mask, integer octant
    # rule) — VALUES-literal oracle style of q110–q112/q265. The
    # trig field has no doubly-flat interior point, so no FLAT rows.
    # Regenerable: scripts_hgt_goldens.py::aspect_rows (pinned by
    # tests/test_hgt.py::test_terrain_goldens_match_checked_in_script).
    oracle="""
SELECT * FROM (VALUES
  ('N00E000', 'E', 8807),
  ('N00E000', 'N', 19161),
  ('N00E000', 'S', 18272),
  ('N00E000', 'W', 7934),
  ('N46E007', 'E', 7913),
  ('N46E007', 'N', 18499),
  ('N46E007', 'S', 18920),
  ('N46E007', 'W', 8842),
  ('S01W072', 'E', 7670),
  ('S01W072', 'N', 20842),
  ('S01W072', 'S', 17477),
  ('S01W072', 'W', 8185)
) AS t(cell, aspect, n_points)
""",
    tags=("hgt", "tier_a", "terrain"),
)
def q287_hgt_aspect_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinal-aspect census per cell [A6+A8]: every interior sample
    whose 4-neighborhood is fully valid classifies by its dominant
    central-difference gradient — E/W when |Δx| ≥ |Δy| (sign of Δx),
    else N/S (sign of Δy; +row is southward in the north-first grid
    [A4 trap]) — the integer skeleton of a hillshade/aspect raster
    product. Vectorized numpy inside the `_per_cell` decode shell:
    only the per-(cell, aspect) counts leave Python."""

    def aspects(cell, la, lo, g):
        v = g != hgt.VOID
        ok = (v[1:-1, 1:-1] & v[1:-1, 2:] & v[1:-1, :-2]
              & v[2:, 1:-1] & v[:-2, 1:-1])
        dx = (g[1:-1, 2:] - g[1:-1, :-2])[ok]
        dy = (g[2:, 1:-1] - g[:-2, 1:-1])[ok]
        flat = (dx == 0) & (dy == 0)
        ew = (~flat) & (np.abs(dx) >= np.abs(dy))
        ns = (~flat) & ~ew
        counts = {
            "E": int((ew & (dx > 0)).sum()),
            "W": int((ew & (dx < 0)).sum()),
            "S": int((ns & (dy > 0)).sum()),
            "N": int((ns & (dy < 0)).sum()),
            "FLAT": int(flat.sum()),
        }
        return [{"cell": cell, "aspect": aspect, "n_points": cnt}
                for aspect, cnt in counts.items() if cnt]

    return (_per_cell(_raw(spark), aspects,
                      "cell string, aspect string, n_points long")
            .orderBy("cell", "aspect"))


@register(
    "q299_hgt_contour_crossings",
    # Independent-numpy goldens (level-set crossings of adjacent
    # valid sample pairs at -500/0/+500 m) — VALUES-literal oracle
    # style of q110–q112/q265/q287. Regenerable:
    # scripts_hgt_goldens.py::contour_rows (pinned by
    # tests/test_hgt.py::test_terrain_goldens_match_checked_in_script).
    oracle="""
SELECT * FROM (VALUES
  ('N00E000', -500, 1897, 2735, 4632),
  ('N00E000', 0, 1131, 2541, 3672),
  ('N00E000', 500, 1626, 2388, 4014),
  ('N46E007', -500, 1561, 2362, 3923),
  ('N46E007', 0, 1127, 2547, 3674),
  ('N46E007', 500, 1937, 2709, 4646),
  ('S01W072', -500, 1791, 2480, 4271),
  ('S01W072', 0, 1335, 2619, 3954),
  ('S01W072', 500, 1783, 2496, 4279)
) AS t(cell, level, h_crossings, v_crossings, total_crossings)
""",
    tags=("hgt", "tier_a", "terrain"),
)
def q299_hgt_contour_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contour-line crossing census per cell [A6+A8]: for each level
    in {−500, 0, +500} m, count adjacent valid sample pairs that
    straddle the level (one endpoint above, one at-or-below) along
    both grid axes — the integer skeleton of marching-squares
    contouring (crossing count ≈ total contour length in sample
    units). Vectorized numpy inside the `_per_cell` decode shell; only
    the 9-row census leaves Python."""
    schema = (
        "cell string, level long, h_crossings long, v_crossings long, "
        "total_crossings long"
    )

    def crossings(cell, la, lo, g):
        v = g != hgt.VOID
        bh = v[:, 1:] & v[:, :-1]
        bv = v[1:, :] & v[:-1, :]
        ah, bh_ = g[:, 1:][bh], g[:, :-1][bh]
        av, bv_ = g[1:, :][bv], g[:-1, :][bv]
        rows = []
        for level in (-500, 0, 500):
            ch = int((((ah > level) & (bh_ <= level))
                      | ((ah <= level) & (bh_ > level))).sum())
            cv = int((((av > level) & (bv_ <= level))
                      | ((av <= level) & (bv_ > level))).sum())
            rows.append({"cell": cell, "level": level, "h_crossings": ch,
                         "v_crossings": cv, "total_crossings": ch + cv})
        return rows

    return _per_cell(_raw(spark), crossings, schema).orderBy("cell", "level")


@register(
    "q319_hgt_flow_direction",
    # Independent-numpy goldens (D8 steepest-descent census, fixed-
    # point sqrt(2), ESRI codes, lowest-code ties, 0 = pit/flat) —
    # VALUES-literal oracle style of q110-q112/q265/q287/q299.
    # Regenerable: scripts_hgt_goldens.py::flow_rows (pinned by
    # tests/test_hgt.py::test_terrain_goldens_match_checked_in_script).
    oracle="""
SELECT * FROM (VALUES
  ('N00E000', 0, 47),
  ('N00E000', 1, 3088),
  ('N00E000', 2, 7917),
  ('N00E000', 4, 6549),
  ('N00E000', 8, 8678),
  ('N00E000', 16, 3403),
  ('N00E000', 32, 8383),
  ('N00E000', 64, 6162),
  ('N00E000', 128, 7592),
  ('N46E007', 0, 43),
  ('N46E007', 1, 3192),
  ('N46E007', 2, 8572),
  ('N46E007', 4, 6558),
  ('N46E007', 8, 7622),
  ('N46E007', 16, 2846),
  ('N46E007', 32, 7669),
  ('N46E007', 64, 6683),
  ('N46E007', 128, 8634),
  ('S01W072', 0, 35),
  ('S01W072', 1, 3063),
  ('S01W072', 2, 9197),
  ('S01W072', 4, 6999),
  ('S01W072', 8, 8705),
  ('S01W072', 16, 2882),
  ('S01W072', 32, 7343),
  ('S01W072', 64, 5864),
  ('S01W072', 128, 7731)
) AS t(cell, direction, n_points)
""",
    tags=("hgt", "tier_a", "terrain", "hydrology"),
)
def q319_hgt_flow_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 flow-direction census per cell [A6+A8] — the first step of
    every raster hydrology product (O'Callaghan & Mark 1984; the ESRI
    FlowDirection tool): each interior sample with a fully-valid 3x3
    neighborhood points at its steepest-descent neighbor by
    drop/distance, diagonal distance handled in exact fixed-point
    (cardinal weight = drop x 1414214, diagonal = drop x 1000000 --
    integer arithmetic, so both engines and the golden script agree
    bit-for-bit, no float sqrt(2)), ESRI power-of-two codes with
    lowest-code tie-break, 0 for pits/flats. The shared `_d8` kernel
    inside the `_per_cell` decode shell (`_d8_census`): eight shifted
    subtractions, one argmax, one np.unique -- only the <=9-row census
    per cell leaves Python, the same plan at any number of cells."""
    return (_per_cell(_raw(spark), _d8_census,
                      "cell string, direction int, n_points long")
            .orderBy("cell", "direction"))


@register(
    "q326_hgt_flow_accumulation",
    # Independent goldens from the checked-in script (D8 directions
    # per q319's exact fixed-point rule, then Kahn topological
    # accumulation; code-0 cells receive but do not forward).
    # Regenerable: scripts_hgt_goldens.py::accum_rows (pinned by
    # tests/test_hgt.py::test_terrain_goldens_match_checked_in_script).
    oracle="""
SELECT * FROM (VALUES
  ('N00E000', 11179, 34735, 10873, 695, 908),
  ('N46E007', 10993, 34917, 10883, 689, 907),
  ('S01W072', 10553, 35018, 11254, 657, 902)
) AS t(cell, n_sources, n_small, n_medium, n_large, max_accum)
""",
    tags=("hgt", "tier_a", "terrain", "hydrology", "iterative"),
)
def q326_hgt_flow_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 flow ACCUMULATION per cell [A6+A8] — q319's directions
    integrated into drainage: every cell contributes itself plus all
    cells whose steepest-descent paths pass through it (O'Callaghan &
    Mark 1984; the product behind stream extraction and watershed
    delineation). The direction grid is a forest (out-degree <= 1),
    so accumulation is one Kahn topological pass (`_accumulate`):
    sources (in-degree 0) push their counts downstream, pits/flats
    (code 0) receive but never forward. Census per cell: sources /
    2-10 / 11-100 / >100 accumulation bands and the maximum channel
    load.

    Scale shape: per-CELL work is the in-decode pass (each 1-degree
    tile is independent — the embarrassingly parallel unit of global
    terrain processing); cross-tile drainage at planetary scale
    exchanges only border rows between neighbors, which is the same
    per-cell plan plus a 1-row-per-edge join, not a different
    algorithm (q439)."""

    def accum(cell, la, lo, g):
        v = g != hgt.VOID
        acc = _accumulate(_d8(g)[0], v.astype(np.int64))
        return [{"cell": cell, **_accum_bands(acc[v])}]

    return (_per_cell(_raw(spark), accum, "cell string, " + ACCUM_SCHEMA)
            .orderBy("cell"))


@register(
    "q350_hgt_mosaic_seams",
    # Independent golden from the checked-in script
    # (scripts_hgt_goldens.py::mosaic_rows, pinned by tests/test_hgt.py):
    # the D8 census of the SEAMLESS 481×481 mosaic built straight from
    # the global field definition — n_on_seam counts the points ON the
    # internal shared-border lines, computable only with cross-cell
    # border exchange. A decoder that drops/duplicates the fencepost
    # lines, mis-signs a hemisphere, or skips the exchange mismatches.
    oracle="""
SELECT * FROM (VALUES
  (0, 214, 0),
  (1, 12449, 61),
  (2, 32677, 190),
  (4, 26429, 0),
  (8, 33608, 0),
  (16, 12789, 0),
  (32, 34267, 134),
  (64, 27150, 178),
  (128, 33303, 324)
) AS t(direction, n_points, n_on_seam)
""",
    tags=("hgt", "tier_a", "terrain", "mosaic", "fencepost"),
)
def q350_hgt_mosaic_seams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-cell mosaic D8 census [A6+A8 + the SURVEY §2 fencepost
    trap, graded] — VERDICT r7 #6: a 2×2 block of ADJACENT cells
    (N46/47 × E007/008, shared border samples duplicated between
    files exactly as real SRTM tiles are) is processed as ONE
    seamless terrain:

    * per cell, the interior D8 census computes in-decode
      (`_d8_census`, q319's kernel — each tile independent, the
      embarrassingly parallel unit);
    * the cells' BORDER BANDS (outer two sample lines per edge —
      O(perimeter), not O(area)) are exchanged by `_band`:
      deduplicated on global sample coordinates with a consistency
      census that RAISES on any altitude mismatch between the two
      copies of a shared line (the fencepost check, executed not
      assumed);
    * seam-line points get their D8 from the banded relation via
      `_seam_d8`: eight broadcast-sized shifted equi-joins and a
      pure-Catalyst fixed-point argmax (lowest-code tie-break, no
      Python) — the border-row exchange q326's docstring describes,
      made real.

    The graded census must equal the golden computed on the seamless
    global mosaic: any discontinuity at the shared edges (dropped or
    doubled fencepost lines, wrong row order at the northern edge)
    shifts the n_on_seam column."""
    raw = _mosaic_raw(spark)
    local = _per_cell(raw, _d8_census, "cell string, direction int, n_points long")
    seam_census = (
        _seam_d8(_band(raw)).filter("ok")
        .groupBy(F.col("dir").alias("direction"))
        .agg(F.count(F.lit(1)).alias("n_points"))
        .select("direction", "n_points", F.col("n_points").alias("n_on_seam"))
    )
    local_census = local.groupBy("direction").agg(
        F.sum("n_points").alias("n_points"),
        F.lit(0).cast("long").alias("n_on_seam"),
    )
    return (
        local_census.unionByName(seam_census)
        .groupBy("direction")
        .agg(
            F.sum("n_points").alias("n_points"),
            F.sum("n_on_seam").alias("n_on_seam"),
        )
        .orderBy("direction")
    )


@register(
    "q372_hgt_hillshade",
    # Independent-numpy goldens (fixed-point Horn hillshade census) —
    # regenerable from scripts_hgt_goldens.py::hillshade_rows, pinned
    # by tests/test_hgt.py::test_terrain_goldens_match_checked_in_script.
    oracle="""
SELECT * FROM (VALUES
  ('N00E000', 51819, 25880, 25906, 33, 15002286168010, 14692242375934, 1364716510),
  ('N46E007', 51819, 25647, 26140, 32, 14475451855018, 15194977068152, 1364716510),
  ('S01W072', 51819, 24056, 27726, 37, 13632836283752, 16528515816308, 1363302296)
) AS t(cell, n_points, n_lit, n_shadow, n_neutral, sum_lit_load,
       sum_shadow_load, max_load)
""",
    tags=("hgt", "tier_a", "terrain", "hillshade"),
)
def q372_hgt_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horn hillshade census [A6+A8] — the relief-rendering derivative
    (Horn 1981, the GDAL `hillshade` kernel): per interior sample
    with a fully-valid 3x3 neighborhood, the Horn weighted gradient
    numerators gx = (c+2f+i)-(a+2d+g), gy = (g+2h+i)-(a+2b+c) and the
    ILLUMINATION LOAD L = 707107 x (gx + gy) -- the exact fixed-point
    numerator of cos(alt)*sin(slope)*cos(az - aspect) for the standard
    az 315 deg / alt 45 deg light (sin 315 = -cos 315 = -sqrt(2)/2).
    The hillshade normalization 1/sqrt(1+p^2+q^2) is strictly
    positive, so sign(L) partitions lit vs shadowed samples exactly
    as the float hillshade does while every graded number stays an
    exact integer (the fixed-point discipline of the D8 weights). One
    numpy pass inside the `_per_cell` decode shell; only the 3-row
    census leaves Python -- the same plan at any cell count, with
    cross-cell seams handled by the `_band`/`_seam_d8` exchange when
    mosaicked."""
    schema = (
        "cell string, n_points long, n_lit long, n_shadow long, "
        "n_neutral long, sum_lit_load long, sum_shadow_load long, "
        "max_load long"
    )
    FP = 707107

    def shade(cell, la, lo, g):
        n = g.shape[0]
        v = g != hgt.VOID
        ok = v[1:-1, 1:-1].copy()
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                ok &= v[1 + dr:n - 1 + dr, 1 + dc:n - 1 + dc]

        def w(dr, dc):
            return g[1 + dr:n - 1 + dr, 1 + dc:n - 1 + dc]

        gx = (w(-1, 1) + 2 * w(0, 1) + w(1, 1)) \
            - (w(-1, -1) + 2 * w(0, -1) + w(1, -1))
        gy = (w(1, -1) + 2 * w(1, 0) + w(1, 1)) \
            - (w(-1, -1) + 2 * w(-1, 0) + w(-1, 1))
        load = (FP * (gx + gy))[ok]
        return [{
            "cell": cell, "n_points": int(ok.sum()),
            "n_lit": int((load > 0).sum()), "n_shadow": int((load < 0).sum()),
            "n_neutral": int((load == 0).sum()),
            "sum_lit_load": int(load[load > 0].sum()),
            "sum_shadow_load": int(-load[load < 0].sum()),
            "max_load": int(load.max()),
        }]

    return _per_cell(_raw(spark), shade, schema).orderBy("cell")


@register(
    "q373_hgt_watershed_basins",
    # Independent-numpy goldens (D8 watershed basin census via pointer
    # doubling) — regenerable from scripts_hgt_goldens.py::basin_rows,
    # pinned by tests/test_hgt.py::test_terrain_goldens_match_checked_in_script.
    oracle="""
SELECT * FROM (VALUES
  ('N00E000', 5710, 908, 3504, 57482),
  ('N46E007', 5706, 907, 3367, 57482),
  ('S01W072', 5698, 902, 3079, 57482)
) AS t(cell, n_basins, max_basin_size, n_singletons, n_valid_cells)
""",
    tags=("hgt", "tier_a", "terrain", "hydrology", "watershed"),
)
def q373_hgt_watershed_basins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watershed delineation [A6+A8] — the segmentation step after
    q319's flow directions and q326's accumulation (ESRI `Watershed`
    / `Basin`): every valid sample drains along its D8 pointer chain
    to a TERMINAL cell (direction 0: pit, flat, border or
    invalid-neighborhood), and the terminal cell labels the basin.
    Labels are computed by POINTER DOUBLING (`_terminals`: next =
    next[next] to fixpoint) -- O(log longest-path) passes, each a
    vectorized gather, the identical contraction the distributed
    q76/q297 connected-components run as keyed joins, so the per-tile
    numpy here and a 1000-executor label-exchange implementation share
    one algorithm. Census per cell: basin count, largest basin,
    singleton count and the valid-cell total (basin sizes must
    conserve it). Basin counts run ~5.7k/cell on the trig fixture:
    pit-dense synthetic terrain, so the census also regression-pins
    the tie-break rule (lowest ESRI code wins) that decides which pit
    captures a ridge sample."""
    schema = (
        "cell string, n_basins long, max_basin_size long, "
        "n_singletons long, n_valid_cells long"
    )

    def basins(cell, la, lo, g):
        v = (g != hgt.VOID).ravel()
        _, sizes = np.unique(_terminals(_d8(g)[0])[v], return_counts=True)
        return [{
            "cell": cell, "n_basins": int(sizes.size),
            "max_basin_size": int(sizes.max()),
            "n_singletons": int((sizes == 1).sum()), "n_valid_cells": int(v.sum()),
        }]

    return _per_cell(_raw(spark), basins, schema).orderBy("cell")


@register(
    "q437_hgt_mosaic_watershed",
    # Independent-numpy golden over the SEAMLESS global-field mosaic
    # (scripts_hgt_goldens.py::mosaic_basin_rows, pinned by
    # tests/test_hgt.py) — 167 of the 16,304 basins span an internal
    # seam, which is exactly the structure a per-cell watershed
    # (q373) cannot produce.
    oracle="""
SELECT * FROM (VALUES
  (16304, 228976, 1367, 167, 26833)
) AS t(n_basins, n_valid_cells, max_basin_size, n_seam_spanning,
       seam_spanning_mass)
""",
    tags=("hgt", "tier_a", "terrain", "hydrology", "watershed",
          "mosaic", "fencepost"),
)
def q437_hgt_mosaic_watershed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-cell watershed delineation on the 2×2 mosaic — q373's
    basins composed with q350's border exchange (VERDICT r9 #6), so
    basins FLOW ACROSS the shared cell edges instead of being cut at
    file boundaries:

    * per cell, the decode kernel contracts every OWNED sample's D8
      chain by pointer doubling (`_terminals`; O(area) work, zero
      shuffle) down to either a local terminal (basin root) or an
      EXIT onto a seam line whose D8 the cell cannot know — emitting
      only aggregated (root, member-count) and (seam-exit,
      member-count) rows plus a near-seam resolution map, all
      O(perimeter);
    * the cells' border bands are exchanged by `_band` exactly as in
      q350 (outer two lines, deduplicated on global coordinates,
      altitude consistency RAISED on mismatch), seam-line samples get
      their D8 from `_seam_d8`'s eight broadcast shifted equi-joins;
    * the seam graph (seam sample → resolved target, ~10³ rows at
      any cell count) is contracted by distributed pointer jumping —
      self-joins to fixpoint, the same O(log path) recursion q76's
      connected components run — then exit masses fold onto their
      cross-seam roots.

    Census: basin count, valid-sample conservation total, largest
    basin, and the seam-spanning basin count/mass that per-cell
    processing gets structurally wrong (it would report 0 spanning
    basins and split their mass). Ownership of a sample is canonical
    (`_owner`: north/east cell claims a seam line), so every valid
    sample is counted exactly once across the fleet of per-cell
    kernels."""
    raw = _mosaic_raw(spark)

    def local(cell, la, lo, g):
        """Per-cell contraction. Emits a tagged union:
        rel='B' a=root_gid  b=count      c=owner_cell_idx
        rel='X' a=seam_gid  b=count      c=owner_cell_idx
        rel='C' a=gid       b=target_gid c=kind (0 terminal, 1 seam)"""
        # file-edge lines are absorbing (their D8 is either
        # border-terminal or seam — classified globally below)
        nxt = _terminals(_d8(g)[0])
        m = _mosaic_samples(la, lo, g != hgt.VOID)
        fin = nxt[m.owned]
        exit_mask = m.on_seam[fin]
        # 'B': members whose chain ends at a terminal root
        roots, cnts = np.unique(m.gid[fin[~exit_mask]], return_counts=True)
        # 'X': members whose chain exits onto a seam sample
        seams, scnts = np.unique(m.gid[fin[exit_mask]], return_counts=True)
        # 'C': near-seam resolution map (everything a seam sample's
        # D8 can point to, minus seam samples)
        f2 = nxt[m.near]
        return {
            "rel": ["B"] * roots.size + ["X"] * seams.size + ["C"] * f2.size,
            "a": np.concatenate([roots, seams, m.gid[m.near]]),
            "b": np.concatenate([cnts, scnts, m.gid[f2]]),
            "c": np.concatenate([np.full(roots.size + seams.size, m.idx),
                                 m.on_seam[f2].astype(np.int64)]),
        }

    tagged = _per_cell(raw, local, "rel string, a long, b long, c long").persist()
    seam_next = _seam_d8(_band(raw)).select("s", "dir", "ng", "y", "x").persist()

    seam_ids = seam_next.select(F.col("s").alias("sid2"))
    near_map = tagged.filter(F.col("rel") == "C").select(
        F.col("a").alias("cg"), F.col("b").alias("ct"), F.col("c").alias("ck")
    )
    e0 = (
        seam_next
        .join(F.broadcast(seam_ids), F.col("ng") == F.col("sid2"), "left")
        .join(F.broadcast(near_map), F.col("ng") == F.col("cg"), "left")
        .select(
            "s",
            F.when(F.col("dir") == 0, F.lit(0))
            .when(F.col("sid2").isNotNull(), F.lit(1))
            .otherwise(F.col("ck")).alias("kind"),
            F.when(F.col("dir") == 0, F.col("s"))
            .when(F.col("sid2").isNotNull(), F.col("ng"))
            .otherwise(F.col("ct")).alias("t"),
        )
    )
    if e0.filter(F.col("kind").isNull()).count():
        raise ValueError("seam D8 target missing from exchange relations")

    # distributed pointer jumping over the seam graph (O(log path))
    r = e0.localCheckpoint(eager=True)
    for _ in range(24):
        if r.filter(F.col("kind") == 1).count() == 0:
            break
        hop = r.select(F.col("s").alias("s2"), F.col("kind").alias("k2"),
                       F.col("t").alias("t2"))
        r = (
            r.join(F.broadcast(hop), F.col("t") == F.col("s2"), "left")
            .select(
                "s",
                F.when(F.col("kind") == 1, F.col("k2"))
                .otherwise(F.col("kind")).alias("kind"),
                F.when(F.col("kind") == 1, F.col("t2"))
                .otherwise(F.col("t")).alias("t"),
            )
            .localCheckpoint(eager=True)
        )
    else:
        raise ValueError("seam pointer jumping did not converge")
    resolve = r.select(F.col("s").alias("rs"), F.col("t").alias("root"))

    owner_expr = (
        F.least((F.col("y") - F.lit(YMIN)) / F.lit(MOSAIC_N - 1), F.lit(1.0))
        .cast("long") * 2
        + F.least((F.col("x") - F.lit(XMIN)) / F.lit(MOSAIC_N - 1), F.lit(1.0))
        .cast("long")
    )
    members = (
        tagged.filter(F.col("rel") == "B")
        .select(F.col("a").alias("root"), F.col("b").alias("cnt"),
                F.col("c").alias("owner"))
        .unionByName(
            tagged.filter(F.col("rel") == "X")
            .join(F.broadcast(resolve), F.col("a") == F.col("rs"))
            .select("root", F.col("b").alias("cnt"),
                    F.col("c").alias("owner"))
        )
        .unionByName(
            seam_next
            .join(F.broadcast(resolve), F.col("s") == F.col("rs"))
            .select("root", F.lit(1).alias("cnt"),
                    owner_expr.alias("owner"))
        )
    )
    basins = members.groupBy("root").agg(
        F.sum("cnt").alias("size"),
        F.expr("bit_or(shiftleft(1, cast(owner as int)))").alias("mask"),
    )
    out = basins.agg(
        F.count(F.lit(1)).alias("n_basins"),
        F.sum("size").cast("long").alias("n_valid_cells"),
        F.max("size").cast("long").alias("max_basin_size"),
        F.sum(F.when(F.expr("bit_count(mask)") > 1, 1).otherwise(0))
        .cast("long").alias("n_seam_spanning"),
        F.sum(F.when(F.expr("bit_count(mask)") > 1, F.col("size"))
              .otherwise(0)).cast("long").alias("seam_spanning_mass"),
    )
    # Materialize the one-row census (collect + local rebuild keeps
    # AQE in the plan, unlike an eager localCheckpoint), then release
    # the cached blocks (ADVICE r10: persisted frames leaked for the
    # session lifetime — noticeable in 400-query parity sessions); the
    # pointer-jumping localCheckpoints are freed by the ContextCleaner
    # once unreferenced.
    res = materialize_local(out)
    tagged.unpersist()
    seam_next.unpersist()
    return res


@register(
    "q439_hgt_mosaic_accumulation",
    # Independent-numpy golden over the seamless global-field mosaic
    # (scripts_hgt_goldens.py::mosaic_accum_rows, pinned by
    # tests/test_hgt.py) — max accumulation ON an internal seam line
    # is 35: drainage demonstrably crosses the shared cell edges.
    oracle="""
SELECT * FROM (VALUES
  (38600, 133712, 52802, 3862, 1367, 35)
) AS t(n_sources, n_small, n_medium, n_large, max_accum,
       max_accum_on_seam)
""",
    tags=("hgt", "tier_a", "terrain", "hydrology", "accumulation",
          "mosaic", "fencepost"),
)
def q439_hgt_mosaic_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-cell D8 flow ACCUMULATION on the 2×2 mosaic — q326's
    per-cell accumulation composed with the q350/q437 border
    exchange, closing the Tier-A hydrology set (direction q319 →
    accumulation q326 → watershed q373, each now with a seamed
    mosaic counterpart). Unlike q437's labels, accumulation is a
    MASS flow: every valid sample's unit drains downhill, so seam
    and border samples receive water from MULTIPLE cells and
    transit mass re-enters downstream cells. The decomposition:

    * pass 1 (per cell, decode kernel): local Kahn accumulation
      (`_accumulate`) of the cell's interior units; emits the
      O(perimeter) arrival masses at edge lines plus the near-seam
      routing map (entry → absorbing target, classed
      interior/seam/border);
    * seam graph: M0(s) = 1 + local arrivals; contracted edges
      (seam→seam, directly or through a cell transit) closed by
      pointer-doubled transitive closure, so acc(s) = M0(s) +
      Σ M0(upstream) — an exact path-sum without iterating the
      terrain's longest chain;
    * border samples: acc(b) = 1 + arrivals from BOTH adjacent
      files + direct seam inflow (the fencepost line is the
      exchange point, not a wall);
    * pass 2 (per cell): re-run local accumulation with the seam
      graph's transit masses INJECTED at their interior entry
      points (shipped to the kernel as a broadcast-joined list
      column — no driver-side fact rows), censusing owned interior
      samples whose totals now include cross-cell water.

    Census: source count, accumulation bands, global max, and max
    accumulation ON a seam line — a number a per-cell plan
    structurally reports as unavailable."""
    raw = _mosaic_raw(spark)

    def inner_units(v):
        """One unit on every valid sample off the file's edge lines."""
        units = np.zeros(v.shape, dtype=np.int64)
        units[1:-1, 1:-1] = v[1:-1, 1:-1]
        return units

    def pass1(cell, la, lo, g):
        """rel='X' a=edge_gid b=arrived_mass
        rel='C' a=gid b=absorb_target_gid c=kind
                (0 interior-terminal, 1 seam, 2 border, 3 self-border)"""
        v = g != hgt.VOID
        codes = _d8(g)[0]
        units = inner_units(v)
        acc = _accumulate(codes, units).ravel()
        # mass arrived on the edge lines: D8 never points at a void,
        # so every non-unit sample holding mass is an edge sample
        arrived = (units.ravel() == 0) & (acc > 0)
        m = _mosaic_samples(la, lo, v)
        # near-seam routing map over OWNED valid samples, through the
        # absorbing pointer map
        f2 = _terminals(codes)[m.near]
        kind = np.where(
            m.on_border[m.near], 3,
            np.where(m.on_seam[f2], 1, np.where(m.on_border[f2], 2, 0)))
        return {
            "rel": ["X"] * int(arrived.sum()) + ["C"] * f2.size,
            "a": np.concatenate([m.gid[arrived], m.gid[m.near]]),
            "b": np.concatenate([acc[arrived], m.gid[f2]]),
            "c": np.concatenate([np.zeros(int(arrived.sum()), np.int64), kind]),
        }

    def pass2(cell, la, lo, g, injs):
        """Final interior census with injected transit masses."""
        n = g.shape[0]
        units = inner_units(g != hgt.VOID)
        inner = units == 1
        for inj in injs if injs is not None else ():
            gy, gx = divmod(int(inj["gid"]), GID)
            units[(la + 1) * (n - 1) - gy, gx - lo * (n - 1)] += inj["mass"]
        return [_accum_bands(_accumulate(_d8(g)[0], units)[inner])]

    tagged = _per_cell(raw, pass1, "rel string, a long, b long, c long").persist()

    # --- band relation + seam D8 (the q350/q437 exchange) ---
    band = _band(raw)
    seam_next = _seam_d8(band).select("s", "dir", "ng").persist()

    # --- seam node initial masses and contracted edges ---
    gy = F.col("a").cast("long") / GID
    exits = tagged.filter(F.col("rel") == "X").select(
        F.col("a").alias("xg"), F.col("b").alias("mass"),
        F.floor(gy).cast("long").alias("ey"),
        (F.col("a") % GID).alias("ex"),
    )
    is_border = ((F.col("ey") == YMIN) | (F.col("ey") == YMAX)
                 | (F.col("ex") == XMIN) | (F.col("ex") == XMAX))
    exits_seam = exits.filter(~is_border).groupBy("xg").agg(
        F.sum("mass").alias("mass"))
    exits_border = exits.filter(is_border).groupBy("xg").agg(
        F.sum("mass").alias("mass"))
    m0 = (
        seam_next.select("s")
        .join(F.broadcast(exits_seam), F.col("s") == F.col("xg"), "left")
        .select("s", (F.lit(1) + F.coalesce("mass", F.lit(0))).alias("m0"))
    )
    near = tagged.filter(F.col("rel") == "C").select(
        F.col("a").alias("cg"), F.col("b").alias("ct"),
        F.col("c").alias("ck"))
    seam_ids = seam_next.select(F.col("s").alias("sid2"))
    routed = (
        seam_next.filter(F.col("dir") != 0)
        .join(F.broadcast(seam_ids), F.col("ng") == F.col("sid2"), "left")
        .join(F.broadcast(near), F.col("ng") == F.col("cg"), "left")
    )
    if routed.filter(F.col("sid2").isNull() & F.col("cg").isNull()).count():
        raise ValueError("seam D8 target missing from exchange relations")
    # closure edges: seam -> seam (direct, or transiting a cell)
    edges = routed.filter(
        F.col("sid2").isNotNull() | (F.col("ck") == 1)
    ).select(
        F.col("s").alias("u"),
        F.when(F.col("sid2").isNotNull(), F.col("ng"))
        .otherwise(F.col("ct")).alias("d"),
    )
    # border inflow edges: seam -> border sample
    border_in = routed.filter(
        F.col("sid2").isNull() & F.col("ck").isin(2, 3)
    ).select(
        F.col("s").alias("u"),
        F.when(F.col("ck") == 3, F.col("ng"))
        .otherwise(F.col("ct")).alias("b"),
    )
    # cell-entry injections: seam -> interior sample (ck 0/1/2)
    entries = routed.filter(
        F.col("sid2").isNull() & F.col("ck").isin(0, 1, 2)
    ).select(F.col("s").alias("u"), F.col("ng").alias("entry"))

    # transitive closure over the contracted seam forest (doubling)
    # one count() per round: the previous round's count is carried
    pairs = edges.select(F.col("u"), F.col("d")).localCheckpoint(eager=True)
    n_pairs = pairs.count()
    for _ in range(24):
        hop = pairs.select(F.col("u").alias("u2"), F.col("d").alias("d2"))
        grown = (
            pairs.unionByName(
                pairs.join(F.broadcast(hop), F.col("d") == F.col("u2"))
                .select("u", F.col("d2").alias("d"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_grown = grown.count()
        converged = n_grown == n_pairs
        pairs, n_pairs = grown, n_grown
        if converged:
            break
    else:
        raise ValueError("seam closure did not converge")
    acc_seam = (
        m0.alias("t")
        .join(
            F.broadcast(
                pairs.join(m0.select(F.col("s").alias("u"),
                                     F.col("m0").alias("um")), "u")
                .groupBy("d").agg(F.sum("um").alias("upstream"))
            ),
            F.col("t.s") == F.col("d"), "left",
        )
        .select(
            F.col("t.s").alias("s"),
            (F.col("m0") + F.coalesce("upstream", F.lit(0))).alias("acc"),
        )
        .persist()
    )
    # border accumulation: 1 + file arrivals + direct seam inflow
    border_pop = band.filter(
        ((F.col("y") == YMIN) | (F.col("y") == YMAX)
         | (F.col("x") == XMIN) | (F.col("x") == XMAX))
        & F.col("alt").isNotNull()
    ).select((F.col("y") * GID + F.col("x")).alias("bg"))
    seam_to_border = (
        border_in.join(acc_seam, border_in.u == acc_seam.s)
        .groupBy("b").agg(F.sum("acc").alias("inflow"))
    )
    acc_border = (
        border_pop
        .join(F.broadcast(exits_border), F.col("bg") == F.col("xg"), "left")
        .join(F.broadcast(seam_to_border), F.col("bg") == F.col("b"), "left")
        .select(
            "bg",
            (F.lit(1) + F.coalesce("mass", F.lit(0))
             + F.coalesce("inflow", F.lit(0))).alias("acc"),
        )
    )
    # injections into pass 2, grouped per owning cell
    inj = (
        entries.join(acc_seam, entries.u == acc_seam.s)
        .groupBy("entry").agg(F.sum("acc").alias("mass"))
        .select(
            F.col("entry").alias("gid"), "mass",
            (F.lit(46) + F.floor((F.floor(F.col("entry") / GID) - YMIN)
                                 / (MOSAIC_N - 1)).cast("long")).alias("la"),
            (F.lit(7) + F.floor(((F.col("entry") % GID) - XMIN)
                                / (MOSAIC_N - 1)).cast("long")).alias("lo"),
        )
        .withColumn(
            "cell",
            F.concat(F.lit("N"), F.lpad(F.col("la").cast("string"), 2, "0"),
                     F.lit("E"), F.lpad(F.col("lo").cast("string"), 3, "0")),
        )
        .groupBy("cell")
        .agg(F.collect_list(F.struct("gid", "mass")).alias("injs"))
    )
    interior_census = _per_cell(
        raw.join(F.broadcast(inj), "cell", "left"), pass2, ACCUM_SCHEMA, "injs")

    def _bands(df):
        acc = F.col("acc")
        return df.agg(
            F.sum(F.when(acc == 1, 1).otherwise(0)).alias("n_sources"),
            F.sum(F.when((acc >= 2) & (acc <= 10), 1).otherwise(0))
            .alias("n_small"),
            F.sum(F.when((acc >= 11) & (acc <= 100), 1).otherwise(0))
            .alias("n_medium"),
            F.sum(F.when(acc > 100, 1).otherwise(0)).alias("n_large"),
            F.max(acc).alias("max_accum"),
        )

    seam_census = _bands(acc_seam)
    border_census = _bands(acc_border)
    interior_total = interior_census.agg(
        F.sum("n_sources").alias("n_sources"),
        F.sum("n_small").alias("n_small"),
        F.sum("n_medium").alias("n_medium"),
        F.sum("n_large").alias("n_large"),
        F.max("max_accum").alias("max_accum"),
    )
    combined = interior_total.unionByName(seam_census).unionByName(
        border_census)
    seam_max = acc_seam.agg(F.max("acc").alias("max_accum_on_seam"))
    out = combined.agg(
        F.sum("n_sources").cast("long").alias("n_sources"),
        F.sum("n_small").cast("long").alias("n_small"),
        F.sum("n_medium").cast("long").alias("n_medium"),
        F.sum("n_large").cast("long").alias("n_large"),
        F.max("max_accum").cast("long").alias("max_accum"),
    ).crossJoin(F.broadcast(seam_max.select(
        F.col("max_accum_on_seam").cast("long").alias("max_accum_on_seam"))))
    # Materialize the one-row census (collect + local rebuild keeps
    # AQE in the plan), then release the cached blocks (ADVICE r10
    # persist-leak fix; closure localCheckpoints are freed by the
    # ContextCleaner once unreferenced).
    res = materialize_local(out)
    tagged.unpersist()
    seam_next.unpersist()
    acc_seam.unpersist()
    return res
