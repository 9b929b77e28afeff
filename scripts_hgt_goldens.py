#!/usr/bin/env python
"""Regenerate the VALUES-literal oracles for the ten Tier-A terrain
queries from the fixture DEFINITION alone (ADVICE r6: the goldens'
independent-numpy provenance must be reproducible from a checked-in
script, not a comment):

* per cell of the 3-cell fixture: q277 hypsometry (`hypsometry_rows`),
  q287 aspect census (`aspect_rows`), q299 contour crossings
  (`contour_rows`), q319 D8 flow direction (`flow_rows`), q326 flow
  accumulation (`accum_rows`), q372 hillshade (`hillshade_rows`) and
  q373 watershed basins (`basin_rows`);
* over the seamless 2×2 mosaic: q350 seam D8 census (`mosaic_rows`),
  q437 watershed (`mosaic_basin_rows`) and q439 accumulation
  (`mosaic_accum_rows`).

This script never imports the query implementations or their terrain
kernels (cli_spark/sources/hgt_queries.py) or touches Spark:
it rebuilds each fixture grid from `synth_grid` (the same deterministic
trig field the engine's fixtures serialize to big-endian .hgt files),
applies the mathematical definition of each statistic in plain numpy,
and prints the VALUES blocks embedded in cli_spark/sources/
hgt_queries.py. tests/test_hgt.py::test_terrain_goldens_match_checked_
in_script asserts the printed rows equal the registry oracles, so any
drift between fixture, implementation and golden is caught.

Definitions (what the numbers MEAN, independent of how Spark computes
them; the other seven are in each function's docstring):

* hypsometry — over valid samples, band = floor(alt / 500 m); per
  (cell, band): sample count and cumulative share of samples in bands
  <= band, in ppm (floor division).
* aspect — for every interior sample whose 4-neighborhood is fully
  valid: dx = east - west, dy = south - north (row index grows
  southward in the north-first HGT grid); dominant axis = E/W when
  |dx| >= |dy| (ties to the x axis), sign gives the cardinal; exactly
  flat points (dx = dy = 0) are excluded as FLAT.
* contour crossings — for level L in {-500, 0, +500}: count of
  adjacent valid sample pairs (along rows = h, along columns = v)
  with one endpoint > L and the other <= L.
"""

from __future__ import annotations

import numpy as np

from cli_spark.sources.hgt import FIXTURE_CELLS, VOID, synth_grid

N = 241  # fixture grid edge (cli_spark/sources/hgt.py::ensure_fixtures)


def _grids() -> list[tuple[str, np.ndarray]]:
    return [(cell, synth_grid(N, phase).astype(np.int64))
            for cell, phase in sorted(FIXTURE_CELLS)]


def hypsometry_rows() -> list[tuple]:
    rows = []
    for cell, g in _grids():
        alt = g[g != VOID]
        bands = np.floor_divide(alt, 500)
        uniq, counts = np.unique(bands, return_counts=True)
        tot = int(counts.sum())
        cum = 0
        for band, cnt in zip(uniq.tolist(), counts.tolist()):
            cum += cnt
            rows.append((cell, band, cnt, cum * 1_000_000 // tot))
    return rows


def aspect_rows() -> list[tuple]:
    rows = []
    for cell, g in _grids():
        v = g != VOID
        ok = (v[1:-1, 1:-1] & v[1:-1, 2:] & v[1:-1, :-2]
              & v[2:, 1:-1] & v[:-2, 1:-1])
        dx = (g[1:-1, 2:] - g[1:-1, :-2])[ok]
        dy = (g[2:, 1:-1] - g[:-2, 1:-1])[ok]
        flat = (dx == 0) & (dy == 0)
        ew = (~flat) & (np.abs(dx) >= np.abs(dy))
        ns = (~flat) & ~ew
        for aspect, cnt in (
            ("E", int((ew & (dx > 0)).sum())),
            ("N", int((ns & (dy < 0)).sum())),
            ("S", int((ns & (dy > 0)).sum())),
            ("W", int((ew & (dx < 0)).sum())),
            ("FLAT", int(flat.sum())),
        ):
            if cnt:
                rows.append((cell, aspect, cnt))
    return sorted(rows)


def contour_rows() -> list[tuple]:
    rows = []
    for cell, g in _grids():
        v = g != VOID
        bh = v[:, 1:] & v[:, :-1]
        bv = v[1:, :] & v[:-1, :]
        ah, bh_ = g[:, 1:][bh], g[:, :-1][bh]
        av, bv_ = g[1:, :][bv], g[:-1, :][bv]
        for level in (-500, 0, 500):
            ch = int((((ah > level) & (bh_ <= level))
                      | ((ah <= level) & (bh_ > level))).sum())
            cv = int((((av > level) & (bv_ <= level))
                      | ((av <= level) & (bv_ > level))).sum())
            rows.append((cell, level, ch, cv, ch + cv))
    return rows


def flow_rows() -> list[tuple]:
    """D8 flow-direction census: for every interior sample whose full
    3×3 neighborhood is valid, direction = steepest-descent neighbor
    by drop/distance with fixed-point sqrt(2) ≈ 1.414214 (cardinal
    weight = drop × 1414214, diagonal = drop × 1000000), ESRI codes
    (E=1, SE=2, S=4, SW=8, W=16, NW=32, N=64, NE=128; row index grows
    southward), ties to the LOWEST code, no positive drop → 0."""
    CARD, DIAG = 1414214, 1000000
    # (code, row offset, col offset) in ascending code order
    dirs = [(1, 0, 1), (2, 1, 1), (4, 1, 0), (8, 1, -1),
            (16, 0, -1), (32, -1, -1), (64, -1, 0), (128, -1, 1)]
    rows = []
    for cell, g in _grids():
        v = g != VOID
        ok = np.ones_like(v[1:-1, 1:-1])
        for _c, dr, dc in dirs:
            ok = ok & v[1 + dr:g.shape[0] - 1 + dr, 1 + dc:g.shape[1] - 1 + dc]
        ok = ok & v[1:-1, 1:-1]
        zc = g[1:-1, 1:-1]
        ws, codes = [], []
        for code, dr, dc in dirs:
            zn = g[1 + dr:g.shape[0] - 1 + dr, 1 + dc:g.shape[1] - 1 + dc]
            w = (zc - zn) * (CARD if dr == 0 or dc == 0 else DIAG)
            ws.append(w)
            codes.append(code)
        stack = np.stack(ws)              # ascending code order
        best = np.argmax(stack, axis=0)   # first max = lowest code
        bestw = np.max(stack, axis=0)
        code_arr = np.array(codes)[best]
        code_arr = np.where(bestw > 0, code_arr, 0)
        code_arr = code_arr[ok]
        uniq, counts = np.unique(code_arr, return_counts=True)
        for code, cnt in zip(uniq.tolist(), counts.tolist()):
            rows.append((cell, code, cnt))
    return rows


def _d8_codes(g: np.ndarray):
    """Shared D8 direction grid for flow_rows/accum_rows: full-grid
    code array (interior cells; border and invalid-neighborhood cells
    get 0) plus the validity mask."""
    CARD, DIAG = 1414214, 1000000
    dirs = [(1, 0, 1), (2, 1, 1), (4, 1, 0), (8, 1, -1),
            (16, 0, -1), (32, -1, -1), (64, -1, 0), (128, -1, 1)]
    n = g.shape[0]
    v = g != VOID
    ok = v[1:-1, 1:-1].copy()
    ws = []
    for _c, dr, dc in dirs:
        ok &= v[1 + dr:n - 1 + dr, 1 + dc:n - 1 + dc]
    zc = g[1:-1, 1:-1]
    for code, dr, dc in dirs:
        zn = g[1 + dr:n - 1 + dr, 1 + dc:n - 1 + dc]
        ws.append((zc - zn) * (CARD if dr == 0 or dc == 0 else DIAG))
    stack = np.stack(ws)
    best = np.argmax(stack, axis=0)
    bestw = np.max(stack, axis=0)
    code_arr = np.array([c for c, _, _ in dirs])[best]
    code_arr = np.where((bestw > 0) & ok, code_arr, 0)
    full = np.zeros_like(g, dtype=np.int64)
    full[1:-1, 1:-1] = code_arr
    return full, dirs


def accum_rows() -> list[tuple]:
    """D8 flow accumulation: each cell contributes 1 plus everything
    draining through it along the q319 direction grid (code 0 cells
    receive but do not forward). Census per cell: accumulation-band
    histogram (1 / 2-10 / 11-100 / >100) and the maximum."""
    rows = []
    for cell, g in _grids():
        codes, dirs = _d8_codes(g)
        n = g.shape[0]
        acc = np.ones_like(g, dtype=np.int64)
        acc[g == VOID] = 0
        # Kahn-style: process cells in decreasing remaining in-degree
        indeg = np.zeros_like(acc)
        off = {c: (dr, dc) for c, dr, dc in dirs}
        targets = {}
        for (r, c), code in np.ndenumerate(codes):
            if code:
                dr, dc = off[int(code)]
                targets[(r, c)] = (r + dr, c + dc)
                indeg[r + dr, c + dc] += 1
        from collections import deque

        q = deque(rc for rc, _ in np.ndenumerate(codes)
                  if indeg[rc] == 0)
        while q:
            rc = q.popleft()
            t = targets.get(rc)
            if t is None:
                continue
            acc[t] += acc[rc]
            indeg[t] -= 1
            if indeg[t] == 0:
                q.append(t)
        valid = acc[g != VOID]
        b1 = int((valid == 1).sum())
        b2 = int(((valid >= 2) & (valid <= 10)).sum())
        b3 = int(((valid >= 11) & (valid <= 100)).sum())
        b4 = int((valid > 100).sum())
        rows.append((cell, b1, b2, b3, b4, int(valid.max())))
    return rows


def mosaic_rows(n: int = 241) -> list[tuple]:
    """q350 golden: D8 census over the SEAMLESS 2×2 mosaic
    (N46/47 × E007/008) built directly from the GLOBAL field — never
    from per-cell files — so it is ground truth for cross-cell
    continuity. For each direction: total interior-of-mosaic points
    and how many of them lie ON an internal seam line (the shared
    border samples the per-cell queries can't see past). Same
    fixed-point D8 rule as flow_rows."""
    from cli_spark.sources.hgt import mosaic_field

    m = 2 * (n - 1) + 1
    # mosaic array with row index growing SOUTHWARD: row i ⇒ y = ymax−i
    i, j = np.meshgrid(np.arange(m), np.arange(m), indexing="ij")
    ymax = (47 + 1) * (n - 1)
    xmin = 7 * (n - 1)
    g = mosaic_field(ymax - i, xmin + j).astype(np.int64)
    v = g != VOID
    CARD, DIAG = 1414214, 1000000
    dirs = [(1, 0, 1), (2, 1, 1), (4, 1, 0), (8, 1, -1),
            (16, 0, -1), (32, -1, -1), (64, -1, 0), (128, -1, 1)]
    ok = v[1:-1, 1:-1].copy()
    ws, codes = [], []
    for code, dr, dc in dirs:
        ok &= v[1 + dr:m - 1 + dr, 1 + dc:m - 1 + dc]
        ws.append((g[1:-1, 1:-1] - g[1 + dr:m - 1 + dr, 1 + dc:m - 1 + dc])
                  * (CARD if dr == 0 or dc == 0 else DIAG))
        codes.append(code)
    stack = np.stack(ws)
    best = np.argmax(stack, axis=0)
    bestw = np.max(stack, axis=0)
    code_arr = np.array(codes)[best]
    code_arr = np.where(bestw > 0, code_arr, 0)
    # seam lines in interior-index space: interior point (ii, jj) maps
    # to mosaic (ii+1, jj+1); internal seams sit at mosaic row/col n−1
    ii, jj = np.meshgrid(np.arange(m - 2), np.arange(m - 2), indexing="ij")
    on_seam = (ii + 1 == n - 1) | (jj + 1 == n - 1)
    rows = []
    for code in sorted(set(code_arr[ok].tolist())):
        sel = ok & (code_arr == code)
        rows.append((int(code), int(sel.sum()),
                     int((sel & on_seam).sum())))
    return rows


def hillshade_rows() -> list[tuple]:
    """Fixed-point Horn hillshade census (q372): for every interior
    sample with a fully-valid 3×3 neighborhood, the Horn (1981) 3×3
    weighted gradient numerators
        gx = (c + 2f + i) − (a + 2d + g)   (east − west)
        gy = (g + 2h + i) − (a + 2b + c)   (south − north; row index
                                            grows southward)
    and the illumination load L = 707107 × (gx + gy) — the exact
    fixed-point numerator of the directional term
    cos(alt)·sin(slope)·cos(az − aspect) of the standard hillshade
    for azimuth 315°/altitude 45° (sin 315° = −cos 315° = −√2/2 ≈
    ∓0.707107).  The normalization 1/√(1+p²+q²) is positive, so the
    SIGN of L partitions lit vs shadowed exactly as the float
    hillshade does — no float enters the graded numbers.  Census per
    cell: point count, lit/shadowed/neutral counts, ΣL⁺, Σ|L⁻|,
    max L."""
    FP = 707107
    rows = []
    for cell, g in _grids():
        v = g != VOID
        n = g.shape[0]
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
        rows.append((
            cell,
            int(ok.sum()),
            int((load > 0).sum()),
            int((load < 0).sum()),
            int((load == 0).sum()),
            int(load[load > 0].sum()),
            int(-load[load < 0].sum()),
            int(load.max()),
        ))
    return rows


def basin_rows() -> list[tuple]:
    """Watershed basin census (q373): every valid sample drains along
    the q319 D8 direction grid until it reaches a terminal cell
    (direction 0 — a pit, flat, border or invalid-neighborhood cell);
    the terminal cell labels the basin.  Labels are computed by
    pointer doubling (next = next[next] to fixpoint) — the same
    O(log path) contraction a distributed implementation runs.
    Census per cell-file: basin count, largest basin size, singleton
    basins, valid-cell total (conservation: sizes sum to it)."""
    rows = []
    for cell, g in _grids():
        codes, dirs = _d8_codes(g)
        n = g.shape[0]
        off = {c: (dr, dc) for c, dr, dc in dirs}
        flat_next = np.arange(n * n, dtype=np.int64)
        for code, (dr, dc) in off.items():
            sel = codes == code
            r, c = np.nonzero(sel)
            flat_next[r * n + c] = (r + dr) * n + (c + dc)
        while True:
            nxt2 = flat_next[flat_next]
            if np.array_equal(nxt2, flat_next):
                break
            flat_next = nxt2
        valid = (g != VOID).ravel()
        labels = flat_next[valid]
        _, sizes = np.unique(labels, return_counts=True)
        rows.append((
            cell,
            int(sizes.size),
            int(sizes.max()),
            int((sizes == 1).sum()),
            int(valid.sum()),
        ))
    return rows


def mosaic_basin_rows(n: int = 241) -> list[tuple]:
    """q437 golden: watershed basin census over the SEAMLESS 2×2
    mosaic (N46/47 × E007/008) built directly from the GLOBAL field —
    ground truth for CROSS-CELL basin continuity. Same D8 rule as
    mosaic_rows (mosaic border lines and invalid neighborhoods are
    terminals, code 0), labels by pointer doubling as basin_rows.
    Per basin member, the CANONICAL OWNER cell is
    (min((y−ymin)//(n−1), 1), min((x−xmin)//(n−1), 1)) — seam-line
    samples owned by the north/east cell — and a basin SPANS A SEAM
    when its members have ≥ 2 distinct owners. One census row:
    basin count, valid-sample total (conservation), largest basin,
    seam-spanning basin count and their total member mass."""
    from cli_spark.sources.hgt import mosaic_field

    m = 2 * (n - 1) + 1
    i, j = np.meshgrid(np.arange(m), np.arange(m), indexing="ij")
    ymax = (47 + 1) * (n - 1)
    ymin, xmin = 46 * (n - 1), 7 * (n - 1)
    g = mosaic_field(ymax - i, xmin + j).astype(np.int64)
    v = g != VOID
    codes, dirs = _d8_codes(g)
    nxt = np.arange(m * m, dtype=np.int64)
    for code, dr, dc in dirs:
        r, c = np.nonzero(codes == code)
        nxt[r * m + c] = (r + dr) * m + (c + dc)
    while True:
        nxt2 = nxt[nxt]
        if np.array_equal(nxt2, nxt):
            break
        nxt = nxt2
    # owner cell per sample (global coords: y = ymax − row, x = xmin + col)
    y = ymax - (np.arange(m * m) // m)
    x = xmin + (np.arange(m * m) % m)
    owner = (np.minimum((y - ymin) // (n - 1), 1) * 2
             + np.minimum((x - xmin) // (n - 1), 1))
    valid = v.ravel()
    labels, owners = nxt[valid], owner[valid]
    uniq, inv, sizes = np.unique(labels, return_inverse=True,
                                 return_counts=True)
    # distinct owners per basin: 4-bit mask OR-folded per label
    masks = np.zeros(uniq.size, dtype=np.int64)
    np.bitwise_or.at(masks, inv, 1 << owners)
    spanning = np.array([bin(int(mk)).count("1") > 1 for mk in masks])
    return [(
        int(uniq.size),
        int(valid.sum()),
        int(sizes.max()),
        int(spanning.sum()),
        int(sizes[spanning].sum()),
    )]


def mosaic_accum_rows(n: int = 241) -> list[tuple]:
    """q439 golden: D8 flow-accumulation census over the SEAMLESS 2x2
    mosaic (same global-field ground truth as mosaic_basin_rows) -
    every valid sample contributes one unit that drains along the
    mosaic-wide direction grid, so accumulation on and around the
    internal seams includes CROSS-CELL mass that per-cell processing
    (q326) cannot see. One census row over all valid samples:
    source count (acc=1), band counts (2-10 / 11-100 / >100), global
    max, and the max accumulation ON an internal seam line - direct
    evidence that drainage crosses the shared edges."""
    from collections import deque

    from cli_spark.sources.hgt import mosaic_field

    m = 2 * (n - 1) + 1
    i, j = np.meshgrid(np.arange(m), np.arange(m), indexing="ij")
    ymax = (47 + 1) * (n - 1)
    ymin, xmin = 46 * (n - 1), 7 * (n - 1)
    xmax = 9 * (n - 1)
    g = mosaic_field(ymax - i, xmin + j).astype(np.int64)
    v = g != VOID
    codes, dirs = _d8_codes(g)
    acc = np.ones_like(g, dtype=np.int64)
    acc[~v] = 0
    indeg = np.zeros_like(acc)
    off = {c: (dr, dc) for c, dr, dc in dirs}
    targets = {}
    for (r, c), code in np.ndenumerate(codes):
        if code:
            dr, dc = off[int(code)]
            targets[(r, c)] = (r + dr, c + dc)
            indeg[r + dr, c + dc] += 1
    q = deque(rc for rc, _ in np.ndenumerate(codes) if indeg[rc] == 0)
    while q:
        rc = q.popleft()
        t = targets.get(rc)
        if t is None:
            continue
        acc[t] += acc[rc]
        indeg[t] -= 1
        if indeg[t] == 0:
            q.append(t)
    y = ymax - i
    x = xmin + j
    on_border = (y == ymin) | (y == ymax) | (x == xmin) | (x == xmax)
    on_seam = (((y == 47 * (n - 1)) | (x == 8 * (n - 1))) & ~on_border)
    valid = acc[v]
    return [(
        int((valid == 1).sum()),
        int(((valid >= 2) & (valid <= 10)).sum()),
        int(((valid >= 11) & (valid <= 100)).sum()),
        int((valid > 100).sum()),
        int(valid.max()),
        int(acc[v & on_seam].max()),
    )]


def _values_block(rows: list[tuple], cols: str) -> str:
    def lit(x):
        return f"'{x}'" if isinstance(x, str) else str(x)

    body = ",\n".join("  (" + ", ".join(lit(x) for x in r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES\n{body}\n) AS t({cols})"


def main() -> None:
    print("-- q277_hgt_hypsometry")
    print(_values_block(hypsometry_rows(),
                        "cell, band, n_points, cum_share_ppm"))
    print("\n-- q287_hgt_aspect_census")
    print(_values_block(aspect_rows(), "cell, aspect, n_points"))
    print("\n-- q299_hgt_contour_crossings")
    print(_values_block(
        contour_rows(),
        "cell, level, h_crossings, v_crossings, total_crossings"))
    print("\n-- q319_hgt_flow_direction")
    print(_values_block(flow_rows(), "cell, direction, n_points"))
    print("\n-- q326_hgt_flow_accumulation")
    print(_values_block(
        accum_rows(),
        "cell, n_sources, n_small, n_medium, n_large, max_accum"))
    print("\n-- q350_hgt_mosaic_seams")
    print(_values_block(mosaic_rows(), "direction, n_points, n_on_seam"))
    print("\n-- q372_hgt_hillshade")
    print(_values_block(
        hillshade_rows(),
        "cell, n_points, n_lit, n_shadow, n_neutral, sum_lit_load, "
        "sum_shadow_load, max_load"))
    print("\n-- q373_hgt_watershed_basins")
    print("\n-- q439_hgt_mosaic_accumulation")
    print(_values_block(
        mosaic_accum_rows(),
        "n_sources, n_small, n_medium, n_large, max_accum, "
        "max_accum_on_seam"))
    print("\n-- q437_hgt_mosaic_watershed")
    print(_values_block(
        mosaic_basin_rows(),
        "n_basins, n_valid_cells, max_basin_size, n_seam_spanning, "
        "seam_spanning_mass"))
    print(_values_block(
        basin_rows(),
        "cell, n_basins, max_basin_size, n_singletons, n_valid_cells"))


if __name__ == "__main__":
    main()
