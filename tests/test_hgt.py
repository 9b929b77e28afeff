"""Golden tests for the HGT (SRTM) Tier-A surface — decode results are
checked against independent numpy ground truth computed directly from
the fixture grids (never through the engine under test).

Covers the reference-semantics traps from SURVEY.md §2: north-edge row
order, S/W sign handling, fencepost corners, void sentinel, big-endian
decode — plus the acquire pipeline (catalog → fetch → unzip → decode).
"""

from __future__ import annotations

import json
import math
import operator
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from cli_spark.sources import hgt

N = 101  # small perfect-square grid — same inference path as 1201/3601


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hgt"))
    for cell, phase in hgt.FIXTURE_CELLS:
        hgt.write_fixture(d, cell, N, phase)
    return d


def grid_of(cell: str) -> np.ndarray:
    phase = dict(hgt.FIXTURE_CELLS)[cell]
    return hgt.synth_grid(N, phase).astype(np.int32)


def test_parse_cell_name_signs():
    assert hgt.parse_cell_name("N46E007") == (46, 7)
    assert hgt.parse_cell_name("S01W072") == (-1, -72)
    assert hgt.parse_cell_name("N00E000") == (0, 0)
    with pytest.raises(ValueError):
        hgt.parse_cell_name("X99Y999")


def test_shape_inference_and_metadata(spark, fixture_dir):
    raw = hgt.read_hgt(spark, fixture_dir).orderBy("cell")
    rows = {r["cell"]: r for r in raw.collect()}
    assert set(rows) == {"N46E007", "S01W072", "N00E000"}
    for cell, r in rows.items():
        assert r["grid_n"] == N
        lat, lng = hgt.parse_cell_name(cell)
        assert (r["corner_lat"], r["corner_lng"]) == (lat, lng)


def test_decode_points_golden(spark, fixture_dir):
    pts = hgt.decode_points(hgt.read_hgt(spark, fixture_dir))
    stats = {
        r["cell"]: r
        for r in pts.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("alt").alias("n_valid"),
            F.sum("alt").alias("s"),
            F.min("alt").alias("lo"),
            F.max("alt").alias("hi"),
        )
        .collect()
    }
    for cell, _phase in hgt.FIXTURE_CELLS:
        g = grid_of(cell)
        valid = g[g != hgt.VOID]
        r = stats[cell]
        assert r["n"] == N * N
        assert r["n_valid"] == valid.size
        assert r["s"] == int(valid.sum())
        assert r["lo"] == int(valid.min()) and r["hi"] == int(valid.max())


def test_decode_north_edge_first_and_signs(spark, fixture_dir):
    """Row 0 is the NORTHERN edge; S/W corners go negative."""
    pts = hgt.decode_points(hgt.read_hgt(spark, fixture_dir))
    s = pts.filter(F.col("cell") == "S01W072")
    agg = s.agg(
        F.min("lat").alias("lat_lo"), F.max("lat").alias("lat_hi"),
        F.min("lng").alias("lng_lo"), F.max("lng").alias("lng_hi"),
    ).collect()[0]
    assert (agg["lat_lo"], agg["lat_hi"]) == (-1.0, 0.0)  # fencepost: inclusive corners
    assert (agg["lng_lo"], agg["lng_hi"]) == (-72.0, -71.0)
    # the sample at max lat must be grid row 0 (northern edge)
    g = grid_of("S01W072")
    north_west = s.filter((F.col("lat") == 0.0) & (F.col("lng") == -72.0)).collect()[0]
    expected = int(g[0, 0])
    assert (north_west["alt"] is None) == (expected == hgt.VOID)
    if expected != hgt.VOID:
        assert north_west["alt"] == expected


def test_point_lookup_matches_decode(spark, fixture_dir):
    """O(1) byte-slice lookup [A7] == full-decode value, incl. a void."""
    raw = hgt.read_hgt(spark, fixture_dir).filter(F.col("cell") == "N46E007")
    g = grid_of("N46E007")
    step = 1.0 / (N - 1)
    probes = [(0, 0), (N // 2, N // 3), (N - 1, N - 1)]
    void_flat = 0  # synth_grid sets every 97th flat index void; 0 is void
    probes.append((void_flat // N, void_flat % N))
    for row, col in probes:
        lat, lng = 46 + 1 - row * step, 7 + col * step
        got = raw.select(hgt.point_lookup_col(lat, lng).alias("alt")).collect()[0]["alt"]
        expected = int(g[row, col])
        if expected == hgt.VOID:
            assert got is None
        else:
            assert got == expected, f"({row},{col})"


def test_tiles_partition_grid_exactly(spark, fixture_dir):
    tiles = hgt.decode_tiles(hgt.read_hgt(spark, fixture_dir), width=25, height=25)
    per_cell = (
        tiles.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum(F.size("values")).alias("total_values"),
            F.min("width").alias("min_w"),
            F.max("width").alias("max_w"),
        )
        .collect()
    )
    expect_tiles = math.ceil(N / 25) ** 2  # 5² = 25
    for r in per_cell:
        assert r["n_tiles"] == expect_tiles
        assert r["total_values"] == N * N  # conservation — no loss, no overlap
        assert r["max_w"] == 25 and r["min_w"] == N - (N // 25) * 25  # edge tile

    # golden: one specific tile's values equal the numpy block
    g = grid_of("N46E007")
    t = (
        tiles.filter(
            (F.col("cell") == "N46E007") & (F.col("tile_row") == 1) & (F.col("tile_col") == 2)
        )
        .collect()[0]
    )
    assert t["values"] == g[25:50, 50:75].ravel().tolist()
    assert t["origin_lat"] == 46 + 1 - 25 * (1.0 / (N - 1))


def test_acquire_pipeline_catalog_fetch_unzip(spark, fixture_dir, tmp_path):
    """A1→A2→A3→A6 end to end: catalog JSON → distributed fetch
    (file:// in this offline env) → zip extract → decode."""
    src = str(tmp_path / "remote")
    dest = str(tmp_path / "landing")
    os.makedirs(src, exist_ok=True)
    catalog = {}
    for cell, phase in hgt.FIXTURE_CELLS[:2]:
        zpath = hgt.write_fixture(src, cell, N, phase, zipped=True)
        catalog[cell] = {"url": f"file://{zpath}", "zip": os.path.basename(zpath)}
    cat_path = str(tmp_path / "catalog.json")
    with open(cat_path, "w") as fh:
        json.dump(catalog, fh)

    cat = hgt.load_catalog(spark, cat_path)
    assert {r["cell"] for r in cat.collect()} == set(catalog)

    fetched = hgt.fetch_catalog(cat, dest).collect()
    assert all(r["status"] == "fetched" for r in fetched)
    refetched = hgt.fetch_catalog(cat, dest).collect()
    assert all(r["status"] == "skipped" for r in refetched)  # skip-if-exists [A2]

    raw = hgt.read_hgt_zips(spark, dest)
    pts = hgt.decode_points(raw)
    counts = {r["cell"]: r["n"] for r in pts.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {cell: N * N for cell, _ in hgt.FIXTURE_CELLS[:2]}


def test_hgt_python_datasource_matches_mapinpandas(spark, fixture_dir):
    """`format("hgt")` (Spark 4 Python DataSource, Arrow-batch reads)
    must produce exactly the decode_points rows, one partition per
    cell file."""
    from cli_spark.sources.hgt_datasource import register_hgt_source

    register_hgt_source(spark)
    ds = spark.read.format("hgt").load(fixture_dir)
    assert ds.rdd.getNumPartitions() == len(hgt.FIXTURE_CELLS)

    via_map = hgt.decode_points(hgt.read_hgt(spark, fixture_dir))
    assert ds.count() == via_map.count() == len(hgt.FIXTURE_CELLS) * N * N
    # exact set equality (exceptAll both ways is empty)
    assert ds.exceptAll(via_map).count() == 0
    assert via_map.exceptAll(ds).count() == 0
    # void sentinel arrives as NULL through the source too
    assert ds.filter(F.col("alt") == hgt.VOID).count() == 0
    assert ds.filter(F.col("alt").isNull()).count() > 0


def test_hgt_datasource_filter_pushdown_prunes_partitions(fixture_dir):
    """pushFilters + partitions: a lat bbox predicate prunes whole
    cell files at plan time (unit-level — reader driven directly)."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    from cli_spark.sources.hgt_datasource import HgtReader

    # no filters: all 3 fixture cells scanned
    r = HgtReader({"path": fixture_dir})
    assert len(r.partitions()) == len(hgt.FIXTURE_CELLS)

    # lat >= 46 keeps only N46E007 ([46,47]); S01W072 is [-1,0], N00E000 [0,1]
    r = HgtReader({"path": fixture_dir})
    remaining = list(r.pushFilters([GreaterThanOrEqual(("lat",), 46.0)]))
    assert len(remaining) == 1  # pruning-only: Spark still applies it
    parts = r.partitions()
    assert [os.path.basename(p.value) for p in parts] == ["N46E007.hgt"]

    # lat < 0.5 intersects S01W072 and N00E000 but not N46E007
    r = HgtReader({"path": fixture_dir})
    list(r.pushFilters([LessThan(("lat",), 0.5)]))
    assert sorted(os.path.basename(p.value) for p in r.partitions()) == [
        "N00E000.hgt", "S01W072.hgt"]

    # cell equality prunes to exactly one file; edge value lat == 47.0
    # is INCLUSIVE of the north fencepost edge of N46E007
    r = HgtReader({"path": fixture_dir})
    list(r.pushFilters([EqualTo(("cell",), "S01W072")]))
    assert [os.path.basename(p.value) for p in r.partitions()] == ["S01W072.hgt"]
    r = HgtReader({"path": fixture_dir})
    list(r.pushFilters([EqualTo(("lat",), 47.0)]))
    assert [os.path.basename(p.value) for p in r.partitions()] == ["N46E007.hgt"]

    # contradictory bbox prunes everything
    r = HgtReader({"path": fixture_dir})
    list(r.pushFilters([GreaterThanOrEqual(("lat",), 80.0)]))
    assert r.partitions() == []


def test_hgt_datasource_pushdown_end_to_end_parity(spark, fixture_dir):
    """A bbox-filtered format('hgt') read scans fewer partitions and
    returns exactly the decode_points rows under the same predicate."""
    from cli_spark.sources.hgt_datasource import register_hgt_source

    register_hgt_source(spark)
    pred = (F.col("lat") >= 46.0) & (F.col("lat") <= 46.5) & (F.col("lng") >= 7.25)
    ds = spark.read.format("hgt").load(fixture_dir).filter(pred)
    assert ds.rdd.getNumPartitions() == 1  # two of three cells pruned

    via_map = hgt.decode_points(hgt.read_hgt(spark, fixture_dir)).filter(pred)
    assert ds.count() == via_map.count() > 0
    assert ds.exceptAll(via_map).count() == 0
    assert via_map.exceptAll(ds).count() == 0


def test_hgt_datasource_fully_pruned_scan_returns_zero_rows(spark, fixture_dir):
    """A contradictory bbox prunes EVERY partition. Spark's planner
    worker then substitutes [None] for the empty partition list and
    still calls read(None) once — the reader must yield no batches
    (not crash on `None.value`) so the query returns 0 rows."""
    from cli_spark.sources.hgt_datasource import register_hgt_source

    register_hgt_source(spark)
    out = (
        spark.read.format("hgt")
        .load(fixture_dir)
        .filter(F.col("lat") >= 80.0)
    )
    assert out.count() == 0


def test_terrain_goldens_match_checked_in_script(duck):
    """ADVICE r6: the q277/q287/q299 VALUES-literal oracles must be
    regenerable from the checked-in independent-numpy script
    (scripts_hgt_goldens.py computes them from the fixture DEFINITION
    alone — no Spark, no query implementations), so the goldens'
    provenance is reproducible rather than asserted in a comment."""
    import scripts_hgt_goldens as G
    from cli_spark.plans.registry import registry

    reg = registry()
    for qname, fn in (
        ("q277_hgt_hypsometry", G.hypsometry_rows),
        ("q287_hgt_aspect_census", G.aspect_rows),
        ("q299_hgt_contour_crossings", G.contour_rows),
        ("q319_hgt_flow_direction", G.flow_rows),
        ("q326_hgt_flow_accumulation", G.accum_rows),
        ("q350_hgt_mosaic_seams", G.mosaic_rows),
        ("q372_hgt_hillshade", G.hillshade_rows),
        ("q373_hgt_watershed_basins", G.basin_rows),
        ("q437_hgt_mosaic_watershed", G.mosaic_basin_rows),
        ("q439_hgt_mosaic_accumulation", G.mosaic_accum_rows),
    ):
        oracle_rows = sorted(
            tuple(r) for r in duck.execute(reg[qname].oracle).fetchall()
        )
        script_rows = sorted(tuple(r) for r in fn())
        assert script_rows == oracle_rows, qname


def test_mosaic_shared_edges_agree_and_mismatch_raises(spark, tmp_path, monkeypatch):
    """The 2×2 mosaic fixtures must duplicate their shared border
    lines bit-for-bit (fencepost contract), and q350's exchange stage
    must actually EXECUTE that check: corrupting one shared sample in
    only one of the two files raises instead of silently computing a
    discontinuous field."""
    import cli_spark.sources.hgt_queries as HQ

    d = str(tmp_path / "mosaic")
    hgt.ensure_mosaic_fixtures(d)
    # direct fencepost assertion on the written files
    g_w = np.fromfile(os.path.join(d, "N46E007.hgt"), dtype=">i2").reshape(241, 241)
    g_e = np.fromfile(os.path.join(d, "N46E008.hgt"), dtype=">i2").reshape(241, 241)
    g_s = g_w
    g_n = np.fromfile(os.path.join(d, "N47E007.hgt"), dtype=">i2").reshape(241, 241)
    np.testing.assert_array_equal(g_w[:, 240], g_e[:, 0])   # E/W seam
    np.testing.assert_array_equal(g_n[240, :], g_s[0, :])   # N/S seam

    # corrupt ONE copy of a shared sample → q350 must raise
    g_w = g_w.copy()
    g_w[100, 240] = g_w[100, 240] + 7
    g_w.astype(">i2").tofile(os.path.join(d, "N46E007.hgt"))
    monkeypatch.setattr(HQ, "MOSAIC_FIXTURE_DIR", d)
    with pytest.raises(ValueError, match="fencepost mismatch"):
        HQ.q350_hgt_mosaic_seams(spark, "unused")


def test_mosaic_watershed_and_accumulation_mismatch_raise(
        spark, tmp_path, monkeypatch):
    """q437/q439 carry the same executed fencepost gate as q350:
    corrupting one copy of a shared border sample must raise in BOTH
    composed queries, not silently shift basins or accumulation."""
    import cli_spark.sources.hgt_queries as HQ

    d = str(tmp_path / "mosaic2")
    hgt.ensure_mosaic_fixtures(d)
    g_w = np.fromfile(os.path.join(d, "N46E007.hgt"),
                      dtype=">i2").reshape(241, 241).copy()
    g_w[57, 240] = g_w[57, 240] + 3
    g_w.astype(">i2").tofile(os.path.join(d, "N46E007.hgt"))
    monkeypatch.setattr(HQ, "MOSAIC_FIXTURE_DIR", d)
    with pytest.raises(ValueError, match="fencepost mismatch"):
        HQ.q437_hgt_mosaic_watershed(spark, "unused")
    with pytest.raises(ValueError, match="fencepost mismatch"):
        HQ.q439_hgt_mosaic_accumulation(spark, "unused")


def _write_cell(directory, name: str, buf: bytes) -> str:
    os.makedirs(directory, exist_ok=True)
    with open(os.path.join(directory, name), "wb") as fh:
        fh.write(buf)
    return str(directory)


SMALL = hgt.synth_grid(5, 0.0).astype(">i2").tobytes()  # 5×5 = 25 samples


def test_one_cell_name_rule_for_every_decoder(spark, tmp_path):
    """SRTM product names carry a suffix after the cell. decode_points,
    format("hgt") and read_hgt_zips all name the cell by the same
    anchored rule, so a cell filter returns the same rows from each."""
    import zipfile

    from cli_spark.sources.hgt_datasource import register_hgt_source

    name = "N46E007.SRTMGL1.hgt"
    d = _write_cell(tmp_path / "cells", name, SMALL)
    zdir = tmp_path / "zips"
    zdir.mkdir()
    with zipfile.ZipFile(zdir / (name + ".zip"), "w") as zf:
        zf.writestr(name, SMALL)

    register_hgt_source(spark)
    points = {
        "decode_points": hgt.decode_points(hgt.read_hgt(spark, d)),
        "format_hgt": spark.read.format("hgt").load(d),
    }
    for label, df in points.items():
        got = df.groupBy("cell").agg(F.min("lat"), F.min("lng")).collect()
        assert [tuple(r) for r in got] == [("N46E007", 46.0, 7.0)], label
    for label, raw in (("read_hgt", hgt.read_hgt(spark, d)),
                       ("read_hgt_zips", hgt.read_hgt_zips(spark, str(zdir)))):
        got = raw.select("cell", "corner_lat", "corner_lng").collect()
        assert [tuple(r) for r in got] == [("N46E007", 46, 7)], label
    counts = {label: df.where(F.col("cell") == "N46E007").count()
              for label, df in points.items()}
    assert counts == {"decode_points": 25, "format_hgt": 25}


def test_non_cell_name_raises_naming_the_file(spark, tmp_path):
    from cli_spark.sources.hgt_datasource import register_hgt_source

    d = _write_cell(tmp_path / "lower", "n46e007.hgt", SMALL)
    register_hgt_source(spark)
    msg = r"n46e007\.hgt: not an HGT cell name"
    with pytest.raises(Exception, match=msg):
        hgt.decode_points(hgt.read_hgt(spark, d)).collect()
    with pytest.raises(Exception, match=msg):
        spark.read.format("hgt").load(d).collect()


@pytest.mark.parametrize("size", [7, 6, 2, 0],
                         ids=["odd", "non_square", "one_sample", "empty"])
def test_bad_grid_size_raises_naming_the_file(spark, tmp_path, monkeypatch, size):
    """Every decoder checks the shape through hgt.grid, and read_hgt's
    grid_n rejects the same sizes, so point_lookup_col never reads
    offsets into a file that holds no square grid."""
    import cli_spark.sources.hgt_queries as HQ
    from cli_spark.sources.hgt_datasource import register_hgt_source

    d = _write_cell(tmp_path / "bad", "N46E007.hgt", bytes(size))
    # the fixture marker keeps ensure_fixtures from filling the dir
    _write_cell(tmp_path / "bad", ".ready_241", b"ok")
    monkeypatch.setattr(HQ, "FIXTURE_DIR", d)
    register_hgt_source(spark)
    runs = {
        "decode_points": lambda: hgt.decode_points(hgt.read_hgt(spark, d)),
        "decode_tiles": lambda: hgt.decode_tiles(hgt.read_hgt(spark, d), 2, 2),
        "format_hgt": lambda: spark.read.format("hgt").load(d),
        "q265": lambda: HQ.q265_hgt_slope_stats(spark, "unused"),
        "grid_n": lambda: hgt.read_hgt(spark, d).select("grid_n"),
    }
    msg = rf"N46E007\.hgt: {size} bytes is not a square HGT grid"
    for label, run in runs.items():
        with pytest.raises(Exception, match=msg):
            run().collect()
            pytest.fail(label)


def test_d8_kernel_matches_golden_reference():
    """The shared numpy D8 kernel's full code grid equals the
    independent golden script's, sample by sample, on the 3 fixture
    cells and the 4 mosaic cells (the oracles check only censuses).
    The golden script stays independent of the kernels it checks."""
    import ast

    import scripts_hgt_goldens as G
    from cli_spark.sources.hgt_queries import _d8

    tree = ast.parse(open(G.__file__, encoding="utf-8").read())
    imported = {getattr(node, "module", None) or alias.name
                for node in ast.walk(tree)
                if isinstance(node, (ast.Import, ast.ImportFrom))
                for alias in node.names}
    assert not any("hgt_queries" in m for m in imported), imported

    grids = [hgt.synth_grid(241, phase) for _cell, phase in hgt.FIXTURE_CELLS]
    grids += [hgt.synth_mosaic_cell(la, lo, 241) for la, lo in hgt.MOSAIC_CELLS]
    for g in grids:
        decoded = hgt.grid(g.astype(">i2").tobytes(), "cell").astype(np.int64)
        codes, _ok = _d8(decoded)
        golden, _dirs = G._d8_codes(g.astype(np.int64))
        np.testing.assert_array_equal(codes, golden)


# ------------------------------------------------- format("hgt") window

_CMP = {"<": operator.lt, "<=": operator.le, ">": operator.gt,
        ">=": operator.ge, "=": operator.eq}


def _spark_holds(op: str, x: np.ndarray, v: float) -> np.ndarray:
    """Spark's double comparison of ``x`` (never NaN) with ``v``: NaN
    sorts above every double, so only ``<`` and ``<=`` hold against it."""
    if math.isnan(v):
        return np.full(x.shape, op in ("<", "<="))
    return _CMP[op](x, v)


def _filter_of(col: str, op: str, v: float):
    from pyspark.sql.datasource import (
        EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)

    cls = {"<": LessThan, "<=": LessThanOrEqual, ">": GreaterThan,
           ">=": GreaterThanOrEqual, "=": EqualTo}[op]
    return cls((col,), v)


def _reader_batches(directory: str, box) -> list:
    """The Arrow batches `HgtReader` yields for ``box`` (a list of
    (column, op, value)) pushed as filters — planner and tasks driven
    in-process."""
    from cli_spark.sources.hgt_datasource import HgtReader

    r = HgtReader({"path": directory})
    assert len(list(r.pushFilters([_filter_of(*f) for f in box]))) == len(box)
    return [b for p in r.partitions() for b in r.read(p)]


def _passing(batches, box) -> tuple[int, set]:
    """(rows read, the read rows that pass every filter of ``box``)."""
    read, kept = 0, set()
    for b in batches:
        cols = {name: b.column(name).to_numpy(zero_copy_only=False)
                for name in ("cell", "lat", "lng")}
        ok = np.ones(b.num_rows, bool)
        for col, op, v in box:
            ok &= _spark_holds(op, cols[col], v)
        read += b.num_rows
        alt = b.column("alt").to_pylist()
        kept |= {(cols["cell"][i], cols["lat"][i], cols["lng"][i], alt[i])
                 for i in np.flatnonzero(ok)}
    return read, kept


def _box_values(rng, col: str) -> list[float]:
    """Filter literals for ``col``: exact sample coordinates and cell
    edges (both grid lines) of every fixture cell, points between grid
    lines, values outside every cell, NaN and ±inf."""
    vals = [math.nan, math.inf, -math.inf, 80.0, -80.0, 200.0, -200.0]
    for cell, _ in hgt.FIXTURE_CELLS:
        lat0, lng0 = hgt.parse_cell_name(cell)
        corner = lat0 if col == "lat" else lng0
        axis = hgt.axes(N, lat0, lng0)[0 if col == "lat" else 1]
        k = rng.integers(0, N - 1, 3)
        vals += [corner, corner + 1, *axis[k], *(axis[k] + axis[k + 1]) / 2,
                 *rng.uniform(corner - 0.2, corner + 1.2, 2)]
    return [float(v) for v in vals]


def _random_boxes(seed: int, count: int) -> list[list[tuple[str, str, float]]]:
    """Seeded random conjunctions of 1-4 lat/lng comparisons; a box's
    bounds may be inverted (lo > hi), and one box in eight is an
    ``=`` on a single exact sample coordinate."""
    rng = np.random.default_rng(seed)
    pools = {c: _box_values(rng, c) for c in ("lat", "lng")}
    boxes = []
    for i in range(count):
        box = []
        for _ in range(int(rng.integers(1, 5))):
            col = ("lat", "lng")[int(rng.integers(0, 2))]
            op = ("<", "<=", ">", ">=", "=")[int(rng.integers(0, 5))]
            box.append((col, op, pools[col][int(rng.integers(0, len(pools[col])))]))
        if i % 8 == 0:
            lat0, lng0 = hgt.parse_cell_name(hgt.FIXTURE_CELLS[i % 3][0])
            lats, lngs = hgt.axes(N, lat0, lng0)
            box = [("lat", "=", float(lats[int(rng.integers(0, N))])),
                   ("lng", "=", float(lngs[int(rng.integers(0, N))]))]
        boxes.append(box)
    return boxes


def test_hgt_window_reads_a_superset_of_the_filtered_rows(fixture_dir):
    """Window pushdown, driven through the reader: for seeded random
    boxes, the rows the windowed reads keep under Spark's comparison
    rules equal the rows a full read keeps, so the window never drops a
    matching sample. Without a NaN literal the window is exact (it reads
    only matching rows); with one it cuts nothing."""
    full = _reader_batches(fixture_dir, [])
    assert sum(b.num_rows for b in full) == len(hgt.FIXTURE_CELLS) * N * N
    for box in _random_boxes(seed=7, count=200):
        want = _passing(full, box)[1]
        read, got = _passing(_reader_batches(fixture_dir, box), box)
        assert got == want, box
        if not any(math.isnan(v) for _, _, v in box):
            assert read == len(want), box


def test_hgt_window_decodes_only_the_box(fixture_dir):
    """A box inside one cell schedules that cell alone and decodes only
    the box's rows and columns, not the cell's N² samples."""
    lats, lngs = hgt.axes(N, 46, 7)
    box = [("lat", ">=", float(lats[60])), ("lat", "<=", float(lats[40])),
           ("lng", ">", float(lngs[10])), ("lng", "<", float(lngs[20]))]
    [batch] = _reader_batches(fixture_dir, box)
    assert batch.num_rows == 21 * 9
    assert set(batch.column("cell").to_pylist()) == {"N46E007"}
    assert batch.column("lat").to_numpy().max() == lats[40]
    assert batch.column("lng").to_numpy().min() == lngs[11]


def _pred(box):
    pred = F.lit(True)
    for col, op, v in box:
        pred = pred & _CMP[op](F.col(col), F.lit(v))
    return pred


def _sorted_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("box", [
    [("lat", "<", math.nan)], [("lat", "<=", math.nan)],
    [("lat", ">", math.nan)], [("lat", "=", math.nan)],
    [("lng", "<", math.nan), ("lat", ">=", 46.0)],
    [("lat", ">", -math.inf), ("lat", "<", math.inf)],
    [("lng", ">=", -math.inf), ("lng", "<=", math.inf)],
    [("lat", ">", math.inf)], [("lng", "<", -math.inf)],
], ids=["lat<nan", "lat<=nan", "lat>nan", "lat=nan", "lng<nan&lat>=46",
        "lat_in_inf", "lng_in_inf", "lat>inf", "lng<-inf"])
def test_hgt_nan_and_inf_bounds_match_decode_points(spark, fixture_dir, box):
    """A NaN literal never prunes or windows: Spark orders NaN above
    every double, so ``lat < NaN`` holds on every row. ±inf bounds prune
    exactly as Spark compares them."""
    from cli_spark.sources.hgt_datasource import register_hgt_source

    register_hgt_source(spark)
    ds = spark.read.format("hgt").load(fixture_dir).where(_pred(box))
    via_map = hgt.decode_points(hgt.read_hgt(spark, fixture_dir)).where(_pred(box))
    assert _sorted_rows(ds) == _sorted_rows(via_map)


def test_hgt_window_matches_decode_points_on_random_boxes(spark, fixture_dir):
    """End to end: ``format("hgt").where(box)`` returns exactly
    ``decode_points(...).where(box)``, row for row, for boxes with edges
    on grid lines, ``=`` on an exact sample coordinate, inverted bounds,
    boxes outside every cell and NaN/±inf literals."""
    from cli_spark.sources.hgt_datasource import register_hgt_source

    register_hgt_source(spark)
    lats, lngs = hgt.axes(N, 46, 7)
    boxes = [
        [("lat", ">=", 46.0), ("lat", "<=", float(lats[50])),
         ("lng", ">=", float(lngs[25])), ("lng", "<", 8.0)],
        [("lat", "=", float(lats[33])), ("lng", "=", float(lngs[77]))],
        [("lat", ">=", 46.75), ("lat", "<=", 46.25)],
        [("lat", ">", 60.0), ("lng", "<", -100.0)],
        [("lat", ">=", -0.5), ("lat", "<=", 0.5), ("lng", "<=", math.nan)],
        [("lat", ">", 0.0), ("lat", "<", 1.0), ("lng", ">", -math.inf)],
        *_random_boxes(seed=11, count=8),
    ]
    via_map = hgt.decode_points(hgt.read_hgt(spark, fixture_dir)).cache()
    try:
        for box in boxes:
            ds = spark.read.format("hgt").load(fixture_dir).where(_pred(box))
            assert _sorted_rows(ds) == _sorted_rows(via_map.where(_pred(box))), box
    finally:
        via_map.unpersist()
