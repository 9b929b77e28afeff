"""The benchmark's workloads: what one pass calls, and how each call's
output is checked.

A pass is an ordered list of :class:`Call`. ``fn`` is the call into
the engine (a registry query, an HGT decode, the import, a lookup);
the runner times it, then times the collect of the DataFrame it
returns, then checks the collected rows. Checks run outside both
timings.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd

from perfbench import inputs

# A drained sketch stream (replay source → foreachBatch partials →
# post-merge plan).
STREAM_QUERIES = ["q476_streaming_hll_union"]

HGT_CELLS = 4
HGT_BOXES = 2


@dataclass
class Call:
    name: str
    layer: str  # query | hgt.decode | sinks.write | hgt.reread | hgt.lookup
    fn: Callable  # () -> DataFrame | None
    check: Callable[[pd.DataFrame | None], bool]
    attrs: dict = field(default_factory=dict)


def canonical_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: the rule of
    ``scripts_full_parity.py`` (columns sorted by name, every value as
    its string form, rows sorted) folded into one digest."""
    cols = sorted(df.columns)
    s = df.reindex(cols, axis=1).astype(str)
    if cols:
        s = s.sort_values(cols)
    s = s.reset_index(drop=True)
    h = hashlib.sha256(json.dumps([cols, len(s)]).encode())
    h.update(pd.util.hash_pandas_object(s, index=False).values.tobytes())
    return h.hexdigest()


def hash_check(expected: str) -> Callable[[pd.DataFrame | None], bool]:
    return lambda pdf: pdf is not None and canonical_hash(pdf) == expected


class RegistryWorkload:
    """Registry queries over the ``events`` table, called through the
    driver contract (``__spark_entry__``) and each checked against its
    DuckDB oracle."""

    def __init__(self, queries: list[str]) -> None:
        self.queries = queries
        self.expected: dict[str, str] = {}

    def generate(self, directory: str) -> None:
        self.sf_dir = inputs.write_events(directory)

    def register(self, spark) -> None:
        import __spark_entry__ as entry

        self.fns = entry.queries()
        self.oracles = entry.oracle_sql()
        missing = [q for q in self.queries if q not in self.fns or q not in self.oracles]
        if missing:
            raise KeyError(f"queries without a registry entry or oracle: {missing}")

    def prepare(self, spark) -> None:
        """Compute every oracle's expected hash once (DuckDB)."""
        import duckdb

        con = duckdb.connect()
        try:
            path = os.path.join(self.sf_dir, "events.parquet")
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
            for q in self.queries:
                self.expected[q] = canonical_hash(con.execute(self.oracles[q]).df())
        finally:
            con.close()

    def layer_readings(self, spark) -> dict:
        return {}

    def pass_calls(self, spark, index: int) -> list[Call]:
        return [Call(q, "query", lambda q=q: self.fns[q](spark, self.sf_dir),
                     hash_check(self.expected[q])) for q in self.queries]


def _rollup_by_cell(df):
    from pyspark.sql import functions as F

    return df.groupBy("cell").agg(*_rollup_cols(F))


def _rollup_cols(F):
    return [F.count(F.lit(1)).alias("points"),
            (F.count(F.lit(1)) - F.count("alt")).alias("voids"),
            F.min("alt").alias("min"), F.max("alt").alias("max"),
            F.sum("alt").alias("sum")]


def _as_int(v):
    return None if pd.isna(v) else int(v)


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    return [tuple(_as_int(v) for v in r)
            for r in pdf[["points", "voids", "min", "max", "sum"]].itertuples(index=False)]


class HgtWorkload:
    """The paper's HGT pipeline: decode seeded SRTM3 cells through both
    decoders, import them as partitioned parquet, re-read the import,
    and run bounding-box lookups on the raw cells and on the import."""

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def generate(self, directory: str) -> None:
        self.cells = inputs.make_hgt_cells(self.seed, HGT_CELLS)
        self.cells_dir = inputs.write_hgt_cells(self.cells, os.path.join(directory, "cells"))
        self.import_dir = os.path.join(directory, "imported")
        self.raw_bytes = sum(os.path.getsize(os.path.join(self.cells_dir, f))
                             for f in os.listdir(self.cells_dir))

    def register(self, spark) -> None:
        from cli_spark.sources.hgt_datasource import register_hgt_source

        register_hgt_source(spark)

    def prepare(self, spark) -> None:
        """Numpy ground truth for every rollup and lookup."""
        self.truth = {c.name: inputs.cell_rollup(c) for c in self.cells}
        self.points = sum(c.grid.size for c in self.cells)
        self.boxes = inputs.make_boxes(self.seed, self.cells, HGT_BOXES)
        self.box_truth = [inputs.box_rollup(self.cells, b) for b in self.boxes]

    def cells_in_box(self, box) -> int:
        lat_lo, lat_hi, lng_lo, lng_hi = box
        return sum(1 for c in self.cells
                   if c.lat <= lat_hi and c.lat + 1 >= lat_lo
                   and c.lng <= lng_hi and c.lng + 1 >= lng_lo)

    def layer_readings(self, spark) -> dict:
        """Pruning of the raw-cell lookups (scan partitions, one per
        unpruned cell, over the cells the boxes touch) and the size of
        the last import."""
        scanned = sum(spark.read.format("hgt").load(self.cells_dir)
                      .where(self.box_filter(b)).rdd.getNumPartitions() for b in self.boxes)
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.import_dir)
                 for f in fs if f.endswith(".parquet")]
        written = sum(os.path.getsize(f) for f in files)
        return {"cells_scanned_frac": scanned / sum(self.cells_in_box(b) for b in self.boxes),
                "written_bytes": written, "files": len(files),
                "write_amp": written / self.raw_bytes}

    def box_filter(self, box):
        from pyspark.sql import functions as F

        lat_lo, lat_hi, lng_lo, lng_hi = box
        return ((F.col("lat") >= lat_lo) & (F.col("lat") <= lat_hi)
                & (F.col("lng") >= lng_lo) & (F.col("lng") <= lng_hi))

    def _check_cells(self, pdf) -> bool:
        if pdf is None or len(pdf) != len(self.truth):
            return False
        got = dict(zip(pdf["cell"], _rows(pdf)))
        return got == self.truth

    def _check_box(self, i: int):
        return lambda pdf: pdf is not None and _rows(pdf) == [self.box_truth[i]]

    def _check_import(self, _pdf) -> bool:
        parts = {d for d in os.listdir(self.import_dir) if d.startswith("cell=")}
        return parts == {f"cell={name}" for name in self.truth}

    def pass_calls(self, spark, index: int) -> list[Call]:
        from pyspark.sql import functions as F

        from cli_spark.sources import hgt, sinks

        def hgt_source():
            return spark.read.format("hgt").load(self.cells_dir)

        def imported():
            return spark.read.parquet(self.import_dir)

        calls = [
            Call("decode_datasource", "hgt.decode",
                 lambda: _rollup_by_cell(hgt_source()), self._check_cells,
                 {"points": self.points}),
            Call("decode_binaryfile", "hgt.decode",
                 lambda: _rollup_by_cell(hgt.decode_points(hgt.read_hgt(spark, self.cells_dir))),
                 self._check_cells, {"points": self.points}),
            Call("import_parquet", "sinks.write",
                 lambda: sinks.write_partitioned_parquet(hgt_source(), self.import_dir, ["cell"]),
                 self._check_import),
            Call("reread_import", "hgt.reread",
                 lambda: _rollup_by_cell(imported()), self._check_cells),
        ]
        for i, box in enumerate(self.boxes):
            pred = self.box_filter(box)
            calls.append(Call(f"lookup_raw_{i}", "hgt.lookup",
                              lambda p=pred: hgt_source().where(p).agg(*_rollup_cols(F)),
                              self._check_box(i)))
            calls.append(Call(f"lookup_import_{i}", "hgt.lookup",
                              lambda p=pred: imported().where(p).agg(*_rollup_cols(F)),
                              self._check_box(i)))
        return calls


def make(name: str, seed: int):
    """The workload called ``name``, seeded with ``seed``."""
    if name == "stream_replay":
        return RegistryWorkload(STREAM_QUERIES)
    if name == "hgt_import":
        return HgtWorkload(seed)
    raise KeyError(name)


NAMES = ["stream_replay", "hgt_import"]
