"""`spark.read.format("pushpq")` — a batch Spark 4.1 Python
DataSource with FILTER PUSHDOWN (`DataSourceReader.pushFilters`,
versionadded 4.1.0): the planner hands the reader the query's
conjunctive filters; the reader CLAIMS the ones it can evaluate,
prunes parquet ROW GROUPS against their column statistics at
partition-planning time, and applies the claimed filters exactly
inside `read()` (Spark does not re-apply claimed filters — a sloppy
source-side filter would corrupt results, which is what the graded
bit-exact census guards).

This is the custom-connector analogue of the built-in scan's
PushedFilters: at 100 TB the difference between shipping every row
group to executors and opening only the ones whose [min, max] can
satisfy the predicate. Partition = one surviving row group, so
executor-side IO is also row-group-pruned.

Graded by q402 (below): a value-sorted copy of the events table with
10 small row groups, probed with `value >= threshold` — the source
must plan STRICTLY FEWER partitions than row groups (asserted via
audit columns the reader stamps on every emitted batch) while the
census still matches the unfiltered-table oracle exactly.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThanOrEqual,
    InputPartition,
)

_SCHEMA = "event_type string, value double, n_planned int, n_total int"
_DATA_COLS = ("event_type", "value")


class RowGroupPartition(InputPartition):
    def __init__(self, path: str, rg: int, n_planned: int, n_total: int,
                 pushed: tuple) -> None:
        self.path = path
        self.rg = rg
        self.n_planned = n_planned
        self.n_total = n_total
        self.pushed = pushed


class PushdownParquetReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options["path"]
        self._pushed: list[tuple[str, str, object]] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Claim single-column >= and = filters on data columns;
        everything else is returned for Spark to evaluate."""
        for f in filters:
            if (
                isinstance(f, (GreaterThanOrEqual, EqualTo))
                and len(f.attribute) == 1
                and f.attribute[0] in _DATA_COLS
            ):
                op = "ge" if isinstance(f, GreaterThanOrEqual) else "eq"
                self._pushed.append((f.attribute[0], op, f.value))
            else:
                yield f

    def partitions(self) -> Sequence[RowGroupPartition]:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(self.path).metadata
        keep = []
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            stats = {}
            for j in range(rg.num_columns):
                cc = rg.column(j)
                if cc.statistics is not None:
                    stats[cc.path_in_schema] = (
                        cc.statistics.min, cc.statistics.max
                    )
            ok = True
            for col, op, val in self._pushed:
                if col not in stats:
                    continue  # no stats -> cannot prune, must read
                mn, mx = stats[col]
                if op == "ge" and mx < val:
                    ok = False
                elif op == "eq" and not (mn <= val <= mx):
                    ok = False
            if ok:
                keep.append(i)
        pushed = tuple(self._pushed)
        return [
            RowGroupPartition(self.path, i, len(keep), md.num_row_groups,
                              pushed)
            for i in keep
        ]

    def read(self, part: RowGroupPartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = pq.ParquetFile(part.path).read_row_group(
            part.rg, columns=list(_DATA_COLS)
        )
        mask = None
        for col, op, val in part.pushed:
            c = tbl[col]
            cond = (pc.greater_equal(c, val) if op == "ge"
                    else pc.equal(c, val))
            mask = cond if mask is None else pc.and_(mask, cond)
        if mask is not None:
            tbl = tbl.filter(mask)
        n = len(tbl)
        tbl = tbl.append_column(
            "n_planned", pa.array([part.n_planned] * n, pa.int32())
        ).append_column(
            "n_total", pa.array([part.n_total] * n, pa.int32())
        )
        yield from tbl.to_batches()


class PushdownParquetDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pushpq"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> PushdownParquetReader:
        return PushdownParquetReader(self.options)


def register_pushdown_source(spark) -> None:
    spark.dataSource.register(PushdownParquetDataSource)


from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from cli_spark.functions.determinism import dsum, sql_dsum  # noqa: E402
from cli_spark.plans.registry import register  # noqa: E402
from cli_spark.session import materialize_local  # noqa: E402


@register(
    "q402_pushdown_datasource",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM events
WHERE value >= 75.0
GROUP BY event_type
""",
    tags=("sources", "datasource", "filter_pushdown"),
)
def q402_pushdown_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER PUSHDOWN through a custom Python DataSource (Spark
    4.1's `pushFilters` API — the final piece of the Python
    DataSource matrix after batch read q110+, partitioned stream
    q330, stream writer q338, batch writer q384): the events table is
    rewritten value-SORTED into 10 small row groups (fixture prep,
    driver-side, one pass), then probed with `value >= 75` through
    the `pushpq` source. The planner hands the filter to
    `pushFilters`; the source claims it, prunes row groups on their
    min/max statistics BEFORE planning partitions, and re-applies the
    claimed filter exactly in `read()` (Spark does not re-evaluate
    claimed filters — the bit-exact census is the proof the
    source-side evaluation is faithful). The run ASSERTS strictly
    fewer planned partitions than row groups via audit columns the
    reader stamps on every batch — a silent pushdown regression
    (conf off, API not called, stats ignored) fails the query rather
    than just reading everything. Conf
    `spark.sql.python.filterPushdown.enabled` is gated on for the
    query and restored after."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="q402_pushdown_")
    key = "spark.sql.python.filterPushdown.enabled"
    try:
        t = pq.read_table(f"{sf_dir}/events.parquet",
                          columns=["event_type", "value"])
        t = t.sort_by([("value", "ascending"), ("event_type", "ascending")])
        pq.write_table(t, tmp + "/ev.parquet",
                       row_group_size=max(1, (len(t) + 9) // 10))
        register_pushdown_source(spark)
        try:
            prev = spark.conf.get(key)
        except Exception:
            prev = None
        spark.conf.set(key, "true")
        try:
            df = (
                spark.read.format("pushpq")
                .option("path", tmp + "/ev.parquet")
                .load()
                .filter(F.col("value") >= 75.0)
            )
            agg = df.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum(F.col("value")).alias("value_sum"),
                F.max("n_planned").alias("planned"),
                F.max("n_total").alias("total"),
            )
            census = materialize_local(agg)
            rows = census.select("planned", "total").collect()
            if not rows:
                raise RuntimeError("q402: empty census")
            planned, total = rows[0]["planned"], rows[0]["total"]
            if not (planned < total):
                raise RuntimeError(
                    f"q402: row-group pruning did not happen "
                    f"(planned {planned} of {total}) — filter pushdown "
                    f"was not exercised"
                )
            out = census.select("event_type", "n_events", "value_sum")
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
