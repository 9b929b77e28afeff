"""Focused tests for cli_spark.session.materialize_local, the one way a
collected result comes back to the driver as a DataFrame: the Arrow
collect (``toArrow``) rebuilt as a JVM local relation
(`local_relation`).

Every type a rebuilt query returns (bigint, int, double, string,
timestamp) plus timestamp_ntz, decimal(38,10), map, array<struct>,
NULLs, zero rows, a non-nullable column and rows behind empty
partitions round-trips with equal rows and equal schema, plans as a
``LocalTableScan``, and its collect runs no Spark job. The source
frame's executed plan afterwards is its FINAL adaptive plan, which the
plan gates read (`plan_gates._materialize`, q404).

Three types do NOT round-trip, and each raises instead of losing rows
(there is no fallback path; no query returns them):

* ``YearMonthIntervalType`` and ``CalendarIntervalType`` raise
  ``PySparkTypeError`` at ``toArrow()`` (no Arrow conversion);
* an ``array<struct<...>>`` holding a NULL element raises
  ``ArrowInvalid`` when the table is turned back into a DataFrame.
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.errors import PySparkTypeError
from pyspark.sql import functions as F

from cli_spark.session import materialize_local

ROUND_TRIPS = {
    "site_types": "SELECT * FROM VALUES "
                  "(1L, 1, 1.5D, 'a', TIMESTAMP'2024-01-01 00:00:01'), "
                  "(NULL, NULL, NULL, NULL, NULL) AS t(b, i, d, s, ts)",
    "timestamp_ntz": "SELECT * FROM VALUES "
                     "(TIMESTAMP_NTZ'2024-01-01 00:00:01'), (NULL) AS t(x)",
    "decimal_38_10": "SELECT CAST(x AS DECIMAL(38,10)) AS x FROM VALUES "
                     "(1.25), (NULL), (1234567890123456789.0123456789) AS t(x)",
    "map": "SELECT * FROM VALUES (map('a', 1L)), (NULL), "
           "(map('b', CAST(NULL AS BIGINT))) AS t(m)",
    "array_struct": "SELECT * FROM VALUES (array(named_struct('a', 1L))), "
                    "(NULL) AS t(xs)",
    "zero_rows": "SELECT id, CAST(id AS STRING) AS s FROM range(0)",
    "non_nullable": "SELECT id FROM range(3)",
    "after_empty_partitions": "SELECT id FROM range(0, 12, 1, 4) WHERE id >= 9",
}


@pytest.mark.parametrize("sql", ROUND_TRIPS.values(), ids=ROUND_TRIPS.keys())
def test_materialize_local_round_trips(spark, sql):
    df = spark.sql(sql)
    out = materialize_local(df)
    sc = spark.sparkContext
    group = f"materialize_local_{id(out)}"
    sc.setJobGroup(group, "collect of a local relation")
    try:
        rows = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows == df.collect()
    assert out.schema == df.schema
    assert "LocalTableScan" in out._jdf.queryExecution().executedPlan().toString()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_materialize_local_finalizes_the_adaptive_plan(spark):
    res = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    materialize_local(res)
    assert "isFinalPlan=true" in res._jdf.queryExecution().executedPlan().toString()


RAISES = {
    "year_month_interval": ("SELECT INTERVAL '1-2' YEAR TO MONTH AS i",
                            PySparkTypeError),
    "calendar_interval": ("SELECT make_interval(1, 2, 3, 4, 5, 6, 7.5) AS i",
                          PySparkTypeError),
    "array_struct_null_element": (
        "SELECT array(named_struct('a', 1L), NULL) AS xs", pa.ArrowInvalid),
}


@pytest.mark.parametrize("sql, error", RAISES.values(), ids=RAISES.keys())
def test_materialize_local_raises_on_types_arrow_cannot_carry(spark, sql, error):
    with pytest.raises(error):
        materialize_local(spark.sql(sql))
