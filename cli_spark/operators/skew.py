"""Skew-handling aggregation — the salting pattern, demonstrated as a
graded query with an exact oracle.

The problem at 100 TB: `groupBy(event_type)` over billions of events
with a handful of event types sends each type's entire volume to one
reducer — the hot-key straggler. AQE's skew-join splitting does not
help *aggregations*; the standard fix is salting:

    phase 1: groupBy(key, salt)  — salt = pmod(row_key, N_SALT):
             N_SALT-way fan-out of every hot key, partial aggregates
             stay integer-exact (quantized sums, counts);
    phase 2: groupBy(key)        — combine N_SALT tiny partials.

Phase 1 shuffles the volume across N_SALT × |keys| reducers; phase 2
shuffles only |keys| × N_SALT partial rows (bytes, not gigabytes).
Results are bit-identical to the direct aggregation because the
partial states (int64 quantized sums, counts) merge associatively —
which is also why the DuckDB oracle can be the plain GROUP BY.

(The salt must be derived from a *data* column — deterministic and
stable — never `rand()` or `spark_partition_id()`, which change
between runs and break reproducibility.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cli_spark.functions.determinism import MONEY_SCALE, dsum, quantize, sql_dsum
from cli_spark.plans.registry import register
from cli_spark.session import materialize_local
from cli_spark.tables import load_table

N_SALT = 32


@register(
    "q19_salted_skew_agg",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum,
       {sql_dsum('value')} / COUNT(*) AS value_avg
FROM events
GROUP BY event_type
""",
    tags=("agg", "skew", "salting"),
)
def q19_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type totals via two-phase salted aggregation (see
    module docstring). `event_type` has ~5 distinct values — the
    classic hot-key shape; the salt fans each key across N_SALT
    reducers before the cheap combine."""
    e = load_table(spark, sf_dir, "events")
    scale = F.lit(float(10**MONEY_SCALE))
    partial = (
        e.withColumn("salt", F.pmod("event_id", F.lit(N_SALT)))
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("p_n"),
            F.sum(quantize(F.col("value"))).alias("p_q"),
        )
    )
    return (
        partial.groupBy("event_type")
        .agg(F.sum("p_n").alias("n_events"), F.sum("p_q").alias("q_sum"))
        .select(
            "event_type",
            "n_events",
            (F.col("q_sum").cast("double") / scale).alias("value_sum"),
            (F.col("q_sum").cast("double") / scale / F.col("n_events")).alias("value_avg"),
        )
    )


# portable simulated partitioner: md5-derived integer mod P (Spark's
# Murmur3 partitioner is engine-private — the SKEW STRUCTURE is
# identical under any uniform hash, which is what the audit needs)
_PART = (
    "((instr('0123456789abcdef', substr(md5({k}), 1, 1)) - 1) * 16"
    " + instr('0123456789abcdef', substr(md5({k}), 2, 1)) - 1) % {p}"
)

_N_PARTS = 32


@register(
    "q292_shuffle_skew_forecast",
    oracle=f"""
WITH keyed AS (
  SELECT {_PART.format(k="CAST(o_custkey AS VARCHAR)", p=_N_PARTS)} AS part
  FROM orders
),
per_part AS (
  SELECT part, COUNT(*) AS n_rows FROM keyed GROUP BY part
),
stats AS (
  SELECT COUNT(*) AS n_parts,
         CAST(SUM(n_rows) AS BIGINT) AS total_rows,
         CAST(MAX(n_rows) AS BIGINT) AS max_rows,
         CAST(MIN(n_rows) AS BIGINT) AS min_rows
  FROM per_part
)
SELECT n_parts, total_rows, max_rows, min_rows,
       max_rows * n_parts * 1000 // total_rows AS max_over_mean_pml,
       CASE WHEN max_rows * n_parts * 1000 // total_rows > 2000
            THEN 1 ELSE 0 END AS needs_salting
FROM stats
""",
    tags=("skew", "planning", "audit"),
)
def q292_shuffle_skew_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight shuffle-skew forecast for a join/agg key: simulate
    the hash partitioner (md5-derived byte mod 32 — engine-portable;
    skew structure is partitioner-invariant under any uniform hash)
    over o_custkey and report the per-partition row distribution —
    max/mean ratio in per-mille and a needs-salting verdict at the 2×
    threshold AQE's skew-join handling uses. This is the statistic a
    100 TB job checks BEFORE launching the shuffle (q19 is the salted
    fix; this is the detector). One scan, map-side-combined census of
    32 partitions, scalar verdict row."""
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        F.expr(_PART.format(k="CAST(o_custkey AS STRING)", p=_N_PARTS)).alias("part")
    )
    per_part = keyed.groupBy("part").agg(F.count(F.lit(1)).alias("n_rows"))
    stats = per_part.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("n_rows").alias("total_rows"),
        F.max("n_rows").alias("max_rows"),
        F.min("n_rows").alias("min_rows"),
    )
    ratio = F.expr("max_rows * n_parts * 1000 div total_rows")
    return stats.select(
        "n_parts",
        "total_rows",
        "max_rows",
        "min_rows",
        ratio.alias("max_over_mean_pml"),
        F.when(ratio > 2000, F.lit(1)).otherwise(F.lit(0)).alias("needs_salting"),
    )


@register(
    "q335_salted_skew_join",
    # The skewed key: half of all events collapse onto hot_key 0 (the
    # synthetic power-user), the rest keep their user_id. The oracle
    # runs the PLAIN join — salting must be invisible in the result.
    oracle=f"""
WITH f AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS hot_key,
         event_type, value
  FROM events
),
dim AS (
  SELECT DISTINCT CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS hot_key,
         CASE WHEN user_id % 2 = 0 THEN 'power' ELSE 'regular' END AS segment
  FROM events
)
SELECT d.segment, f.event_type,
       COUNT(*) AS n_events,
       {sql_dsum('f.value')} AS value_sum
FROM f JOIN dim d ON f.hot_key = d.hot_key
GROUP BY d.segment, f.event_type
""",
    tags=("join", "skew", "salting"),
)
def q335_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted SKEW JOIN — the join-side counterpart of q19's salted
    aggregation, for the case AQE can't always save (one key holding
    half the fact rows would put half the shuffle in one task): the
    fact side appends a deterministic salt (event_id mod 32) to the
    hot join key, the dimension side EXPLODES 32 salted replicas of
    each of its rows, and the join runs on (key, salt) — spreading
    the hot key's rows over 32 tasks. The salt is derived from a data
    column (never rand(): reproducibility) and the result must be
    bit-identical to the plain join, which is exactly what the oracle
    checks.

    Scale shape: dim replication costs |dim| × 32 rows (dims are the
    small side by assumption — replicate the SMALL side, never the
    fact); the fact is projected once with its salt and shuffles
    evenly. At 100 TB this turns a straggler stage into a uniform
    one; the plan gate asserts the salted key reaches the join."""
    e = load_table(spark, sf_dir, "events")
    fact = e.select(
        F.when(F.col("user_id") % 2 == 0, 0)
        .otherwise(F.col("user_id")).alias("hot_key"),
        "event_type",
        "value",
        (F.col("event_id") % N_SALT).alias("salt"),
    )
    dim = (
        e.select(
            F.when(F.col("user_id") % 2 == 0, 0)
            .otherwise(F.col("user_id")).alias("hot_key"),
            F.when(F.col("user_id") % 2 == 0, "power")
            .otherwise("regular").alias("segment"),
        )
        .distinct()
        .select(
            "hot_key",
            "segment",
            F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1))).alias("salt"),
        )
    )
    # disable broadcast for this join so the salted shuffle path is
    # actually exercised (a broadcast would hide the technique)
    joined = fact.hint("shuffle_hash").join(dim, ["hot_key", "salt"])
    return joined.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(quantize(F.col("value"))).cast("double").alias("_qs"),
    ).select(
        "segment",
        "event_type",
        "n_events",
        (F.col("_qs") / F.lit(float(10 ** MONEY_SCALE))).alias("value_sum"),
    )


@register(
    "q404_aqe_coalesce",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       {sql_dsum('l_extendedprice')} AS price_sum
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
    tags=("aqe", "shuffle", "coalesce", "plan_gated"),
)
def q404_aqe_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE SHUFFLE-PARTITION COALESCING, plan-asserted: the query
    deliberately runs with the worst-case static setting
    (`spark.sql.shuffle.partitions = 200` — the Spark default that
    every mis-sized production job inherits) and Adaptive Query
    Execution must repair it at runtime, merging the many tiny
    post-shuffle partitions into a few right-sized ones based on the
    MEASURED map-output sizes. This is the mechanism that makes one
    static shuffle setting survive 100 TB variance: reducers are
    sized from actual bytes, not from a guess made before the data
    was read. The run executes the census, then asserts the FINAL
    adaptive plan contains a coalesced `AQEShuffleRead` — if AQE is
    silently disabled or the coalesce rule regresses, the query
    fails loudly instead of quietly running 200 near-empty reducers
    (the at-scale cost is scheduler overhead and small-file output,
    the classic death-by-tiny-tasks). Confs saved and restored;
    result is bit-exact either way (coalescing is semantics-free) —
    the grade pins the CORRECTNESS, the plan gate pins the
    ADAPTIVITY."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.shuffle.partitions": "200",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        res = li.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_extendedprice")).alias("price_sum"),
        )
        out = materialize_local(res)  # finalizes the adaptive plan
        plan = res._jdf.queryExecution().executedPlan().toString()
        if "AQEShuffleRead" not in plan or "coalesced" not in plan:
            raise RuntimeError(
                "q404: final adaptive plan has no coalesced "
                "AQEShuffleRead — AQE partition coalescing did not run"
            )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out
