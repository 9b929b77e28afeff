"""Round-13 streaming operator: mergeable-histogram quantiles
maintained across TRUE micro-batches — the first mergeable-sketch
operator graded end-to-end through a real multi-batch stream (q461
proved the sketch in batch; this proves the MERGE).

The claim under test is the sketch's defining property: a fixed-grid
histogram merges by BUCKET-WISE ADDITION, so per-micro-batch partial
histograms shipped by a foreachBatch sink, summed after the run, must
equal the histogram computed over all rows at once. The DuckDB oracle
computes the all-rows histogram directly; the Spark side only ever
sees per-batch partials from ~20 real micro-batches — a hash match IS
the empirical mergeability proof. A mid-stream estimate (first half
of the batches) rides along as the convergence audit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cli_spark.plans.registry import register
from cli_spark.session import materialize_local
from cli_spark.streaming.drain import (
    N_BATCHES,
    replay_partials,
    replay_partials_and_rows,
)
from cli_spark.tables import load_table

_BUCKETS = 64


def _quantile_select(prefix: str) -> str:
    """Shared est-cents chain (q461's midpoint form), DuckDB side."""
    return f"""
{prefix}n AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n FROM {prefix}bc
  GROUP BY event_type
),
{prefix}cum AS (
  SELECT event_type, bkt,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bkt ASC) AS cum
  FROM {prefix}bc
),
{prefix}tgt AS (
  SELECT g.event_type, qs.q, g2.n, g.minc, g.maxc,
         (qs.q * g2.n + 99) // 100 AS tgt
  FROM grid g JOIN {prefix}n g2 USING (event_type) CROSS JOIN qs
),
{prefix}est AS (
  SELECT t.event_type, t.q, t.n,
         CAST(t.minc + ((2 * MIN(c.bkt) + 1) * (t.maxc - t.minc + 1)) // 128
              AS BIGINT) AS est_cents
  FROM {prefix}tgt t
  JOIN {prefix}cum c ON c.event_type = t.event_type AND c.cum >= t.tgt
  GROUP BY t.event_type, t.q, t.n, t.minc, t.maxc
)"""


@register(
    "q473_streaming_histogram_quantiles",
    oracle=f"""
WITH base AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
         CAST(floor(value * 100.0) AS BIGINT) AS cents
  FROM events
),
grid AS (
  SELECT event_type, MIN(cents) AS minc, MAX(cents) AS maxc
  FROM base GROUP BY event_type
),
n AS (SELECT COUNT(*) AS cnt FROM base),
bsz AS (SELECT CAST(ceil(cnt / {N_BATCHES}.0) AS BIGINT) AS b FROM n),
nb AS (SELECT (cnt + b - 1) // b AS nb FROM n CROSS JOIN bsz),
ordered AS (
  SELECT b.*, row_number() OVER (ORDER BY ts_us, event_id) AS rn
  FROM base b
),
bucketed AS (
  SELECT o.event_type, o.rn,
         (o.cents - g.minc) * {_BUCKETS} // (g.maxc - g.minc + 1) AS bkt
  FROM ordered o JOIN grid g USING (event_type)
),
qs AS (SELECT unnest([50, 90, 99]) AS q),
fbc AS (
  SELECT event_type, bkt, CAST(COUNT(*) AS BIGINT) AS c
  FROM bucketed GROUP BY event_type, bkt
),
mbc AS (
  SELECT b.event_type, b.bkt, CAST(COUNT(*) AS BIGINT) AS c
  FROM bucketed b CROSS JOIN bsz CROSS JOIN nb
  WHERE b.rn <= (nb.nb // 2) * bsz.b
  GROUP BY b.event_type, b.bkt
),
{_quantile_select('f')},
{_quantile_select('m')}
SELECT f.event_type, CAST(f.q AS BIGINT) AS q,
       f.n AS n_final, m.n AS n_mid,
       f.est_cents AS est_final_cents, m.est_cents AS est_mid_cents,
       CAST(nb.nb AS BIGINT) AS n_batches
FROM fest f
JOIN mest m ON m.event_type = f.event_type AND m.q = f.q
CROSS JOIN nb
""",
    tags=("streaming", "true_stream", "sketch", "quantile", "mergeable"),
)
def q473_streaming_histogram_quantiles(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MERGEABLE-HISTOGRAM quantiles over ~20 TRUE
    micro-batches: events replay in event-time order through the
    replay source; each micro-batch's foreachBatch sink ships ONLY
    its partial 64-bucket histogram (bucket counts tagged with the
    batch id — a few hundred rows per batch, never the fact rows);
    after the run the partials merge by bucket-wise addition and
    p50/p90/p99 are read off the merged sketch exactly as q461 does
    in batch. The DuckDB oracle computes the all-rows histogram
    directly — the hash match is an empirical proof that the merge is
    lossless, i.e. that the sketch IS mergeable across micro-batches.
    A mid-stream estimate (first half of the batches) rides along:
    at 100 TB/day this is the dashboard number you read BEFORE the
    day closes, and the final column is how far it moved.

    Scale shape: the streaming state is the histogram itself —
    64 integers per event type regardless of volume (the reason to
    run a fixed-grid sketch instead of an exact sort at scale); each
    micro-batch pays one map-side-combined groupBy of its own rows;
    the post-run merge aggregates n_batches × buckets × types rows —
    metadata, not data. The bucket grid is pinned up front from a
    profiling pass (min/max cents per type), the production pattern
    for fixed-grid sketches; all bucket/target/midpoint arithmetic is
    the same integer DIV chain in both engines. The mid-point split
    is ``batch_id < n_batches DIV 2`` — the first half of the
    ``ceil(n / bsz)`` data batches, exactly the oracle's row prefix
    (`drain.replay_partials` states the batch-identity argument)."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type", "event_id", "ts",
        F.expr("CAST(floor(value * 100.0) AS BIGINT)").alias("cents"),
    )
    grid = base.groupBy("event_type").agg(
        F.min("cents").alias("minc"), F.max("cents").alias("maxc"))
    # materialize the profiling pass ONCE: foreachBatch plans every
    # micro-batch fresh, so a lazy `grid` inside the sink re-ran the
    # full-table min/max aggregation as a broadcast build EVERY batch
    # (round-15 optimization, guide §1/§5 — ~20 redundant scans per
    # run). Its rows (a local collect, no job) feed the sink as map
    # literals, and the same local relation serves the post-run
    # estimates.
    grid = materialize_local(grid)
    grid_rows = grid.collect()

    # grid lookup as MAP LITERALS built with the COLUMN API (one
    # row per event type), keeping the exact integer DIV chain:
    # the batch rows come from the same table the grid profiled,
    # so every lookup hits — identical to the previous inner join.
    # F.create_map over F.lit values (the q493 idiom, ADVICE r15
    # item 1) is value-safe for ANY event_type — the previous SQL
    # string literal escaped quotes but not backslashes.
    def _litmap(col: str):
        pairs = []
        for r in grid_rows:
            pairs.append(F.lit(r["event_type"]))
            # explicit long: py4j narrows small Python ints to
            # IntegerType, and the DIV chain is typed on BIGINT
            pairs.append(F.lit(r[col]).cast("long"))
        return F.create_map(*pairs)[F.col("event_type")]

    bkt_expr = f"(cents - __minc) * {_BUCKETS} DIV (__maxc - __minc + 1)"

    def partial_of(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return (
            batch_df.withColumn("__minc", _litmap("minc"))
            .withColumn("__maxc", _litmap("maxc"))
            .select(
                "event_type", F.expr(bkt_expr).alias("bkt"))
            .groupBy("event_type", "bkt")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    parts, _, _, nb = replay_partials(
        spark, base, (F.unix_micros("ts"), F.col("event_id")), partial_of,
        drop=("ts",))

    def estimates(bc: DataFrame, prefix: str) -> DataFrame:
        npt = bc.groupBy("event_type").agg(
            F.sum("c").cast("long").alias("n"))
        cum = bc.select(
            "event_type", "bkt",
            F.sum("c").over(
                Window.partitionBy("event_type")
                .orderBy(F.col("bkt").asc())).alias("cum"),
        )
        qs = spark.createDataFrame([(50,), (90,), (99,)], "q long")
        tgt = (
            grid.join(npt, "event_type")
            .crossJoin(F.broadcast(qs))
            .select("event_type", "q", "n", "minc", "maxc",
                    F.expr("(q * n + 99) DIV 100").alias("tgt"))
        )
        return (
            tgt.join(
                cum.withColumnRenamed("event_type", "et"),
                (F.col("et") == F.col("event_type"))
                & (F.col("cum") >= F.col("tgt")),
            )
            .groupBy("event_type", "q", "n", "minc", "maxc")
            .agg(F.min("bkt").alias("eb"))
            .select(
                "event_type", "q",
                F.col("n").alias(f"n_{prefix}"),
                F.expr("CAST(minc + ((2 * eb + 1) * (maxc - minc + 1)) "
                       "DIV 128 AS BIGINT)")
                .alias(f"est_{prefix}_cents"),
            )
        )

    merged_final = parts.groupBy("event_type", "bkt").agg(
        F.sum("c").cast("long").alias("c"))
    merged_mid = (
        parts.filter(F.col("batch_id") < nb // 2)
        .groupBy("event_type", "bkt")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    fin = estimates(merged_final, "final")
    mid = estimates(merged_mid, "mid").withColumnRenamed(
        "event_type", "et2").withColumnRenamed("q", "q2")
    result = (
        fin.join(mid, (F.col("et2") == F.col("event_type"))
                 & (F.col("q2") == F.col("q")))
        .select(
            "event_type", F.col("q").cast("long").alias("q"),
            "n_final", "n_mid", "est_final_cents", "est_mid_cents",
            F.lit(nb).cast("long").alias("n_batches"),
        )
    )
    return materialize_local(result)


# HLL chains shared with the batch sketch (q465): exact-integer
# register sum (each register contributes 2^(55-M) as BIGINT), raw
# estimate alpha_64 * 64^2 * 2^55 / reg_sum, small-range correction
# m*ln(m/zeros).
from cli_spark.operators.round11 import _H60_DUCK, _H60_SPARK  # noqa: E402
from cli_spark.operators.round13 import _HLL_RAW, _HLL_SMALL  # noqa: E402

_RHO_DUCK = (
    "CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END"
)
_RHO_SPARK = (
    "CASE WHEN h DIV 64 = 0 THEN 55 ELSE 55 - length(bin(h DIV 64)) END"
)


def _hll_est_sql(prefix: str) -> str:
    """Registers → estimate for one scope (DuckDB side)."""
    return f"""
{prefix}reg AS (
  SELECT event_type, h % 64 AS bucket, MAX({_RHO_DUCK}) AS m
  FROM {prefix}rows GROUP BY event_type, h % 64
),
{prefix}per AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nbk,
         CAST(SUM(CAST(power(2.0, 55 - m) AS BIGINT))
              + (64 - COUNT(*)) * 36028797018963968 AS BIGINT) AS reg_sum
  FROM {prefix}reg GROUP BY event_type
),
{prefix}ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM {prefix}rows GROUP BY event_type
),
{prefix}est AS (
  SELECT p.event_type, e.n_exact,
         CAST(64 - p.nbk AS BIGINT) AS zeros, {_HLL_RAW} AS raw_est
  FROM {prefix}per p JOIN {prefix}ex e USING (event_type)
),
{prefix}fin AS (
  SELECT event_type, n_exact, zeros,
         CASE WHEN raw_est <= 160 AND zeros > 0
              THEN {_HLL_SMALL} ELSE raw_est END AS hll
  FROM {prefix}est
)"""


@register(
    "q476_streaming_hll_union",
    oracle=f"""
WITH base AS (
  SELECT event_type, event_id, user_id, epoch_us(ts) AS ts_us,
         {_H60_DUCK.format(key='user_id')} AS h
  FROM events
),
n AS (SELECT COUNT(*) AS cnt FROM base),
bsz AS (SELECT CAST(ceil(cnt / 20.0) AS BIGINT) AS b FROM n),
nb AS (SELECT (cnt + b - 1) // b AS nb FROM n CROSS JOIN bsz),
ordered AS (
  SELECT b.*, row_number() OVER (ORDER BY ts_us, event_id) AS rn
  FROM base b
),
frows AS (SELECT event_type, user_id, h FROM ordered),
mrows AS (
  SELECT o.event_type, o.user_id, o.h
  FROM ordered o CROSS JOIN bsz CROSS JOIN nb
  WHERE o.rn <= (nb.nb // 2) * bsz.b
),
{_hll_est_sql('f')},
{_hll_est_sql('m')}
SELECT f.event_type, f.n_exact, f.hll AS hll_final, f.zeros,
       m.n_exact AS n_exact_mid, m.hll AS hll_mid,
       CAST(abs(f.hll - f.n_exact) * 1000000 // f.n_exact AS BIGINT)
         AS err_ppm,
       CAST(nb.nb AS BIGINT) AS n_batches
FROM ffin f JOIN mfin m USING (event_type) CROSS JOIN nb
""",
    tags=("streaming", "true_stream", "sketch", "hll", "mergeable"),
)
def q476_streaming_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING HLL UNION over ~20 TRUE micro-batches — the second
    mergeable-sketch TRUE-stream grade, and the OTHER merge algebra:
    q473's histogram merges by bucket-wise ADDITION; HyperLogLog
    merges by register-wise MAX. Each micro-batch's foreachBatch sink
    writes only its 64-register sketch per event type (max rho per
    bucket over that batch's rows — <= 320 integers per batch, never
    fact rows); after the run the distinct-users-per-type estimate is
    read off the MAX-merged registers, with q465's exact-integer
    register sum (each register contributes 2^(55-M) as BIGINT, so no
    float addition exists) and Flajolet small-range correction. The
    mid-stream columns estimate the FIRST HALF of the batches — a
    prefix-distinct the oracle reproduces via the same deterministic
    batching, so the TRUE-stream structure itself is graded, not just
    the final union.

    This is the streaming-dashboard shape at 100 TB/day: executors
    ship 64 bytes per (type, batch), the union of any set of shards /
    days / clusters is an elementwise max, and the realized err_ppm
    rides along against the exact audit (the 1.04/sqrt(64) ~ 13%
    contract; the sf0.01 tier lands in the small-range-correction
    regime and sf0.1 in the raw-estimator regime, so both estimator
    paths stay covered). The mid-stream scope is the batches with
    ``batch_id < n_batches DIV 2`` (`drain.replay_partials` states why
    that is the oracle's row prefix).

    The exact audit reads the replay file itself, each row tagged with
    the batch it arrived in, so it needs no global ordering: a user
    counts in a type's mid scope when its first batch in that type is
    in the first half. The two scopes' registers merge in ONE
    aggregation (`_fused_hll`)."""
    e = load_table(spark, sf_dir, "events")
    base = e.select("event_type", "event_id", "user_id", "ts")

    def partial_of(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return (
            batch_df.select(
                "event_type",
                F.expr(_H60_SPARK.format(key="user_id")).alias("h"),
            )
            .select("event_type", F.expr("h % 64").alias("bucket"),
                    F.expr(_RHO_SPARK).alias("rho"))
            .groupBy("event_type", "bucket")
            .agg(F.max("rho").alias("m"))
        )

    with replay_partials_and_rows(
        spark, base, (F.unix_micros("ts"), F.col("event_id")), partial_of,
        drop=("ts",),
    ) as (regs, replayed, _, _, nb):
        # audit baselines (exact distinct) over the very rows and
        # batches the stream replayed. Equivalence with the oracle's
        # COUNT(DISTINCT user_id) over all rows and over
        # rn <= (nb DIV 2) * bsz: the replay file is the oracle's
        # (ts_us, event_id) order, so a row's batch_id is
        # (rn - 1) DIV bsz and the prefix is batch_id < nb DIV 2; a
        # user is in a type's prefix iff its earliest batch in that
        # type is, and count(user_id) skips the NULL-user group as
        # COUNT(DISTINCT) skips NULL. The row index is a file
        # position, so the rule holds however many splits read it.
        first = replayed.groupBy("event_type", "user_id").agg(
            F.min("batch_id").alias("first"))
        audit = first.groupBy("event_type").agg(
            F.count("user_id").cast("long").alias("n_exact"),
            F.count(F.when(F.col("first") < nb // 2, F.col("user_id")))
            .cast("long").alias("n_exact_mid"),
        )
        result = (
            _fused_hll(regs, nb // 2)
            .join(F.broadcast(audit), "event_type")
            .select(
                "event_type", "n_exact", "hll_final", "zeros",
                "n_exact_mid", "hll_mid",
                F.expr("CAST(abs(hll_final - n_exact) * 1000000 DIV n_exact "
                       "AS BIGINT)").alias("err_ppm"),
                F.lit(nb).cast("long").alias("n_batches"),
            )
        )
        return materialize_local(result)


def _fused_hll(regs: DataFrame, half: int) -> DataFrame:
    """``(event_type, zeros, hll_final, hll_mid)`` from the drained
    per-batch registers ``regs`` (``event_type, bucket, m, batch_id``):
    the final scope merges every batch, the mid scope the batches with
    ``batch_id < half``, both in one register merge.

    Equivalence with merging each scope on its own (max ``m`` per
    ``(event_type, bucket)``, then ``nbk = COUNT(*)`` and the register
    sum per type): the final scope's ``m`` is unchanged. A bucket is in
    the mid scope iff one of its rows has ``batch_id < half`` (``mid``)
    and its mid register is the max over those rows (``m_mid``, NULL
    elsewhere), so ``count_if(mid)`` is the mid ``nbk`` and the SUM
    over ``m_mid`` skips exactly the buckets the mid merge never saw.
    A NULL ``user_id`` hashes to a NULL ``bucket`` and ``m``: its group
    counts in ``nbk`` (and in the mid ``nbk`` when it has a mid row)
    and adds nothing to the SUM, as in the per-scope merge. A type with
    no mid row has no mid group at all, so it is dropped
    (``nbk_mid > 0``), as the per-scope form's inner join dropped it."""
    reg = regs.groupBy("event_type", "bucket").agg(
        F.max("m").alias("m"),
        F.max(F.when(F.col("batch_id") < half, F.col("m"))).alias("m_mid"),
        F.max(F.col("batch_id") < half).alias("mid"),
    )
    per = reg.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nbk"),
        F.expr("CAST(SUM(CAST(power(2.0, 55 - m) AS BIGINT)) "
               "+ (64 - COUNT(*)) * 36028797018963968 AS BIGINT)")
        .alias("reg_sum"),
        F.count_if("mid").cast("long").alias("nbk_mid"),
        F.expr("CAST(SUM(CAST(power(2.0, 55 - m_mid) AS BIGINT)) "
               "+ (64 - COUNT_IF(mid)) * 36028797018963968 AS BIGINT)")
        .alias("reg_sum_mid"),
    ).filter(F.col("nbk_mid") > 0)

    def estimate(sfx: str) -> Column:
        # q465's estimator expressions name ``reg_sum`` and ``zeros``;
        # each scope substitutes its own register sum and zero count
        raw =F.expr(_HLL_RAW.replace("reg_sum", f"reg_sum{sfx}"))
        zeros = F.lit(64) - F.col(f"nbk{sfx}")
        small = F.expr(_HLL_SMALL.replace("zeros", f"(64 - nbk{sfx})"))
        return F.when((raw <= 160) & (zeros > 0), small).otherwise(raw)

    return per.select(
        "event_type",
        (F.lit(64) - F.col("nbk")).cast("long").alias("zeros"),
        estimate("").alias("hll_final"),
        estimate("_mid").alias("hll_mid"),
    )


_MG_K = 8  # Misra-Gries counters; error bound n/(k+1)


@register(
    "q479_streaming_misra_gries",
    oracle="""
WITH base AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
),
n AS (SELECT COUNT(*) AS cnt FROM base),
bsz AS (SELECT CAST(ceil(cnt / 20.0) AS BIGINT) AS b FROM n),
nb AS (SELECT (cnt + b - 1) // b AS nb FROM n CROSS JOIN bsz),
ordered AS (
  SELECT b.*, row_number() OVER (ORDER BY ts_us, event_id) AS rn
  FROM base b
),
batched AS (
  SELECT o.user_id, (o.rn - 1) // b.b AS batch
  FROM ordered o CROSS JOIN bsz b
),
bc AS (
  SELECT batch, user_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM batched GROUP BY batch, user_id
),
thr AS (
  SELECT batch, COALESCE(MAX(c) FILTER (WHERE rnk = 9), 0) AS c9
  FROM (SELECT batch, c,
               row_number() OVER (PARTITION BY batch
                                  ORDER BY c DESC, user_id ASC) AS rnk
        FROM bc)
  GROUP BY batch
),
summ AS (
  SELECT b.batch, b.user_id, b.c - t.c9 AS ctr
  FROM bc b JOIN thr t USING (batch)
  WHERE b.c - t.c9 > 0
),
merged AS (
  SELECT user_id, CAST(SUM(ctr) AS BIGINT) AS s FROM summ GROUP BY user_id
),
mthr AS (
  SELECT COALESCE(MAX(s) FILTER (WHERE rnk = 9), 0) AS s9
  FROM (SELECT s, row_number() OVER (ORDER BY s DESC, user_id ASC) AS rnk
        FROM merged)
),
fin AS (
  SELECT m.user_id, m.s - t.s9 AS est
  FROM merged m CROSS JOIN mthr t
  WHERE m.s - t.s9 > 0
),
exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS ex FROM base GROUP BY user_id
),
ranked AS (
  SELECT f.user_id, f.est, e.ex,
         row_number() OVER (ORDER BY f.est DESC, f.user_id ASC) AS rnk
  FROM fin f JOIN exact e USING (user_id)
)
SELECT CAST(r.rnk AS BIGINT) AS rank, r.user_id,
       CAST(r.est AS BIGINT) AS est_count, r.ex AS exact_count,
       r.ex - CAST(r.est AS BIGINT) AS deficit,
       CAST(n.cnt // 9 AS BIGINT) AS bound,
       CAST(nb.nb AS BIGINT) AS n_batches
FROM ranked r CROSS JOIN n CROSS JOIN nb
""",
    tags=("streaming", "true_stream", "sketch", "heavy-hitters",
          "mergeable"),
)
def q479_streaming_misra_gries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MISRA–GRIES heavy hitters over ~20 TRUE micro-batches
    — the THIRD merge algebra of the mergeable-sketch set: histograms
    merge by addition (q473), HLL by register max (q476), MG counter
    summaries by ADD-THEN-SUBTRACT-THE-(k+1)-th (Agarwal et al.,
    Mergeable Summaries, PODS 2012/TODS 2013 — the result that made
    frequency estimation distributable). Each micro-batch's
    foreachBatch sink ships its canonical k = 8 counter summary
    (exact in-batch counts minus the batch's 9th-largest count,
    positives only — at most 8 rows per batch, order-free); the
    post-run merge sums counters per key and subtracts the merged
    9th-largest, preserving the deficit bound exact - est <= n/(k+1)
    ACROSS merges. The result ranks the surviving heavy hitters with
    their exact counts, realized deficit, and the n/9 bound — the
    audit makes the theorem's inequality a tested row property
    (deficit is also always >= 0: MG never overestimates).

    This is how top-K dashboards work at 100 TB/day: executors ship
    k counters per shard, merges are associative, and nobody ever
    re-scans. Every quantity here is an exact integer (counts,
    thresholds, counters, bound) — ties rank deterministically by
    user_id in both engines."""
    e = load_table(spark, sf_dir, "events")
    base = e.select("event_id", "user_id", "ts")

    def partial_of(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # threshold computed IN-PLAN in the SAME window pass as the
        # rank: the previous form cross-joined a broadcast 1-row
        # aggregate, which re-ran the batch count aggregate inside
        # the per-batch broadcast build (every micro-batch is
        # planned fresh, so nothing was reused — round-15
        # optimization, guide §1/§3.1). The full-frame MAX shares
        # the rank's sort; the per-batch collect still ships only
        # the surviving MG counters (<= _MG_K rows)
        wo = Window.orderBy(F.col("c").desc(), F.col("user_id").asc())
        return (
            batch_df.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .withColumn("rnk", F.row_number().over(wo))
            .withColumn(
                "c9",
                F.max(F.when(F.col("rnk") == _MG_K + 1, F.col("c"))
                      .otherwise(F.lit(0)))
                .over(wo.rowsBetween(Window.unboundedPreceding,
                                     Window.unboundedFollowing)),
            )
            .select("user_id", (F.col("c") - F.col("c9")).alias("ctr"))
            .filter(F.col("ctr") > 0)
        )

    summ, n, _, nb = replay_partials(
        spark, base, (F.unix_micros("ts"), F.col("event_id")), partial_of,
        drop=("ts",))
    merged = summ.groupBy("user_id").agg(
        F.sum("ctr").cast("long").alias("s"))
    # s9 stays IN the plan (round 16): the old scalar fetch was a
    # dedicated job over the same local relation; a 1-row aggregate
    # (the rank-(K+1) sum, or 0 when fewer rows survive — identical
    # to the old empty-collect fallback) broadcast-crossJoins into
    # the final select
    merged = merged.withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.col("s").desc(), F.col("user_id").asc())))
    s9df = merged.agg(
        F.coalesce(
            F.max(F.when(F.col("rnk") == _MG_K + 1, F.col("s"))),
            F.lit(0)).cast("long").alias("s9"))
    fin = (
        merged.crossJoin(F.broadcast(s9df))
        .select("user_id", (F.col("s") - F.col("s9")).alias("est"))
        .filter(F.col("est") > 0)
    )
    exact = base.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("ex"))
    ranked = (
        fin.join(exact, "user_id")
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("est").desc(), F.col("user_id").asc())),
        )
    )
    result = ranked.select(
        F.col("rank").cast("long").alias("rank"), "user_id",
        F.col("est").cast("long").alias("est_count"),
        F.col("ex").alias("exact_count"),
        (F.col("ex") - F.col("est")).cast("long").alias("deficit"),
        F.lit(n // (_MG_K + 1)).cast("long").alias("bound"),
        F.lit(nb).cast("long").alias("n_batches"),
    )
    return materialize_local(result)
