"""Round-14 streaming operator: theta-sketch intersections maintained
across TRUE micro-batches — the FOURTH merge algebra of the
mergeable-sketch stream family, completing the set:

* q473 histogram        — bucket-wise ADDITION
* q476 HyperLogLog      — register-wise MAX
* q479 Misra-Gries      — ADD then SUBTRACT the (k+1)-th
* q481 theta / bottom-k — ORDER-STATISTIC merge (bottom-64 of union)

The claim under test is bottom-k's defining property: bottom-64 of a
union equals bottom-64 of the union of per-part bottom-64s, so
per-micro-batch sketches written by a foreachBatch sink, merged after
the run by one more bottom-64 reduction, must equal the sketch built
over all rows at once — and every pairwise theta-intersection estimate
read off the merged sketches must match the all-rows oracle exactly.
The DuckDB oracle computes the all-rows sketches directly; the Spark
side only ever sees per-batch partials from ~20 real micro-batches —
a hash match IS the empirical mergeability proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cli_spark.operators.round11 import _H60_DUCK, _H60_SPARK, _TWO60
from cli_spark.plans.registry import register
from cli_spark.session import materialize_local
from cli_spark.streaming.drain import N_BATCHES, replay_partials
from cli_spark.tables import load_table

_SK = 64  # sketch size (bottom-k over the 60-bit md5 hash lane)

# user-day activity key — distinct counts per event type land in the
# sketch's sampling regime (~1.6k keys/type vs k=64 at sf0.01) and
# pairwise overlaps are partial (~35%), unlike raw user_id where every
# type sees every user and the audit degenerates
_KEY_DUCK = "user_id || ':' || CAST(CAST(ts AS DATE) AS VARCHAR)"
_KEY_SPARK = ("concat(CAST(user_id AS STRING), ':', "
              "CAST(CAST(ts AS DATE) AS STRING))")


@register(
    "q481_streaming_theta_intersection",
    oracle=f"""
WITH base AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
         {_H60_DUCK.format(key=_KEY_DUCK)} AS h
  FROM events
),
n AS (SELECT COUNT(*) AS cnt FROM base),
bsz AS (SELECT CAST(ceil(cnt / {N_BATCHES}.0) AS BIGINT) AS b FROM n),
nb AS (SELECT (cnt + b - 1) // b AS nb FROM n CROSS JOIN bsz),
pool AS (SELECT DISTINCT event_type, h FROM base),
sk AS (
  SELECT event_type, h
  FROM (SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY h ASC) AS rn
        FROM pool)
  WHERE rn <= {_SK}
),
types AS (SELECT DISTINCT event_type FROM pool),
pl AS (
  SELECT a.event_type AS s1, b.event_type AS s2
  FROM types a JOIN types b ON a.event_type < b.event_type
),
un AS (
  SELECT DISTINCT s1, s2, h FROM (
    SELECT p.s1, p.s2, s.h FROM pl p JOIN sk s ON s.event_type = p.s1
    UNION ALL
    SELECT p.s1, p.s2, s.h FROM pl p JOIN sk s ON s.event_type = p.s2
  )
),
th AS (
  SELECT s1, s2,
         COALESCE(MAX(CASE WHEN rn = {_SK} THEN h END),
                  1152921504606846976) AS theta
  FROM (SELECT s1, s2, h,
               row_number() OVER (PARTITION BY s1, s2 ORDER BY h ASC) AS rn
        FROM un)
  GROUP BY s1, s2
),
com AS (
  SELECT a.event_type AS s1, b.event_type AS s2, a.h
  FROM sk a JOIN sk b ON a.h = b.h AND a.event_type < b.event_type
),
ni AS (
  SELECT t.s1, t.s2, t.theta,
         CAST(COALESCE(SUM(CASE WHEN c.h < t.theta THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_below
  FROM th t LEFT JOIN com c ON c.s1 = t.s1 AND c.s2 = t.s2
  GROUP BY t.s1, t.s2, t.theta
),
ex AS (
  SELECT a.event_type AS s1, b.event_type AS s2,
         CAST(COUNT(*) AS BIGINT) AS exact_inter
  FROM pool a JOIN pool b ON a.h = b.h AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
),
est AS (
  SELECT n.s1, n.s2,
         CAST(COALESCE(e.exact_inter, 0) AS BIGINT) AS exact_inter,
         CAST(floor(CAST(n.n_below AS DOUBLE) * {_TWO60} /
                    CAST(n.theta AS DOUBLE)) AS BIGINT) AS est_inter
  FROM ni n LEFT JOIN ex e ON e.s1 = n.s1 AND e.s2 = n.s2
)
SELECT s1, s2, exact_inter, est_inter,
       CAST(abs(est_inter - exact_inter) * 1000000
            // GREATEST(exact_inter, 1) AS BIGINT) AS err_ppm,
       CAST(nb.nb AS BIGINT) AS n_batches
FROM est CROSS JOIN nb
""",
    tags=("streaming", "true_stream", "sketch", "theta", "mergeable"),
)
def q481_streaming_theta_intersection(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING THETA-SKETCH INTERSECTIONS over ~20 TRUE micro-batches
    — the FOURTH merge algebra, completing the mergeable-sketch stream
    family (q473 add / q476 max / q479 add-subtract / here
    ORDER-STATISTIC: bottom-64 of the union). Events replay in
    event-time order; each micro-batch's foreachBatch sink ships ONLY
    its bottom-64 sketch of that batch's distinct user-day hash pool
    per event type (<= 64 x types rows per batch, never fact rows);
    after the run one more bottom-64 reduction over the union of the
    batch sketches yields the merged per-type sketch, and every
    pairwise |A n B| estimate is read off the merged sketches with the
    standard theta rule (q462): theta = the 64th smallest hash of the
    merged pair union, est = (common hashes below theta) * 2^60 /
    theta; a pair whose merged union holds < 64 hashes falls back to
    theta = 2^60 (the sketch IS the union — exact). The DuckDB oracle
    builds the sketches from ALL rows at once — the hash match is the
    empirical proof that bottom-k merges losslessly across
    micro-batches, the property that makes KMV/theta THE distributed
    set-expression sketch. Exact intersections ride along as the audit
    baseline with realized err_ppm (the ~1/sqrt(64) contract).

    Scale shape: streaming state is 64 longs per event type REGARDLESS
    of volume; each micro-batch pays one distinct + per-type bottom-k
    over its own rows (map-side combinable, WindowGroupLimit per-
    partition heaps); the post-run merge touches n_batches x 64 x
    types rows — metadata, not data. At 100 TB/day the same sink runs
    per executor and the union of any set of shards/days/clusters is
    one more bottom-64 — nobody ever re-scans. The single float step
    (2^60 / theta) is one shared IEEE chain floored to BIGINT; all
    counting is exact integers."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type", "event_id", "ts",
        F.expr(_H60_SPARK.format(key=_KEY_SPARK)).alias("h"),
    )

    def partial_of(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return (
            batch_df.select("event_type", "h").distinct()
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("event_type")
                    .orderBy(F.col("h").asc())),
            )
            .filter(F.col("rn") <= _SK)
            .select("event_type", "h")
        )

    parts, _, _, nb = replay_partials(
        spark, base, (F.unix_micros("ts"), F.col("event_id")), partial_of,
        drop=("ts",))
    # ORDER-STATISTIC MERGE: bottom-64 of the distinct union of the
    # per-batch bottom-64s == bottom-64 of the all-rows pool
    sk = (
        parts.select("event_type", "h").distinct()
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type")
                .orderBy(F.col("h").asc())),
        )
        .filter(F.col("rn") <= _SK)
        .select("event_type", "h")
        .persist()
    )
    types = sk.select("event_type").distinct()
    pl = (
        types.select(F.col("event_type").alias("s1"))
        .join(types.select(F.col("event_type").alias("s2")),
              F.col("s1") < F.col("s2"))
    )
    un = (
        pl.join(F.broadcast(sk), F.col("event_type") == F.col("s1"))
        .select("s1", "s2", "h")
        .unionByName(
            pl.join(F.broadcast(sk), F.col("event_type") == F.col("s2"))
            .select("s1", "s2", "h"))
        .distinct()
    )
    two60_long = 1152921504606846976
    th = (
        un.select(
            "s1", "s2", "h",
            F.row_number().over(
                Window.partitionBy("s1", "s2").orderBy(F.col("h").asc())
            ).alias("rn"),
        )
        .groupBy("s1", "s2")
        .agg(F.coalesce(
            F.max(F.when(F.col("rn") == _SK, F.col("h"))),
            F.lit(two60_long)).alias("theta"))
    )
    com = (
        sk.select(F.col("event_type").alias("s1"), "h")
        .join(sk.select(F.col("event_type").alias("s2"),
                        F.col("h").alias("h2")),
              (F.col("h") == F.col("h2")) & (F.col("s1") < F.col("s2")))
        .select("s1", "s2", "h")
    )
    ni = (
        th.join(com.withColumnRenamed("h", "ch"), ["s1", "s2"], "left")
        .groupBy("s1", "s2", "theta")
        .agg(F.coalesce(
            F.sum(F.when(F.col("ch") < F.col("theta"), 1).otherwise(0)),
            F.lit(0)).cast("long").alias("n_below"))
    )
    # exact audit baseline from the batch table (never from the
    # stream — the stream only ever shipped sketches)
    pool = base.select("event_type", "h").distinct()
    ex = (
        pool.select(F.col("event_type").alias("s1"), "h")
        .join(pool.select(F.col("event_type").alias("s2"),
                          F.col("h").alias("h2")),
              (F.col("h") == F.col("h2")) & (F.col("s1") < F.col("s2")))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    result = (
        ni.join(ex, ["s1", "s2"], "left")
        .select(
            "s1", "s2",
            F.coalesce("exact_inter", F.lit(0)).cast("long")
            .alias("exact_inter"),
            F.expr(f"CAST(floor(CAST(n_below AS DOUBLE) * {_TWO60} / "
                   "CAST(theta AS DOUBLE)) AS BIGINT)")
            .alias("est_inter"),
        )
        .withColumn(
            "err_ppm",
            F.expr("CAST(abs(est_inter - exact_inter) * 1000000 "
                   "DIV GREATEST(exact_inter, 1) AS BIGINT)"),
        )
        .withColumn("n_batches", F.lit(nb).cast("long"))
    )
    out = materialize_local(result)
    sk.unpersist()
    return out


# ---------------------------------------------------------------- q486

from cli_spark.operators.round14 import _ERR_PPM, _HT_TERM, _PRI  # noqa: E402

_PS_K = 10  # priority-sample size per stratum (k; reservoirs keep k+1)
# integer event weight: value in cents, floored, >= 1
_W_DUCK = "GREATEST(CAST(floor(value * 100.0) AS BIGINT), 1)"
_W_SPARK = "GREATEST(CAST(floor(value * 100.0) AS BIGINT), CAST(1 AS BIGINT))"


@register(
    "q486_streaming_priority_sample",
    oracle=f"""
WITH base AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
         {_W_DUCK} AS w,
         {_H60_DUCK.format(key='event_id')} AS h
  FROM events
),
n AS (SELECT COUNT(*) AS cnt FROM base),
bsz AS (SELECT CAST(ceil(cnt / {N_BATCHES}.0) AS BIGINT) AS b FROM n),
nb AS (SELECT (cnt + b - 1) // b AS nb FROM n CROSS JOIN bsz),
-- the ESTIMATE is computed corpus-wise (q472's chain): a hash match
-- against the stream side's batch-reservoir merge IS the mergeability
-- proof, because the two sides never share the reduction structure
pri AS (SELECT event_type, event_id, w, {_PRI} AS p FROM base),
cr AS (
  SELECT event_type, event_id, w, p,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY p DESC, event_id ASC) AS rk
  FROM pri
),
ct AS (SELECT event_type, p AS tau FROM cr WHERE rk = {_PS_K + 1}),
ce AS (
  SELECT r.event_type, CAST(SUM({_HT_TERM}) AS BIGINT) AS est_micro
  FROM (SELECT cr.event_type, w, COALESCE(t.tau, 0.0) AS tau
        FROM cr LEFT JOIN ct t ON t.event_type = cr.event_type
        WHERE rk <= {_PS_K}) r
  GROUP BY r.event_type
),
-- shipped_rows mirrors the stream's deterministic batch partition:
-- each micro-batch ships at most k+1 rows per stratum
ordered AS (
  SELECT b.*, row_number() OVER (ORDER BY ts_us, event_id) AS rn
  FROM base b
),
batched AS (
  SELECT o.event_type, o.event_id,
         (o.rn - 1) // z.b AS batch
  FROM ordered o CROSS JOIN bsz z
),
bk AS (
  SELECT event_type, batch,
         row_number() OVER (PARTITION BY event_type, batch
                            ORDER BY event_id) AS brk
  FROM batched
),
ship AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS shipped_rows
  FROM bk WHERE brk <= {_PS_K + 1} GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(w) AS BIGINT) AS w_exact
  FROM base GROUP BY event_type
)
SELECT e.event_type, e.n_events, e.w_exact, c.est_micro,
       {_ERR_PPM.format(est='c.est_micro', unscale='/ 1000000.0',
                        exact='e.w_exact')} AS err_ppm,
       s.shipped_rows, CAST(nb.nb AS BIGINT) AS n_batches
FROM exact e
JOIN ce c ON c.event_type = e.event_type
JOIN ship s ON s.event_type = e.event_type
CROSS JOIN nb
""",
    tags=("streaming", "true_stream", "sampling", "mergeable",
          "horvitz-thompson"),
)
def q486_streaming_priority_sample(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PRIORITY SAMPLING over ~20 TRUE micro-batches — the
    weighted-sampling stack (q447 sampler → q472 estimator → q483
    merge proof) taken through a REAL stream: each micro-batch's
    foreachBatch sink ships only its k+1 = 11 highest-priority rows
    per event type (the bounded per-batch reservoir — integer weight
    in cents, the same Duffield–Lund–Thorup priority p = w/u from the
    md5 lane); after the run ONE more top-11 order-statistic selection
    over the shipped rows yields tau and the Horvitz–Thompson estimate
    of each stratum's TOTAL weight. The DuckDB oracle computes the
    estimate CORPUS-WISE (it never sees the batch structure except to
    reproduce shipped_rows), so the hash match is the end-to-end
    empirical proof that per-batch reservoirs + one merge lose nothing
    — mergeability graded through the stream itself, not just the
    shard simulation (q483). Realized err_ppm vs the exact total rides
    along, as do the rows actually shipped (<= 11 per type per batch —
    the communication story: at 100 TB/day each executor ships k+1
    rows per stratum per batch and the coordinator's merge is one more
    k+1 heap; the total-weight dashboard needs no second pass).

    Every HT term is floored to integer micros before summation; the
    priority and err chains are the shared verbatim IEEE expressions.
    The sink's per-batch top-k runs as WindowGroupLimit (k+1-row heaps
    per partition, never a full sort)."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type", "event_id", "ts",
        F.expr(_W_SPARK).alias("w"),
        F.expr(_H60_SPARK.format(key="event_id")).alias("h"),
    )

    def partial_of(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return (
            batch_df.withColumn("p", F.expr(_PRI))
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("event_type")
                    .orderBy(F.col("p").desc(), F.col("event_id").asc())),
            )
            .filter(F.col("rk") <= _PS_K + 1)
            .select("event_type", "event_id", "w", "h")
        )

    shipped, _, _, nb = replay_partials(
        spark, base, (F.unix_micros("ts"), F.col("event_id")), partial_of,
        drop=("ts",))
    ship = shipped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("shipped_rows"))
    # ORDER-STATISTIC MERGE: one more top-(k+1) over shipped rows
    mr = (
        shipped.withColumn("p", F.expr(_PRI))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type")
                .orderBy(F.col("p").desc(), F.col("event_id").asc())),
        )
    )
    taus = mr.filter(F.col("rk") == _PS_K + 1).select(
        F.col("event_type").alias("tt"), F.col("p").alias("tau_raw"))
    est = (
        mr.filter(F.col("rk") <= _PS_K)
        .join(F.broadcast(taus), F.col("event_type") == F.col("tt"),
              "left")
        .withColumn("tau", F.coalesce("tau_raw", F.lit(0.0)))
        .groupBy("event_type")
        .agg(F.sum(F.expr(_HT_TERM)).cast("long").alias("est_micro"))
    )
    exact = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("w").cast("long").alias("w_exact"),
    )
    result = (
        exact.join(F.broadcast(est), "event_type")
        .join(F.broadcast(ship), "event_type")
        .select(
            "event_type", "n_events", "w_exact", "est_micro",
            F.expr(_ERR_PPM.format(est="est_micro",
                                   unscale="/ 1000000.0",
                                   exact="w_exact")).alias("err_ppm"),
            "shipped_rows",
            F.lit(nb).cast("long").alias("n_batches"),
        )
    )
    return materialize_local(result)


# ---------------------------------------------------------------- q491

# floor(log2(c)) for positive integers via bit length — the _RHO
# idiom: length(bin(c)) - 1 in both engines; NO float log anywhere.
_LB_DUCK = "length(bin(cents)) - 1"
_LB_SPARK = "length(bin(cents)) - 1"


def _lb_quantile_sql(prefix: str) -> str:
    """Bucket counts -> per-quantile selected bucket + midpoint
    estimate (DuckDB side). est = 2^b + 2^(b-1) (the integer geometric
    midpoint of [2^b, 2^(b+1))), so est/true is always in
    [0.75, 1.5] — the multiplicative contract."""
    return f"""
{prefix}n AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n FROM {prefix}bc
  GROUP BY event_type
),
{prefix}cum AS (
  SELECT event_type, b,
         SUM(c) OVER (PARTITION BY event_type ORDER BY b ASC) AS cum
  FROM {prefix}bc
),
{prefix}tgt AS (
  SELECT n.event_type, qs.q, n.n, (qs.q * n.n + 99) // 100 AS tgt
  FROM {prefix}n n CROSS JOIN qs
),
{prefix}sel AS (
  SELECT t.event_type, t.q, t.n,
         CAST(MIN(c.b) AS BIGINT) AS bucket_sel
  FROM {prefix}tgt t
  JOIN {prefix}cum c ON c.event_type = t.event_type AND c.cum >= t.tgt
  GROUP BY t.event_type, t.q, t.n
),
{prefix}est AS (
  SELECT event_type, q, n, bucket_sel,
         CAST(CASE WHEN bucket_sel = 0 THEN 1
              ELSE (1::BIGINT << bucket_sel)
                   + (1::BIGINT << (bucket_sel - 1)) END
              AS BIGINT) AS est_cents
  FROM {prefix}sel
)"""


@register(
    "q491_streaming_logbucket_quantiles",
    oracle=f"""
WITH base AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
         GREATEST(CAST(floor(value * 100.0) AS BIGINT), 1) AS cents
  FROM events
),
n0 AS (SELECT COUNT(*) AS cnt FROM base),
bsz AS (SELECT CAST(ceil(cnt / {N_BATCHES}.0) AS BIGINT) AS b FROM n0),
nb AS (SELECT (cnt + b - 1) // b AS nb FROM n0 CROSS JOIN bsz),
qs AS (SELECT unnest([50, 90, 99]) AS q),
fbc AS (
  SELECT event_type, {_LB_DUCK} AS b, CAST(COUNT(*) AS BIGINT) AS c
  FROM base GROUP BY event_type, {_LB_DUCK}
),
{_lb_quantile_sql('f')},
exact AS (
  SELECT r.event_type, q.q, CAST(r.cents AS BIGINT) AS exact_cents
  FROM (SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cents, event_id) AS rk
        FROM base) r
  JOIN (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM base GROUP BY event_type) g ON g.event_type = r.event_type
  CROSS JOIN qs q
  WHERE r.rk = (q.q * g.n + 99) // 100
)
SELECT f.event_type, CAST(f.q AS BIGINT) AS q, f.n, f.bucket_sel,
       f.est_cents, e.exact_cents,
       CAST(abs(f.est_cents - e.exact_cents) * 1000000
            // GREATEST(e.exact_cents, 1) AS BIGINT) AS rel_err_ppm,
       CAST(nb.nb AS BIGINT) AS n_batches
FROM fest f
JOIN exact e ON e.event_type = f.event_type AND e.q = f.q
CROSS JOIN nb
""",
    tags=("streaming", "true_stream", "sketch", "quantile", "mergeable"),
)
def q491_streaming_logbucket_quantiles(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING LOG-BUCKET QUANTILES over ~20 TRUE micro-batches —
    the ONE-PASS form of the stream-quantile sketch: q473's fixed grid
    needs a PROFILING pass (min/max per type) before the stream
    starts; here the bucket is floor(log2(cents)) computed as
    bit-length − 1 (integer, no float log, no prior knowledge of the
    value range — the power-of-2 skeleton of DDSketch-style relative-
    error sketches), so the sketch works on data whose range nobody
    has seen yet, which is the actual 100 TB/day situation. Each
    micro-batch's foreachBatch sink ships its per-(type, bucket)
    counts (a few dozen integers — never fact rows); partials merge by
    bucket-wise ADDITION; p50/p90/p99 read off the merged histogram as
    the integer geometric midpoint 2^b + 2^(b-1) of the selected
    bucket, which pins the MULTIPLICATIVE error contract
    est/true ∈ [0.75, 1.5] — a RELATIVE guarantee at every scale,
    where q473's fixed grid promises absolute bucket-width error only
    inside its profiled range. Exact quantiles ride along with the
    realized rel_err_ppm; the all-rows oracle proves the stream merge
    lossless.

    Scale shape: streaming state is one counter per occupied
    power-of-2 bucket per type (≤ 64 forever, by construction — int64
    has 63 usable buckets) regardless of volume OR RANGE; each batch
    pays one map-side-combined count; the post-run merge is
    metadata-sized."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type", "event_id", "ts",
        F.expr("GREATEST(CAST(floor(value * 100.0) AS BIGINT), "
               "CAST(1 AS BIGINT))").alias("cents"),
    )

    def partial_of(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return (
            batch_df.select("event_type",
                            F.expr(_LB_SPARK).alias("b"))
            .groupBy("event_type", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    parts, _, _, nb = replay_partials(
        spark, base, (F.unix_micros("ts"), F.col("event_id")), partial_of,
        drop=("ts",))
    # bucket-wise ADDITION merge of the per-batch partials
    bc = parts.groupBy("event_type", "b").agg(
        F.sum("c").cast("long").alias("c"))
    npt = bc.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"))
    cum = bc.select(
        "event_type", "b",
        F.sum("c").over(
            Window.partitionBy("event_type")
            .orderBy(F.col("b").asc())).alias("cum"),
    )
    qs = spark.createDataFrame([(50,), (90,), (99,)], "q long")
    tgt = npt.crossJoin(F.broadcast(qs)).select(
        "event_type", "q", "n",
        F.expr("(q * n + 99) DIV 100").alias("tgt"))
    sel = (
        tgt.join(
            cum.withColumnRenamed("event_type", "et"),
            (F.col("et") == F.col("event_type"))
            & (F.col("cum") >= F.col("tgt")),
        )
        .groupBy("event_type", "q", "n")
        .agg(F.min("b").cast("long").alias("bucket_sel"))
        .withColumn(
            "est_cents",
            # BIGINT first arg so the shift is 64-bit: INT
            # shiftleft silently wraps once bucket_sel >= 31
            # (cents >= 2^31) while the BIGINT-shift DuckDB
            # oracle would not (ADVICE r14).
            F.expr("CAST(CASE WHEN bucket_sel = 0 THEN 1 "
                   "ELSE shiftleft(CAST(1 AS BIGINT), "
                   "CAST(bucket_sel AS INT)) + "
                   "shiftleft(CAST(1 AS BIGINT), "
                   "CAST(bucket_sel AS INT) - 1) END "
                   "AS BIGINT)"),
        )
    )
    # exact audit from the batch table (never from the stream)
    ranked = base.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type")
            .orderBy(F.col("cents").asc(), F.col("event_id").asc())),
    )
    g = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("gn"))
    exact = (
        ranked.join(F.broadcast(g), "event_type")
        .crossJoin(F.broadcast(qs.withColumnRenamed("q", "q2")))
        .filter(F.col("rk") == F.expr("(q2 * gn + 99) DIV 100"))
        .select(F.col("event_type").alias("et2"),
                F.col("q2"),
                F.col("cents").cast("long").alias("exact_cents"))
    )
    result = (
        sel.join(exact, (F.col("et2") == F.col("event_type"))
                 & (F.col("q2") == F.col("q")))
        .select(
            "event_type", F.col("q").cast("long").alias("q"), "n",
            "bucket_sel", "est_cents", "exact_cents",
            F.expr("CAST(abs(est_cents - exact_cents) * 1000000 "
                   "DIV GREATEST(exact_cents, 1) AS BIGINT)")
            .alias("rel_err_ppm"),
            F.lit(nb).cast("long").alias("n_batches"),
        )
    )
    return materialize_local(result)
