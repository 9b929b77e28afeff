"""Round-15 streaming operator: a conformal-coverage MONITOR over a
TRUE test stream (VERDICT r14 #5 scout) — q484's split-conformal
audit promoted from an offline report to the live check a serving
pipeline actually runs: calibrate ONCE on static data, then watch
realized coverage over the arriving test points and raise an alarm
when even the upper confidence bound falls below nominal. This closes
the conformal-audit -> stream loop the same way q486 closed q483's
(priority sampling) and q491 closed q473's (quantile sketch): the
batch estimator's merge algebra — here plain ADDITION of
(n_test, n_covered) count pairs — is exercised through ~20 real
micro-batches whose foreachBatch sink ships ONLY those per-lang count
pairs, and the all-rows oracle proves the merge lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cli_spark.operators.round15 import (
    _CP_RANK,
    _CP_RANK_DUCK,
    _CP_SPLIT_DUCK,
    _CP_SPLIT_SPARK,
    _MAXLONG,
)
from cli_spark.plans.registry import register
from cli_spark.session import materialize_local
from cli_spark.streaming.drain import N_BATCHES, replay_partials
from cli_spark.tables import load_table

# one-sided Hoeffding slack at delta = 0.05 for a coverage proportion
# over n_test exchangeable points: sqrt(ln(1/delta) / (2n)), in ppm.
# The ONLY float step — shared verbatim, floored to BIGINT.
_CM_SLACK = ("CAST(floor(1000000.0 * sqrt(ln(20.0) / "
             "(2.0 * CAST(n_test AS DOUBLE)))) AS BIGINT)")


@register(
    "q493_streaming_conformal_monitor",
    oracle=f"""
WITH base AS (
  SELECT lang, doc_id, n_chars AS y, {_CP_SPLIT_DUCK} AS split
  FROM documents
),
n0 AS (SELECT COUNT(*) AS cnt FROM base WHERE split = 2),
bsz AS (SELECT CAST(ceil(cnt / {N_BATCHES}.0) AS BIGINT) AS b FROM n0),
nb AS (SELECT (cnt + b - 1) // b AS nb FROM n0 CROSS JOIN bsz),
pred AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_train,
         CAST(SUM(y) // COUNT(*) AS BIGINT) AS pred_chars
  FROM base WHERE split = 0 GROUP BY lang
),
calib AS (
  SELECT b.lang, abs(b.y - p.pred_chars) AS resid, b.doc_id
  FROM base b JOIN pred p USING (lang) WHERE b.split = 1
),
cn AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_calib
       FROM calib GROUP BY lang),
qh AS (
  SELECT c.lang, n.n_calib,
         COALESCE(MAX(CASE WHEN c.rn = {_CP_RANK_DUCK.replace('n_calib', 'n.n_calib')}
                      THEN c.resid END),
                  {_MAXLONG}) AS qhat
  FROM (SELECT lang, resid,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY resid ASC, doc_id ASC) AS rn
        FROM calib) c
  JOIN cn n USING (lang)
  GROUP BY c.lang, n.n_calib
),
test AS (
  SELECT b.lang, CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN abs(b.y - p.pred_chars) <= q.qhat
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
  FROM base b JOIN pred p USING (lang) JOIN qh q ON q.lang = b.lang
  WHERE b.split = 2
  GROUP BY b.lang
),
cov AS (
  SELECT t.lang, p.n_train, q.n_calib, t.n_test, p.pred_chars,
         CAST(q.qhat AS BIGINT) AS qhat, t.n_covered,
         CAST(t.n_covered * 1000000 // GREATEST(t.n_test, 1) AS BIGINT)
           AS coverage_ppm,
         {_CM_SLACK} AS slack_ppm
  FROM test t JOIN pred p ON p.lang = t.lang JOIN qh q ON q.lang = t.lang
)
SELECT lang, n_train, n_calib, n_test, pred_chars, qhat, n_covered,
       coverage_ppm, CAST(900000 AS BIGINT) AS nominal_ppm, slack_ppm,
       CAST(CASE WHEN coverage_ppm + slack_ppm < 900000
            THEN 1 ELSE 0 END AS BIGINT) AS alarm,
       CAST(nb.nb AS BIGINT) AS n_batches
FROM cov CROSS JOIN nb
""",
    tags=("streaming", "true_stream", "conformal", "monitor",
          "mergeable"),
)
def q493_streaming_conformal_monitor(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CONFORMAL-COVERAGE MONITOR over ~20 TRUE micro-batches
    — q484's split-conformal audit run the way production runs it:
    the model (per-lang integer mean of n_chars on the TRAIN split)
    and the conformal quantile qhat (the ceil(0.9*(n+1))-th smallest
    calibration residual, MAX-BIGINT sentinel when the calibration
    split is smaller than the rank) are computed ONCE from the static
    splits; the TEST split then ARRIVES as a stream, replayed in
    doc_id order through ~20 real micro-batches. Each batch's
    foreachBatch sink joins the batch against the broadcast
    calibration table and writes ONLY its per-lang
    (n_test, n_covered) count pair — never document rows; the
    post-run merge is count-wise ADDITION (the q473/q491 algebra),
    and realized coverage_ppm is read off the merged counts beside
    the 90% nominal. The monitor's verdict is `alarm`: fires when
    even coverage_ppm + slack_ppm falls below nominal, where
    slack_ppm is the one-sided Hoeffding deviation
    sqrt(ln(1/0.05) / (2*n_test)) in ppm — a miscalibrated or
    drifted test stream trips it; sampling noise inside the
    confidence band does not. The all-rows DuckDB oracle recomputes
    everything from the batch table — a hash match proves the
    streamed count merge lossless AND the calibration/monitor chains
    engine-identical.

    Scale shape: streaming state is TWO integers per language per
    batch regardless of volume; the calibration table broadcast into
    the sink is one row per language (metadata-sized forever); each
    batch pays one map-side-combined count aggregate. At 100 TB/day
    the same sink runs per executor and any window/shard/day rollup
    of the monitor is one more addition — nobody re-scores old
    points. The single float step (the Hoeffding slack) is one shared
    IEEE chain floored to BIGINT; everything else is exact integers."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "lang", "doc_id", F.col("n_chars").alias("y"),
        F.expr(_CP_SPLIT_SPARK).alias("split"),
    )
    pred = base.filter(F.col("split") == 0).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_train"),
        F.expr("CAST(SUM(y) DIV COUNT(*) AS BIGINT)").alias("pred_chars"),
    )
    calib = (
        base.filter(F.col("split") == 1)
        .join(F.broadcast(pred), "lang")
        .select("lang", "doc_id",
                F.abs(F.col("y") - F.col("pred_chars")).alias("resid"))
    )
    cn = calib.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_calib"))
    qh = (
        calib.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(F.col("resid").asc(),
                                                   F.col("doc_id").asc())),
        )
        .join(F.broadcast(cn), "lang")
        .groupBy("lang", "n_calib")
        .agg(F.coalesce(
            F.max(F.when(F.col("rn") == F.expr(_CP_RANK), F.col("resid"))),
            F.lit(int(_MAXLONG))).alias("qhat"))
    )
    # the static calibration table shipped into every sink invocation:
    # one row per language, materialized so the stream never
    # recomputes the train/calibration chains per batch
    static = materialize_local(
        pred.join(qh.select("lang", "n_calib", "qhat"), "lang"))
    static_rows = static.collect()

    test_rows = base.filter(F.col("split") == 2).select(
        "lang", "doc_id", "y")

    # calibration lookup as MAP LITERALS, not a per-batch join:
    # foreachBatch plans every micro-batch fresh, so the previous
    # broadcast-join form paid one BroadcastExchange job PER BATCH
    # for a table of one row per language (round-15 optimization,
    # guide §3.1/§1 — q493 measured ~5 s slower than its drained
    # siblings, the per-batch broadcast being the only difference).
    # The isin filter preserves the inner join's drop of test
    # languages absent from the train split.
    langs = [r["lang"] for r in static_rows]
    pm = F.create_map(*[F.lit(x) for r in static_rows
                        for x in (r["lang"], r["pred_chars"])])
    qm = F.create_map(*[F.lit(x) for r in static_rows
                        for x in (r["lang"], r["qhat"])])

    def partial_of(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return (
            batch_df.filter(F.col("lang").isin(langs))
            .select(
                "lang",
                F.when(F.abs(F.col("y") - pm[F.col("lang")])
                       <= qm[F.col("lang")], 1).otherwise(0).alias("cov"),
            )
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_test"),
                F.sum("cov").cast("long").alias("n_covered"),
            )
        )

    parts, _, _, nb = replay_partials(
        spark, test_rows, (F.col("doc_id").asc(),), partial_of)
    # ADDITION MERGE: per-lang sums over the per-batch count pairs
    merged = (
        parts.groupBy("lang")
        .agg(F.sum("n_test").cast("long").alias("n_test"),
             F.sum("n_covered").cast("long").alias("n_covered"))
    )
    result = (
        merged.join(F.broadcast(static), "lang")
        .select(
            "lang", "n_train", "n_calib", "n_test", "pred_chars",
            F.col("qhat").cast("long").alias("qhat"), "n_covered",
            F.expr("CAST(n_covered * 1000000 DIV GREATEST(n_test, 1) "
                   "AS BIGINT)").alias("coverage_ppm"),
            F.lit(900000).cast("long").alias("nominal_ppm"),
        )
        .withColumn("slack_ppm", F.expr(_CM_SLACK))
        .withColumn(
            "alarm",
            F.expr("CAST(CASE WHEN coverage_ppm + slack_ppm < 900000 "
                   "THEN 1 ELSE 0 END AS BIGINT)"))
        .withColumn("n_batches", F.lit(nb).cast("long"))
    )
    return materialize_local(result)


# ---------------------------------------------------------------- q496

from cli_spark.operators.round16 import (  # noqa: E402
    _DD_BUCKET,
    _DD_CONTRACT,
    _DD_ISQRT,
    _DD_MID_DUCK,
    _DD_MID_SPARK,
)

_SD_QS = (50, 90, 99)


@register(
    "q496_streaming_ddsketch",
    oracle=f"""
WITH base AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
         GREATEST(CAST(floor(value * 100.0) AS BIGINT), 1) AS cents
  FROM events
),
n0 AS (SELECT COUNT(*) AS cnt FROM base),
bsz AS (SELECT CAST(ceil(cnt / {N_BATCHES}.0) AS BIGINT) AS b FROM n0),
nb AS (SELECT (cnt + b - 1) // b AS nb FROM n0 CROSS JOIN bsz),
qs AS (SELECT unnest(ARRAY{list(_SD_QS)}) AS q),
bc AS (
  SELECT event_type, {_DD_BUCKET} AS b, CAST(COUNT(*) AS BIGINT) AS c
  FROM base GROUP BY event_type, {_DD_BUCKET}
),
nt AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_buckets
  FROM bc GROUP BY event_type
),
cum AS (
  SELECT event_type, b,
         SUM(c) OVER (PARTITION BY event_type ORDER BY b ASC) AS cum
  FROM bc
),
tgt AS (
  SELECT nt.event_type, qs.q, nt.n, nt.n_buckets,
         (qs.q * nt.n + 99) // 100 AS tgt
  FROM nt CROSS JOIN qs
),
sel AS (
  SELECT t.event_type, t.q, t.n, t.n_buckets,
         CAST(MIN(c.b) AS BIGINT) AS bucket_sel
  FROM tgt t
  JOIN cum c ON c.event_type = t.event_type AND c.cum >= t.tgt
  GROUP BY t.event_type, t.q, t.n, t.n_buckets
),
mid AS (
  SELECT *, CASE WHEN bucket_sel = 0 THEN 1
                 ELSE {_DD_MID_DUCK} END AS m
  FROM sel
),
cand AS (
  SELECT *, CAST(floor(sqrt(CAST(m AS DOUBLE))) AS BIGINT) AS c FROM mid
),
est AS (
  SELECT event_type, q, n, n_buckets, bucket_sel,
         CAST({_DD_ISQRT} AS BIGINT) AS est_cents
  FROM cand
),
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
SELECT f.event_type, CAST(f.q AS BIGINT) AS q, f.n, f.n_buckets,
       f.bucket_sel, f.est_cents, e.exact_cents,
       CAST(abs(f.est_cents - e.exact_cents) * 1000000
            // GREATEST(e.exact_cents, 1) AS BIGINT) AS rel_err_ppm,
       CAST({_DD_CONTRACT} AS BIGINT) AS contract_ok,
       CAST(nb.nb AS BIGINT) AS n_batches
FROM est f
JOIN exact e ON e.event_type = f.event_type AND e.q = f.q
CROSS JOIN nb
""",
    tags=("streaming", "true_stream", "sketch", "quantile", "ddsketch",
          "mergeable"),
)
def q496_streaming_ddsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DDSKETCH at gamma = sqrt(2) over ~20 TRUE
    micro-batches — q492's sub-binary relative-error sketch run the
    way production runs it, completing the batch->stream pair the same
    way q491 streamed q473's skeleton (and closing the one queued
    round-16 prep item): each micro-batch's foreachBatch sink ships
    only its per-(type, bucket) counts where
    bucket = bit_length(cents^2) - 1 = floor(2*log2(cents)) — integer
    bit-length on the SQUARE, no float log, no profiled range, so the
    stream needs zero prior knowledge of the value distribution;
    partials merge by bucket-wise ADDITION; p50/p90/p99 read off the
    merged histogram as the exact integer sqrt of the squared-domain
    midpoint 3*2^(j-1) (double-sqrt candidate + one CASE correction,
    exact for m < 2^62). The gamma = sqrt(2) contract est/true in
    (0.866, 1.225] — tighter than q491's power-of-2 [0.75, 1.5] at 2x
    the (still <= 126) bucket count — is emitted per row as the exact
    integer inequalities 2*est^2 <= 3*true^2 AND 4*(est+1)^2 >
    3*true^2 (contract_ok: always true by construction, so any
    cross-engine isqrt divergence flips it). Exact quantiles and
    realized rel_err_ppm ride along; the all-rows oracle proves the
    stream merge lossless.

    Scale shape: streaming state is one counter per occupied bucket
    per type — at gamma = 2^(1/k) that is k*63 counters max FOREVER,
    regardless of volume or range; each batch pays one
    map-side-combined count and ships a few dozen integers; the
    post-run merge and quantile selection run at bucket grain."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type", "event_id", "ts",
        F.expr("GREATEST(CAST(floor(value * 100.0) AS BIGINT), "
               "CAST(1 AS BIGINT))").alias("cents"),
    )

    def partial_of(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return (
            batch_df.select("event_type",
                            F.expr(_DD_BUCKET).alias("b"))
            .groupBy("event_type", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    parts, _, _, nb = replay_partials(
        spark, base, (F.unix_micros("ts"), F.col("event_id")), partial_of,
        drop=("ts",))
    # bucket-wise ADDITION merge of the per-batch partials
    bc = parts.groupBy("event_type", "b").agg(
        F.sum("c").cast("long").alias("c"))
    nt = bc.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )
    cum = bc.select(
        "event_type", "b",
        F.sum("c").over(
            Window.partitionBy("event_type")
            .orderBy(F.col("b").asc())).alias("cum"),
    )
    qs = spark.createDataFrame([(q,) for q in _SD_QS], "q long")
    tgt = nt.crossJoin(F.broadcast(qs)).select(
        "event_type", "q", "n", "n_buckets",
        F.expr("(q * n + 99) DIV 100").alias("tgt"))
    sel = (
        tgt.join(
            cum.withColumnRenamed("event_type", "et"),
            (F.col("et") == F.col("event_type"))
            & (F.col("cum") >= F.col("tgt")),
        )
        .groupBy("event_type", "q", "n", "n_buckets")
        .agg(F.min("b").cast("long").alias("bucket_sel"))
    )
    est = (
        sel.withColumn(
            "m",
            F.expr(f"CASE WHEN bucket_sel = 0 THEN 1 "
                   f"ELSE {_DD_MID_SPARK} END"))
        .withColumn("c", F.expr(
            "CAST(floor(sqrt(CAST(m AS DOUBLE))) AS BIGINT)"))
        .withColumn("est_cents",
                    F.expr(f"CAST({_DD_ISQRT} AS BIGINT)"))
        .drop("m", "c")
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
        est.join(exact, (F.col("et2") == F.col("event_type"))
                 & (F.col("q2") == F.col("q")))
        .select(
            "event_type", F.col("q").cast("long").alias("q"), "n",
            "n_buckets", "bucket_sel", "est_cents", "exact_cents",
            F.expr("CAST(abs(est_cents - exact_cents) * 1000000 "
                   "DIV GREATEST(exact_cents, 1) AS BIGINT)")
            .alias("rel_err_ppm"),
            F.expr(f"CAST({_DD_CONTRACT} AS BIGINT)")
            .alias("contract_ok"),
            F.lit(nb).cast("long").alias("n_batches"),
        )
    )
    return materialize_local(result)


# ---------------------------------------------------------------- q500

from cli_spark.operators.round16 import (  # noqa: E402
    _PSI_ALARM_PPM,
    _PSI_SPLIT_DUCK,
    _PSI_SPLIT_SPARK,
    _PSI_TERM,
)


@register(
    "q500_streaming_psi_monitor",
    oracle=f"""
WITH base AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
         length(bin(GREATEST(CAST(floor(value * 100.0) AS BIGINT), 1)))
           - 1 AS b,
         {_PSI_SPLIT_DUCK} AS split
  FROM events
),
n0 AS (SELECT COUNT(*) AS cnt FROM base WHERE split = 1),
bsz AS (SELECT CAST(ceil(cnt / {N_BATCHES}.0) AS BIGINT) AS b FROM n0),
nb AS (SELECT (cnt + b - 1) // b AS nb FROM n0 CROSS JOIN bsz),
cnt AS (
  SELECT event_type, b,
         CAST(COALESCE(SUM(CASE WHEN split = 0 THEN 1 END), 0)
              AS BIGINT) AS ref_n,
         CAST(COALESCE(SUM(CASE WHEN split = 1 THEN 1 END), 0)
              AS BIGINT) AS cur_n
  FROM base GROUP BY event_type, b
),
nt AS (
  SELECT event_type, CAST(SUM(ref_n) AS BIGINT) AS ref_total,
         CAST(SUM(cur_n) AS BIGINT) AS cur_total,
         CAST(COUNT(*) AS BIGINT) AS n_buckets
  FROM cnt GROUP BY event_type
),
ppm AS (
  SELECT c.event_type, c.b, c.ref_n, c.cur_n, t.n_buckets,
         (c.ref_n + 1) * 1000000 // (t.ref_total + t.n_buckets)
           AS ref_ppm,
         (c.cur_n + 1) * 1000000 // (t.cur_total + t.n_buckets)
           AS cur_ppm
  FROM cnt c JOIN nt t USING (event_type)
),
term AS (
  SELECT *, {_PSI_TERM} AS term_ppm FROM ppm
),
summ AS (
  SELECT event_type, CAST(SUM(term_ppm) AS BIGINT) AS psi_ppm
  FROM term GROUP BY event_type
)
SELECT t.event_type, t.b AS bucket, t.ref_n, t.cur_n,
       CAST(t.ref_ppm AS BIGINT) AS ref_ppm,
       CAST(t.cur_ppm AS BIGINT) AS cur_ppm,
       t.term_ppm, t.n_buckets, s.psi_ppm,
       CAST(CASE WHEN s.psi_ppm > {_PSI_ALARM_PPM} THEN 1 ELSE 0 END
            AS BIGINT) AS alarm,
       CAST(nb.nb AS BIGINT) AS n_batches
FROM term t JOIN summ s USING (event_type)
CROSS JOIN nb
""",
    tags=("streaming", "true_stream", "drift", "psi", "mergeable"),
)
def q500_streaming_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PSI DRIFT MONITOR over ~20 TRUE micro-batches — q499
    run the way model monitoring actually runs: the REFERENCE
    histogram is computed ONCE batch-side (the md5 split-0 half), the
    CURRENT window (split 1) arrives through real replay micro-batches
    whose foreachBatch sink ships only per-(type, log2-bucket) counts
    — never fact rows; partials merge by bucket-wise ADDITION (the
    q473/q491/q493/q496 algebra — the fifth batch→stream pair closure,
    and the natural one: a PSI monitor's current-window histogram IS
    an incrementally-merged stream aggregate). After the run the
    add-one ppm smoothing, per-bucket floored IEEE terms, per-type
    psi_ppm and the classic PSI > 0.2 alarm are computed exactly as in
    q499, over the union bucket spine of both sides; the all-rows
    oracle (which never sees the batch structure except to reproduce
    n_batches) proves the stream merge lossless.

    Scale shape: streaming state is one counter per occupied log2
    bucket per type (≤ 63 forever, no range profiling); each batch
    pays one map-side-combined count and ships a few dozen integers;
    smoothing/terms/alarm run at bucket grain post-merge. At
    100 TB/day the monitor's nightly cost is the current window's
    scan; the reference histogram is a 63-integer-per-type artifact
    reused until re-baselining."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type", "event_id", "ts",
        F.expr("length(bin(GREATEST(CAST(floor(value * 100.0) AS "
               "BIGINT), CAST(1 AS BIGINT)))) - 1").alias("b"),
        F.expr(_PSI_SPLIT_SPARK).alias("split"),
    )
    cur_side = base.filter(F.col("split") == 1)

    def partial_of(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return (
            batch_df.groupBy("event_type", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    parts, _, _, nb = replay_partials(
        spark, cur_side, (F.unix_micros("ts"), F.col("event_id")),
        partial_of, drop=("ts", "split"))
    # bucket-wise ADDITION merge of the streamed current window
    cur = parts.groupBy("event_type", "b").agg(
        F.sum("c").cast("long").alias("cur_n"))
    # reference histogram: computed batch-side, once
    ref = (
        base.filter(F.col("split") == 0)
        .groupBy("event_type", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("ref_n"))
    )
    # union bucket spine of both sides (q499's observed spine)
    cnt = (
        ref.join(cur, ["event_type", "b"], "full_outer")
        .select(
            "event_type", "b",
            F.coalesce("ref_n", F.lit(0)).cast("long").alias("ref_n"),
            F.coalesce("cur_n", F.lit(0)).cast("long").alias("cur_n"),
        )
    )
    nt = cnt.groupBy(F.col("event_type").alias("et")).agg(
        F.sum("ref_n").cast("long").alias("ref_total"),
        F.sum("cur_n").cast("long").alias("cur_total"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )
    ppm = (
        cnt.join(F.broadcast(nt), F.col("et") == F.col("event_type"))
        .select(
            "event_type", F.col("b").alias("bucket"), "ref_n",
            "cur_n", "n_buckets",
            F.expr("(ref_n + 1) * 1000000 DIV "
                   "(ref_total + n_buckets)").alias("ref_ppm"),
            F.expr("(cur_n + 1) * 1000000 DIV "
                   "(cur_total + n_buckets)").alias("cur_ppm"),
        )
    )
    term = ppm.withColumn("term_ppm", F.expr(_PSI_TERM))
    summ = term.groupBy(F.col("event_type").alias("st")).agg(
        F.sum("term_ppm").cast("long").alias("psi_ppm"))
    result = (
        term.join(F.broadcast(summ),
                  F.col("st") == F.col("event_type"))
        .select(
            "event_type", "bucket", "ref_n", "cur_n",
            F.col("ref_ppm").cast("long").alias("ref_ppm"),
            F.col("cur_ppm").cast("long").alias("cur_ppm"),
            "term_ppm", "n_buckets", "psi_ppm",
            F.expr(f"CAST(CASE WHEN psi_ppm > {_PSI_ALARM_PPM} "
                   "THEN 1 ELSE 0 END AS BIGINT)").alias("alarm"),
            F.lit(nb).cast("long").alias("n_batches"),
        )
    )
    return materialize_local(result)
