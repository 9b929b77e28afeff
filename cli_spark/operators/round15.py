"""Round-14 build: data-selection and statistical-audit operators that
close the gaps the round-13 VERDICT queue named — greedy weighted
set-cover selection (the budgeted data-selection op the coreset family
lacked), the priority-sampling merge-equivalence proof (q472's
distributed-merge claim as a graded property), a split-conformal
calibration audit, and an empirical-Bernstein vs Hoeffding bound audit
over the same deterministic sampling lane.

Same cross-engine determinism discipline as round11.py–round14.py:
every float step is ONE IEEE chain shared verbatim between the Spark
expression and the DuckDB oracle, floored to integer micro units
BEFORE any cross-row comparison or aggregation; deterministic
randomness is md5-of-row-key (the q105 idiom); counts, ranks, costs,
gains, and residuals are exact integers end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cli_spark.operators.dedup import _SQL_SHINGLES
from cli_spark.operators.round11 import _H60_DUCK, _H60_SPARK
from cli_spark.operators.round14 import _HT_TERM, _PRI
from cli_spark.plans.registry import register
from cli_spark.session import materialize_local
from cli_spark.tables import load_table

_SC_K = 8  # greedy set-cover picks


def _setcover_sql() -> str:
    """Unrolled greedy weighted set-cover SQL (DuckDB side): p{t} is
    the step-t pick (argmax of new-shingles-per-char ratio), cov{t}
    the covered-shingle set after it, ch{t} the chosen-doc set.
    Generated programmatically — 8 mechanical steps, all integer.

    Every chained CTE is AS MATERIALIZED: DuckDB inlines plain CTEs,
    and cov{t-1} is referenced twice per step (by g{t} and cov{t}), so
    without materialization the shingle scan re-expands 2^8 times and
    the query never finishes.

    Coverage elements are the 60-bit md5 SHINGLE HASHES (the q462
    sketch-family idiom), not the strings — the Spark side rides the
    session-wide shingle_hash_pool cache, so the definition is hashes
    on both sides (one shared md5 chain; a collision would fold the
    same pair of shingles in both engines)."""
    parts = [f"""sh AS MATERIALIZED ({_SQL_SHINGLES}),
ex AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         {_H60_DUCK.format(key='u.t')} AS s
  FROM sh, unnest(sh.shingles) AS u(t)
),
cost AS MATERIALIZED (
  SELECT doc_id, GREATEST(n_chars, 1) AS cost FROM documents
),
g0 AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain FROM ex GROUP BY doc_id
),
p0 AS MATERIALIZED (
  SELECT g.doc_id, g.gain, CAST(c.cost AS BIGINT) AS cost,
         CAST(g.gain * 1000000 // c.cost AS BIGINT) AS ratio
  FROM g0 g JOIN cost c USING (doc_id)
  ORDER BY ratio DESC, g.doc_id ASC LIMIT 1
),
ch0 AS MATERIALIZED (SELECT doc_id FROM p0),
cov0 AS MATERIALIZED (
  SELECT DISTINCT e.s FROM ex e JOIN p0 p ON e.doc_id = p.doc_id
)"""]
    for t in range(1, _SC_K):
        parts.append(f"""g{t} AS (
  SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
  FROM ex e
  WHERE e.s NOT IN (SELECT s FROM cov{t - 1})
    AND e.doc_id NOT IN (SELECT doc_id FROM ch{t - 1})
  GROUP BY e.doc_id
),
p{t} AS MATERIALIZED (
  SELECT g.doc_id, g.gain, CAST(c.cost AS BIGINT) AS cost,
         CAST(g.gain * 1000000 // c.cost AS BIGINT) AS ratio
  FROM g{t} g JOIN cost c USING (doc_id)
  ORDER BY ratio DESC, g.doc_id ASC LIMIT 1
),
ch{t} AS MATERIALIZED (
  SELECT doc_id FROM ch{t - 1} UNION SELECT doc_id FROM p{t}
),
cov{t} AS MATERIALIZED (
  SELECT s FROM cov{t - 1}
  UNION SELECT e.s FROM ex e JOIN p{t} p ON e.doc_id = p.doc_id
)""")
    steps = ",\n".join(parts)
    sel = "\nUNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS step, doc_id, gain, cost, ratio "
        f"FROM p{t}" for t in range(_SC_K))
    return f"""WITH {steps},
allp AS ({sel})
SELECT step, doc_id, gain AS gain_shingles, cost AS cost_chars,
       ratio AS ratio_ppm,
       CAST(SUM(gain) OVER (ORDER BY step ASC) AS BIGINT) AS cum_covered
FROM allp
"""


@register(
    "q482_greedy_set_cover",
    oracle=_setcover_sql(),
    tags=("selection", "set-cover", "dedup", "curation"),
)
def q482_greedy_set_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY WEIGHTED SET COVER for corpus selection — the budgeted
    data-selection operator the coreset family (q478) lacked: pick 8
    documents maximizing NEW word-3-gram shingles per character of
    budget (the cost-benefit greedy of budgeted maximum coverage,
    Khuller–Moss–Naor 1999 — the (1-1/e)-approximation workhorse of
    "choose what to annotate / keep / replay" pipelines). Each step
    reports the pick, its marginal gain (shingles not covered by any
    earlier pick), its cost, the integer benefit/cost ratio in ppm,
    and the cumulative covered-universe size — the selection curve a
    curation team reads to decide where returns diminish.

    Determinism: gains, costs, and ratios are exact integers
    (ratio = gain * 10^6 DIV chars); ties break on the smaller doc_id
    in both engines. The oracle replays the identical 8-step argmax
    chain unrolled in SQL (the q478 pattern).

    Scale shape: the exploded (doc, shingle-hash) relation comes from
    the session-wide shingle_hash_pool cache (the dominant cost of the
    whole sketch/dedup family is paid ONCE per session and gated by
    the cold-chain bench reading); each of the 8 steps is one
    broadcast ANTI-JOIN of that relation against the covered-hash set
    (bounded by 8 x max-shingles-per-doc — broadcastable metadata
    regardless of corpus size), one map-side-combinable count per doc,
    and a 1-row TakeOrdered argmax (the bounded-scalar pattern). At
    100 TB the same loop holds the covered set in a broadcast variable
    and pays k linear passes — the distributed form of lazy-greedy; no
    shuffle of the corpus ever happens beyond the pool's own
    distinct."""
    from cli_spark.operators.round13 import shingle_hash_pool

    d = load_table(spark, sf_dir, "documents")
    cost = d.select(
        "doc_id", F.greatest("n_chars", F.lit(1)).cast("long").alias("cost"))
    ex = (
        shingle_hash_pool(spark, sf_dir)
        .select("doc_id", F.col("h").alias("s"))
        .distinct()
        .persist()
    )
    try:
        chosen: list[int] = []
        rows: list[tuple] = []
        cum = 0
        for t in range(_SC_K):
            pool = ex.filter(~F.col("doc_id").isin(chosen)) if chosen else ex
            if chosen:
                cov = (ex.filter(F.col("doc_id").isin(chosen))
                       .select("s").distinct())
                pool = pool.join(F.broadcast(cov), "s", "left_anti")
            gains = pool.groupBy("doc_id").agg(
                F.count(F.lit(1)).cast("long").alias("gain"))
            pick = (
                gains.join(cost, "doc_id")
                .select(
                    "doc_id", "gain", "cost",
                    F.expr("CAST(gain * 1000000 DIV cost AS BIGINT)")
                    .alias("ratio"),
                )
                .orderBy(F.col("ratio").desc(), F.col("doc_id").asc())
                .limit(1)
                .collect()
            )
            if not pick:
                # coverage universe exhausted (every remaining doc has
                # zero uncovered shingles → empty anti-join pool): the
                # oracle's unrolled chain likewise emits no row for
                # this and later steps, so the step count shortens in
                # lock-step on both sides (ADVICE r14).
                break
            pick = pick[0]
            cum += int(pick["gain"])
            rows.append((t, int(pick["doc_id"]), int(pick["gain"]),
                         int(pick["cost"]), int(pick["ratio"]), cum))
            chosen.append(int(pick["doc_id"]))
        return spark.createDataFrame(
            rows,
            "step long, doc_id long, gain_shingles long, cost_chars long, "
            "ratio_ppm long, cum_covered long")
    finally:
        ex.unpersist()


_MEQ_SHARDS = 4
_MEQ_SHARD_DUCK = _H60_DUCK.format(
    key="'shard:' || CAST(doc_id AS VARCHAR)") + f" % {_MEQ_SHARDS}"
_MEQ_SHARD_SPARK = _H60_SPARK.format(
    key="concat('shard:', CAST(doc_id AS STRING))") + f" % {_MEQ_SHARDS}"


@register(
    "q483_priority_merge_equivalence",
    oracle=f"""
WITH base AS (
  SELECT lang, doc_id, GREATEST(n_chars, 1) AS w,
         {_H60_DUCK.format(key='doc_id')} AS h,
         {_MEQ_SHARD_DUCK} AS shard
  FROM documents
),
pri AS (SELECT lang, doc_id, w, shard, {_PRI} AS p FROM base),
-- corpus-wise reservoir (q472's chain)
cr AS (
  SELECT lang, doc_id, w, p,
         row_number() OVER (PARTITION BY lang
                            ORDER BY p DESC, doc_id ASC) AS rk
  FROM pri
),
ct AS (SELECT lang, p AS tau FROM cr WHERE rk = 11),
ce AS (
  SELECT r.lang, CAST(SUM({_HT_TERM}) AS BIGINT) AS est_micro_corpus
  FROM (SELECT cr.lang, w, COALESCE(t.tau, 0.0) AS tau
        FROM cr LEFT JOIN ct t ON t.lang = cr.lang
        WHERE rk <= 10) r
  GROUP BY r.lang
),
-- shard-wise reservoirs: top-11 per (lang, shard), then ONE
-- order-statistic merge (top-11 of the union)
sr AS (
  SELECT lang, doc_id, w, p,
         row_number() OVER (PARTITION BY lang, shard
                            ORDER BY p DESC, doc_id ASC) AS rk
  FROM pri
),
kept AS (SELECT lang, doc_id, w, p FROM sr WHERE rk <= 11),
mr AS (
  SELECT lang, doc_id, w, p,
         row_number() OVER (PARTITION BY lang
                            ORDER BY p DESC, doc_id ASC) AS rk
  FROM kept
),
mt AS (SELECT lang, p AS tau FROM mr WHERE rk = 11),
me AS (
  SELECT r.lang, CAST(SUM({_HT_TERM}) AS BIGINT) AS est_micro_sharded
  FROM (SELECT mr.lang, w, COALESCE(t.tau, 0.0) AS tau
        FROM mr LEFT JOIN mt t ON t.lang = mr.lang
        WHERE rk <= 10) r
  GROUP BY r.lang
),
sizes AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS shipped_rows
  FROM kept GROUP BY lang
),
tot AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM base GROUP BY lang
)
SELECT t.lang, t.n_docs, s.shipped_rows,
       CAST({_MEQ_SHARDS} AS BIGINT) AS n_shards,
       c.est_micro_corpus, m.est_micro_sharded,
       CAST(CASE WHEN c.est_micro_corpus = m.est_micro_sharded
            THEN 1 ELSE 0 END AS BIGINT) AS merge_exact
FROM tot t
JOIN ce c ON c.lang = t.lang
JOIN me m ON m.lang = t.lang
JOIN sizes s ON s.lang = t.lang
""",
    tags=("sampling", "estimator", "mergeable", "audit"),
)
def q483_priority_merge_equivalence(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIORITY-SAMPLING MERGE-EQUIVALENCE PROOF — q472's
    distributed-merge claim turned into a graded property (the same
    move that made the q473/q476/q479/q481 stream sketches credible):
    the corpus splits into 4 deterministic md5 shards, each shard
    keeps only its k+1 = 11 highest-priority rows per language (the
    bounded per-executor reservoir), the shard reservoirs merge by ONE
    more top-11 order-statistic selection, and the Horvitz-Thompson
    estimate computed from the merged reservoir is compared IN-RESULT
    against the estimate computed corpus-wise. They are equal EXACTLY
    — any corpus-level top-11 row is inside its own shard's top-11
    (Duffield-Lund-Thorup, JACM 2007: priority samples are mergeable)
    — and the merge_exact column makes the theorem a tested integer
    equality per language, alongside the rows actually shipped
    (sum of min(11, shard size) vs n_docs: the communication win).

    Scale shape: this IS the 100 TB execution plan for weighted
    sampling — executors hold k+1-row heaps (WindowGroupLimit per
    shard), ship 11 rows each, and the coordinator's merge is another
    k+1 heap; the estimate needs no second pass. Every HT term is
    floored to integer micros before summation (q472's discipline);
    the priority chain is the shared verbatim IEEE expression."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "lang", "doc_id",
        F.greatest("n_chars", F.lit(1)).alias("w"),
        F.expr(_H60_SPARK.format(key="doc_id")).alias("h"),
        F.expr(_MEQ_SHARD_SPARK).alias("shard"),
    )
    pri = base.withColumn("p", F.expr(_PRI))

    def ht_estimate(ranked: DataFrame, out: str) -> DataFrame:
        taus = ranked.filter(F.col("rk") == 11).select(
            F.col("lang").alias("tl"), F.col("p").alias("tau_raw"))
        return (
            ranked.filter(F.col("rk") <= 10)
            .join(F.broadcast(taus), F.col("lang") == F.col("tl"), "left")
            .withColumn("tau", F.coalesce("tau_raw", F.lit(0.0)))
            .groupBy("lang")
            .agg(F.sum(F.expr(_HT_TERM)).cast("long").alias(out))
        )

    cr = pri.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(F.col("p").desc(),
                                               F.col("doc_id").asc())),
    )
    ce = ht_estimate(cr, "est_micro_corpus")

    kept = (
        pri.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("lang", "shard")
                .orderBy(F.col("p").desc(), F.col("doc_id").asc())),
        )
        .filter(F.col("rk") <= 11)
        .drop("rk")
    )
    mr = kept.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(F.col("p").desc(),
                                               F.col("doc_id").asc())),
    )
    me = ht_estimate(mr, "est_micro_sharded")
    sizes = kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("shipped_rows"))
    tot = base.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        tot.join(F.broadcast(ce), "lang")
        .join(F.broadcast(me), "lang")
        .join(F.broadcast(sizes), "lang")
        .select(
            "lang", "n_docs", "shipped_rows",
            F.lit(_MEQ_SHARDS).cast("long").alias("n_shards"),
            "est_micro_corpus", "est_micro_sharded",
            F.when(F.col("est_micro_corpus") == F.col("est_micro_sharded"),
                   F.lit(1)).otherwise(F.lit(0)).cast("long")
            .alias("merge_exact"),
        )
    )


# Split-conformal machinery: deterministic md5 three-way split, the
# finite-sample calibration rank r = ceil(0.9 * (n_calib + 1)) as an
# integer chain, and a MAX-BIGINT sentinel for the r > n_calib
# degenerate stratum (coverage is then trivially 100% — the correct
# conformal behavior when calibration data is too small).
_CP_SPLIT_DUCK = _H60_DUCK.format(
    key="'cp:' || CAST(doc_id AS VARCHAR)") + " % 3"
_CP_SPLIT_SPARK = _H60_SPARK.format(
    key="concat('cp:', CAST(doc_id AS STRING))") + " % 3"
_CP_RANK = "((n_calib + 1) * 9 + 9) DIV 10"
_CP_RANK_DUCK = "((n_calib + 1) * 9 + 9) // 10"
_MAXLONG = "9223372036854775807"


@register(
    "q484_conformal_calibration",
    oracle=f"""
WITH base AS (
  SELECT lang, doc_id, n_chars AS y, {_CP_SPLIT_DUCK} AS split
  FROM documents
),
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
)
SELECT p.lang, p.n_train, q.n_calib, t.n_test, p.pred_chars,
       CAST(q.qhat AS BIGINT) AS qhat,
       t.n_covered,
       CAST(t.n_covered * 1000000 // GREATEST(t.n_test, 1) AS BIGINT)
         AS coverage_ppm,
       CAST(900000 AS BIGINT) AS nominal_ppm
FROM pred p JOIN qh q ON q.lang = p.lang JOIN test t ON t.lang = p.lang
""",
    tags=("conformal", "calibration", "statistics", "audit"),
)
def q484_conformal_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL CALIBRATION AUDIT (Vovk et al.; Lei et al. JASA
    2018 split-conformal form) — realized coverage vs the 90% nominal,
    per language: documents split deterministically 3 ways by md5
    (train / calibration / test); the "model" is the integer per-lang
    mean of n_chars on TRAIN; nonconformity = |y - pred| on
    CALIBRATION; the conformal quantile qhat is the r-th smallest
    calibration residual with the finite-sample rank
    r = ceil(0.9 * (n_calib + 1)) — the +1 is what buys the
    distribution-free guarantee P(|y - pred| <= qhat) >= 0.9 for an
    exchangeable test point. The result reports split sizes, the
    prediction, qhat, and realized test coverage in ppm beside the
    nominal — the audit that tells a pipeline whether its prediction
    intervals can be trusted BEFORE it ships them. A stratum whose
    calibration split is smaller than r degenerates to qhat = +inf
    (MAX-BIGINT sentinel — trivially covering, the correct conformal
    fallback), identically in both engines.

    Scale shape: one map-side-combined aggregate per split (train
    mean, calibration count, test coverage count) plus ONE per-group
    rank selection that Spark executes as a WindowGroupLimit-free
    single window over the calibration rows only (the smallest split);
    everything is exact integers — residuals, ranks, qhat, coverage
    counts; the only division is the final integer ppm. At 100 TB the
    calibration split is a fixed-rate sample and the window runs over
    per-group heaps; no corpus-sized shuffle exists."""
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
    ranked = calib.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(F.col("resid").asc(),
                                               F.col("doc_id").asc())),
    )
    qh = (
        ranked.join(F.broadcast(cn), "lang")
        .groupBy("lang", "n_calib")
        .agg(F.coalesce(
            F.max(F.when(F.col("rn") == F.expr(_CP_RANK), F.col("resid"))),
            F.lit(int(_MAXLONG))).alias("qhat"))
    )
    test = (
        base.filter(F.col("split") == 2)
        .join(F.broadcast(pred.select("lang", "pred_chars")), "lang")
        .join(F.broadcast(qh.select("lang", "qhat")), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.when(F.abs(F.col("y") - F.col("pred_chars"))
                         <= F.col("qhat"), 1).otherwise(0))
            .cast("long").alias("n_covered"),
        )
    )
    return (
        pred.join(F.broadcast(qh), "lang")
        .join(F.broadcast(test), "lang")
        .select(
            "lang", "n_train", "n_calib", "n_test", "pred_chars",
            F.col("qhat").cast("long").alias("qhat"),
            "n_covered",
            F.expr("CAST(n_covered * 1000000 DIV GREATEST(n_test, 1) "
                   "AS BIGINT)").alias("coverage_ppm"),
            F.lit(900000).cast("long").alias("nominal_ppm"),
        )
    )


_EB_K = 64  # sample size per stratum (bottom-k by the md5 lane)

# Shared float chains (verbatim both engines; delta = 0.05 so
# ln(2/delta) = ln(40.0)). V is the unbiased sample variance from the
# integer sufficient statistics; n < 2 pins V to 0 and the EB bound to
# the trivial range bound R (the q475 guard discipline).
_EB_V = (
    "(CASE WHEN n_s < 2 THEN 0.0 ELSE "
    "(CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / "
    "CAST(n_s AS DOUBLE)) / (CAST(n_s AS DOUBLE) - 1.0) END)"
)
_EB_HW = (
    "(CASE WHEN n_s < 2 THEN CAST(r AS DOUBLE) ELSE "
    f"sqrt(2.0 * {_EB_V} * ln(40.0) / CAST(n_s AS DOUBLE)) + "
    "7.0 * CAST(r AS DOUBLE) * ln(40.0) / "
    "(3.0 * (CAST(n_s AS DOUBLE) - 1.0)) END)"
)
_HOEFF_HW = "CAST(r AS DOUBLE) * sqrt(ln(40.0) / (2.0 * CAST(n_s AS DOUBLE)))"
_EB_ERR = (
    "abs(CAST(sy AS DOUBLE) / CAST(n_s AS DOUBLE) - "
    "CAST(ty AS DOUBLE) / CAST(n_t AS DOUBLE))"
)


@register(
    "q485_empirical_bernstein_audit",
    oracle=f"""
WITH base AS (
  SELECT lang, doc_id, n_chars AS y,
         {_H60_DUCK.format(key="'eb:' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
),
samp AS (
  SELECT lang, y FROM (
    SELECT lang, y,
           row_number() OVER (PARTITION BY lang
                              ORDER BY h ASC, doc_id ASC) AS rn
    FROM base)
  WHERE rn <= {_EB_K}
),
ss AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_s,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(y * y) AS BIGINT) AS sy2
  FROM samp GROUP BY lang
),
ts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_t,
         CAST(SUM(y) AS BIGINT) AS ty,
         CAST(MAX(y) AS BIGINT) AS r
  FROM base GROUP BY lang
),
j AS (SELECT s.lang, s.n_s, s.sy, s.sy2, t.n_t, t.ty, t.r
      FROM ss s JOIN ts t USING (lang)),
fin AS (
  SELECT lang, n_t AS n_total, n_s AS n_sample, r AS range_r,
         CAST(floor({_EB_ERR} * 1000000.0) AS BIGINT) AS err_micro,
         CAST(floor({_EB_HW} * 1000000.0) AS BIGINT) AS eb_halfwidth_micro,
         CAST(floor({_HOEFF_HW} * 1000000.0) AS BIGINT)
           AS hoeff_halfwidth_micro
  FROM j
)
SELECT lang, n_total, n_sample, range_r, err_micro,
       eb_halfwidth_micro, hoeff_halfwidth_micro,
       CAST(CASE WHEN err_micro <= eb_halfwidth_micro THEN 1 ELSE 0 END
            AS BIGINT) AS eb_covered,
       CAST(CASE WHEN err_micro <= hoeff_halfwidth_micro THEN 1 ELSE 0 END
            AS BIGINT) AS hoeff_covered,
       CAST(CASE WHEN eb_halfwidth_micro < hoeff_halfwidth_micro
            THEN 1 ELSE 0 END AS BIGINT) AS eb_tighter
FROM fin
""",
    tags=("sampling", "concentration", "bernstein", "audit"),
)
def q485_empirical_bernstein_audit(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL-BERNSTEIN vs HOEFFDING confidence-bound audit (Maurer
    & Pontil, COLT 2009, thm 4 vs the classic range bound) over the
    same deterministic md5 sampling lane as q472/q475: per language, a
    bottom-64-by-hash uniform sample of n_chars, both 95% half-widths
    computed from INTEGER sufficient statistics (n, Σy, Σy² — the
    Cochran-style shippable summary), and the realized |sample mean −
    true mean| beside them. Each row carries eb_covered /
    hoeff_covered (did the realized error stay inside the bound — the
    guarantee as a tested row property) and eb_tighter — which is
    honest about the small-n regime: EB's 7R·ln(2/δ)/(3(n-1)) additive
    term exceeds Hoeffding's R·sqrt(ln(2/δ)/2n) until n is large or
    σ ≪ R, so at n = 64 the variance-adaptive bound only wins on
    low-variance strata; the audit column records the crossover
    empirically instead of assuming EB always helps.

    Scale shape: ONE map-side-combined groupBy builds the per-stratum
    sufficient statistics (3 integers — mergeable by addition, the
    same algebra as q474's AMS sketch), one bottom-k WindowGroupLimit
    selects the sample, and all bound arithmetic runs on a
    one-row-per-stratum relation. Every float step (means, V, sqrt,
    ln) is ONE shared verbatim chain floored INDEPENDENTLY to integer
    micros; the coverage and tightness flags compare the floored
    integers, so engine-side float summation order cannot flip a
    verdict."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "lang", "doc_id", F.col("n_chars").alias("y"),
        F.expr(_H60_SPARK.format(
            key="concat('eb:', CAST(doc_id AS STRING))")).alias("h"),
    )
    samp = (
        base.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(F.col("h").asc(),
                                                   F.col("doc_id").asc())),
        )
        .filter(F.col("rn") <= _EB_K)
    )
    ss = samp.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sy2"),
    )
    ts = base.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_t"),
        F.sum("y").cast("long").alias("ty"),
        F.max("y").cast("long").alias("r"),
    )
    fin = ss.join(F.broadcast(ts), "lang").select(
        "lang",
        F.col("n_t").alias("n_total"),
        F.col("n_s").alias("n_sample"),
        F.col("r").alias("range_r"),
        F.expr(f"CAST(floor({_EB_ERR} * 1000000.0) AS BIGINT)")
        .alias("err_micro"),
        F.expr(f"CAST(floor({_EB_HW} * 1000000.0) AS BIGINT)")
        .alias("eb_halfwidth_micro"),
        F.expr(f"CAST(floor({_HOEFF_HW} * 1000000.0) AS BIGINT)")
        .alias("hoeff_halfwidth_micro"),
    )
    return fin.select(
        "lang", "n_total", "n_sample", "range_r", "err_micro",
        "eb_halfwidth_micro", "hoeff_halfwidth_micro",
        F.when(F.col("err_micro") <= F.col("eb_halfwidth_micro"),
               F.lit(1)).otherwise(F.lit(0)).cast("long")
        .alias("eb_covered"),
        F.when(F.col("err_micro") <= F.col("hoeff_halfwidth_micro"),
               F.lit(1)).otherwise(F.lit(0)).cast("long")
        .alias("hoeff_covered"),
        F.when(F.col("eb_halfwidth_micro") < F.col("hoeff_halfwidth_micro"),
               F.lit(1)).otherwise(F.lit(0)).cast("long")
        .alias("eb_tighter"),
    )


# ---------------------------------------------------------------- q487

# Declared per-document evaluation cost of each Gopher gate, in milli
# units — ranked by what the predicate must compute (array size /
# letter-sum / distinct / distinct+filter / term-frequency aggregate).
# Constants are part of the operator definition, shared verbatim.
_CASCADE_COSTS: tuple[tuple[str, int], ...] = (
    ("ok_length", 1),
    ("ok_word_len", 2),
    ("ok_diversity", 3),
    ("ok_stopwords", 4),
    ("ok_dominance", 6),
)
_COSTS_VALUES = ", ".join(f"('{r}', {c})" for r, c in _CASCADE_COSTS)


def _cascade_sql() -> str:
    from cli_spark.operators.corpus_stats import _GOPHER_ORACLE

    flag_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, '{r}' AS rule, CAST({r} AS INT) AS pass FROM gates"
        for r, _ in _CASCADE_COSTS)
    return f"""
WITH gates AS MATERIALIZED ({_GOPHER_ORACLE}),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM gates),
flags AS MATERIALIZED (
  {flag_union}
),
costs(rule, cost_milli) AS (VALUES {_COSTS_VALUES}),
rej AS (
  SELECT rule, CAST(SUM(1 - pass) AS BIGINT) AS n_reject
  FROM flags GROUP BY rule
),
ranked AS MATERIALIZED (
  SELECT r.rule, CAST(c.cost_milli AS BIGINT) AS cost_milli, r.n_reject,
         CAST(r.n_reject * 1000000 // c.cost_milli AS BIGINT) AS rpc,
         row_number() OVER (
           ORDER BY r.n_reject * 1000000 // c.cost_milli DESC,
                    r.rule ASC) AS rk
  FROM rej r JOIN costs c USING (rule)
),
fr AS (
  SELECT f.doc_id,
         COALESCE(MIN(CASE WHEN f.pass = 0 THEN k.rk END), 6) AS fr
  FROM flags f JOIN ranked k USING (rule)
  GROUP BY f.doc_id
),
hist AS MATERIALIZED (
  SELECT fr, CAST(COUNT(*) AS BIGINT) AS cnt FROM fr GROUP BY fr
),
tg AS (SELECT unnest([1, 2, 3, 4, 5]) AS t),
surv AS MATERIALIZED (
  SELECT tg.t,
         CAST(COALESCE(SUM(CASE WHEN h.fr > tg.t THEN h.cnt END), 0)
              AS BIGINT) AS n_survivors
  FROM tg CROSS JOIN hist h
  GROUP BY tg.t
),
terms AS (
  SELECT k.rk, k.rule, k.cost_milli, k.n_reject, k.rpc, s.n_survivors,
         CAST(k.cost_milli * 1000000 *
              COALESCE(p.n_survivors, n.n_docs) // n.n_docs AS BIGINT)
           AS eval_cost_micro
  FROM ranked k
  JOIN surv s ON s.t = k.rk
  LEFT JOIN surv p ON p.t = k.rk - 1
  CROSS JOIN nd n
)
SELECT CAST(rk AS BIGINT) AS cascade_pos, rule, cost_milli,
       n_reject AS n_reject_alone, rpc AS reject_per_cost_ppm,
       n_survivors, eval_cost_micro,
       CAST(SUM(eval_cost_micro) OVER (ORDER BY rk ASC) AS BIGINT)
         AS cum_cost_micro
FROM terms
"""


@register(
    "q487_filter_cascade_ordering",
    oracle=_cascade_sql(),
    tags=("quality", "cascade", "optimizer", "curation"),
)
def q487_filter_cascade_ordering(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-CASCADE COST ORDERING — the curation-pipeline optimizer
    step: given the five Gopher gates (q162's exact integer predicates,
    reused verbatim) and a declared per-document evaluation cost for
    each, order the cascade by reject-rate-per-cost (the classic
    expensive-predicate ordering rule — rank = selectivity/cost, cf.
    Hellerstein & Stonebraker's predicate placement; optimal for
    independent predicates, and the audit REPORTS the realized joint
    behavior rather than assuming independence). Each row is one
    cascade position with: the rule, its cost, how many documents it
    rejects ALONE, the ratio that ranked it, the documents still alive
    after this stage under the chosen order (computed from the TRUE
    joint pass/fail matrix, not a product of marginals), the expected
    per-original-document cost of evaluating this stage (only
    survivors of earlier stages reach it), and the cumulative cascade
    cost. A curation team reads cum_cost_micro's last row as the
    expected compute per ingested document — at 100 TB the difference
    between this order and the naive one is real money, measured here
    before anything runs.

    All arithmetic is exact integers (cross-multiplied gates, integer
    ratio ranks, floored per-stage expected costs). Scale shape: ONE
    projection pass computes all five flags per document (q162's
    zero-shuffle shape); everything after the per-rule reject counts
    and the first-failure histogram (6 buckets) is metadata-sized —
    the cascade table for a 100 TB corpus is 5 rows."""
    from cli_spark.operators.corpus_stats import q162_gopher_rules

    nd_df = load_table(spark, sf_dir, "documents")
    n_docs = nd_df.count()
    gates = q162_gopher_rules(spark, sf_dir)
    stack_args = ", ".join(
        f"'{r}', CAST({r} AS INT)" for r, _ in _CASCADE_COSTS)
    flags = gates.select(
        "doc_id",
        F.expr(f"stack({len(_CASCADE_COSTS)}, {stack_args}) "
               "AS (rule, pass)"),
    ).select("doc_id", "rule", "pass")
    flags = flags.persist()
    try:
        costs = spark.createDataFrame(
            list(_CASCADE_COSTS), "rule string, cost_milli long")
        rej = flags.groupBy("rule").agg(
            F.sum(F.lit(1) - F.col("pass")).cast("long").alias("n_reject"))
        ranked = (
            rej.join(F.broadcast(costs), "rule")
            .withColumn(
                "rpc",
                F.expr("CAST(n_reject * 1000000 DIV cost_milli AS BIGINT)"))
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.orderBy(F.col("rpc").desc(),
                                   F.col("rule").asc())),
            )
        )
        fr = (
            flags.join(F.broadcast(ranked.select("rule", "rk")), "rule")
            .groupBy("doc_id")
            .agg(F.coalesce(
                F.min(F.when(F.col("pass") == 0, F.col("rk"))),
                F.lit(6)).alias("fr"))
        )
        hist = fr.groupBy("fr").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"))
        tg = spark.range(1, 6).select(F.col("id").alias("t"))
        surv = (
            tg.crossJoin(F.broadcast(hist))
            .groupBy("t")
            .agg(F.coalesce(
                F.sum(F.when(F.col("fr") > F.col("t"), F.col("cnt"))),
                F.lit(0)).cast("long").alias("n_survivors"))
        )
        prev = surv.select(F.col("t").alias("pt"),
                           F.col("n_survivors").alias("prev_surv"))
        terms = (
            ranked.join(F.broadcast(surv), F.col("t") == F.col("rk"))
            .join(F.broadcast(prev), F.col("pt") == F.col("rk") - 1, "left")
            .withColumn(
                "eval_cost_micro",
                F.expr(f"CAST(cost_milli * 1000000 * "
                       f"COALESCE(prev_surv, {n_docs}L) DIV {n_docs}L "
                       "AS BIGINT)"),
            )
        )
        out = terms.select(
            F.col("rk").cast("long").alias("cascade_pos"),
            "rule",
            F.col("cost_milli").cast("long").alias("cost_milli"),
            F.col("n_reject").alias("n_reject_alone"),
            F.col("rpc").alias("reject_per_cost_ppm"),
            "n_survivors",
            "eval_cost_micro",
            F.sum("eval_cost_micro").over(
                Window.orderBy(F.col("rk").asc())
                .rowsBetween(Window.unboundedPreceding, 0))
            .cast("long").alias("cum_cost_micro"),
        )
        return materialize_local(out)
    finally:
        flags.unpersist()


# ---------------------------------------------------------------- q488

_IS_K = 64  # per-source deterministic sample size (bottom-k by md5)

# Per-(source, lang) integer importance weight in micro units:
# target = uniform over the source's langs (1/K each), proposal = the
# corpus lang mix within the source (n_l / N), so the density ratio is
# N / (K * n_l) — QUANTIZED ONCE PER STRATUM to integer micros so
# every cross-row aggregate downstream is an exact integer sum.
_W_MICRO = ("CAST(floor(1000000.0 * CAST(n_src AS DOUBLE) / "
            "(CAST(k_langs AS DOUBLE) * CAST(n_sl AS DOUBLE))) AS BIGINT)")
# SNIS point estimate: one final shared float division of two exact
# integer sums, floored to micro.
_SNIS = ("CAST(floor(1000000.0 * CAST(swy AS DOUBLE) / "
         "CAST(sw AS DOUBLE)) AS BIGINT)")
# Kong's effective sample size (Σw)² / Σw² as ppm of n — the
# reweighting-health diagnostic; integer sums, one shared division.
_ESS = ("CAST(floor(1000000.0 * CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / "
        "(CAST(n_samp AS DOUBLE) * CAST(sw2 AS DOUBLE))) AS BIGINT)")


@register(
    "q488_snis_reweighting_audit",
    oracle=f"""
WITH base AS (
  SELECT source, lang, doc_id, n_chars AS y,
         {_H60_DUCK.format(key="'is:' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
),
sl AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_sl,
         CAST(SUM(y) AS BIGINT) AS sy
  FROM base GROUP BY source, lang
),
src AS (
  SELECT source, CAST(SUM(n_sl) AS BIGINT) AS n_src,
         CAST(COUNT(*) AS BIGINT) AS k_langs
  FROM sl GROUP BY source
),
wts AS (
  SELECT sl.source, sl.lang, {_W_MICRO} AS w_micro
  FROM sl JOIN src USING (source)
),
samp AS (
  SELECT source, lang, y FROM (
    SELECT source, lang, y,
           row_number() OVER (PARTITION BY source
                              ORDER BY h ASC, doc_id ASC) AS rn
    FROM base)
  WHERE rn <= {_IS_K}
),
sums AS (
  SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_samp,
         CAST(SUM(w.w_micro) AS BIGINT) AS sw,
         CAST(SUM(w.w_micro * s.y) AS BIGINT) AS swy,
         CAST(SUM(w.w_micro * w.w_micro) AS BIGINT) AS sw2
  FROM samp s JOIN wts w ON w.source = s.source AND w.lang = s.lang
  GROUP BY s.source
),
tgt AS (
  SELECT sl.source,
         CAST(SUM(CAST(floor(1000000.0 * CAST(sl.sy AS DOUBLE) /
                             CAST(sl.n_sl AS DOUBLE)) AS BIGINT))
              // MAX(src.k_langs) AS BIGINT) AS exact_micro
  FROM sl JOIN src USING (source)
  GROUP BY sl.source
)
SELECT m.source, c.n_src AS n_corpus, m.n_samp,
       c.k_langs, t.exact_micro,
       {_SNIS} AS est_micro,
       CAST(floor((CAST(({_SNIS}) AS DOUBLE) -
                   CAST(t.exact_micro AS DOUBLE)) * 1000000.0 /
                  CAST(GREATEST(t.exact_micro, 1) AS DOUBLE))
            AS BIGINT) AS err_ppm,
       {_ESS} AS ess_ppm
FROM sums m
JOIN src c USING (source)
JOIN tgt t ON t.source = m.source
""",
    tags=("sampling", "importance", "reweighting", "audit"),
)
def q488_snis_reweighting_audit(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-NORMALIZED IMPORTANCE-SAMPLING reweighting audit — the
    data-MIXING counterpart of the sampling stack: per source, estimate
    the mean document length UNDER A UNIFORM-LANGUAGE TARGET MIX from
    a sample drawn under the source's OWN language mix, using SNIS
    (Σ w·y / Σ w with density-ratio weights w = N/(K·n_lang)), beside
    the exact stratified target mean and KONG'S EFFECTIVE SAMPLE SIZE
    (Σw)²/(n·Σw²) in ppm — THE diagnostic a mixing pipeline reads
    before trusting any reweighted metric: ess_ppm near 10^6 means the
    proposal already matches the target; a collapsed ESS means the
    reweighting is variance-dominated and the target mix needs real
    resampling, not weights. This is how "evaluate the corpus as if
    languages were balanced" is done without re-reading anything.

    Determinism discipline: the weights are per-(source, lang)
    CONSTANTS quantized ONCE to integer micros, so Σw, Σw·y, Σw² are
    exact integer sums no matter the row order; the SNIS and ESS
    ratios are one shared float division each, floored to integers;
    the exact target mean integer-averages per-lang floored micro
    means. The md5 bottom-k sample is the q105 idiom.

    Scale shape: one map-side-combined groupBy builds the
    (source, lang) sufficient statistics (the weight table — metadata,
    broadcastable); one WindowGroupLimit bottom-k picks the sample;
    the reweighted sums are a second map-side-combined groupBy over
    sample rows only. No corpus-sized shuffle exists; at 100 TB the
    weight table is still a few dozen rows."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "source", "lang", "doc_id", F.col("n_chars").alias("y"),
        F.expr(_H60_SPARK.format(
            key="concat('is:', CAST(doc_id AS STRING))")).alias("h"),
    )
    sl = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_sl"),
        F.sum("y").cast("long").alias("sy"),
    )
    src = sl.groupBy("source").agg(
        F.sum("n_sl").cast("long").alias("n_src"),
        F.count(F.lit(1)).cast("long").alias("k_langs"),
    )
    wts = sl.join(F.broadcast(src), "source").select(
        "source", "lang", F.expr(_W_MICRO).alias("w_micro"))
    samp = (
        base.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy(F.col("h").asc(),
                                                     F.col("doc_id").asc())),
        )
        .filter(F.col("rn") <= _IS_K)
        .select("source", "lang", "y")
    )
    sums = (
        samp.join(F.broadcast(wts), ["source", "lang"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_samp"),
            F.sum("w_micro").cast("long").alias("sw"),
            F.sum(F.col("w_micro") * F.col("y")).cast("long").alias("swy"),
            F.sum(F.col("w_micro") * F.col("w_micro")).cast("long")
            .alias("sw2"),
        )
    )
    tgt = (
        sl.join(F.broadcast(src), "source")
        .groupBy("source")
        .agg(F.expr(
            "CAST(SUM(CAST(floor(1000000.0 * CAST(sy AS DOUBLE) / "
            "CAST(n_sl AS DOUBLE)) AS BIGINT)) DIV MAX(k_langs) AS BIGINT)")
            .alias("exact_micro"))
    )
    return (
        sums.join(F.broadcast(src), "source")
        .join(F.broadcast(tgt), "source")
        .select(
            "source",
            F.col("n_src").alias("n_corpus"),
            "n_samp", "k_langs", "exact_micro",
            F.expr(_SNIS).alias("est_micro"),
            F.expr(f"CAST(floor((CAST(({_SNIS}) AS DOUBLE) - "
                   "CAST(exact_micro AS DOUBLE)) * 1000000.0 / "
                   "CAST(GREATEST(exact_micro, 1) AS DOUBLE)) AS BIGINT)")
            .alias("err_ppm"),
            F.expr(_ESS).alias("ess_ppm"),
        )
    )


# ---------------------------------------------------------------- q489


def _adaptive_cascade_sql() -> str:
    """Unrolled one-step-lookahead cascade SQL (DuckDB side): at each
    position the NEXT gate is chosen by conditional reject-rate-per-
    cost AMONG CURRENT SURVIVORS (not the marginal rates q487 ranks
    by), then survivors shrink and the remaining rules re-rank.
    sv{t} = survivor set after t picks, ch{t} = chosen rules, p{t} =
    the pick with its conditional counts. The static chain (q487's)
    is recomputed in the same query so each row carries the realized
    cost delta. All MATERIALIZED (the q482 lesson)."""
    from cli_spark.operators.corpus_stats import _GOPHER_ORACLE

    flag_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, '{r}' AS rule, CAST({r} AS INT) AS pass FROM gates"
        for r, _ in _CASCADE_COSTS)
    k = len(_CASCADE_COSTS)
    parts = [f"""gates AS MATERIALIZED ({_GOPHER_ORACLE}),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM gates),
flags AS MATERIALIZED (
  {flag_union}
),
costs(rule, cost_milli) AS (VALUES {_COSTS_VALUES}),
sv0 AS MATERIALIZED (SELECT DISTINCT doc_id FROM flags)"""]
    for t in range(1, k + 1):
        notin = (f"AND f.rule NOT IN (SELECT rule FROM ch{t - 1})"
                 if t > 1 else "")
        parts.append(f"""r{t} AS (
  SELECT f.rule, CAST(SUM(1 - f.pass) AS BIGINT) AS cond_reject
  FROM flags f JOIN sv{t - 1} s ON s.doc_id = f.doc_id
  WHERE TRUE {notin}
  GROUP BY f.rule
),
p{t} AS MATERIALIZED (
  SELECT r.rule, r.cond_reject, CAST(c.cost_milli AS BIGINT) AS cost_milli,
         CAST(r.cond_reject * 1000000 // c.cost_milli AS BIGINT) AS ratio
  FROM r{t} r JOIN costs c USING (rule)
  ORDER BY ratio DESC, r.rule ASC LIMIT 1
),
ch{t} AS MATERIALIZED (
  {"SELECT rule FROM ch" + str(t - 1) + " UNION " if t > 1 else ""}SELECT rule FROM p{t}
),
sv{t} AS MATERIALIZED (
  SELECT f.doc_id
  FROM flags f JOIN sv{t - 1} s ON s.doc_id = f.doc_id
  JOIN p{t} p ON p.rule = f.rule
  WHERE f.pass = 1
)""")
    steps = ",\n".join(parts)
    ada_sel = "\nUNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS pos, rule, cond_reject, cost_milli, "
        f"ratio, (SELECT CAST(COUNT(*) AS BIGINT) FROM sv{t}) AS n_surv, "
        f"(SELECT CAST(COUNT(*) AS BIGINT) FROM sv{t - 1}) AS n_prev "
        f"FROM p{t}" for t in range(1, k + 1))
    # the static chain = q487's ordering and survival, inlined
    return f"""WITH {steps},
ada AS ({ada_sel}),
adat AS (
  SELECT pos, rule, cond_reject, cost_milli, ratio, n_surv,
         CAST(cost_milli * 1000000 * n_prev // n.n_docs AS BIGINT)
           AS eval_cost_micro
  FROM ada CROSS JOIN nd n
),
srej AS (
  SELECT rule, CAST(SUM(1 - pass) AS BIGINT) AS n_reject
  FROM flags GROUP BY rule
),
sranked AS MATERIALIZED (
  SELECT r.rule, CAST(c.cost_milli AS BIGINT) AS cost_milli,
         row_number() OVER (
           ORDER BY r.n_reject * 1000000 // c.cost_milli DESC,
                    r.rule ASC) AS rk
  FROM srej r JOIN costs c USING (rule)
),
sfr AS (
  SELECT f.doc_id,
         COALESCE(MIN(CASE WHEN f.pass = 0 THEN k.rk END), 6) AS fr
  FROM flags f JOIN sranked k USING (rule)
  GROUP BY f.doc_id
),
shist AS MATERIALIZED (
  SELECT fr, CAST(COUNT(*) AS BIGINT) AS cnt FROM sfr GROUP BY fr
),
stg AS (SELECT unnest([1, 2, 3, 4, 5]) AS t),
ssurv AS MATERIALIZED (
  SELECT stg.t,
         CAST(COALESCE(SUM(CASE WHEN h.fr > stg.t THEN h.cnt END), 0)
              AS BIGINT) AS n_survivors
  FROM stg CROSS JOIN shist h
  GROUP BY stg.t
),
sterms AS (
  SELECT k.rk,
         CAST(k.cost_milli * 1000000 *
              COALESCE(p.n_survivors, n.n_docs) // n.n_docs AS BIGINT)
           AS sc
  FROM sranked k
  LEFT JOIN ssurv p ON p.t = k.rk - 1
  CROSS JOIN nd n
),
scum AS (
  SELECT rk, CAST(SUM(sc) OVER (ORDER BY rk ASC) AS BIGINT) AS static_cum
  FROM sterms
)
SELECT a.pos AS cascade_pos, a.rule, a.cond_reject, a.cost_milli,
       a.ratio AS cond_ratio_ppm, a.n_surv AS n_survivors,
       a.eval_cost_micro,
       CAST(SUM(a.eval_cost_micro) OVER (ORDER BY a.pos ASC) AS BIGINT)
         AS cum_cost_micro,
       s.static_cum AS static_cum_cost_micro,
       s.static_cum -
         CAST(SUM(a.eval_cost_micro) OVER (ORDER BY a.pos ASC) AS BIGINT)
         AS saved_micro
FROM adat a JOIN scum s ON s.rk = a.pos
"""


@register(
    "q489_adaptive_cascade_reorder",
    oracle=_adaptive_cascade_sql(),
    tags=("quality", "cascade", "optimizer", "adaptive"),
)
def q489_adaptive_cascade_reorder(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAPTIVE FILTER-CASCADE REORDERING — what predicate CORRELATION
    costs the static plan: q487 ranks the Gopher gates once by their
    MARGINAL reject-rate-per-cost; this operator re-ranks at every
    position by the CONDITIONAL reject rate among the documents still
    alive (one-step-lookahead greedy — the adaptive form of the
    expensive-predicate ordering rule). Each row carries the pick,
    its conditional rejects and ratio, survivors, the per-stage and
    cumulative expected cost, the STATIC order's cumulative cost at
    the same position, and saved_micro = static − adaptive — the
    realized value (possibly negative at interior positions: greedy
    is not globally optimal, and the audit reports what actually
    happened rather than assuming independence). When gates reject
    overlapping document sets, the marginal ranking double-counts
    their effect; the conditional ranking sees it — this table is the
    evidence for whether a curation pipeline should bother re-profiling
    its cascade after each stage at 100 TB.

    All arithmetic is exact integers (the q487 discipline). Scale
    shape: the flag matrix is built once (q162's zero-shuffle pass)
    and persisted; each of the 5 steps is one map-side-combined
    conditional count over survivor-joined flags plus a 1-row argmax
    (bounded-scalar); survivor membership is carried as a column
    filter, never a re-scan of the corpus text. The 100 TB plan:
    profile the conditional rates on a fixed-rate sample per stage —
    the table's semantics are identical."""
    from cli_spark.operators.corpus_stats import q162_gopher_rules

    n_docs = load_table(spark, sf_dir, "documents").count()
    gates = q162_gopher_rules(spark, sf_dir)
    stack_args = ", ".join(
        f"'{r}', CAST({r} AS INT)" for r, _ in _CASCADE_COSTS)
    flags = gates.select(
        "doc_id",
        F.expr(f"stack({len(_CASCADE_COSTS)}, {stack_args}) "
               "AS (rule, pass)"),
    ).select("doc_id", "rule", "pass").persist()
    try:
        cost = dict(_CASCADE_COSTS)
        # static cumulative costs from the SAME persisted flag matrix
        # (q487's ranking logic replayed here — calling q487 would
        # recompute the q162 gate pass, doubling the invocation cost)
        marg = {r["rule"]: int(r["n_reject"]) for r in
                flags.groupBy("rule").agg(
                    F.sum(F.lit(1) - F.col("pass")).cast("long")
                    .alias("n_reject")).collect()}
        order = sorted(cost,
                       key=lambda r: (-(marg[r] * 1_000_000 // cost[r]), r))
        # first-failure histogram under the static order: 6 buckets,
        # one aggregate over the flag matrix
        rk = {r: i + 1 for i, r in enumerate(order)}
        rk_expr = "CASE rule " + " ".join(
            f"WHEN '{r}' THEN {k}" for r, k in rk.items()) + " END"
        hist = {int(row["fr"]): int(row["cnt"]) for row in
                flags.select(
                    "doc_id",
                    F.expr(f"CASE WHEN pass = 0 THEN {rk_expr} END")
                    .alias("frk"))
                .groupBy("doc_id")
                .agg(F.coalesce(F.min("frk"), F.lit(6)).alias("fr"))
                .groupBy("fr")
                .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
                .collect()}
        static_cum = {}
        sprev, scum = n_docs, 0
        for pos, r in enumerate(order, start=1):
            scum += cost[r] * 1_000_000 * sprev // n_docs
            static_cum[pos] = scum
            sprev = sum(c for f, c in hist.items() if f > pos)

        survivors = None  # None = all docs
        chosen: list[str] = []
        cum = 0
        rows: list[tuple] = []
        for pos in range(1, len(_CASCADE_COSTS) + 1):
            pool = flags.filter(~F.col("rule").isin(chosen)) \
                if chosen else flags
            if survivors is not None:
                pool = pool.join(F.broadcast(survivors), "doc_id")
            # one aggregate per step yields the conditional rejects AND
            # the survivor count (every remaining rule has one row per
            # surviving doc) — no separate .count() action
            cand = (
                pool.groupBy("rule").agg(
                    F.sum(F.lit(1) - F.col("pass")).cast("long")
                    .alias("cond_reject"),
                    F.count(F.lit(1)).cast("long").alias("n_prev"),
                )
                .withColumn(
                    "cost_milli",
                    F.coalesce(*[F.when(F.col("rule") == r, F.lit(c))
                                 for r, c in _CASCADE_COSTS]).cast("long"))
                .withColumn(
                    "ratio",
                    F.expr("CAST(cond_reject * 1000000 DIV cost_milli "
                           "AS BIGINT)"))
                .orderBy(F.col("ratio").desc(), F.col("rule").asc())
                .limit(1)
                .collect()
            )
            if not cand:
                # survivor set exhausted (every document already
                # rejected): the oracle's unrolled chain emits no row
                # for this and later positions, so the cascade
                # shortens identically on both sides (ADVICE r14).
                break
            cand = cand[0]
            rule = cand["rule"]
            n_prev = int(cand["n_prev"])
            n_surv = n_prev - int(cand["cond_reject"])
            base_sv = flags.filter((F.col("rule") == rule)
                                   & (F.col("pass") == 1)) \
                .select("doc_id")
            survivors = (base_sv if survivors is None
                         else survivors.join(base_sv, "doc_id"))
            term = cost[rule] * 1_000_000 * n_prev // n_docs
            cum += term
            rows.append((pos, rule, int(cand["cond_reject"]), cost[rule],
                         int(cand["ratio"]), n_surv, term, cum,
                         static_cum[pos], static_cum[pos] - cum))
            chosen.append(rule)
        return spark.createDataFrame(
            rows,
            "cascade_pos long, rule string, cond_reject long, "
            "cost_milli long, cond_ratio_ppm long, n_survivors long, "
            "eval_cost_micro long, cum_cost_micro long, "
            "static_cum_cost_micro long, saved_micro long")
    finally:
        flags.unpersist()


# ---------------------------------------------------------------- q490

from cli_spark.operators.round14 import (  # noqa: E402
    _ALLOC_NEY,
    _BUDGET,
    _NHS_MICRO,
)

# integer per-stratum sample sizes from q475's allocation chains,
# clamped to [1, n_h] (a design can neither skip a stratum nor sample
# more documents than exist). Divisions are floor-of-double because
# these strings are SHARED verbatim (DuckDB has // where Spark has
# DIV — neither parses the other's operator).
_K_NEY = ("LEAST(GREATEST(CAST(floor(CAST((" + _ALLOC_NEY + ") AS DOUBLE) "
          "/ 1000000.0) AS BIGINT), CAST(1 AS BIGINT)), n_h)")
_K_PROP = (f"LEAST(GREATEST(CAST(floor({_BUDGET}.0 * CAST(n_h AS DOUBLE) / "
           "CAST(n_tot AS DOUBLE)) AS BIGINT), CAST(1 AS BIGINT)), n_h)")
# signed ppm error, floor-of-double (the negative-quotient trap)
_ST_ERR = ("CAST(floor((CAST({est} AS DOUBLE) - CAST(t_micro AS DOUBLE)) * "
           "1000000.0 / CAST(t_micro AS DOUBLE)) AS BIGINT)")


@register(
    "q490_neyman_realization_audit",
    oracle=f"""
WITH strat AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(n_chars) AS BIGINT) AS sum_y,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS sum_y2
  FROM documents GROUP BY lang
),
per AS (
  SELECT lang, n_h, sum_y, {_NHS_MICRO} AS nhs_micro
  FROM strat
),
tot AS (
  SELECT CAST(SUM(n_h) AS BIGINT) AS n_tot,
         CAST(SUM(nhs_micro) AS BIGINT) AS a
  FROM per
),
alloc AS (
  SELECT p.lang, p.n_h, p.sum_y, {_K_NEY} AS k_ney, {_K_PROP} AS k_prop
  FROM per p CROSS JOIN tot t
),
drawn AS (
  SELECT d.lang, d.n_chars AS y,
         row_number() OVER (PARTITION BY d.lang ORDER BY
           {_H60_DUCK.format(key="'ns:' || CAST(doc_id AS VARCHAR)")} ASC,
           d.doc_id ASC) AS rk
  FROM documents d
),
sums AS (
  SELECT a.lang, a.n_h, a.sum_y, a.k_ney, a.k_prop,
         CAST(SUM(CASE WHEN dr.rk <= a.k_prop THEN dr.y ELSE 0 END)
              AS BIGINT) AS sy_p,
         CAST(SUM(CASE WHEN dr.rk <= a.k_ney THEN dr.y ELSE 0 END)
              AS BIGINT) AS sy_n
  FROM alloc a JOIN drawn dr ON dr.lang = a.lang
  GROUP BY a.lang, a.n_h, a.sum_y, a.k_ney, a.k_prop
),
terms AS (
  SELECT lang, n_h, sum_y, k_ney, k_prop,
         CAST(n_h * sy_p * 1000000 // k_prop AS BIGINT) AS term_p,
         CAST(n_h * sy_n * 1000000 // k_ney AS BIGINT) AS term_n,
         CAST(sum_y * 1000000 // n_h AS BIGINT) AS mean_true_micro,
         CAST(sy_p * 1000000 // k_prop AS BIGINT) AS samp_mean_prop_micro,
         CAST(sy_n * 1000000 // k_ney AS BIGINT) AS samp_mean_ney_micro
  FROM sums
),
corpus AS (
  SELECT CAST(SUM(term_p) // SUM(n_h) AS BIGINT) AS est_p,
         CAST(SUM(term_n) // SUM(n_h) AS BIGINT) AS est_n,
         CAST(SUM(sum_y) * 1000000 // SUM(n_h) AS BIGINT) AS t_micro
  FROM terms
)
SELECT t.lang, t.n_h, t.k_prop, t.k_ney,
       t.mean_true_micro, t.samp_mean_prop_micro, t.samp_mean_ney_micro,
       c.est_p AS est_st_prop_micro, c.est_n AS est_st_ney_micro,
       {_ST_ERR.format(est='c.est_p')} AS err_prop_ppm,
       {_ST_ERR.format(est='c.est_n')} AS err_ney_ppm
FROM terms t CROSS JOIN corpus c
""",
    tags=("sampling", "stratified", "neyman", "realization"),
)
def q490_neyman_realization_audit(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN-ALLOCATION REALIZATION AUDIT — q475 DESIGNS the
    allocation (N_h·S_h budget split, variance-reduction prediction);
    this operator actually DRAWS both samples and reports what
    happened, closing design → realization the way q447 → q472 closed
    sample → estimator: per language, the integer sample sizes both
    designs assign (q475's exact allocation chains, clamped to
    [1, n_h]), the per-stratum sample means from ONE shared
    deterministic md5 draw (both designs read nested prefixes of the
    same ranking — a PAIRED comparison, so the difference is the
    allocation, not draw luck), and corpus-level: both stratified
    estimators (Σ N_h·ȳ_h / N, each per-stratum term floored to
    integer micros before the cross-stratum sum) with their realized
    signed errors vs the true corpus mean in ppm, repeated per row as
    the headline numbers. One draw is one realization — the estimator
    columns are the audit, q475's reduction_ppm is the expectation;
    the pair together is what a sampling-design review reads.

    Scale shape: one map-side-combined groupBy builds the per-stratum
    sufficient statistics; ONE WindowGroupLimit ranking serves BOTH
    designs (nested prefixes); the conditional sums are a second
    map-side-combined pass; everything after is one-row-per-stratum
    arithmetic. All integer end-to-end except the final signed ppm
    chains (floor-of-double, the negative-quotient discipline)."""
    d = load_table(spark, sf_dir, "documents")
    strat = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("n_chars").cast("long").alias("sum_y"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long")
        .alias("sum_y2"),
    )
    per = strat.select("lang", "n_h", "sum_y",
                       F.expr(_NHS_MICRO).alias("nhs_micro"))
    tot = per.agg(F.sum("n_h").cast("long").alias("n_tot"),
                  F.sum("nhs_micro").cast("long").alias("a"))
    alloc = per.crossJoin(F.broadcast(tot)).select(
        "lang", "n_h", "sum_y",
        F.expr(_K_NEY).alias("k_ney"),
        F.expr(_K_PROP).alias("k_prop"),
    )
    drawn = d.select(
        "lang", F.col("n_chars").alias("y"),
        F.row_number().over(
            Window.partitionBy("lang").orderBy(
                F.expr(_H60_SPARK.format(
                    key="concat('ns:', CAST(doc_id AS STRING))")).asc(),
                F.col("doc_id").asc())).alias("rk"),
    )
    sums = (
        drawn.join(F.broadcast(alloc), "lang")
        .groupBy("lang", "n_h", "sum_y", "k_ney", "k_prop")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("k_prop"), F.col("y"))
                  .otherwise(F.lit(0))).cast("long").alias("sy_p"),
            F.sum(F.when(F.col("rk") <= F.col("k_ney"), F.col("y"))
                  .otherwise(F.lit(0))).cast("long").alias("sy_n"),
        )
    )
    terms = sums.select(
        "lang", "n_h", "sum_y", "k_ney", "k_prop",
        F.expr("CAST(n_h * sy_p * 1000000 DIV k_prop AS BIGINT)")
        .alias("term_p"),
        F.expr("CAST(n_h * sy_n * 1000000 DIV k_ney AS BIGINT)")
        .alias("term_n"),
        F.expr("CAST(sum_y * 1000000 DIV n_h AS BIGINT)")
        .alias("mean_true_micro"),
        F.expr("CAST(sy_p * 1000000 DIV k_prop AS BIGINT)")
        .alias("samp_mean_prop_micro"),
        F.expr("CAST(sy_n * 1000000 DIV k_ney AS BIGINT)")
        .alias("samp_mean_ney_micro"),
    )
    corpus = terms.agg(
        F.expr("CAST(SUM(term_p) DIV SUM(n_h) AS BIGINT)").alias("est_p"),
        F.expr("CAST(SUM(term_n) DIV SUM(n_h) AS BIGINT)").alias("est_n"),
        F.expr("CAST(SUM(sum_y) * 1000000 DIV SUM(n_h) AS BIGINT)")
        .alias("t_micro"),
    )
    return terms.crossJoin(F.broadcast(corpus)).select(
        "lang", "n_h", "k_prop", "k_ney",
        "mean_true_micro", "samp_mean_prop_micro", "samp_mean_ney_micro",
        F.col("est_p").alias("est_st_prop_micro"),
        F.col("est_n").alias("est_st_ney_micro"),
        F.expr(_ST_ERR.format(est="est_p")).alias("err_prop_ppm"),
        F.expr(_ST_ERR.format(est="est_n")).alias("err_ney_ppm"),
    )
