#!/usr/bin/env python
"""Benchmark harness — the driver's per-round BENCH_r{N}.json source.

Runs the headline query classes (matching BASELINE.md's measured rows)
at $SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "...", "value": <total warm sec>, "unit": "sec",
     "queries": {name: warm_sec, ...}, "sf": <sf>,
     "value_7class": <legacy sum>, "loadavg": [...], "runs": 5}

Method mirrors BASELINE.md, hardened against box noise (VERDICT r3
showed uniform ~27% drift on bit-identical code with min-of-2): per
query, one untimed warm-up run (JIT/broadcast warm), then the MINIMUM
of five timed runs, collect() to the driver. Session startup is
excluded (fixed overhead). The 1/5/15-min load averages at bench
start are recorded so a noisy-box run is visible in the JSON.

The headline `value` sums 11 classes (the original 7 plus the four
round-2 extended classes, promoted per VERDICT r3 #7 so they are
regression-gated round over round). `value_7class` keeps the original
7-class sum for continuity with BENCH_r01/r03 and BASELINE.md's first
table.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Original 7 headline classes — one per BASELINE.md row class. Their
# sum is reported as `value_7class` (comparable across all rounds).
BENCH_QUERIES = [
    "q01_pricing_summary",      # TPC-H-Q1-style agg
    "q10_join_topk_revenue",    # Q3-style join + top-K
    "q17_star_join_q5",         # Q5-style 6-table star join
    "q30_topk_per_group",       # per-group top-3 window
    "q100_tumbling_window",     # events 1h tumbling agg
    "q70_exact_dup_stats",      # exact-dup count (md5)
    "q80_knn_bruteforce",       # brute-force cosine kNN top-10
]

# Round-2 extended classes, promoted into the headline sum in round 4
# (BASELINE.md "Extended rows" table has the matching baselines).
EXTRA_QUERIES = [
    "q73_minhash_lsh",          # MinHash+LSH near-dup (band join)
    "q91_tfidf_top_terms",      # TF-IDF per-doc top terms
    "q151_decontamination",     # 5-gram train/test overlap
    "q157_embedding_outliers",  # centroid distance outlier cut
]

# Iterative/graph classes, promoted into the declared 18-class
# headline in round 7 (VERDICT r6 #6) now that they carry baselines
# (BASELINE.md "Headline sums v2"): summed into `value_18class`;
# `value` stays the 11-class sum and `value_7class` the original 7,
# so every historical series remains comparable.
PROMOTED_QUERIES = [
    "q76_dedup_connected_components",  # pointer-jumping min-label CC
    "q181_triangle_census",            # oriented wedge-closure join
    "q201_exact_substring_scrub",      # span census + island merge (round 6)
    "q208_minhash_incremental",        # LSH posting-list probe (round 6)
    "q247_semdedup_prune",             # k-means-bounded cosine dedup (round 6)
    "q249_kcore_2core",                # iterative degree peeling (round 6)
    "q290_lsh_parameter_sweep",        # 3-config band-join sweep (round 6, session 3)
]

# Round-7 heavy additions, promoted into the declared 23-class
# headline in round 8 (VERDICT r7 #2) now that they carry baselines
# (BASELINE.md "Headline sums v3"): summed into `value_23class`.
PROMOTED23_QUERIES = [
    "q309_simhash64_blocks",        # 64-bit SimHash block probe
    "q311_winnowing_fingerprints",  # winnowing selection
    "q315_winnowing_match",         # MOSS match step
    "q312_rouge1_pair_audit",       # per-candidate ROUGE scoring
    "q322_pq_codebook",             # 4-subspace PQ Lloyd
]

# Round-8/9 heavy additions, promoted into the declared 26-class
# headline in round 9 now that they carry baselines (BASELINE.md
# "Headline sums v4"): summed into `value_26class`.
PROMOTED26_QUERIES = [
    "q351_avi_indexed_multistream",   # two-stream AVI codec decode
    "q375_kmeans_parallel_init",      # 2-round Bahmani k-means|| seeding
    "q380_content_defined_chunking",  # CDC chunk-dedup census
]

# Round-10 promotions into the declared 30-class headline (BASELINE.md
# "Headline sums v5"): the four heaviest previously-unbaselined classes
# — after this, no graded query > 2 s warm at sf0.1 sits outside the
# per-class regression net. Summed into `value_30class`.
PROMOTED30_QUERIES = [
    "q385_dedup_cascade_audit",       # 3-stage dedup cascade (banded)
    "q392_prefix_filter_join",        # prefix-filtering set-similarity join
    "q429_deterministic_random_walk", # 4-step seeded walk distribution
    "q430_bellman_ford_hops",         # weighted shortest paths (hop relax)
]

# Round-10 late promotion (BASELINE.md "Headline sums v6"): q440
# earned its two dedicated idle-box sessions the same round (the
# q429/q430 v5 precedent), so no graded query > 2 s warm at sf0.1 is
# left outside the per-class regression net. Summed into
# `value_31class`.
PROMOTED31_QUERIES = [
    "q440_containment_join",  # asymmetric prefix-filter containment
]

# Round-12 promotions into the declared 33-class headline (BASELINE.md
# "Headline sums v8", VERDICT r11 #1): the two heaviest graded queries
# — the round-11 dedup flagship and the TRUE-streaming
# dropDuplicatesWithinWatermark run — join the per-class regression
# net with dedicated two-session idle-box baselines, restoring the v5
# invariant (no graded query > 2 s warm at sf0.1 outside the net;
# q454–q459 measured 0.4–1.2 s min-of-5 on a quiet box — under the
# bar, tracked in BASELINE.md v8's report table). Summed into
# `value_33class`.
PROMOTED33_QUERIES = [
    "q446_dedup_pipeline_flagship",   # exact-collapse → Jaccard join → CC
    "q453_dropdup_within_watermark",  # ~40 TRUE micro-batches, ddww
]

# Round-12 late promotion (BASELINE.md v9): the prefix-doubling k-mer
# census is the only round-13-queue query over the 2 s bar; summed
# into `value_34class`.
PROMOTED34_QUERIES = [
    "q460_repeated_kmer_census",      # binary-lift rank joins, 7 levels
]

# Round-12 second-phase promotion (BASELINE.md v10): the two
# second-phase queries over the 2 s bar — the shingle-pool theta
# sketches and the 3-step power iteration — join the net with
# two-session baselines. Summed into `value_36class`.
PROMOTED36_QUERIES = [
    "q462_theta_sketch_intersection", # bottom-64 theta sketches
    "q471_power_iteration_eigvec",    # integer-exact X^T(Xv) steps
]

# Round-13 promotion (BASELINE.md v12): the TRUE-stream mergeable-
# histogram run is the only round-13 build over the 2 s bar (~20 real
# micro-batches: replay write + scheduling, the q453 cost shape);
# promoted with two dedicated sessions (12.17/14.22, cleaner session
# is the baseline). Summed into `value_37class`.
PROMOTED37_QUERIES = [
    "q473_streaming_histogram_quantiles",  # ~20 TRUE micro-batches
]

# Round-13 second promotion (BASELINE.md v13): the TRUE-stream HLL
# union is the other round-13 build over the 2 s bar (same ~20-micro-
# batch replay cost shape as q473/q453); two dedicated sessions
# 11.93/15.33, cleaner session is the baseline. Summed into
# `value_38class`.
PROMOTED38_QUERIES = [
    "q476_streaming_hll_union",  # register-max merge across batches
]

# Round-13 third promotion (BASELINE.md v14): the TRUE-stream
# Misra-Gries run joins the net (two sessions 14.60/16.53, cleaner
# session is the baseline). Summed into `value_39class`.
PROMOTED39_QUERIES = [
    "q479_streaming_misra_gries",  # add-then-subtract counter merge
]

# Round-14 promotions (BASELINE.md CURRENT GATES): the two TRUE-stream
# round-14 builds (order-statistic merge algebras; two dedicated
# sessions each, 2026-08-16: q481 18.30/13.13, q486 12.06/11.36 —
# cleaner session is the baseline). Summed into `value_41class`.
PROMOTED41_QUERIES = [
    "q481_streaming_theta_intersection",  # bottom-64 union merge
    "q486_streaming_priority_sample",     # k+1 reservoir merge
]

# Round-14 second promotion: the two batch builds just over the 2 s
# bar (sessions: q482 2.19/2.13, q487 2.16/2.31; per-query cleaner
# reading is the baseline). Summed into `value_43class` — restoring
# the v5 invariant (no graded query > 2 s warm at sf0.1 outside the
# per-class net).
PROMOTED43_QUERIES = [
    "q482_greedy_set_cover",          # 8 broadcast-anti-join steps
    "q487_filter_cascade_ordering",   # gate selectivity/cost rank
]

# Report-tail rows: every graded query under the 2 s promotion bar,
# tracked with its DEDICATED min-of-5 idle-box baseline (BASELINE.md
# CURRENT GATES report table). Round 14 (VERDICT r13 #1): these rows
# now carry a BINDING collective gate — `value_report_tail` sums the
# end-of-bench readings and `report_tail_flag` fires when the sum
# exceeds 2× the sum of the dedicated baselines, so session-cache
# context drift either disappears into the collective headroom or
# becomes a flagged signal (per-row context drift stays expected; the
# r13 pattern q463 1.57→2.67 etc. was explained row by row — this
# gate replaces that with one net).
# Round-15 promotions (BASELINE.md CURRENT GATES): the two late
# round-14 builds over the 2 s bar — the adaptive cascade reorder and
# the TRUE-stream log-bucket quantile run (pre-recorded dedicated
# sessions 2026-08-16: q489 2.50/2.47, q491 10.21/9.74 — cleaner
# session is the baseline). Summed into `value_45class`, restoring
# the v5 invariant (no graded query > 2 s warm at sf0.1 outside the
# per-class net).
PROMOTED45_QUERIES = [
    "q489_adaptive_cascade_reorder",        # conditional lookahead cascade
    "q491_streaming_logbucket_quantiles",   # ~20 TRUE micro-batches
]

# Round-15 third promotion (BASELINE.md CURRENT GATES): the round-15
# TRUE-stream build (conformal monitor through ~20 replay
# micro-batches — the q486/q491 cost shape; two dedicated sessions
# 2026-08-16: 15.88/15.00, cleaner is the baseline). Summed into
# `value_46class`.
PROMOTED46_QUERIES = [
    "q493_streaming_conformal_monitor",   # ~20 TRUE micro-batches
]

# Round-15 second-batch promotion into the declared 47-class headline:
# the streaming DDSketch (gamma = sqrt(2) relative-error quantiles
# through ~20 TRUE micro-batches — the q491 cost shape; dedicated
# sessions 10.17/11.65, cleaner is baseline). Summed into
# `value_47class`.
PROMOTED47_QUERIES = [
    "q496_streaming_ddsketch",            # ~20 TRUE micro-batches
]

# Round-15 capstone promotion into the declared 48-class headline:
# the streaming PSI monitor (q499 through the replay source — the
# fifth batch->stream ADDITION-merge pair; dedicated sessions
# 10.11/9.52, cleaner is baseline). Summed into `value_48class`.
PROMOTED48_QUERIES = [
    "q500_streaming_psi_monitor",         # ~20 TRUE micro-batches
]

# The promoted sets in timing order, each with the class count its
# cumulative sum is reported under (`value_<NN>class`).
PROMOTED_CLASSES = (
    (18, PROMOTED_QUERIES),
    (23, PROMOTED23_QUERIES),
    (26, PROMOTED26_QUERIES),
    (30, PROMOTED30_QUERIES),
    (31, PROMOTED31_QUERIES),
    (33, PROMOTED33_QUERIES),
    (34, PROMOTED34_QUERIES),
    (36, PROMOTED36_QUERIES),
    (37, PROMOTED37_QUERIES),
    (38, PROMOTED38_QUERIES),
    (39, PROMOTED39_QUERIES),
    (41, PROMOTED41_QUERIES),
    (43, PROMOTED43_QUERIES),
    (45, PROMOTED45_QUERIES),
    (46, PROMOTED46_QUERIES),
    (47, PROMOTED47_QUERIES),
    (48, PROMOTED48_QUERIES),
)

REPORT_TAIL_BASELINES: dict = {
    # round-11/12 builds (dedicated sessions, BASELINE.md v8/v9)
    "q454_skipgram_pmi": 1.14,
    "q455_simpsons_paradox_audit": 0.41,
    "q456_km_survival": 0.61,
    "q457_cuped_adjustment": 0.63,
    "q458_quantile_treatment_effect": 0.49,
    "q459_rake_keywords": 1.22,
    "q461_histogram_quantile_drift": 0.70,   # mergeable 64-bucket histogram
    "q463_cluster_tfidf_labels": 1.47,       # rides q446's cluster cache
    "q464_harmonic_token_packing": 0.25,     # closed-form size-class packing
    "q465_hll_register_sketch": 0.57,        # 64 HLL registers, integer sums
    "q466_family_split_leakage": 0.89,       # near-dup contamination audit
    "q467_rrf_hybrid_retrieval": 0.91,       # lexical+dense rank fusion
    "q468_blocked_fuzzy_join": 1.85,         # bottom-2 blocks + levenshtein
    "q469_mann_kendall_trend": 0.63,         # bounded-grid pairwise signs
    "q470_dedup_manifest": 0.91,             # per-dropped-doc keep record
    # round-13 builds (dedicated sessions, BASELINE.md v12-v14 era)
    "q472_horvitz_thompson_audit": 0.43,     # priority-sampling HT estimate
    "q474_ams_f2_sketch": 0.75,              # 16-estimator tug-of-war F2
    "q475_neyman_allocation_audit": 0.32,    # sufficient-stats allocation
    "q477_dp_laplace_release": 0.48,         # domain-grid Laplace counts
    "q478_kcenter_coreset": 1.65,            # greedy farthest-point, 8 picks
    "q480_threshold_sensitivity_curve": 0.65,  # rides the qp cache slot
    # round-14 builds (two dedicated sessions 2026-08-16, cleaner
    # session is the baseline)
    "q483_priority_merge_equivalence": 0.67,   # shard vs corpus HT
    "q484_conformal_calibration": 0.74,        # rank-selected qhat
    "q485_empirical_bernstein_audit": 0.38,    # suff-stats bounds
    # late round-14 builds (pre-recorded dedicated sessions
    # 2026-08-16, cleaner session is the baseline)
    "q488_snis_reweighting_audit": 0.97,       # SNIS weights + ESS
    "q490_neyman_realization_audit": 0.57,     # realized design errors
    # round-15 builds (two dedicated sessions 2026-08-16, cleaner
    # session is the baseline)
    "q492_ddsketch_quantiles": 1.34,           # gamma=sqrt(2) buckets
    # q494 re-baselined after the round-15 key_bytes_model extension
    # (the cost column folded into the existing sub-key aggregation;
    # sessions 1.005/1.154 post-change, cleaner is baseline)
    "q494_skew_salting_planner": 1.005,        # oversub sweep, census-grain
    # round-15 second batch (two dedicated sessions 2026-08-16,
    # cleaner session is the baseline)
    "q495_calibration_reliability_audit": 1.187,  # ECE + isotonic bins
    "q497_benford_digit_audit": 0.693,            # first-digit census
    # round-15 third batch (two dedicated sessions 2026-08-16,
    # cleaner session is the baseline)
    "q498_partition_coalesce_planner": 1.227,     # prefix-sum packing
    "q499_psi_drift_audit": 0.88,                 # log-bucket PSI
    # round-15 fourth batch (two dedicated sessions 2026-08-17,
    # cleaner session is the baseline)
    "q501_mestimate_encoding_audit": 1.025,       # shrinkage sweep
}
REPORTED_QUERIES: list = list(REPORT_TAIL_BASELINES)

# Brand-new builds with no dedicated baseline yet: tracked in
# queries{} only; they join REPORT_TAIL_BASELINES (or a promoted sum)
# next round once they carry dedicated idle-box sessions.
NEW_QUERIES: list = []

# Scale-proofing subset re-timed at a synthetic sf1 (10× sf0.1, see
# cli_spark/bench_scale.py) — one per heavy plan family: wide agg,
# star join, LSH dedup, shingle decontamination, event-time windows.
SF1_QUERIES = [
    "q01_pricing_summary",
    "q17_star_join_q5",
    "q73_minhash_lsh",
    "q151_decontamination",
    "q100_tumbling_window",
]

N_RUNS = 5      # timed reps per class; min is reported
N_RUNS_SF1 = 2  # sf1 runs are ~10× longer; warm-up + min of 2


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # Noise guard (VERDICT r7 #9): BASELINE.md's own protocol says
    # sub-second class deltas are signal only on a quiet box, so a
    # bench that starts under load waits (bounded) for the 1-min
    # loadavg to drop below the threshold and flags itself if it
    # can't — every BENCH_rN is then interpretable on its face.
    # Round 10 (VERDICT r9 #4): the guard now covers the 5-min average
    # too — r09 started at 1-min 1.68 / 5-min 15.87 (box just off heavy
    # load) and showed a spurious ~10-25% light-class uptick. The 5-min
    # average decays slowly, so its wait bound is longer.
    LOAD_MAX = 2.0
    loadavg_wait = 0.0
    try:
        while ((os.getloadavg()[0] > LOAD_MAX or os.getloadavg()[1] > LOAD_MAX)
               and loadavg_wait < 600):
            time.sleep(15)
            loadavg_wait += 15
        loadavg = [round(x, 2) for x in os.getloadavg()]
        loadavg_flag = loadavg[0] > LOAD_MAX or loadavg[1] > LOAD_MAX
    except OSError:
        loadavg, loadavg_flag = [], False

    from cli_spark.plans.registry import all_queries
    from cli_spark.session import get_spark

    spark = get_spark(app_name="cli_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    def timed(name: str, at_dir: str, runs: int) -> float:
        fn = qs[name]
        fn(spark, at_dir).collect()  # warm-up (untimed)
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, at_dir).collect()
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    # ---- cold-chain readings (VERDICT r12 #2). The single-slot
    # session caches (exact_family_clusters, shingle_hash_pool) make
    # the warm per-class numbers for q446/q462/q463/q465/q466/q468/
    # q470 cache-warm steady state — a regression in the chains
    # themselves would otherwise surface only as warm-up time nobody
    # gates. Once per bench, BEFORE any cache is populated, the full
    # q446 chain and the shingle-pool build are timed COLD (single
    # run each; a fresh process guarantees empty caches). Round 14
    # (ADVICE r13): the BASELINE.md ceilings (q446 ≤ 43.56 s — the v9
    # uncached ceiling; pool build ≤ 2× its 7.80 s two-session
    # baseline) are now enforced IN CODE via `coldchain_flag` below,
    # not just recorded for manual gating. One unrelated query runs
    # first so JVM/codegen warm-up is not billed to the chain.
    from cli_spark.operators.round13 import shingle_hash_pool

    qs["q01_pricing_summary"](spark, sf_dir).collect()
    t0 = time.perf_counter()
    qs["q446_dedup_pipeline_flagship"](spark, sf_dir).collect()
    cold_q446 = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    shingle_hash_pool(spark, sf_dir)  # persists + counts internally
    cold_pool = round(time.perf_counter() - t0, 4)

    times = {name: timed(name, sf_dir, N_RUNS) for name in BENCH_QUERIES}
    legacy_total = round(sum(times.values()), 4)
    times.update({name: timed(name, sf_dir, N_RUNS) for name in EXTRA_QUERIES})
    headline_total = round(sum(times.values()), 4)
    # iterative classes run many jobs per invocation — warm + min of 2
    # keeps their tracking cost bounded (declared in BASELINE.md v2)
    class_totals = {}
    for nn, names in PROMOTED_CLASSES:
        times.update({name: timed(name, sf_dir, 2) for name in names})
        class_totals[f"value_{nn}class"] = round(sum(times.values()), 4)
    # report-tail classes: tracked individually AND collectively gated
    # (VERDICT r13 #1) — the sum of end-of-bench readings vs 2× the
    # sum of dedicated baselines
    times.update({name: timed(name, sf_dir, 2) for name in REPORTED_QUERIES})
    report_tail = round(sum(times[n] for n in REPORT_TAIL_BASELINES), 4)
    report_tail_base = round(sum(REPORT_TAIL_BASELINES.values()), 4)
    # brand-new builds: tracked only, no baseline yet
    times.update({name: timed(name, sf_dir, 2) for name in NEW_QUERIES})

    # ---- box-epoch sentinel (round 16, VERDICT r15 #4): a PINNED
    # calibration query whose work never changes with the engine's
    # code — a pure-compute range aggregation, no input data, no
    # engine operators — timed with the bench method (warm + min of
    # 3). Two bit-identical trees measured in different box epochs
    # show the drift HERE, so a per-query delta can be read as
    # drift-vs-change from single runs. ~1 s on an idle 32-vCPU box.
    def _epoch_sentinel() -> float:
        def one() -> float:
            t0 = time.perf_counter()
            spark.range(0, 600_000_000, 1, 32).selectExpr(
                "sum(id * id % 1000003)").collect()
            return time.perf_counter() - t0

        one()  # warm-up (untimed)
        return round(min(one() for _ in range(3)), 4)

    epoch_sentinel = _epoch_sentinel()

    out = {
        "metric": "headline query warm latency (sum over 11 query classes, min of 5)",
        "value": headline_total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "value_7class": legacy_total,
        **class_totals,
        "value_report_tail": report_tail,
        "report_tail_baseline": report_tail_base,
        "report_tail_flag": report_tail > 2 * report_tail_base,
        "coldchain": {
            "q446_chain_cold": cold_q446,
            "shingle_pool_build_cold": cold_pool,
        },
        # binding ceilings (BASELINE.md CURRENT GATES cold-chain rows)
        "coldchain_flag": cold_q446 > 43.56 or cold_pool > 15.6,
        "loadavg": loadavg,
        "loadavg_flag": loadavg_flag,
        "loadavg_wait_sec": loadavg_wait,
        "epoch_sentinel_sec": epoch_sentinel,
        "runs": N_RUNS,
    }

    # ---- sf1 scale-proofing section (set SPARK_GRAFT_SKIP_SF1=1 to
    # skip, e.g. on a box without the disk/time budget). The scaled
    # data is cached on first generation; `ratio` is sf1/sf0.1 warm
    # time — linear scaling lands near 10, super-linear growth flags
    # a plan that wouldn't survive the next 100×.
    if not os.environ.get("SPARK_GRAFT_SKIP_SF1"):
        from cli_spark.bench_scale import ensure_scaled

        sf1_dir = os.environ.get(
            "SPARK_GRAFT_SF1_DIR",
            os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_sf1"),
        )
        t_gen = time.perf_counter()
        ensure_scaled(spark, sf_dir, sf1_dir)
        gen_sec = round(time.perf_counter() - t_gen, 1)
        sf1_times = {name: timed(name, sf1_dir, N_RUNS_SF1) for name in SF1_QUERIES}
        out["sf1"] = {
            "queries": sf1_times,
            "value": round(sum(sf1_times.values()), 4),
            "ratio": {
                name: round(sf1_times[name] / times[name], 2) for name in SF1_QUERIES
            },
            "scale_vs_base": 10,
            "runs": N_RUNS_SF1,
            "gen_sec": gen_sec,
        }

    # Shrink the one-line JSON (round 16, VERDICT r15 #4: BENCH_r14's
    # line outgrew the driver's tail capture and cost a round of PERF
    # comparison): per-query floats to 3 decimals (ms grain — the
    # bench's own noise floor is larger) and compact separators. Keys
    # and structure are unchanged — additions/format only.
    out["queries"] = {k: round(v, 3) for k, v in out["queries"].items()}
    if "sf1" in out:
        out["sf1"]["queries"] = {
            k: round(v, 3) for k, v in out["sf1"]["queries"].items()
        }
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
