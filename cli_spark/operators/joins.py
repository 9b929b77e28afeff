"""Join operators: equi (all outer kinds), broadcast, semi/anti,
cross, theta/non-equi band join, multi-table star join.

Scale design (SURVEY.md §2 "Joins"): dimension tables (region, nation,
supplier, customer at small SF; region/nation always) are broadcast —
`F.broadcast` hints appear on every dim side so the 100 TB fact scan
never shuffles for them. Fact⋈fact joins (lineitem⋈orders) shuffle on
the join key; AQE handles skew splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cli_spark.functions.determinism import dsum, sql_dsum
from cli_spark.plans.registry import register
from cli_spark.session import materialize_local
from cli_spark.tables import load_table


@register(
    "q10_join_topk_revenue",
    oracle=f"""
SELECT l_orderkey,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS odate,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    tags=("join", "topk", "headline"),
)
def q10_join_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-style: 3-table join + agg + top-K by revenue.

    customer is broadcast (dim side); lineitem⋈orders shuffles on
    orderkey. Top-K compiles to TakeOrderedAndProject — no global
    sort materialization. Ties broken on l_orderkey so both engines
    select identical rows.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp"))
        .join(
            o.filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q11_left_join_agg",
    oracle="""
SELECT c.c_custkey, c.c_name,
       COUNT(o.o_orderkey) AS order_cnt,
       CAST(SUM(CAST(floor((COALESCE(o.o_totalprice, 0)) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS total_spend
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'O'
GROUP BY c.c_custkey, c.c_name
""",
    tags=("join", "outer"),
)
def q11_left_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with an ON-clause filter (kept pre-join, not
    WHERE — the classic outer-join semantics trap) + null-aware agg."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"], c["c_name"])
        .agg(
            F.count(o["o_orderkey"]).alias("order_cnt"),
            dsum(F.coalesce(o["o_totalprice"], F.lit(0))).alias("total_spend"),
        )
    )


@register(
    "q12_full_outer_join",
    oracle="""
WITH cust_n AS (
  SELECT c_nationkey AS nk, COUNT(*) AS cust_cnt FROM customer GROUP BY c_nationkey
), supp_n AS (
  SELECT s_nationkey AS nk, COUNT(*) AS supp_cnt FROM supplier GROUP BY s_nationkey
)
SELECT COALESCE(c.nk, s.nk) AS nationkey,
       COALESCE(c.cust_cnt, 0) AS cust_cnt,
       COALESCE(s.supp_cnt, 0) AS supp_cnt
FROM cust_n c
FULL OUTER JOIN supp_n s ON c.nk = s.nk
""",
    tags=("join", "outer"),
)
def q12_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two pre-aggregated sides (nations with only
    customers, only suppliers, or both)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("cust_cnt"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("supp_cnt"))
    )
    return c.join(s, c["nk"] == s["nk"], "full").select(
        F.coalesce(c["nk"], s["nk"]).alias("nationkey"),
        F.coalesce(c["cust_cnt"], F.lit(0)).alias("cust_cnt"),
        F.coalesce(s["supp_cnt"], F.lit(0)).alias("supp_cnt"),
    )


@register(
    "q13_semi_join",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
""",
    tags=("join", "semi"),
)
def q13_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join ≡ WHERE EXISTS. No row multiplication, build
    side only needs the key column — cheapest existence check."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "q14_anti_join",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    tags=("join", "anti"),
)
def q14_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join ≡ WHERE NOT EXISTS (customers with no orders)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select("c_custkey", "c_name")


@register(
    "q15_cross_join",
    oracle="""
SELECT r.r_name, s.o_orderstatus,
       (SELECT COUNT(*) FROM orders o2 WHERE o2.o_orderstatus = s.o_orderstatus) AS status_orders
FROM region r
CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
""",
    tags=("join", "cross"),
)
def q15_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny relations (5 × 3). Cross joins
    are only ever safe when at least one side is provably small —
    here both are dimension-sized."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    o = load_table(spark, sf_dir, "orders")
    status_counts = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("status_orders"))
    return r.crossJoin(F.broadcast(status_counts)).select(
        "r_name", "o_orderstatus", "status_orders"
    )


@register(
    "q16_theta_band_join",
    oracle="""
SELECT b.band_name, COUNT(*) AS cust_cnt,
       CAST(SUM(CAST(floor((c.c_acctbal) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS bal_sum
FROM customer c
JOIN (VALUES ('low', -100000.0, 2000.0),
             ('mid', 2000.0, 6000.0),
             ('high', 6000.0, 100000.0)) AS b(band_name, lo, hi)
  ON c.c_acctbal >= b.lo AND c.c_acctbal < b.hi
GROUP BY b.band_name
""",
    tags=("join", "theta"),
)
def q16_theta_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) band join: customers bucketed into acctbal
    bands via range predicates. Plans as BroadcastNestedLoopJoin with
    the 3-row band table broadcast — the only sane shape for theta
    joins at scale (small side broadcast, big side streamed)."""
    c = load_table(spark, sf_dir, "customer")
    bands = spark.createDataFrame(
        [("low", -100000.0, 2000.0), ("mid", 2000.0, 6000.0), ("high", 6000.0, 100000.0)],
        "band_name string, lo double, hi double",
    )
    return (
        c.join(
            F.broadcast(bands),
            (F.col("c_acctbal") >= F.col("lo")) & (F.col("c_acctbal") < F.col("hi")),
        )
        .groupBy("band_name")
        .agg(
            F.count(F.lit(1)).alias("cust_cnt"),
            dsum(F.col("c_acctbal")).alias("bal_sum"),
        )
    )


@register(
    "q17_star_join_q5",
    oracle=f"""
SELECT n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
    tags=("join", "star", "headline"),
)
def q17_star_join_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-style 6-table star join: revenue per nation in a
    region. Every dimension side carries a broadcast hint; the only
    shuffle is lineitem⋈orders. Region filter prunes before the join
    (Catalyst pushes it through the broadcast)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q18_self_join_week_pairs",
    oracle="""
SELECT a.o_custkey,
       a.o_orderkey AS order_a,
       b.o_orderkey AS order_b,
       date_diff('day', CAST(a.o_orderdate AS DATE), CAST(b.o_orderdate AS DATE)) AS day_gap
FROM orders a
JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND a.o_orderkey < b.o_orderkey
 AND abs(date_diff('day', CAST(a.o_orderdate AS DATE), CAST(b.o_orderdate AS DATE))) <= 7
""",
    tags=("join", "self"),
)
def q18_self_join_week_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join: pairs of orders by the same customer within 7 days
    of each other (equi on custkey + non-equi date-band residual —
    shuffles once on the key, the band predicate filters post-match)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_custkey"), F.col("o_orderkey").alias("order_a"), F.col("o_orderdate").alias("date_a")
    )
    b = o.select(
        F.col("o_custkey").alias("cust_b"), F.col("o_orderkey").alias("order_b"), F.col("o_orderdate").alias("date_b")
    )
    gap = F.datediff(F.col("date_b"), F.col("date_a"))
    return (
        a.join(
            b,
            (F.col("o_custkey") == F.col("cust_b"))
            & (F.col("order_a") < F.col("order_b"))
            & (F.abs(gap) <= 7),
        )
        .select("o_custkey", "order_a", "order_b", gap.alias("day_gap"))
    )


@register(
    "q359_nullsafe_join",
    # DuckDB mirrors <=> with IS NOT DISTINCT FROM; the NULL key
    # group is where the two operators genuinely diverge (= drops it,
    # <=> matches it).
    oracle="""
WITH l AS (
  SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS key FROM customer
),
r AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_right FROM l GROUP BY key),
ns AS (
  SELECT r.key, CAST(COUNT(*) AS BIGINT) AS n
  FROM l JOIN r ON l.key IS NOT DISTINCT FROM r.key GROUP BY r.key
),
eq AS (
  SELECT r.key, CAST(COUNT(*) AS BIGINT) AS n
  FROM l JOIN r ON l.key = r.key GROUP BY r.key
)
SELECT r.key, r.n_right, ns.n AS n_pairs_nullsafe,
       COALESCE(eq.n, 0) AS n_pairs_eq
FROM r
JOIN ns ON ns.key IS NOT DISTINCT FROM r.key
LEFT JOIN eq ON eq.key IS NOT DISTINCT FROM r.key
""",
    tags=("joins", "nullsafe", "three_valued_logic"),
)
def q359_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (`<=>` / `eqNullSafe`) vs plain `=` —
    the three-valued-logic join trap q03 covers for predicates,
    graded at the JOIN operator level: customers keyed by a
    deliberately-nullable segment (BUILDING → NULL) are joined to the
    per-key census with BOTH operators. Plain `=` silently drops
    every NULL-keyed row (NULL = NULL is UNKNOWN); `<=>` matches the
    NULL group — exactly the difference between losing and keeping
    the 'unknown segment' cohort in a production rollup. The output
    shows both pair counts per key so the divergence is the graded
    value, not a comment.

    Scale shape: `<=>` keys still hash-partition (null-safe equality
    is a deterministic hash bucket — Catalyst plans the same shuffle
    join as `=`, it does NOT degrade to a nested loop; at 100 TB a
    heavily-NULL key column is a skew concern to salt, same as any
    hot key)."""
    c = load_table(spark, sf_dir, "customer")
    left = c.select(
        "c_custkey", F.nullif("c_mktsegment", F.lit("BUILDING")).alias("key")
    )
    right = left.groupBy("key").agg(F.count(F.lit(1)).cast("long").alias("n_right"))
    r = right.alias("r")
    ns = (
        left.alias("l")
        .join(r, F.col("l.key").eqNullSafe(F.col("r.key")))
        .groupBy(F.col("r.key").alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    eq = (
        left.alias("l")
        .join(r, F.col("l.key") == F.col("r.key"))
        .groupBy(F.col("r.key").alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        right.alias("rr")
        .join(ns.alias("ns"), F.col("rr.key").eqNullSafe(F.col("ns.key")))
        .join(eq.alias("eq"), F.col("rr.key").eqNullSafe(F.col("eq.key")), "left")
        .select(
            F.col("rr.key").alias("key"),
            "n_right",
            F.col("ns.n").alias("n_pairs_nullsafe"),
            F.coalesce(F.col("eq.n"), F.lit(0).cast("long")).alias("n_pairs_eq"),
        )
    )


@register(
    "q399_runtime_bloom_filter",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n_items,
       {sql_dsum('l_extendedprice')} AS price_sum
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_totalprice > 400000
GROUP BY l_returnflag
""",
    tags=("joins", "runtime_filter", "bloom", "aqe"),
)
def q399_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNTIME BLOOM-FILTER join pruning (SPARK-32268, the
    non-partition-column sibling of dynamic partition pruning): the
    selective orders filter builds a bloom filter at runtime, and
    Catalyst injects `might_contain(l_orderkey)` into the LINEITEM
    SCAN side — at 100 TB the probe side drops non-qualifying rows
    before the shuffle instead of shipping the full fact table to the
    join (DPP needs a partitioned layout; the bloom filter works on
    any column). Broadcast is disabled for the query so the shuffle
    join actually exercises the filter path, and the executed plan is
    ASSERTED to contain the injected `might_contain` — silently
    losing the filter (a conf regression, an unsupported-shape
    fallback) fails the query rather than just running slow. Bloom
    false positives only pass extra rows to the exact join, so the
    census is bit-exact regardless of sizing; session confs are
    saved and restored."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
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
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        res = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                dsum(F.col("l_extendedprice")).alias("price_sum"),
            )
        )
        plan = res._jdf.queryExecution().executedPlan().toString()
        if "might_contain" not in plan:
            raise RuntimeError(
                "q399: runtime bloom filter was not injected into the "
                "probe-side scan (no might_contain in executed plan)"
            )
        out = materialize_local(res)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out
