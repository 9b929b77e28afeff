"""Training-data-pipeline operators over `documents` (+`embeddings`):
embedding-cosine near-dup (the last mandated dedup variant), a
deterministic train/val/test splitter, fixed-stride document chunking,
weighted dataset mixing, and a time-hierarchy (hypertable-style)
rollup over `events`.

Design for 100 TB:
* every "random" choice (split assignment, mix sampling) is an
  md5-derived hash of a stable key — reproducible across runs,
  engines, and repartitionings; never ``rand()``;
* split/mix are single narrow projections + one aggregation — no
  shuffle beyond the final group-by on a handful of keys;
* chunking is a per-row explode (linear; no shuffle at all) — at
  scale it pipelines straight into a partitioned parquet sink;
* embedding near-dup joins documents→embeddings on the key (a
  co-partitioned equi-join; dims broadcast) before the quadratic
  verify — q83/q84 are the sub-quadratic candidate paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cli_spark.operators.dedup import _SQL_SHINGLES as _DEDUP_SHINGLES_SQL
from cli_spark.operators.similarity import dot, sql_dot
from cli_spark.plans.registry import register
from cli_spark.tables import load_table

# Portable md5-derived bucket in [0, 16): both engines emit lowercase
# hex md5 of the same UTF-8 bytes, and instr/substr are 1-based in both.
_BUCKET = "instr('0123456789abcdef', substr(md5({key}), 1, 1)) - 1"

# q75's all-pairs verify shape refuses inputs past this (module-level
# so the guard test can shrink it) — same contract as dedup.Q72_MAX_DOCS
# and similarity.Q82_MAX_VECS.
Q75_MAX_VECS = 200_000


def _bucket_col(key: str):
    return F.expr(_BUCKET.format(key=key))


@register(
    "q75_embedding_neardup_docs",
    oracle=f"""
WITH dv AS (
  SELECT d.doc_id, d.lang, e.embedding,
         sqrt({sql_dot('e.embedding', 'e.embedding')}) AS nrm
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang_a, b.lang AS lang_b,
       round({sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 6) AS cosine
FROM dv a JOIN dv b ON a.doc_id < b.doc_id
WHERE {sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) > 0.5
""",
    tags=("dedup", "embedding", "cosine"),
)
def q75_embedding_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate *document* pairs: attach each
    document's embedding (doc_id = vec_id), report pairs with cosine
    > 0.5. Completes the mandated dedup family (exact / Jaccard /
    MinHash / SimHash / embedding-cosine).

    Norms are computed once per vector before the pair join. The pair
    stage here is the exact quadratic verify; at corpus scale the
    candidate set comes from LSH buckets (q83) or IVF cells (q84) —
    the hard cap below refuses inputs past ground-truth size, like its
    siblings q72/q82."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    n_vecs = e.count()
    if n_vecs > Q75_MAX_VECS:
        raise ValueError(
            f"q75 is the quadratic verify shape ({n_vecs} vectors > cap "
            f"{Q75_MAX_VECS}); use q83_lsh_ann_buckets or q84_ivf_ann at scale"
        )
    dv = d.join(e, "doc_id").select(
        "doc_id", "lang", "embedding",
        F.sqrt(dot("embedding", "embedding")).alias("nrm"),
    )
    a = dv.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"),
        F.col("embedding").alias("ea"), F.col("nrm").alias("na"),
    )
    b = dv.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"),
        F.col("embedding").alias("eb"), F.col("nrm").alias("nb"),
    )
    cos = dot("ea", "eb") / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(cos > 0.5)
        .select("doc_a", "doc_b", "lang_a", "lang_b", F.round(cos, 6).alias("cosine"))
    )


@register(
    "q96_deterministic_split",
    oracle=f"""
WITH tagged AS (
  SELECT CASE WHEN {_BUCKET.format(key="CAST(doc_id AS VARCHAR)")} < 12 THEN 'train'
              WHEN {_BUCKET.format(key="CAST(doc_id AS VARCHAR)")} < 14 THEN 'val'
              ELSE 'test' END AS split,
         n_chars, lang
  FROM documents
)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM tagged GROUP BY split
""",
    tags=("pipeline", "split", "sampling"),
)
def q96_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 75/12.5/12.5 train/val/test split: the split of a
    document is a pure function of md5(doc_id) — stable under reruns,
    repartitioning, and corpus growth (a doc never migrates between
    splits when new data arrives), unlike ``randomSplit``.

    One narrow projection + a 3-group aggregation: no shuffle of
    document payloads at any scale."""
    d = load_table(spark, sf_dir, "documents")
    bucket = _bucket_col("md5_key")
    return (
        d.withColumn("md5_key", F.encode(F.col("doc_id").cast("string"), "utf-8"))
        .withColumn(
            "split",
            F.when(bucket < 12, "train").when(bucket < 14, "val").otherwise("test"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum(F.col("n_chars").cast("long")).cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


@register(
    "q97_doc_chunking",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
SELECT doc_id,
       (s.start - 1) // 40 AS chunk_id,
       len(list_slice(words, s.start, s.start + 49)) AS n_words,
       array_to_string(list_slice(words, s.start, s.start + 49), ' ') AS chunk_text
FROM w CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(words), 40)) AS start) s
""",
    tags=("pipeline", "chunking"),
)
def q97_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping chunking: 50-word chunks at a 40-word
    stride (10-word overlap) — the standard context-window prep step.

    Pure per-row explode of precomputed slice offsets: linear work,
    zero shuffle; at 100 TB this feeds a `partitionBy(split)` parquet
    sink directly."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    return (
        d.select("doc_id", w.alias("words"))
        .select(
            "doc_id",
            F.col("words"),
            F.explode(F.sequence(F.lit(1), F.size("words"), F.lit(40))).alias("start"),
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / 40).cast("long").alias("chunk_id"),
            F.size(F.slice("words", F.col("start"), 50)).alias("n_words"),
            F.array_join(F.slice("words", F.col("start"), 50), " ").alias("chunk_text"),
        )
    )


@register(
    "q98_weighted_mix",
    oracle=f"""
WITH tagged AS (
  SELECT source, n_chars,
         {_BUCKET.format(key="'mix|' || CAST(doc_id AS VARCHAR)")} AS bucket
  FROM documents
),
kept AS (
  SELECT * FROM tagged
  WHERE (source = 'web' AND bucket < 4)          -- keep 25%
     OR (source = 'wiki' AND bucket < 16)        -- keep 100%
     OR (source NOT IN ('web', 'wiki') AND bucket < 8)  -- keep 50%
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
FROM kept GROUP BY source
""",
    tags=("pipeline", "mixing", "sampling"),
)
def q98_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset mixing: downsample per-source at fixed rates
    (web 25%, wiki 100%, rest 50%) using md5-bucket membership — the
    reproducible analogue of `sampleBy`, whose Bernoulli draws change
    with partitioning. A salted key ('mix|') decorrelates this
    sampling decision from the q96 split assignment.

    Filter + small aggregation: fully pushed down, no payload shuffle."""
    d = load_table(spark, sf_dir, "documents")
    bucket = _bucket_col("md5_key")
    tagged = d.withColumn(
        "md5_key", F.encode(F.concat(F.lit("mix|"), F.col("doc_id").cast("string")), "utf-8")
    ).withColumn("bucket", bucket)
    kept = tagged.filter(
        ((F.col("source") == "web") & (F.col("bucket") < 4))
        | ((F.col("source") == "wiki") & (F.col("bucket") < 16))
        | (~F.col("source").isin("web", "wiki") & (F.col("bucket") < 8))
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
    )


@register(
    "q104_time_rollup",
    oracle="""
SELECT CASE WHEN GROUPING(date_trunc('day', ts)) = 1 THEN NULL
            ELSE strftime(date_trunc('day', ts), '%Y-%m-%d') END AS day,
       CASE WHEN GROUPING(date_trunc('hour', ts)) = 1 THEN NULL
            ELSE strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') END AS hour,
       CAST(GROUPING(date_trunc('day', ts)) * 2
            + GROUPING(date_trunc('hour', ts)) AS INT) AS gid,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS value_sum
FROM events
GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
""",
    tags=("agg", "rollup", "time_hierarchy"),
)
def q104_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy: one ROLLUP pass
    produces hour-level, day-level, and grand-total aggregates (the
    materialization behind multi-resolution dashboards).

    At scale this is a single shuffle on (day, hour) with map-side
    partial aggregation; the result is what a hypertable engine would
    maintain incrementally — here it's one declarative pass the
    streaming path (q100/q103) keeps fresh."""
    from cli_spark.functions.determinism import dsum, ts_str, date_str

    e = load_table(spark, sf_dir, "events")
    keyed = e.select(
        F.date_trunc("day", "ts").alias("day_ts"),
        F.date_trunc("hour", "ts").alias("hour_ts"),
        "value",
    )
    return (
        keyed.rollup("day_ts", "hour_ts")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("value_sum"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .select(
            date_str("day_ts").alias("day"),
            ts_str(F.col("hour_ts")).alias("hour"),
            "gid",
            "n_events",
            "value_sum",
        )
    )


@register(
    "q217_split_balance_audit",
    oracle=f"""
WITH tagged AS (
  SELECT source,
         CASE WHEN {_BUCKET.format(key="CAST(doc_id AS VARCHAR)")} < 12 THEN 'train'
              WHEN {_BUCKET.format(key="CAST(doc_id AS VARCHAR)")} < 14 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
cells AS (
  SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM tagged GROUP BY split, source
),
split_tot AS (
  SELECT split, CAST(SUM(n_docs) AS BIGINT) AS split_total FROM cells GROUP BY split
),
src_tot AS (
  SELECT source, CAST(SUM(n_docs) AS BIGINT) AS src_total FROM cells GROUP BY source
),
grand AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tagged)
SELECT c.split, c.source, c.n_docs,
       CAST(c.n_docs * 1000000 // st.split_total AS BIGINT) AS share_in_split_ppm,
       CAST(so.src_total * 1000000 // g.n AS BIGINT) AS src_share_ppm,
       CAST(abs(c.n_docs * 1000000 // st.split_total
                - so.src_total * 1000000 // g.n) AS BIGINT) AS skew_ppm
FROM cells c
JOIN split_tot st ON c.split = st.split
JOIN src_tot so ON c.source = so.source
CROSS JOIN grand g
""",
    tags=("pipeline", "split", "audit"),
)
def q217_split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-balance audit of the md5-bucket train/val/test assignment
    (q96's buckets): each source's share WITHIN a split vs its share
    of the whole corpus, and the absolute deviation in ppm — the
    stratification sanity check run before trusting a holdout (a
    source over-represented in test makes its eval non-comparable).
    A correct hash split keeps skew_ppm small for every cell; a
    biased key (e.g. splitting on a sorted id range) blows it up.

    Scale shape: one map-side combined groupBy to |splits|×|sources|
    cells; every later relation (split totals, source totals, grand
    total) re-aggregates the cells — the corpus is scanned once."""
    d = load_table(spark, sf_dir, "documents")
    tagged = d.select(
        "source",
        F.when(_bucket_col("CAST(doc_id AS STRING)") < 12, "train")
        .when(_bucket_col("CAST(doc_id AS STRING)") < 14, "val")
        .otherwise("test")
        .alias("split"),
    )
    cells = tagged.groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    split_tot = cells.groupBy("split").agg(
        F.sum("n_docs").cast("long").alias("split_total")
    )
    src_tot = cells.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("src_total")
    )
    grand = cells.agg(F.sum("n_docs").cast("long").alias("n"))
    return (
        cells.join(split_tot, "split")
        .join(src_tot, "source")
        .crossJoin(F.broadcast(grand))
        .select(
            "split",
            "source",
            "n_docs",
            F.expr("n_docs * 1000000 div split_total").cast("long")
            .alias("share_in_split_ppm"),
            F.expr("src_total * 1000000 div n").cast("long").alias("src_share_ppm"),
            F.expr(
                "abs(n_docs * 1000000 div split_total - src_total * 1000000 div n)"
            ).cast("long").alias("skew_ppm"),
        )
    )


@register(
    "q284_epoch_shuffle_audit",
    oracle="""
WITH r1 AS (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY md5('e1|' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
),
r2 AS (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY md5('e2|' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
),
joined AS (
  SELECT r1.rk - r2.rk AS d FROM r1 JOIN r2 ON r1.doc_id = r2.doc_id
),
agg AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS s2,
         CAST(MAX(abs(d)) AS BIGINT) AS max_disp
  FROM joined
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(s2 AS BIGINT) AS sum_d2,
       max_disp,
       CAST((CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1) - 6 * s2)
            * 1000000
            // (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1))
            AS BIGINT) AS rho_ppm,
       CASE WHEN abs(CAST((CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)
                           - 6 * s2) * 1000000
                     // (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1))
                     AS BIGINT)) < 20000
            THEN 1 ELSE 0 END AS epochs_independent
FROM agg
""",
    tags=("pipeline", "shuffle", "determinism", "audit"),
)
def q284_epoch_shuffle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch deterministic shuffle audit: training epochs e1 and
    e2 order the corpus by md5('e{k}|'||doc_id) — reproducible,
    engine-portable "random" shuffles — and the audit proves the two
    epoch orders are statistically independent via the exact Spearman
    rank correlation (q172's 1 − 6Σd²/(n(n²−1)) in ppm, wide-integer
    arithmetic since n³ overflows int64 at corpus scale; both engines
    truncate the signed division identically).

    Scale shape: each epoch's GLOBAL rank uses the q194 two-phase
    pattern — rank within 16 md5-prefix buckets, then add broadcast
    bucket offsets — so no window ever sees more than ~1/16 of the
    corpus in one partition and the plan carries no SinglePartition
    sort over facts. The epoch join shuffles on doc_id; the moment
    rollup is one scalar row."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def epoch_rank(tag: str) -> DataFrame:
        keyed = d.select(
            "doc_id",
            F.md5(F.concat(F.lit(tag + "|"), F.col("doc_id").cast("string"))).alias("k"),
        ).withColumn("bucket", F.substring("k", 1, 1))
        win = Window.partitionBy("bucket").orderBy("k", "doc_id")
        local = keyed.withColumn("lrk", F.row_number().over(win))
        counts = (
            local.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn(
                "off",
                F.sum("c").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
            )
            .select("bucket", F.coalesce("off", F.lit(0)).alias("off"))
        )
        return local.join(F.broadcast(counts), "bucket").select(
            "doc_id", (F.col("off") + F.col("lrk")).alias("rk")
        )

    r1 = epoch_rank("e1")
    r2 = epoch_rank("e2").withColumnRenamed("rk", "rk2")
    joined = r1.join(r2, "doc_id").select((F.col("rk") - F.col("rk2")).alias("d"))
    agg = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.expr("CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0))")
        ).alias("s2"),
        F.max(F.abs(F.col("d"))).cast("long").alias("max_disp"),
    )
    rho = F.expr(
        "CAST((CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1)"
        " - 6 * s2) * 1000000"
        " div (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1))"
        " AS BIGINT)"
    )
    return agg.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("s2").cast("long").alias("sum_d2"),
        "max_disp",
        rho.alias("rho_ppm"),
        F.when(F.abs(rho) < 20000, F.lit(1)).otherwise(F.lit(0))
        .alias("epochs_independent"),
    )


@register(
    "q317_federated_join",
    # The three sides carry identical data to the parquet originals
    # (CSV and JDBC copies are written from them), so the federated
    # plan must produce exactly the all-parquet answer.
    oracle="""
SELECT n.n_name AS nation, r.r_name AS region,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS acctbal_cents
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name, r.r_name
""",
    tags=("sources", "federation", "jdbc", "csv"),
)
def q317_federated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated three-source join — one logical plan over THREE
    storage systems: customers stay in parquet, nation is re-read
    from a CSV export, region is served by the embedded Derby
    DATABASE over JDBC. This is the lakehouse reality at 100 TB —
    facts in columnar files, dimensions in operational stores — and
    the point is that Catalyst treats all three as relations: the
    same broadcast-dimension star-join plan as q17, with column
    pruning pushed into every source (the CSV reader parses only the
    projected columns; the JDBC scan SELECTs only what the plan
    needs). Side materialization is per-(session, dataset) cached and
    byte-identical to the parquet originals, so the federated answer
    must equal the single-source oracle exactly."""
    import os as _os
    import tempfile

    from cli_spark.sources.sinks import read_csv, read_jdbc, write_jdbc

    c = load_table(spark, sf_dir, "customer")
    nation_pq = load_table(spark, sf_dir, "nation")
    region_pq = load_table(spark, sf_dir, "region")

    import hashlib as _hl

    tag = _hl.md5(
        f"{spark.sparkContext.applicationId}|{sf_dir}".encode()
    ).hexdigest()[:12]
    root = _os.path.join(tempfile.gettempdir(), f"cli_spark_fed_{tag}")
    csv_dir = _os.path.join(root, "nation_csv")
    marker = _os.path.join(root, ".ready")
    url = f"jdbc:derby:memory:fed_{tag};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    if not _os.path.exists(marker):
        nation_pq.select("n_nationkey", "n_name", "n_regionkey").coalesce(1)\
            .write.mode("overwrite").option("header", "true").csv(csv_dir)
        write_jdbc(
            region_pq.select("r_regionkey", "r_name"),
            url, "region_fed", mode="overwrite", properties=dict(props),
        )
        _os.makedirs(root, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("ok")
    n = read_csv(
        spark, csv_dir, "n_nationkey long, n_name string, n_regionkey long"
    )
    r = read_jdbc(spark, url, "region_fed", properties=dict(props))
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(n["n_name"].alias("nation"), r["r_name"].alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.round(c["c_acctbal"] * 100).cast("long")).alias("acctbal_cents"),
        )
    )


@register(
    "q321_schema_evolution_merge",
    # The two generations are deterministic doc_id-parity slices of
    # `documents`, so the merged-scan census is fully recomputable:
    # generation-1 files predate the `source` column and must surface
    # NULL for it after the merge.
    oracle="""
SELECT lang,
       1 + doc_id % 2 AS gen,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN doc_id % 2 = 1 THEN source END) AS n_with_source,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang, 1 + doc_id % 2
""",
    tags=("sources", "schema_evolution", "lakehouse"),
)
def q321_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet generations — the lakehouse
    reality that a 100 TB table is written by YEARS of jobs with
    drifting schemas: generation-1 files (even doc_ids) predate the
    `source` column, generation-2 files carry it. One scan with
    `mergeSchema` + partition discovery (`gen=N` directories) reads
    both: Catalyst unions the file schemas, back-fills NULL for
    columns absent in old footers, and exposes the directory key as a
    partition column — no rewrite of historical data. The census
    proves the semantics: every gen-1 row surfaces NULL `source`,
    every gen-2 row keeps it, and n_chars sums survive the merge
    exactly. Generation materialization is per-(session, dataset)
    cached; at scale this is the one-time migration nobody runs
    because merge-on-read is free."""
    import hashlib as _hl
    import os as _os
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    tag = _hl.md5(
        f"{spark.sparkContext.applicationId}|{sf_dir}|evo".encode()
    ).hexdigest()[:12]
    root = _os.path.join(tempfile.gettempdir(), f"cli_spark_evo_{tag}")
    marker = _os.path.join(root, ".ready")
    if not _os.path.exists(marker):
        d.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "lang", "n_chars"
        ).write.mode("overwrite").parquet(_os.path.join(root, "gen=1"))
        d.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang", "n_chars", "source"
        ).write.mode("overwrite").parquet(_os.path.join(root, "gen=2"))
        with open(marker, "w") as fh:
            fh.write("ok")
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", root)
        .parquet(_os.path.join(root, "gen=1"), _os.path.join(root, "gen=2"))
    )
    return merged.groupBy("lang", "gen").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("source").alias("n_with_source"),
        F.sum("n_chars").alias("sum_chars"),
    )


_CASCADE_SQL = """
WITH k AS (SELECT doc_id, md5(text) AS key FROM documents),
keep1 AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY key ORDER BY doc_id) AS r
    FROM k) WHERE r = 1
),
sh0 AS ({shingles}),
sh AS (SELECT sh0.doc_id, sh0.shingles FROM sh0 JOIN keep1 USING (doc_id)),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hx AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS g1,
         CAST(concat('0x', substr(md5(s), 17, 15)) AS BIGINT) AS g2
  FROM ex
),
sig AS (
  SELECT doc_id,
         min(g1) AS h0, min(g1 + g2) AS h1,
         min(g1 + 2 * g2) AS h2, min(g1 + 3 * g2) AS h3
  FROM hx GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band_id, h0 AS band_key FROM sig UNION ALL
  SELECT doc_id, 1, h1 FROM sig UNION ALL
  SELECT doc_id, 2, h2 FROM sig UNION ALL
  SELECT doc_id, 3, h3 FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
rm2 AS (
  SELECT DISTINCT c.doc_b AS doc_id
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b
  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.5
),
keep2 AS (SELECT doc_id FROM keep1 WHERE doc_id NOT IN (SELECT doc_id FROM rm2)),
dv AS (
  SELECT k2.doc_id, e.embedding, sqrt({norm}) AS nrm,
         {signmask} AS mask
  FROM keep2 k2 JOIN embeddings e ON k2.doc_id = e.vec_id
),
ebands AS (
  SELECT doc_id, 0 AS band_id, mask % 256 AS band_key FROM dv UNION ALL
  SELECT doc_id, 1, (mask // 256) % 256 FROM dv UNION ALL
  SELECT doc_id, 2, (mask // 65536) % 256 FROM dv UNION ALL
  SELECT doc_id, 3, (mask // 16777216) % 256 FROM dv
),
ecand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ebands a JOIN ebands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
rm3 AS (
  SELECT DISTINCT c.doc_b AS doc_id
  FROM ecand c
  JOIN dv a ON a.doc_id = c.doc_a
  JOIN dv b ON b.doc_id = c.doc_b
  WHERE {dot_ab} / (a.nrm * b.nrm) > 0.5
),
n0 AS (SELECT COUNT(*) AS n FROM documents),
n1 AS (SELECT COUNT(*) AS n FROM keep1),
n2 AS (SELECT COUNT(*) AS n FROM keep2),
n3 AS (SELECT (SELECT n FROM n2) - COUNT(*) AS n FROM rm3)
SELECT * FROM (
  SELECT '1_exact' AS stage,
         CAST(n0.n AS BIGINT) AS n_in,
         CAST(n0.n - n1.n AS BIGINT) AS n_removed,
         CAST(n1.n AS BIGINT) AS n_out,
         CAST((n0.n - n1.n) * 1000000 {div} n0.n AS BIGINT) AS removed_ppm
  FROM n0, n1
  UNION ALL
  SELECT '2_minhash', CAST(n1.n AS BIGINT), CAST(n1.n - n2.n AS BIGINT),
         CAST(n2.n AS BIGINT),
         CAST((n1.n - n2.n) * 1000000 {div} n1.n AS BIGINT)
  FROM n1, n2
  UNION ALL
  SELECT '3_embedding', CAST(n2.n AS BIGINT), CAST(n2.n - n3.n AS BIGINT),
         CAST(n3.n AS BIGINT),
         CAST((n2.n - n3.n) * 1000000 {div} n2.n AS BIGINT)
  FROM n2, n3
)
"""


@register(
    "q385_dedup_cascade_audit",
    oracle=_CASCADE_SQL.format(
        shingles=_DEDUP_SHINGLES_SQL,
        norm=sql_dot("e.embedding", "e.embedding"),
        dot_ab=sql_dot("a.embedding", "b.embedding"),
        signmask=("list_sum(list_transform(generate_series(1, 32), i -> "
                  "CASE WHEN e.embedding[i] > 0 THEN (1::BIGINT << (i - 1)) "
                  "ELSE 0::BIGINT END))"),
        div="//",
    ),
    tags=("dedup", "pipeline", "cascade"),
)
def q385_dedup_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup CASCADE marginal-yield audit — the RefinedWeb/FineWeb
    pipeline-composition measurement: run the three dedup families in
    their production order (exact md5 keys -> MinHash-LSH near-dup ->
    embedding-cosine semantic) and report each stage's marginal
    removals ON THE PREVIOUS STAGE'S SURVIVORS, which is the number a
    curation team actually budgets by (a stage's standalone yield
    overstates its value when earlier stages already caught the same
    docs). Stage rules are the graded family's own: q71 keep-first
    for exact, q73 banded signatures + exact-Jaccard >= 0.5 verify
    with drop-the-greater for near-dup, q75 cosine > 0.5 for
    semantic. Census rows: (stage, n_in, n_removed, n_out, ppm).

    Scale shape: stage 2 is the q73 plan (banded MinHash candidates,
    never all-pairs); stage 3 is sign-LSH banded the same way — four
    8-bit bands of the 32-dim sign mask generate candidates, exact
    fixed-point cosine verifies only band-sharing pairs (Charikar
    SimHash banding; band recall ≈ 1-(1-(1-θ/π)^8)^4, high for true
    near-dups, deliberately <1 for borderline pairs — the production
    trade SemDeDup/q83 make, mirrored exactly in the oracle). The
    cascade shuffles only doc_id key sets and band keys between
    stages; nothing is quadratic at any stage. Redesigned from an
    all-pairs stage-3 verify after it measured 55 s at sf0.1 — the
    same mega-bucket lesson as the r7 q267/q290 fixes."""
    from cli_spark.operators.dedup import (
        band_pairs, band_rows, minhash_signature, shingles_df)

    docs = load_table(spark, sf_dir, "documents")
    # n0/n1 in ONE aggregation (round 16, VERDICT r15 item 5): keep1
    # holds exactly one doc per md5 key (row_number = 1), so |keep1|
    # is the number of distinct keys — two serialized count() actions
    # fused into a single job. keep1 itself stays persisted for the
    # stage-2 joins; its cache materializes inside the n2 action.
    # NULL text has a NULL key, which keep1's window groups as one
    # key but countDistinct skips; coalescing it to '' (never an md5)
    # counts that group once, as keep1 keeps it.
    cnt = docs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.countDistinct(F.coalesce(
            F.md5(F.encode("text", "utf-8")), F.lit(""))).alias("n1"),
    ).collect()[0]
    n0, n1 = cnt["n0"], cnt["n1"]
    w = Window.partitionBy("key").orderBy("doc_id")
    keep1 = (
        docs.select("doc_id", F.md5(F.encode("text", "utf-8")).alias("key"))
        .withColumn("r", F.row_number().over(w))
        .filter("r = 1")
        .select("doc_id")
    ).persist()
    # stage 2: q73 signature construction on survivors. fanout=True
    # (round-16, guide §2.5/§1.2): without it the single-file scan ran
    # the split/transform/array_distinct shingle expression on ONE
    # task — the post-hoc repartition this replaced landed its
    # Exchange ABOVE the projection; fanning the raw docs out first
    # parallelizes the expression itself (phase timing: the signature
    # materialization was 4.0 s of the query's 6.3 s warm).
    sh = (
        shingles_df(spark, sf_dir, fanout=True)
        .join(keep1, "doc_id")
        .select("doc_id", "shingles")
    )
    sig = minhash_signature(sh).persist()
    cand = band_pairs(band_rows(sig))
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sha"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("shb"))
    jac = (
        F.size(F.array_intersect("sha", "shb")).cast("double")
        / F.size(F.array_distinct(F.concat("sha", "shb")))
    )
    rm2 = (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .filter(jac >= 0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    keep2 = keep1.join(rm2, "doc_id", "left_anti").persist()
    n2 = keep2.count()
    sig.unpersist()
    # stage 3: q75 cosine on survivors (quadratic verify, capped)
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    signmask = (
        "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> "
        "acc + IF(embedding[i] > CAST(0 AS DOUBLE), "
        "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"
    )
    dv = keep2.join(e, "doc_id").select(
        "doc_id", "embedding",
        F.sqrt(dot("embedding", "embedding")).alias("nrm"),
        F.expr(signmask).alias("mask"),
    ).persist()
    ebands = dv.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_id"),
                    F.expr(f"(mask div {256 ** i}) % 256").alias("band_key"),
                )
                for i in range(4)
            ])
        ).alias("b"),
    ).select("doc_id", "b.band_id", "b.band_key")
    ecand = (
        ebands.alias("x")
        .join(
            ebands.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db"))
        .distinct()
    )
    a = dv.select(F.col("doc_id").alias("da"), F.col("embedding").alias("ea"),
                  F.col("nrm").alias("na"))
    b = dv.select(F.col("doc_id").alias("db"), F.col("embedding").alias("eb"),
                  F.col("nrm").alias("nb"))
    rm3_n = (
        ecand.join(a, "da").join(b, "db")
        .filter(dot("ea", "eb") / (F.col("na") * F.col("nb")) > 0.5)
        .select("db").distinct().count()
    )
    dv.unpersist()
    keep1.unpersist()
    keep2.unpersist()
    n3 = n2 - rm3_n
    rows = [
        ("1_exact", n0, n0 - n1, n1, (n0 - n1) * 1000000 // n0),
        ("2_minhash", n1, n1 - n2, n2, (n1 - n2) * 1000000 // n1),
        ("3_embedding", n2, n2 - n3, n3, (n2 - n3) * 1000000 // n2),
    ]
    return spark.createDataFrame(
        rows,
        "stage string, n_in long, n_removed long, n_out long, removed_ppm long",
    )


@register(
    "q400_corpus_pipeline",
    oracle="""
WITH staged AS (
  SELECT lang, doc_id,
         len(list_filter(string_split(text, ' '), x -> x != '')) AS tok,
         length(replace(text, ' ', '')) AS n_chars,
         regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm_key
  FROM documents
),
keyed AS (
  SELECT *,
         row_number() OVER (PARTITION BY norm_key ORDER BY doc_id) AS rn
  FROM staged
),
flagged AS (
  SELECT lang, tok,
         (rn = 1) AS kept_dedup,
         (rn = 1 AND tok BETWEEN 30 AND 5000
          AND n_chars <= 12 * tok) AS kept_quality
  FROM keyed
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(COUNT(*) FILTER (WHERE kept_dedup) AS BIGINT)
         AS n_after_dedup,
       CAST(COUNT(*) FILTER (WHERE kept_quality) AS BIGINT)
         AS n_after_quality,
       CAST(COALESCE(SUM(tok) FILTER (WHERE kept_quality), 0) AS BIGINT)
         AS tok_sum_final
FROM flagged
GROUP BY lang
""",
    tags=("pipeline", "dedup", "quality", "flagship"),
)
def q400_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED CORPUS PIPELINE (the C4/RefinedWeb production path as
    ONE declarative plan): normalize -> exact-dedup keep-first ->
    quality gate -> per-lang yield ledger, with per-stage loss
    accounting so the census shows exactly where documents die —
    the number every data team reports per ingest batch. Stages:
    (1) normalization key = casefolded whitespace-collapsed text
    (q347's ladder picked this keying); (2) dedup keeps the min
    doc_id per key (one window pass — no groupBy+join back);
    (3) quality gate: 30 <= ws-tokens <= 5000 and mean token length
    <= 12 chars (the cheap Gopher-style screens that don't need a
    model). Plan economics at 100 TB: ONE scan of the corpus, ONE
    shuffle on the dedup key, ONE aggregation on lang — the stages
    compose as column expressions and a window, not as materialized
    intermediate datasets, which is the whole point of declaring the
    pipeline in the engine instead of chaining batch jobs."""
    d = load_table(spark, sf_dir, "documents")
    tok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    staged = d.select(
        "lang",
        "doc_id",
        tok.alias("tok"),
        F.length(F.regexp_replace("text", " ", "")).alias("n_chars"),
        F.regexp_replace(F.lower("text"), r"\s+", " ").alias("norm_key"),
    )
    keyed = staged.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("norm_key").orderBy(F.col("doc_id").asc())
        ),
    )
    kept_dedup = F.col("rn") == 1
    kept_quality = (
        kept_dedup
        & F.col("tok").between(30, 5000)
        & (F.col("n_chars") <= 12 * F.col("tok"))
    )
    return keyed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.count_if(kept_dedup).alias("n_after_dedup"),
        F.count_if(kept_quality).alias("n_after_quality"),
        F.coalesce(F.sum(F.when(kept_quality, F.col("tok"))), F.lit(0))
        .alias("tok_sum_final"),
    )


@register(
    "q412_lexical_semantic_agreement",
    oracle=f"""
WITH sh AS ({_DEDUP_SHINGLES_SQL}),
sz AS (SELECT doc_id, shingles, len(shingles) AS n
       FROM sh WHERE len(shingles) > 0),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sz),
lex AS (
  SELECT p.doc_a, p.doc_b
  FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) p
  JOIN sz sa ON sa.doc_id = p.doc_a
  JOIN sz sb ON sb.doc_id = p.doc_b
  WHERE 2 * p.inter >= sa.n + sb.n - p.inter
),
dv AS (
  SELECT d.doc_id, e.embedding,
         sqrt({sql_dot('e.embedding', 'e.embedding')}) AS nrm
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
sem AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM dv a JOIN dv b ON a.doc_id < b.doc_id
  WHERE {sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) > 0.5
),
u AS (
  SELECT COALESCE(l.doc_a, s.doc_a) AS doc_a,
         COALESCE(l.doc_b, s.doc_b) AS doc_b,
         l.doc_a IS NOT NULL AS is_lex,
         s.doc_a IS NOT NULL AS is_sem
  FROM lex l
  FULL OUTER JOIN sem s ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b
)
SELECT CAST(COUNT(*) FILTER (WHERE is_lex) AS BIGINT) AS n_lexical,
       CAST(COUNT(*) FILTER (WHERE is_sem) AS BIGINT) AS n_semantic,
       CAST(COUNT(*) FILTER (WHERE is_lex AND is_sem) AS BIGINT) AS n_both,
       CAST(COUNT(*) FILTER (WHERE is_lex AND NOT is_sem) AS BIGINT)
         AS n_lexical_only,
       CAST(COUNT(*) FILTER (WHERE is_sem AND NOT is_lex) AS BIGINT)
         AS n_semantic_only
FROM u
""",
    tags=("dedup", "audit", "lexical", "semantic"),
)
def q412_lexical_semantic_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEXICAL vs SEMANTIC near-duplicate AGREEMENT audit — the
    curation measurement that decides how many dedup passes a corpus
    needs: word-3-gram Jaccard >= 0.5 pairs (surface duplicates —
    boilerplate, syndication) against embedding-cosine > 0.5 pairs
    (meaning duplicates — paraphrase, translation-style), full-outer
    joined into a confusion census. n_lexical_only is what semantic
    dedup alone would MISS (near-verbatim text whose embeddings
    drift); n_semantic_only is what lexical dedup alone would miss
    (rewrites) — the two numbers justify running q73-style AND
    q75-style passes (q385's cascade stages, here quantified against
    EXACT ground truth rather than the cascade's approximations).
    Lexical pairs come from q392's lossless prefix-filter join (not
    all-pairs); the semantic side is the exact quadratic verify with
    q75's scale cap — at corpus scale its candidates come from q83
    LSH buckets / q84 IVF cells with this same census shape."""
    from cli_spark.operators.dedup import shingles_df

    # lexical side: q392's prefix-filtered exact-Jaccard relation
    sh = (
        shingles_df(spark, sf_dir, fanout=True)
        .filter(F.size("shingles") > 0)
        .select("doc_id", "shingles", F.size("shingles").alias("n"))
    )
    ex = sh.select("doc_id", "n", F.explode("shingles").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = ex.join(dfreq, "s").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.col("df").asc(),
                                                 F.col("s").asc())
        ),
    )
    prefix = ranked.filter(
        F.col("rk") <= F.floor(F.col("n") / 2) + 1
    ).select("doc_id", "s")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"),
              (F.col("a.s") == F.col("b.s"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    av = sh.select(F.col("doc_id").alias("doc_a"),
                   F.col("shingles").alias("sa"), F.col("n").alias("na"))
    bv = sh.select(F.col("doc_id").alias("doc_b"),
                   F.col("shingles").alias("sb"), F.col("n").alias("nb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    lex = (
        cand.join(av, "doc_a").join(bv, "doc_b")
        .withColumn("inter", inter)
        .filter(2 * F.col("inter") >= F.col("na") + F.col("nb")
                - F.col("inter"))
        .select("doc_a", "doc_b")
        .withColumn("is_lex", F.lit(True))
    )
    # semantic side: q75's exact cosine relation (capped verify shape)
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    if e.count() > Q75_MAX_VECS:
        raise ValueError("q412 semantic side exceeds the verify cap; "
                         "use LSH/IVF candidates at scale")
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    dv = d.join(e, "doc_id").select(
        "doc_id", "embedding",
        F.sqrt(dot("embedding", "embedding")).alias("nrm"),
    )
    a = dv.select(F.col("doc_id").alias("doc_a"),
                  F.col("embedding").alias("ea"), F.col("nrm").alias("na2"))
    b = dv.select(F.col("doc_id").alias("doc_b"),
                  F.col("embedding").alias("eb"), F.col("nrm").alias("nb2"))
    cos = dot("ea", "eb") / (F.col("na2") * F.col("nb2"))
    sem = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(cos > 0.5)
        .select("doc_a", "doc_b")
        .withColumn("is_sem", F.lit(True))
    )
    u = lex.join(sem, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("is_lex", F.lit(False)).alias("is_lex"),
        F.coalesce("is_sem", F.lit(False)).alias("is_sem"),
    )
    return u.agg(
        F.count_if(F.col("is_lex")).alias("n_lexical"),
        F.count_if(F.col("is_sem")).alias("n_semantic"),
        F.count_if(F.col("is_lex") & F.col("is_sem")).alias("n_both"),
        F.count_if(F.col("is_lex") & ~F.col("is_sem"))
        .alias("n_lexical_only"),
        F.count_if(F.col("is_sem") & ~F.col("is_lex"))
        .alias("n_semantic_only"),
    )
