"""Data-layout and scan-pruning operators: Z-order clustering and a
portable Bloom-filter build/probe.

Both are 100-TB techniques whose *math* must be exact and portable:

* Z-ordering decides the physical sort key of a multi-dimensionally
  filtered table. Sorting by the interleaved-bit z-value gives every
  file tight min/max ranges on BOTH dimensions, so parquet zone maps
  prune scans for either predicate — the layout trick behind
  Delta/Iceberg OPTIMIZE ZORDER. Here the z-value is computed with
  pure integer bit-ops (codegen'd, shuffle-free) and the query proves
  the locality property: bucketing by z-range yields buckets whose
  per-dimension spans are narrow.
* Bloom-filter pruning builds a tiny bit-array from the build side of
  a selective join and filters the probe side BEFORE the shuffle —
  Spark's own runtime bloom-filter join does exactly this; the
  explicit version here works on any engine, is deterministic
  (md5-derived bit positions, never engine-native hashing), and
  reports its false-positive rate against the exact join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.window import Window
from pyspark.sql import functions as F

from cli_spark.plans.registry import register
from cli_spark.session import materialize_local
from cli_spark.tables import load_table

# ------------------------------------------------------------------ z-order

_Z_BITS = 16


def _z_spark(x: str, y: str) -> Column:
    """Interleave the low 16 bits of x (even positions) and y (odd):
    one long arithmetic expression, fully inside codegen."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
    return F.expr(" + ".join(terms))


def _z_duck(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZX = "CAST(o_custkey AS BIGINT)"
# days since epoch fits 16 bits through 2149
_ZY_DUCK = "CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)"
_ZY_SPARK = "CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)"


@register(
    "q113_zorder_locality",
    oracle=f"""
WITH z AS (
  SELECT o_custkey,
         datediff('day', DATE '1970-01-01', o_orderdate) AS day_no,
         {_z_duck(_ZX, _ZY_DUCK)} AS zval
  FROM orders
),
b AS (SELECT *, CAST(zval // 16384 AS BIGINT) AS z_bucket FROM z)
SELECT z_bucket, COUNT(*) AS n_orders,
       min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
       min(day_no) AS min_day, max(day_no) AS max_day
FROM b GROUP BY z_bucket
""",
    tags=("layout", "zorder", "pruning"),
)
def q113_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout statistics for orders clustered on
    (o_custkey, order day): interleave the two 16-bit keys into a
    z-value, bucket by z-range (the 'file' a sorted write would put
    the row in), and report each bucket's min/max on both dimensions.
    Tight per-bucket spans on BOTH columns are exactly what makes
    parquet min/max zone maps prune either predicate after a
    ``sortWithinPartitions(z)`` write. The z-value is 64 integer
    bit-ops — no shuffle, no UDF."""
    o = load_table(spark, sf_dir, "orders")
    z = o.select(
        "o_custkey",
        F.expr(_ZY_SPARK).alias("day_no"),
        _z_spark(_ZX, _ZY_SPARK).alias("zval"),
    )
    return (
        z.withColumn("z_bucket", (F.col("zval") / 16384).cast("long"))
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("day_no").alias("min_day"),
            F.max("day_no").alias("max_day"),
        )
    )


# ------------------------------------------------------------- bloom filter

_BLOOM_BITS = 1024  # m
_BLOOM_WORDS = _BLOOM_BITS // 32  # 32-bit words: max shift 31, no signed-shift overflow in either engine
_N_HASHES = 3  # k

# 12-bit value from 3 lowercase-hex md5 chars at offset 3j+1 (1-based).
_HEXVAL = "(instr('0123456789abcdef', substr(md5({key}), {pos}, 1)) - 1)"


def _bit_expr(key: str, j: int) -> str:
    """bit_j(key) in [0, 1024): 12 md5 bits mod 1024 — identical text
    is valid Spark SQL and DuckDB SQL."""
    p = 3 * j + 1
    v = (
        f"({_HEXVAL.format(key=key, pos=p)} * 256"
        f" + {_HEXVAL.format(key=key, pos=p + 1)} * 16"
        f" + {_HEXVAL.format(key=key, pos=p + 2)})"
    )
    return f"({v} % {_BLOOM_BITS})"


def _wm_exprs(key: str, dialect: str) -> list[tuple[str, str]]:
    """[(word_expr, mask_expr)] for each of the k hash functions.
    Integer division and bit-shift spellings differ per engine
    (Spark: ``div``/``shiftleft``; DuckDB: ``//``/``<<``) — the bit
    positions themselves are byte-identical md5 arithmetic."""
    out = []
    for j in range(_N_HASHES):
        bit = _bit_expr(key, j)
        if dialect == "spark":
            word = f"CAST(({bit}) div 32 AS BIGINT)"
            mask = f"shiftleft(CAST(1 AS BIGINT), ({bit}) % 32)"
        else:
            word = f"CAST(({bit}) // 32 AS BIGINT)"
            mask = f"(CAST(1 AS BIGINT) << (({bit}) % 32))"
        out.append((word, mask))
    return out


_CUST_KEY_SPARK = "CAST(c_custkey AS STRING)"
_CUST_KEY_DUCK = "CAST(c_custkey AS VARCHAR)"
_ORD_KEY_SPARK = "CAST(o_custkey AS STRING)"
_ORD_KEY_DUCK = "CAST(o_custkey AS VARCHAR)"


@register(
    "q115_bloom_filter_probe",
    oracle=f"""
WITH src AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
bits AS ({" UNION ALL ".join(f"SELECT {w} AS word, {m} AS mask FROM src" for w, m in _wm_exprs(_CUST_KEY_DUCK, "duck"))}),
bloom AS (SELECT word, bit_or(mask) AS bits FROM bits GROUP BY word),
probe AS (
  SELECT o.o_orderkey, o.o_custkey,
         {" AND ".join(
             f"coalesce((SELECT b.bits & {m} = {m} FROM bloom b WHERE b.word = {w}), FALSE)"
             for w, m in _wm_exprs(_ORD_KEY_DUCK, "duck")
         )} AS bloom_pass
  FROM orders o
),
truth AS (
  SELECT o_orderkey, TRUE AS is_member FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM src)
)
SELECT COUNT(*) AS total_orders,
       CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS bloom_candidates,
       CAST(SUM(CASE WHEN t.is_member THEN 1 ELSE 0 END) AS BIGINT) AS true_members,
       CAST(SUM(CASE WHEN bloom_pass AND t.is_member IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS false_positives,
       CAST(SUM(CASE WHEN NOT bloom_pass AND t.is_member THEN 1 ELSE 0 END) AS BIGINT)
         AS false_negatives
FROM probe p LEFT JOIN truth t ON p.o_orderkey = t.o_orderkey
""",
    tags=("layout", "bloom", "pruning"),
)
def q115_bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom-filter semi-join pruning: build a 1024-bit / 3-hash
    bloom over BUILDING-segment customer keys (32 bit_or-aggregated
    words — bytes, not a shuffled table), probe every order's custkey
    against it, and audit candidates vs the exact semi-join:
    false_negatives MUST be 0 (bloom never drops a member);
    false_positives is the price of the 128-byte filter.

    At scale the bloom words broadcast to every task, so the probe is
    a scan-side filter that cuts the join shuffle by the filter's
    selectivity — the manual form of Spark's runtime bloom join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    src = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")

    wm = _wm_exprs(_CUST_KEY_SPARK, "spark")
    bits = None
    for w, m in wm:
        part = src.select(
            F.expr(w).alias("word"), F.expr(m).alias("mask")
        )
        bits = part if bits is None else bits.unionAll(part)
    bloom = bits.groupBy("word").agg(F.bit_or("mask").alias("bits"))

    # probe: join each order to the (≤32-row, broadcast) bloom words it
    # needs; all-k-bits-set == member candidate
    probe = o.select("o_orderkey", "o_custkey")
    for j, (w, m) in enumerate(_wm_exprs(_ORD_KEY_SPARK, "spark")):
        bj = bloom.select(
            F.col("word").alias(f"w{j}"), F.col("bits").alias(f"bits{j}")
        )
        probe = (
            probe.withColumn(f"word{j}", F.expr(w))
            .withColumn(f"mask{j}", F.expr(m))
            .join(F.broadcast(bj), F.col(f"word{j}") == F.col(f"w{j}"), "left")
            .withColumn(
                f"pass{j}",
                F.coalesce(
                    F.col(f"bits{j}").bitwiseAND(F.col(f"mask{j}")) == F.col(f"mask{j}"),
                    F.lit(False),
                ),
            )
        )
    probe = probe.withColumn(
        "bloom_pass", F.col("pass0") & F.col("pass1") & F.col("pass2")
    )
    # truth audit WITHOUT a fact-fact self-join: membership is just a
    # broadcast left join against the (dimension-sized) key set, so the
    # whole audit is one scan of orders + broadcast joins — the fact
    # side never shuffles.
    joined = probe.join(
        F.broadcast(src), probe["o_custkey"] == src["c_custkey"], "left"
    ).withColumn("is_member", F.col("c_custkey").isNotNull())
    return joined.agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).cast("long").alias("bloom_candidates"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0)).cast("long").alias("true_members"),
        F.sum(F.when(F.col("bloom_pass") & ~F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("false_positives"),
        F.sum(F.when(~F.col("bloom_pass") & F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("false_negatives"),
    )


# q252: the two physical layouts compared — 64 date-sorted "files"
# (buckets cut at row-count quantile boundaries of the sort column,
# derived from a day census, NOT from a global ntile window) vs 64
# hash-scattered files; and the scan predicate a reader would push.
_N_FILES = 64
_SQL_DAY = "epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000"
_SQL_D1 = "epoch_us(TIMESTAMP '1995-03-01') // 86400000000"
_SQL_D2 = "epoch_us(TIMESTAMP '1995-05-31') // 86400000000"


@register(
    "q252_zonemap_skipping",
    oracle=f"""
WITH days AS (
  SELECT {_SQL_DAY} AS day, COUNT(*) AS c FROM lineitem GROUP BY 1
),
cum AS (
  SELECT day, c,
         SUM(c) OVER (ORDER BY day ASC) - c AS cum_before,
         SUM(c) OVER () AS total
  FROM days
),
sorted_zone AS (
  SELECT CAST(cum_before * {_N_FILES} // total AS BIGINT) AS file_id,
         MIN(day) AS min_day, MAX(day) AS max_day,
         CAST(SUM(c) AS BIGINT) AS n_rows
  FROM cum GROUP BY 1
),
hash_zone AS (
  SELECT (instr('0123456789abcdef',
            substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                       CAST(l_linenumber AS VARCHAR)), 1, 1)) - 1) * 4
         + instr('0123456789abcdef',
             substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                        CAST(l_linenumber AS VARCHAR)), 2, 1)) - 1 AS file_id,
         MIN({_SQL_DAY}) AS min_day, MAX({_SQL_DAY}) AS max_day,
         COUNT(*) AS n_rows
  FROM lineitem GROUP BY 1
),
tagged AS (
  SELECT 'shipdate_sorted' AS layout, file_id, n_rows,
         CASE WHEN max_day < {_SQL_D1} OR min_day > {_SQL_D2} THEN 1 ELSE 0 END AS skip
  FROM sorted_zone
  UNION ALL
  SELECT 'hash_scattered', file_id, n_rows,
         CASE WHEN max_day < {_SQL_D1} OR min_day > {_SQL_D2} THEN 1 ELSE 0 END
  FROM hash_zone
)
SELECT layout,
       COUNT(*) AS n_files,
       CAST(SUM(skip) AS BIGINT) AS files_skipped,
       CAST(SUM(CASE WHEN skip = 1 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped,
       CAST(SUM(n_rows) AS BIGINT) AS rows_total,
       CAST(SUM(CASE WHEN skip = 1 THEN n_rows ELSE 0 END) * 1000000
            // SUM(n_rows) AS BIGINT) AS skip_ppm
FROM tagged
GROUP BY layout
""",
    tags=("layout", "zonemap", "pruning"),
)
def q252_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file-skipping audit: cut lineitem into 64 'files'
    under two layouts — shipdate-SORTED (file boundaries at row-count
    quantiles of the sort column, derived from a day census with one
    tiny cumulative window, never a global ntile over the facts) and
    HASH-scattered — compute each file's (min, max) shipdate zone map,
    and count how many files a 3-month predicate can skip. The sorted
    layout skips ~95% of rows, the hash layout ~0 — the measured
    argument for sort-ordered writes (q113's z-order is the 2-D
    variant) that row-group pruning at 100 TB rests on. The hash-side
    zone maps are one hash aggregation; map-side combine reduces each
    scan partition to ≤64 rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000").alias("day"),
    )
    d1 = F.expr("unix_micros(TIMESTAMP '1995-03-01') div 86400000000")
    d2 = F.expr("unix_micros(TIMESTAMP '1995-05-31') div 86400000000")

    days = li.groupBy("day").agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = days.select(
        "day",
        "c",
        (F.sum("c").over(w_cum) - F.col("c")).alias("cum_before"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
    )
    sorted_zone = (
        cum.select(
            F.expr(f"cum_before * {_N_FILES} div total").alias("file_id"), "day", "c"
        )
        .groupBy("file_id")
        .agg(F.min("day").alias("min_day"), F.max("day").alias("max_day"),
             F.sum("c").alias("n_rows"))
    )
    hash_key = (
        "CAST(l_orderkey AS STRING) || ':' || CAST(l_linenumber AS STRING)"
    )
    hash_zone = (
        li.select(
            F.expr(
                f"(instr('0123456789abcdef', substr(md5({hash_key}), 1, 1)) - 1) * 4"
                f" + instr('0123456789abcdef', substr(md5({hash_key}), 2, 1)) - 1"
            ).alias("file_id"),
            "day",
        )
        .groupBy("file_id")
        .agg(F.min("day").alias("min_day"), F.max("day").alias("max_day"),
             F.count(F.lit(1)).alias("n_rows"))
    )
    skip = lambda df: F.when((F.col("max_day") < d1) | (F.col("min_day") > d2), 1).otherwise(0)
    tagged = (
        sorted_zone.select(F.lit("shipdate_sorted").alias("layout"), "n_rows",
                           skip(sorted_zone).alias("skip"))
        .unionByName(
            hash_zone.select(F.lit("hash_scattered").alias("layout"), "n_rows",
                             skip(hash_zone).alias("skip"))
        )
    )
    return tagged.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("skip").alias("files_skipped"),
        F.sum(F.when(F.col("skip") == 1, F.col("n_rows")).otherwise(0)).alias("rows_skipped"),
        F.sum("n_rows").alias("rows_total"),
    ).select(
        "layout",
        "n_files",
        "files_skipped",
        "rows_skipped",
        "rows_total",
        F.expr("rows_skipped * 1000000 div rows_total").alias("skip_ppm"),
    )


@register(
    "q336_small_file_compaction",
    # Both phases' row counts and exact cent sums come from the same
    # deterministic lineitem slice; file counts are fixed by the
    # construction (64 hash-scattered writers → 4 compacted).
    oracle="""
WITH src AS (
  SELECT l_orderkey, l_extendedprice FROM lineitem WHERE l_orderkey % 4 = 0
),
census AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents
  FROM src
)
SELECT 'before' AS phase, 64 AS n_files, n_rows, price_cents FROM census
UNION ALL
SELECT 'after', 4, n_rows, price_cents FROM census
""",
    tags=("layout", "compaction", "maintenance"),
)
def q336_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance job every
    streaming/incremental sink eventually needs: a 64-file
    round-robin-scattered layout (what per-batch appends produce; at 100 TB
    the 'millions of tiny files' problem that wrecks scan planning
    and NameNode/manifest metadata) is compacted by one
    repartition-rewrite into 4 right-sized files. The graded census
    proves the compaction moved BYTES and not data: row count and
    exact cent sum identical in both phases, file counts fixed by
    construction — read back from disk, not assumed.

    Scale shape: compaction is a single shuffle-write sized by target
    file count (in production: target bytes / file via
    maxRecordsPerFile); the audit scans both layouts once. Layout
    materialization is per-(session, dataset) cached."""
    import hashlib as _hl
    import os as _os
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 4 == 0
    ).select("l_orderkey", "l_extendedprice")
    tag = _hl.md5(
        f"{spark.sparkContext.applicationId}|{sf_dir}|compact".encode()
    ).hexdigest()[:12]
    root = _os.path.join(tempfile.gettempdir(), f"cli_spark_compact_{tag}")
    small, big = _os.path.join(root, "small"), _os.path.join(root, "big")
    marker = _os.path.join(root, ".ready")
    if not _os.path.exists(marker):
        # Round-robin repartition (no key): rows are dealt evenly, so
        # all 64 writers produce a file for any input ≥ 64 rows —
        # hash-by-key would leave empty partitions (→ no part file,
        # oracle mismatch) at small or skewed scale factors (ADVICE
        # r7), and round-robin is also what per-batch appends produce.
        li.repartition(64).write.mode("overwrite").parquet(small)
        spark.read.parquet(small).repartition(4).write.mode("overwrite").parquet(big)
        with open(marker, "w") as fh:
            fh.write("ok")

    def phase(name: str, path: str) -> DataFrame:
        n_files = len([f for f in _os.listdir(path) if f.endswith(".parquet")])
        df = spark.read.parquet(path)
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .alias("price_cents"),
        ).select(
            F.lit(name).alias("phase"),
            F.lit(n_files).alias("n_files"),
            "n_rows",
            "price_cents",
        )

    return phase("before", small).unionByName(phase("after", big))


@register(
    "q360_metadata_columns",
    # The layout is deterministic (one file per l_returnflag partition
    # via repartition-by-key before partitionBy), so per-partition row
    # counts, the row_index span, and the partition value recovered
    # from _metadata.file_path reduce to a plain census of the slice.
    oracle="""
SELECT l_returnflag AS part_value,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS n_files,
       CAST(COUNT(*) - 1 AS BIGINT) AS max_row_index,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem
WHERE l_orderkey % 3 = 0
GROUP BY l_returnflag
""",
    tags=("layout", "metadata", "scan"),
)
def q360_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden `_metadata` scan columns (Spark 3.5+: file_path,
    file_name, file_size, row_index — the provenance surface behind
    per-file debugging, exactly-once file compaction and row-level
    lineage): a returnflag-partitioned layout is written (one file
    per partition by construction), read back, and the census is
    computed ENTIRELY from metadata — the partition value is
    regexp-recovered from `_metadata.file_path` (never read from the
    data column), file identity from `file_name`, and the per-file
    `row_index` span must be exactly 0..n−1 (contiguous, no gaps) —
    while exact cent sums prove the rows themselves survived the
    round trip. A scan that mis-attributes rows to files or breaks
    row_index contiguity mismatches.

    Scale shape: one write shuffle keyed by the partition column, one
    metadata-projecting scan; the census is partition-count-sized."""
    import hashlib as _hl
    import os as _os
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 3 == 0
    ).select("l_orderkey", "l_returnflag", "l_extendedprice")
    tag = _hl.md5(
        f"{spark.sparkContext.applicationId}|{sf_dir}|meta".encode()
    ).hexdigest()[:12]
    root = _os.path.join(tempfile.gettempdir(), f"cli_spark_meta_{tag}")
    marker = _os.path.join(root, ".ready")
    if not _os.path.exists(marker):
        (
            li.repartition("l_returnflag")
            .write.mode("overwrite")
            .partitionBy("l_returnflag")
            .parquet(root)
        )
        with open(marker, "w") as fh:
            fh.write("ok")
    back = spark.read.parquet(root).select(
        F.regexp_extract(
            F.col("_metadata.file_path"), r"l_returnflag=([^/]+)/", 1
        ).alias("part_value"),
        F.col("_metadata.file_name").alias("file_name"),
        F.col("_metadata.row_index").alias("row_index"),
        "l_extendedprice",
    )
    per_file = back.groupBy("part_value", "file_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("row_index").alias("min_ri"),
        F.max("row_index").alias("max_ri"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .alias("price_cents"),
    )
    # row_index contract: contiguous 0..n−1 within each file
    bad = per_file.filter(
        (F.col("min_ri") != 0) | (F.col("max_ri") != F.col("n_rows") - 1)
    ).count()
    if bad:
        raise ValueError(f"row_index not contiguous in {bad} files")
    return per_file.groupBy("part_value").agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.max("max_ri").cast("long").alias("max_row_index"),
        F.sum("price_cents").cast("long").alias("price_cents"),
    )


@register(
    "q362_max_records_per_file",
    # One writer task (repartition(1)) + maxRecordsPerFile=1500 makes
    # the file census pure arithmetic: ceil(n/1500) files, every file
    # 1500 rows except one remainder file; exact cent conservation.
    oracle="""
WITH src AS (
  SELECT l_extendedprice FROM lineitem WHERE l_orderkey % 5 = 0
),
n AS (SELECT COUNT(*) AS cnt,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS price_cents
      FROM src)
SELECT CAST(ceil(cnt / 1500.0) AS BIGINT) AS n_files,
       CAST(cnt AS BIGINT) AS n_rows,
       CAST(CASE WHEN cnt % 1500 = 0 THEN LEAST(cnt, 1500)
                 ELSE cnt % 1500 END AS BIGINT) AS smallest_file_rows,
       CAST(LEAST(cnt, 1500) AS BIGINT) AS largest_file_rows,
       price_cents
FROM n
""",
    tags=("layout", "writer", "file_sizing"),
)
def q362_max_records_per_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`maxRecordsPerFile` writer sizing — the knob that prevents both
    the small-file problem (q336) and its opposite, monolithic files
    no scan can parallelize: a single writer task bounded at 1,500
    rows/file must produce exactly ceil(n/1500) files, all full except
    one remainder — read back from disk via `_metadata.file_name`
    (never assumed), with exact cent conservation proving the split
    moved bytes, not data. At 100 TB this is set in bytes via target
    file size; the row-bounded contract graded here is the same
    mechanism."""
    import hashlib as _hl
    import os as _os
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 5 == 0
    ).select("l_orderkey", "l_extendedprice")
    tag = _hl.md5(
        f"{spark.sparkContext.applicationId}|{sf_dir}|maxrec".encode()
    ).hexdigest()[:12]
    root = _os.path.join(tempfile.gettempdir(), f"cli_spark_maxrec_{tag}")
    marker = _os.path.join(root, ".ready")
    if not _os.path.exists(marker):
        (
            li.repartition(1)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 1500)
            .parquet(root)
        )
        with open(marker, "w") as fh:
            fh.write("ok")
    back = spark.read.parquet(root).select(
        F.col("_metadata.file_name").alias("file_name"), "l_extendedprice"
    )
    per_file = back.groupBy("file_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"),
    )
    return per_file.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("n").cast("long").alias("n_rows"),
        F.min("n").cast("long").alias("smallest_file_rows"),
        F.max("n").cast("long").alias("largest_file_rows"),
        F.sum("cents").cast("long").alias("price_cents"),
    )


@register(
    "q379_range_partition_layout",
    # Only sampling-independent invariants are graded: requested
    # partition count, row conservation, global key extent, and ZERO
    # range overlaps (violations are counted Spark-side from actual
    # per-partition extents and the query RAISES if any exist).
    oracle="""
SELECT CAST(8 AS BIGINT) AS n_partitions,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(l_orderkey) AS BIGINT) AS max_key,
       CAST(0 AS BIGINT) AS range_violations
FROM lineitem WHERE l_linenumber = 1
""",
    tags=("layout", "range_partition", "exchange"),
)
def q379_range_partition_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`repartitionByRange` layout audit — the RangePartitioning
    exchange under every global sort, sorted write and write-ordered
    table: rows route to partitions by sampled key boundaries, so
    partition i's key range must sit strictly below partition i+1's.
    The audit materializes per-partition extents via
    `spark_partition_id()`, then checks the contract: consecutive
    (max, next-min) pairs must not interleave — a single overlap
    means the exchange is broken and ordered-write clustering is
    fiction. Boundary POSITIONS come from reservoir sampling and are
    not portable, so the graded row carries only sampling-independent
    invariants (partition count, row conservation, key extent, zero
    violations) while the violation count is computed from the real
    extents and raises on breach. At 100 TB this is the pre-flight
    check before a sorted rewrite: skewed boundaries show up here as
    interleaved extents long before the 10-hour write job fails."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber") == 1)
        .select("l_orderkey")
    )
    per_part = (
        li.repartitionByRange(8, F.col("l_orderkey"))
        .select("l_orderkey", F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_orderkey").alias("mn"),
            F.max("l_orderkey").alias("mx"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("pid")
    extents = per_part.withColumn("prev_mx", F.lag("mx").over(w))
    audited = extents.agg(
        F.count(F.lit(1)).cast("long").alias("n_partitions"),
        F.sum("n").cast("long").alias("n_rows"),
        F.min("mn").cast("long").alias("min_key"),
        F.max("mx").cast("long").alias("max_key"),
        F.sum(
            F.when(F.col("prev_mx") >= F.col("mn"), 1).otherwise(0)
        ).cast("long").alias("range_violations"),
    )
    out = materialize_local(audited)
    row = out.collect()[0]
    if row["range_violations"] != 0:
        raise ValueError(f"range partitioning overlap: {row}")
    if row["n_partitions"] != 8:
        raise ValueError(f"expected 8 range partitions, got {row}")
    return out


# 8-bit × 8-bit Morton interleave, generated once as portable integer
# SQL (identical text runs on Spark and DuckDB: >>/& on Spark via
# shiftright; DuckDB native operators).
def _morton_expr(b1: str, b2: str, spark_side: bool) -> str:
    if spark_side:
        bit = lambda c, i: f"(shiftright({c}, {i}) & 1)"
    else:
        bit = lambda c, i: f"(({c} >> {i}) & 1)"
    terms = []
    for i in range(8):
        terms.append(f"{bit(b1, i)} * {1 << (2 * i + 1)}")
        terms.append(f"{bit(b2, i)} * {1 << (2 * i)}")
    return " + ".join(terms)


_Q401_ORACLE_TEMPLATE = """
WITH bounds AS (
  SELECT MIN(l_orderkey) AS min1, MAX(l_orderkey) AS max1,
         MIN(l_partkey) AS min2, MAX(l_partkey) AS max2
  FROM lineitem
),
bucketed AS (
  SELECT LEAST(255, CAST((l_orderkey - min1) * 256
               {div} (max1 - min1 + 1) AS BIGINT)) AS b1,
         LEAST(255, CAST((l_partkey - min2) * 256
               {div} (max2 - min2 + 1) AS BIGINT)) AS b2
  FROM lineitem, bounds
),
assigned AS (
  SELECT b1, b2,
         ({morton}) {div} 4096 AS zfile,
         b1 {div} 16 AS lfile
  FROM bucketed
),
per_file AS (
  SELECT 'zorder' AS layout, zfile AS file_id,
         MIN(b1) AS min1, MAX(b1) AS max1,
         MIN(b2) AS min2, MAX(b2) AS max2,
         COUNT(*) AS n_rows,
         COUNT(*) FILTER (WHERE b2 BETWEEN 64 AND 79) AS n_match
  FROM assigned GROUP BY zfile
  UNION ALL
  SELECT 'linear', lfile,
         MIN(b1), MAX(b1), MIN(b2), MAX(b2),
         COUNT(*),
         COUNT(*) FILTER (WHERE b2 BETWEEN 64 AND 79)
  FROM assigned GROUP BY lfile
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(COUNT(*) FILTER (WHERE min2 > 79 OR max2 < 64) AS BIGINT)
         AS n_files_pruned,
       CAST(COALESCE(SUM(n_rows) FILTER (WHERE NOT (min2 > 79 OR max2 < 64)),
                     0) AS BIGINT)
         AS rows_scanned,
       CAST(SUM(n_match) AS BIGINT) AS rows_matching
FROM per_file
GROUP BY layout
"""


@register(
    "q401_zorder_layout",
    oracle=_Q401_ORACLE_TEMPLATE.format(
        morton=_morton_expr("b1", "b2", spark_side=False), div="//"
    ),
    tags=("layout", "zorder", "data_skipping"),
)
def q401_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton) clustering audit — the multi-dimensional
    data-skipping layout (Delta OPTIMIZE ZORDER BY / Iceberg
    sort-order): both join keys are range-quantized to 8 bits, bit-
    INTERLEAVED into a 16-bit Morton code, and rows are laid into 16
    "files" by Morton range; the competing layout sorts by the first
    key alone. The graded census probes on the SECOND key only
    (b2 in [64, 79] — the dimension a linear sort cannot serve)
    against both layouts' per-file min/max zone maps: the linear
    layout prunes NOTHING (every leading-key stripe spans the full
    second-key range, rows_scanned = the whole table), while Morton
    files are ~square in key space, so only the quadrant overlapping
    the probe survives (12 of 16 files pruned, rows_scanned ~ 1/4) —
    the measured gap IS the reason lakehouse tables z-order
    multi-predicate columns at 100 TB, and the cost side (z-order's
    coarser leading-key pruning vs a pure sort) is the documented
    trade. rows_matching is layout-invariant (same rows, different
    files) — a built-in conservation check. Quantization, interleave and
    pruning are all integer arithmetic from ONE generated expression
    string shared by engine and oracle (q252's zone maps, q379's
    range layout, and q388's geohash are the 1-D relatives)."""
    from cli_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q401_ORACLE_TEMPLATE.format(
        morton=_morton_expr("b1", "b2", spark_side=True), div="DIV"
    ))


@register(
    "q410_aggregate_pushdown",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
       CAST(MAX(l_orderkey) AS BIGINT) AS max_orderkey,
       CAST(MIN(l_partkey) AS BIGINT) AS min_partkey,
       CAST(MAX(l_partkey) AS BIGINT) AS max_partkey
FROM lineitem
""",
    tags=("layout", "scan", "aggregate_pushdown", "plan_gated"),
)
def q410_aggregate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGGREGATE PUSHDOWN INTO THE PARQUET SCAN (SPARK-34952,
    DataSource-V2 path): partition-less COUNT/MIN/MAX are answered
    from parquet FOOTER STATISTICS — zero data pages decoded, one
    footer read per file — instead of scanning every row into an
    aggregate. At 100 TB this turns the most common sanity queries
    (`SELECT count(*), min(k), max(k)`) from a full-table scan into
    a metadata operation, the same trick engines sell as
    "metadata-only query". Requires the V2 parquet reader
    (`spark.sql.sources.useV1SourceList` cleared for the query —
    the V1 path silently ignores the conf, which is exactly the
    regression the plan gate guards: the executed plan must show
    `PushedAggregation: [COUNT(*), MIN(...), ...]`). Correctness is
    engine-critical here: footer stats must agree with the data
    (q252's zone-map trust question graded at file level) — the
    oracle recomputes from rows, so a stale or lying footer breaks
    the hash. Confs saved and restored."""
    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        res = li.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").cast("long").alias("min_orderkey"),
            F.max("l_orderkey").cast("long").alias("max_orderkey"),
            F.min("l_partkey").cast("long").alias("min_partkey"),
            F.max("l_partkey").cast("long").alias("max_partkey"),
        )
        plan = res._jdf.queryExecution().executedPlan().toString()
        if "PushedAggregation: [COUNT" not in plan:
            raise RuntimeError(
                "q410: aggregate was not pushed into the parquet scan "
                "(no PushedAggregation in executed plan)"
            )
        out = materialize_local(res)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


# 8-level unrolled Hilbert xy2d (Wikipedia form, n = 256, reflect with
# n-1): each level is one chained CTE, generated once as portable
# integer SQL run verbatim on both engines. Correctness of the curve
# itself (bijectivity + unit-step adjacency, and SQL == the pure-Python
# reference) is pinned in tests/test_hilbert.py — cross-engine parity
# alone could not catch a wrong-but-deterministic curve.
def _hilbert_ctes() -> str:
    steps = []
    prev = "h0"
    for k, s in enumerate((128, 64, 32, 16, 8, 4, 2, 1), start=1):
        steps.append(f"""
h{k} AS (
  SELECT b1, b2,
         CASE WHEN (hy & {s}) != 0 THEN hx
              WHEN (hx & {s}) != 0 THEN 255 - hy
              ELSE hy END AS hx,
         CASE WHEN (hy & {s}) != 0 THEN hy
              WHEN (hx & {s}) != 0 THEN 255 - hx
              ELSE hx END AS hy,
         hd + {s * s} * (CASE WHEN (hx & {s}) != 0 AND (hy & {s}) != 0 THEN 2
                              WHEN (hx & {s}) != 0 THEN 3
                              WHEN (hy & {s}) != 0 THEN 1
                              ELSE 0 END) AS hd
  FROM {prev}
)""")
        prev = f"h{k}"
    return ",".join(steps)


_Q442_TEMPLATE = """
WITH bounds AS (
  SELECT MIN(l_orderkey) AS min1, MAX(l_orderkey) AS max1,
         MIN(l_partkey) AS min2, MAX(l_partkey) AS max2
  FROM lineitem
),
bucketed AS (
  SELECT LEAST(255, CAST((l_orderkey - min1) * 256
               {div} (max1 - min1 + 1) AS BIGINT)) AS b1,
         LEAST(255, CAST((l_partkey - min2) * 256
               {div} (max2 - min2 + 1) AS BIGINT)) AS b2
  FROM lineitem, bounds
),
h0 AS (
  SELECT b1, b2, b1 AS hx, b2 AS hy, 0 AS hd FROM bucketed
),{hilbert}
,
assigned AS (
  SELECT b1, b2,
         hd {div} 4096 AS hfile,
         ({morton}) {div} 4096 AS zfile,
         b1 {div} 16 AS lfile
  FROM h8
),
per_file AS (
  SELECT 'hilbert' AS layout, hfile AS file_id,
         MIN(b1) AS min1, MAX(b1) AS max1,
         MIN(b2) AS min2, MAX(b2) AS max2, COUNT(*) AS n_rows,
         COUNT(*) FILTER (WHERE b1 BETWEEN 64 AND 95
                            AND b2 BETWEEN 64 AND 95) AS sq_match,
         COUNT(*) FILTER (WHERE b2 BETWEEN 64 AND 79) AS dim2_match
  FROM assigned GROUP BY hfile
  UNION ALL
  SELECT 'zorder', zfile, MIN(b1), MAX(b1), MIN(b2), MAX(b2), COUNT(*),
         COUNT(*) FILTER (WHERE b1 BETWEEN 64 AND 95
                            AND b2 BETWEEN 64 AND 95),
         COUNT(*) FILTER (WHERE b2 BETWEEN 64 AND 79)
  FROM assigned GROUP BY zfile
  UNION ALL
  SELECT 'linear', lfile, MIN(b1), MAX(b1), MIN(b2), MAX(b2), COUNT(*),
         COUNT(*) FILTER (WHERE b1 BETWEEN 64 AND 95
                            AND b2 BETWEEN 64 AND 95),
         COUNT(*) FILTER (WHERE b2 BETWEEN 64 AND 79)
  FROM assigned GROUP BY lfile
),
probes AS (
  SELECT layout, 'square_64_95' AS probe,
         CAST(COUNT(*) AS BIGINT) AS n_files,
         CAST(COUNT(*) FILTER (WHERE min1 > 95 OR max1 < 64
                                  OR min2 > 95 OR max2 < 64) AS BIGINT)
           AS n_files_pruned,
         CAST(COALESCE(SUM(n_rows) FILTER (WHERE NOT (min1 > 95 OR max1 < 64
                                              OR min2 > 95 OR max2 < 64)),
                       0) AS BIGINT) AS rows_scanned,
         CAST(SUM(sq_match) AS BIGINT) AS rows_matching
  FROM per_file GROUP BY layout
  UNION ALL
  SELECT layout, 'dim2_64_79',
         CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) FILTER (WHERE min2 > 79 OR max2 < 64) AS BIGINT),
         CAST(COALESCE(SUM(n_rows) FILTER (WHERE NOT (min2 > 79 OR max2 < 64)),
                       0) AS BIGINT),
         CAST(SUM(dim2_match) AS BIGINT)
  FROM per_file GROUP BY layout
)
SELECT * FROM probes
"""


@register(
    "q442_hilbert_layout",
    oracle=_Q442_TEMPLATE.format(
        hilbert=_hilbert_ctes(),
        morton=_morton_expr("b1", "b2", spark_side=False), div="//"
    ),
    tags=("layout", "hilbert", "zorder", "data_skipping"),
)
def q442_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILBERT-curve clustering audit — q401's z-order bake-off
    extended with the curve lakehouse engines are converging on
    (Delta Lake liquid clustering, Iceberg hilbert sort order): both
    join keys quantize to 8 bits, the 16-bit Hilbert index comes
    from the classic xy2d recursion unrolled into 8 chained integer
    CTEs (one per level: quadrant digit + reflect/swap rotation),
    rows lay into 16 files per layout (hilbert / morton / linear
    first-key sort), and two probes read the per-file min/max zone
    maps: a SQUARE window on both keys and q401's second-key-only
    stripe. Hilbert's selling point over Morton is fewer curve
    discontinuities — every consecutive pair of cells is adjacent
    (no Z-jumps), so file bounding boxes are never looser and square
    probes scan at most as many false-overlap rows (the test asserts
    hilbert <= zorder; at this coarse 16-file granularity the two tie
    at sf0.01 — the gap opens as files shrink relative to the probe,
    which is the 100 TB regime). The census also shows the linear
    layout's total failure on the second key (0 of 16 files pruned).
    rows_matching is layout-invariant (conservation
    check). The generated SQL is shared verbatim with the oracle;
    curve correctness itself (bijective, unit-step adjacent,
    SQL == pure-Python reference) is pinned in
    tests/test_hilbert.py."""
    from cli_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q442_TEMPLATE.format(
        hilbert=_hilbert_ctes(),
        morton=_morton_expr("b1", "b2", spark_side=True), div="DIV"
    ))
