"""Resilient-ingestion semantics: malformed-ROW handling (CSV parse
modes) and corrupt-FILE handling (`ignoreCorruptFiles`) — the two
failure layers every 100 TB ingest hits (a bad record inside a good
file; a truncated/garbage file inside a good dataset), graded with
exact censuses so the recovery semantics are pinned, not assumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cli_spark.functions.determinism import dsum, sql_dsum
from cli_spark.plans.registry import register
from cli_spark.session import materialize_local
from cli_spark.tables import load_table


@register(
    "q407_csv_parse_modes",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 50 = 0) AS BIGINT)
         AS n_corrupt_permissive,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 50 != 0) AS BIGINT)
         AS n_dropmalformed,
       CAST(1 AS BIGINT) AS failfast_raised
FROM orders
""",
    tags=("sources", "csv", "parse_modes", "resilience"),
)
def q407_csv_parse_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV PARSE-MODE semantics, all three graded in one census: a
    CSV copy of orders is written with every 50th row's price field
    deliberately non-numeric, then read back under (1) PERMISSIVE +
    `columnNameOfCorruptRecord` — every row survives, the broken
    ones carry their raw text in the corrupt column (counted
    exactly); (2) DROPMALFORMED — broken rows vanish silently (the
    survivor count must equal total minus corrupt — rows may only
    be dropped for THIS corruption, nothing else); (3) FAILFAST —
    the read must RAISE on the first malformed record (asserted by
    catching the expected exception; a silent success is a failure).
    These are the contract every ingest pipeline picks between
    losing data silently, quarantining it, or stopping the world —
    and the census proves each mode does exactly what it claims on
    the same bytes. Fixture is built distributed (lines rendered and
    written as text by executors), read with an explicit schema —
    schema inference over corrupt data is the classic footgun."""
    import shutil
    import tempfile

    o = load_table(spark, sf_dir, "orders")
    line = F.concat_ws(
        ",",
        F.col("o_orderkey").cast("string"),
        F.when(F.col("o_orderkey") % 50 == 0, F.lit("xx"))
        .otherwise(F.col("o_totalprice").cast("string")),
        F.col("o_orderstatus"),
    )
    tmp = tempfile.mkdtemp(prefix="q407_csv_")
    try:
        o.select(line.alias("value")).write.text(tmp + "/csv")
        schema = ("o_orderkey long, price double, status string, "
                  "_corrupt string")
        permissive = (
            spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(tmp + "/csv")
        )
        # Spark disallows filtering on ONLY the corrupt column of an
        # uncached raw-CSV frame (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
        permissive = permissive.cache()
        n_total = permissive.count()
        n_corrupt = permissive.filter(F.col("_corrupt").isNotNull()).count()
        permissive.unpersist()
        dropped = (
            spark.read.schema("o_orderkey long, price double, status string")
            .option("mode", "DROPMALFORMED")
            .csv(tmp + "/csv")
        )
        # count() alone prunes every column and the parser never
        # touches the malformed field — aggregate OVER the parsed
        # column so DROPMALFORMED actually evaluates each row
        n_drop = dropped.agg(
            F.count(F.lit(1)).alias("n"), F.sum("price").alias("s")
        ).collect()[0]["n"]
        failfast_raised = 0
        try:
            (
                spark.read.schema(
                    "o_orderkey long, price double, status string"
                )
                .option("mode", "FAILFAST")
                .csv(tmp + "/csv")
                .agg(F.sum("price"))
                .collect()
            )
        except Exception:
            failfast_raised = 1
        if failfast_raised != 1:
            raise RuntimeError(
                "q407: FAILFAST read of malformed CSV did not raise"
            )
        return spark.createDataFrame(
            [(n_total, n_corrupt, n_drop, failfast_raised)],
            "n_total long, n_corrupt_permissive long, "
            "n_dropmalformed long, failfast_raised long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "q408_corrupt_file_skip",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS value_sum
FROM events
WHERE event_id % 4 != 0
GROUP BY event_type
""",
    tags=("sources", "corrupt_files", "resilience"),
)
def q408_corrupt_file_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRUPT-FILE skip semantics (`ignoreCorruptFiles`): the events
    table is laid out as four parquet files by event_id residue, one
    file is then OVERWRITTEN mid-body with garbage bytes (a
    truncated upload / bit-rotted object — its footer is gone), and
    the graded census reads the directory with
    `ignoreCorruptFiles=true`: exactly the three intact files'
    rows survive, matching the residue-filtered oracle bit-exactly
    (the skip must be file-granular — no partial rows from the
    corrupt file, no loss from intact ones). The run FIRST asserts
    the strict default behavior: without the option the same read
    RAISES — proving the file is genuinely unreadable, so the
    skip path is actually exercised. At 100 TB this option is the
    difference between one rotted object failing a day-long job and
    a quantified, logged gap (paired with q360's `_metadata`
    provenance to find WHICH file was skipped)."""
    import glob
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="q408_corrupt_")
    try:
        t = pq.read_table(f"{sf_dir}/events.parquet",
                          columns=["event_id", "event_type", "value"])
        os.makedirs(tmp + "/data")
        import numpy as np
        import pyarrow as pa

        residues = np.mod(t["event_id"].to_numpy(), 4)
        for r in range(4):
            part = t.filter(pa.array(residues == r))
            pq.write_table(part, f"{tmp}/data/part-{r}.parquet")
        # corrupt residue-0: garbage over the body INCLUDING the footer
        victim = f"{tmp}/data/part-0.parquet"
        size = os.path.getsize(victim)
        with open(victim, "r+b") as f:
            f.seek(size // 2)
            f.write(b"\x00CORRUPT" * 64)
            f.truncate()
        strict_raised = False
        try:
            spark.read.parquet(tmp + "/data").count()
        except Exception:
            strict_raised = True
        if not strict_raised:
            raise RuntimeError(
                "q408: corrupted file was readable under strict mode — "
                "fixture failed to corrupt"
            )
        res = (
            spark.read.schema("event_id long, event_type string, "
                              "value double")
            .option("ignoreCorruptFiles", "true")
            .parquet(tmp + "/data")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum(F.col("value")).alias("value_sum"),
            )
        )
        return materialize_local(res)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
