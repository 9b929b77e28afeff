"""Round-10 layout addendum: the parquet compression-codec matrix."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cli_spark.functions.determinism import quantize, sql_dsum, wide_sum
from cli_spark.plans.registry import register
from cli_spark.session import materialize_local
from cli_spark.tables import load_table

_CODECS = ("snappy", "zstd", "gzip")


@register(
    "q435_compression_codec_matrix",
    oracle=f"""
SELECT codec, l_returnflag, n_rows, price_sum FROM (
  SELECT 'snappy' AS codec, l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         {sql_dsum('l_extendedprice')} AS price_sum
  FROM lineitem GROUP BY l_returnflag
  UNION ALL
  SELECT 'zstd', l_returnflag, CAST(COUNT(*) AS BIGINT),
         {sql_dsum('l_extendedprice')}
  FROM lineitem GROUP BY l_returnflag
  UNION ALL
  SELECT 'gzip', l_returnflag, CAST(COUNT(*) AS BIGINT),
         {sql_dsum('l_extendedprice')}
  FROM lineitem GROUP BY l_returnflag
) t
""",
    tags=("layout", "compression", "parquet", "sink"),
)
def q435_compression_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARQUET COMPRESSION-CODEC matrix: the same relation is written
    under snappy, zstd, and gzip, read back, and each copy's census
    must be bit-identical to the source oracle — compression is a
    LAYOUT property, never a semantic one, and this grade is the
    regression net for that invariant across Spark's codec plumbing.
    The in-query gate additionally asserts each codec actually took
    effect on disk (footer-reported codec via the parquet-hadoop
    reader would need a JVM call, so the files are checked by the
    cheaper honest signal: the three byte sizes must all differ —
    identical sizes mean the option silently fell through to one
    codec). At 100 TB codec choice is a real capacity lever (zstd
    ~30-50% smaller than snappy at similar scan cost, gzip cheapest
    at rest / dearest to scan); the decision belongs in the sink
    writer exactly as exercised here, per-write, not cluster-wide."""
    import os
    import shutil
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    tmp = tempfile.mkdtemp(prefix="q435_codecs_")
    try:
        sizes: dict[str, int] = {}
        outs = []
        for codec in _CODECS:
            path = f"{tmp}/{codec}"
            li.coalesce(1).write.option("compression", codec).parquet(path)
            sizes[codec] = sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
            back = spark.read.parquet(path)
            outs.append(
                back.groupBy("l_returnflag")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    (wide_sum(quantize(F.col("l_extendedprice")))
                     .cast("double") / F.lit(10000.0)).alias("price_sum"),
                )
                .select(F.lit(codec).alias("codec"), "*")
            )
        if len(set(sizes.values())) != len(sizes):
            raise RuntimeError(
                f"q435: codec option fell through — on-disk sizes {sizes} "
                "are not all distinct"
            )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return materialize_local(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
