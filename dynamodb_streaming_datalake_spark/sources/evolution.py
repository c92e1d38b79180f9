"""Schema evolution: reading a table whose files span schema
generations (the lakehouse reality the reference's append-only S3 zone
will hit the first time a producer adds an attribute).

Two parquet generations are built once per sf (shared cache):
generation 1 holds the original columns; generation 2 adds a
``o_channel`` column. ``mergeSchema`` unions the file schemas, old
files surface the new column as NULL, and the query layer supplies the
documented default — the exact contract Delta/Iceberg formalize as
"add column with default".

Scale: schema merge happens on file FOOTERS at planning time (cheap,
metadata-only); the NULL back-fill is free at scan time (no rewrite of
old files — the entire point of additive schema evolution at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamodb_streaming_datalake_spark.cache import ensure_cached_build
from dynamodb_streaming_datalake_spark.registry import query
from dynamodb_streaming_datalake_spark.sources.readers import read_table

#: the generation-2 channel domain, keyed by o_orderkey % 3
EVO_CHANNELS = ("web", "store", "app")


def build_generations(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """gen=1: even order keys, original columns. gen=2: odd keys, plus
    the new ``o_channel`` column."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
    )
    gen1 = o.where(F.col("o_orderkey") % 2 == 0)
    gen1.write.mode("overwrite").parquet(f"{out_dir}/gen=1")
    chan = F.element_at(
        F.array(*[F.lit(c) for c in EVO_CHANNELS]),
        (F.col("o_orderkey") % 3 + 1).cast("int"),
    )
    gen2 = o.where(F.col("o_orderkey") % 2 == 1).withColumn("o_channel", chan)
    gen2.write.mode("overwrite").parquet(f"{out_dir}/gen=2")


def ensure_generations(spark: SparkSession, sf_dir: str) -> str:
    return ensure_cached_build(
        "schema_evo", sf_dir, lambda d: build_generations(spark, sf_dir, d)
    )


@query(
    "q_schema_evolution",
    oracle=f"""
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM (
        SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'legacy'
                    ELSE ['{EVO_CHANNELS[0]}', '{EVO_CHANNELS[1]}',
                          '{EVO_CHANNELS[2]}']
                         [CAST(o_orderkey % 3 AS INT) + 1] END AS channel,
               o_totalprice
        FROM orders
    ) GROUP BY channel
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read both schema generations in ONE scan with ``mergeSchema``:
    generation-1 files lack ``o_channel`` entirely, so the reader must
    back-fill NULL and the query supplies the 'legacy' default. The
    oracle recomputes from the base table arithmetically — a reader
    that dropped old files, misaligned columns, or defaulted wrongly
    breaks the hash. Row counts prove BOTH generations were read."""
    path = ensure_generations(spark, sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/gen=1", f"{path}/gen=2"
    )
    return (
        df.select(
            F.coalesce("o_channel", F.lit("legacy")).alias("channel"),
            "o_totalprice",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").cast("double").alias("revenue"),
        )
    )
