"""Batch readers for the two lake zones + the synthetic catalog.

Reference parity:

* snapshot zone — Parquet written by the Glue full-load job
  (``/root/reference/lib/glue_jobs/ddb_full_load.py:75-82``) -> B1
  ``spark.read.parquet``.
* CDC zone — gzip NDJSON under hourly prefixes written by Firehose
  (``/root/reference/lib/dynamodb-streaming-datalake-stack.ts:220-222``)
  -> B2 ``spark.read.json`` with an explicit schema (schema-on-read; at
  100 TB you never pay json inference over the full lake) and B3
  partition pruning via the hive-style ``y=/m=/d=/h=`` layout our sink
  writes.

Scale notes: every reader returns a plain DataFrame so Catalyst keeps
predicate pushdown + column pruning; nothing here collects or infers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamodb_streaming_datalake_spark.cache import memo

#: tables the driver generates under /root/testdata/sf*/ (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# columns stored as parquet TIMESTAMP(NANOS): Spark has no nanos type, so
# the session reads them as bigint (nanosAsLong) and we normalize to
# TIMESTAMP_NTZ at microsecond precision — the same truncation DuckDB's
# TIMESTAMP applies, keeping the oracle comparable.
_NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
}


def _normalize_nanos(df: DataFrame, table: str) -> DataFrame:
    # row-preserving by contract: scan_row_count answers COUNT(*) of a
    # read_table handle from the parquet footers, so a filter here would
    # make that count wrong
    for c in _NANO_TS_COLUMNS.get(table, ()):
        field = df.schema[c] if c in df.columns else None
        if field is not None and isinstance(field.dataType, T.LongType):
            # integer `div`, not `/`: double division of ~1e18 nanos loses
            # microsecond precision (ulp ~0.25us at that magnitude)
            df = df.withColumn(
                c,
                F.to_timestamp_ntz(F.timestamp_micros(F.expr(f"`{c}` div 1000"))),
            )
    return df


def _table_schema(spark: SparkSession, path: str) -> T.StructType:
    """Parquet schema of one table file — METADATA only, the role a
    metastore/catalog plays at scale. A plain ``spark.read.parquet``
    re-lists and re-reads footers on every call (~0.3 s for lineitem,
    measured); with the schema supplied the reader skips inference
    (~0.03 s). No row data is cached, and the file stamp drops the
    entry the moment a fixture is rewritten."""
    return memo("table_schema", (path,), lambda: spark.read.parquet(path).schema)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic lake table (B1 parquet scan).

    Returns one normalized scan-plan HANDLE per (session, file stamp):
    a DataFrame is an immutable lazy plan, so handing every caller the
    same object is pure metadata reuse (the analyzed plan). No row data
    is cached — every action still scans the parquet files (round 18:
    the schema-supplied reader still costs ~14 ms of py4j per call x
    ~400 call sites per bench)."""
    path = f"{sf_dir}/{name}.parquet"

    def scan() -> DataFrame:
        df = spark.read.schema(_table_schema(spark, path)).parquet(path)
        out = _normalize_nanos(df, name)
        # tag the handle with its path so scan_row_count can answer
        # COUNT(*) from footer statistics
        out._graft_table_path = path
        return out

    return memo("table_scan", (path,), scan, spark)


def _footer_num_rows(path: str) -> int | None:
    """Exact row count from parquet footer metadata (file or directory
    of part files); None when footers cannot be read. Follows Spark's
    path filter: names starting with ``_`` or ``.`` (``_temporary/``
    left by an interrupted write, ``_SUCCESS``, ``.crc``) are not data;
    a data file without the ``.parquet`` suffix answers None, so the
    caller counts through Spark instead of guessing."""
    import os

    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            total = 0
            for root, dirs, files in os.walk(path):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                for f in files:
                    if f.startswith(("_", ".")):
                        continue
                    if not f.endswith(".parquet"):
                        return None
                    total += pq.read_metadata(os.path.join(root, f)).num_rows
            return total
        return pq.read_metadata(path).num_rows
    except Exception:
        return None


def scan_row_count(df: DataFrame) -> int:
    """COUNT(*) of a base-table scan handle, answered from parquet
    footer statistics when the handle came from ``read_table`` (a
    metadata read — no Spark job, no data scan; the role ANALYZE TABLE
    statistics play in a metastore). Any other frame falls back to
    ``count()``, so operators sizing themselves from an arbitrary input
    stay correct."""
    path = getattr(df, "_graft_table_path", None)
    if path is not None:
        n = memo("table_rows", (path,), lambda: _footer_num_rows(path))
        if n is not None:
            return n
    return df.count()


import weakref

#: memoized fan_out split probes per DataFrame object (see fan_out)
_NPART_CACHE: "weakref.WeakKeyDictionary[DataFrame, int]" = (
    weakref.WeakKeyDictionary()
)


def fan_out(df: DataFrame, *cols: str) -> DataFrame:
    """Scale-adaptive parallelism floor for CPU-heavy per-row stages
    (brute-force cosine panels, codec passes): when the scan arrives
    with fewer splits than the session's parallelism — the local
    fixture parquet is one split, which serializes every downstream
    per-row computation onto one core — hash-repartition on ``cols``
    up to ``defaultParallelism``. At real scale the input already has
    >= parallelism splits and this is a no-op; the repartition count
    derives from the session, never a constant (guide §2)."""
    if df.isStreaming:
        return df
    n_target = df.sparkSession.sparkContext.defaultParallelism
    # df.rdd.getNumPartitions() physically plans the frame — a real
    # construction cost per call (r17 VERDICT #5). DataFrames are
    # immutable and read_table hands out stable plan handles, so the
    # probe is memoized per frame object (weak keys: derived frames
    # don't leak).
    n = _NPART_CACHE.get(df)
    if n is None:
        n = df.rdd.getNumPartitions()
        _NPART_CACHE[df] = n
    if n >= n_target:
        return df
    return df.repartition(n_target, *cols) if cols else df.repartition(n_target)


def load_catalog(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All tables at a scale factor, keyed by name."""
    return {t: read_table(spark, sf_dir, t) for t in TABLES}


def register_catalog(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works too."""
    for name, df in load_catalog(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Stream a synthetic table through the file source — the test
    harness's replay of the Kinesis stream (SURVEY §2 A1), with the same
    nano-timestamp normalization as the batch reader."""
    raw_schema = _table_schema(spark, f"{sf_dir}/{name}.parquet")
    df = (
        spark.readStream.schema(raw_schema)
        # FileStreamSource needs a directory; pick the one table via glob
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return _normalize_nanos(df, name)


def read_cdc_zone(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """Read the gzip-NDJSON CDC zone (B2) with schema-on-read.

    With ``schema=None`` Spark infers (acceptable for tests only); for
    scale, pass the known lake schema so the scan is a single pass and
    column pruning reaches the reader. Partition columns from the
    hive-style layout (``y/m/d/h``, see ``sources.writers``) appear
    automatically and prune on filter (B3).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
