"""SparkSession construction + engine configuration.

Plays the role the reference's CDK stacks play for infrastructure wiring
(``/root/reference/bin/dynamodb-streaming-datalake.ts:13-69``): one place
where the engine's runtime knobs live.

Scale notes (the defaults below are chosen for a real cluster, not just
local mode):

* AQE on — runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace all of the reference's
  hand-tuned parallelism arithmetic
  (``/root/reference/lib/glue_jobs/ddb_full_load.py:39-46``).
* ``spark.sql.shuffle.partitions`` is only an upper bound once AQE
  coalescing is enabled; on a 1000-executor cluster you would raise it to
  ~2-3x total cores and let AQE shrink small stages.
* Arrow enabled so any pandas-UDF escape hatch is vectorized.
* ``spark.sql.legacy.parquet.nanosAsLong=true``: the synthetic lake
  fixtures carry parquet TIMESTAMP(NANOS) which Spark has no native type
  for; readers normalize the resulting bigint to TIMESTAMP_NTZ (see
  ``sources.readers.read_table``).
* Streaming checkpoints on a local master go through Spark's
  ``FileSystemBasedCheckpointFileManager`` (``LOCAL_DEFAULTS``). Spark's
  default, the FileContext manager, is chosen only for its atomic
  rename; on a local POSIX filesystem ``RawLocalFileSystem.rename`` is
  rename(2), atomic already. Without ``libhadoop`` the FileContext path
  also forks a ``readlink`` shell per ``getFileLinkStatus`` call on the
  offsets, commits, sources and ``_spark_metadata`` logs: about 175
  forks for one 2000-event CDC wave drained by the lake, error and
  snapshot sinks (4 cores, ``local[2]``). A cluster master keeps the
  default: its checkpoints may sit on a store whose FileSystem rename
  is not atomic (HDFS's FileContext rename is the one the commit
  protocol relies on).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

ENGINE_DEFAULTS: dict[str, str] = {
    # deterministic semantics
    "spark.sql.session.timeZone": "UTC",
    # adaptive execution: coalesce small shuffle partitions, split skewed
    # ones, switch sort-merge->broadcast at runtime
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # vectorized python interop for pandas UDFs / toPandas
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # fixtures use parquet TIMESTAMP(NANOS); read as long + normalize
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # a 100 TB table never wants schema-merge over all footers
    "spark.sql.parquet.mergeSchema": "false",
    # keep partition count sane for the local harness; AQE coalesces
    "spark.sql.shuffle.partitions": "32",
    # readable error surface
    "spark.sql.ansi.enabled": "false",
}

#: static (JVM-launch-only) confs for sessions WE create. In local mode
#: the "executors" are threads inside the driver JVM, whose heap
#: defaults to 1g — 32 threads at the 10x bench scale OOM there. On a
#: real cluster these are deploy-time settings (spark-submit / operator
#: config) and an externally-created session keeps its own values;
#: apply_engine_conf cannot (and does not) retrofit them.
STATIC_DEFAULTS: dict[str, str] = {
    "spark.driver.memory": "8g",
    "spark.driver.maxResultSize": "2g",
}


#: runtime confs for a session whose master is local (see the module
#: docstring); never applied to a cluster master
LOCAL_DEFAULTS: dict[str, str] = {
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def engine_conf(master: str) -> dict[str, str]:
    """The runtime engine confs for a session on ``master``:
    ``ENGINE_DEFAULTS``, plus ``LOCAL_DEFAULTS`` for ``local`` /
    ``local[...]`` (``local-cluster`` runs separate executor JVMs and
    counts as a cluster)."""
    if re.fullmatch(r"local(\[[^\]]*\])?", master):
        return {**ENGINE_DEFAULTS, **LOCAL_DEFAULTS}
    return ENGINE_DEFAULTS


def default_parallelism() -> int:
    """CPU budget for local mode: $SPARK_GRAFT_CPUS or all cores."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "dynamodb-streaming-datalake-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master=None`` means: respect an externally-provided master (cluster
    deploy) and fall back to ``local[N]`` for the test/bench harness.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{default_parallelism()}]"
    if master:
        builder = builder.master(master)
    conf = {**STATIC_DEFAULTS, **engine_conf(master or "")}
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an existing session.

    The driver harness owns SparkSession creation in some entry points
    (``__spark_entry__.entry``); this makes those sessions behave like
    ours for every conf that is mutable post-start.

    Memoized per session object: the driver calls this through the
    ``queries()`` wrapper on EVERY invocation, and each ``conf.set`` is
    a py4j round trip (~1 ms on this host) — ~10 ms of fixed tax per
    timed query repetition for confs that never change after the first
    application.
    """
    if getattr(spark, "_engine_conf_applied", False):
        return spark
    for k, v in engine_conf(spark.conf.get("spark.master", "")).items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep going
    spark._engine_conf_applied = True
    return spark
