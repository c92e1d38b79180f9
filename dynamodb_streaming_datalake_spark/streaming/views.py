"""One incremental-view kernel for every continuously maintained view.

The CDC snapshot (streaming.upsert) and the streaming sketch,
aggregate, index and signature views (streaming.sketchview, aggview,
banditview) all advance the same way: a ``foreachBatch`` sink turns
micro-batch ``n`` into committed version ``v=<n>`` of a view
directory. This module is that machinery, once; a view supplies only
its fold (``View``).

Exactly-once comes from one idempotent commit keyed on the batch id,
the model of *Structured Streaming* (SIGMOD 2018): the version IS the
batch id, and ``advance_view`` returns at once when that version is
already committed. A crash between the view commit and the checkpoint
commit makes Spark redeliver the batch under the same id; the guard
turns the replay into a no-op, so a non-idempotent fold (sums,
appends) is never applied twice and no commit overwrites the
directory its fold is reading (Spark refuses that, which would fail
the stream on every restart). A crash before the commit marker leaves
an uncommitted version, which the replay rewrites whole.

Each view fixes one of two commit forms in code:

* whole directory: ``fold(prev, batch)`` returns the next full state
  (``prev`` is the previous committed state, None before the first
  commit), written as ``v=<n>``; Spark's ``_SUCCESS`` marks the commit.
  The written schema seeds the ``table_schema`` memo, so neither the
  next fold nor a serve read runs a footer-inference job. For views
  bounded by key count: the snapshot, sketches, aggregates.
* segment: ``fold(None, batch)`` returns only the batch's delta rows,
  committed as an O(delta) segment under a manifest
  (``streaming.segments``); ``consolidate`` names the read-time fold.
  For views that grow with the corpus.

``current_view`` reads any committed version of either form; versions
are immutable, so each stays readable until ``segments.vacuum_view``
removes it.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from dynamodb_streaming_datalake_spark.cache import memo
from dynamodb_streaming_datalake_spark.sources.readers import _table_schema
from dynamodb_streaming_datalake_spark.streaming.segments import (
    _version_dir,
    _versions,
    commit_segment,
    read_manifest,
    read_segmented,
)


@dataclass(frozen=True)
class View:
    """How a micro-batch advances one view (see the module docstring):
    a whole-directory view when ``consolidate`` is None, else a
    segmented view whose segments fold at read with that
    ``segments.CONSOLIDATORS`` entry."""

    fold: Callable[[DataFrame | None, DataFrame], DataFrame]
    consolidate: str | None = None


def monoid(
    delta: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> View:
    """A whole-directory view over a mergeable state: the batch's own
    state ``delta(batch)``, merged into the previous committed state
    with ``merge(prev, delta)``."""

    def fold(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        d = delta(batch)
        return d if prev is None else merge(prev, d)

    return View(fold)


def segmented(
    delta: Callable[[DataFrame], DataFrame], consolidate: str = "none"
) -> View:
    """A segmented view committing ``delta(batch)`` per micro-batch."""
    return View(lambda _prev, batch: delta(batch), consolidate)


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and map value nullable — the
    schema Spark reports for a Parquet file it reads back."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _read_whole(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(_table_schema(spark, path)).parquet(path)


def advance_view(
    spark: SparkSession,
    batch: DataFrame,
    view_dir: str,
    version: int,
    view: View,
) -> None:
    """Fold one micro-batch into ``view_dir`` as version ``version``: a
    no-op when that version is committed (the replay guard), else the
    fold over the newest committed version and the commit. The one
    version listing serves both the guard and the previous-version
    read."""
    committed = _versions(spark, view_dir)
    if version in committed:
        return
    head = committed[-1] if committed else None
    if view.consolidate is not None:
        delta = view.fold(None, batch)
        commit_segment(spark, view_dir, delta, version, view.consolidate, head)
        return
    prev = None if head is None else _read_whole(spark, _version_dir(view_dir, head))
    state = view.fold(prev, batch)
    path = _version_dir(view_dir, version)
    state.write.mode("overwrite").parquet(path)
    memo("table_schema", (path,), lambda: _as_nullable(state.schema))


def start_view(
    stream: DataFrame, view_dir: str, checkpoint_dir: str, view: View
) -> StreamingQuery:
    """The foreachBatch sink: drain what ``stream`` holds now
    (availableNow), each micro-batch advancing ``view_dir`` one
    version; readers always see the last committed version."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        advance_view(batch.sparkSession, batch, view_dir, batch_id, view)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def current_view(
    spark: SparkSession, view_dir: str, version: int | None = None
) -> DataFrame | None:
    """The rows of a committed version (default: the newest) of either
    commit form; None before the first commit. An uncommitted or
    vacuumed ``version`` raises."""
    vs = _versions(spark, view_dir)
    if not vs:
        return None
    if version is None:
        version = vs[-1]
    elif version not in vs:
        raise ValueError(f"version {version} not committed; have {vs}")
    manifest = read_manifest(spark, view_dir, version)
    if manifest is not None:
        return read_segmented(spark, view_dir, manifest)
    return _read_whole(spark, _version_dir(view_dir, version))
