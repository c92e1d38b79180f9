"""Continuously maintained aggregate view: streaming q_incr_agg.

The batch path (operators.state.q_incr_agg) merges a delta's partials
into a pre-existing view once. This module keeps that view
*continuously materialized*: each micro-batch's partials fold into a
versioned Parquet view with the SAME merge kernel
(state.merge_agg_partials), as a whole-directory view of the
``streaming.views`` kernel. Its replay guard is what makes this
non-idempotent fold safe under checkpoint recovery: either the version
committed — skip — or it didn't — re-merge from the previous version.

Scale: each refresh is O(|batch keys| + |view|): the batch pre-reduces
to its distinct keys map-side, and ``merge_agg_partials`` is a
full-outer join of view and batch partials on the key. The view is
written unbucketed, so every refresh shuffles the whole view: the
merge is not shuffle-free. The view is bounded by key cardinality,
not stream history.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dynamodb_streaming_datalake_spark.operators.state import (
    agg_event_partials,
    merge_agg_partials,
)
from dynamodb_streaming_datalake_spark.streaming.views import (
    advance_view,
    current_view,
    monoid,
)

#: raw events -> per-(user_id, event_type) partials, merged additively
AGG_VIEW = monoid(agg_event_partials, merge_agg_partials)


# ---------------------------------------------------------------------------
# driver-gated lifecycle (round 7): the streaming twin of q_incr_agg
# ---------------------------------------------------------------------------


def _ensure_agg_view(spark: SparkSession, sf_dir: str) -> str:
    """Two committed view versions built once per sf_dir
    with the REAL fold kernel: v=1 folds the base events (4/5), v=2
    folds the delta (every 5th event) on top — the same deterministic
    split as the batch q_incr_agg, so the final view must equal the
    one-shot refresh. Shared cache discipline."""
    import os

    from dynamodb_streaming_datalake_spark.cache import ensure_cached_build
    from dynamodb_streaming_datalake_spark.operators.state import INCR_SPLIT
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    def build(build_dir: str) -> None:
        view = os.path.join(build_dir, "view")
        ev = read_table(spark, sf_dir, "events")
        is_delta = F.col("event_id") % INCR_SPLIT == 0
        advance_view(spark, ev.where(~is_delta), view, 1, AGG_VIEW)
        advance_view(spark, ev.where(is_delta), view, 2, AGG_VIEW)

    return ensure_cached_build("aggview", sf_dir, build)


def _register() -> None:
    from dynamodb_streaming_datalake_spark.registry import query

    @query(
        "q_incr_agg_stream",
        oracle="""
        WITH v1 AS (
            SELECT user_id, event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                     AS sum_value,
                   MAX(ts) AS max_ts
            FROM events WHERE event_id % 5 != 0
            GROUP BY user_id, event_type
        ),
        v2 AS (
            SELECT user_id, event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                     AS sum_value,
                   MAX(ts) AS max_ts
            FROM events
            GROUP BY user_id, event_type
        )
        SELECT CAST(1 AS INT) AS version, * FROM v1
        UNION ALL
        SELECT CAST(2 AS INT) AS version, * FROM v2
        """,
    )
    def q_incr_agg_stream(spark, sf_dir):
        """Streaming twin of q_incr_agg under the oracle gate: two view
        versions are committed with the real foreachBatch fold kernel
        (base events -> v=1, the delta fifth -> v=2, cached per
        sf_dir), then BOTH are read back — v=1 via time travel after
        v=2 committed. The oracle recomputes each version from the raw
        events from scratch; hash-equality proves the incremental fold
        loses nothing and committed versions are immutable. The same
        kernel is drained from a genuine readStream under availableNow
        in tests/test_streaming.py.

        Scale: see module docstring — O(|batch keys| + |view|) per
        refresh, view bounded by key cardinality."""
        import os

        from dynamodb_streaming_datalake_spark.operators.state import (
            finalize_agg_view,
        )

        path = _ensure_agg_view(spark, sf_dir)
        view = os.path.join(path, "view")
        out = []
        for v in (1, 2):
            df = finalize_agg_view(current_view(spark, view, version=v))
            out.append(df.select(F.lit(v).cast("int").alias("version"), "*"))
        return out[0].unionByName(out[1])


_register()
