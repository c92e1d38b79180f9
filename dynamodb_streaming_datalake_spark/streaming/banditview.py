"""Continuously maintained bandit state: streaming q_bandit_posterior.

The batch readout (operators.experiments.q_bandit_posterior) computes
per-arm (n, s) counts and the grid-integrated P(best) once. In
production Thompson sampling the state advances with every micro-batch
and the allocator reads the posterior from the committed view — this
module is that loop: each batch's arm counts fold into a versioned
Parquet view (counts are a monoid: n+n, s+s), a whole-directory view
of the ``streaming.views`` kernel (its MVCC ``v=<n>`` commit and
crash-replay guard), and the readout runs the IDENTICAL
``bandit_readout`` kernel over any committed version.

Scale: each refresh is O(|batch arms| + |arms|): the batch pre-reduces
to per-arm counts map-side, the merge joins |arms| rows, and the
posterior arithmetic is constant work on the |arms| x grid frame. The
view is bounded by arm count, never stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamodb_streaming_datalake_spark.operators.experiments import (
    bandit_arm_counts,
    bandit_oracle_sql,
    bandit_readout,
)
from dynamodb_streaming_datalake_spark.streaming.views import (
    advance_view,
    current_view,
    monoid,
)


def merge_arm_counts(prev: DataFrame, delta: DataFrame) -> DataFrame:
    """Per-arm additive merge of two (event_type, n, s) count frames."""
    return (
        prev.select(
            F.col("event_type"),
            F.col("n").alias("n_prev"),
            F.col("s").alias("s_prev"),
        )
        .join(
            delta.select(
                "event_type",
                F.col("n").alias("n_new"),
                F.col("s").alias("s_new"),
            ),
            "event_type",
            "full_outer",
        )
        .select(
            "event_type",
            (
                F.coalesce(F.col("n_prev"), F.lit(0))
                + F.coalesce(F.col("n_new"), F.lit(0))
            )
            .cast("long")
            .alias("n"),
            (
                F.coalesce(F.col("s_prev"), F.lit(0))
                + F.coalesce(F.col("s_new"), F.lit(0))
            )
            .cast("long")
            .alias("s"),
        )
    )


#: raw events -> per-arm (n, s) counts
BANDIT_VIEW = monoid(bandit_arm_counts, merge_arm_counts)


# ---------------------------------------------------------------------------
# driver-gated lifecycle: the streaming twin of q_bandit_posterior
# ---------------------------------------------------------------------------

_BANDITVIEW_VERSION = "v2"


def _ensure_bandit_view(spark: SparkSession, sf_dir: str) -> str:
    """Two committed versions with the REAL fold kernel: v=1 folds the
    even-event_id half, v=2 folds the odd half on top — so v=2 must
    equal the one-shot batch counts. Shared cache discipline."""
    import os

    from dynamodb_streaming_datalake_spark.cache import ensure_cached_build
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    def build(build_dir: str) -> None:
        view = os.path.join(build_dir, "view")
        ev = read_table(spark, sf_dir, "events")
        for v in (1, 2):
            half = ev.where(F.col("event_id") % 2 == v - 1)
            advance_view(spark, half, view, v, BANDIT_VIEW)

    return ensure_cached_build(
        "banditview", _BANDITVIEW_VERSION, sf_dir, build
    )


def _register() -> None:
    from dynamodb_streaming_datalake_spark.registry import query

    _ORACLE = "\nUNION ALL\n".join(
        f"SELECT CAST({v} AS INT) AS version, * FROM ({bandit_oracle_sql(w)})"
        for v, w in ((1, "event_id % 2 = 0"), (2, "TRUE"))
    )

    @query("q_bandit_stream", oracle=_ORACLE)
    def q_bandit_stream(spark, sf_dir):
        """Streaming twin of q_bandit_posterior under the oracle gate:
        the per-arm (n, s) state advances through two committed view
        versions with the real foreachBatch fold kernel (even half ->
        v=1, odd half folded on top -> v=2, cached per sf_dir), and
        BOTH versions are read back through the IDENTICAL
        bandit_readout grid integration — v=1 via time travel after
        v=2 committed. The oracle recomputes each version's posterior
        from the raw events from scratch, so hash equality proves the
        incremental count fold feeds the allocator exactly what a
        one-shot refresh would. The same kernel drains from a genuine
        readStream under availableNow in tests/test_streaming.py.

        Scale: see module docstring — O(|batch arms| + |arms|) per
        refresh; posterior arithmetic constant on |arms| x grid."""
        import os

        path = _ensure_bandit_view(spark, sf_dir)
        view = os.path.join(path, "view")
        out = []
        for v in (1, 2):
            arms = current_view(spark, view, version=v)
            out.append(
                bandit_readout(spark, arms).select(
                    F.lit(v).cast("int").alias("version"), "*"
                )
            )
        return out[0].unionByName(out[1])


_register()
