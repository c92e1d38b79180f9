"""Latest-state reconstruction & snapshot(+)CDC merge (SURVEY §2 B6/B7).

The declared purpose of the reference lake's ``Event`` +
``ingestion_timestamp`` columns is "dedupe in the Lake"
(``/root/reference/resources/firehose_transformation.py:16-19``); the
key is ``(id, name)``
(``/root/reference/lib/dynamodb-streaming-datalake-stack.ts:72-79``).

Two physical strategies for top-1-per-key, chosen for scale:

* ``agg`` (default): one ``max_by(struct(payload...),
  struct(version...))`` under a plain groupBy, expanded back into
  columns — partial aggregation runs map-side, so at 100 TB the shuffle
  carries one row per key per input partition instead of every version.
  The payload rides as the max_by VALUE, never as an ordering, so a
  map column (the schemaless ``attrs``) is fine where ``max(struct)``
  would fail to order it.
* ``window``: ``row_number() over (partition by key order by version
  desc) = 1`` — full shuffle + per-partition sort of ALL versions;
  kept because it is the standard formulation and is what the DuckDB
  oracle uses, but the agg path is the one to run at scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dynamodb_streaming_datalake_spark.registry import query
from dynamodb_streaming_datalake_spark.sources.readers import read_table


def latest_state(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    method: str = "agg",
) -> DataFrame:
    """Top-1-per-key: the newest version of every key (B6).

    ``order_by`` must be a deterministic total order within a key —
    e.g. ``("ingestion_timestamp", "seq")`` with our monotonic
    tie-break, or ``("ts", "event_id")`` for the events table.
    """
    payload = [c for c in df.columns if c not in keys]
    if method == "agg":
        version = F.struct(*[F.col(c) for c in order_by])
        row = F.struct(*[F.col(c) for c in payload])
        latest = F.max_by(row, version).alias("__latest")
        return df.groupBy(*keys).agg(latest).select(*keys, "__latest.*")
    if method == "window":
        w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    raise ValueError(f"unknown method: {method!r}")


def reconstruct_table(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    event_col: str = "Event",
    delete_event: str = "REMOVE",
) -> DataFrame:
    """Current table state from a CDC log: latest version per key, then
    drop keys whose latest event is a delete (B4+B6) — REMOVE rows carry
    the deleted image (``firehose_transformation.py:9-10``) precisely so
    this subtraction is possible."""
    latest = latest_state(df, keys, order_by)
    return latest.where(F.col(event_col) != delete_event)


def merge_snapshot_cdc(
    snapshot: DataFrame,
    cdc: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    method: str = "agg",
) -> DataFrame:
    """Snapshot (+) CDC full-outer combine, CDC wins (B7).

    The lake's two zones — Parquet full_load
    (``ddb_full_load.py:73-82``) and the gzip-NDJSON CDC prefix
    (stack ``:220-222``) — are two halves of one logical table
    (README.md:62-81). Union by name (schema drift tolerated), then
    latest-state per key: any key touched by CDC after the snapshot cut
    takes its CDC version because its order key is newer.
    """
    unioned = snapshot.unionByName(cdc, allowMissingColumns=True)
    return latest_state(unioned, keys, order_by, method=method)


# ---------------------------------------------------------------------------
# registered queries (events table stands in as the CDC log: key=user_id,
# version=(ts, event_id))
# ---------------------------------------------------------------------------

_LATEST_ORACLE = """
    SELECT user_id,
           event_id AS last_event_id,
           event_type AS last_event_type,
           value AS last_value,
           CAST(epoch_us(ts) AS BIGINT) AS last_ts_us
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
"""


@query("q_latest_state_per_key", oracle=_LATEST_ORACLE)
def q_latest_state_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 latest-state dedup, agg strategy (map-side combine)."""
    e = read_table(spark, sf_dir, "events")
    latest = latest_state(e, keys=["user_id"], order_by=["ts", "event_id"])
    return latest.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("last_ts_us"),
    )


@query("q_merge_snapshot_cdc", oracle=_LATEST_ORACLE)
def q_merge_snapshot_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: split events at a cut timestamp into a 'snapshot' (latest
    state before T) and a 'CDC tail' (events after T), merge, and verify
    the merge equals direct latest-state over the whole log — the same
    identity the lake relies on (full_load + CDC = current table)."""
    e = read_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    snapshot = latest_state(
        e.where(F.col("ts") < cut), keys=["user_id"], order_by=["ts", "event_id"]
    )
    cdc_tail = e.where(F.col("ts") >= cut)
    merged = merge_snapshot_cdc(
        snapshot, cdc_tail, keys=["user_id"], order_by=["ts", "event_id"]
    )
    return merged.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("last_ts_us"),
    )


@query(
    "q_scd2_intervals",
    oracle="""
    SELECT user_id, event_id,
           CAST(ROW_NUMBER() OVER w AS INT) AS version_no,
           CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
           CAST(epoch_us(LEAD(ts) OVER w) AS BIGINT) AS valid_to_us,
           (LEAD(ts) OVER w IS NULL) AS is_current
    FROM events
    WHERE event_type IN ('signup', 'purchase')
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 reconstruction: turn each key's change history into
    versioned validity intervals [valid_from, valid_to) with an
    is_current flag — the standard way a CDC lake serves "state as of
    time T" without storing one snapshot per timestamp (the reference
    lands `Event` + `ingestion_timestamp` per change for exactly this,
    `/root/reference/resources/firehose_transformation.py:16-19`).

    Scale: one shuffle on the key; ROW_NUMBER and LEAD share a single
    window spec, so Catalyst plans one Window operator over one sort.
    Joining facts "as of" then becomes a range probe into bounded
    intervals instead of a scan of the full history.
    """
    e = read_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("signup", "purchase")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("version_no"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("valid_from_us"),
        F.unix_micros(nxt.cast("timestamp")).alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "q_pit_join",
    oracle="""
    WITH scd2 AS (
        SELECT user_id, event_id,
               CAST(ROW_NUMBER() OVER w AS INT) AS version_no,
               epoch_us(ts) AS valid_from_us,
               epoch_us(LEAD(ts) OVER w) AS valid_to_us
        FROM events
        WHERE event_type IN ('signup', 'purchase')
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT f.event_id, f.user_id,
           CAST(epoch_us(f.ts) AS BIGINT) AS ts_us,
           v.version_no,
           v.event_id AS version_event_id
    FROM events f
    LEFT JOIN scd2 v
      ON v.user_id = f.user_id
     AND epoch_us(f.ts) >= v.valid_from_us
     AND (v.valid_to_us IS NULL OR epoch_us(f.ts) < v.valid_to_us)
    WHERE f.event_type = 'view'
    """,
)
def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) dimension join — the warehouse query
    SCD2 intervals exist to serve: every 'view' fact is joined to the
    user's dimension version that was valid AT the fact's timestamp
    (NULL before the first version). The oracle states it declaratively
    as interval containment over q_scd2_intervals' reconstruction.

    The Spark plan is NOT that theta join (which would plan as a
    nested loop): it is the as-of composition — version-start rows and
    facts union into one per-user timeline, one sorted window carries
    the latest version forward, facts read it. One shuffle on the key,
    one sort per user history; boundary semantics (a fact exactly at a
    version start sees the NEW version, zero-length versions are
    skipped) fall out of ordering version rows before facts at equal
    timestamps and carrying the LAST version-start.

    Scale: identical cost profile to q_asof_join — linear in history
    per user, no interval explosion; at 100 TB you bucket both inputs
    by user_id so the union needs no extra shuffle."""
    e = read_table(spark, sf_dir, "events")
    dim = (
        e.where(F.col("event_type").isin("signup", "purchase"))
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.col("event_id").alias("version_event_id"),
        )
    )
    w0 = Window.partitionBy("user_id").orderBy("ts_us", "version_event_id")
    dim = dim.withColumn("version_no", F.row_number().over(w0)).select(
        "user_id",
        "ts_us",
        F.lit(0).alias("kind"),
        F.col("version_no"),
        "version_event_id",
        F.lit(None).cast("long").alias("event_id"),
    )
    facts = e.where(F.col("event_type") == "view").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("int").alias("version_no"),
        F.lit(None).cast("long").alias("version_event_id"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "kind", "version_no")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = dim.unionByName(facts).select(
        "user_id",
        "ts_us",
        "kind",
        "event_id",
        F.last("version_no", ignorenulls=True).over(w).alias("v_no"),
        F.last("version_event_id", ignorenulls=True).over(w).alias("v_eid"),
    )
    return merged.where(F.col("kind") == 1).select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("v_no").alias("version_no"),
        F.col("v_eid").alias("version_event_id"),
    )


# ---------------------------------------------------------------------------
# incremental aggregate (materialized-view) maintenance — round 6
# ---------------------------------------------------------------------------
# The lakehouse pattern behind every "refresh the dashboard from CDC"
# job: a per-key aggregate view is maintained by MERGING partial
# aggregates of only the new rows into the existing view — never
# re-reading the base. COUNT/SUM/MAX are all decomposable
# (self-merging) aggregates, so view(base) merge agg(delta) must equal
# agg(base union delta) EXACTLY — which is precisely what the DuckDB
# oracle (a full recompute over all events) proves. Sums ride the
# repo-standard decimal(18,6) discipline so the merge is
# order-independent.

#: deterministic base/delta split: every 5th event is "new"
INCR_SPLIT = 5


@query(
    "q_incr_agg",
    oracle="""
    SELECT user_id, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           MAX(ts) AS max_ts
    FROM events
    GROUP BY user_id, event_type
    """,
)
def q_incr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintain a per-(user, event_type) aggregate view:
    aggregate the base (4/5 of events) as the pre-existing view,
    aggregate only the delta (1/5), and MERGE the partials with a full
    outer join — count+count, decimal sum+sum, greatest(max, max). The
    oracle recomputes from scratch over all events; hash-equality IS
    the proof that the incremental path loses nothing.

    Scale: this is the O(|delta| + |view|) refresh that replaces an
    O(|base|) rescan; the merge join is on the view key, and with the
    view bucketed by key it is shuffle-free. Average-style aggregates
    stay decomposable by carrying (sum, count); only true holistic
    aggregates (exact median) need the rescan."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_id") % INCR_SPLIT != 0)
    delta = ev.where(F.col("event_id") % INCR_SPLIT == 0)
    return finalize_agg_view(
        merge_agg_partials(agg_event_partials(base), agg_event_partials(delta))
    )


def agg_event_partials(df: DataFrame) -> DataFrame:
    """Decomposable per-(user, event_type) partials — the shared kernel
    of the batch refresh (q_incr_agg) and the streaming view maintainer
    (streaming.aggview)."""
    return df.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_dec"),
        F.max("ts").alias("max_ts"),
    )


def merge_agg_partials(view: DataFrame, dlt: DataFrame) -> DataFrame:
    """Full-outer merge of two partial tables: count+count, decimal
    sum+sum, greatest(max, max) — associative and commutative, so any
    batch/stream interleaving converges to the full recompute."""
    view, dlt = view.alias("v"), dlt.alias("d")
    merged = view.join(
        dlt,
        (F.col("v.user_id") == F.col("d.user_id"))
        & (F.col("v.event_type") == F.col("d.event_type")),
        "full_outer",
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return merged.select(
        F.coalesce("v.user_id", "d.user_id").alias("user_id"),
        F.coalesce("v.event_type", "d.event_type").alias("event_type"),
        (
            F.coalesce("v.n_events", F.lit(0))
            + F.coalesce("d.n_events", F.lit(0))
        ).alias("n_events"),
        (F.coalesce("v.sum_dec", zero) + F.coalesce("d.sum_dec", zero))
        .cast("decimal(18,6)")
        .alias("sum_dec"),
        F.greatest(
            F.coalesce("v.max_ts", "d.max_ts"),
            F.coalesce("d.max_ts", "v.max_ts"),
        ).alias("max_ts"),
    )


def finalize_agg_view(partials: DataFrame) -> DataFrame:
    """Serving projection: decimal sum surfaces as double."""
    return partials.select(
        "user_id",
        "event_type",
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
        "max_ts",
    )


# ---------------------------------------------------------------------------
# snapshot diff: CDC *generation* (inverse of B7's merge) — round 6
# ---------------------------------------------------------------------------

#: deterministic twin snapshots derived from orders: "old" drops every
#: 13th key, "new" drops every 17th and reprices every 5th — so the
#: diff contains all three change types with exactly known membership
DIFF_OLD_DROP = 13
DIFF_NEW_DROP = 17
DIFF_REPRICE = 5


@query(
    "q_snapshot_diff",
    oracle=f"""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders WHERE o_orderkey % {DIFF_OLD_DROP} != 0
    ),
    new AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(CASE WHEN o_orderkey % {DIFF_REPRICE} = 0
                         THEN o_totalprice * 2 ELSE o_totalprice END
                    AS DECIMAL(18,2)) AS price
        FROM orders WHERE o_orderkey % {DIFF_NEW_DROP} != 0
    )
    SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'INSERT'
                WHEN new.o_orderkey IS NULL THEN 'REMOVE'
                ELSE 'MODIFY' END AS Event,
           CAST(new.price AS DOUBLE) AS new_price,
           CAST(old.price AS DOUBLE) AS old_price
    FROM old FULL OUTER JOIN new USING (o_orderkey)
    WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
       OR old.o_orderstatus != new.o_orderstatus OR old.price != new.price
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC GENERATION: given two table snapshots, emit the minimal
    change feed (INSERT / MODIFY / REMOVE, with old+new payloads) that
    transforms one into the other — the inverse of the snapshot (+) CDC
    merge (B7), and what a lake emits as a change-data-feed when the
    upstream can't. Payload comparison runs in decimal so 'unchanged'
    is exact, never a float artifact.

    Scale: one full outer join on the snapshot key — with both
    snapshots bucketed by key it is co-partitioned and shuffle-free;
    unchanged rows (the overwhelming majority in a real diff) are
    filtered before anything downstream sees them.

    Reference parity: the reference's lake only CONSUMES Kinesis CDC
    (lib/dynamodb-streaming-datalake-stack.ts:197-203); this supplies
    the reverse direction its consumers need for backfills when the
    stream has gaps."""
    o = read_table(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderkey") % DIFF_OLD_DROP != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    new = o.where(F.col("o_orderkey") % DIFF_NEW_DROP != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % DIFF_REPRICE == 0,
            F.col("o_totalprice") * 2,
        )
        .otherwise(F.col("o_totalprice"))
        .cast("decimal(18,2)")
        .alias("price"),
    )
    j = old.alias("o").join(new.alias("n"), "o_orderkey", "full_outer")
    changed = j.where(
        F.col("o.price").isNull()
        | F.col("n.price").isNull()
        | (F.col("o.o_orderstatus") != F.col("n.o_orderstatus"))
        | (F.col("o.price") != F.col("n.price"))
    )
    return changed.select(
        "o_orderkey",
        F.when(F.col("o.price").isNull(), F.lit("INSERT"))
        .when(F.col("n.price").isNull(), F.lit("REMOVE"))
        .otherwise(F.lit("MODIFY"))
        .alias("Event"),
        F.col("n.price").cast("double").alias("new_price"),
        F.col("o.price").cast("double").alias("old_price"),
    )


# ---------------------------------------------------------------------------
# incremental maintenance of a JOIN-aggregate view (round 9)
# ---------------------------------------------------------------------------


def _nation_order_partials(orders: DataFrame, cust: DataFrame) -> DataFrame:
    """Per-nation partials of the orders x customer join view."""
    return (
        orders.join(F.broadcast(cust), "o_custkey")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias(
                "rev_dec"
            ),
        )
    )


@query(
    "q_ivm_join",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def q_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN-aggregate view — the step past
    q_incr_agg's single-table view: the materialized view is per-nation
    order count + revenue over orders x customer, the delta is every
    INCR_SPLIT-th order, and the refresh computes ONLY
    ``agg(delta JOIN dim)`` and merges it into the existing view by key
    (count+count, decimal sum+sum). This is the ΔA ⋈ B term of join
    IVM with a static dimension — the common warehouse case; a
    fact-fact join view needs the symmetric ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB over
    MVCC snapshots (streaming/upsert.py holds those versions). The
    oracle recomputes the view from scratch over all orders —
    hash-equality proves the incremental path loses nothing.

    Distinct-style measures are deliberately absent: COUNT(DISTINCT)
    does not decompose into mergeable per-delta state — that is exactly
    what the theta/HLL register views (q_theta_stream,
    q_hll_rolling_stream) exist for.

    Scale: the refresh is O(|delta| + |view|) — the delta joins a
    broadcast dim and pre-reduces map-side to |nations| partials; the
    merge is a full-outer join on the tiny view key. The base fact
    table is never rescanned."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    base = orders.where(F.col("o_orderkey") % INCR_SPLIT != 0)
    delta = orders.where(F.col("o_orderkey") % INCR_SPLIT == 0)
    view = _nation_order_partials(base, cust).alias("v")
    dlt = _nation_order_partials(delta, cust).alias("d")
    zero = F.lit(0).cast("decimal(38,6)")
    merged = view.join(dlt, ["c_nationkey"], "full_outer").select(
        "c_nationkey",
        (
            F.coalesce("v.n_orders", F.lit(0))
            + F.coalesce("d.n_orders", F.lit(0))
        ).alias("n_orders"),
        (F.coalesce("v.rev_dec", zero) + F.coalesce("d.rev_dec", zero))
        .cast("decimal(38,6)")
        .alias("rev_dec"),
    )
    nation = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    return (
        merged.join(F.broadcast(nation), "c_nationkey")
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("rev_dec").cast("double").alias("revenue"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# partial-update merge: last NON-NULL wins per column
# ---------------------------------------------------------------------------
# q_latest_state_per_key materializes the latest FULL row per key —
# correct for DynamoDB's change stream, whose MODIFY events carry the
# complete NewImage (resources/firehose_transformation.py:8 reads the
# whole image). Many CDC sources (Debezium partial updates, Kafka
# compacted patch topics, mobile client syncs) instead emit SPARSE
# updates: each record carries only the attributes that changed, NULL
# elsewhere. Folding that state needs a different merge: per key and PER
# COLUMN, the value from the highest-LSN record where that column is
# present. Still one aggregate — max_by under a FILTER per column —
# so map-side partials shrink every partition to one candidate per
# (key, column) and the shuffle carries state-sized, not log-sized,
# data: exactly how a patch-stream compactor must behave at 100 TB.


#: patch attributes: (name, serving type) — shared by the batch fold,
#: the segment fold, and the read-time consolidator
PATCH_ATTRS = ("device", "plan", "score")

#: q_partial_update_merge's oracle — the streaming patch view
#: (q_partial_update_stream) must hash-match the same fold.
_PATCH_ORACLE = """
    WITH feed AS (
        SELECT user_id, event_id,
               CASE WHEN event_id % 3 <> 0
                    THEN 'd' || CAST(event_id % 5 AS VARCHAR) END AS device,
               CASE WHEN event_id % 4 = 1 THEN event_type END AS plan,
               CASE WHEN CAST(floor(value * 100) AS BIGINT) % 2 = 0
                    THEN CAST(floor(value * 100) AS BIGINT) END AS score
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_updates,
           arg_max(device, event_id)
               FILTER (WHERE device IS NOT NULL) AS last_device,
           CAST(COUNT(device) AS BIGINT) AS n_device_updates,
           arg_max(plan, event_id)
               FILTER (WHERE plan IS NOT NULL) AS last_plan,
           CAST(COUNT(plan) AS BIGINT) AS n_plan_updates,
           arg_max(score, event_id)
               FILTER (WHERE score IS NOT NULL) AS last_score,
           CAST(COUNT(score) AS BIGINT) AS n_score_updates
    FROM feed
    GROUP BY user_id
    """


def partial_update_feed(e: DataFrame) -> DataFrame:
    """Recast the event log as a sparse patch feed: LSN = event_id,
    each record carrying a deterministic subset of three attributes
    (device on 2/3 of records, plan on 1/4, score when the cent value
    is even), NULL elsewhere. Row-local, so the feed commutes with
    micro-batching."""
    ev = F.col("event_id")
    return e.select(
        "user_id",
        "event_id",
        F.when(
            ev % 3 != 0,
            F.concat(F.lit("d"), (ev % 5).cast("string")),
        ).alias("device"),
        F.when(ev % 4 == 1, F.col("event_type")).alias("plan"),
        F.when(
            F.floor(F.col("value") * 100).cast("long") % 2 == 0,
            F.floor(F.col("value") * 100).cast("long"),
        ).alias("score"),
    )


def fold_patch_state(feed: DataFrame) -> DataFrame:
    """Fold a patch feed to per-key column states — for each attribute
    the last non-null value, the LSN it came from, and the update
    count. The result is MERGEABLE: (value@maxLSN, maxLSN) is a monoid
    under LSN-max with null skip, counts are sums — so two folded
    frames (micro-batch segments) merge to the same state the one-shot
    fold produces (`merge_patch_states`)."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_updates")]
    for c in PATCH_ATTRS:
        aggs += [
            F.expr(
                f"max_by({c}, event_id) FILTER (WHERE {c} IS NOT NULL)"
            ).alias(f"last_{c}"),
            F.expr(
                f"max(event_id) FILTER (WHERE {c} IS NOT NULL)"
            ).alias(f"{c}_lsn"),
            F.count(c).cast("long").alias(f"n_{c}_updates"),
        ]
    return feed.groupBy("user_id").agg(*aggs)


def merge_patch_states(states: DataFrame) -> DataFrame:
    """Merge a union of folded per-key states (one row per key per
    segment) back to one row per key: per attribute, the value from
    the segment with the highest attribute-LSN; counts sum. Idempotent
    on an already-merged frame, so re-consolidation is harmless."""
    aggs = [F.sum("n_updates").cast("long").alias("n_updates")]
    for c in PATCH_ATTRS:
        aggs += [
            F.expr(
                f"max_by(last_{c}, {c}_lsn)"
                f" FILTER (WHERE {c}_lsn IS NOT NULL)"
            ).alias(f"last_{c}"),
            F.max(f"{c}_lsn").alias(f"{c}_lsn"),
            F.sum(f"n_{c}_updates").cast("long").alias(f"n_{c}_updates"),
        ]
    return states.groupBy("user_id").agg(*aggs)


def serve_patch_state(state: DataFrame) -> DataFrame:
    """Project the folded state to the serving columns (drop the
    per-attribute LSN bookkeeping) in the oracle's column set."""
    cols = ["user_id", "n_updates"]
    for c in PATCH_ATTRS:
        cols += [f"last_{c}", f"n_{c}_updates"]
    return state.select(*cols)


@query(
    "q_partial_update_merge",
    oracle=_PATCH_ORACLE,
)
def q_partial_update_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-update (patch-stream) state merge: the event log is
    recast as a sparse CDC feed — LSN = event_id, each record carrying
    only a deterministic subset of three attributes (device on 2/3 of
    records, plan on 1/4, score when the cent value is even) — and the
    folded state takes, per key and PER COLUMN, the value from the
    highest-LSN record where that column is present (last non-null
    wins), plus per-column update counts. This is the merge semantic
    full-row latest-state (q_latest_state_per_key) cannot express:
    three different records may each contribute one surviving column.

    Scale: one groupBy(user_id) with per-column `max_by ... FILTER
    (WHERE col IS NOT NULL)` — partial aggregation keeps one candidate
    per (key, column) per partition map-side, so the shuffle carries
    O(|keys|) state rather than O(|log|) records; appending a new
    batch re-folds only the delta (the same monoid shape q_incr_agg
    exploits)."""
    feed = partial_update_feed(read_table(spark, sf_dir, "events"))
    return serve_patch_state(fold_patch_state(feed))


# ---------------------------------------------------------------------------
# patch stream -> SCD2: the Debezium-to-history pipeline (round 16)
# ---------------------------------------------------------------------------
# q_partial_update_merge answers "what is the CURRENT state" of a
# sparse patch stream; q_scd2_intervals answers "when was each full
# row valid". The pipeline real lakes run off a Debezium/compacted
# patch topic is their COMPOSITION: reconstruct the full row as of
# every patch (per-column last-non-null carry-forward in LSN order),
# collapse patches that changed nothing (a patch may re-assert a
# column's existing value), and version the surviving distinct states
# into [valid_from, valid_to) intervals with an is_current flag.


@query(
    "q_scd2_from_patches",
    oracle="""
    WITH feed AS (
        SELECT user_id, event_id,
               CASE WHEN event_id % 3 <> 0
                    THEN 'd' || CAST(event_id % 5 AS VARCHAR) END AS device,
               CASE WHEN event_id % 4 = 1 THEN event_type END AS plan,
               CASE WHEN CAST(floor(value * 100) AS BIGINT) % 2 = 0
                    THEN CAST(floor(value * 100) AS BIGINT) END AS score
        FROM events
    ),
    rec AS (
        SELECT user_id, event_id,
               last_value(device IGNORE NULLS) OVER w AS device,
               last_value(plan IGNORE NULLS) OVER w AS plan,
               last_value(score IGNORE NULLS) OVER w AS score
        FROM feed
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    ch AS (
        SELECT *,
               ROW_NUMBER() OVER w2 AS rn,
               lag(device) OVER w2 AS pd,
               lag(plan) OVER w2 AS pp,
               lag(score) OVER w2 AS ps
        FROM rec
        WINDOW w2 AS (PARTITION BY user_id ORDER BY event_id)
    ),
    vers AS (
        SELECT user_id, event_id, device, plan, score
        FROM ch
        WHERE rn = 1
           OR device IS DISTINCT FROM pd
           OR plan IS DISTINCT FROM pp
           OR score IS DISTINCT FROM ps
    )
    SELECT user_id,
           CAST(ROW_NUMBER() OVER w3 AS INT) AS version_no,
           event_id AS valid_from_lsn,
           LEAD(event_id) OVER w3 AS valid_to_lsn,
           (LEAD(event_id) OVER w3 IS NULL) AS is_current,
           device, plan, score
    FROM vers
    WINDOW w3 AS (PARTITION BY user_id ORDER BY event_id)
    """,
)
def q_scd2_from_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patch stream -> SCD2 history, the composition of
    q_partial_update_merge (per-column last-non-null state) and
    q_scd2_intervals (validity intervals): the sparse patch feed is
    replayed in LSN order, the full row is reconstructed AS OF every
    patch by per-column carry-forward (``last(col, ignorenulls)`` over
    the LSN window), no-op patches — records that re-assert only
    existing values — are collapsed via a null-safe lag comparison,
    and the surviving distinct states version into
    [valid_from_lsn, valid_to_lsn) intervals. The is_current row per
    user equals q_partial_update_merge's folded state by construction
    (pinned in tests/test_cdc.py), closing the loop: current state is
    the last SCD2 version.

    Scale: one shuffle on the key; the reconstruction, change-detect,
    and versioning windows share the same partitioning and ordering,
    so Catalyst plans them over one sort (plus one over the collapsed
    |versions| frame). History length per key is the dial, exactly as
    in q_scd2_intervals; nothing is quadratic in patches."""
    feed = partial_update_feed(read_table(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rec = feed.select(
        "user_id",
        "event_id",
        *[
            F.last(c, ignorenulls=True).over(w).alias(c)
            for c in PATCH_ATTRS
        ],
    )
    w2 = Window.partitionBy("user_id").orderBy("event_id")
    changed = F.lit(False)
    ch = rec.withColumn("rn", F.row_number().over(w2))
    for c in PATCH_ATTRS:
        ch = ch.withColumn(f"p_{c}", F.lag(c).over(w2))
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"p_{c}"))
    vers = ch.where((F.col("rn") == 1) | changed)
    w3 = Window.partitionBy("user_id").orderBy("event_id")
    nxt = F.lead("event_id").over(w3)
    return vers.select(
        "user_id",
        F.row_number().over(w3).cast("int").alias("version_no"),
        F.col("event_id").alias("valid_from_lsn"),
        nxt.alias("valid_to_lsn"),
        nxt.isNull().alias("is_current"),
        *PATCH_ATTRS,
    )


# ---------------------------------------------------------------------------
# retractable MIN/MAX view maintenance (delete-safe incremental aggs)
# ---------------------------------------------------------------------------
# q_incr_agg's merge is a MONOID fold — count+count, sum+sum,
# greatest(max, max) — which is exactly why it cannot absorb DELETES:
# greatest() never forgets, so a retracted maximum lives forever. The
# standard fix (Flink retract aggregates, materialized-view engines)
# is to maintain the aggregate over a per-(key, value) COUNT MAP:
# inserts +1, deletes -1, and MIN/MAX/COUNT read only entries with
# positive support. The map is itself a monoid (counts add), so the
# incremental discipline q_incr_agg proved carries over unchanged —
# only now subtraction is a first-class citizen.

#: delete selector: every DEL_SPLIT-th event is retracted by the delta
DEL_SPLIT = 10


def minmax_support(df: DataFrame, sign: int) -> DataFrame:
    """(user_id, value) support counts with polarity ``sign`` (+1
    insert feed, -1 delete feed) — the mergeable unit of the
    retractable view."""
    return df.groupBy("user_id", "value").agg(
        (F.count(F.lit(1)) * sign).cast("long").alias("c")
    )


def merge_support(view: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta's support counts into the view: full outer on the
    (key, value) map key, counts ADD (deletes are negative), entries
    at zero support vanish — the view never retains retracted
    values."""
    merged = (
        view.select(
            F.col("user_id").alias("u"),
            F.col("value").alias("v"),
            F.col("c").alias("cv"),
        )
        .join(
            delta.select(
                F.col("user_id").alias("u"),
                F.col("value").alias("v"),
                F.col("c").alias("cd"),
            ),
            ["u", "v"],
            "full_outer",
        )
        .select(
            F.col("u").alias("user_id"),
            F.col("v").alias("value"),
            (
                F.coalesce(F.col("cv"), F.lit(0))
                + F.coalesce(F.col("cd"), F.lit(0))
            ).alias("c"),
        )
    )
    return merged.where(F.col("c") != 0)


def serve_minmax(view: DataFrame) -> DataFrame:
    """Read the retractable view: per key, min/max/count over entries
    with positive support."""
    return view.where(F.col("c") > 0).groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_live"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


@query(
    "q_retractable_minmax",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_live,
           round(MIN(value), 6) AS min_value,
           round(MAX(value), 6) AS max_value
    FROM events
    WHERE event_id % {DEL_SPLIT} != 0
    GROUP BY user_id
    """,
)
def q_retractable_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-safe incremental MIN/MAX: the view is maintained in two
    refreshes — v1 folds the even-event_id inserts, the delta then
    folds the odd inserts AND RETRACTS every {DEL_SPLIT}-th event
    (which v1 had already absorbed) — and the serve reads per-user
    min/max/count from the surviving support. The oracle computes the
    final state from scratch over the surviving rows, so hash
    equality proves the retraction actually removed the deleted
    extremes — the thing q_incr_agg's greatest(max, max) monoid
    cannot do (a retracted maximum would survive there forever).

    Scale: the support map is a mergeable monoid on (key, value) —
    counts add, zero-support entries vanish at merge, so state is
    bounded by LIVE distinct (key, value) pairs, not log length; each
    refresh joins only the delta's keys (bucket the view by key for a
    shuffle-free merge, the q_incr_agg discipline). Where distinct
    values per key are unbounded, the standard refinement keeps
    per-bucket support + bucket extremes and rescans one bucket on
    retraction of its extreme."""
    ev = read_table(spark, sf_dir, "events")
    inserts_v1 = ev.where(F.col("event_id") % 2 == 0)
    inserts_v2 = ev.where(F.col("event_id") % 2 == 1)
    deletes_v2 = ev.where(F.col("event_id") % DEL_SPLIT == 0)
    view1 = minmax_support(inserts_v1, +1)
    delta = minmax_support(inserts_v2, +1).unionByName(
        minmax_support(deletes_v2, -1)
    )
    # delta carries both polarities of one refresh: pre-reduce it so
    # the merge join sees one row per (key, value)
    delta = delta.groupBy("user_id", "value").agg(
        F.sum("c").cast("long").alias("c")
    )
    view2 = merge_support(view1, delta)
    return serve_minmax(view2)


from dynamodb_streaming_datalake_spark.registry import (  # noqa: E402
    format_doc as _fmt_state,
)

_fmt_state(q_retractable_minmax, DEL_SPLIT=DEL_SPLIT)
