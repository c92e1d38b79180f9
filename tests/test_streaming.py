"""Streaming semantics (SURVEY §2 A1-A2/A9 streaming path, B18-B19):
availableNow micro-batch drains, exactly-once sinks, stream==batch
window parity, stateful dedup, custom stateful latest-state."""

from __future__ import annotations

import glob

import pytest

from pyspark.sql import functions as F

from dynamodb_streaming_datalake_spark.operators.cdc import cdc_transform
from dynamodb_streaming_datalake_spark.operators.state import reconstruct_table
from dynamodb_streaming_datalake_spark.sources.cdc_fixture import generate_fixture
from dynamodb_streaming_datalake_spark.sources.readers import read_table, read_table_stream
from dynamodb_streaming_datalake_spark.streaming.pipeline import (
    start_error_stream,
    start_lake_stream,
)
from dynamodb_streaming_datalake_spark.streaming.stateful import (
    streaming_dedup,
    streaming_latest_state,
)
from dynamodb_streaming_datalake_spark.streaming.windows import tumbling_counts

ATTRS = ("id", "name", "Designation", "salary", "active", "tags", "address")


def EVENT_TS():
    return F.timestamp_seconds(F.col("env.dynamodb.ApproximateCreationDateTime"))


def _write_source_files(fixture, src_dir, n_files=3):
    lines = fixture.json_lines()
    per = (len(lines) + n_files - 1) // n_files
    src_dir.mkdir(parents=True, exist_ok=True)
    for i in range(n_files):
        chunk = lines[i * per : (i + 1) * per]
        if chunk:
            (src_dir / f"batch-{i}.json").write_text("\n".join(chunk) + "\n")


def test_lake_stream_exactly_once_and_incremental(spark, tmp_path):
    """availableNow drain -> lake rows == batch ok rows; re-running on
    the same checkpoint adds nothing; new source files add only their
    rows (checkpoint replay == exactly-once, stronger than Firehose's
    2-retries at-least-once)."""
    fx = generate_fixture(n_keys=40, n_events=300, unknown_rate=0.05)
    src = tmp_path / "src"
    _write_source_files(fx, src, n_files=2)

    lake = str(tmp_path / "lake")
    ck = str(tmp_path / "ck")
    q = start_lake_stream(
        spark, str(src), lake, ck, attributes=ATTRS, ingestion_ts=EVENT_TS()
    )
    q.awaitTermination(120)

    raw = spark.createDataFrame([(l,) for l in fx.json_lines()], "json string")
    ok, err = cdc_transform(raw, attributes=ATTRS, ingestion_ts=EVENT_TS())
    expected = ok.count()
    assert spark.read.json(lake).count() == expected

    # replay with same checkpoint: no duplicates
    q2 = start_lake_stream(
        spark, str(src), lake, ck, attributes=ATTRS, ingestion_ts=EVENT_TS()
    )
    q2.awaitTermination(120)
    assert spark.read.json(lake).count() == expected

    # new file: only its ok-rows are appended
    fx2 = generate_fixture(n_keys=10, n_events=50, unknown_rate=0.0, seed=7)
    (src / "batch-late.json").write_text("\n".join(fx2.json_lines()) + "\n")
    q3 = start_lake_stream(
        spark, str(src), lake, ck, attributes=ATTRS, ingestion_ts=EVENT_TS()
    )
    q3.awaitTermination(120)
    raw2 = spark.createDataFrame([(l,) for l in fx2.json_lines()], "json string")
    ok2, _ = cdc_transform(raw2, attributes=ATTRS, ingestion_ts=EVENT_TS())
    assert spark.read.json(lake).count() == expected + ok2.count()


def test_error_stream_routes_unknown_events(spark, tmp_path):
    fx = generate_fixture(n_keys=20, n_events=200, unknown_rate=0.15)
    src = tmp_path / "src"
    _write_source_files(fx, src)
    errs = str(tmp_path / "errors")
    q = start_error_stream(spark, str(src), errs, str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert glob.glob(f"{errs}/result=UnknownEvent/*.json.gz")
    n_unknown = sum(1 for e in fx.events if e.event_name == "TTL_DELETE")
    assert spark.read.json(errs).count() == n_unknown


def test_streaming_window_matches_batch(spark, sf_smoke):
    """B18: the same tumbling_counts function over the events stream
    (availableNow) must equal its batch result."""
    stream = tumbling_counts(read_table_stream(spark, sf_smoke, "events"))
    q = (
        stream.writeStream.format("memory")
        .queryName("tumbling_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("tumbling_stream").collect()
    want = tumbling_counts(read_table(spark, sf_smoke, "events")).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_streaming_dedup_drops_replays(spark, tmp_path):
    """B19: replayed records (same eventID) across micro-batches are
    emitted once."""
    fx = generate_fixture(n_keys=10, n_events=80, unknown_rate=0.0)
    src = tmp_path / "src"
    _write_source_files(fx, src, n_files=2)
    # duplicate an entire file -> at-least-once delivery simulation
    dup = (src / "batch-0.json").read_text()
    (src / "batch-dup.json").write_text(dup)

    raw = spark.readStream.text(str(src)).withColumnRenamed("value", "json")
    ok, _ = cdc_transform(raw, attributes=ATTRS, ingestion_ts=EVENT_TS())
    deduped = streaming_dedup(ok, ["eventID"], event_time_col="event_time")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("dedup_stream")
    assert out.count() == len(fx.events)
    assert out.select("eventID").distinct().count() == len(fx.events)


def test_streaming_latest_state_matches_batch(spark, tmp_path):
    """B19 custom stateful op: applyInPandasWithState latest-state over
    the full drain == batch reconstruction (live keys)."""
    fx = generate_fixture(n_keys=30, n_events=250, unknown_rate=0.0)
    src = tmp_path / "src"
    _write_source_files(fx, src, n_files=3)

    raw = spark.readStream.text(str(src)).withColumnRenamed("value", "json")
    ok, _ = cdc_transform(raw, attributes=ATTRS, ingestion_ts=EVENT_TS())
    latest = streaming_latest_state(ok, payload_cols=["Designation", "salary"])
    q = (
        latest.writeStream.format("memory")
        .queryName("latest_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # final state per key = last update emitted across all micro-batches
    out = spark.table("latest_stream")
    from dynamodb_streaming_datalake_spark.operators.state import latest_state

    final = latest_state(out, keys=["id", "name"], order_by=["event_time_us"])
    live = final.where(F.col("Event") != "REMOVE")

    raw_b = spark.createDataFrame([(l,) for l in fx.json_lines()], "json string")
    ok_b, _ = cdc_transform(raw_b, attributes=ATTRS, ingestion_ts=EVENT_TS())
    want = reconstruct_table(ok_b, ["id", "name"], ["event_time", "eventID"])
    got_keys = sorted(map(tuple, live.select("id", "name").collect()))
    want_keys = sorted(map(tuple, want.select("id", "name").collect()))
    assert got_keys == want_keys

    # payload of a spot-checked key matches
    import json

    want_row = want.orderBy("id", "name").first()
    got_row = live.where(
        (F.col("id") == want_row["id"]) & (F.col("name") == want_row["name"])
    ).first()
    payload = json.loads(got_row["payload"])
    assert payload.get("Designation") == want_row["Designation"]


def test_snapshot_maintenance_matches_batch(spark, tmp_path):
    """Streaming B7: foreachBatch-upserted versioned snapshot after a
    full drain == batch reconstruct_table; REMOVE tombstones persist in
    storage but not in the serving view."""
    from dynamodb_streaming_datalake_spark.streaming.upsert import (
        current_snapshot,
        start_snapshot_maintenance,
    )

    fx = generate_fixture(n_keys=40, n_events=300, unknown_rate=0.0)
    src = tmp_path / "src"
    _write_source_files(fx, src, n_files=3)

    raw = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(src))
        .withColumnRenamed("value", "json")
    )
    ok, _ = cdc_transform(raw, attributes=ATTRS, ingestion_ts=EVENT_TS())
    snap_dir = str(tmp_path / "snap")
    q = start_snapshot_maintenance(ok, snap_dir, str(tmp_path / "ck"))
    q.awaitTermination(120)

    got = current_snapshot(spark, snap_dir)
    raw_b = spark.createDataFrame([(l,) for l in fx.json_lines()], "json string")
    ok_b, _ = cdc_transform(raw_b, attributes=ATTRS, ingestion_ts=EVENT_TS())
    want = reconstruct_table(ok_b, ["id", "name"], ["event_time", "eventID"])
    cols = ["id", "name", "Designation", "salary"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )

    # tombstones: stored but not served
    stored = current_snapshot(spark, snap_dir, live_only=False)
    n_removed_keys = stored.where(F.col("Event") == "REMOVE").count()
    assert stored.count() == got.count() + n_removed_keys

    # late replay of an OLD event for a removed key must not resurrect it
    from dynamodb_streaming_datalake_spark.streaming.upsert import snapshot_view
    from dynamodb_streaming_datalake_spark.streaming.views import advance_view

    removed = stored.where(F.col("Event") == "REMOVE").first()
    if removed is not None:
        late = ok_b.where(
            (F.col("id") == removed["id"])
            & (F.col("name") == removed["name"])
            & (F.col("Event") != "REMOVE")
        ).limit(1)
        if late.count():
            advance_view(
                spark, late, snap_dir, 9999,
                snapshot_view(["id", "name"], ["event_time", "eventID"]),
            )
            still = current_snapshot(spark, snap_dir).where(
                (F.col("id") == removed["id"]) & (F.col("name") == removed["name"])
            )
            assert still.count() == 0


def test_streaming_sliding_and_session_match_batch(spark, sf_smoke):
    """B18 full coverage: sliding and session windows over the events
    stream (availableNow) equal their batch results — session windows
    exercise the state-store merge path."""
    from dynamodb_streaming_datalake_spark.streaming.windows import (
        session_counts,
        sliding_counts,
    )

    for i, builder in enumerate((sliding_counts, session_counts)):
        name = f"wstream_{i}"
        stream = builder(read_table_stream(spark, sf_smoke, "events"))
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.table(name).collect()
        want = builder(read_table(spark, sf_smoke, "events")).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)), builder.__name__


def test_snapshot_time_travel(spark, tmp_path):
    """MVCC versions stay readable: version 0 serves the first batch's
    state even after later upserts rewrote the current view."""
    from dynamodb_streaming_datalake_spark.streaming.upsert import (
        current_snapshot,
        snapshot_view,
    )
    from dynamodb_streaming_datalake_spark.streaming.views import advance_view
    import pytest as _pytest

    fx = generate_fixture(n_keys=20, n_events=120, unknown_rate=0.0)
    raw = spark.createDataFrame([(l,) for l in fx.json_lines()], "json string")
    ok, _ = cdc_transform(raw, attributes=ATTRS, ingestion_ts=EVENT_TS())
    half = ok.where(F.col("eventID") < "ev-160")
    snap = str(tmp_path / "snap")
    keys, order = ["id", "name"], ["event_time", "eventID"]
    advance_view(spark, half, snap, 0, snapshot_view(keys, order))
    v0_rows = current_snapshot(spark, snap).count()
    advance_view(spark, ok, snap, 1, snapshot_view(keys, order))
    assert current_snapshot(spark, snap, version=0).count() == v0_rows
    assert current_snapshot(spark, snap).count() >= v0_rows - ok.where(
        F.col("Event") == "REMOVE"
    ).count()
    with _pytest.raises(ValueError, match="not committed"):
        current_snapshot(spark, snap, version=7)


def test_kinesis_swap_point_config_and_stub(spark):
    """A1 prod wiring: option assembly matches the reference's stream
    config; a missing connector fails with a clear message, not a stack
    of py4j noise."""
    import pytest as _pytest

    from dynamodb_streaming_datalake_spark.sources.kinesis import (
        KinesisSourceConfig,
        read_kinesis_lines,
    )

    cfg = KinesisSourceConfig(stream_name="ddb-exclusive-stream", region="us-east-1")
    opts = cfg.options()
    assert opts["streamName"] == "ddb-exclusive-stream"
    assert opts["minPartitions"] == "10"  # reference shardCount: 10
    assert opts["startingPosition"] == "TRIM_HORIZON"
    with _pytest.raises(RuntimeError, match="connector 'aws-kinesis' unavailable"):
        read_kinesis_lines(spark, cfg)


def test_snapshot_vacuum_keeps_recent_versions(spark, tmp_path):
    from dynamodb_streaming_datalake_spark.streaming.segments import vacuum_view
    from dynamodb_streaming_datalake_spark.streaming.upsert import (
        current_snapshot,
        snapshot_view,
    )
    from dynamodb_streaming_datalake_spark.streaming.views import advance_view

    fx = generate_fixture(n_keys=10, n_events=60, unknown_rate=0.0)
    raw = spark.createDataFrame([(l,) for l in fx.json_lines()], "json string")
    ok, _ = cdc_transform(raw, attributes=ATTRS, ingestion_ts=EVENT_TS())
    snap = str(tmp_path / "snap")
    keys, order = ["id", "name"], ["event_time", "eventID"]
    for v in range(4):
        advance_view(spark, ok, snap, v, snapshot_view(keys, order))
    final_rows = current_snapshot(spark, snap).count()

    removed = vacuum_view(spark, snap, keep_last=2)[0]
    assert removed == [0, 1]
    assert current_snapshot(spark, snap).count() == final_rows  # current intact
    assert current_snapshot(spark, snap, version=2).count() == final_rows
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not committed"):
        current_snapshot(spark, snap, version=0)


def test_stream_stream_interval_join_matches_batch(spark, sf_smoke):
    """B18 extension: the watermarked stream-stream interval join
    (purchase<-click attribution) over the events stream must produce
    exactly the batch join's pairs — same builder, both modes."""
    from dynamodb_streaming_datalake_spark.streaming.joins import (
        purchase_click_attribution,
    )

    stream = purchase_click_attribution(read_table_stream(spark, sf_smoke, "events"))
    q = (
        stream.writeStream.format("memory")
        .queryName("ssj_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("ssj_stream").collect()
    want = purchase_click_attribution(read_table(spark, sf_smoke, "events")).collect()
    assert len(want) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_upsert_replay_of_committed_version_is_noop(spark, tmp_path):
    """Regression (ADVICE r1): checkpoint-recovery replay of a batch
    whose snapshot version already committed must short-circuit —
    re-running used to read v=N while overwriting v=N, which Spark
    rejects, wedging the stream permanently."""
    from dynamodb_streaming_datalake_spark.streaming.upsert import (
        current_snapshot,
        snapshot_view,
    )
    from dynamodb_streaming_datalake_spark.streaming.views import advance_view

    fx = generate_fixture(n_keys=15, n_events=90, unknown_rate=0.0)
    raw = spark.createDataFrame([(l,) for l in fx.json_lines()], "json string")
    ok, _ = cdc_transform(raw, attributes=ATTRS, ingestion_ts=EVENT_TS())
    snap = str(tmp_path / "snap")
    keys, order = ["id", "name"], ["event_time", "eventID"]
    advance_view(spark, ok, snap, 0, snapshot_view(keys, order))
    want = sorted(map(tuple, current_snapshot(spark, snap, live_only=False).collect()))
    # replay the same batch at the same version: must not raise, must not change
    advance_view(spark, ok, snap, 0, snapshot_view(keys, order))
    got = sorted(map(tuple, current_snapshot(spark, snap, live_only=False).collect()))
    assert got == want


def _in_job_group(spark, group, fn):
    """Run ``fn()`` under Spark job group ``group``; return its result,
    the number of jobs it ran and the number of stages those jobs
    planned (skipped ones included)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    return out, len(jobs), len(stages)


def _ok_rows(spark, lines, schemaless=False):
    """The ok side of ``cdc_transform`` over ``lines``. Schemaless mode
    keeps the ``attrs`` map and lifts only the key out of it."""
    raw = spark.createDataFrame([(l,) for l in lines], "json string")
    ok, _ = cdc_transform(
        raw, attributes=None if schemaless else ATTRS, ingestion_ts=EVENT_TS()
    )
    if schemaless:
        attrs = F.col("attrs")
        ok = ok.select(attrs["id"].alias("id"), attrs["name"].alias("name"), "*")
    return ok


def _canon(rows) -> list[tuple]:
    """Rows as sortable tuples (map values as sorted item tuples); the
    key leads every row, so rows never compare past it."""
    return sorted(
        tuple(tuple(sorted(v.items())) if isinstance(v, dict) else v for v in r)
        for r in rows
    )


def test_snapshot_commit_is_one_shuffle_and_reads_infer_nothing(spark, tmp_path):
    """A commit on top of a previous version is one shuffle (at most 3
    stages planned; a separate batch pre-reduce planned 7), and a serve
    read of a committed version runs no job before its action: the
    write seeded the version's schema, and that seed is exactly the
    schema Spark reads back from the files."""
    from dynamodb_streaming_datalake_spark import cache
    from dynamodb_streaming_datalake_spark.streaming.upsert import (
        current_snapshot,
        snapshot_view,
    )
    from dynamodb_streaming_datalake_spark.streaming.views import advance_view

    fx = generate_fixture(n_keys=40, n_events=300, unknown_rate=0.0)
    ok = _ok_rows(spark, fx.json_lines())
    snap = str(tmp_path / "snap")
    keys, order = ["id", "name"], ["event_time", "eventID"]
    view = snapshot_view(keys, order)
    advance_view(spark, ok.where(F.col("eventID") < "ev-250"), snap, 0, view)
    _, jobs, stages = _in_job_group(
        spark, "commit", lambda: advance_view(spark, ok, snap, 1, view)
    )
    assert jobs >= 1 and stages <= 3, (jobs, stages)

    df, jobs, _ = _in_job_group(spark, "serve", lambda: current_snapshot(spark, snap))
    assert jobs == 0
    want = reconstruct_table(ok, keys, order)
    assert df.count() == want.count()

    for v in (0, 1):
        path = f"{snap}/v={v}"
        seeded = cache.memo(
            "table_schema", (path,), lambda: pytest.fail(f"v={v} schema not seeded")
        )
        assert seeded == spark.read.parquet(path).schema


@pytest.mark.parametrize("schemaless", [False, True], ids=["attributes", "attrs_map"])
def test_snapshot_versions_replay_late_events_and_tombstones(spark, tmp_path, schemaless):
    """Four commits of shuffled events — every batch after the first
    carries events older than ones already committed, REMOVEs included:
    each version equals ``reconstruct_table`` over all events so far,
    and time travel to every earlier version still serves its prefix.
    Both the projected-attributes shape and the schemaless ``attrs``
    map (which ``latest_state`` carries as a max_by value, never as an
    ordering) go through the same kernel."""
    import random

    from dynamodb_streaming_datalake_spark.streaming.upsert import (
        current_snapshot,
        snapshot_view,
    )
    from dynamodb_streaming_datalake_spark.streaming.views import advance_view

    lines = generate_fixture(n_keys=25, n_events=240, unknown_rate=0.0, seed=11).json_lines()
    random.Random(11).shuffle(lines)
    batches = [lines[i::4] for i in range(4)]
    snap = str(tmp_path / "snap")
    keys, order = ["id", "name"], ["event_time", "eventID"]
    prefixes = []
    for v, batch in enumerate(batches):
        advance_view(
            spark, _ok_rows(spark, batch, schemaless), snap, v, snapshot_view(keys, order)
        )
        seen = [l for b in batches[: v + 1] for l in b]
        want = reconstruct_table(_ok_rows(spark, seen, schemaless), keys, order)
        prefixes.append((want.columns, _canon(want.collect())))
        got = current_snapshot(spark, snap).select(*want.columns)
        assert _canon(got.collect()) == prefixes[-1][1], f"v={v}"
    stored = current_snapshot(spark, snap, live_only=False)
    assert stored.where(F.col("Event") == "REMOVE").count() > 0  # tombstones kept
    for v, (cols, rows) in enumerate(prefixes[:-1]):
        got = current_snapshot(spark, snap, version=v).select(*cols)
        assert _canon(got.collect()) == rows, f"time travel to v={v}"


def test_snapshot_schema_memo_does_not_outlive_vacuumed_versions(spark, tmp_path):
    """Each commit seeds one schema memo entry; vacuumed versions' entries
    are gone once the next commit stores its own."""
    import os

    from dynamodb_streaming_datalake_spark import cache
    from dynamodb_streaming_datalake_spark.streaming.segments import vacuum_view
    from dynamodb_streaming_datalake_spark.streaming.upsert import snapshot_view
    from dynamodb_streaming_datalake_spark.streaming.views import advance_view

    fx = generate_fixture(n_keys=10, n_events=60, unknown_rate=0.0)
    ok = _ok_rows(spark, fx.json_lines())
    snap = str(tmp_path / "snap")
    keys, order = ["id", "name"], ["event_time", "eventID"]

    def memo_versions() -> list[str]:
        root = os.path.realpath(snap)
        return sorted(
            os.path.basename(k[2][0][0])
            for k in cache._MEMO
            if k[0] == "table_schema" and os.path.dirname(k[2][0][0]) == root
        )

    for v in range(4):
        advance_view(spark, ok, snap, v, snapshot_view(keys, order))
    assert memo_versions() == ["v=0", "v=1", "v=2", "v=3"]
    assert vacuum_view(spark, snap, keep_last=2)[0] == [0, 1]
    advance_view(spark, ok, snap, 4, snapshot_view(keys, order))
    assert memo_versions() == ["v=2", "v=3", "v=4"]


@pytest.mark.parametrize(
    "family",
    ["snapshot", "snapshot_attrs_map", "agg", "bandit", "cms", "hll", "theta",
     "daily_hll", "ams", "bloom", "probe", "ohlc", "sprt"],
)
def test_whole_views_seed_the_schema_spark_reads_back(spark, tmp_path, sf_smoke, family):
    """Every whole-directory view family: each commit seeds its version's
    schema in the ``table_schema`` memo, that seed is exactly the schema
    Spark reads back from the files (nested structs, maps and decimals
    included), and building the serve read runs no job."""
    from dynamodb_streaming_datalake_spark import cache
    from dynamodb_streaming_datalake_spark.operators.bloom import bloom_m_bits
    from dynamodb_streaming_datalake_spark.streaming import sketchview as sv
    from dynamodb_streaming_datalake_spark.streaming.aggview import AGG_VIEW
    from dynamodb_streaming_datalake_spark.streaming.banditview import BANDIT_VIEW
    from dynamodb_streaming_datalake_spark.streaming.upsert import snapshot_view
    from dynamodb_streaming_datalake_spark.streaming.views import (
        advance_view,
        current_view,
    )

    def table(name, col):
        return read_table(spark, sf_smoke, name), F.col(col)

    def snapshot(schemaless):
        lines = generate_fixture(n_keys=40, n_events=300, unknown_rate=0.0).json_lines()
        view = snapshot_view(["id", "name"], ["event_time", "eventID"])
        return view, _ok_rows(spark, lines, schemaless), F.crc32("eventID")

    def bloom():
        keys, split = table("orders", "o_orderkey")
        keys = keys.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
        return sv.bloom_view("o_orderkey", bloom_m_bits(keys.count())), keys, split

    cases = {
        "snapshot": lambda: snapshot(False),
        "snapshot_attrs_map": lambda: snapshot(True),
        "agg": lambda: (AGG_VIEW, *table("events", "event_id")),
        "bandit": lambda: (BANDIT_VIEW, *table("events", "event_id")),
        "cms": lambda: (sv.CMS_VIEW, *table("events", "event_id")),
        "hll": lambda: (sv.HLL_VIEW, *table("lineitem", "l_orderkey")),
        "theta": lambda: (sv.THETA_VIEW, *table("orders", "o_orderkey")),
        "daily_hll": lambda: (sv.DAILY_HLL_VIEW, *table("events", "event_id")),
        "ams": lambda: (sv.AMS_VIEW, *table("events", "event_id")),
        "bloom": bloom,
        "probe": lambda: (sv.PROBE_VIEW, *table("documents", "doc_id")),
        "ohlc": lambda: (sv.OHLC_VIEW, *table("events", "event_id")),
        "sprt": lambda: (sv.SPRT_VIEW, *table("events", "event_id")),
    }
    view, rows, split = cases[family]()
    view_dir = str(tmp_path / "view")
    for v in (0, 1):
        advance_view(spark, rows.where(split % 2 == v), view_dir, v, view)
        path = f"{view_dir}/v={v}"
        seeded = cache.memo(
            "table_schema", (path,), lambda: pytest.fail(f"v={v} schema not seeded")
        )
        assert seeded == spark.read.parquet(path).schema, f"v={v}"
    _, jobs, _ = _in_job_group(spark, "serve", lambda: current_view(spark, view_dir))
    assert jobs == 0


def test_processing_time_trigger_drains_continuously(spark, tmp_path):
    """The reference's 60 s Firehose buffer cadence maps to
    trigger(processingTime=...) (stack.ts:211-214). Run the lake stream
    on a short cadence, wait until it drains the source, and check the
    landed rows equal the batch transform — the continuous trigger must
    not change WHAT lands, only WHEN."""
    import time

    fx = generate_fixture(n_keys=20, n_events=120, unknown_rate=0.0)
    src = tmp_path / "src"
    _write_source_files(fx, src, n_files=2)
    lake, ck = str(tmp_path / "lake"), str(tmp_path / "ck")

    q = start_lake_stream(
        spark, str(src), lake, ck,
        attributes=ATTRS, ingestion_ts=EVENT_TS(),
        processing_time="1 second",
    )
    raw = spark.createDataFrame([(l,) for l in fx.json_lines()], "json string")
    ok, _ = cdc_transform(raw, attributes=ATTRS, ingestion_ts=EVENT_TS())
    expected = ok.count()
    try:
        deadline = time.time() + 120
        landed = -1
        while time.time() < deadline:
            try:
                landed = spark.read.json(lake).count()
            except Exception:  # lake dir not created yet
                landed = 0
            if landed == expected:
                break
            time.sleep(1)
        assert landed == expected
    finally:
        q.stop()


def test_stream_static_enrichment_matches_batch(spark, sf_smoke):
    """Stream-static broadcast enrichment: events enriched with a
    per-user dimension must equal the batch join, and events whose
    user is missing from the dimension must survive (left join)."""
    from dynamodb_streaming_datalake_spark.streaming.joins import enrich_stream

    dim = (
        read_table(spark, sf_smoke, "events")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "user_events")
        .where(F.col("user_id") % 2 == 0)  # half the users missing
    )
    proj = ["event_id", "user_id", "event_type"]
    stream = enrich_stream(
        read_table_stream(spark, sf_smoke, "events").select(*proj), dim, ["user_id"]
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("enrich_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "enrichment stream did not drain in 120s"
    got = spark.table("enrich_stream").collect()
    want = enrich_stream(
        read_table(spark, sf_smoke, "events").select(*proj), dim, ["user_id"]
    ).collect()
    assert len(want) > 0
    assert any(r["user_events"] is None for r in want)  # left-join survivors
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_agg_view_maintenance_matches_batch(spark, tmp_path, sf_smoke):
    """Streaming twin of q_incr_agg (round-7 stretch): a genuine
    readStream over event files, drained under availableNow one file
    per micro-batch through the foreachBatch fold kernel, must
    converge to the one-shot recompute — and a replay of an already-
    committed version must be a no-op (the crash-recovery guard that
    makes a non-idempotent fold safe)."""
    from dynamodb_streaming_datalake_spark.operators.state import (
        agg_event_partials,
        finalize_agg_view,
    )
    from dynamodb_streaming_datalake_spark.streaming.aggview import AGG_VIEW
    from dynamodb_streaming_datalake_spark.streaming.views import (
        advance_view,
        current_view,
        start_view,
    )

    ev = read_table(spark, sf_smoke, "events")
    src = str(tmp_path / "events_src")
    # 3 files -> 3 micro-batches -> 3 committed view versions
    ev.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    view_dir = str(tmp_path / "view")
    q = start_view(stream, view_dir, str(tmp_path / "ck"), AGG_VIEW)
    q.awaitTermination(120)

    got = finalize_agg_view(current_view(spark, view_dir))
    want = finalize_agg_view(agg_event_partials(ev))
    key = ["user_id", "event_type", "n_events", "sum_value"]
    assert sorted(map(tuple, got.select(*key).collect())) == sorted(
        map(tuple, want.select(*key).collect())
    )

    # replaying the last committed version must not double-count
    from dynamodb_streaming_datalake_spark.streaming.segments import _versions

    last = _versions(spark, view_dir)[-1]
    before = sorted(map(tuple, got.select(*key).collect()))
    advance_view(spark, ev.limit(50), view_dir, last, AGG_VIEW)
    after = finalize_agg_view(current_view(spark, view_dir))
    assert sorted(map(tuple, after.select(*key).collect())) == before


def test_cms_view_maintenance_matches_batch(spark, tmp_path, sf_smoke):
    """Streaming CMS (round 8): a genuine readStream over event files,
    drained one file per micro-batch through the foreachBatch sketch
    fold, must produce a sketch CELL-EQUAL to the one-shot batch build
    (exact mergeability, not approximate convergence) — and replaying
    a committed version must be a no-op."""
    from dynamodb_streaming_datalake_spark.operators.sketches import cms_build
    from dynamodb_streaming_datalake_spark.streaming.sketchview import CMS_VIEW
    from dynamodb_streaming_datalake_spark.streaming.views import (
        advance_view,
        current_view,
        start_view,
    )

    ev = read_table(spark, sf_smoke, "events")
    src = str(tmp_path / "events_src")
    ev.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    view_dir = str(tmp_path / "view")
    q = start_view(stream, view_dir, str(tmp_path / "ck"), CMS_VIEW)
    q.awaitTermination(120)

    def cells(df):
        return {(r["depth"], r["col"]): r["cnt"] for r in df.collect()}

    got = cells(current_view(spark, view_dir))
    assert got == cells(cms_build(ev, "user_id"))

    # replaying the last committed version must not double-count
    from dynamodb_streaming_datalake_spark.streaming.segments import _versions

    last = _versions(spark, view_dir)[-1]
    advance_view(spark, ev.limit(50), view_dir, last, CMS_VIEW)
    assert cells(current_view(spark, view_dir)) == got


def test_hll_view_maintenance_matches_batch(spark, tmp_path, sf_smoke):
    """Streaming HLL (round 8): a readStream over lineitem files,
    drained through the foreachBatch MAX-fold, reaches registers
    CELL-EQUAL to the one-shot build — and because MAX is idempotent,
    even a stale re-fold of already-seen rows cannot move the view."""
    from dynamodb_streaming_datalake_spark.operators.sketches import (
        hll_registers,
    )
    from dynamodb_streaming_datalake_spark.streaming.sketchview import HLL_VIEW
    from dynamodb_streaming_datalake_spark.streaming.views import (
        advance_view,
        current_view,
        start_view,
    )

    li = read_table(spark, sf_smoke, "lineitem")
    src = str(tmp_path / "li_src")
    li.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    view_dir = str(tmp_path / "view")
    q = start_view(stream, view_dir, str(tmp_path / "ck"), HLL_VIEW)
    q.awaitTermination(120)

    def cells(df):
        return {r["bucket"]: r["m"] for r in df.collect()}

    got = cells(current_view(spark, view_dir))
    assert got == cells(hll_registers(li, "l_orderkey"))

    # idempotence: folding the WHOLE table again as a new version is a
    # no-op on the registers (MAX monoid) — stronger than the replay
    # guard, which merely skips committed versions
    from dynamodb_streaming_datalake_spark.streaming.segments import _versions

    last = _versions(spark, view_dir)[-1]
    advance_view(spark, li, view_dir, last + 1, HLL_VIEW)
    assert cells(current_view(spark, view_dir)) == got


def test_vacuum_deletes_old_versions_and_guards_time_travel(
    spark, tmp_path, sf_smoke
):
    """VACUUM semantics the hash can't articulate: expired version
    directories are REALLY gone from disk, reading a vacuumed version
    raises, the survivors still serve byte-identically, and keep_last
    < 1 (vacuuming the head) is refused."""
    import pytest as _pytest

    from dynamodb_streaming_datalake_spark.streaming.segments import (
        _versions,
        vacuum_view,
    )
    from dynamodb_streaming_datalake_spark.streaming.upsert import (
        current_snapshot,
        snapshot_view,
    )
    from dynamodb_streaming_datalake_spark.streaming.views import advance_view

    ev = read_table(spark, sf_smoke, "events")
    shaped = ev.select(
        F.col("user_id").cast("string").alias("id"),
        F.col("event_type").alias("name"),
        F.col("value"),
        F.lit("INSERT").alias("Event"),
        F.col("event_id").alias("event_time_s"),
        F.col("event_id").cast("string").alias("eventID"),
    )
    snap = str(tmp_path / "snap")
    keys, order = ["id", "name"], ["event_time_s", "eventID"]
    for v in (1, 2, 3, 4):
        advance_view(
            spark, shaped.where(F.col("event_id") % 4 == v - 1), snap, v,
            snapshot_view(keys, order),
        )
    before = sorted(map(tuple, current_snapshot(spark, snap).collect()))
    assert vacuum_view(spark, snap, keep_last=2)[0] == [1, 2]
    assert _versions(spark, snap) == [3, 4]
    # survivors unchanged; vacuumed versions raise; head protected
    assert sorted(map(tuple, current_snapshot(spark, snap).collect())) == before
    current_snapshot(spark, snap, version=3)
    with _pytest.raises(ValueError, match="not committed"):
        current_snapshot(spark, snap, version=1)
    with _pytest.raises(ValueError, match="keep_last"):
        vacuum_view(spark, snap, keep_last=0)[0]
    # idempotent: vacuuming again removes nothing
    assert vacuum_view(spark, snap, keep_last=2)[0] == []


def test_theta_view_maintenance_matches_batch(spark, tmp_path, sf_smoke):
    """Streaming Theta/KMV (round 9): a readStream over orders files,
    drained through the foreachBatch k-smallest fold, reaches a
    (side, h) sketch SET-EQUAL to the one-shot per-side KMV build —
    the KMV merge is exact, not approximate — and because k-smallest
    of a union is idempotent, a stale re-fold of already-seen rows
    cannot move the view."""
    from pyspark.sql import functions as F

    from dynamodb_streaming_datalake_spark.operators.sketches import (
        kmv_sketch,
    )
    from dynamodb_streaming_datalake_spark.streaming.sketchview import THETA_VIEW
    from dynamodb_streaming_datalake_spark.streaming.views import (
        advance_view,
        current_view,
        start_view,
    )

    orders = read_table(spark, sf_smoke, "orders")
    src = str(tmp_path / "orders_src")
    orders.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    view_dir = str(tmp_path / "view")
    q = start_view(stream, view_dir, str(tmp_path / "ck"), THETA_VIEW)
    q.awaitTermination(120)

    def rows(df):
        return {(r["side"], r["h"]) for r in df.collect()}

    got = rows(current_view(spark, view_dir))
    want = rows(
        kmv_sketch(
            orders.where(F.col("o_orderstatus") == "F"), "o_custkey"
        )
        .select(F.lit("a").alias("side"), "h")
        .unionByName(
            kmv_sketch(
                orders.where(F.col("o_orderstatus") == "O"), "o_custkey"
            ).select(F.lit("b").alias("side"), "h")
        )
    )
    assert got == want

    # idempotence: folding the WHOLE table again as a new version is a
    # no-op (k smallest of a union monoid)
    from dynamodb_streaming_datalake_spark.streaming.segments import _versions

    last = _versions(spark, view_dir)[-1]
    advance_view(spark, orders, view_dir, last + 1, THETA_VIEW)
    assert rows(current_view(spark, view_dir)) == got


def test_daily_hll_view_maintenance_matches_batch(spark, tmp_path, sf_smoke):
    """Streaming daily-HLL (round 9): a readStream over event files,
    drained through the foreachBatch (day, bucket) MAX-fold, reaches a
    daily register table CELL-EQUAL to the one-shot build — and the
    idempotent monoid means re-folding already-seen events (a late /
    replayed day) cannot move the view."""
    from dynamodb_streaming_datalake_spark.operators.sketches import (
        daily_hll_registers,
    )
    from dynamodb_streaming_datalake_spark.streaming.sketchview import DAILY_HLL_VIEW
    from dynamodb_streaming_datalake_spark.streaming.views import (
        advance_view,
        current_view,
        start_view,
    )

    ev = read_table(spark, sf_smoke, "events")
    src = str(tmp_path / "ev_src")
    ev.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    view_dir = str(tmp_path / "view")
    q = start_view(stream, view_dir, str(tmp_path / "ck"), DAILY_HLL_VIEW)
    q.awaitTermination(120)

    def cells(df):
        return {(r["day_i"], r["bucket"]): r["m"] for r in df.collect()}

    got = cells(current_view(spark, view_dir))
    assert got == cells(daily_hll_registers(ev))

    from dynamodb_streaming_datalake_spark.streaming.segments import _versions

    last = _versions(spark, view_dir)[-1]
    advance_view(spark, ev, view_dir, last + 1, DAILY_HLL_VIEW)
    assert cells(current_view(spark, view_dir)) == got


def test_ams_view_maintenance_matches_batch(spark, tmp_path, sf_smoke):
    """Streaming AMS (round 10): a genuine readStream over event
    files, drained one file per micro-batch through the foreachBatch
    signed-counter fold, must reach counters ROW-EQUAL to the one-shot
    batch sketch (Z is linear, so equality is exact) — and replaying a
    committed version must be a no-op, which matters more here than
    for CMS/HLL because a double-applied signed sum silently shifts
    the estimate rather than merely overcounting."""
    from dynamodb_streaming_datalake_spark.operators.sketches import (
        ams_sketch,
    )
    from dynamodb_streaming_datalake_spark.streaming.sketchview import AMS_VIEW
    from dynamodb_streaming_datalake_spark.streaming.views import (
        advance_view,
        current_view,
        start_view,
    )

    ev = read_table(spark, sf_smoke, "events")
    src = str(tmp_path / "events_src")
    ev.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    view_dir = str(tmp_path / "view")
    q = start_view(stream, view_dir, str(tmp_path / "ck"), AMS_VIEW)
    q.awaitTermination(120)

    def rows(df):
        return {(r["event_type"], r["r"]): r["z"] for r in df.collect()}

    got = rows(current_view(spark, view_dir))
    assert got == rows(ams_sketch(ev, "user_id", "event_type"))

    from dynamodb_streaming_datalake_spark.streaming.segments import _versions

    last = _versions(spark, view_dir)[-1]
    advance_view(spark, ev.limit(50), view_dir, last, AMS_VIEW)
    assert rows(current_view(spark, view_dir)) == got


def test_stream_stream_outer_join_matches_batch(spark, sf_smoke, tmp_path):
    """LEFT OUTER stream-stream interval join: after the availableNow
    drain completes (watermark has passed everything), the emitted
    set — matched pairs PLUS null-extended organic purchases — must
    equal the batch left join exactly, and must strictly contain the
    inner join's rows."""
    from dynamodb_streaming_datalake_spark.streaming.joins import (
        purchase_click_attribution,
        purchase_click_attribution_outer,
    )

    # Outer rows emit only once the watermark PROVES no match can
    # arrive — purchases inside the final watermark window would stay
    # pending forever in a drained availableNow run. Appending one
    # far-future sentinel click (to a copy of the source) advances the
    # watermark past every real row, which is exactly how a production
    # stream closes its books (time moves on); the sentinel can match
    # nothing (its ts is beyond every purchase's window).
    ev = read_table(spark, sf_smoke, "events")
    src = str(tmp_path / "ssj_outer_src")
    ev.repartition(2).write.mode("overwrite").parquet(src)
    # sentinels on BOTH types: each side's watermark is computed
    # after its event-type filter, so a click-only sentinel would
    # leave the purchase side's watermark (and the global minimum)
    # pinned at the last real purchase
    sentinel = (
        ev.groupBy()
        .agg((F.max("ts") + F.expr("INTERVAL 3 HOUR")).alias("ts"))
        .join(
            ev.sparkSession.createDataFrame(
                [("click",), ("purchase",)], "event_type string"
            )
        )
        .select(
            F.lit(-1).cast("long").alias("event_id"),
            "ts",
            F.lit(-1).cast("long").alias("user_id"),
            "event_type",
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    # two sentinel FILES: the first raises the watermark, the second
    # gives the evictor a batch to run in (state flushes on the batch
    # AFTER the raise) — maxFilesPerTrigger=1 keeps them separate
    for _ in range(2):
        sentinel.select([c for c in ev.columns]).write.mode(
            "append"
        ).parquet(src)
    stream_src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream = purchase_click_attribution_outer(stream_src)
    q = (
        stream.writeStream.format("memory")
        .queryName("ssj_outer_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("ssj_outer_stream").collect()
    want = purchase_click_attribution_outer(
        read_table(spark, sf_smoke, "events")
    ).collect()
    inner = purchase_click_attribution(
        read_table(spark, sf_smoke, "events")
    ).collect()

    def key(rows):
        return sorted(
            (r["purchase_id"], r["click_id"], r["click_ts_us"])
            for r in rows
            if r["purchase_id"] != -1  # the flush sentinel itself
        )

    assert len(want) > len(inner) > 0  # some organic purchases exist
    assert key(got) == key(want)
    assert set(key(inner)) <= set(key(got))


def test_minhash_view_maintenance_matches_batch(spark, tmp_path, sf_smoke):
    """Streaming MinHash signatures (round 11): a genuine readStream
    over document files, drained one file per micro-batch through the
    foreachBatch MIN-merge fold, must reach a view BIT-EQUAL to the
    one-shot `minhash_signatures` matrix — and because MIN is an
    idempotent monoid, a stale re-fold of already-seen documents under
    a NEW version number must leave the signatures unchanged (the
    property the HLL view pins, now on the dedup path)."""
    from dynamodb_streaming_datalake_spark.operators.dedup import (
        minhash_signatures,
    )
    from dynamodb_streaming_datalake_spark.streaming.sketchview import MINHASH_VIEW
    from dynamodb_streaming_datalake_spark.streaming.views import (
        advance_view,
        current_view,
        start_view,
    )

    docs = read_table(spark, sf_smoke, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_src")
    docs.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    view_dir = str(tmp_path / "view")
    q = start_view(stream, view_dir, str(tmp_path / "ck"), MINHASH_VIEW)
    q.awaitTermination(120)

    def rows(df):
        return {r["doc_id"]: tuple(r[f"m{s}"] for s in range(16)) for r in df.collect()}

    got = rows(current_view(spark, view_dir))
    assert got == rows(minhash_signatures(docs))

    from dynamodb_streaming_datalake_spark.streaming.segments import _versions

    last = _versions(spark, view_dir)[-1]
    # committed-version replay: a no-op by the crash guard
    advance_view(spark, docs.limit(20), view_dir, last, MINHASH_VIEW)
    assert rows(current_view(spark, view_dir)) == got
    # idempotence: re-folding seen docs under a NEW version changes nothing
    advance_view(spark, docs.limit(20), view_dir, last + 1, MINHASH_VIEW)
    assert rows(current_view(spark, view_dir)) == got


def test_ivf_view_maintenance_matches_batch(spark, tmp_path, sf_smoke):
    """Streaming IVF inverted lists (round 12): a genuine readStream
    over vector files, drained one file per micro-batch through the
    foreachBatch append-fold against the FROZEN centroid table, must
    reach a view ROW-EQUAL to the one-shot ivf_assign_lists inverted
    file (assignment commutes with batching), a committed-version
    replay must no-op, and serving from the view must row-equal
    q_ann_serve's persisted-index answer."""
    from dynamodb_streaming_datalake_spark.operators.similarity import (
        ivf_assign_lists,
        ivf_centroids,
        ivf_serve,
    )
    from dynamodb_streaming_datalake_spark.registry import all_queries
    from dynamodb_streaming_datalake_spark.streaming.sketchview import ivf_view
    from dynamodb_streaming_datalake_spark.streaming.views import (
        advance_view,
        current_view,
        start_view,
    )
    from dynamodb_streaming_datalake_spark.streaming.segments import _versions

    e = read_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(e)
    src = str(tmp_path / "vec_src")
    e.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    view_dir = str(tmp_path / "view")
    q = start_view(stream, view_dir, str(tmp_path / "ck"), ivf_view(cents))
    q.awaitTermination(120)

    def rows(df):
        return sorted(
            (r["cid"], r["vec_id"], tuple(r["embedding"])) for r in df.collect()
        )

    got = rows(current_view(spark, view_dir))
    assert got == rows(ivf_assign_lists(e, cents))

    # committed-version replay: a no-op by the crash guard (the append
    # fold is non-idempotent, so this is the property that matters)
    last = _versions(spark, view_dir)[-1]
    advance_view(spark, e.limit(20), view_dir, last, ivf_view(cents))
    assert rows(current_view(spark, view_dir)) == got

    served = sorted(
        map(
            tuple,
            ivf_serve(current_view(spark, view_dir), cents, e).collect(),
        )
    )
    want = sorted(
        map(tuple, all_queries()["q_ann_serve"](spark, sf_smoke).collect())
    )
    assert served == want


def test_pq_codes_view_maintenance_matches_batch(spark, tmp_path, sf_smoke):
    """Streaming IVF-PQ code store (round 13): a genuine readStream
    over vector files, drained one file per micro-batch through the
    foreachBatch encode-append against the FROZEN codebook + coarse
    quantizer, must reach a view ROW-EQUAL to the one-shot
    ivfpq_encode of the whole corpus (encode-on-ingest commutes with
    batching), a committed-version replay must no-op, and serving
    from the view must row-equal q_ann_serve_pq's persisted-index
    answer."""
    from dynamodb_streaming_datalake_spark.operators.similarity import (
        _pq_subvectors,
        _pq_trained_codebook,
        ivfpq_coarse_centroids,
        ivfpq_encode,
        ivfpq_serve,
    )
    from dynamodb_streaming_datalake_spark.registry import all_queries
    from dynamodb_streaming_datalake_spark.streaming.sketchview import pq_codes_view
    from dynamodb_streaming_datalake_spark.streaming.views import (
        advance_view,
        current_view,
        start_view,
    )
    from dynamodb_streaming_datalake_spark.streaming.segments import _versions

    e = read_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    tcb = _pq_trained_codebook(_pq_subvectors(e), sf_dir=sf_smoke)
    cents = ivfpq_coarse_centroids(e)
    src = str(tmp_path / "vec_src")
    e.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    view_dir = str(tmp_path / "view")
    q = start_view(stream, view_dir, str(tmp_path / "ck"), pq_codes_view(tcb, cents))
    q.awaitTermination(120)

    def rows(df):
        return sorted(
            (r["cid"], r["vec_id"], r["s"], r["code"]) for r in df.collect()
        )

    got = rows(current_view(spark, view_dir))
    assert got == rows(ivfpq_encode(e, tcb, cents))

    # committed-version replay: a no-op by the crash guard (the append
    # fold is non-idempotent, so this is the property that matters)
    last = _versions(spark, view_dir)[-1]
    advance_view(spark, e.limit(20), view_dir, last, pq_codes_view(tcb, cents))
    assert rows(current_view(spark, view_dir)) == got

    served = sorted(
        map(
            tuple,
            ivfpq_serve(
                current_view(spark, view_dir), cents, tcb, e
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, all_queries()["q_ann_serve_pq"](spark, sf_smoke).collect())
    )
    assert served == want


def test_decontam_view_maintenance_matches_batch(spark, tmp_path, sf_smoke):
    """Streaming decontamination (round 13): a genuine readStream over
    training-doc files, drained one file per micro-batch through the
    foreachBatch screen-append against the FROZEN banned-shingle set,
    must reach a view ROW-EQUAL to the one-shot contaminated_docs
    screen (per-doc overlap is doc-local), and a committed-version
    replay must no-op."""
    from dynamodb_streaming_datalake_spark.operators.contamination import (
        EVAL_RATE,
        eval_shingle_set,
        overlap_counts,
    )
    from dynamodb_streaming_datalake_spark.operators.sampling import (
        DENOM,
        hash_bucket,
    )
    from dynamodb_streaming_datalake_spark.streaming.sketchview import decontam_view
    from dynamodb_streaming_datalake_spark.streaming.views import (
        advance_view,
        current_view,
        start_view,
    )
    from dynamodb_streaming_datalake_spark.streaming.segments import _versions

    d = read_table(spark, sf_smoke, "documents").select("doc_id", "text")
    cut = int(EVAL_RATE * DENOM)
    bucket = hash_bucket(F.col("doc_id"))
    banned = eval_shingle_set(d.where(bucket < cut))
    train = d.where(bucket >= cut)
    src = str(tmp_path / "doc_src")
    train.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    view_dir = str(tmp_path / "view")
    q = start_view(stream, view_dir, str(tmp_path / "ck"), decontam_view(banned))
    q.awaitTermination(120)

    def rows(df):
        return sorted((r["doc_id"], r["n_overlap"]) for r in df.collect())

    got = rows(current_view(spark, view_dir))
    assert got == rows(overlap_counts(train, banned))
    assert got  # the 5% carve really contaminates some training docs

    # committed-version replay: a no-op by the crash guard
    last = _versions(spark, view_dir)[-1]
    advance_view(spark, train.limit(20), view_dir, last, decontam_view(banned))
    assert rows(current_view(spark, view_dir)) == got


def test_probe_view_maintenance_matches_batch(spark, tmp_path, sf_smoke):
    """Streaming linear-probe Gram state (round 13): a genuine
    readStream over document files, drained one file per micro-batch
    through the foreachBatch integer-monoid fold, must reach a Gram
    row EQUAL to the one-shot aggregate, a committed-version replay
    must no-op, and the solved+scored report from the view must
    row-equal q_linear_probe's batch answer."""
    from dynamodb_streaming_datalake_spark.operators.probe import (
        probe_features,
        probe_gram,
        probe_report,
        probe_solve,
    )
    from dynamodb_streaming_datalake_spark.registry import all_queries
    from dynamodb_streaming_datalake_spark.streaming.sketchview import PROBE_VIEW
    from dynamodb_streaming_datalake_spark.streaming.views import (
        advance_view,
        current_view,
        start_view,
    )
    from dynamodb_streaming_datalake_spark.streaming.segments import _versions

    d = read_table(spark, sf_smoke, "documents")
    src = str(tmp_path / "doc_src")
    d.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    view_dir = str(tmp_path / "view")
    q = start_view(stream, view_dir, str(tmp_path / "ck"), PROBE_VIEW)
    q.awaitTermination(120)

    def gram_row(df):
        return sorted(df.collect()[0].asDict().items())

    got = gram_row(current_view(spark, view_dir))
    assert got == gram_row(probe_gram(probe_features(d)))

    # committed-version replay: a no-op by the crash guard
    last = _versions(spark, view_dir)[-1]
    advance_view(spark, d.limit(20), view_dir, last, PROBE_VIEW)
    assert gram_row(current_view(spark, view_dir)) == got

    served = sorted(
        map(
            tuple,
            probe_report(
                probe_features(d),
                probe_solve(current_view(spark, view_dir)),
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, all_queries()["q_linear_probe"](spark, sf_smoke).collect())
    )
    assert served == want


def test_ohlc_view_maintenance_matches_batch(spark, tmp_path, sf_smoke):
    """Streaming OHLC bars (round 12): a genuine readStream over event
    files, drained one file per micro-batch through the foreachBatch
    monoid merge, must reach a view BAR-EQUAL to the one-shot
    ohlc_bars aggregate (open/close/high/low/volume/vsum all merge
    exactly), and a committed-version replay must no-op (the sums are
    non-idempotent — the crash guard is the safety)."""
    from dynamodb_streaming_datalake_spark.operators.analytics_ext import (
        ohlc_bars,
    )
    from dynamodb_streaming_datalake_spark.streaming.sketchview import OHLC_VIEW
    from dynamodb_streaming_datalake_spark.streaming.views import (
        advance_view,
        current_view,
        start_view,
    )
    from dynamodb_streaming_datalake_spark.streaming.segments import _versions

    ev = read_table(spark, sf_smoke, "events").select(
        "ts", "event_id", "event_type", "value"
    )
    src = str(tmp_path / "ev_src")
    ev.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    view_dir = str(tmp_path / "view")
    q = start_view(stream, view_dir, str(tmp_path / "ck"), OHLC_VIEW)
    q.awaitTermination(120)

    def rows(df):
        return sorted(
            (
                r["event_type"],
                r["hour_bucket"],
                tuple(r["o"]),
                tuple(r["c"]),
                r["high"],
                r["low"],
                r["volume"],
                r["vsum"],
            )
            for r in df.collect()
        )

    got = rows(current_view(spark, view_dir))
    assert got == rows(ohlc_bars(spark.read.parquet(src)))

    last = _versions(spark, view_dir)[-1]
    advance_view(spark, ev.limit(50), view_dir, last, OHLC_VIEW)
    assert rows(current_view(spark, view_dir)) == got


def test_dual_lake_delivery_reconstructs_identical_state(spark, tmp_path):
    """Dual-destination delivery (reference stack.ts:424-461, the
    cross-account Firehose duplicate): one source drained into two
    lakes behind independent checkpoints must (a) land identical row
    sets, (b) reconstruct identical latest-state tables, and (c) keep
    the destinations' failure domains independent — replaying ONE
    destination's checkpoint adds nothing to it and never touches the
    other."""
    from dynamodb_streaming_datalake_spark.streaming.pipeline import (
        start_dual_lake_streams,
        start_lake_stream,
    )

    fx = generate_fixture(n_keys=25, n_events=200, unknown_rate=0.05)
    src = tmp_path / "src"
    _write_source_files(fx, src, n_files=3)
    primary, secondary = str(tmp_path / "lake_a"), str(tmp_path / "lake_b")
    ck_a, ck_b = str(tmp_path / "ck_a"), str(tmp_path / "ck_b")

    qa, qb = start_dual_lake_streams(
        spark, str(src), primary, secondary, ck_a, ck_b,
        attributes=ATTRS, ingestion_ts=EVENT_TS(),
    )
    qa.awaitTermination(120)
    qb.awaitTermination(120)

    def lake_rows(path):
        df = spark.read.json(path)
        rows = map(tuple, df.select(sorted(df.columns)).collect())
        return sorted(rows, key=repr)  # None-safe ordering

    assert lake_rows(primary) == lake_rows(secondary)

    def latest(path):
        df = spark.read.json(path)
        got = reconstruct_table(
            df, ["id", "name"], ["ingestion_timestamp", "eventID"]
        )
        rows = map(tuple, got.select(sorted(got.columns)).collect())
        return sorted(rows, key=repr)

    state_a = latest(primary)
    assert state_a == latest(secondary)
    assert len(state_a) > 0

    # replay ONLY the primary's checkpoint: exactly-once holds per
    # destination, and the secondary is untouched
    before_b = lake_rows(secondary)
    q2 = start_lake_stream(
        spark, str(src), primary, ck_a, attributes=ATTRS, ingestion_ts=EVENT_TS()
    )
    q2.awaitTermination(120)
    assert lake_rows(primary) == lake_rows(secondary) == before_b


def test_streaming_sessionize_multibatch_matches_batch(spark, sf_smoke, tmp_path):
    """The custom stateful sessionizer across GENUINE micro-batch
    boundaries: events split into three time-contiguous files (written
    in order, so the file source delivers per-user time-ordered rows —
    the declared delivery contract) + a sentinel file last, drained one
    file per trigger. Open sessions must survive in state across
    batches and the final emission log must row-equal batch
    q_sessionize."""
    import time as _time

    from dynamodb_streaming_datalake_spark.operators.analytics_ext import (
        q_sessionize,
    )
    from dynamodb_streaming_datalake_spark.streaming.stateful import (
        streaming_sessionize,
    )

    ev = read_table(spark, sf_smoke, "events").select(
        "ts", "user_id", "event_id", "value"
    )
    src = tmp_path / "src"
    src.mkdir()
    # time-contiguous thirds by ts rank: use ts ordering via ntile
    from pyspark.sql.window import Window

    ranked = ev.withColumn(
        "part", F.ntile(3).over(Window.orderBy("ts", "event_id"))
    )
    for i in (1, 2, 3):
        ranked.where(F.col("part") == i).drop("part").coalesce(1).write.parquet(
            str(src / f"batch-{i}")
        )
        _time.sleep(1.1)  # distinct mtimes -> deterministic file order
    sentinel = (
        ev.agg((F.max("ts") + F.expr("INTERVAL 3 HOUR")).alias("ts"))
        .crossJoin(ev.select("user_id").distinct())
        .select(
            "ts",
            "user_id",
            F.lit(-1).cast("long").alias("event_id"),
            F.lit(0.0).alias("value"),
        )
    )
    sentinel.coalesce(1).write.parquet(str(src / "batch-9"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/batch-*")
    )
    q = (
        streaming_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sess_mb")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        map(tuple, spark.table("sess_mb").collect())
    )
    want = sorted(
        map(
            tuple,
            q_sessionize(spark, sf_smoke)
            .select(
                "user_id", "session_no", "n_events", "start_us",
                "end_us", "duration_us", "sum_value",
            )
            .collect(),
        )
    )
    assert len(got) > 0 and got == want


def test_sessionize_fn_is_chunking_invariant():
    """Round-11 ADVICE: _sessionize_fn must not depend on how Arrow
    chunks a group's micro-batch rows (maxRecordsPerBatch splits at 10k
    by default). Same rows, three adversarial chunkings — mid-session
    splits, out-of-order delivery across chunks, and the flush sentinel
    landing in an EARLIER chunk than later real rows — must emit
    identical sessions and identical carried state."""
    import pandas as pd

    from dynamodb_streaming_datalake_spark.streaming.stateful import (
        _SESSION_GAP_US,
        _sessionize_fn,
    )

    class FakeState:
        def __init__(self):
            self._s = None

        @property
        def exists(self):
            return self._s is not None

        @property
        def get(self):
            return self._s

        def update(self, v):
            self._s = tuple(v)

    rows, t, eid = [], 0, 1
    for _ in range(5):  # 5 sessions of 4 events, 1 min apart
        for _ in range(4):
            rows.append((t, eid, 1.5 * eid))
            t += 60 * 1_000_000
            eid += 1
        t += _SESSION_GAP_US + 1
    rows.append((t, -1, 0.0))  # sentinel closes the trailing session
    pdf = pd.DataFrame(rows, columns=["ts_us", "event_id", "value"])

    def run(chunks):
        st = FakeState()
        out = list(_sessionize_fn((7,), iter(chunks), st))
        return pd.concat(out, ignore_index=True), st._s

    whole, s_whole = run([pdf])
    assert len(whole) == 5
    chunkings = [
        [pdf.iloc[:3], pdf.iloc[3:10], pdf.iloc[10:]],  # mid-session
        [pdf.iloc[10:], pdf.iloc[:10]],  # unordered across chunks
        [pdf.iloc[[20]], pdf.iloc[:20]],  # sentinel chunk FIRST
    ]
    for chunks in chunkings:
        got, s_got = run([c.reset_index(drop=True) for c in chunks])
        assert s_got == s_whole
        pd.testing.assert_frame_equal(got, whole)


def test_bloom_view_maintenance_is_result_invisible(spark, tmp_path, sf_smoke):
    """Streaming bloom (round 11): a genuine readStream over the dim's
    key files, drained one file per micro-batch through the foreachBatch
    OR-fold, must produce a word table BIT-EQUAL to the one-shot batch
    bitmap — and because OR is idempotent, a stale re-fold of seen keys
    under a NEW version changes nothing. Finally, pruning with the
    view's bitmap keeps every true member (no false negatives)."""
    from dynamodb_streaming_datalake_spark.operators.bloom import (
        bloom_build,
        bloom_m_bits,
        bloom_prune,
    )
    from dynamodb_streaming_datalake_spark.streaming.sketchview import (
        bloom_bitmap_from_view,
        bloom_view,
    )
    from dynamodb_streaming_datalake_spark.streaming.views import (
        advance_view,
        start_view,
    )

    urgent = (
        read_table(spark, sf_smoke, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    m_bits = bloom_m_bits(urgent.count())
    src = str(tmp_path / "keys_src")
    urgent.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(urgent.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    view_dir = str(tmp_path / "view")
    q = start_view(
        stream, view_dir, str(tmp_path / "ck"), bloom_view("o_orderkey", m_bits)
    )
    q.awaitTermination(120)

    got = bloom_bitmap_from_view(spark, view_dir, m_bits)
    assert got == bloom_build(urgent, "o_orderkey")

    from dynamodb_streaming_datalake_spark.streaming.segments import _versions

    last = _versions(spark, view_dir)[-1]
    advance_view(
        spark, urgent.limit(30), view_dir, last + 1, bloom_view("o_orderkey", m_bits)
    )
    assert bloom_bitmap_from_view(spark, view_dir, m_bits) == got

    li = read_table(spark, sf_smoke, "lineitem").select("l_orderkey")
    pruned = bloom_prune(li, "l_orderkey", got)
    true_members = li.join(
        urgent, li["l_orderkey"] == urgent["o_orderkey"], "left_semi"
    )
    assert pruned.count() >= true_members.count()
    assert (
        true_members.exceptAll(
            pruned.select("l_orderkey")
        ).count()
        == 0
    )


def test_stream_enrich_scd2_versions_match_event_time(spark, sf_smoke):
    """As-of semantics under the gate's twin: every enriched click's
    version interval must actually CONTAIN the click timestamp, clicks
    before a user's first version carry NULL enrichment, and each click
    matches at most one version (the intervals partition time)."""
    from dynamodb_streaming_datalake_spark.operators.cdc_zone import (
        q_stream_enrich_scd2,
    )

    rows = q_stream_enrich_scd2(spark, sf_smoke).collect()
    assert rows
    by_click = {}
    for r in rows:
        by_click.setdefault(r["event_id"], []).append(r)
        if r["version_no"] is not None:
            assert r["valid_from_us"] <= r["ts_us"]
    assert all(len(v) == 1 for v in by_click.values())
    assert any(r["version_no"] is None for r in rows)  # pre-signup clicks
    assert any(r["version_no"] is not None for r in rows)


def test_patch_view_maintenance_matches_batch(spark, tmp_path, sf_smoke):
    """Streaming partial-update state (round 14): a genuine readStream
    over event files, drained one file per micro-batch through the
    foreachBatch delta-segment fold, must serve a state BIT-EQUAL to
    the one-shot batch fold (last non-null per column, counts), a
    committed-version replay must no-op, and compaction must preserve
    the served state while collapsing segments."""
    from dynamodb_streaming_datalake_spark.operators.state import (
        fold_patch_state,
        partial_update_feed,
        serve_patch_state,
    )
    from dynamodb_streaming_datalake_spark.streaming.segments import (
        compact_segments,
        read_manifest,
    )
    from dynamodb_streaming_datalake_spark.streaming.sketchview import PATCH_VIEW
    from dynamodb_streaming_datalake_spark.streaming.views import (
        advance_view,
        current_view,
        start_view,
    )
    from dynamodb_streaming_datalake_spark.streaming.segments import _versions

    events = read_table(spark, sf_smoke, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    src = str(tmp_path / "ev_src")
    events.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    view_dir = str(tmp_path / "view")
    q = start_view(stream, view_dir, str(tmp_path / "ck"), PATCH_VIEW)
    q.awaitTermination(120)

    def rows(df):
        return {r["user_id"]: tuple(r) for r in df.collect()}

    want = rows(serve_patch_state(fold_patch_state(partial_update_feed(events))))
    got = rows(serve_patch_state(current_view(spark, view_dir)))
    assert got == want

    last = _versions(spark, view_dir)[-1]
    # committed-version replay: a no-op by the crash guard
    advance_view(spark, events.limit(50), view_dir, last, PATCH_VIEW)
    assert rows(
        serve_patch_state(current_view(spark, view_dir))
    ) == want
    # compaction: segments collapse, served state unchanged
    n_before = len(read_manifest(spark, view_dir, last)["segments"])
    assert n_before >= 2
    assert compact_segments(spark, view_dir, last, max_segments=1)
    assert len(read_manifest(spark, view_dir, last)["segments"]) == 1
    assert rows(
        serve_patch_state(current_view(spark, view_dir))
    ) == want


def test_bandit_view_stream_drain_matches_batch(spark, tmp_path):
    """The bandit arm-count view drained from a genuine readStream
    (foreachBatch fold, one version per micro-batch) must equal the
    one-shot batch arm counts, and the posterior read from it must
    equal the batch readout."""
    from dynamodb_streaming_datalake_spark.operators.experiments import (
        bandit_arm_counts,
        bandit_readout,
    )
    from dynamodb_streaming_datalake_spark.sources.readers import (
        read_table,
        read_table_stream,
    )
    from dynamodb_streaming_datalake_spark.streaming.banditview import BANDIT_VIEW
    from dynamodb_streaming_datalake_spark.streaming.upsert import current_snapshot
    from dynamodb_streaming_datalake_spark.streaming.views import start_view

    sf = "/root/testdata/sf0.001"
    stream = read_table_stream(spark, sf, "events")
    view = str(tmp_path / "bview")
    q = start_view(stream, view, str(tmp_path / "ck"), BANDIT_VIEW)
    q.awaitTermination(120)

    got_arms = {
        r["event_type"]: (r["n"], r["s"])
        for r in current_snapshot(spark, view, live_only=False).collect()
    }
    want_arms = {
        r["event_type"]: (r["n"], r["s"])
        for r in bandit_arm_counts(read_table(spark, sf, "events")).collect()
    }
    assert got_arms == want_arms

    got = sorted(
        map(
            tuple,
            bandit_readout(
                spark, current_snapshot(spark, view, live_only=False)
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            bandit_readout(
                spark, bandit_arm_counts(read_table(spark, sf, "events"))
            ).collect(),
        )
    )
    assert got == want


def test_streaming_debounce_multibatch_matches_batch(spark, sf_smoke, tmp_path):
    """The stateful debouncer across genuine micro-batch boundaries
    (three time-contiguous files, one per trigger): the last-seen
    second must survive in state, and per-key emitted/suppressed
    counts must equal batch q_debounce."""
    import time as _time

    from pyspark.sql.window import Window as W

    from dynamodb_streaming_datalake_spark.operators.completeness import (
        q_debounce,
    )
    from dynamodb_streaming_datalake_spark.streaming.stateful import (
        streaming_debounce,
    )

    ev = read_table(spark, sf_smoke, "events").select(
        "ts", "user_id", "event_type", "event_id"
    )
    src = tmp_path / "src"
    src.mkdir()
    ranked = ev.withColumn(
        "part", F.ntile(3).over(W.orderBy("ts", "event_id"))
    )
    for i in (1, 2, 3):
        ranked.where(F.col("part") == i).drop("part").coalesce(
            1
        ).write.parquet(str(src / f"batch-{i}"))
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/batch-*")
    )
    q = (
        streaming_debounce(stream)
        .writeStream.format("memory")
        .queryName("deb_mb")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["event_type"]): (r["n"], r["e"])
        for r in spark.table("deb_mb")
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("emitted").cast("int")).alias("e"),
        )
        .collect()
    }
    want = {
        (r["user_id"], r["event_type"]): (r["n_events"], r["n_emitted"])
        for r in q_debounce(spark, sf_smoke).collect()
    }
    assert got == want
