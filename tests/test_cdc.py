"""CDC transform pipeline (A3-A8) against the reference's observable
contract + the pure-Python fold oracle (SURVEY §5 test pyramid 1 & 4)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dynamodb_streaming_datalake_spark.operators.cdc import cdc_transform
from dynamodb_streaming_datalake_spark.operators.state import reconstruct_table
from dynamodb_streaming_datalake_spark.sources.cdc_fixture import (
    CdcFixture,
    canonical_readme_sequence,
    generate_fixture,
)

ATTRS = ("id", "name", "Designation", "salary", "active", "tags", "address")
def EVENT_TS():
    return F.timestamp_seconds(F.col("env.dynamodb.ApproximateCreationDateTime"))


def _raw_df(spark, fixture: CdcFixture):
    rows = [(line,) for line in fixture.json_lines()]
    return spark.createDataFrame(rows, "json string")


def _transform(spark, fixture: CdcFixture):
    raw = _raw_df(spark, fixture)
    return cdc_transform(raw, attributes=ATTRS, ingestion_ts=EVENT_TS())


def test_readme_sequence_reconstructs_then_removes(spark):
    """README.md:43-56 canonical check: after 3 puts the state is one
    row with Designation='Developer Advocate'; after the REMOVE, zero."""
    fx = CdcFixture(events=canonical_readme_sequence())
    ok, err = _transform(spark, fx)
    assert err.count() == 0

    state_after_remove = reconstruct_table(
        ok, keys=["id", "name"], order_by=["event_time", "eventID"]
    )
    assert state_after_remove.count() == 0

    fx_pre_remove = CdcFixture(events=canonical_readme_sequence()[:3])
    ok2, _ = _transform(spark, fx_pre_remove)
    state = reconstruct_table(
        ok2, keys=["id", "name"], order_by=["event_time", "eventID"]
    ).collect()
    assert len(state) == 1
    assert state[0]["Designation"] == "Developer Advocate"
    assert state[0]["id"] == "864732" and state[0]["name"] == "Adam"


def test_remove_takes_old_image(spark):
    """REMOVE rows carry the deleted image
    (firehose_transformation.py:9-10)."""
    fx = CdcFixture(events=canonical_readme_sequence())
    ok, _ = _transform(spark, fx)
    removed = ok.where(F.col("Event") == "REMOVE").collect()
    assert len(removed) == 1
    assert removed[0]["Designation"] == "Developer Advocate"


def test_flatten_drops_type_tags_and_stringifies(spark):
    """A5: {attr: {tag: val}} -> str(val); tags/address stay JSON text."""
    fx = generate_fixture(n_keys=5, n_events=20, unknown_rate=0.0)
    ok, _ = _transform(spark, fx)
    row = (
        ok.where((F.col("Event") == "INSERT") & (F.col("id") != "864732"))
        .orderBy("event_time")
        .first()
    )
    assert isinstance(row["salary"], str) and row["salary"].isdigit()
    assert row["active"] in ("true", "false")
    assert row["tags"].startswith("[")  # L carried as JSON string
    assert row["address"].startswith("{")  # M carried as JSON string


def test_unknown_event_routed_not_crashed(spark):
    """The reference Lambda crashes on unknown eventName (NameError,
    firehose_transformation.py:6-10); we route to the error zone (A8)."""
    fx = generate_fixture(n_keys=20, n_events=300, unknown_rate=0.1)
    ok, err = _transform(spark, fx)
    bad = err.collect()
    assert all(r["result"] == "UnknownEvent" for r in bad)
    assert len(bad) > 0
    assert ok.where(F.col("Event") == "TTL_DELETE").count() == 0
    assert ok.count() + len(bad) == len(fx.events)


def test_malformed_json_routed(spark):
    fx = CdcFixture(events=canonical_readme_sequence())
    lines = fx.json_lines() + ["{not valid json", '{"eventName": null}']
    raw = spark.createDataFrame([(l,) for l in lines], "json string")
    ok, err = cdc_transform(raw, attributes=ATTRS, ingestion_ts=EVENT_TS())
    assert ok.count() == 4
    assert err.where(F.col("result") == "MalformedRecord").count() == 2


def test_property_fold_oracle(spark):
    """Property test (SURVEY §5.4): engine reconstruction == trivial
    Python fold of the same random history."""
    fx = generate_fixture(n_keys=300, n_events=2000, unknown_rate=0.01)
    ok, _ = _transform(spark, fx)
    engine = (
        reconstruct_table(ok, keys=["id", "name"], order_by=["event_time", "eventID"])
        .select(*ATTRS)
        .toPandas()
        .sort_values(["id", "name"])
        .reset_index(drop=True)
    )
    oracle_rows = [
        {a: attrs.get(a) for a in ATTRS} for attrs in fx.fold_state().values()
    ]
    oracle = (
        pd.DataFrame(oracle_rows, columns=list(ATTRS))
        .sort_values(["id", "name"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(engine, oracle)


def test_agg_and_window_latest_state_agree(spark):
    fx = generate_fixture(n_keys=50, n_events=500)
    ok, _ = _transform(spark, fx)
    a = reconstruct_table(ok, ["id", "name"], ["event_time", "eventID"])
    from dynamodb_streaming_datalake_spark.operators.state import latest_state

    w = latest_state(ok, ["id", "name"], ["event_time", "eventID"], method="window")
    w = w.where(F.col("Event") != "REMOVE")
    assert sorted(map(tuple, a.select(*ATTRS).collect())) == sorted(
        map(tuple, w.select(*ATTRS).collect())
    )


def test_ingestion_ts_may_read_raw_columns(spark):
    """``ingestion_ts`` may name a column of ``raw`` itself (the CDC
    zone passes its events' ``ts``), not only ``env`` fields: the
    transform keeps ``raw``'s columns visible next to the parsed
    envelope, in the stringly, schemaless and typed forms alike."""
    from dynamodb_streaming_datalake_spark.operators.cdc import cdc_transform_typed

    fx = generate_fixture(n_keys=5, n_events=30, unknown_rate=0.1)
    lines = fx.json_lines() + ["{not json"]
    raw = spark.createDataFrame(
        [(line, 1_700_000_000 + i) for i, line in enumerate(lines)], "json string, ts long"
    )
    stamp = F.timestamp_seconds(F.col("ts"))
    want = {
        str(r["stamp"]) for r in raw.select(stamp.alias("stamp")).collect()
    }
    for ok, err in (
        cdc_transform(raw, attributes=ATTRS, ingestion_ts=stamp),
        cdc_transform(raw, ingestion_ts=stamp),
        cdc_transform_typed(raw, {"salary": "N"}, ingestion_ts=stamp),
    ):
        got = {r["ingestion_timestamp"] for r in ok.collect()}
        assert got and got <= want
        assert ok.count() + err.count() == len(lines)
        assert err.where(F.col("result") == "MalformedRecord").count() == 1


@pytest.mark.parametrize("stream", [False, True], ids=["batch", "stream"])
def test_each_output_parses_the_envelope_once(spark, tmp_path, stream):
    """Each ok and error output of ``cdc_transform`` (attributes and
    schemaless) and ``cdc_transform_typed`` runs exactly one envelope
    ``from_json`` in its physical plan, on a batch and on a streaming
    DataFrame: the parse is behind a Generate barrier, so filter
    pushdown cannot copy it into the routing predicate. (The envelope
    parse is the ``from_json`` whose schema is a struct; the typed
    decode's own ``L``/``M`` parses are arrays and maps.)"""
    import re

    from dynamodb_streaming_datalake_spark.operators.cdc import cdc_transform_typed
    from dynamodb_streaming_datalake_spark.plans.explain import explain_str
    from dynamodb_streaming_datalake_spark.streaming.pipeline import read_cdc_lines

    fx = generate_fixture(n_keys=5, n_events=30, unknown_rate=0.1)
    if stream:
        (tmp_path / "w0.json").write_text("\n".join(fx.json_lines()) + "\n")
        raw = read_cdc_lines(spark, str(tmp_path))
    else:
        raw = _raw_df(spark, fx)
    outputs = {
        "attributes": cdc_transform(raw, attributes=ATTRS, ingestion_ts=EVENT_TS()),
        "schemaless": cdc_transform(raw, ingestion_ts=EVENT_TS()),
        "typed": cdc_transform_typed(
            raw, {"salary": "N", "tags": "L", "address": "M"}, ingestion_ts=EVENT_TS()
        ),
    }
    parses = {
        (form, side): len(re.findall(r"from_json\(StructField\(", explain_str(df)))
        for form, pair in outputs.items()
        for side, df in zip(("ok", "err"), pair)
    }
    assert parses == {k: 1 for k in parses}


def test_typed_decode(spark):
    """SURVEY §7 risk register: the typed decode path — N -> decimal,
    BOOL -> boolean, L/M -> parsed structures — alongside the
    reference-faithful stringly flatten."""
    from decimal import Decimal

    from dynamodb_streaming_datalake_spark.operators.cdc import cdc_transform_typed

    fx = generate_fixture(n_keys=10, n_events=60, unknown_rate=0.0)
    raw = spark.createDataFrame([(l,) for l in fx.json_lines()], "json string")
    spec = {
        "id": "S",
        "name": "S",
        "salary": "N",
        "active": "BOOL",
        "tags": "L",
        "address": "M",
    }
    ok, err = cdc_transform_typed(raw, spec, ingestion_ts=EVENT_TS())
    assert err.count() == 0
    # readme-prefixed events carry only id/name/Designation; the
    # generated ev-* events have the full typed attribute set
    row = ok.where(
        (F.col("Event") != "REMOVE") & F.col("eventID").startswith("ev-")
    ).first()
    assert isinstance(row["salary"], Decimal)
    assert isinstance(row["active"], bool)
    assert isinstance(row["tags"], list) and len(row["tags"]) == 2
    assert row["address"]["city"].startswith("city")
    dt = dict(ok.dtypes)
    assert dt["salary"] == "decimal(38,18)"
    assert dt["active"] == "boolean"
    assert dt["tags"] == "array<string>"
    assert dt["address"] == "map<string,string>"

    # tag mismatch -> null, not coercion
    bad_spec = {"id": "S", "salary": "BOOL"}
    ok2, _ = cdc_transform_typed(raw, bad_spec, ingestion_ts=EVENT_TS())
    assert ok2.where(F.col("salary").isNotNull()).count() == 0


def test_readme_sequence_matches_checked_in_golden(spark):
    """SURVEY §5.2 golden test: the reference's only documented
    correctness procedure (README.md:43-56 put-items + screenshot
    eyeball) frozen as a checked-in golden — any contract drift in the
    transform (image dispatch, flatten, enrichment) diffs here."""
    import json
    from pathlib import Path

    from dynamodb_streaming_datalake_spark.sources.cdc_fixture import (
        CdcFixture,
        canonical_readme_sequence,
    )

    fx = CdcFixture(events=canonical_readme_sequence())
    raw = spark.createDataFrame([(l,) for l in fx.json_lines()], "json string")
    ok, err = cdc_transform(
        raw, attributes=("id", "name", "Designation"), ingestion_ts=EVENT_TS()
    )
    assert err.count() == 0
    rows = [r.asDict() for r in ok.orderBy("eventID").collect()]
    for r in rows:
        r["event_time"] = str(r["event_time"])
    golden = json.loads(
        (Path(__file__).parent / "goldens" / "readme_cdc.json").read_text()
    )
    assert rows == golden


def test_q_snapshot_diff_oracle_parity(spark, sf_smoke):
    from dynamodb_streaming_datalake_spark.operators.state import q_snapshot_diff
    from dynamodb_streaming_datalake_spark.registry import ORACLE
    from tests.oracle_utils import compare_query

    compare_query(
        spark, sf_smoke, "q_snapshot_diff", q_snapshot_diff,
        ORACLE["q_snapshot_diff"],
    )


def test_snapshot_diff_replays_to_new_snapshot(spark, sf_smoke):
    """The generated feed must actually WORK as CDC: applying it to the
    old snapshot (insert/modify upserts, remove deletes) reproduces the
    new snapshot exactly — diff/merge are inverses."""
    from pyspark.sql import functions as F

    from dynamodb_streaming_datalake_spark.operators.state import (
        DIFF_NEW_DROP,
        DIFF_OLD_DROP,
        DIFF_REPRICE,
        q_snapshot_diff,
    )
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    o = read_table(spark, sf_smoke, "orders")
    old = o.where(F.col("o_orderkey") % DIFF_OLD_DROP != 0).select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    new = o.where(F.col("o_orderkey") % DIFF_NEW_DROP != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % DIFF_REPRICE == 0, F.col("o_totalprice") * 2
        )
        .otherwise(F.col("o_totalprice"))
        .cast("decimal(18,2)")
        .alias("price"),
    )
    feed = q_snapshot_diff(spark, sf_smoke)
    upserts = feed.where(F.col("Event") != "REMOVE").select(
        "o_orderkey", F.col("new_price").cast("decimal(18,2)").alias("price")
    )
    removes = feed.where(F.col("Event") == "REMOVE").select("o_orderkey")
    replayed = (
        old.join(feed.select("o_orderkey"), "o_orderkey", "left_anti")
        .unionByName(upserts)
    )
    assert replayed.join(removes, "o_orderkey", "inner").count() == 0
    a = {(r["o_orderkey"], r["price"]) for r in replayed.collect()}
    b = {(r["o_orderkey"], r["price"]) for r in new.collect()}
    assert a == b


def test_partial_update_merge_is_per_column_not_per_row(spark):
    """The patch-stream merge takes each column from a DIFFERENT
    record when the sparsity pattern says to: build a tiny feed where
    the highest-LSN record carries only `device`, an earlier one only
    `plan` — the folded row must combine both, which full-row latest
    state cannot produce."""
    from pyspark.sql import functions as F

    rows = [
        # (user, lsn, device, plan)
        (1, 10, "d-old", None),
        (1, 20, None, "pro"),
        (1, 30, "d-new", None),
        (2, 5, None, None),
        (2, 6, "x", "basic"),
    ]
    feed = spark.createDataFrame(
        rows, "user_id int, event_id int, device string, plan string"
    )
    got = {
        r["user_id"]: r
        for r in feed.groupBy("user_id")
        .agg(
            F.expr(
                "max_by(device, event_id)"
                " FILTER (WHERE device IS NOT NULL)"
            ).alias("last_device"),
            F.expr(
                "max_by(plan, event_id) FILTER (WHERE plan IS NOT NULL)"
            ).alias("last_plan"),
        )
        .collect()
    }
    # device from LSN 30, plan from LSN 20 — two different records
    assert got[1]["last_device"] == "d-new"
    assert got[1]["last_plan"] == "pro"
    # all-null record contributes nothing; a present pair survives
    assert got[2]["last_device"] == "x" and got[2]["last_plan"] == "basic"


def test_scd2_from_patches_current_equals_patch_merge(spark, sf_smoke):
    """The composition closes its own loop: each user's is_current SCD2
    version carries exactly the state q_partial_update_merge folds —
    current state IS the last history version. Also: version intervals
    chain gaplessly (valid_to of version k == valid_from of k+1) and
    consecutive versions always differ in at least one column."""
    from dynamodb_streaming_datalake_spark.operators.state import (
        PATCH_ATTRS,
        q_partial_update_merge,
        q_scd2_from_patches,
    )

    hist = q_scd2_from_patches(spark, sf_smoke).collect()
    state = {
        r["user_id"]: r for r in q_partial_update_merge(spark, sf_smoke).collect()
    }
    cur = {r["user_id"]: r for r in hist if r["is_current"]}
    assert set(cur) == set(state)
    for uid, r in cur.items():
        for c in PATCH_ATTRS:
            assert r[c] == state[uid][f"last_{c}"], (uid, c, r, state[uid])
    # interval chaining + genuine-change invariants
    by_user: dict = {}
    for r in hist:
        by_user.setdefault(r["user_id"], []).append(r)
    n_versions = 0
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: r["version_no"])
        n_versions += len(rows)
        assert [r["version_no"] for r in rows] == list(range(1, len(rows) + 1))
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to_lsn"] == b["valid_from_lsn"], (uid, a, b)
            assert any(a[c] != b[c] for c in PATCH_ATTRS), (uid, a, b)
        assert rows[-1]["valid_to_lsn"] is None
    # collapsing actually collapsed something: fewer versions than patches
    from dynamodb_streaming_datalake_spark.operators.state import (
        partial_update_feed,
    )
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    n_patches = partial_update_feed(
        read_table(spark, sf_smoke, "events")
    ).count()
    assert 0 < n_versions < n_patches


def _memo_keys(kind: str, path: str) -> list[tuple]:
    import os

    from dynamodb_streaming_datalake_spark import cache

    real = os.path.realpath(path)
    return [k for k in cache._MEMO if k[0] == kind and k[2][0][0] == real]


def test_read_table_schema_cache_hits_and_invalidates(spark, tmp_path):
    """The parquet schema memo (kind ``table_schema``) must (a) return
    the same schema on a hit without re-inferring, and (b) re-infer
    and evict the stale stamp when the file is rewritten with a
    different schema — it is a metadata cache, never a data cache."""
    import time as _time

    from dynamodb_streaming_datalake_spark import cache
    from dynamodb_streaming_datalake_spark.sources import readers

    d = str(tmp_path)
    path = f"{d}/t.parquet"
    spark.range(3).selectExpr("id AS a").write.mode("overwrite").parquet(path)
    stats = cache.STATS["table_schema"]
    builds, hits = stats["builds"], stats["hits"]
    df1 = readers.read_table(spark, d, "t")
    assert stats["builds"] == builds + 1
    assert readers._table_schema(spark, path) == df1.schema  # hit
    assert (stats["builds"], stats["hits"]) == (builds + 1, hits + 1)
    assert sorted(r["a"] for r in df1.collect()) == [0, 1, 2]
    (old_key,) = _memo_keys("table_schema", path)
    # rewrite with a DIFFERENT schema -> new stamp -> re-infer
    _time.sleep(0.01)
    spark.range(2).selectExpr(
        "id AS a", "CAST(id AS STRING) AS b"
    ).write.mode("overwrite").parquet(path)
    df3 = readers.read_table(spark, d, "t")
    assert stats["builds"] == builds + 2
    assert set(df3.columns) == {"a", "b"}
    assert sorted(r["a"] for r in df3.collect()) == [0, 1]
    # stale entry evicted, fresh one present
    (new_key,) = _memo_keys("table_schema", path)
    assert new_key != old_key


def test_read_table_handle_cache_identity_and_invalidation(spark, tmp_path):
    """Round 18: read_table returns a cached scan-plan HANDLE per
    (session, file stamp) — memo kind ``table_scan``. (a) same object
    on a hit — plan metadata reuse, not data caching: a rewrite of the
    FILE with the same schema must still be visible to the next action
    through a fresh stamp; (b) the stale handle is evicted on rewrite."""
    import time as _time

    from dynamodb_streaming_datalake_spark import cache
    from dynamodb_streaming_datalake_spark.sources import readers

    d = str(tmp_path)
    path = f"{d}/t.parquet"
    spark.range(3).selectExpr("id AS a").write.mode("overwrite").parquet(path)
    stats = cache.STATS["table_scan"]
    hits = stats["hits"]
    df1 = readers.read_table(spark, d, "t")
    df2 = readers.read_table(spark, d, "t")
    assert df2 is df1  # the handle, not a rebuilt plan
    assert stats["hits"] == hits + 1
    (key1,) = _memo_keys("table_scan", path)
    assert key1[1] is spark  # bound to the session that planned it
    _time.sleep(0.01)
    spark.range(5).selectExpr("id AS a").write.mode("overwrite").parquet(path)
    df3 = readers.read_table(spark, d, "t")
    assert df3 is not df1
    assert df3.count() == 5  # new data visible through the new handle
    assert _memo_keys("table_scan", path) != [key1]  # stale handle evicted
    assert len(_memo_keys("table_scan", path)) == 1


def test_footer_row_count_follows_spark_path_filter(spark, tmp_path):
    """scan_row_count answers from parquet footers, so it must skip
    what Spark's file index skips: a ``_temporary/`` part file left by
    an interrupted write is not table data. A data file without the
    ``.parquet`` suffix (Spark still reads it) makes the footer path
    give up and count through Spark."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamodb_streaming_datalake_spark.sources import readers

    d = str(tmp_path)
    path = f"{d}/t.parquet"
    spark.range(3).coalesce(1).selectExpr("id AS a").write.parquet(path)
    stray = tmp_path / "t.parquet" / "_temporary" / "0"
    stray.mkdir(parents=True)
    pq.write_table(pa.table({"a": list(range(10))}), stray / "part-0.parquet")
    df = readers.read_table(spark, d, "t")
    assert readers.scan_row_count(df) == df.count() == 3

    part = next(p for p in (tmp_path / "t.parquet").iterdir() if p.suffix == ".parquet")
    shutil.copy(part, tmp_path / "t.parquet" / "part-extra")
    df = readers.read_table(spark, d, "t")
    assert readers.scan_row_count(df) == df.count() == 6


def test_fan_out_partition_probe_memoized(spark, sf_smoke):
    """Round 18: fan_out memoizes df.rdd.getNumPartitions() per frame
    object (the probe physically plans the frame — a per-call
    construction cost). Same frame -> one probe; the repartition
    decision is unchanged."""
    from dynamodb_streaming_datalake_spark.sources import readers

    df = readers.read_table(spark, sf_smoke, "events")
    readers._NPART_CACHE.pop(df, None)
    out1 = readers.fan_out(df, "event_id")
    assert df in readers._NPART_CACHE
    n = readers._NPART_CACHE[df]
    # poison the memo: a second call must TRUST it (no re-probe)
    readers._NPART_CACHE[df] = 10**6
    out2 = readers.fan_out(df, "event_id")
    assert out2 is df  # 10^6 >= target -> no-op path taken
    readers._NPART_CACHE[df] = n
    assert out1.rdd.getNumPartitions() >= df.rdd.getNumPartitions()
