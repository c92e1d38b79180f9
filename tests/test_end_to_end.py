"""Capstone integration: the reference's full dataflow, replayed.

put-items (fixture events) -> streaming CDC pipeline -> gzip-NDJSON
hourly lake -> schema-on-read scan -> latest-state reconstruction ==
the pure-Python fold of the history; plus the snapshot (+) CDC merge
over a mid-stream full-load cut — i.e. every zone and every seam of
SURVEY §3.1/§3.2 in one pass.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dynamodb_streaming_datalake_spark.operators.cdc import cdc_transform
from dynamodb_streaming_datalake_spark.operators.state import (
    merge_snapshot_cdc,
    reconstruct_table,
)
from dynamodb_streaming_datalake_spark.sources.cdc_fixture import generate_fixture
from dynamodb_streaming_datalake_spark.sources.readers import read_cdc_zone
from dynamodb_streaming_datalake_spark.sources.writers import write_snapshot
from dynamodb_streaming_datalake_spark.streaming.pipeline import start_lake_stream

ATTRS = ("id", "name", "Designation", "salary", "active", "tags", "address")


def EVENT_TS():
    return F.timestamp_seconds(F.col("env.dynamodb.ApproximateCreationDateTime"))


def test_full_dataflow_stream_lake_reconstruct(spark, tmp_path):
    fx = generate_fixture(n_keys=50, n_events=400, unknown_rate=0.05)
    src = tmp_path / "src"
    src.mkdir()
    lines = fx.json_lines()
    third = len(lines) // 3
    for i in range(3):
        chunk = lines[i * third : (i + 1) * third if i < 2 else len(lines)]
        (src / f"b{i}.json").write_text("\n".join(chunk) + "\n")

    lake = str(tmp_path / "lake")
    q = start_lake_stream(
        spark,
        str(src),
        lake,
        str(tmp_path / "ck"),
        attributes=ATTRS,
        ingestion_ts=EVENT_TS(),
    )
    q.awaitTermination(120)

    # schema-on-read scan of the gzip zone (B2) + reconstruction (B6)
    from dynamodb_streaming_datalake_spark.model import lake_row_schema

    scanned = read_cdc_zone(spark, lake, schema=lake_row_schema(ATTRS))
    got = (
        reconstruct_table(scanned, ["id", "name"], ["ingestion_timestamp", "eventID"])
        .select("id", "name", "Designation", "salary")
        .collect()
    )
    want = {
        k: (v.get("Designation"), v.get("salary"))
        for k, v in fx.fold_state().items()
    }
    assert {(r["id"], r["name"]): (r["Designation"], r["salary"]) for r in got} == want

    # snapshot (+) CDC merge (B7): full-load cut at t=half, CDC wins after
    half_ts = sorted(e.approx_ts for e in fx.events)[len(fx.events) // 2]
    raw = spark.createDataFrame([(l,) for l in lines], "json string")
    ok, _ = cdc_transform(raw, attributes=ATTRS, ingestion_ts=EVENT_TS())
    cut = F.timestamp_seconds(F.lit(half_ts))
    early = ok.where(F.col("ingestion_timestamp").cast("timestamp") <= cut)
    snap_dir = str(tmp_path / "full_load")
    write_snapshot(
        reconstruct_table(early, ["id", "name"], ["ingestion_timestamp", "eventID"]),
        snap_dir,
    )
    late_cdc = scanned.where(F.col("ingestion_timestamp").cast("timestamp") > cut)
    merged = merge_snapshot_cdc(
        spark.read.parquet(snap_dir),
        late_cdc,
        ["id", "name"],
        ["ingestion_timestamp", "eventID"],
    )
    live = merged.where(F.col("Event") != "REMOVE")
    assert {
        (r["id"], r["name"]): (r["Designation"], r["salary"])
        for r in live.select("id", "name", "Designation", "salary").collect()
    } == want


def test_zone_cache_stamped_cleanup(tmp_path, monkeypatch):
    """ensure_cdc_zone spares the caches of OTHER sf_dirs (bench/tests
    alternating scales must not thrash each other) and of other
    families, sweeps this sf_dir's superseded and pre-stamp caches,
    and never rebuilds a zone it already has."""
    import os
    import tempfile

    from dynamodb_streaming_datalake_spark import cache
    from dynamodb_streaming_datalake_spark.operators import cdc_zone as cz

    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    sf = tmp_path / "sfX"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"x")
    sf_key = cache._sha16(os.path.realpath(sf))
    keep = root / "cdc_zone_cache_deadbeefdeadbeef_0123456789abcdef"
    other_prefix = root / "cdc_zone_rt_old"
    other_family = root / f"compact_cache_{sf_key}_0123456789abcdef"
    stale_key = root / f"cdc_zone_cache_{sf_key}_0123456789abcdef"
    stale_versioned = root / f"cdc_zone_cache_v4_{sf_key}"
    for d in (keep, other_prefix, other_family, stale_key, stale_versioned):
        d.mkdir()

    built = []
    monkeypatch.setattr(
        cz, "build_cdc_zone", lambda spark, sf, p: built.append(p)
    )
    path = cz.ensure_cdc_zone(None, str(sf))
    assert os.path.isdir(path) and len(built) == 1
    assert os.path.basename(path).startswith(f"cdc_zone_cache_{sf_key}_")
    assert keep.is_dir(), "the cache of another sf_dir was deleted"
    assert other_prefix.is_dir() and other_family.is_dir()
    assert not stale_key.exists() and not stale_versioned.exists()

    # cached: second call must not rebuild
    cz.ensure_cdc_zone(None, str(sf))
    assert len(built) == 1
