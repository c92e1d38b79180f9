"""cdc_ingest: the paper's hot path, driven wave by wave.

Each wave lands as one NDJSON file in the file source (the Firehose
buffer analogue); then the lake sink, the error sink and the snapshot
maintenance sink drain it together with ``availableNow``. The next wave
lands only after all three have committed. After each commit one serve
read counts the live snapshot and checks it against the fold oracle.
"""

from __future__ import annotations

import os
import time

import cdcgen
from common import Outcome, median

#: chosen to fit the time budget, not taken from measured traffic; see
#: "Sizes" in README.md for what they weigh against full Firehose buffers
WAVE_EVENTS = 2000
N_KEYS = 40_000
#: untimed waves between the cold wave and the window: the per-wave
#: CPU is still falling over the first waves after the cold one
WARMUP = 1
#: a wave whose sinks have not all committed by then counts as failed
AWAIT_S = 120
DIRS = ("src", "stage", "lake", "err", "snap", "ck_lake", "ck_err", "ck_snap")


def prepare(seed: int, run_dir):
    """Waves are generated on demand, outside every timed interval."""
    return cdcgen.generate(seed, WAVE_EVENTS, N_KEYS)


def setup(ctx, stream) -> dict[str, str]:
    d = {k: str(ctx.run_dir / k) for k in DIRS}
    os.makedirs(d["src"], exist_ok=True)
    os.makedirs(d["stage"], exist_ok=True)
    return d


def _zones(d) -> tuple[int, int]:
    """(data files, bytes) in the lake and error zones."""
    files = size = 0
    for zone in (d["lake"], d["err"]):
        f, s = _tree(zone)
        files, size = files + f, size + s
    return files, size


def _tree(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Spark's metadata excluded."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def run(ctx, stream, d) -> Outcome:
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    from dynamodb_streaming_datalake_spark.operators.cdc import cdc_transform
    from dynamodb_streaming_datalake_spark.streaming.pipeline import (
        read_cdc_lines,
        start_error_stream,
        start_lake_stream,
    )
    from dynamodb_streaming_datalake_spark.streaming.upsert import (
        current_snapshot,
        start_snapshot_maintenance,
    )

    spark, tracer = ctx.spark, ctx.tracer

    def event_ts():
        return F.timestamp_seconds(F.col("env.dynamodb.ApproximateCreationDateTime"))

    def start_sinks():
        lake = start_lake_stream(spark, d["src"], d["lake"], d["ck_lake"],
                                 attributes=cdcgen.ATTRS, ingestion_ts=event_ts())
        err = start_error_stream(spark, d["src"], d["err"], d["ck_err"],
                                 ingestion_ts=event_ts())
        ok, _ = cdc_transform(read_cdc_lines(spark, d["src"]),
                              attributes=cdcgen.ATTRS, ingestion_ts=event_ts())
        snap = start_snapshot_maintenance(ok, d["snap"], d["ck_snap"])
        return {"lake": lake, "err": err, "snap": snap}

    out = Outcome()
    fold = cdcgen.Fold()
    known = unknown = 0
    fresh, served = [], []  # untraced steady waves
    layer: dict[str, list[float]] = {}
    zones = (0, 0)

    def wave(w: int, steady: bool) -> None:
        """Land wave ``w``, drain it and serve one read."""
        nonlocal known, unknown, zones
        evs = next(stream)
        fold.add(evs)
        known += sum(map(cdcgen.is_known, evs))
        unknown += len(evs) - sum(map(cdcgen.is_known, evs))
        want_live = len(fold.live())
        staged = os.path.join(d["stage"], f"w{w:05d}.json")
        with open(staged, "w") as f:
            f.write("\n".join(e.line for e in evs) + "\n")
        t0 = time.perf_counter()
        with tracer.span("wave", w, events=len(evs)) as ws:
            os.rename(staged, os.path.join(d["src"], f"w{w:05d}.json"))
            with tracer.span("streaming.pipeline.start", w):
                qs = start_sinks()
            t_started = time.perf_counter()
            with tracer.span("streaming.pipeline.await", w):
                for q in qs.values():
                    try:
                        q.awaitTermination(AWAIT_S)
                    except StreamingQueryException:
                        pass  # read back from q.exception() below
            t_commit = time.perf_counter()
            with tracer.span("streaming.upsert.serve", w):
                live = current_snapshot(spark, d["snap"]).count()
        t1 = time.perf_counter()
        progress = {k: q.lastProgress for k, q in qs.items()}
        failed = [k for k, q in qs.items()
                  if q.isActive or q.exception() is not None or progress[k] is None]
        for k in failed:
            qs[k].stop()
        out.check(not failed and live == want_live,
                  f"wave {w}: sinks failed {failed}, live {live} vs oracle {want_live}")
        if steady and not tracer.active:
            fresh.append(t_commit - t0)
            served.append(t1 - t_commit)
        if steady and tracer.active and not failed:
            _wave_layers(layer, progress, t_started - t0, len(evs), tracer, ws)
            now = _zones(d)
            layer.setdefault("sources.writers.files_per_wave", []).append(now[0] - zones[0])
            layer.setdefault("sources.writers.bytes_per_event", []).append(
                (now[1] - zones[1]) / len(evs))
            written = _tree(os.path.join(d["snap"], f"v={w}"))[1]
            layer.setdefault("streaming.upsert.bytes_written_per_wave", []).append(written)
            # every version rewrites the whole snapshot: rows (so bytes)
            # written per row the wave changed
            changed = len({e.key for e in evs if cdcgen.is_known(e)})
            layer.setdefault("streaming.upsert.write_amp", []).append(fold.stored() / changed)
        if tracer.enabled:
            zones = _zones(d)

    ctx.drive(wave, WARMUP)

    # end-of-run checks, outside every timed interval
    got = {
        (r["id"], r["name"]): tuple(r[a] for a in cdcgen.ATTRS)
        for r in current_snapshot(spark, d["snap"]).select(*cdcgen.ATTRS).collect()
    }
    lake_rows = spark.read.json(d["lake"]).count()
    err_rows = spark.read.json(d["err"]).count()
    out.check(got == fold.live() and lake_rows == known and err_rows == unknown,
              f"final: snapshot equal {got == fold.live()}, lake rows {lake_rows} "
              f"vs {known}, error rows {err_rows} vs {unknown}")

    out.layers = {k: median(v) for k, v in layer.items()}
    if fresh:
        out.layers["wall.op_p50_s"] = median(fresh)
        out.layers["streaming.upsert.serve_s"] = median(served)
    return out


def _wave_layers(layer, progress, start_s, n_events, tracer, ws) -> None:
    """Per-layer numbers of one traced wave, from the sinks' progress;
    each progress duration also becomes a child span of the wave."""
    def sec(p, k):
        return p["durationMs"].get(k, 0) / 1e3

    def add(k, v):
        layer.setdefault(k, []).append(v)

    snap, lake, err = progress["snap"], progress["lake"], progress["err"]
    add("streaming.upsert.add_batch_s", sec(snap, "addBatch"))
    add("streaming.pipeline.lake.add_batch_s", sec(lake, "addBatch"))
    add("streaming.pipeline.err.add_batch_s", sec(err, "addBatch"))
    add("streaming.pipeline.trigger_overhead_s",
        sum(sec(p, "triggerExecution") - sec(p, "addBatch") for p in progress.values()))
    add("streaming.pipeline.start_s", start_s)
    add("operators.cdc.parses_per_event",
        sum(p["numInputRows"] for p in progress.values()) / n_events)
    for sink, p in progress.items():
        for k, v in p["durationMs"].items():
            tracer.child(f"progress.{sink}.{k}", ws, ws["start"], v / 1e3)
