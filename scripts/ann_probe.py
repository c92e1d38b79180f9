#!/usr/bin/env python
"""Reproducible sf1 probe for the q_ann_ivf / q_ann_ivfpq pair
(round-8 VERDICT "What's wrong" #2): BENCH_r08 recorded 17.10 s /
22.76 s at sf1 where round 7 and the builder's same-round probe both
recorded ~8.6 s / ~13.3 s on untouched code. This script pins which
number is real and makes a 2x swing attributable:

- medians of 5 (not the bench's single sf1 shot), every sample printed;
- the data-side invariants recorded NEXT to the wall time — embedding
  count, IVF candidate-pair count, per-list occupancy, IVFPQ candidate
  count. These are deterministic functions of the sf1 build: if wall
  doubles while these hold, the cause is host/JVM state, not the plan;
- optional `--dirty` mode replays the suspected driver state: run the
  full registry once at sf0.1 first (accumulating every operator's
  localCheckpoint RDDs in block-manager storage, exactly what the
  driver's 182-query x 3-rep loop does before its sf1 probes), then
  measure — vs the default clean-session measurement.

Usage: python scripts/ann_probe.py [--reps 5] [--dirty] [--sf1-dir D]
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def ivf_diagnostics(spark, sf_dir: str) -> dict:
    """Deterministic data-side invariants of the IVF/IVFPQ builds."""
    from pyspark.sql import functions as F

    from dynamodb_streaming_datalake_spark.operators.similarity import (
        _pq_subvectors,
        _pq_trained_codebook,
        ivf_assign_lists,
        ivf_centroids,
        ivf_probe_join,
        ivfpq_coarse_centroids,
        ivfpq_encode,
        ivfpq_probe_join,
    )
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings")
    # the candidate pairs are the serve paths' own probe joins over a
    # one-shot build: one row per (query, neighbor) for IVFFlat, one
    # per (query, neighbor, subspace) for IVF-PQ's codes
    cents = ivf_centroids(e)
    cand_ivf = ivf_probe_join(ivf_assign_lists(e, cents), cents, e)
    lists_occ = (
        cand_ivf.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.min("n").alias("min"),
            F.max("n").alias("max"),
            F.avg("n").alias("avg"),
        )
        .collect()[0]
    )
    tcb = _pq_trained_codebook(_pq_subvectors(e), sf_dir=sf_dir)
    coarse = ivfpq_coarse_centroids(e)
    cand_pq = ivfpq_probe_join(ivfpq_encode(e, tcb, coarse), coarse, e)
    return {
        "n_embeddings": e.count(),
        "ivf_candidates": cand_ivf.count(),
        "ivf_cand_per_query": {
            "min": lists_occ["min"],
            "max": lists_occ["max"],
            "avg": round(lists_occ["avg"], 1),
        },
        "ivfpq_candidates": cand_pq.select("query_id", "vec_id").distinct().count(),
    }


def measure(spark, name: str, fn, sf_dir: str, reps: int) -> dict:
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        samples.append(round(time.perf_counter() - t0, 3))
    return {"samples": samples, "median": round(statistics.median(samples), 3)}


def persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--dirty", action="store_true")
    ap.add_argument(
        "--sf1-dir", default=str(ROOT / ".benchdata" / "sf1")
    )
    args = ap.parse_args()

    from dynamodb_streaming_datalake_spark.registry import all_queries
    from dynamodb_streaming_datalake_spark.session import get_spark

    spark = get_spark(
        app_name="ann_probe", extra_conf={"spark.ui.enabled": "false"}
    )
    queries = all_queries()

    if args.dirty:
        # replay the driver's pre-sf1 state: one pass over the whole
        # registry at sf0.1 leaves every localCheckpoint/cache block
        # the bench loop would have accumulated
        t0 = time.perf_counter()
        for name, fn in queries.items():
            fn(spark, "/root/testdata/sf0.1").count()
        print(
            f"dirty warmup: {time.perf_counter() - t0:.0f}s, "
            f"persistent RDDs now {persistent_rdd_count(spark)}",
            file=sys.stderr,
        )

    out = {
        "mode": "dirty" if args.dirty else "clean",
        "reps": args.reps,
        "persistent_rdds_before": persistent_rdd_count(spark),
        "diagnostics": ivf_diagnostics(spark, args.sf1_dir),
    }
    for name in ("q_ann_ivf", "q_ann_ivfpq"):
        out[name] = measure(spark, name, queries[name], args.sf1_dir, args.reps)
    out["persistent_rdds_after"] = persistent_rdd_count(spark)
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
