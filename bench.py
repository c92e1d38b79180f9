#!/usr/bin/env python
"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
compact JSON line {"metric", "value", "unit", "queries", "sf"}.

The printed line stays small (headline queries only) because the driver's
stdout capture truncates long lines — round 1's 82-entry line came back
unparseable. The full per-query timing map is written to
``bench_detail.json`` next to this script instead.

Each query is timed over a full materialization (count of the result) —
no collect of large results to the driver. A warm-up read (not a
registry query) amortizes JVM and code-gen startup out of the per-query
numbers.

Noise discipline: each query is timed SPARK_GRAFT_BENCH_REPS times
(default 3) and the reported number is the per-query MEDIAN — local
wall-clock at sf0.1 otherwise swings +/-25% per query with machine
load, drowning real round-over-round regressions. All samples land in
``bench_detail.json``. The sf1 flagships get the SAME discipline
(SPARK_GRAFT_SF1_REPS medians, default 3) — round 16 committed two
single-shot sf1 rails contaminated by co-tenant bursts (q18 10.8x vs
1.9x on unchanged code) and the verdict demanded parity with the sf0.1
sweep. For the cross-RUN half of the rule ("per-query min of medians
across two runs") run bench.py twice and merge with
``scripts/merge_bench.py`` before ``refresh_budgets.py``.

``cold_wall_sec`` records each query's rep-0 wall INCLUSIVE of
construction (one-time cached artifact builds, diagnostic collects) —
the number the driver's single-shot bench actually measures for
artifact-backed queries (round-16 VERDICT #2: q_view_compaction read
11.6 s driver vs 1.3 s builder median purely from accounting, not
regression). Read driver walls against this column, steady-state
medians against ``queries``.

``cache_builds`` / ``cache_build_sec`` name, per query, the artifacts
its rep 0 built (memo kinds and on-disk families, from the
``cache.STATS`` counter deltas) — so the one query that paid for a
build shared across a family (the trade-graph edges) is visible.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from dynamodb_streaming_datalake_spark.cache import STATS  # noqa: E402
from dynamodb_streaming_datalake_spark.registry import all_queries  # noqa: E402
from dynamodb_streaming_datalake_spark.session import get_spark  # noqa: E402


#: flagship queries re-run once at the 10x-replicated scale — one per
#: major operator family, chosen where a wrong plan shape would show up
#: as a super-linear wall-clock ratio
SF1_FLAGSHIPS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_product_profit",
    "q18_large_volume_customers",
    "q_latest_state_per_key",
    "q_dedup_minhash_lsh",
    "q_ann_ivf",
    "q_ann_ivfpq",
    "q_text_stats",
    "q_corpus_curation",
    "q_token_budget",
    "q_pagerank",
    "q_bpe_tokenize",
    "q_hybrid_search",
    # round 7: the new queries with a real shuffle surface — span
    # dedup's window-key shuffle and triangle counting's self-joins
    "q_dedup_spans",
    "q_triangle_count",
    # round 13 (round-12 VERDICT #8): the r12 serving/streaming heavies
    # get a recorded 10x-data ratio — PQ serving's DPP-pruned code
    # store and the streaming IVF index fold are the two paths whose
    # scale behavior the plan tests pin but no bench measured
    "q_ann_serve_pq",
    "q_ann_index_stream",
    "q_feature_hashing",
    # round 13 additions: the trainable-filter, resampling, and mining
    # shapes — a 40x row explode (bootstrap), a Gram mapInPandas pass
    # (outliers), and two broadcast-cross panels (probe, bitext)
    "q_linear_probe",
    "q_bootstrap_ci",
    "q_embedding_outliers",
    "q_bitext_mine",
    # round 14 (round-13 VERDICT #7): the r13 shapes with no recorded
    # 10x-data ratio — the DP exponential mechanism's domain-grid
    # aggregate, the MVCC version diff, probe-scored importance
    # resampling, and the K-models-in-one-aggregate grouped regression
    "q_dp_quantile",
    "q_mvcc_changefeed",
    "q_quality_resample",
    "q_grouped_regression",
    # round 14 registrations: generated-solve probes, integer PPS
    # sampling, the two interval-join shapes, patch-stream state (batch
    # + segmented streaming), exact rank AUC, and the two-pass exact
    # quantile — every new shape gets a recorded 10x-data ratio
    "q_linear_probe_k",
    "q_grouped_regression_k",
    "q_probe_auc",
    "q_pps_sample",
    "q_interval_join",
    "q_interval_join_spanning",
    "q_partial_update_merge",
    "q_partial_update_stream",
    "q_exact_quantile_twopass",
    "q_skyline",
    "q_grouped_weighted_quantile",
    "q_notin_nullaware",
    # round 15 registrations with a real shuffle surface: the bucketed
    # gap scan, per-user interval coalescing, the WOE melt, basket
    # self-joins, the per-user attribution interval join, the grouped
    # two-level ECDF battery, and the retractable support-map merge
    "q_seq_gaps",
    "q_interval_coalesce",
    "q_woe_iv",
    "q_assoc_rules",
    "q_multitouch_attribution",
    "q_drift_battery",
    "q_retractable_minmax",
    # round 16 (round-15 VERDICT #6): the still-un-railed shapes — the
    # FD/RI melt audits, the measure-then-salt aggregate, the two
    # changefeed consumers, view compaction, the two exact rank-test
    # kernels, the decimal-hardened PACF (r15 ADVICE), and the two r16
    # registrations
    "q_fd_audit",
    "q_ri_audit",
    "q_adaptive_salted_agg",
    "q_changefeed_refresh",
    "q_view_compaction",
    "q_two_sample_ks",
    "q_mann_whitney",
    "q_pacf",
    "q_ri_audit_incr",
    "q_scd2_from_patches",
)

#: dedup flagships ALSO railed on the fresh-content 10x corpus — the
#: PRIMARY scale rail for the dedup family (round-16 VERDICT #3): the
#: verbatim-replicated sf1 corpus makes every doc a 10-clique, so its
#: LSH walls measure quadratic OUTPUT volume (1036x candidate pairs),
#: not plan quality. The replicated entries above stay as a labeled
#: output-volume stress; these fresh-content rails are the numbers to
#: judge the plan by.
SF1_FRESH_FLAGSHIPS = (
    "q_dedup_minhash_lsh",
    "q_view_compaction",
)


def _safe_reset_scratch(d: str) -> None:
    """rm -rf a bench scratch dir ONLY if it looks like one (round-16
    ADVICE #4: SPARK_GRAFT_SF1_DIR / SPARK_GRAFT_SF1_FRESH_DIR are
    user-suppliable, and an unconditional rmtree would wipe whatever
    they point at). Allowed contents: the known table parquet dirs,
    the completion marker, spark droppings. Anything else -> refuse
    loudly; the user points the env var somewhere safe or cleans up
    by hand."""
    import shutil

    p = Path(d)
    if not p.exists():
        return
    from dynamodb_streaming_datalake_spark.sources.readers import TABLES

    allowed = {f"{t}.parquet" for t in TABLES} | {"_BUILD_COMPLETE"}
    stray = [
        e.name
        for e in p.iterdir()
        if e.name not in allowed and not e.name.startswith((".", "_"))
    ]
    if stray:
        raise RuntimeError(
            f"refusing to delete {d}: unexpected entries {stray[:5]} — "
            "this does not look like a bench scratch dir (set "
            "SPARK_GRAFT_SF1_DIR/SPARK_GRAFT_SF1_FRESH_DIR to an empty "
            "or bench-built path)"
        )
    shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark(app_name="bench", extra_conf={"spark.ui.enabled": "false"})
    queries = all_queries()

    # warmup: JVM start-up and code generation, through a plain read
    # that is no registry query and builds no memo entry, so the first
    # query's rep-0 `cold_wall_sec` and `cache_builds` keep its builds
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy(
        "l_returnflag"
    ).count().collect()

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    compile_sec: dict[str, float] = {}
    construct_sec: dict[str, float] = {}
    cold_wall_sec: dict[str, float] = {}
    cache_builds: dict[str, dict[str, int]] = {}
    cache_build_sec: dict[str, dict[str, float]] = {}
    for name in sorted(queries):
        ts = []
        before = {k: dict(v) for k, v in STATS.items()}
        for i in range(reps):
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            if i == 0:
                # plan-COMPILE rail (round-12 VERDICT #5): force Catalyst
                # analysis+optimization and record its wall separately —
                # q_feature_hashing spent 36.5 s in the optimizer for
                # 3.6 s of execution and no wall budget flagged it. The
                # QueryExecution caches the optimized plan, so count()
                # below does not redo the work: rep-0 total is unchanged.
                # Construction is timed SEPARATELY (round-13 ADVICE):
                # for queries whose construction runs Spark jobs (skew
                # diagnose collects, one-time ensure_cached_build view
                # builds) a combined number would drown the Catalyst
                # signal the optimizer-blowup rail exists to detect.
                t_built = time.perf_counter()
                construct_sec[name] = round(t_built - t0, 3)
                df._jdf.queryExecution().optimizedPlan()
                compile_sec[name] = round(time.perf_counter() - t_built, 3)
            df.count()
            ts.append(round(time.perf_counter() - t0, 3))
            if i == 0:
                cache_builds[name], cache_build_sec[name] = {}, {}
                for k, v in STATS.items():
                    b = before.get(k, {"builds": 0, "build_sec": 0.0})
                    if v["builds"] > b["builds"]:
                        cache_builds[name][k] = v["builds"] - b["builds"]
                        cache_build_sec[name][k] = round(
                            v["build_sec"] - b["build_sec"], 3
                        )
        samples[name] = ts
        timings[name] = round(statistics.median(ts), 3)
        # rep-0 wall includes construction + any one-time cached
        # artifact build — the driver-comparable cold number
        cold_wall_sec[name] = ts[0]

    total = round(sum(timings.values()), 3)

    # --- sf1 scaling evidence: flagship queries once at 10x the bench
    # scale (replicated with key offsets by scripts/make_scale.py; the
    # dataset is built once and persists under .benchdata/). A flagship
    # whose ratio is far above the ~10x data ratio has a plan that
    # won't survive the next 10x either — this is the empirical twin of
    # the plan-shape tests. Skipped when benching other sf dirs or with
    # SPARK_GRAFT_SF1=0.
    sf1_timings: dict[str, float] = {}
    sf1_samples: dict[str, list[float]] = {}
    sf1_ann_diag: dict = {}
    sf1_ratio: dict[str, float] = {}
    sf1_fresh_timings: dict[str, float] = {}
    sf1_fresh_samples: dict[str, list[float]] = {}
    sf1_fresh_ratio: dict[str, float] = {}
    minhash_probe: dict[str, dict] = {}
    if sf == 0.1 and os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        sf1_dir = os.environ.get(
            "SPARK_GRAFT_SF1_DIR",
            str(Path(__file__).resolve().parent / ".benchdata" / "sf1"),
        )
        try:
            import importlib.util

            # completion marker, not a table probe: an interrupted build
            # that got as far as lineitem.parquet must NOT pass for done
            done = Path(sf1_dir, "_BUILD_COMPLETE")
            if not done.exists():
                _safe_reset_scratch(sf1_dir)
                ms_path = Path(__file__).resolve().parent / "scripts" / "make_scale.py"
                spec = importlib.util.spec_from_file_location("make_scale", ms_path)
                ms = importlib.util.module_from_spec(spec)
                spec.loader.exec_module(ms)
                ms.build(spark, sf_dir, sf1_dir, reps=10)
                done.touch()
            # every sf1 flagship gets MEDIANS (round-16 VERDICT #2: the
            # single-shot rails committed two contaminated numbers —
            # q18 10.8x vs 1.9x on unchanged code during documented
            # co-tenant bursts; the sf0.1 sweep's median discipline now
            # applies to the rails too, and scripts/merge_bench.py
            # supplies the cross-run min-of-medians half). The
            # ANN/serving/streaming group keeps 5 reps: their first sf1
            # invocation pays a one-time cached index/view build that
            # must not be charged to the recorded steady-state ratio
            # (BENCH_r08's reconciliation; scripts/ann_probe.py).
            sf1_reps = max(
                1, int(os.environ.get("SPARK_GRAFT_SF1_REPS", "3"))
            )
            artifact_backed = {
                "q_ann_ivf",
                "q_ann_ivfpq",
                "q_ann_serve_pq",
                "q_ann_index_stream",
                # one-time cached MVCC-view build on the first sf1 shot
                "q_mvcc_changefeed",
                # one-time cached patch-view segment build
                "q_partial_update_stream",
                # same MVCC-view build as q_mvcc_changefeed
                "q_changefeed_refresh",
                "q_ri_audit_incr",
                # one-time cached sketch-view build
                "q_view_compaction",
            }
            for name in SF1_FLAGSHIPS:
                if name not in queries:
                    continue
                reps1 = max(sf1_reps, 5) if name in artifact_backed else sf1_reps
                ts1 = []
                for _ in range(reps1):
                    t0 = time.perf_counter()
                    queries[name](spark, sf1_dir).count()
                    ts1.append(round(time.perf_counter() - t0, 3))
                sf1_timings[name] = round(statistics.median(ts1), 3)
                sf1_samples[name] = ts1
                base = timings.get(name)
                # explicit None for un-ratioable entries (sub-ms base):
                # silence would be indistinguishable from "didn't run"
                sf1_ratio[name] = (
                    round(sf1_timings[name] / base, 1) if base else None
                )
            # fresh-content 10x docs corpus (round-16 VERDICT #3): the
            # PRIMARY dedup scale rail — replicated sf1 measures clique
            # output volume by construction; this corpus measures the
            # plan on 10x of NEW content (see make_scale.build_fresh_docs)
            fresh_dir = os.environ.get(
                "SPARK_GRAFT_SF1_FRESH_DIR",
                str(
                    Path(__file__).resolve().parent
                    / ".benchdata"
                    / "sf1_fresh"
                ),
            )
            fresh_done = Path(fresh_dir, "_BUILD_COMPLETE")
            if not fresh_done.exists():
                _safe_reset_scratch(fresh_dir)
                ms_path = (
                    Path(__file__).resolve().parent
                    / "scripts"
                    / "make_scale.py"
                )
                spec = importlib.util.spec_from_file_location(
                    "make_scale", ms_path
                )
                ms = importlib.util.module_from_spec(spec)
                spec.loader.exec_module(ms)
                ms.build_fresh_docs(spark, sf_dir, fresh_dir, reps=10)
                fresh_done.touch()
            for name in SF1_FRESH_FLAGSHIPS:
                if name not in queries:
                    continue
                reps1 = max(sf1_reps, 5) if name in artifact_backed else sf1_reps
                ts1 = []
                for _ in range(reps1):
                    t0 = time.perf_counter()
                    queries[name](spark, fresh_dir).count()
                    ts1.append(round(time.perf_counter() - t0, 3))
                sf1_fresh_timings[name] = round(statistics.median(ts1), 3)
                sf1_fresh_samples[name] = ts1
                base = timings.get(name)
                sf1_fresh_ratio[name] = (
                    round(sf1_fresh_timings[name] / base, 1) if base else None
                )
            # data-side invariants for the ANN pair, recorded NEXT to the
            # wall times: candidate volumes are deterministic functions of
            # the sf1 build — if wall doubles while these hold, the cause
            # is host/JVM state, not the plan (round-8 VERDICT item 2)
            ap_path = (
                Path(__file__).resolve().parent / "scripts" / "ann_probe.py"
            )
            ap_spec = importlib.util.spec_from_file_location(
                "ann_probe", ap_path
            )
            ap = importlib.util.module_from_spec(ap_spec)
            ap_spec.loader.exec_module(ap)
            sf1_ann_diag = ap.ivf_diagnostics(spark, sf1_dir)
            # minhash scale evidence (round-6 verdict item 3): measure
            # the CAPPED candidate-pair volume and bucket fill at both
            # scales — on the verbatim-replicated sf1 set the true pair
            # count is quadratic in the replication factor, so the
            # wall-clock ratio must be judged against the measured
            # candidate ratio, not against the 10x data ratio
            from dynamodb_streaming_datalake_spark.operators.dedup import (
                minhash_bucket_stats,
            )
            from dynamodb_streaming_datalake_spark.sources.readers import (
                read_table,
            )

            # minhash occupancy probe reads the fresh corpus built above
            # (the cap derivation's design-point workload)
            minhash_probe = {
                label: minhash_bucket_stats(
                    read_table(spark, d, "documents")
                )
                for label, d in (
                    ("base", sf_dir),
                    ("sf1", sf1_dir),
                    ("sf1_fresh", fresh_dir),
                )
            }
            # recall-at-cap (r14 verdict item 2): on a boilerplate-
            # cluster fixture where the shipped cap ENGAGES, record the
            # LSH pair set at the shipped cap and uncapped against the
            # UNCAPPED exact-Jaccard truth — the recall delta is the
            # measured price of the cap. Synthetic and sf-independent
            # by design: the shipped corpora never fill a bucket past
            # the cap (that is what the occupancy probe above shows),
            # so the engage price must be measured where it engages.
            from dynamodb_streaming_datalake_spark.operators.dedup import (
                MAX_BUCKET_SIZE,
                derive_bucket_cap,
                lsh_skew_fixture,
                recall_at_cap_probe,
            )

            skew_docs = lsh_skew_fixture(spark)
            minhash_probe["lsh_cap"] = {
                "shipped_cap": MAX_BUCKET_SIZE,
                "derived_cap_from_fresh": derive_bucket_cap(
                    minhash_probe["sf1_fresh"]["max_bucket"]
                ),
                "skew_fixture_recall_at_cap": recall_at_cap_probe(
                    skew_docs
                ),
            }
        except Exception as exc:  # never let the scale probe kill the bench
            sf1_timings = {"error": -1.0}
            sf1_ratio = {}  # partial ratios would contradict the marker
            sf1_fresh_timings = {}
            sf1_fresh_ratio = {}
            sf1_fresh_samples = {}
            minhash_probe = {}
            sf1_samples = {}
            sf1_ann_diag = {}
            print(f"sf1 probe failed: {exc}", file=sys.stderr)

    detail_path = Path(__file__).resolve().parent / "bench_detail.json"
    detail_path.write_text(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "compile_sec": compile_sec,
                "construct_sec": construct_sec,
                "cold_wall_sec": cold_wall_sec,
                "cache_builds": cache_builds,
                "cache_build_sec": cache_build_sec,
                "samples": samples,
                "reps": reps,
                "sf": sf,
                "n_queries": len(timings),
                "sf1_flagships": sf1_timings,
                "sf1_ratio": sf1_ratio,
                "sf1_samples": sf1_samples,
                "sf1_fresh_flagships": sf1_fresh_timings,
                "sf1_fresh_ratio": sf1_fresh_ratio,
                "sf1_fresh_samples": sf1_fresh_samples,
                "sf1_ann_diag": sf1_ann_diag,
                "minhash_probe": minhash_probe,
            },
            indent=1,
            sort_keys=True,
        )
    )

    # Headline subset only: keep the printed line well under any stdout
    # capture limit (round 1's full map got tail-truncated -> parsed: null).
    headline = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q9_product_profit",
        "q18_large_volume_customers",
        "q_latest_state_per_key",
        "q_merge_snapshot_cdc",
        "q_dedup_minhash_lsh",
        "q_dedup_apply",
        "q_ann_ivf",
        "q_text_stats",
        "q_corpus_curation",
        "q_dedup_embedding_trained",
        "q_token_budget",
        "q_stateful_latest_state",
        "q_enrich_stream",
        "q_media_wav",
    ]
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": {k: timings[k] for k in headline if k in timings},
                "sf": sf,
                "n_queries": len(timings),
                "sf1_flagships": sf1_timings,
                "sf1_ratio": sf1_ratio,
                "sf1_fresh_ratio": sf1_fresh_ratio,
                "detail": str(detail_path.name),
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
