"""Benchmark entry point: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 8 --trace 0

Prints, as the last line of stdout, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: every end-to-end metric named
in BENCHMARK.json with ``--trace 0``, every per-layer metric with
``--trace 1``. Exits 1 if any result was wrong, 2 if the run could not
complete (then nothing is printed). See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import common  # noqa: E402

WORKLOADS = ("cdc_ingest", "analytics_mix")


def _module(name: str):
    if name == "cdc_ingest":
        import ingest as mod
    else:
        import analytics as mod
    return mod


def run_once(args) -> tuple[dict, common.Outcome]:
    spec = json.loads((common.ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(common.ROOT))  # the program under test
    mod = _module(args.workload)
    run_dir = common.make_run_dir(args.workload)
    spark = None
    try:
        t = time.perf_counter()
        inputs = mod.prepare(args.seed, run_dir)
        gen_s = time.perf_counter() - t
        # set-up is done SETUPS times, each in a fresh JVM; the once-only
        # part before the first launch (interpreter, imports) is added to
        # the median launch-to-ready time
        launch = []
        for i in range(common.SETUPS):
            if spark is not None:
                common.stop_spark(spark)
                spark = None
            t = time.perf_counter()
            if i == 0:
                once = t - T_START - gen_s
            spark = common.start_spark(run_dir)
            ctx = common.Ctx(spark, run_dir, args.seconds, traced=bool(args.trace))
            state = mod.setup(ctx, inputs)
            launch.append(time.perf_counter() - t)
        setup_s = once + common.median(launch)
        out = mod.run(ctx, inputs, state)
        heap = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20
        ref = ctx.host.ref_s()
        pass_cpu = common.median([c for _, _, c in ctx.units])
        print(f"peak RSS {ctx.rss_mb:.0f} MB, heap committed {heap:.0f} MB; "
              f"reference sort {ref * 1e3:.2f} ms CPU; "
              f"set-ups (s): {once:.3f} + {' '.join(f'{x:.3f}' for x in launch)}; "
              f"cold unit: {ctx.cold[0]:.3f} s wall, {ctx.cold[1]:.2f} s CPU; "
              f"steady units (wall/CPU s): "
              + " ".join(f"{w:.3f}/{c:.2f}" for _, w, c in ctx.units), file=sys.stderr)
        if args.trace:
            layers = {**out.layers, **ctx.runtime_layers(),
                      "wall.cold_s": ctx.cold[0],
                      "wall.pass_s": common.median(ctx.untraced_walls() or [0.0]),
                      "cpu.cold_s": ctx.cold[1],
                      "cpu.pass_s": pass_cpu,
                      "host.ref_s": ref}
            names = spec["per_layer"]
            values = {m["name"]: layers.get(m["name"], 0.0) for m in names}
            common.STATE_DIR.joinpath("spans").mkdir(parents=True, exist_ok=True)
            ctx.tracer.write(str(common.STATE_DIR / "spans" / f"{args.workload}-seed{args.seed}.json"))
        else:
            names = spec["end_to_end"]
            values = {
                "setup_s": setup_s,
                "cold_cpu_ref": ctx.cold[1] / ref,
                "pass_cpu_ref": pass_cpu / ref,
                "peak_rss_mb": ctx.rss_mb,
            }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
        return metrics, out
    finally:
        if spark is not None:
            common.stop_spark(spark)
        common.remove_run_dir(run_dir)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    common.ensure_env()
    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        metrics, out = run_once(args)
    except Exception:  # noqa: BLE001 - the run's boundary: report, no result
        traceback.print_exc()
        return 2
    for e in out.errors:
        print(f"wrong: {e}", file=sys.stderr)
    correct = out.failed == 0
    print(json.dumps({"correct": correct, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
