"""Run isolation, the Spark session, and small statistics helpers.

Every run gets a fresh directory inside the checkout; TMPDIR,
SPARK_LOCAL_DIRS, the JVM's java.io.tmpdir, checkpoints, lakes and
snapshots all live under it, and it is deleted when the run ends. A
cache the program builds under the temp dir is therefore always built
by, and charged to, the run that uses it.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

#: fixed run environment (also spelled out in BENCHMARK.json's command)
CPUS = 2
ENV = {"PYTHONHASHSEED": "0", "SPARK_GRAFT_CPUS": str(CPUS)}

ROOT = Path(__file__).resolve().parent.parent
STATE_DIR = ROOT / ".perfbench"

#: set-ups per run, each in a fresh JVM; setup_s reports their median
SETUPS = 3

#: the host-speed reference: a NumPy sort of this many seeded int64s,
#: timed best of three at every unit boundary
REF_ITEMS = 1_000_000

#: JIT pinned at C1, so most compilation lands in the cold unit instead of
#: drifting through the timed window. C1 alone would shrink the code cache
#: to 48 MB, which this program fills within a minute (every pass adds
#: Janino classes) and then re-compiles in bursts, so the tiered default
#: of 240 MB is kept. Initial heap at 2 GB, so peak RSS does not depend on
#: when G1 grows the heap up to that size. Passed as
#: spark.driver.defaultJavaOptions, which Spark puts before the driver's
#: extraJavaOptions, so any JVM option the program sets wins.
JAVA_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -Xms2g"

#: session settings owned by the benchmark, identical on every workload;
#: the program's own settings (driver memory included) are kept
SPARK_CONF = {
    "spark.ui.enabled": "false",
    # keep every stage of a run in the status store for the traced harvest
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedJobs": "100000",
    "spark.sql.ui.retainedExecutions": "100",
    "spark.sql.streaming.numRecentProgressUpdates": "10",
    "spark.ui.showConsoleProgress": "false",
}


def ensure_env() -> None:
    """Re-exec under the fixed environment if it is not already set
    (PYTHONHASHSEED only takes effect at interpreter start)."""
    if any(os.environ.get(k) != v for k, v in ENV.items()):
        os.execvpe(sys.executable, [sys.executable, *sys.argv], {**os.environ, **ENV})


def make_run_dir(tag: str) -> Path:
    """Fresh per-run temp tree; points TMPDIR and SPARK_LOCAL_DIRS at it."""
    STATE_DIR.mkdir(exist_ok=True)
    run = Path(tempfile.mkdtemp(prefix=f"run-{tag}-", dir=STATE_DIR))
    (run / "tmp").mkdir()
    (run / "local").mkdir()
    os.environ["TMPDIR"] = str(run / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run / "local")
    tempfile.tempdir = None  # re-read TMPDIR
    return run


def start_spark(run: Path):
    """One local[CPUS] session with the benchmark's settings."""
    from dynamodb_streaming_datalake_spark.session import get_spark

    conf = {
        **SPARK_CONF,
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={run / 'tmp'} {JAVA_OPTS}",
    }
    return get_spark(app_name="perfbench", master=f"local[{CPUS}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort at teardown
            proc.kill()
            proc.wait(timeout=30)


def remove_run_dir(run: Path) -> None:
    shutil.rmtree(run, ignore_errors=True)


def jvm_rss_mb(spark) -> float:
    """Peak RSS of the Spark JVM (VmHWM), in MB."""
    from pyspark import SparkContext

    pid = SparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the Spark JVM, the Python workers it forks, and,
    through each parent's reaped-children times, those that have exited.
    A hypervisor's steal and the scheduler's waits are not in it."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listed
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    me = os.getpid()
    total = ticks.get(me, 0)
    for pid in ticks:
        p = parent[pid]
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me and pid != me:
            total += ticks[pid]
    return total / _TICK


class HostSpeed:
    """CPU seconds of a fixed reference task that runs in this process
    and never calls the program, so it reads only how fast the host is
    running right now."""

    def __init__(self) -> None:
        import numpy as np

        self._sort = np.sort
        self._items = np.random.default_rng(0).integers(0, 2**62, REF_ITEMS)
        self.samples: list[float] = []

    def sample(self) -> None:
        best = float("inf")
        for _ in range(3):
            t = time.thread_time()
            self._sort(self._items)
            best = min(best, time.thread_time() - t)
        self.samples.append(best)

    def ref_s(self) -> float:
        return median(self.samples)


def python_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def median(xs: list[float]) -> float:
    return statistics.median(xs)


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked op; a wrong result is a failed op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


class Ctx:
    """What a workload gets: the session, its run directory, the window
    length, and the tracer; ``drive`` runs its units and times them."""

    def __init__(self, spark, run_dir: Path, seconds: float, traced: bool) -> None:
        from spans import JvmCounters, StageLog, Tracer

        self.spark, self.run_dir = spark, run_dir
        self.seconds = seconds
        self._jvm = JvmCounters(spark) if traced else None
        self._stages = StageLog(spark) if traced else None
        self.tracer = Tracer(traced, self._jvm)
        self._marks: dict[str, tuple[dict, int]] = {}
        #: wall and CPU seconds of the cold unit
        self.cold: tuple[float, float] = (0.0, 0.0)
        #: (traced, wall, CPU seconds) of every steady unit, in order
        self.units: list[tuple[bool, float, float]] = []
        self.host = HostSpeed()

    def _mark(self, name: str) -> None:
        if self._jvm:
            self._marks[name] = (self._jvm.sample(), self._stages.mark())

    def drive(self, unit: Callable[[int, bool], None], warmup: int) -> None:
        """Run ``unit(i, steady)``: unit 0 is the cold unit, units 1 to
        ``warmup`` are untimed warm-up, and steady units follow until the
        window closes (at least one). A traced run records spans in the
        cold unit and in every other steady unit, none in warm-up."""
        self.host.sample()
        self._mark("cold")
        self.cold = _timed(unit, 0, False)
        self._mark("warm")
        self.host.sample()
        self.tracer.active = False
        for i in range(1, warmup + 1):
            unit(i, False)
        self._mark("steady")
        started = time.perf_counter()
        i = warmup + 1
        while not self.units or time.perf_counter() - started < self.seconds:
            self.tracer.active = self.tracer.enabled and len(self.units) % 2 == 0
            self.units.append((self.tracer.active, *_timed(unit, i, True)))
            self.host.sample()
            i += 1
        self.tracer.active = False
        self._mark("end")
        # peak memory of the workload itself, before the result checks
        self.rss_mb = jvm_rss_mb(self.spark) + python_rss_mb()

    def untraced_walls(self) -> list[float]:
        """Wall seconds of the steady units that recorded no spans."""
        return [w for a, w, _ in self.units if not a]

    def runtime_layers(self) -> dict[str, float]:
        """Runtime counters of the traced run: JIT, GC and codegen over
        the cold unit and over the steady window, stage metrics per
        steady unit, and the tracing overhead per unit."""
        if not self._jvm:
            return {}
        (c0, _), (c1, _), (c2, s2), (c3, s3) = (
            self._marks[k] for k in ("cold", "warm", "steady", "end"))
        out = {k: c1[k] - c0[k] for k in c0}
        out.update({k.replace(".", ".steady_", 1): c3[k] - c2[k] for k in c0})
        per_unit = self._stages.between(s2, s3)
        for k in per_unit:
            if k != "spark.tasks_per_stage":
                per_unit[k] /= len(self.units)
        out.update(per_unit)
        on = [w for a, w, _ in self.units if a]
        off = self.untraced_walls()
        out["trace.overhead_s"] = median(on) - median(off) if on and off else 0.0
        return out


def _timed(unit: Callable[[int, bool], None], i: int, steady: bool) -> tuple[float, float]:
    """(wall, CPU) seconds of one unit."""
    c0, t0 = tree_cpu_s(), time.perf_counter()
    unit(i, steady)
    t1 = time.perf_counter()
    return t1 - t0, tree_cpu_s() - c0
