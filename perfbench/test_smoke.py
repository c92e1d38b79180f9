"""Smoke test of the benchmark with a zero-second window (one steady unit).

    python3 -m pytest perfbench/test_smoke.py -q

The generator and oracle checks are pure Python; the run checks start
one Spark JVM per run (a few minutes in all).
"""

from __future__ import annotations

import itertools
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import cdcgen  # noqa: E402


def test_generator_is_seeded():
    a = list(itertools.islice(cdcgen.generate(7, 200, 1000), 3))
    b = list(itertools.islice(cdcgen.generate(7, 200, 1000), 3))
    c = list(itertools.islice(cdcgen.generate(8, 200, 1000), 3))
    assert [e.line for w in a for e in w] == [e.line for w in b for e in w]
    assert [e.line for w in a for e in w] != [e.line for w in c for e in w]


def test_generator_mix_and_lateness():
    waves = list(itertools.islice(cdcgen.generate(3, 2000, 40_000), 5))
    events = [e for w in waves for e in w]
    names = {e.name for e in events}
    assert {"INSERT", "MODIFY", "REMOVE", "TTL_DELETE"} <= names
    # some events arrive in a later wave than their event time puts them
    first_ts_of_next = [min(e.ts_ms for e in w) for w in waves[1:]]
    assert any(first < max(e.ts_ms for e in prev)
               for first, prev in zip(first_ts_of_next, waves))


def test_fold_ignores_arrival_order():
    waves = list(itertools.islice(cdcgen.generate(5, 500, 300), 4))
    in_order, reversed_ = cdcgen.Fold(), cdcgen.Fold()
    for w in waves:
        in_order.add(w)
    for w in reversed(waves):
        reversed_.add(list(reversed(w)))
    assert in_order.live() == reversed_.live()
    assert in_order.stored() >= len(in_order.live())


@pytest.mark.parametrize("workload", ["cdc_ingest", "analytics_mix"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    """Only BENCHMARK.json and the benchmark's own files: no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
