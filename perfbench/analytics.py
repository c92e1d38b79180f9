"""analytics_mix: a fixed mix of registered queries over a seeded dataset.

Each pass runs every query once, in a seed-permuted order, and counts
its result. The first pass runs in a fresh JVM with an empty TMPDIR, so
it pays codegen, JIT and every cache build; the steady passes after it
are served from those caches. Each result is checked against the
query's DuckDB oracle, computed once outside every timed interval.
"""

from __future__ import annotations

import math
import os
import random
import tempfile
import time

import sfgen
from common import Outcome, median

SF = 0.01

#: the mix, in the families its per-layer metrics are named after
FAMILIES = {
    "cache": ("q_cdc_zone_roundtrip", "q_unigram_tokenize"),
    "shuffle": (
        "q1_pricing_summary",
        "q9_product_profit",
        "q18_large_volume_customers",
        "q_text_stats",
        "q_grouped_regression",
    ),
}
FAMILY = {q: f for f, qs in FAMILIES.items() for q in qs}
#: untimed passes between the cold pass and the window: the first fetches
#: every full result instead of counting it, for the oracle check; the
#: second warms the counting plans, whose first steady run is still slower
WARMUP = 2


def prepare(seed: int, run_dir):
    sf_dir = str(run_dir / "sf")
    sfgen.write(sf_dir, seed, SF)
    order = sorted(FAMILY)
    random.Random(seed).shuffle(order)
    return sf_dir, order


def _oracle(sf_dir: str, names) -> dict[str, list[tuple]]:
    """Each query's DuckDB oracle result, canonicalized."""
    import duckdb

    from dynamodb_streaming_datalake_spark.registry import all_oracle_sql

    sql = all_oracle_sql()
    con = duckdb.connect()
    try:
        for t in sfgen.TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {n: canon(con.execute(sql[n]).df()) for n in names}
    finally:
        con.close()


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canon(pdf) -> list[tuple]:
    """Order-insensitive, column-order-insensitive rows with exact cells."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    return [tuple(cols)] + sorted(rows, key=lambda r: tuple("" if v is None else v for v in r))


def setup(ctx, inputs):
    from dynamodb_streaming_datalake_spark.registry import all_queries

    return all_queries()


def _cache_dirs() -> set[str]:
    return {n for n in os.listdir(tempfile.gettempdir()) if "_cache_" in n}


def run(ctx, inputs, queries) -> Outcome:
    sf_dir, order = inputs
    spark, tracer = ctx.spark, ctx.tracer
    out = Outcome()
    lat: dict[str, list[float]] = {q: [] for q in order}  # untraced steady walls
    cold: dict[str, float] = {}
    built: dict[str, int] = {}
    layer: dict[str, list[float]] = {}
    counts: list[tuple[int, str, int]] = []
    full: dict[str, object] = {}

    def one_pass(p: int, steady: bool) -> None:
        for name in order:
            before = _cache_dirs() if p == 0 else None
            fam = FAMILY[name]
            if p == 1:
                try:
                    full[name] = canon(queries[name](spark, sf_dir).toPandas())
                except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                    full[name] = f"{type(e).__name__}: {e}"
                continue
            try:
                with tracer.span(name, f"{p}.{name}", family=fam):
                    t0 = time.perf_counter()
                    with tracer.span("registry.construct"):
                        df = queries[name](spark, sf_dir).groupBy().count()
                    t1 = time.perf_counter()
                    with tracer.span("registry.compile"):
                        df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    with tracer.span("registry.execute"):
                        n = df.collect()[0][0]
                    t3 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                out.check(False, f"pass {p} {name} raised {type(e).__name__}: {e}")
                continue
            counts.append((p, name, n))
            if p == 0:
                cold[name] = t3 - t0
                built[name] = len(_cache_dirs() - before)
            elif steady and tracer.active:
                for part, s in (("construct", t1 - t0), ("compile", t2 - t1),
                                ("execute", t3 - t2)):
                    layer.setdefault(f"registry.{fam}.{part}_s", []).append(s)
            elif steady:
                lat[name].append(t3 - t0)

    ctx.drive(one_pass, WARMUP)

    # every count and every full result against the oracle, outside timing
    want = _oracle(sf_dir, order)
    for p_no, name, n in counts:
        oracle_rows = len(want[name]) - 1
        out.check(n == oracle_rows, f"pass {p_no} {name}: {n} rows, oracle {oracle_rows}")
    for name in order:
        out.check(full.get(name) == want[name], f"{name}: result differs from its DuckDB oracle")

    steady = {q: median(v) for q, v in lat.items() if v}
    every = [s for v in lat.values() for s in v]
    out.layers = {k: median(v) for k, v in layer.items()}
    out.layers["wall.op_p50_s"] = median(every) if every else 0.0
    # on-disk builds are counted; the unigram cache lives in the process,
    # so build time is read as cold minus steady wall of the cache family
    out.layers["cache.builds"] = float(sum(built.values()))
    out.layers["cache.build_s"] = sum(
        cold[q] - steady[q] for q in FAMILIES["cache"] if q in cold and q in steady)
    return out
