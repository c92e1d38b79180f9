"""The in-process artifact memo (``cache.memo``): its key, its one
eviction rule, its counters, and the two failure modes it exists to
close — a frame handed to a session that has been stopped, and an
artifact keyed on fewer files than it reads. Then the on-disk tier
(``cache.ensure_cached_build``), keyed by the same rule: a fixture
rewritten in place, or changed package source, gets a new build."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path

from dynamodb_streaming_datalake_spark import cache

REPO = Path(__file__).resolve().parents[1]


class _Session:
    """Stand-in for a SparkSession: memo only reads
    ``sparkContext._jsc`` (None once the session is stopped)."""

    def __init__(self) -> None:
        self.sparkContext = type("Ctx", (), {"_jsc": object()})()


def _entries(kind: str) -> list[tuple]:
    return [k for k in cache._MEMO if k[0] == kind]


def test_memo_key_eviction_and_counters(tmp_path):
    f = tmp_path / "a.bin"
    f.write_bytes(b"x")
    kind = "test_memo_unit"
    stats = cache.STATS[kind]
    calls = []

    def build():
        calls.append(1)
        return object()

    v1 = cache.memo(kind, [str(f)], build)
    assert cache.memo(kind, [str(f)], build) is v1  # hit: same object
    assert (stats["builds"], stats["hits"]) == (1, 1)
    assert stats["build_sec"] >= 0.0
    # a rewrite (new size -> new stamp) rebuilds and evicts the stale stamp
    f.write_bytes(b"xy")
    v2 = cache.memo(kind, [str(f)], build)
    assert v2 is not v1 and len(calls) == 2
    assert len(_entries(kind)) == 1
    # the same file reached through a symlink is the same input
    link = tmp_path / "link.bin"
    link.symlink_to(f)
    assert cache.memo(kind, [str(link)], build) is v2
    # a missing input is a stamp too, not an error
    assert cache.memo(kind, [str(tmp_path / "gone")], build) is not None

    # session-bound: each live session gets its own entry; storing for
    # a new session drops the entry of a stopped one
    s1, s2 = _Session(), _Session()
    a = cache.memo(kind, [str(f)], build, s1)
    b = cache.memo(kind, [str(f)], build, s2)
    assert a is not b and cache.memo(kind, [str(f)], build, s1) is a
    s1.sparkContext._jsc = None  # s1 stopped
    s3 = _Session()
    cache.memo(kind, [str(f)], build, s3)
    live = {k[1] for k in _entries(kind) if k[2][0][0] == os.path.realpath(f)}
    assert live == {None, s2, s3}
    for k in _entries(kind):
        del cache._MEMO[k]


def test_edge_artifact_rebuilds_when_lineitem_rewritten(spark, sf_smoke, tmp_path):
    """The trade-graph edges join orders with lineitem: rewriting only
    lineitem must rebuild them (the edge key used to stamp orders
    alone)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from dynamodb_streaming_datalake_spark.operators.graph import _trade_edges

    d = tmp_path / "sf"
    shutil.copytree(sf_smoke, d)
    os.chmod(d, 0o755)
    stats = cache.STATS["trade_edges"]
    builds = stats["builds"]
    before = _trade_edges(spark, str(d)).count()
    assert _trade_edges(spark, str(d)).count() == before
    assert stats["builds"] == builds + 1

    li_path = d / "lineitem.parquet"
    li = pq.read_table(li_path)
    li = li.filter(pc.equal(pc.bit_wise_and(li["l_orderkey"], 1), 0))
    os.chmod(li_path, 0o644)
    li_path.unlink()
    pq.write_table(li, li_path)

    after = _trade_edges(spark, str(d)).count()
    assert stats["builds"] == builds + 2
    orders = pq.read_table(d / "orders.parquet").to_pandas()
    pairs = orders.merge(
        li.to_pandas(), left_on="o_orderkey", right_on="l_orderkey"
    )[["o_custkey", "l_suppkey"]].drop_duplicates()
    assert after == 2 * len(pairs) < before
    # the stale stamp is evicted: one entry left for this dataset
    orders_path = os.path.realpath(d / "orders.parquet")
    assert len([k for k in _entries("trade_edges") if k[2][0][0] == orders_path]) == 1


_RESTART = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from dynamodb_streaming_datalake_spark import cache
    from dynamodb_streaming_datalake_spark.registry import all_queries
    from dynamodb_streaming_datalake_spark.session import get_spark

    NAMES = {names!r}
    Q = all_queries()

    def run():
        spark = get_spark(app_name="restart", extra_conf={{"spark.ui.enabled": "false"}})
        rows = {{n: sorted(map(repr, Q[n](spark, {sf!r}).collect())) for n in NAMES}}
        return spark, rows

    def builds():
        return {{k: v["builds"] for k, v in cache.STATS.items()}}

    s1, first = run()
    b1 = builds()
    s1.stop()
    s2, second = run()
    b2 = builds()
    s2.stop()
    print(json.dumps({{
        "same": {{n: first[n] == second[n] for n in NAMES}},
        "n_rows": {{n: len(first[n]) for n in NAMES}},
        "rebuilt": {{k: b2.get(k, 0) - b1.get(k, 0) for k in b2}},
        "first": b1,
        "distinct_sessions": s1 is not s2,
    }}))
    """
)

#: every query that reads an in-process cached artifact — the graph
#: family's pinned edges and aux frames, the unigram DP, the BPE merges
RESTART_QUERIES = (
    "q_pagerank",
    "q_label_propagation",
    "q_degree_stats",
    "q_unigram_tokenize",
    "q_kcore",
    "q_shortest_paths",
    "q_hits",
    "q_tokenizer_eval",
    "q_bpe_train",
)


def test_cache_consumers_survive_session_restart(sf_smoke):
    """Run every cache consumer, stop the session, open a new one in
    the same process and run them again: every query must pass with
    the first session's rows, and the session-bound artifacts must
    rebuild exactly once (session-free payloads — the BPE merge rows —
    serve the new session without a rebuild). In a subprocess, so the
    suite's shared session is untouched."""
    script = _RESTART.format(repo=str(REPO), names=RESTART_QUERIES, sf=sf_smoke)
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "2"))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["distinct_sessions"]
    assert all(out["same"].values()), out["same"]
    assert all(n > 0 for n in out["n_rows"].values()), out["n_rows"]
    rebuilt = out["rebuilt"]
    for kind in (
        "trade_edges",
        "edges_w",
        "n_nodes",
        "bfs_dist0",
        "hits_fwd",
        "hits_n_hubs",
        "unigram_dp",
    ):
        assert out["first"][kind] == 1 and rebuilt[kind] == 1, (kind, out)
    # session-free payloads are not rebuilt for the new session
    assert rebuilt["table_schema"] == 0
    assert [rebuilt[k] for k in rebuilt if k.startswith("bpe_merges/")] == [0]


# ---------------------------------------------------------------------------
# the on-disk tier: ensure_cached_build keys on the same stamps plus the
# source stamp (its hit and sweep: tests/test_end_to_end.py)
# ---------------------------------------------------------------------------


def _sf(tmp_path: Path) -> Path:
    """A two-fixture stand-in for an sf dir."""
    d = tmp_path / "sf"
    d.mkdir()
    for t in ("events", "orders"):
        (d / f"{t}.parquet").write_bytes(t.encode())
    return d


def _counting_build(calls: list):
    def build(build_dir: str) -> None:
        calls.append(build_dir)
        Path(build_dir, "part").write_text(str(len(calls)))

    return build


def test_disk_build_rebuilds_when_fixture_rewritten_in_place(tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf, calls = _sf(tmp_path), []
    first = cache.ensure_cached_build("fam", str(sf), _counting_build(calls))
    events = sf / "events.parquet"
    mtime = events.stat().st_mtime_ns
    events.write_bytes(b"rewritten")
    os.utime(events, ns=(mtime + 10**9, mtime + 10**9))
    second = cache.ensure_cached_build("fam", str(sf), _counting_build(calls))
    assert len(calls) == 2 and second != first
    assert not os.path.exists(first)
    assert Path(second, "part").read_text() == "2"


def test_disk_build_rebuilds_when_source_changes(tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf, calls = _sf(tmp_path), []
    first = cache.ensure_cached_build("fam", str(sf), _counting_build(calls))
    monkeypatch.setattr(cache, "_source_stamp", lambda: "changed build code")
    second = cache.ensure_cached_build("fam", str(sf), _counting_build(calls))
    assert len(calls) == 2 and second != first and not os.path.exists(first)


def test_zone_roundtrip_follows_rewritten_events(spark, sf_smoke, tmp_path):
    """q_cdc_zone_roundtrip on a copied sf dir, then again after its
    events.parquet is rewritten in place: the zone is rebuilt from the
    new file, so the query still matches its DuckDB oracle."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from dynamodb_streaming_datalake_spark.registry import all_oracle_sql, all_queries
    from tests.oracle_utils import compare_query

    name = "q_cdc_zone_roundtrip"
    fn, sql = all_queries()[name], all_oracle_sql()[name]
    d = tmp_path / "sf"
    shutil.copytree(sf_smoke, d)
    os.chmod(d, 0o755)
    stats = cache.STATS["cdc_zone"]
    compare_query(spark, str(d), name, fn, sql)
    builds, before = stats["builds"], fn(spark, str(d)).count()

    ev_path = d / "events.parquet"
    ev = pq.read_table(ev_path)
    ev = ev.filter(pc.not_equal(pc.bit_wise_and(ev["event_id"], 1), 0))
    os.chmod(ev_path, 0o644)
    ev_path.unlink()
    pq.write_table(ev, ev_path)

    compare_query(spark, str(d), name, fn, sql)
    assert stats["builds"] == builds + 1
    assert fn(spark, str(d)).count() != before
