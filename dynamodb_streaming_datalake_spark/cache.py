"""Shared per-dataset artifact caches: one in-process memo, one on-disk
build directory, one set of counters.

In process — ``memo(kind, paths, build, session=None)``: every
artifact derived from fixture files (parquet schemas, footer row
counts, scan-plan handles, the pinned trade-graph edges, trained BPE
merges, the unigram DP, PQ codebook rows) is stored under
``(kind, session, stamps)`` where each input file contributes its
``(realpath, st_mtime_ns, st_size)``. A rewritten input changes its
stamp, so the next call rebuilds. Artifacts bound to a SparkSession
(DataFrames, checkpointed frames) pass that session and are never
handed to another one; session-free payloads (schemas, driver rows,
counts) pass ``None`` and serve every session. A hit costs one
``os.stat`` per input and one dict lookup — no py4j call.

One eviction rule: storing an entry drops the entries of the same kind
that are stale — an input whose stamp has changed since, or is gone —
or whose session has been stopped (``sparkContext._jsc is None``). So
the memo holds at most one stamp per (kind, paths) and live session,
and an entry does not outlive its inputs by more than one store of its
kind (a vacuumed snapshot version's schema goes at the next commit).

On disk — ``ensure_cached_build``: builds that are materialized under
``$TMPDIR/<family>_cache_<version>_<sha16(sf_dir)>`` and reused by
bench, correctness, and tests. Its discipline:

* the build lands in a unique temp dir and is atomically renamed into
  place, so a crashed build can never be mistaken for a complete one
  and concurrent builders race safely (loser's rename fails, winner's
  dir is used);
* only caches from OLDER versions of the SAME family are swept — the
  version is encoded in the dir name, so same-version caches for other
  sf_dirs survive (bench/tests alternating between scales don't thrash
  each other), and other families are never touched.

Counters: ``STATS[kind]`` holds ``hits``, ``builds`` and ``build_sec``
for every memo kind and every on-disk family. A build's seconds include
any nested memo builds it triggers (the edge build reads its tables
through ``read_table``).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time
from collections import defaultdict
from collections.abc import Callable, Sequence
from typing import Any

STATS: defaultdict[str, dict[str, float]] = defaultdict(
    lambda: {"hits": 0, "builds": 0, "build_sec": 0.0}
)

_MEMO: dict[tuple, Any] = {}


def _stamp(path: str) -> tuple[str, int, int]:
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
    except OSError:
        return (real, -1, -1)
    return (real, st.st_mtime_ns, st.st_size)


def _timed_build(kind: str, build: Callable[[], Any]) -> Any:
    t0 = time.perf_counter()
    value = build()
    s = STATS[kind]
    s["builds"] += 1
    s["build_sec"] += time.perf_counter() - t0
    return value


def memo(
    kind: str,
    paths: Sequence[str],
    build: Callable[[], Any],
    session: Any = None,
) -> Any:
    """Return the ``kind`` artifact for the current stamps of ``paths``
    (and ``session``, when the artifact is bound to one), calling
    ``build()`` on a miss. See the module docstring for the key and
    the eviction rule."""
    stamps = tuple(_stamp(p) for p in paths)
    key = (kind, session, stamps)
    try:
        value = _MEMO[key]
    except KeyError:
        pass
    else:
        STATS[kind]["hits"] += 1
        return value
    value = _timed_build(kind, build)
    for k in [k for k in _MEMO if k[0] == kind]:
        _, k_session, k_stamps = k
        stopped = k_session is not None and k_session.sparkContext._jsc is None
        if stopped or any(_stamp(s[0]) != s for s in k_stamps):
            del _MEMO[k]
    _MEMO[key] = value
    return value


def cache_path(family: str, version: str, sf_dir: str) -> str:
    key = hashlib.sha256(os.path.realpath(sf_dir).encode()).hexdigest()[:16]
    return os.path.join(
        tempfile.gettempdir(), f"{family}_cache_{version}_{key}"
    )


def ensure_cached_build(
    family: str,
    version: str,
    sf_dir: str,
    build_fn: Callable[[str], None],
    extra_stale_prefixes: Sequence[str] = (),
) -> str:
    """Return the committed cache dir for (family, version, sf_dir),
    building it with ``build_fn(build_dir)`` if absent. See module
    docstring for the commit/sweep discipline. ``extra_stale_prefixes``
    names legacy layouts to sweep alongside older versions.

    The key is only (family, version, sf_dir): nothing notices that the
    code which built a cached dir has changed. Bump a family's version
    whenever its build code path changes (the build function or any
    kernel it calls), or every reader keeps serving — and every oracle
    check keeps re-proving — what the old code wrote."""
    final = cache_path(family, version, sf_dir)
    if os.path.isdir(final):
        STATS[family]["hits"] += 1
        return final
    tmp_root = tempfile.gettempdir()
    keep = f"{family}_cache_{version}_"
    for name in os.listdir(tmp_root):
        stale = any(name.startswith(p) for p in extra_stale_prefixes) or (
            name.startswith(f"{family}_cache_") and not name.startswith(keep)
        )
        if stale:
            shutil.rmtree(os.path.join(tmp_root, name), ignore_errors=True)
    build = tempfile.mkdtemp(prefix=f"{family}_build_", dir=tmp_root)
    try:
        _timed_build(family, lambda: build_fn(build))
        try:
            os.rename(build, final)
        except OSError:
            # concurrent builder won the rename; use its dir
            shutil.rmtree(build, ignore_errors=True)
    except BaseException:
        shutil.rmtree(build, ignore_errors=True)
        raise
    return final
