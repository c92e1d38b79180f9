"""Shared per-dataset artifact caches: one key rule for two tiers, one
set of counters.

The key rule: an artifact is keyed on the stamps of the inputs it was
built from, where a file's stamp is its ``(realpath, st_mtime_ns,
st_size)``. A rewritten input changes its stamp, so the next call
builds again; nothing is bumped by hand.

In process — ``memo(kind, paths, build, session=None)``: every
artifact derived from fixture files (parquet schemas, footer row
counts, scan-plan handles, the pinned trade-graph edges, trained BPE
merges, the unigram DP, PQ codebook rows) is stored under
``(kind, session, stamps of paths)``. Artifacts bound to a
SparkSession (DataFrames, checkpointed frames) pass that session and
are never handed to another one; session-free payloads (schemas,
driver rows, counts) pass ``None`` and serve every session. A hit
costs one ``os.stat`` per input and one dict lookup — no py4j call.
Storing an entry drops the entries of the same kind that are stale —
an input whose stamp has changed since, or is gone — or whose session
has been stopped (``sparkContext._jsc is None``), so an entry does not
outlive its inputs by more than one store of its kind.

On disk — ``ensure_cached_build(family, sf_dir, build_fn)``: builds
materialized under ``$TMPDIR/<family>_cache_<sha16(sf_dir)>_<key>``
and reused by bench, correctness and tests across processes. ``key``
hashes the stamps of every top-level entry of ``sf_dir`` (the
fixtures) and the source stamp — the sha256 of the package's ``.py``
files, computed once per process — so a fixture rewritten in place
and a change to any build code both land in a new dir. The build
lands in a unique temp dir and is atomically renamed into place, so a
crashed build is never mistaken for a complete one and concurrent
builders race safely (the loser's rename fails, the winner's dir is
used). Committing a build sweeps the superseded dirs of the same
family and ``sf_dir``; other ``sf_dir``s' caches survive (bench and
tests alternating between scales do not thrash each other) and other
families are never touched.

Counters: ``STATS[kind]`` holds ``hits``, ``builds`` and ``build_sec``
for every memo kind and every on-disk family. A build's seconds include
any nested memo builds it triggers (the edge build reads its tables
through ``read_table``).
"""

from __future__ import annotations

import functools
import glob
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


def _sha16(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


@functools.cache
def _source_stamp() -> str:
    """sha256 of the package's ``.py`` files in sorted path order."""
    h = hashlib.sha256()
    pkg = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, pkg).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_cached_build(
    family: str, sf_dir: str, build_fn: Callable[[str], None]
) -> str:
    """Return the committed cache dir of ``family`` for the current
    fixtures of ``sf_dir`` and the current package source, building it
    with ``build_fn(build_dir)`` if absent. See the module docstring
    for the key, the commit and the sweep."""
    real = os.path.realpath(sf_dir)
    stamps = [_stamp(os.path.join(real, n)) for n in sorted(os.listdir(real))]
    prefix, sf_key = f"{family}_cache_", _sha16(real)
    name = f"{prefix}{sf_key}_{_sha16(repr((stamps, _source_stamp())))}"
    tmp_root = tempfile.gettempdir()
    final = os.path.join(tmp_root, name)
    if os.path.isdir(final):
        STATS[family]["hits"] += 1
        return final
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
    # superseded: this family's dirs for the same sf_dir under another
    # key (or a pre-stamp ``<family>_cache_v<n>_<sf_key>`` dir)
    for other in os.listdir(tmp_root):
        if other.startswith(prefix) and sf_key in other and other != name:
            shutil.rmtree(os.path.join(tmp_root, other), ignore_errors=True)
    return final
