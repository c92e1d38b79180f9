"""The nearest-centroid kernels on planted ties and zero-norm vectors.

No fixture holds a zero-norm embedding or an exact score tie, so the
oracle gate never sees these cases; here both engines' picks are pinned
against a pure-Python sort on a tiny frame: ``quantize.nearest`` in its
struct (n = 1) and window (n = 2) forms, and ``dedup.gemm_nearest`` at
k = 1 and 2. A zero-norm cosine is 0/0: NULL in Spark SQL (as in
DuckDB), NaN in numpy; both engines rank it after every score.
"""

from __future__ import annotations

import math

import pytest

from dynamodb_streaming_datalake_spark.operators.dedup import gemm_nearest
from dynamodb_streaming_datalake_spark.operators.quantize import first_k, nearest

#: the first 2 or 3 vec_ids are the first-k centroids (vec_id 2 is the
#: zero-norm one); 3 ties c0/c1 exactly under both scores, 4 is a
#: zero-norm vector, 6 ties c0/c1 on the negative side
VECS = [
    [1.0, 0.0, 0.0],
    [0.0, 1.0, 0.0],
    [0.0, 0.0, 0.0],
    [1.0, 1.0, 0.0],
    [0.0, 0.0, 0.0],
    [2.0, 0.0, 0.0],
    [-1.0, -1.0, 0.0],
    [0.5, 0.25, 3.0],
]


def _fold(xs):
    acc = 0.0
    for x in xs:
        acc += x
    return acc


def _score(kind, v, c):
    """The HOF folds' doubles: sequential left folds, as Spark runs them;
    None where Spark SQL's division by zero gives NULL."""
    if kind == "l2sq":
        return _fold((x - y) * (x - y) for x, y in zip(v, c))
    na, nc = _fold(x * x for x in v), _fold(x * x for x in c)
    den = math.sqrt(na) * math.sqrt(nc)
    dot = _fold(x * y for x, y in zip(v, c))
    return dot / den if den else None


def _reference(kind, n, K):
    """{vec_id: [cid, ...]}: best score first (largest cosine, smallest
    l2sq), NULL after every score, ties to the smaller cid."""
    sign = -1.0 if kind == "cosine" else 1.0
    out = {}
    for i, v in enumerate(VECS):
        scored = [(_score(kind, v, VECS[c]), c) for c in range(K)]
        scored.sort(key=lambda t: (t[0] is None, sign * (t[0] or 0.0), t[1]))
        out[i] = [c for _, c in scored[:n]]
    return out


@pytest.fixture(scope="module")
def planted(spark):
    return spark.createDataFrame(
        list(enumerate(VECS)), "vec_id long, embedding array<float>"
    )


@pytest.mark.parametrize("K", [2, 3])
@pytest.mark.parametrize("kind", ["cosine", "l2sq"])
@pytest.mark.parametrize("n", [1, 2])
def test_nearest_struct_and_window_forms_sort_by_score_then_cid(
    planted, kind, n, K
):
    cents = first_k(planted, K)
    if kind == "l2sq":
        cents = cents.selectExpr("cid", "CAST(ce AS array<double>) AS ce")
    rows = nearest(planted, cents, kind, n=n).collect()
    got: dict = {}
    for r in sorted(rows, key=lambda r: (r["vec_id"], r["r"] if n > 1 else 1)):
        got.setdefault(r["vec_id"], []).append(r["cid"])
    assert got == _reference(kind, n, K)
    # the planted cases decide: the exact tie goes to the smaller cid,
    # and the zero-norm centroid's NULL cosine ranks after every score
    # (the zero-norm vector, NULL everywhere, ties to cid 0)
    assert got[3][0] == 0
    if kind == "cosine":
        assert got[4][0] == 0 and got[6] == [0, 1][:n]


@pytest.mark.parametrize("K", [2, 3])
@pytest.mark.parametrize("k", [1, 2])
def test_gemm_nearest_argmax_and_argsort_picks(planted, k, K):
    cents = [(c, VECS[c]) for c in range(K)]
    rows = gemm_nearest(planted, "embedding", cents, k, ("vec_id",)).collect()
    got: dict = {}
    for r in sorted(rows, key=lambda r: (r["vec_id"], r["r"])):
        got.setdefault(r["vec_id"], []).append(r["cid"])
    # the struct and window forms' picks: NaN (the DataFrame kernel's
    # NULL) ranks after every score, ties go to the smaller cid
    assert got == _reference("cosine", k, K)
    assert got[3][0] == 0 and got[5][0] == 0
