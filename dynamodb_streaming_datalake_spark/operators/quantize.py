"""The DataFrame engine's nearest-centroid kernel: every IVF, PQ and
k-means consumer inits with :func:`first_k`, assigns with
:func:`nearest` and updates with :func:`centroid_means`. Scores are the
fixed-shape HOF folds (bit-identical to the DuckDB oracles' list
folds) and means are exact decimal sums, which are independent of row
order, so both engines derive the same doubles from the same data.

Ties go to the smaller cid. A cosine against a zero-norm vector or
centroid divides by zero: NULL in Spark SQL (the session runs with ANSI
off) as in DuckDB, and a NULL score ranks after every other score — in
the descending window (NULLS LAST) and under ``max`` of the struct (a
NULL first field is the smallest). The struct and window forms make the
same picks (``tests/test_quantize.py`` pins both against a Python sort).

The dedup near-dup path keeps its Arrow GEMM engine
(``dedup.gemm_nearest``) and shares :func:`first_k` and
:func:`centroid_means` with this one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dynamodb_streaming_datalake_spark.functions.texthash import (
    cosine_hoisted,
    sq_sum,
)


def l2sq(a, b) -> F.Column:
    """Squared L2 distance as the fixed sequential fold — the same
    bit-identical-to-DuckDB evaluation shape as ``texthash.cosine``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def first_k(
    e: DataFrame, k: int, vec: str = "embedding", key: str | None = None
) -> DataFrame:
    """([key,] cid, ce): the first-k init — rows ``vec_id < k`` become
    centroids ``cid = vec_id`` with vector ``ce = vec``; ``key`` (PQ's
    subspace ``s``) gives one codebook per key value."""
    return e.where(F.col("vec_id") < k).select(
        *([key] if key else []),
        F.col("vec_id").alias("cid"),
        F.col(vec).alias("ce"),
    )


def nearest(
    vecs: DataFrame,
    cents: DataFrame,
    score: str,
    n: int = 1,
    key: str | None = None,
    carry: tuple[str, ...] = (),
    vec: str = "embedding",
) -> DataFrame:
    """(vec_id, [key,] cid, score, *carry[, r]): each vector's ``n``
    nearest centroids of ``cents`` ([key,] cid, ce, …), scored against
    the broadcast centroid table. n = 1 is the partially aggregating
    ``max``/``min(struct(score, ±cid, *carry))``: the K-way fan-out
    collapses map-side, so the shuffle carries one row per vector.
    n > 1 is one ``row_number`` window ordered by (score, cid) and adds
    the 1-based rank ``r``.

    ``score`` is ``"cosine"`` (largest first; both norm sums hoisted to
    one fold per row — ``cosine_hoisted``'s doubles equal ``cosine``'s)
    or ``"l2sq"`` (smallest first). ``key`` restricts the pairs to equal
    keys (PQ scores subvector ``s`` only against codebook ``s``);
    without it the broadcast centroid table is crossed with every
    vector. ``carry`` names columns of either side to keep: under n = 1
    they ride the struct BEHIND the cid tie-break, which is unique per
    group, so they never decide the pick. Partitioning is the caller's
    (``fan_out``)."""
    keys = [key] if key else []
    if score == "cosine":
        vecs = vecs.select("*", sq_sum(F.col(vec)).alias("_vn"))
        cents = cents.select("*", sq_sum(F.col("ce")).alias("_cn"))
        s = cosine_hoisted(F.col(vec), F.col("ce"), F.col("_vn"), F.col("_cn"))
        desc = True
    else:
        s = l2sq(F.col(vec).cast("array<double>"), F.col("ce"))
        desc = False
    bc = F.broadcast(cents)
    joined = vecs.join(bc, keys) if keys else vecs.join(bc)
    scored = joined.select("vec_id", *keys, "cid", s.alias("score"), *carry)
    if n > 1:
        w = Window.partitionBy("vec_id", *keys).orderBy(
            F.col("score").desc() if desc else F.col("score").asc(), F.col("cid")
        )
        return scored.withColumn("r", F.row_number().over(w)).where(
            F.col("r") <= n
        )
    tie = -F.col("cid") if desc else F.col("cid")
    pick = F.max if desc else F.min
    best = F.struct("score", tie.alias("tie"), *carry)
    return (
        scored.groupBy("vec_id", *keys)
        .agg(pick(best).alias("b"))
        .select(
            "vec_id",
            *keys,
            (-F.col("b.tie") if desc else F.col("b.tie")).alias("cid"),
            F.col("b.score").alias("score"),
            *[F.col(f"b.{c}").alias(c) for c in carry],
        )
    )


def centroid_means(
    members: DataFrame, keys: tuple[str, ...], vec: str, dim: int
) -> DataFrame:
    """(*keys, ce): the Lloyd update — each group's per-dimension mean
    of ``vec`` as an exact ``decimal(38,6)`` sum over the member count,
    all ``dim`` sums in ONE map-side-combining hash aggregate (no
    explode: dimension access is a row-local projection)."""
    dims = [
        (
            F.sum(F.col(vec)[d].cast("double").cast("decimal(38,6)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias(f"d{d}")
        for d in range(dim)
    ]
    return (
        members.groupBy(*keys)
        .agg(*dims)
        .select(*keys, F.array(*[F.col(f"d{d}") for d in range(dim)]).alias("ce"))
    )
