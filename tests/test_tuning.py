"""Invariant tests for the round-9 tuning harnesses — properties the
hash gate can't articulate (monotonicity, self-checks, conservation),
on top of each query's oracle parity row."""

from __future__ import annotations

from dynamodb_streaming_datalake_spark.registry import all_queries


def test_ann_tuning_curve_is_monotone(spark, sf_smoke):
    """More probed lists can only widen the candidate set, so the
    candidate volume is strictly increasing and recall non-decreasing
    in nprobe — the shape that makes the curve a tuning instrument."""
    rows = sorted(
        all_queries()["q_ann_tuning"](spark, sf_smoke).collect(),
        key=lambda r: r["nprobe"],
    )
    for a, b in zip(rows, rows[1:]):
        assert b["n_candidates"] > a["n_candidates"]
        assert b["mean_recall_at_k"] >= a["mean_recall_at_k"]


def test_matryoshka_full_dim_is_self_check(spark, sf_smoke):
    """Searching with all 64 dims IS the truth — recall and MRR must
    both be exactly 1.0 on that row."""
    rows = {
        r["dims"]: r
        for r in all_queries()["q_matryoshka_eval"](spark, sf_smoke).collect()
    }
    assert rows[64]["mean_recall_at_k"] == 1.0
    assert rows[64]["mrr"] == 1.0


def test_dedup_threshold_sweep_is_monotone(spark, sf_smoke):
    """Raising the Jaccard threshold can only drop pairs and the
    documents they touch."""
    rows = sorted(
        all_queries()["q_dedup_threshold_sweep"](spark, sf_smoke).collect(),
        key=lambda r: r["threshold"],
    )
    for a, b in zip(rows, rows[1:]):
        assert b["n_pairs"] <= a["n_pairs"]
        assert b["n_dup_docs"] <= a["n_dup_docs"]


def test_kll_binning_fracs_partition_the_corpus(spark, sf_smoke):
    """Bins partition events exactly: counts sum to the corpus and the
    fractions to ~1 (rounding only); equal-frequency edges keep every
    bin within the sketch's rank tolerance of 25%."""
    rows = all_queries()["q_kll_binning"](spark, sf_smoke).collect()
    assert len(rows) == 4
    assert abs(sum(r["frac"] for r in rows) - 1.0) < 1e-5
    for r in rows:
        assert r["dev_from_ideal"] <= 0.05, (r["bin"], r["dev_from_ideal"])


def test_group_split_has_no_leakage(spark, sf_smoke):
    """The in-row audit column is structurally zero on every row, and
    the two splits cover the whole corpus."""
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    rows = all_queries()["q_group_split"](spark, sf_smoke).collect()
    assert all(r["leaked_sources"] == 0 for r in rows)
    n_docs = read_table(spark, sf_smoke, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs


def test_mmr_is_more_diverse_than_pure_relevance(spark, sf_smoke):
    """The operator's reason to exist: for each query, the average
    pairwise cosine among MMR's selection must not exceed the average
    pairwise cosine among the pure-relevance top-K — and rank 1 must
    be the relevance argmax (MMR never sacrifices the first pick)."""
    import itertools

    import numpy as np

    from dynamodb_streaming_datalake_spark.operators.similarity import (
        MMR_K,
        MMR_QUERIES,
        q_mmr_diverse,
    )
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=float)
        for r in read_table(spark, sf_smoke, "embeddings").collect()
    }

    def cos(a, b):
        return float(emb[a] @ emb[b] / (np.linalg.norm(emb[a]) * np.linalg.norm(emb[b])))

    def avg_pair(ids):
        return float(
            np.mean([cos(a, b) for a, b in itertools.combinations(ids, 2)])
        )

    rows = q_mmr_diverse(spark, sf_smoke).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == MMR_QUERIES
    for qid, sel in by_q.items():
        assert [r["rank"] for r in sorted(sel, key=lambda r: r["rank"])] == list(
            range(1, MMR_K + 1)
        )
        qv = emb[qid]
        rel_top = sorted(
            (v for v in emb if v != qid),
            key=lambda v: (
                -float(qv @ emb[v] / (np.linalg.norm(qv) * np.linalg.norm(emb[v]))),
                v,
            ),
        )[:MMR_K]
        mmr_ids = [r["neighbor_id"] for r in sel]
        assert sorted(sel, key=lambda r: r["rank"])[0]["neighbor_id"] == rel_top[0]
        assert avg_pair(mmr_ids) <= avg_pair(rel_top) + 1e-9


def test_embedding_covariance_matches_numpy(spark, sf_smoke):
    """The reported covariances must match numpy's sample covariance
    on the same matrix to 6 dp, and the listing must rank by |cov|."""
    import numpy as np

    from dynamodb_streaming_datalake_spark.operators.similarity import (
        q_embedding_covariance,
    )
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    mat = np.array(
        [
            r["embedding"]
            for r in read_table(spark, sf_smoke, "embeddings")
            .orderBy("vec_id")
            .collect()
        ],
        dtype=np.float64,
    )
    full = np.cov(mat, rowvar=False, ddof=1)
    rows = q_embedding_covariance(spark, sf_smoke).collect()
    assert rows
    covs = [abs(r["cov"]) for r in rows]
    assert covs == sorted(covs, reverse=True)
    for r in rows:
        assert abs(r["cov"] - full[r["dim_a"], r["dim_b"]]) < 5e-6
        assert r["n"] == mat.shape[0]


def test_embedding_gram_kernel_is_result_invisible(spark, sf_smoke):
    """The shipped mapInPandas Gram kernel must be BIT-equal — every
    (n, s1, s2, s12) power sum, not just the rounded covariances — to
    the declarative pair-join twin (the oracle's shape), across a
    repartition so multi-partition merge is exercised."""
    from dynamodb_streaming_datalake_spark.operators.similarity import (
        _gram_sums_kernel,
        _gram_sums_pairjoin,
    )
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    e = read_table(spark, sf_smoke, "embeddings")

    def snap(df):
        return {
            (r["dim_a"], r["dim_b"]): (r["n"], r["s1"], r["s2"], r["s12"])
            for r in df.collect()
        }

    want = snap(_gram_sums_pairjoin(e))
    assert len(want) == 64 * 65 // 2
    assert snap(_gram_sums_kernel(e)) == want
    # partition-count invariance: the per-partition partials merge to
    # the same exact sums regardless of layout
    assert snap(_gram_sums_kernel(e.repartition(7))) == want
    # the diagonal-only pass (the Mahalanobis screen's input) emits
    # exactly the full pass's dim_a == dim_b rows
    diag = {k: v for k, v in want.items() if k[0] == k[1]}
    assert len(diag) == 64
    assert snap(_gram_sums_kernel(e, diag_only=True)) == diag


def test_pca_power_recovers_planted_component(spark):
    """Convergence semantics proven where they are well-posed: on data
    with a PLANTED dominant direction (big eigengap) the fixed-point
    power iteration must land on numpy\'s leading eigenpair — lambda
    within 1%, loadings parallel (|cos| > 0.999), explained ratio
    consistent. (On the near-isotropic corpus embeddings the operator
    is still deterministic and oracle-gated, but "the" top component
    is ill-posed there, so the accuracy pin lives on spiked data.)"""
    import numpy as np

    from dynamodb_streaming_datalake_spark.operators.similarity import (
        pca_power,
    )

    rng = np.random.RandomState(7)
    u = rng.randn(64)
    u /= np.linalg.norm(u)
    mat = rng.randn(400, 64) * 0.2 + np.outer(rng.randn(400) * 2.0, u)
    e = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )
    # the kernel quantizes float32 components like the real table
    cov = np.cov(
        np.array(mat, dtype=np.float32), rowvar=False, ddof=1
    )
    evals, evecs = np.linalg.eigh(cov)
    lam_true, vec_true = evals[-1], evecs[:, -1]

    rows = sorted(pca_power(e).collect(), key=lambda r: r["dim"])
    assert len(rows) == 64
    lam = rows[0]["lambda1"]
    assert abs(lam - lam_true) / lam_true < 0.01
    v = np.array([r["loading"] for r in rows])
    cos = abs(v @ vec_true) / (np.linalg.norm(v) * np.linalg.norm(vec_true))
    assert cos > 0.999
    assert abs(
        rows[0]["explained_ratio"] - lam / rows[0]["total_var"]
    ) < 1e-4


def test_pca_power_corpus_invariants(spark, sf_smoke):
    """On the real embeddings: lambda1 bounded by [mean eig, max eig]
    (Rayleigh quotient property), trace matches numpy, ratio in-row
    consistent."""
    import numpy as np

    from dynamodb_streaming_datalake_spark.registry import all_queries
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    mat = np.array(
        [
            r["embedding"]
            for r in read_table(spark, sf_smoke, "embeddings").collect()
        ],
        dtype=np.float64,
    )
    cov = np.cov(mat, rowvar=False, ddof=1)
    evals = np.linalg.eigvalsh(cov)
    rows = all_queries()["q_pca_power"](spark, sf_smoke).collect()
    lam = rows[0]["lambda1"]
    assert evals.mean() <= lam <= evals[-1] * 1.001
    assert abs(rows[0]["total_var"] - np.trace(cov)) < 0.05 * np.trace(cov)
