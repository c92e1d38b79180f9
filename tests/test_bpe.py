"""Distributed BPE: oracle parity, merge semantics, and the
greedy-fold edge cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from dynamodb_streaming_datalake_spark.operators.bpe import (
    BPE_MERGES,
    _apply_merge,
    bpe_train,
    q_bpe_tokenize,
    q_bpe_train,
)
from dynamodb_streaming_datalake_spark.registry import ORACLE
from tests.oracle_utils import compare_query


def test_q_bpe_train_oracle_parity(spark, sf_smoke):
    compare_query(
        spark, sf_smoke, "q_bpe_train", q_bpe_train, ORACLE["q_bpe_train"]
    )


def test_q_bpe_tokenize_oracle_parity(spark, sf_smoke):
    compare_query(
        spark, sf_smoke, "q_bpe_tokenize", q_bpe_tokenize,
        ORACLE["q_bpe_tokenize"],
    )


def test_apply_merge_fold_semantics(spark):
    """Greedy left-to-right, non-overlapping: 'aaa' under (a,a) is
    [aa, a]; merged output can seed a LATER merge round but never
    re-matches in the same pass; singletons pass through."""
    df = spark.createDataFrame(
        [(["a", "a", "a"],), (["a", "a", "a", "a"],), (["b"],), ([],)],
        "toks array<string>",
    )
    out = df.select(
        _apply_merge(F.col("toks"), F.lit("a"), F.lit("a")).alias("m")
    ).collect()
    assert [r["m"] for r in out] == [
        ["aa", "a"], ["aa", "aa"], ["b"], []
    ]


def test_bpe_merges_are_ordered_and_consistent(spark, sf_smoke):
    """Merge ranks 0..K-1; pair counts non-increasing is NOT required
    (later merges can create new frequent pairs), but each count is
    positive and tokens non-empty; tokenize compresses: bpe tokens <=
    char tokens with equality only for docs untouched by any merge."""
    merges, vocab = bpe_train(spark, sf_smoke)
    rows = merges.orderBy("merge_rank").collect()
    assert [r["merge_rank"] for r in rows] == list(range(BPE_MERGES))
    for r in rows:
        assert r["pair_count"] > 0
        assert r["merged"] == r["left_tok"] + r["right_tok"]

    tok = q_bpe_tokenize(spark, sf_smoke).collect()
    assert len(tok) > 0
    for r in tok:
        assert r["n_bpe_tokens"] <= r["n_char_tokens"]
        assert r["compression"] >= 1.0


def test_vocab_fold_round_trips_to_original_words(spark, sf_smoke):
    """Concatenating the final tokens of every vocab word reproduces
    the word — merges rearrange boundaries, never characters."""
    _, vocab = bpe_train(spark, sf_smoke)
    bad = vocab.where(
        F.array_join(F.col("toks"), "") != F.col("w")
    ).count()
    assert bad == 0


def test_q_bigram_lm_oracle_parity(spark, sf_smoke):
    from dynamodb_streaming_datalake_spark.operators.bpe import q_bigram_lm

    compare_query(
        spark, sf_smoke, "q_bigram_lm", q_bigram_lm, ORACLE["q_bigram_lm"]
    )


def test_bigram_lm_is_a_probability_model(spark, sf_smoke):
    """Smoothed conditionals are in (0, 1); for any reported context
    w1, summing P(.|w1) over the FULL vocabulary (seen pairs + smoothed
    unseen mass) equals 1 exactly in rational arithmetic."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from dynamodb_streaming_datalake_spark.operators.bpe import (
        LM_ADD_K,
        q_bigram_lm,
    )
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    top = q_bigram_lm(spark, sf_smoke).collect()
    assert len(top) > 0
    assert all(0.0 < r["prob"] < 1.0 for r in top)

    d = read_table(spark, sf_smoke, "documents")
    bg = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(text,' '))-1),"
                " j -> struct(element_at(split(text,' '), CAST(j AS INT)) AS w1,"
                " element_at(split(text,' '), CAST(j AS INT)+1) AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    w1 = top[0]["w1"]
    pairs = (
        bg.where(F.col("w1") == w1)
        .groupBy("w2").agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    vocab = bg.select("w2").distinct().count()
    n = sum(r["c"] for r in pairs)
    seen = sum(Fraction(r["c"] + LM_ADD_K, n + LM_ADD_K * vocab) for r in pairs)
    unseen = (vocab - len(pairs)) * Fraction(LM_ADD_K, n + LM_ADD_K * vocab)
    assert seen + unseen == 1


def test_train_wall_time_linear_in_merge_count(spark, sf_smoke, tmp_path):
    """The round-6 scale flag: training must be O(K) vocabulary passes
    plus ONE corpus scan, not K corpus scans + O(K^2) folds. Pin it by
    timing: 64 merges vs 16 merges is 4x the rounds — linear training
    lands near 4x wall-clock, the old unpinned recurrence near 16x.
    Threshold 9x splits the two regimes with slack for job-launch
    noise (each round is argmax-collect-bound locally)."""
    import os
    import shutil
    import time

    from dynamodb_streaming_datalake_spark import cache

    # a private copy of the corpus: bumping its mtime gives each call a
    # fresh stamp, so the merge memo trains for real instead of replaying
    docs = tmp_path / "documents.parquet"
    shutil.copy(f"{sf_smoke}/documents.parquet", docs)
    os.chmod(docs, 0o644)

    def train(k: int) -> float:
        st = docs.stat()
        os.utime(docs, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        builds = cache.STATS[f"bpe_merges/{k}"]["builds"]
        t0 = time.perf_counter()
        merges, _ = bpe_train(spark, str(tmp_path), n_merges=k)
        rows = merges.collect()
        assert [r["merge_rank"] for r in rows] == list(range(k))
        assert cache.STATS[f"bpe_merges/{k}"]["builds"] == builds + 1
        return time.perf_counter() - t0

    train(4)  # warm-up: JVM codegen + parquet footer caches
    ratios = []
    for _ in range(2):  # retry once: a loaded host can stretch one sample
        t16 = train(16)
        t64 = train(64)
        ratios.append(t64 / t16)
        if ratios[-1] < 9.0:
            break
    assert min(ratios) < 9.0, (
        f"training looks super-linear in merge count: "
        f"K=16 {t16:.2f}s vs K=64 {t64:.2f}s "
        f"({', '.join(f'{r:.1f}x' for r in ratios)} for 4x rounds)"
    )


def test_q_lm_doc_score_oracle_parity(spark, sf_smoke):
    from dynamodb_streaming_datalake_spark.operators.bpe import q_lm_doc_score

    compare_query(
        spark, sf_smoke, "q_lm_doc_score", q_lm_doc_score,
        ORACLE["q_lm_doc_score"],
    )


def test_lm_doc_score_is_a_probability_and_covers_docs(spark, sf_smoke):
    """Scores are valid probabilities; every document with >= 2 tokens
    is scored; min <= mean."""
    from dynamodb_streaming_datalake_spark.operators.bpe import q_lm_doc_score
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    rows = q_lm_doc_score(spark, sf_smoke).collect()
    d = read_table(spark, sf_smoke, "documents")
    n_eligible = d.where(F.size(F.split("text", " ")) >= 2).count()
    assert len(rows) == n_eligible
    for r in rows:
        assert 0.0 < r["min_prob"] <= r["mean_prob"] < 1.0
        assert r["n_bigrams"] >= 1


def test_tokenizer_eval_family_ordering(spark, sf_smoke):
    """Fertility must order char <= subword <= whitespace (a subword
    scheme can never beat one-token-per-word, nor lose to
    one-token-per-char), every family reports the same corpus, and the
    char row is the exact 1.0 fixed point."""
    from dynamodb_streaming_datalake_spark.registry import all_queries

    rows = {
        r["tokenizer"]: r
        for r in all_queries()["q_tokenizer_eval"](spark, sf_smoke).collect()
    }
    assert set(rows) == {"whitespace", "char", "bpe", "unigram"}
    assert len({(r["n_words"], r["n_chars"]) for r in rows.values()}) == 1
    assert rows["char"]["chars_per_token"] == 1.0
    for fam in ("bpe", "unigram"):
        assert 1.0 <= rows[fam]["chars_per_token"] <= rows["whitespace"]["chars_per_token"]
        assert rows["whitespace"]["n_tokens"] <= rows[fam]["n_tokens"] <= rows["char"]["n_tokens"]
