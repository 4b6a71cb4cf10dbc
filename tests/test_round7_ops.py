"""Behavioral tests for the round-7 fixes.

Oracle parity (tests/test_oracle_parity.py) already proves engine
equivalence on the shipped configs; these tests pin the edges the
round-7 changes touch — the one-token-group simpson guard, the salted
small-batch fan-out's result invariance, and the chunked power-PCA
chain at iteration counts past the analyzer's Resolution cap.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from warp_pipes_spark.ml.pca import PowerIterationPCA
from warp_pipes_spark.ml.similarity import (
    BruteForceCosineTopK,
    MatryoshkaTopK,
    salted_query_fanout,
)
from warp_pipes_spark.text.analysis import VocabularyProfile


def test_vocabulary_profile_one_token_group(spark):
    # a group with exactly one token: simpson's denominator N*(N-1) is 0
    # — must be NULL (the gt_discount convention), not a NaN that blows
    # the ANSI decimal cast
    df = spark.createDataFrame(
        [("solo", "hello"), ("multi", "a a b")], ["source", "text"]
    )
    rows = {
        r["source"]: r
        for r in VocabularyProfile(group_col="source", text_col="text")(
            df
        ).collect()
    }
    assert rows["solo"]["n_tokens"] == 1
    assert rows["solo"]["simpson"] is None
    # the multi group still computes: f = {a: 2, b: 1} -> 2*1 / (3*2)
    assert abs(rows["multi"]["simpson"] - 2 / 6) < 1e-6


def test_salted_fanout_decision(spark):
    big = spark.range(100).withColumnRenamed("id", "query_id")
    small = spark.range(3).withColumnRenamed("id", "query_id")
    _, s0 = salted_query_fanout(big, 32, key="query_id")
    assert s0 == 0
    salted, s1 = salted_query_fanout(small, 32, key="query_id")
    assert s1 == 11  # ceil(32 / 3)
    # every query row replicated exactly s1 times, salts 0..s1-1
    counts = (
        salted.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("__salt").alias("d"),
        )
        .collect()
    )
    assert all(r["n"] == s1 and r["d"] == s1 for r in counts)


def test_salted_cosine_matches_unsalted(spark, sf_dir):
    from warp_pipes_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qb = emb.filter(F.col("vec_id") < 3)  # forces the salted path
    out = sorted(
        map(
            tuple,
            BruteForceCosineTopK(corpus=emb, k=5, strategy="join")(
                qb
            ).collect(),
        )
    )
    # the full-batch run takes the unsalted path; its top-5 for the
    # same three queries must be identical
    full = sorted(
        map(
            tuple,
            BruteForceCosineTopK(corpus=emb, k=5, strategy="join")(emb)
            .filter(F.col("query_id") < 3)
            .collect(),
        )
    )
    assert out == full and len(out) == 15


def test_salted_matryoshka_matches_unsalted(spark, sf_dir):
    from warp_pipes_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qb = emb.filter(F.col("vec_id") < 3)
    out = sorted(
        map(
            tuple,
            MatryoshkaTopK(
                corpus=emb, k=5, prefix_dim=16, prefilter_k=20
            )(qb).collect(),
        )
    )
    full = sorted(
        map(
            tuple,
            MatryoshkaTopK(corpus=emb, k=5, prefix_dim=16, prefilter_k=20)(
                emb
            )
            .filter(F.col("query_id") < 3)
            .collect(),
        )
    )
    assert out == full and len(out) == 15


def test_power_pca_deep_iteration_chain(spark, sf_dir):
    # 36 iterations x dim 4 = 75 CTE layers if emitted as one statement
    # — far past the analyzer's 100-pass Resolution cap with dim 8; the
    # chunked build must still execute, the Rayleigh quotient must be
    # monotone non-decreasing in iterations (power iteration ascends),
    # and the returned vector stays unit-norm
    from warp_pipes_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = PowerIterationPCA(dim=4, iters=12)(emb).collect()[0]
    b = PowerIterationPCA(dim=4, iters=36)(emb).collect()[0]
    assert a["n_vecs"] == b["n_vecs"] > 0
    assert b["lambda1"] >= a["lambda1"] > 0
    nrm = sum(b[f"v{i}"] ** 2 for i in range(1, 5))
    assert abs(nrm - 1.0) < 1e-3


def test_plan_barrier_reliable_mode(spark, sf_dir):
    # the cluster-deployment escape hatch: reliable checkpoint instead
    # of localCheckpoint, same results
    from warp_pipes_spark.io import load_table
    from warp_pipes_spark.text.dedup import DupNgramFraction

    docs = load_table(spark, sf_dir, "documents").limit(50)
    base = sorted(map(tuple, DupNgramFraction(n=3)(docs).collect()))
    spark.sparkContext.setCheckpointDir("/tmp/wps-test-ckpt")
    spark.conf.set("spark.wps.barrier.reliable", "true")
    try:
        rel = sorted(map(tuple, DupNgramFraction(n=3)(docs).collect()))
    finally:
        spark.conf.set("spark.wps.barrier.reliable", "false")
    assert base == rel


def test_cached_results_bit_equal_and_reused(spark, sf_dir, tmp_path):
    from warp_pipes_spark.io import load_table
    from warp_pipes_spark.search.bm25 import Bm25Search
    from warp_pipes_spark.search.cached import cached_results

    docs = load_table(spark, sf_dir, "documents")
    qs = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 1, 40).alias("text"),
    )
    pipe = Bm25Search(corpus=docs, k=5)
    direct = sorted(map(tuple, pipe(qs).collect()))
    cache = str(tmp_path / "results")
    first = sorted(
        map(tuple, cached_results(pipe, qs, cache_dir=cache).collect())
    )
    # the store pass must be bit-identical to the direct run
    assert first == direct
    # second call must serve the SAME parquet entry (exactly one cache
    # dir), still bit-identical
    import os

    entries = [d for d in os.listdir(cache) if not d.startswith("_")]
    assert len(entries) == 1
    again = sorted(
        map(tuple, cached_results(pipe, qs, cache_dir=cache).collect())
    )
    assert again == direct
    assert len([d for d in os.listdir(cache) if not d.startswith("_")]) == 1
    # a shallower k is SERVED from the same family entry by rank slice
    # (round-8 k-prefix serving) — no new entry, still bit-identical
    sliced = sorted(
        map(
            tuple,
            cached_results(
                Bm25Search(corpus=docs, k=3), qs, cache_dir=cache
            ).collect(),
        )
    )
    assert sliced == sorted(t for t in direct if t[1] <= 3)
    assert len([d for d in os.listdir(cache) if not d.startswith("_")]) == 1
    # a different NON-k config must MISS — no false sharing
    cached_results(
        Bm25Search(corpus=docs, k=5, b=0.5), qs, cache_dir=cache
    ).collect()
    assert len([d for d in os.listdir(cache) if not d.startswith("_")]) == 2


def test_rbo_closed_form(spark):
    # identical rankings: every doc first-common at its own rank, RBO =
    # sum of the full weight table ~ (1-p) * sum p^(d-1) * d/d = known
    from warp_pipes_spark.ml.metrics import RboAgreement, _rbo_weights

    rows = [(1, i, r) for r, i in enumerate([10, 20, 30], start=1)]
    a = spark.createDataFrame(rows, ["query_id", "idx", "rank"])
    out = RboAgreement(other=a, k=3, p=0.9)(a).collect()[0]
    assert out["n_common"] == 3
    expected = round(sum(_rbo_weights(3, 0.9)), 6)
    assert abs(out["rbo"] - expected) < 1e-9
    # disjoint rankings: zero overlap, rbo = 0 but the query still rows
    b = spark.createDataFrame(
        [(1, 99, 1), (1, 98, 2), (1, 97, 3)], ["query_id", "idx", "rank"]
    )
    out0 = RboAgreement(other=b, k=3, p=0.9)(a).collect()[0]
    assert out0["n_common"] == 0 and out0["rbo"] == 0.0


def test_rbo_weights_monotone_and_sum():
    from warp_pipes_spark.ml.metrics import _rbo_weights

    w = _rbo_weights(10, 0.9)
    assert all(w[i] > w[i + 1] > 0 for i in range(len(w) - 1))
    # W(1) covers the whole series: sum_{d=1..k} (1-p) p^(d-1)/d
    assert abs(w[0] - 0.235416) < 1e-9


def test_robust_stats_closed_form(spark):
    from warp_pipes_spark.pipes.validate import RobustStats

    # g: values 1..9 plus an outlier 1000 -> lower median of 10 values
    # is the 5th (v=5); deviations |v-5| = 4,3,2,1,0,1,2,3,4,995 ->
    # lower median of sorted devs (0,1,1,2,2,3,3,4,4,995) is 2;
    # outliers: dev > 3*2=6 -> only 995 -> 1/10
    rows = [("g", v) for v in list(range(1, 10)) + [1000]]
    df = spark.createDataFrame(rows, ["source", "x"])
    out = RobustStats(value_col="x", group_col="source")(df).collect()[0]
    assert out["n"] == 10
    assert out["median"] == 5
    assert out["mad"] == 2
    assert out["n_outliers"] == 1
    assert abs(out["outlier_rate"] - 0.1) < 1e-9


def test_robust_stats_constant_group(spark):
    from warp_pipes_spark.pipes.validate import RobustStats

    df = spark.createDataFrame([("c", 7)] * 5, ["source", "x"])
    out = RobustStats(value_col="x", group_col="source")(df).collect()[0]
    # constant column: median = value, MAD = 0, every dev 0 > 0 is
    # false -> zero outliers
    assert (out["median"], out["mad"], out["n_outliers"]) == (7, 0, 0)


def test_trigram_search_exactness_and_guard(spark):
    import pytest

    from warp_pipes_spark.search.trigram import TrigramSubstringSearch

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "quick silver"),
            (3, "slow brown dog"),
            (4, "qu ick"),  # has the trigrams of 'quick'? no — 'qui' absent
        ],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame(
        [(100, "quick"), (200, "brown"), (300, "zebra")],
        ["query_id", "pattern"],
    )
    out = sorted(
        map(tuple, TrigramSubstringSearch(corpus=docs)(qs).collect())
    )
    assert out == [(100, 1), (100, 2), (200, 1), (200, 3)]
    # short patterns fail loudly instead of silently matching nothing —
    # the guard rides the same planning job that collects the pushdown
    # gram list (no separate probe job)
    short = spark.createDataFrame([(1, "ab")], ["query_id", "pattern"])
    with pytest.raises(ValueError, match="shorter than 3"):
        TrigramSubstringSearch(corpus=docs)(short)


def test_trigram_candidates_need_all_grams(spark):
    # doc 4 contains 'ick' and 'qu ' but not 'qui'/'uic' — the
    # all-grams containment bound must exclude it before verify
    from warp_pipes_spark.search.trigram import TrigramSubstringSearch

    docs = spark.createDataFrame(
        [(4, "qu ick uic qui")], ["doc_id", "text"]
    )
    qs = spark.createDataFrame([(1, "quick")], ["query_id", "pattern"])
    # doc 4 has every trigram of 'quick' as separate tokens but not the
    # substring — candidates include it, verify must reject it
    out = TrigramSubstringSearch(corpus=docs)(qs).collect()
    assert out == []
