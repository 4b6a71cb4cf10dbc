"""Search-engine tests with independent oracles (mirrors the reference's
differential strategy: sum_scores vs dict accumulation, dense vs numpy
argsort, group lookup round-trip)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from warp_pipes_spark.ml.similarity import BruteForceCosineTopK, LshCosineTopK
from warp_pipes_spark.search.group_lookup import GroupLookupSearch
from warp_pipes_spark.search.result import (
    merge_results,
    pad_results,
    results_to_arrays,
    topk_results,
)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(0)
    corpus = rng.randn(100, 8)
    rows = [(i, [float(x) for x in corpus[i]]) for i in range(100)]
    return corpus, spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _merge_oracle(a_rows, b_rows):
    """Dict replica of the reference's offset-by-min merge
    (``result.py:199-239``): within-side sums, then each (query, idx)
    takes score_side or that side's per-query finite min when absent."""
    import math

    def side(rows):
        acc = {}
        for q, i, s in rows:
            if i >= 0:
                acc[(q, i)] = acc.get((q, i), 0.0) + s
        mins = {}
        for (q, _), s in acc.items():
            if math.isfinite(s):
                mins[q] = min(mins.get(q, s), s)
        return acc, mins

    sa, ma = side(a_rows)
    sb, mb = side(b_rows)
    oracle = {}
    for q, i in {*sa, *sb}:
        oracle[(q, i)] = sa.get((q, i), ma.get(q, 0.0)) + sb.get(
            (q, i), mb.get(q, 0.0)
        )
    return oracle


def test_merge_results_dict_oracle(spark):
    a_rows = [(0, 1, 1.0), (0, 2, 2.0), (1, 5, 1.5), (1, -1, float("-inf"))]
    b_rows = [(0, 2, 3.0), (0, 7, 0.5), (1, 5, 0.5)]
    a = spark.createDataFrame(a_rows, "query_id long, idx long, score double")
    b = spark.createDataFrame(b_rows, "query_id long, idx long, score double")
    merged = {(r["query_id"], r["idx"]): r["score"] for r in merge_results(a, b).collect()}
    assert merged == _merge_oracle(a_rows, b_rows)
    # the offset-by-min property concretely: q0 idx=1 is a-only, so it takes
    # b's min (0.5) on top of its own 1.0; idx=7 is b-only -> + a's min 1.0
    assert merged[(0, 1)] == 1.0 + 0.5
    assert merged[(0, 7)] == 0.5 + 1.0


def test_merge_results_mixed_sign_scales(spark):
    """An engine scoring in negatives cannot be out-ranked by absence: with
    raw sums, idx=9 (absent from b, a-score -0.1) would beat idx=2 (in both,
    b-score -3.0) only by accident; under offset-by-min both carry b-mass."""
    a_rows = [(0, 2, 1.0), (0, 9, 0.9)]
    b_rows = [(0, 2, -3.0), (0, 4, -0.5)]
    a = spark.createDataFrame(a_rows, "query_id long, idx long, score double")
    b = spark.createDataFrame(b_rows, "query_id long, idx long, score double")
    merged = {(r["query_id"], r["idx"]): r["score"] for r in merge_results(a, b).collect()}
    assert merged == _merge_oracle(a_rows, b_rows)
    assert merged[(0, 2)] == 1.0 + -3.0
    assert merged[(0, 9)] == 0.9 + -3.0  # absent from b -> b's min, not 0
    assert merged[(0, 4)] == 0.9 + -0.5  # absent from a -> a's min (0.9)


def test_topk_and_pad(spark):
    rows = [(0, 1, 3.0), (0, 2, 1.0), (0, 3, 2.0), (1, 9, 1.0)]
    res = spark.createDataFrame(rows, "query_id long, idx long, score double")
    top2 = {(r["query_id"], r["rank"]): r["idx"] for r in topk_results(res, 2).collect()}
    assert top2 == {(0, 1): 1, (0, 2): 3, (1, 1): 9}
    queries = spark.createDataFrame([(0,), (1,)], "query_id long")
    padded = pad_results(res, queries, 3).collect()
    assert len(padded) == 6
    q1 = sorted([r for r in padded if r["query_id"] == 1], key=lambda r: r["rank"])
    assert [r["idx"] for r in q1] == [9, -1, -1]
    assert q1[1]["score"] == float("-inf")


def test_results_to_arrays(spark):
    rows = [(0, 1, 3.0), (0, 3, 2.0)]
    res = spark.createDataFrame(rows, "query_id long, idx long, score double")
    arr = results_to_arrays(res, 2).collect()[0]
    assert arr["idx"] == [1, 3]
    assert arr["score"] == [3.0, 2.0]


def test_dense_vs_numpy_oracle(spark, vectors):
    corpus, df = vectors
    queries = df.filter(F.col("vec_id") < 10)
    out = BruteForceCosineTopK(corpus=df, k=5, exclude_self=True)(queries).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    normed = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    sims = normed @ normed.T
    for q in range(10):
        s = sims[q].copy()
        s[q] = -np.inf
        expect = list(np.argsort(-s)[:5])
        ranked = [n for _, n in sorted(got[q])]
        assert ranked == expect, f"query {q}: {ranked} != {expect}"


def test_dense_pandas_strategy_matches_join(spark, vectors):
    _, df = vectors
    queries = df.filter(F.col("vec_id") < 10)
    join_out = BruteForceCosineTopK(corpus=df, k=5, exclude_self=True)(queries)
    pd_out = BruteForceCosineTopK(corpus=df, k=5, exclude_self=True, strategy="pandas")(queries)
    j = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in join_out.collect()}
    p = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in pd_out.collect()}
    assert j == p


def test_lsh_recall_against_exact(spark, vectors):
    _, df = vectors
    queries = df.filter(F.col("vec_id") < 20)
    exact = BruteForceCosineTopK(corpus=df, k=1, exclude_self=True)(queries)
    approx = LshCosineTopK(corpus=df, k=5, dim=8, n_planes=4, n_tables=8, exclude_self=True)(queries)
    top1 = {r["query_id"]: r["neighbor_id"] for r in exact.collect()}
    cand = {}
    for r in approx.collect():
        cand.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(1 for q, n in top1.items() if n in cand.get(q, set()))
    # probabilistic recall; 8 tables x 4 planes on 100 vecs should catch most
    assert hits >= 0.6 * len(top1), f"LSH recall too low: {hits}/{len(top1)}"


def test_group_lookup_round_trip(spark):
    corpus = spark.createDataFrame(
        [(i, i % 5) for i in range(50)], "row_id long, group_id long"
    )
    queries = spark.createDataFrame(
        [(100, 0), (101, 3), (102, 99)], "query_id long, group_id long"
    )
    engine = GroupLookupSearch(corpus=corpus, group_key="group_id", corpus_id="row_id")
    out = engine(queries).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    # every returned idx has matching gid
    assert sorted(r["idx"] for r in by_q[100]) == [i for i in range(50) if i % 5 == 0]
    assert all(r["score"] == 0.0 for r in by_q[100])
    # missing group -> single (-1, -inf) row
    assert [(r["idx"], r["score"]) for r in by_q[102]] == [(-1, float("-inf"))]


def test_ivf_recall_against_exact(spark, vectors):
    from warp_pipes_spark.ml.similarity import IvfCosineTopK

    _, df = vectors
    queries = df.filter(F.col("vec_id") < 20)
    exact = BruteForceCosineTopK(corpus=df, k=1, exclude_self=True)(queries)
    approx = IvfCosineTopK(
        corpus=df, k=5, n_centroids=8, n_probe=3, exclude_self=True
    )(queries)
    top1 = {r["query_id"]: r["neighbor_id"] for r in exact.collect()}
    cand = {}
    for r in approx.collect():
        cand.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(1 for q, n in top1.items() if n in cand.get(q, set()))
    # probing 3/8 cells must catch most true nearest neighbors
    assert hits >= 0.6 * len(top1), f"IVF recall too low: {hits}/{len(top1)}"


def test_ivf_local_trainer_matches_spark_trainer(spark, sf_dir):
    """The oracle's centroid literals are honest: the pure-Python replica
    (pyarrow + hashlib + numpy, no Spark) retrains BIT-IDENTICAL centroids
    from the raw Parquet — same md5 sample order, same seeded k-means."""
    import numpy as np

    from warp_pipes_spark.io import load_table
    from warp_pipes_spark.ml.similarity import (
        IvfCosineTopK,
        train_ivf_centroids_local,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ivf = IvfCosineTopK(
        corpus=emb, n_centroids=8, train_sample=200, kmeans_iters=5, seed=7,
    )
    C_spark = ivf._train_centroids()
    C_local = train_ivf_centroids_local(
        f"{sf_dir}/embeddings.parquet",
        n_centroids=8, train_sample=200, kmeans_iters=5, seed=7,
    )
    assert C_spark.shape == C_local.shape
    assert np.array_equal(C_spark, C_local), "trainers diverged (not bit-exact)"


def test_ivf_expr_and_blas_families_agree(spark, vectors, tmp_path):
    """Both cell-assignment kernels (JVM fold expressions vs pandas-BLAS)
    produce the same top-k on the same trained centroids."""
    from warp_pipes_spark.ml.similarity import IvfCosineTopK

    _, df = vectors
    queries = df.filter(F.col("vec_id") < 20)
    cache = str(tmp_path / "ivf")
    mk = lambda fam: IvfCosineTopK(  # noqa: E731
        corpus=df, k=5, n_centroids=8, n_probe=3, exclude_self=True,
        assign_family=fam, centroid_cache_dir=cache, index_cache_dir=cache,
    )(queries)
    rows = lambda out: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in out.collect()
    )
    assert rows(mk("expr")) == rows(mk("blas"))


def test_bm25_temperature_scales_scores(spark):
    from warp_pipes_spark.search.bm25 import Bm25Search

    docs = spark.createDataFrame(
        [(0, "apple banana cherry"), (1, "apple apple pie"), (2, "dog cat")],
        "doc_id long, text string",
    )
    q = spark.createDataFrame([(0, "apple")], "query_id long, text string")
    base = {r["idx"]: float(r["score"]) for r in Bm25Search(corpus=docs, k=3)(q).collect()}
    halved = {
        r["idx"]: float(r["score"])
        for r in Bm25Search(corpus=docs, k=3, temperature=2.0)(q).collect()
    }
    assert base.keys() == halved.keys()
    for i in base:
        assert abs(halved[i] - base[i] / 2.0) < 1e-5


def test_bm25f_title_hits_outrank_body_hits(spark, tmp_path):
    """Same term frequency, but a hit in the 2x-weighted short title field
    must outscore a hit buried in a long body — the point of BM25F's
    pre-saturation field combination."""
    from warp_pipes_spark.search.bm25 import Bm25FSearch

    docs = spark.createDataFrame(
        [
            (0, "apple pie", "banana cherry fig grape kiwi lemon mango"),
            (1, "banana split", "apple cherry fig grape kiwi lemon mango"),
            (2, "dog house", "cat mouse bird fish snake toad newt"),
        ],
        "doc_id long, title string, body string",
    )
    q = spark.createDataFrame([(0, "apple")], "query_id long, text string")
    out = Bm25FSearch(
        corpus=docs,
        fields={"title": 2.0, "body": 1.0},
        k=3,
        index_cache_dir=str(tmp_path / "bm25"),
    )(q).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["idx"] for r in ranked] == [0, 1]  # title hit first; doc 2 no hit
    assert ranked[0]["score"] > ranked[1]["score"]


def test_bm25f_empty_field_rows_still_scored(spark, tmp_path):
    """Docs with an empty field keep their other-field postings and the
    per-field avgdl still counts them (sentinel rows)."""
    from warp_pipes_spark.search.bm25 import Bm25FSearch

    docs = spark.createDataFrame(
        [(0, "", "apple pie crust"), (1, "apple tart", ""), (2, "dog", "cat")],
        "doc_id long, title string, body string",
    )
    q = spark.createDataFrame([(0, "apple")], "query_id long, text string")
    out = Bm25FSearch(
        corpus=docs,
        fields={"title": 2.0, "body": 1.0},
        k=3,
        index_cache_dir=str(tmp_path / "bm25"),
    )(q).collect()
    assert {r["idx"] for r in out} == {0, 1}
    by_idx = {r["idx"]: r["score"] for r in out}
    assert by_idx[1] > by_idx[0]  # weighted title hit beats body hit


def test_pq_recall_against_exact(spark, vectors):
    from warp_pipes_spark.ml.quantize import PqCosineTopK

    _, df = vectors
    queries = df.filter(F.col("vec_id") < 20)
    exact = BruteForceCosineTopK(corpus=df, k=1, exclude_self=True)(queries)
    approx = PqCosineTopK(corpus=df, k=5, m=8, exclude_self=True)(queries)
    top1 = {r["query_id"]: r["neighbor_id"] for r in exact.collect()}
    cand = {}
    for r in approx.collect():
        cand.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(1 for q, n in top1.items() if n in cand.get(q, set()))
    # 8-byte codes over 64 dims: the true top-1 should appear in the
    # PQ top-5 for the large majority of queries
    assert hits >= 0.7 * len(top1), f"PQ recall too low: {hits}/{len(top1)}"


def test_pq_tied_scores_resolve_by_neighbor_id_across_partitions(spark, tmp_path):
    """Regression for the per-batch partial top-k: candidates tied at the
    k-th ROUNDED score boundary must be resolved by (score DESC,
    neighbor_id ASC) — the same order the global window and the SQL
    oracle apply — not by argpartition's arbitrary tied-subset pick, and
    independently of how the corpus is partitioned into Arrow batches."""
    import numpy as np

    from warp_pipes_spark.ml.quantize import PqCosineTopK

    rng = np.random.RandomState(7)
    base = [10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    rows = [(i, base) for i in range(50)]  # 50 duplicates: identical codes
    for i in range(50, 100):
        v = rng.randn(8)
        v[0] = 0.0  # orthogonal to the duplicates' direction
        rows.append((i, [float(x) for x in v]))
    queries = spark.createDataFrame([(200, base)], "vec_id long, embedding array<double>")

    results = []
    for nparts in (1, 13):
        corpus = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).repartition(nparts)
        out = PqCosineTopK(
            corpus=corpus, k=5, m=4, exclude_self=False,
            index_cache_dir=str(tmp_path / "pq"),
        )(queries)
        results.append([(r["rank"], r["neighbor_id"]) for r in out.collect()])
    # among 50 bit-identically-scored duplicates, the 5 smallest ids win
    assert results[0] == [(1, 0), (2, 1), (3, 2), (4, 3), (5, 4)]
    # and the answer is invariant to the corpus partition/batch layout
    assert results[0] == results[1]


def test_pq_codes_round_trip_determinism(spark, vectors):
    import numpy as np

    from warp_pipes_spark.ml.quantize import ProductQuantizer

    _, df = vectors
    dim = len(df.select("embedding").first()[0])
    pq = ProductQuantizer(dim, m=8, k=16, seed=3).fit(df)
    pq2 = ProductQuantizer(dim, m=8, k=16, seed=3).fit(df)
    assert np.allclose(pq.codebooks, pq2.codebooks)  # seeded determinism
    codes = df.select(pq.encode_udf()(F.col("embedding")).alias("c")).collect()
    assert all(len(r["c"]) == 8 for r in codes)
    assert all(0 <= v < 16 for r in codes for v in r["c"])


def test_bm25_champion_cap_truncates_index(spark, tmp_path):
    """champion_size keeps only the top-C postings per term (score desc,
    doc_id tiebreak), and with a cap wider than every posting list results
    equal the exact engine's."""
    from warp_pipes_spark.search.bm25 import Bm25Search

    rows = [(i, "common " + ("rare " if i == 0 else "word ") * 3) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    eng = Bm25Search(
        corpus=docs, k=5, champion_size=4, index_cache_dir=str(tmp_path)
    )
    idx = eng._index()
    per_term = {
        r["term"]: r["n"]
        for r in idx.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(n <= 4 for n in per_term.values())
    assert per_term["common"] == 4  # 20 postings capped to 4

    q = spark.createDataFrame([(0, "rare word")], "query_id long, text string")
    wide = Bm25Search(
        corpus=docs, k=5, champion_size=1000, index_cache_dir=str(tmp_path)
    )
    exact = Bm25Search(corpus=docs, k=5, index_cache_dir=str(tmp_path))
    assert sorted(map(tuple, wide(q).collect())) == sorted(
        map(tuple, exact(q).collect())
    )


def test_bm25_champion_recall_against_exact(spark, tmp_path):
    """With a moderate cap, champion top-k recall vs the exact engine stays
    high on a realistic term mix (every doc reachable via its rarer terms)."""
    from warp_pipes_spark.search.bm25 import Bm25Search

    rng = np.random.RandomState(7)
    vocab = [f"t{j}" for j in range(50)]
    rows = []
    for i in range(120):
        toks = ["the"] + [vocab[rng.randint(50)] for _ in range(12)]
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    queries = spark.createDataFrame(
        [(i, rows[i * 7][1].split()[1] + " " + rows[i * 7][1].split()[2])
         for i in range(10)],
        "query_id long, text string",
    )
    exact = Bm25Search(corpus=docs, k=5, index_cache_dir=str(tmp_path))(queries)
    champ = Bm25Search(
        corpus=docs, k=5, champion_size=16, index_cache_dir=str(tmp_path)
    )(queries)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["idx"])
    ch = {}
    for r in champ.collect():
        ch.setdefault(r["query_id"], set()).add(r["idx"])
    hits = sum(len(ex[q] & ch.get(q, set())) for q in ex)
    total = sum(len(v) for v in ex.values())
    assert hits / total >= 0.8


def test_bm25_champion_rejects_bad_size(spark):
    from warp_pipes_spark.search.bm25 import Bm25Search

    docs = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        Bm25Search(corpus=docs, champion_size=0)


def test_matryoshka_equals_exact_with_full_prefilter(spark, vectors):
    """With prefilter_k >= corpus size the cascade cannot lose candidates:
    final ranking must equal the exact brute-force engine's."""
    from warp_pipes_spark.ml.similarity import MatryoshkaTopK

    _, vectors = vectors
    queries = vectors.filter(F.col("vec_id") % 10 == 0)
    exact = BruteForceCosineTopK(corpus=vectors, k=5, exclude_self=True)(queries)
    mat = MatryoshkaTopK(
        corpus=vectors, k=5, prefix_dim=8, prefilter_k=10_000, exclude_self=True
    )(queries)
    e = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in exact.collect())
    m = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in mat.collect())
    assert e == m


def test_matryoshka_recall_with_tight_prefilter(spark, vectors):
    from warp_pipes_spark.ml.similarity import MatryoshkaTopK

    _, vectors = vectors
    queries = vectors.filter(F.col("vec_id") % 10 == 0)
    exact = BruteForceCosineTopK(corpus=vectors, k=5, exclude_self=True)(queries)
    mat = MatryoshkaTopK(
        corpus=vectors, k=5, prefix_dim=16, prefilter_k=20, exclude_self=True
    )(queries)
    ex, ma = {}, {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in mat.collect():
        ma.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(ex[q] & ma.get(q, set())) for q in ex)
    assert hits / sum(len(v) for v in ex.values()) >= 0.6


def test_matryoshka_rejects_bad_params(spark):
    from warp_pipes_spark.ml.similarity import MatryoshkaTopK

    docs = spark.createDataFrame([(0, [1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        MatryoshkaTopK(corpus=docs, k=10, prefilter_k=5)
    with pytest.raises(ValueError):
        MatryoshkaTopK(corpus=docs, prefix_dim=0)


def test_pool_embeddings_matches_numpy_mean(spark, vectors):
    """Pooled centroid equals the numpy mean within the 1e-9 floor
    quantization; n_vecs counts the group's rows."""
    from warp_pipes_spark.ml.pooling import PoolEmbeddings

    X, df = vectors
    lab = df.withColumn("label", (F.col("vec_id") % 3).cast("int"))
    out = {r["label"]: r for r in PoolEmbeddings()(lab).collect()}
    ids = [r["vec_id"] for r in lab.select("vec_id").collect()]
    for g in (0, 1, 2):
        members = [i for i in ids if i % 3 == g]
        want = X[members].mean(axis=0)
        got = np.array(out[g]["pooled"])
        assert out[g]["n_vecs"] == len(members)
        assert np.max(np.abs(got - want)) < 2e-9


def test_pool_embeddings_ignores_null_vectors(spark):
    from warp_pipes_spark.ml.pooling import PoolEmbeddings

    df = spark.createDataFrame(
        [("a", [1.0, 3.0]), ("a", None), ("b", None)],
        "label string, embedding array<double>",
    )
    rows = PoolEmbeddings()(df).collect()
    assert len(rows) == 1
    assert rows[0]["label"] == "a" and rows[0]["n_vecs"] == 1
    assert rows[0]["pooled"] == [1.0, 3.0]


def test_standardize_embeddings_matches_numpy(spark, vectors):
    """Standardized components match numpy z-scores of the 1e-9 quantized
    values (population std), within double rounding."""
    from warp_pipes_spark.ml.pooling import StandardizeEmbeddings

    X, df = vectors
    out = {r["vec_id"]: np.array(r["standardized"]) for r in
           StandardizeEmbeddings()(df).collect()}
    ids = sorted(out)
    Q = np.floor(X[ids] * 1e9) / 1e9
    mean = Q.mean(axis=0)
    std = Q.std(axis=0)  # population
    want = (Q - mean) / np.where(std == 0, 1.0, std)
    got = np.stack([out[i] for i in ids])
    assert np.max(np.abs(got - want)) < 1e-6
    # standardized corpus has ~zero mean and ~unit variance per component
    assert np.max(np.abs(got.mean(axis=0))) < 1e-6
    assert np.max(np.abs(got.std(axis=0) - 1.0)) < 1e-6


def test_standardize_constant_component_is_zero(spark):
    from warp_pipes_spark.ml.pooling import StandardizeEmbeddings

    df = spark.createDataFrame(
        [(0, [5.0, 1.0]), (1, [5.0, 3.0])], "vec_id long, embedding array<double>"
    )
    out = {r["vec_id"]: r["standardized"] for r in
           StandardizeEmbeddings()(df).collect()}
    assert out[0][0] == 0.0 and out[1][0] == 0.0  # constant dim -> 0
    assert out[0][1] == -1.0 and out[1][1] == 1.0


def test_bm25_append_matches_from_scratch(spark, tmp_path):
    """Incremental index maintenance: append() over (old + new) equals a
    from-scratch engine over the concatenated corpus bit-for-bit — the
    idf/avgdl shift from new docs is fully re-baked, never stale."""
    from warp_pipes_spark.search.bm25 import Bm25Search

    old = spark.createDataFrame(
        [(i, f"alpha beta doc{i} gamma") for i in range(30)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100 + i, f"alpha delta fresh{i}") for i in range(10)],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(0, "alpha delta"), (1, "beta gamma")], "query_id long, text string"
    )
    base = Bm25Search(corpus=old, k=5, index_cache_dir=str(tmp_path))
    base._index().count()  # build + cache the old raw postings
    appended = base.append(new)
    scratch = Bm25Search(
        corpus=old.unionByName(new), k=5, index_cache_dir=str(tmp_path / "other")
    )
    got = sorted(map(tuple, appended(q).collect()))
    want = sorted(map(tuple, scratch(q).collect()))
    assert got == want and len(got) > 0
    # new docs are retrievable through the appended engine
    assert any(r[2] >= 100 for r in got)


def test_bm25_append_skips_old_corpus_tokenization(spark, tmp_path, monkeypatch):
    """After the old raw postings are cached, append() tokenizes ONLY the
    new batch: build_inverted_index must be called with the new docs, not
    the old corpus or the union."""
    import warp_pipes_spark.search.bm25 as bm25_mod

    old = spark.createDataFrame(
        [(i, f"w{i} common") for i in range(20)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(50, "common fresh")], "doc_id long, text string"
    )
    eng = bm25_mod.Bm25Search(corpus=old, k=3, index_cache_dir=str(tmp_path))
    eng._index().count()

    seen = []
    real = bm25_mod.build_inverted_index

    def spy(corpus, id_col, text_col):
        seen.append(corpus.count())
        return real(corpus, id_col, text_col)

    monkeypatch.setattr(bm25_mod, "build_inverted_index", spy)
    appended = eng.append(new)
    appended._index().count()
    assert seen == [1]  # exactly one tokenization pass, over the 1 new doc


def test_rrf_fuse_matches_hand_oracle(spark):
    """rrf_fuse == per-doc sum of 1/(c+rank) across engines, top-k with idx
    tie-break; docs present in one list only still score."""
    from warp_pipes_spark.search.result import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 11), (1, 3, 12)],
        "query_id long, rank int, idx long",
    )
    b = spark.createDataFrame(
        [(1, 1, 11), (1, 2, 13)],
        "query_id long, rank int, idx long",
    )
    out = {r["idx"]: r for r in rrf_fuse(a, b, c=60.0, k=3).collect()}
    from decimal import Decimal

    def rr(rank):
        return float(Decimal(repr(1.0 / (60.0 + rank))).quantize(Decimal("0.000001")))

    exp = {
        10: rr(1),
        11: rr(2) + rr(1),
        12: rr(3),
        13: rr(2),
    }
    top3 = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert sorted(out) == sorted(idx for idx, _ in top3)
    for rank_pos, (idx, score) in enumerate(
        sorted(top3, key=lambda kv: (-kv[1], kv[0])), start=1
    ):
        assert out[idx]["rank"] == rank_pos
        assert abs(out[idx]["rrf"] - score) < 1e-9


def test_index_rrf_merge_strategy(spark):
    """Index(merge_strategy='rrf') fuses a chained retriever pair by
    reciprocal rank instead of raw score sums — equal to composing the
    engines manually through rrf_fuse."""
    from warp_pipes_spark.core.pipe import Pipe
    from warp_pipes_spark.search.index import Index
    from warp_pipes_spark.search.result import rrf_fuse, topk_results

    class FixedResults(Pipe):
        def __init__(self, rows, **kw):
            super().__init__(**kw)
            self.rows = rows

        _no_fingerprint = ("rows",)

        def _transform(self, df, **kwargs):
            return df.sparkSession.createDataFrame(
                self.rows, "query_id long, idx long, score double"
            )

    # engine A scores 0-1 (cosine-like), engine B scores ~15 (BM25-like):
    # raw score-sum would let B dominate; rrf treats them as peers
    a = FixedResults([(1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.7)])
    b = FixedResults([(1, 11, 15.0), (1, 13, 9.0)])
    queries = spark.createDataFrame([(1,)], "query_id long")
    out = Index(
        corpus=queries, engines=[a, b], k=3,
        merge_previous_results=True, merge_strategy="rrf",
    )(queries)
    manual = topk_results(
        rrf_fuse(
            topk_results(a.transform(queries), 100),
            topk_results(b.transform(queries), 100),
            c=60.0, k=100,
        ).withColumnRenamed("rrf", "score").drop("rank"),
        3,
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, manual.collect()))
    # doc 11 (ranked by both engines) must fuse to the top
    assert out.orderBy("rank").first()["idx"] == 11


def test_pq_local_trainer_matches_spark_trainer(spark, sf_dir):
    """q95's codebook literals are honest: the pure-Python replica retrains
    BIT-IDENTICAL per-subspace codebooks from the raw Parquet."""
    import numpy as np

    from warp_pipes_spark.io import load_table
    from warp_pipes_spark.ml.quantize import ProductQuantizer, train_pq_local

    emb = load_table(spark, sf_dir, "embeddings")
    pq = ProductQuantizer(dim=64, m=8, k=16, iters=5, seed=9).fit(
        emb, train_sample=100
    )
    local = train_pq_local(
        f"{sf_dir}/embeddings.parquet", dim=64, m=8, k=16, iters=5, seed=9,
        train_sample=100,
    )
    assert pq.codebooks.shape == local.shape
    assert np.array_equal(pq.codebooks, local), "PQ trainers diverged"


def test_lsh_near_dup_gate_finds_planted_duplicates(spark, tmp_path):
    """The admission gate finds a planted near-duplicate of a corpus
    vector (cosine ~0.99 collides in every LSH table) and emits pairs as
    NEW x CORPUS only."""
    import numpy as np

    from warp_pipes_spark.ml.similarity import LshCosineNearDup

    rng = np.random.RandomState(5)
    base = rng.randn(50, 16)
    corpus_rows = [(i, [float(x) for x in base[i]]) for i in range(50)]
    near = base[7] + 0.02 * rng.randn(16)  # ~ corpus vector 7
    new_rows = [
        (100, [float(x) for x in near]),
        (101, [float(x) for x in rng.randn(16)]),
    ]
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, embedding array<double>")
    new = spark.createDataFrame(new_rows, "vec_id long, embedding array<double>")
    out = LshCosineNearDup(
        corpus=corpus, threshold=0.9, dim=16, n_planes=4, n_tables=8,
        index_cache_dir=str(tmp_path / "lsh"),
    )(new).collect()
    pairs = {(r["new_id"], r["corpus_id"]) for r in out}
    assert (100, 7) in pairs
    assert all(n in (100, 101) and c < 100 for n, c in pairs)
    assert all(r["score"] >= 0.9 for r in out)


def test_prf_expansion_effect_and_shape(spark, sf_dir):
    """PRF must change at least one query's result set vs plain BM25
    (the expansion has an effect), keep the Bm25Search output contract
    (ranks 1..k contiguous per query), and be deterministic. (No
    seed-retention assertion: the synthetic corpus' tiny shared
    vocabulary makes 5-token queries non-discriminative even unexpanded
    — plain BM25 retrieves its seed for only ~25% of queries.)"""
    from collections import defaultdict

    from warp_pipes_spark.queries import _bm25_queries
    from warp_pipes_spark.io import load_table
    from warp_pipes_spark.search.bm25 import Bm25Search
    from warp_pipes_spark.search.prf import PrfBm25Search

    docs = load_table(spark, sf_dir, "documents")
    qs = _bm25_queries(spark, sf_dir)
    plain = Bm25Search(corpus=docs, k=10)(qs)
    prf = PrfBm25Search(corpus=docs, k=10, fb_k=5, fb_terms=3)
    p = {(r["query_id"], r["idx"]) for r in plain.collect()}
    e_rows = prf(qs).collect()
    e = {(r["query_id"], r["idx"]) for r in e_rows}
    assert e != p, "expansion had no effect on any query"
    ranks = defaultdict(list)
    for r in e_rows:
        ranks[r["query_id"]].append(r["rank"])
    for q, rs in ranks.items():
        assert sorted(rs) == list(range(1, len(rs) + 1)), (q, rs)
        assert len(rs) <= 10
    e2 = {(r["query_id"], r["idx"]) for r in prf(qs).collect()}
    assert e2 == e


def test_ann_recall_sweep_monotone(spark, sf_dir):
    """More LSH tables can only add candidates, so recall@5 must be
    non-decreasing in n_tables and the counts internally consistent."""
    from warp_pipes_spark.queries import q182_ann_recall_sweep

    rows = sorted(
        q182_ann_recall_sweep(spark, sf_dir).collect(),
        key=lambda r: r["n_tables"],
    )
    assert [r["n_tables"] for r in rows] == [2, 4, 8]
    recalls = [r["recall_at_5"] for r in rows]
    assert recalls == sorted(recalls), recalls
    for r in rows:
        assert 0 <= r["n_matched"] <= r["n_exact"]
    # no absolute bar: at tiny sf the 2^8 buckets dwarf the corpus so
    # collisions (hence recall) are scarce — the sweep's JOB is to show
    # exactly this; just require the extra tables to actually help
    assert recalls[-1] > recalls[0], recalls


def test_bm25_threshold_prune_is_lossless(spark, sf_dir, tmp_path):
    """The seed-threshold prune (maxscore=True, the default) must return
    BIT-IDENTICAL results to the exhaustive plan for every k, including
    k=1 and k past the match count — it is a physical optimization, not a
    semantics change. Covers both physical strategies: the doc-major
    branch (dense vocabulary — what this corpus exercises) and the
    term-major fallback (forced via a one-query batch, whose fan-out
    estimate stays below the index size)."""
    from warp_pipes_spark.io import load_table
    from warp_pipes_spark.search.bm25 import Bm25Search

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.filter(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 10, 40).alias("text"),
    )
    one_query = queries.limit(1)
    cache = str(tmp_path / "bm25")
    for k in (1, 5, 23):
        for batch in (queries, one_query):
            fast = Bm25Search(
                corpus=docs, k=k, maxscore=True, index_cache_dir=cache
            )(batch)
            slow = Bm25Search(
                corpus=docs, k=k, maxscore=False, index_cache_dir=cache
            )(batch)
            assert sorted(map(tuple, fast.collect())) == sorted(
                map(tuple, slow.collect())
            ), f"prune changed results at k={k}"


def test_bm25_threshold_prune_lossless_on_variants(spark, sf_dir, tmp_path):
    """Round-6 extension: the prune must stay BIT-IDENTICAL on the
    aux-boosted (fixed and log-length-scaled weights), term-filtered,
    champion-capped and BM25F paths — each previously excluded from
    `_maxscore_eligible`. k sweeps below and past the match count."""
    from warp_pipes_spark.io import load_table
    from warp_pipes_spark.search.bm25 import Bm25FSearch, Bm25Search
    from warp_pipes_spark.text.analysis import tokens_expr

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    toks = tokens_expr(F.col("text"))
    queries = docs.filter(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("text"),
        F.array_join(F.slice(toks, 6, 3), " ").alias("aux"),
        F.col("lang").alias("qlang"),
    )
    configs = {
        "aux": dict(aux_text_col="aux", aux_weight=0.5),
        "aux_scaled": dict(
            aux_text_col="aux", aux_weight=0.75, scale_aux_weight=True
        ),
        "filtered": dict(filter_key="qlang", corpus_filter_key="lang"),
        "aux_filtered": dict(
            aux_text_col="aux",
            aux_weight=0.5,
            filter_key="qlang",
            corpus_filter_key="lang",
        ),
    }
    cache = str(tmp_path / "bm25")
    for label, kw in configs.items():
        for k in (1, 7):
            fast = Bm25Search(
                corpus=docs, k=k, maxscore=True, index_cache_dir=cache, **kw,
            )
            assert fast._maxscore_eligible(), label
            slow = Bm25Search(
                corpus=docs, k=k, maxscore=False, index_cache_dir=cache, **kw,
            )
            assert sorted(map(tuple, fast(queries).collect())) == sorted(
                map(tuple, slow(queries).collect())
            ), f"prune changed results for {label} at k={k}"

    # BM25F (two weighted fields, per-field length norm)
    corpus_f = docs.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, 6), " ").alias("title"),
        F.array_join(
            F.slice(toks, 7, F.greatest(F.size(toks), F.lit(1))), " "
        ).alias("body"),
    )
    for k in (1, 7):
        fast = Bm25FSearch(
            corpus=corpus_f, fields={"title": 2.0, "body": 1.0}, k=k,
            maxscore=True, index_cache_dir=cache,
        )
        assert fast._maxscore_eligible()
        slow = Bm25FSearch(
            corpus=corpus_f, fields={"title": 2.0, "body": 1.0}, k=k,
            maxscore=False, index_cache_dir=cache,
        )
        assert sorted(map(tuple, fast(queries).collect())) == sorted(
            map(tuple, slow(queries).collect())
        ), f"prune changed BM25F results at k={k}"


def test_bm25_prune_ineligible_configs_fall_back(spark, sf_dir):
    """Configs that break the non-negative-contribution argument must NOT
    take the pruned path: negative raw aux weight, temperature != 1,
    b outside [0,1], negative BM25F field weight. Champion-capped engines
    are also excluded — correct but measured slower (the cap already
    bounds the window input)."""
    from warp_pipes_spark.io import load_table
    from warp_pipes_spark.search.bm25 import Bm25FSearch, Bm25Search

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert not Bm25Search(
        corpus=docs, aux_text_col="aux", aux_weight=-0.5
    )._maxscore_eligible()
    assert not Bm25Search(corpus=docs, temperature=2.0)._maxscore_eligible()
    assert not Bm25Search(corpus=docs, b=1.5)._maxscore_eligible()
    assert not Bm25Search(corpus=docs, champion_size=8)._maxscore_eligible()
    assert not Bm25FSearch(
        corpus=docs, fields={"text": -1.0}
    )._maxscore_eligible()
    # scaled aux weights are >= 0 by construction, so a negative raw
    # aux_weight stays eligible when scaling is on
    assert Bm25Search(
        corpus=docs, aux_text_col="aux", aux_weight=-0.5,
        scale_aux_weight=True,
    )._maxscore_eligible()


def test_index_evaluates_query_batch_once(spark, tmp_path):
    """Index materializes its query frame once per call: a BM25 + IVF
    chain scans the queries several times (fan-out probe, seed join,
    fan-out join, IVF probe), and each scan of an unmaterialized frame
    re-runs the caller's Python source and UDFs. The rows equal the
    engines composed by hand through rrf_fuse."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from warp_pipes_spark.ml.similarity import IvfCosineTopK
    from warp_pipes_spark.search.bm25 import Bm25Search
    from warp_pipes_spark.search.index import Index
    from warp_pipes_spark.search.result import rrf_fuse, topk_results

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rng = np.random.RandomState(3)
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(words, 4))) for i in range(40)],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(4)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    bm25 = Bm25Search(corpus=docs, k=5, index_cache_dir=str(tmp_path / "bm25"))
    ivf = IvfCosineTopK(
        corpus=vecs, k=5, n_centroids=4, n_probe=2, query_id="query_id",
        exclude_self=False, centroid_cache_dir=str(tmp_path / "ivf_c"),
        index_cache_dir=str(tmp_path / "ivf_i"),
    )
    index = Index(
        corpus=docs, engines=[bm25, ivf], k=3,
        merge_previous_results=True, merge_strategy="rrf",
    )
    # warm the artifacts, so the counted call below is a serving batch
    warm = spark.createDataFrame(
        [(0, "alpha", [1.0, 0.0, 0.0, 0.0])],
        "query_id long, raw string, embedding array<double>",
    )
    index(warm.withColumnRenamed("raw", "text")).collect()

    evaluated = spark.sparkContext.accumulator(0)

    def count_rows(s: pd.Series) -> pd.Series:
        evaluated.add(len(s))
        return s

    n_q = 6
    raw = spark.createDataFrame(
        [
            (q, " ".join(rng.choice(words, 2)), [float(x) for x in rng.randn(4)])
            for q in range(1, n_q + 1)
        ],
        "query_id long, raw string, embedding array<double>",
    )
    queries = raw.select(
        "query_id",
        pandas_udf(count_rows, "string")("raw").alias("text"),
        "embedding",
    )
    out = sorted(map(tuple, index(queries).collect()))
    assert evaluated.value == n_q

    manual = topk_results(
        rrf_fuse(
            topk_results(bm25(queries).select("query_id", "idx", "score"), 100),
            topk_results(
                ivf(queries).select(
                    "query_id", F.col("neighbor_id").alias("idx"), "score"
                ),
                100,
            ),
            c=60.0, k=100,
        ).withColumnRenamed("rrf", "score").drop("rank"),
        3,
    )
    assert out and out == sorted(map(tuple, manual.collect()))


def _serve_fixture(spark, tmp_path, n_docs=120, n_dups=0):
    """A BM25 + IVF pair over one small corpus, artifacts warmed. The
    last ``n_dups`` documents repeat the text and vector of the first
    ``n_dups`` under new ids (tied scores)."""
    from warp_pipes_spark.ml.similarity import IvfCosineTopK
    from warp_pipes_spark.search.bm25 import Bm25Search

    # letters only: the tokenizer splits on anything outside [a-z]
    words = [f"w{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(40)]
    rng = np.random.RandomState(11)
    texts = [" ".join(rng.choice(words, 8)) for _ in range(n_docs)]
    embeddings = [[float(x) for x in rng.randn(6)] for _ in range(n_docs)]
    texts += texts[:n_dups]
    embeddings += embeddings[:n_dups]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    vecs = spark.createDataFrame(
        list(enumerate(embeddings)), "vec_id long, embedding array<double>"
    )
    bm25 = Bm25Search(corpus=docs, k=5, index_cache_dir=str(tmp_path / "bm25"))
    ivf = IvfCosineTopK(
        corpus=vecs, k=5, n_centroids=6, n_probe=2, query_id="query_id",
        exclude_self=False, centroid_cache_dir=str(tmp_path / "ivf_c"),
        index_cache_dir=str(tmp_path / "ivf_i"),
    )
    warm = spark.createDataFrame(
        [(0, f"{words[1]} {words[2]}", [1.0, 0.0, 0.0, 0.0, 0.0, 0.0])],
        "query_id long, text string, embedding array<double>",
    )
    bm25(warm).collect()
    ivf(warm).collect()
    return words, docs, bm25, ivf


def _query_batch(spark, words, n_q, seed, extra_words=()):
    rng = np.random.RandomState(seed)
    return spark.createDataFrame(
        [
            (q, " ".join(rng.choice(list(words) + list(extra_words), 3)),
             [float(x) for x in rng.randn(6)])
            for q in range(n_q)
        ],
        "query_id long, text string, embedding array<double>",
    )


def _local(spark, df):
    """``df`` as a driver-local relation (what ``Index`` hands its engines)."""
    return spark.createDataFrame(df.toArrow(), schema=df.schema)


def _jobs_per_served_batch(spark, tmp_path, group):
    """Spark jobs of one warm 16-query batch from a Python list, embedded
    by a pandas UDF, through BM25 + IVF with RRF, counted in job group
    ``group``; asserts the UDF ran once per row (the batch is collected
    once) and the result has every row."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from warp_pipes_spark.search.index import Index

    words, docs, bm25, ivf = _serve_fixture(spark, tmp_path)
    index = Index(
        corpus=docs, engines=[bm25, ivf], k=5,
        merge_previous_results=True, merge_strategy="rrf",
    )
    sc = spark.sparkContext
    scored = sc.accumulator(0)

    def embed(texts: pd.Series) -> pd.Series:
        scored.add(len(texts))
        return texts.map(lambda t: [float(len(w)) + (hash(w) % 7) for w in t.split()][:2] * 3)

    def batch(seed):
        raw = _query_batch(spark, words, 16, seed).drop("embedding")
        return raw.withColumn("embedding", pandas_udf(embed, "array<double>")("text"))

    index(batch(1)).collect()  # a warm serving path
    scored.value = 0
    sc.setJobGroup(group, "one serving batch")
    try:
        rows = index(batch(2)).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 16 * 5
    assert scored.value == 16
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_index_serves_a_batch_in_at_most_seven_jobs(spark, tmp_path, monkeypatch):
    """With the engines' driver kernels declined (artifact reads capped
    at 0), the batch is collected once, the chain runs over a local
    relation and its rows come back in one collect; the caller's collect
    of the result runs no job."""
    from warp_pipes_spark.io import DriverArtifact

    monkeypatch.setattr(DriverArtifact, "MAX_VALUES", 0)
    assert _jobs_per_served_batch(spark, tmp_path, "index_jobs_per_batch") <= 7


def _index_parity(spark, index, queries):
    """Rows and schema of ``index(queries)`` equal the chain's plan over
    the caller's frame."""
    got = index(queries)
    want = index._chain(queries)
    assert got.schema == want.schema
    rows = sorted(map(tuple, got.collect()))
    assert rows == sorted(map(tuple, want.collect()))
    return got, rows


def test_index_local_batch_chains_match_the_plan(spark, tmp_path, monkeypatch):
    """BM25 -> TopkSearch (q37's shape), one engine, BM25 + IVF under sum
    and RRF, and an empty batch: answered on the driver from the index
    artifacts, then again through the Spark chain over the local
    relation (driver artifact reads capped at 0), then over the caller's
    frame (row cap 0). Every run has the rows and schema of the chain
    over the caller's frame. The batch holds a query of only unindexed
    terms, a NULL and an empty text, tied scores from duplicate
    documents, and a query whose probed cells hold no vectors."""
    from warp_pipes_spark.io import DriverArtifact
    from warp_pipes_spark.ml.similarity import IvfCosineTopK
    from warp_pipes_spark.search.bm25 import Bm25Search
    from warp_pipes_spark.search.index import Index
    from warp_pipes_spark.search.topk import TopkSearch

    words, docs, bm25, ivf = _serve_fixture(spark, tmp_path, n_dups=4)
    bm25_20 = Bm25Search(corpus=docs, k=20, index_cache_dir=str(tmp_path / "bm25"))
    chains = [
        Index(corpus=docs, engines=[bm25_20, TopkSearch(k=3)], k=3),
        Index(corpus=docs, engines=[ivf], k=4),
        Index(corpus=docs, engines=[bm25, ivf], k=5, merge_previous_results=True),
        Index(corpus=docs, engines=[bm25, ivf, bm25], k=6, merge_previous_results=True,
              merge_strategy="rrf", rrf_depth=7),
    ]
    # two centroids no list row belongs to (the lists were assigned
    # before): a query between them probes only empty cells
    base = ivf._centroids()
    far = np.eye(6)[0] + 0.01 * np.eye(6)[1]
    cells = np.vstack([base, np.eye(6)[0], far / np.linalg.norm(far)])
    monkeypatch.setattr(IvfCosineTopK, "_centroids", lambda self: cells)
    dup = docs.where("doc_id = 1").first()["text"]
    dup_vec = ivf.corpus.where("vec_id = 2").first()["embedding"]
    edge = spark.createDataFrame(
        [
            (100, "oov unseen", [0.5, -1.0, 0.25, 0.0, 1.0, -0.5]),
            (101, None, [1.0, 2.0, 0.0, -1.0, 0.5, 0.0]),
            (102, "", [0.0, 1.0, 1.0, 0.0, -1.0, 2.0]),
            (103, dup, dup_vec),
            (104, f"{words[3]} {words[7]}", [1.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        ],
        "query_id long, text string, embedding array<double>",
    )
    queries = _query_batch(spark, words, 9, 5, extra_words=["oov"]).unionByName(edge)
    empty = queries.limit(0)
    local = _local(spark, queries)
    for index in chains:
        assert index._driver_chain(local) is not None
        got, rows = _index_parity(spark, index, queries)
        assert rows and got.isLocal()
        got, rows = _index_parity(spark, index, empty)
        assert rows == [] and got.isLocal()
    # the duplicates tie, and the tie breaks on the lower id
    top = sorted(tuple(r)[1:] for r in ivf(queries).collect() if r["query_id"] == 103)
    assert top[:2] == [(1, 2, 1.0), (2, 122, 1.0)]
    top = {r["idx"]: r for r in bm25_20(queries).collect() if r["query_id"] == 103}
    assert top[1]["score"] == top[121]["score"] and top[1]["rank"] < top[121]["rank"]
    assert not [r for r in ivf(queries).collect() if r["query_id"] == 104]
    monkeypatch.setattr(DriverArtifact, "MAX_VALUES", 0)
    for index in chains:
        assert index._driver_chain(local) is None
        got, rows = _index_parity(spark, index, queries)
        assert rows and got.isLocal()
    monkeypatch.setattr(Index, "_LOCAL_MAX_ROWS", 0)
    for index in chains:
        got, rows = _index_parity(spark, index, queries)
        assert rows and not got.isLocal()


def test_index_answers_a_local_batch_in_one_job(spark, tmp_path):
    """The same batch with the driver kernels on: the batch collect is
    the only Spark job (its one evaluation of the UDF is the only Python
    work); the engines and the fusion answer on the driver, and the
    caller's collect of the result runs no job."""
    assert _jobs_per_served_batch(spark, tmp_path, "index_jobs_per_local_batch") == 1


def test_index_local_batch_falls_back_to_the_spark_chain(spark, tmp_path, monkeypatch):
    """A chain with an engine that has no driver kernel (QL), a BM25
    with an aux text or a term filter, a fan-out over the exhaustive
    cut, or a BM25 index without its termdf artifact: the batch runs
    the Spark chain over the local relation, with the rows of the chain
    over the caller's frame. A kernel declined on the fan-out leaves
    the batch's terms to the chain's fan-out estimate."""
    import shutil

    from warp_pipes_spark.pipes.cache import CacheManager
    from warp_pipes_spark.search import bm25 as bm25_module
    from warp_pipes_spark.search.bm25 import Bm25Search
    from warp_pipes_spark.search.index import Index
    from warp_pipes_spark.search.ql import DirichletQLSearch

    words, docs, bm25, ivf = _serve_fixture(spark, tmp_path)
    docs = docs.withColumn("lang", F.expr("IF(doc_id % 2 = 0, 'en', 'de')"))
    queries = _query_batch(spark, words, 8, 17).withColumn(
        "aux", F.lit(f"{words[1]} {words[2]}")
    ).withColumn("lang", F.expr("IF(query_id % 3 = 0, 'de', 'en')"))
    local = _local(spark, queries)

    def index_of(engine):
        return Index(
            corpus=docs, engines=[engine, ivf], k=5,
            merge_previous_results=True, merge_strategy="rrf",
        )

    def served_by_the_spark_chain(index):
        assert index._driver_chain(local) is None
        got, rows = _index_parity(spark, index, queries)
        assert rows and got.isLocal()

    cache = str(tmp_path / "fallback")
    served_by_the_spark_chain(index_of(DirichletQLSearch(corpus=docs, k=5, index_cache_dir=cache)))
    served_by_the_spark_chain(index_of(Bm25Search(
        corpus=docs, k=5, aux_text_col="aux", index_cache_dir=cache)))
    served_by_the_spark_chain(index_of(Bm25Search(
        corpus=docs, k=5, filter_key="lang", index_cache_dir=cache)))
    with monkeypatch.context() as m:
        m.setattr(Bm25Search, "_EXHAUSTIVE_MAX_FAN_OUT", 0)
        served_by_the_spark_chain(index_of(bm25))
        # the declined kernel's batch terms serve the chain's fan-out
        # estimate: one tokenizing collect per batch
        fresh, tokenized = _local(spark, queries), []
        real = bm25_module.tokens_expr
        m.setattr(bm25_module, "tokens_expr", lambda c: tokenized.append(c) or real(c))
        assert bm25._driver_topk(fresh) is None
        assert bm25._local_fan_est(fresh) > 0
        assert len(tokenized) == 1
    index = index_of(bm25)
    assert index._driver_chain(local) is not None
    termdf = CacheManager(bm25.index_cache_dir).path_for(bm25._index_fingerprint() + "_termdf")
    shutil.rmtree(termdf)
    served_by_the_spark_chain(index)


def test_ivf_driver_pair_cap_declines_before_building_pairs(spark, tmp_path, monkeypatch):
    """IVF's driver kernel counts a batch's probed (query, vector) pairs
    from the list spans and declines over ``_DRIVER_MAX_PAIRS`` pairs or
    ``_DRIVER_MAX_MULTIPLY_ADDS`` (pairs x dim 6) before it builds any
    pair array; at either cap it answers."""
    from warp_pipes_spark.ml import similarity
    from warp_pipes_spark.ml.similarity import IvfCosineTopK

    words, docs, bm25, ivf = _serve_fixture(spark, tmp_path)
    local = _local(spark, _query_batch(spark, words, 8, 23))
    built = []

    def span_rows(lo, n):
        built.append(int(np.sum(n)))
        return real(lo, n)

    real = similarity.span_rows
    monkeypatch.setattr(similarity, "span_rows", span_rows)
    assert ivf._driver_topk(local)
    (pairs,) = built
    monkeypatch.setattr(IvfCosineTopK, "_DRIVER_MAX_PAIRS", pairs - 1)
    assert ivf._driver_topk(local) is None
    assert built == [pairs]
    monkeypatch.setattr(IvfCosineTopK, "_DRIVER_MAX_PAIRS", pairs)
    assert ivf._driver_topk(local)
    monkeypatch.setattr(IvfCosineTopK, "_DRIVER_MAX_MULTIPLY_ADDS", 6 * pairs - 1)
    assert ivf._driver_topk(local) is None
    assert built == [pairs, pairs]
    monkeypatch.setattr(IvfCosineTopK, "_DRIVER_MAX_MULTIPLY_ADDS", 6 * pairs)
    assert ivf._driver_topk(local)


def test_index_batch_over_the_result_cap_skips_the_driver_chain(spark, tmp_path, monkeypatch):
    """A local batch whose |Q| x k result rows exceed
    ``BoundedCollect.MAX_ROWS`` is not ranked on the driver: it runs the
    Spark chain over the local relation and is not collected."""
    from warp_pipes_spark.io import BoundedCollect
    from warp_pipes_spark.search.index import Index

    words, docs, bm25, ivf = _serve_fixture(spark, tmp_path)
    index = Index(corpus=docs, engines=[bm25, ivf], k=5, merge_previous_results=True)
    queries = _query_batch(spark, words, 8, 29)

    def no_driver_chain(self, local):
        raise AssertionError("driver chain over the result cap")

    monkeypatch.setattr(BoundedCollect, "MAX_ROWS", 8 * 5 - 1)
    monkeypatch.setattr(Index, "_driver_chain", no_driver_chain)
    got, rows = _index_parity(spark, index, queries)
    assert rows and not got.isLocal()


def test_index_wide_batch_runs_the_chain_over_the_callers_frame(spark, tmp_path, monkeypatch):
    """A batch under the row cap but over the byte budget (long texts)
    is not served from a local relation; the rows are the same. A batch
    over the cap evaluates the caller's frame twice: the bounded collect,
    then the checkpoint every engine reads (no exact count)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from warp_pipes_spark.search.index import Index

    words, docs, bm25, ivf = _serve_fixture(spark, tmp_path)
    index = Index(
        corpus=docs, engines=[bm25, ivf], k=5,
        merge_previous_results=True, merge_strategy="rrf",
    )
    evaluated = spark.sparkContext.accumulator(0)

    def count_rows(s: pd.Series) -> pd.Series:
        evaluated.add(len(s))
        return s

    narrow = _query_batch(spark, words, 8, 13)
    wide = narrow.withColumn("body", F.expr("repeat('x', 65536)")).withColumn(
        "text", pandas_udf(count_rows, "string")("text")
    )
    monkeypatch.setattr(Index, "_LOCAL_MAX_BYTES", 256 << 10)
    assert index(narrow).isLocal()
    got = index(wide)
    assert not got.isLocal()
    rows = sorted(map(tuple, got.collect()))
    assert rows and rows == sorted(map(tuple, index._chain(narrow).collect()))
    assert evaluated.value == 2 * 8


def test_ivf_driver_probes_match_udf_probes(spark, tmp_path, monkeypatch):
    """A local query batch probes its cells on the driver with the
    memoized centroids (no pandas UDF on the query side) and returns the
    rows the UDF probe returns."""
    from warp_pipes_spark.ml.similarity import IvfCosineTopK

    words, _docs, _bm25, ivf = _serve_fixture(spark, tmp_path)
    queries = _query_batch(spark, words, 16, 7)
    want = sorted(map(tuple, ivf(queries).collect()))

    def no_udf(*_args, **_kwargs):
        raise AssertionError("the local batch must not build the cell UDF")

    monkeypatch.setattr(IvfCosineTopK, "_cell_udf", no_udf)
    got = sorted(map(tuple, ivf(_local(spark, queries)).collect()))
    assert got and got == want
    assert ivf(_local(spark, queries.limit(0))).collect() == []


def test_bm25_local_batch_exhaustive_matches_theta_prune(spark, tmp_path, monkeypatch):
    """A serve-size local batch with a small fan-out skips the theta
    prune; with the fan-out cut monkeypatched to 0 it takes the prune.
    Both equal the prune over the caller's (non-local) frame."""
    from warp_pipes_spark.search.bm25 import Bm25Search

    words, _docs, bm25, _ivf = _serve_fixture(spark, tmp_path)
    queries = _query_batch(spark, words, 16, 9, extra_words=["oov"]).drop("embedding")
    pruned = []
    prune = Bm25Search._transform_maxscore

    def spy(self, *args, **kwargs):
        pruned.append(1)
        return prune(self, *args, **kwargs)

    monkeypatch.setattr(Bm25Search, "_transform_maxscore", spy)
    want = sorted(map(tuple, bm25(queries).collect()))
    assert pruned == [1]
    exhaustive = sorted(map(tuple, bm25(_local(spark, queries)).collect()))
    assert pruned == [1]
    monkeypatch.setattr(Bm25Search, "_EXHAUSTIVE_MAX_FAN_OUT", 0)
    theta = sorted(map(tuple, bm25(_local(spark, queries)).collect()))
    assert pruned == [1, 1]
    assert want and exhaustive == want and theta == want


def test_decimal_units_match_spark_cast(spark):
    """The driver twin of CAST(double AS DECIMAL(18,6)) equals Spark's
    cast over a local relation, on values of every magnitude and sign,
    on exact halves and on the doubles a few ulps either side of a half
    (where the JVM's decimal string decides the rounding); values Spark
    cannot cast give None."""
    import pyarrow as pa

    from warp_pipes_spark.core.driver import decimal_units

    rng = np.random.RandomState(7)
    magnitudes = (rng.rand(4000) * 2 - 1) * 10.0 ** rng.randint(-8, 12, 4000)
    halves = (rng.randint(0, 10**9, 2000) + 0.5) / 1e6
    near = [x for h in halves[:500] for x in (np.nextafter(h, 0), np.nextafter(h, 2e12))]
    named = [1.0000005, 0.1234565, 2.5e-7, -1.0000005, -2.5e-7, 0.0, 99999999999.9999995]
    values = np.concatenate([magnitudes, halves, -halves, near, named])
    frame = spark.createDataFrame(pa.table({"d": values}))
    want = [
        int(r[0].scaleb(6))
        for r in frame.select(F.col("d").cast("decimal(18,6)")).collect()
    ]
    assert decimal_units(values, spark).tolist() == want
    for bad in (1e12, -1e12, float("nan"), float("inf")):
        assert decimal_units(np.array([0.5, bad]), spark) is None


def test_bounded_collect_caps_one_job_and_counts_skew(spark, monkeypatch):
    """Under the cap: every row in one job. A partition over its share
    (most rows in one of four partitions) is counted exactly before refusing, so a
    skewed frame under the cap is still collected (with ``exact=False``
    it is refused); over the cap: None.
    BruteForce's pandas path keeps its over-cap ValueError."""
    from warp_pipes_spark.io import BoundedCollect

    even = spark.range(0, 40, 1, 4).selectExpr("id", "id * 2 AS v")
    # 37 rows in the first of four partitions, one in each other
    skewed = spark.range(0, 37, 1, 1).union(spark.range(37, 40, 1, 3)).selectExpr(
        "id", "id * 2 AS v"
    )
    assert skewed.rdd.getNumPartitions() == 4
    want = sorted(map(tuple, even.collect()))
    for df in (even, skewed):
        got = BoundedCollect.arrow(df, 40)
        assert sorted(zip(*got.to_pydict().values())) == want
        assert BoundedCollect.arrow(df, 39) is None
    # without the exact count, a partition over its share refuses
    assert BoundedCollect.arrow(skewed, 40, exact=False) is None
    assert BoundedCollect.arrow(even, 40, exact=False) is not None
    sc = spark.sparkContext
    sc.setJobGroup("bounded_collect_jobs", "one bounded collect")
    try:
        BoundedCollect.arrow(even, 40)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("bounded_collect_jobs")) == 1
    monkeypatch.setattr(BoundedCollect, "MAX_ROWS", 10)
    assert BoundedCollect.arrow(even) is None

    rng = np.random.RandomState(4)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(4)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter("vec_id < 6").coalesce(1)
    pandas = BruteForceCosineTopK(corpus=emb, k=3, strategy="pandas", max_query_rows=6)
    join = BruteForceCosineTopK(corpus=emb, k=3)
    def ranked(df):
        return {(r["query_id"], r["rank"]): r["neighbor_id"] for r in df.collect()}

    assert ranked(pandas(q)) == ranked(join(q))
    with pytest.raises(ValueError, match="max_query_rows"):
        BruteForceCosineTopK(corpus=emb, k=3, strategy="pandas", max_query_rows=5)(q).collect()
