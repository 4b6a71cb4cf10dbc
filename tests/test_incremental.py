"""IncrementalAgg: mergeable-partials invariants, and the IVF centroid cache."""

from __future__ import annotations

from pyspark.sql import functions as F

from warp_pipes_spark.pipes.incremental import (
    IncrementalAgg,
    finalize_state,
    merge_states,
    partial_state,
)


def _norm(rows):
    return sorted(tuple(r) for r in rows)


def test_incremental_equals_direct(spark, sf_dir):
    """state(80%) + batch(20%) must be bit-identical to one direct pass."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    direct = finalize_state(
        partial_state(ev, ["event_type"], "value"), ["event_type"]
    )
    state = partial_state(
        ev.filter(F.col("event_id") % 10 < 8), ["event_type"], "value"
    )
    inc = IncrementalAgg(
        keys=["event_type"], value_col="value", state=state, finalize=True
    )(ev.filter(F.col("event_id") % 10 >= 8))
    assert _norm(direct.collect()) == _norm(inc.collect())


def test_merge_is_order_and_split_invariant(spark, sf_dir):
    """Any batch split, folded in any order, yields the same state."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    parts = [
        partial_state(ev.filter(F.col("event_id") % 3 == i), ["event_type"], "value")
        for i in range(3)
    ]
    fwd = merge_states(merge_states(parts[0], parts[1], ["event_type"]), parts[2], ["event_type"])
    rev = merge_states(parts[2], merge_states(parts[1], parts[0], ["event_type"]), ["event_type"])
    assert _norm(finalize_state(fwd, ["event_type"]).collect()) == _norm(
        finalize_state(rev, ["event_type"]).collect()
    )


def test_no_state_returns_batch_partials(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(100)
    out = IncrementalAgg(keys=["event_type"], value_col="value")(ev)
    assert set(out.columns) == {"event_type", "n", "s", "mn", "mx"}
    assert out.agg(F.sum("n")).collect()[0][0] == 100


def test_ivf_centroid_cache_round_trips(spark, sf_dir, tmp_path):
    """Two engine instances over the same corpus+config share one trained
    artifact; the cached centroids reproduce the uncached ones exactly."""
    import numpy as np

    from warp_pipes_spark.ml.similarity import IvfCosineTopK

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mk = lambda: IvfCosineTopK(  # noqa: E731
        corpus=emb, n_centroids=4, seed=11, centroid_cache_dir=str(tmp_path)
    )
    fresh = mk()._train_centroids()
    c1 = mk()._centroids()  # trains + stores
    c2 = mk()._centroids()  # loads
    assert np.allclose(c1, c2) and c1.shape == c2.shape
    assert np.allclose(c1, fresh)
    import os

    published = [d for d in os.listdir(tmp_path) if not d.endswith("_SUCCESS")]
    assert len(published) == 1  # one artifact, shared


def test_incremental_minhash_near_dup_gate(spark):
    """Near-dup pairs are NEW x CORPUS only: paraphrase pairs across sides
    are found; near-dups WITHIN the new batch or within the corpus are not
    this operator's business and must not appear."""
    from warp_pipes_spark.text.dedup import IncrementalMinHashDedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated corpus content about databases"),
            (3, "the quick brown fox jumps over the lazy dog at dawn"),  # near-dup of 1
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),   # ~ 1 and 3
            (11, "the quick brown fox jumps over the lazy dog right now"),  # ~ 10 too
            (12, "fresh content with no counterpart anywhere"),
        ],
        "doc_id long, text string",
    )
    out = IncrementalMinHashDedup(
        corpus=corpus, n=3, threshold=0.3, materialize_shingles=False
    )(new).collect()
    pairs = {(r["new_id"], r["corpus_id"]) for r in out}
    assert (10, 1) in pairs and (10, 3) in pairs
    assert all(n in (10, 11) and c in (1, 3) for n, c in pairs)
    # within-side near-dups (10~11, 1~3) never appear
    assert (10, 11) not in pairs and (11, 10) not in pairs
    assert all(r["jaccard"] >= 0.3 for r in out)


def test_ivf_centroids_memoized_per_snapshot(spark, sf_dir, tmp_path):
    """Serving the centroids again runs no Spark job; republishing the
    artifact under the same fingerprint serves the new matrix."""
    import os
    import shutil

    import numpy as np

    from warp_pipes_spark.ml.similarity import IvfCosineTopK
    from warp_pipes_spark.pipes.cache import CacheManager

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mk = lambda: IvfCosineTopK(  # noqa: E731
        corpus=emb, n_centroids=4, seed=13, centroid_cache_dir=str(tmp_path)
    )
    c1 = mk()._centroids()  # trains + stores
    sc = spark.sparkContext
    sc.setJobGroup("ivf_centroids_memo", "second _centroids call")
    try:
        c2 = mk()._centroids()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("ivf_centroids_memo") == []
    assert np.array_equal(c1, c2)

    (fp,) = [d for d in os.listdir(tmp_path) if not d.startswith(".")]
    manager = CacheManager(str(tmp_path))
    shutil.rmtree(manager.path_for(fp))
    new = c1[::-1] * 0.5
    manager.store(
        spark.createDataFrame(
            [(i, [float(x) for x in new[i]]) for i in range(len(new))],
            "cell int, centroid array<double>",
        ),
        fp,
    )
    assert np.array_equal(mk()._centroids(), new)
