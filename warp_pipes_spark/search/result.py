"""Search-result algebra in exploded long form.

The reference keeps results as dense ``[batch, k]`` index/score arrays
(``warp_pipes/search/result.py:155-177``) with ``-1``/``-inf`` padding and a
merge algebra that unions indices per row and **sums scores of duplicate
indices** (``result.py:199-239``, ``:280-329``). A dense rectangle is the
wrong layout for a shuffle engine, so the canonical representation here is
the long form::

    (query_id long, idx long, score double)

which makes the whole algebra relational:

- merge  = union → groupBy(query_id, idx) sum(score)   (map-side combine)
- top-k  = Window.partitionBy(query_id).orderBy(desc(score)) row_number <= k
- pad    = left-join against the query set + coalesce to (-1, -inf)

The reference's refill-missing-with-random-ids behavior
(``result.py:265-271``) is intentionally dropped (nondeterministic); ``-1``
sentinels are kept.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from warp_pipes_spark.core.driver import decimal_units

RESULT_COLS = ("query_id", "idx", "score")


def merge_results(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two result sets with the reference's FULL ``SearchResult.__add__``
    semantics (``warp_pipes/search/result.py:199-239``): each side's scores
    are offset by its per-query finite minimum before the duplicate-index
    sum and offset back after. Net effect per (query, idx):

    - present in both:   ``score_a + score_b`` (offsets cancel exactly)
    - present in a only: ``score_a + min_b(query)``
    - present in b only: ``score_b + min_a(query)``

    i.e. an idx one engine did not return implicitly takes that engine's
    per-query minimum — so an engine with negative score scales cannot be
    out-ranked by mere absence (the raw-sum treats absence as 0, which
    beats any negative score). A side with no finite scores for a query
    contributes offset 0, mirroring ``_get_real_min``'s inf guard; padding
    sentinels (idx = -1) are dropped before the merge so they never acquire
    mass. Duplicate (query, idx) rows WITHIN one side are summed first (the
    reference's dense rows cannot express within-side duplicates).

    Plan shape: per-side pre-aggregation and the full-outer join share the
    (query_id, idx) partitioning; the per-query minimums come from ONE
    window over the joined frame (each side's rows survive a full-outer
    join exactly once, so the window min over present values IS the side
    min — no second scan of either input, no min-frame joins)."""
    finite = (
        lambda c: (~F.isnan(c))
        & (c != F.lit(float("inf")))
        & (c != F.lit(float("-inf")))
    )

    def side(df, name):
        return (
            df.select(*RESULT_COLS)
            .filter(F.col("idx") >= 0)
            .groupBy("query_id", "idx")
            .agg(F.sum("score").alias(name))
        )

    fa, fb = side(a, "score_a"), side(b, "score_b")
    j = fa.join(fb, ["query_id", "idx"], "full_outer")
    w = Window.partitionBy("query_id")
    min_a = F.min(F.when(finite(F.col("score_a")), F.col("score_a"))).over(w)
    min_b = F.min(F.when(finite(F.col("score_b")), F.col("score_b"))).over(w)
    # an absent side contributes its own per-query minimum (reference:
    # offset-by-min, sum, offset-back algebra reduces to exactly this)
    score = F.coalesce(F.col("score_a"), min_a, F.lit(0.0)) + F.coalesce(
        F.col("score_b"), min_b, F.lit(0.0)
    )
    return j.select("query_id", "idx", score.alias("score"))


def topk_results(results: DataFrame, k: int) -> DataFrame:
    """Keep the k best rows per query (desc score, idx tie-break)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("idx"))
    return (
        results.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "idx", "score")
    )


def pad_results(results: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Guarantee exactly k rows per query: rank-fill missing slots with
    (idx=-1, score=-inf), mirroring the reference's pad-to-length semantics
    (``result.py:253-263``)."""
    spark = results.sparkSession
    ranks = spark.range(1, k + 1).select(F.col("id").cast("int").alias("rank"))
    slots = queries.select("query_id").distinct().crossJoin(ranks)
    ranked = topk_results(results, k)
    return (
        slots.join(ranked, on=["query_id", "rank"], how="left")
        .select(
            "query_id",
            "rank",
            F.coalesce(F.col("idx"), F.lit(-1)).alias("idx"),
            F.coalesce(F.col("score"), F.lit(float("-inf"))).alias("score"),
        )
    )


def results_to_arrays(results: DataFrame, k: int) -> DataFrame:
    """Long form → the reference's dense per-query arrays
    (``idx array<long>, score array<double>`` sorted by rank), for consumers
    that want the ``[batch, k]`` shape."""
    ranked = topk_results(results, k)
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("rank", "idx", "score"))).alias("rows")
        )
        .select(
            "query_id",
            F.transform("rows", lambda r: r["idx"]).alias("idx"),
            F.transform("rows", lambda r: r["score"]).alias("score"),
        )
    )


def rrf_fuse(*ranked: DataFrame, c: float = 60.0, k: int = 10) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al., SIGIR 2009) over N ranked
    result sets: ``rrf(q, d) = Σ_engines 1/(c + rank_e(d))``, then top-k per
    query — the standard score-free combiner for heterogeneous engines
    (lexical + dense), robust to incomparable score scales where
    :func:`merge_results`'s raw score sums are not.

    Inputs are ``(query_id, rank, idx, ...)`` frames (any engine's top-k
    output). Contributions round through DECIMAL(18,6) so the fused sum is
    order- and partitioning-free; output is ``(query_id, rank, idx,
    rrf DOUBLE)`` with deterministic idx tie-break. One narrow shuffle on
    (query_id, idx) over inputs already truncated to k rows per engine."""
    contribs = [
        # drop pad_results' idx = -1 sentinels (mirrors merge_results):
        # padding must not accrue reciprocal-rank mass
        r.filter(F.col("idx") >= 0).select(
            "query_id",
            "idx",
            (F.lit(1.0) / (F.lit(float(c)) + F.col("rank").cast("double")))
            .cast("decimal(18,6)")
            .alias("rr"),
        )
        for r in ranked
    ]
    u = contribs[0]
    for nxt in contribs[1:]:
        u = u.unionByName(nxt)
    fused = u.groupBy("query_id", "idx").agg(F.sum("rr").alias("rrf"))
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("idx"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "idx",
            F.col("rrf").cast("decimal(18,6)").cast("double").alias("rrf"),
        )
    )


# -- driver twins ------------------------------------------------------------
# The same algebra over result sets already on the driver, as
# ``{query_id: [(idx, score), ...]}`` (a top-k's rows in rank order): each
# returns the rows its Spark twin above returns, bit for bit.


def topk_local(results: dict, k: int) -> dict:
    """:func:`topk_results` on the driver."""
    out = {}
    for q, rows in results.items():
        top = sorted(rows, key=lambda r: (-r[1], r[0]))[: max(k, 0)]
        if top:
            out[q] = top
    return out


def merge_local(a: dict, b: dict) -> "dict | None":
    """:func:`merge_results` on the driver; None when one side holds a
    (query, idx) more than twice, whose double sum depends on the order
    Spark adds it in."""

    def side(results: dict) -> "dict | None":
        out: dict = {}
        for q, rows in results.items():
            sums, seen = {}, {}
            for idx, score in rows:
                if idx >= 0:
                    seen[idx] = seen.get(idx, 0) + 1
                    sums[idx] = sums.get(idx, 0.0) + score
            if any(n > 2 for n in seen.values()):
                return None
            if sums:
                out[q] = sums
        return out

    sa, sb = side(a), side(b)
    if sa is None or sb is None:
        return None
    out = {}
    for q in {**sa, **sb}:
        ra, rb = sa.get(q, {}), sb.get(q, {})
        min_a = min((s for s in ra.values() if math.isfinite(s)), default=0.0)
        min_b = min((s for s in rb.values() if math.isfinite(s)), default=0.0)
        out[q] = [(idx, ra.get(idx, min_a) + rb.get(idx, min_b)) for idx in {**ra, **rb}]
    return out


def rrf_local(a: dict, b: dict, spark, c: float = 60.0, k: int = 10) -> dict:
    """:func:`rrf_fuse` of two ranked result sets on the driver: each
    rank's contribution is the same DECIMAL(18,6), summed exactly in
    scaled longs."""
    depth = max([len(rows) for rows in (*a.values(), *b.values())], default=0)
    rr = decimal_units(1.0 / (float(c) + np.arange(1, depth + 1, dtype=np.float64)), spark)
    sums: dict = {}
    for results in (a, b):
        for q, rows in results.items():
            per_q = sums.setdefault(q, {})
            for rank, (idx, _score) in enumerate(rows):
                if idx >= 0:
                    per_q[idx] = per_q.get(idx, 0) + int(rr[rank])
    out = {}
    for q, per_q in sums.items():
        top = sorted(per_q.items(), key=lambda r: (-r[1], r[0]))[: max(k, 0)]
        if top:
            out[q] = [(idx, units / 1e6) for idx, units in top]
    return out
