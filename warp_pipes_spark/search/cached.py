"""Results-cache composition for the eval/agreement tier.

The retrieval ENGINES already share their expensive corpus artifact (the
tokenization-keyed postings Parquet — ``search/bm25.py`` ``_raw_postings``),
but every evaluation panel on top of them re-ran the scoring fan-out: the
ranker-agreement audit (q219) recomputed the full BM25 AND Dirichlet-QL
top-k that q32/q217 compute, and the MRR/NDCG/RRF/rerank panels
(q129/q139/q138/q141) each re-ran BM25 retrieval over the same query
batch — at the 10x soak, 8 of the 12 most expensive rows were re-deriving
the same ranked lists.

:func:`cached_results` composes :class:`~warp_pipes_spark.pipes.cache.
CachedPipe` around a retrieval run, keyed by (queries fingerprint, corpus
fingerprint, pipe fingerprint) — the corpus must enter the key explicitly
because engines exclude their corpus frame from the pipe fingerprint
(``_no_fingerprint``). The first panel to need a (engine config, corpus,
query batch) ranking pays the full scoring cost and stores the top-k
table (k x |Q| rows — trivially small); every later panel serves it from
Parquet, so an agreement audit costs one join, not two retrievals.

Measurement honesty: results reuse is a real production win but must not
silently turn engine bench rows warm — ``bench.py`` and the soak/scaling
harnesses call :func:`clear_results_cache` before timing, so their first
eval-tier row is a true cold run and within-run reuse is exactly the
reuse a production panel would see. The engine queries themselves
(q32/q217) do NOT route through this cache.

Publishing is synchronous (``CacheManager.store``): the first panel's
ranking is on disk before :func:`cached_results` returns, and that panel
reads it back from Parquet like every later one.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Optional

from pyspark.sql import DataFrame

from warp_pipes_spark.core.fingerprint import (
    fingerprint_dataframe,
    get_fingerprint,
)
from warp_pipes_spark.core.pipe import Pipe
from warp_pipes_spark.pipes.cache import CachedPipe, CacheManager


def results_cache_dir() -> str:
    """Override with ``WPS_RESULTS_CACHE_DIR`` (point at shared storage
    on a cluster so panels on different drivers reuse runs)."""
    return os.environ.get(
        "WPS_RESULTS_CACHE_DIR",
        os.path.join(tempfile.gettempdir(), "warp_pipes_spark_results"),
    )


def clear_results_cache() -> None:
    shutil.rmtree(results_cache_dir(), ignore_errors=True)


def cached_results(
    pipe: Pipe, queries: DataFrame, cache_dir: Optional[str] = None
) -> DataFrame:
    """Run ``pipe(queries)`` through the fingerprint-keyed results cache.

    ``pipe`` must carry its corpus as ``pipe.corpus`` (the engine
    convention); the cache key combines the query batch's and corpus's
    plan fingerprints with the pipe config fingerprint, so any change to
    corpus content, query batch, or ranking constants recomputes.

    k-PREFIX SERVING: entries are keyed by the engine config WITHOUT its
    ``k`` (the family key) with the depth recorded in the entry name, so
    a request at k can be served from any cached run of the same family
    at k' >= k by a rank slice — these engines rank deterministically
    (score desc, id asc tie-break), so the top-k list IS a prefix of the
    top-k' list. An MRR@10 panel after a fused k=20 run costs one
    filtered read, not a retrieval. Engines without an integer ``k`` or
    a ``rank`` output column fall back to exact-config memoization."""
    manager = CacheManager(cache_dir or results_cache_dir())
    input_fp = get_fingerprint(
        {
            "op": "search_results_v1",
            "queries": fingerprint_dataframe(queries),
            "corpus": fingerprint_dataframe(pipe.corpus),
        }
    )
    k = getattr(pipe, "k", None)
    if not isinstance(k, int) or k <= 0:
        return CachedPipe(pipe, manager, input_fingerprint=input_fp)(queries)
    struct = dict(pipe.to_json_struct())
    struct.pop("k", None)
    family = get_fingerprint(
        {"op": "search_results_family_v1", "input": input_fp, "pipe": struct}
    )
    prefix = family + "_k"
    spark = queries.sparkSession
    # smallest cached depth that covers the request = cheapest read
    best = None
    try:
        names = os.listdir(manager.cache_dir)
    except OSError:
        names = []
    for name in names:
        if not name.startswith(prefix):
            continue
        try:
            cached_k = int(name[len(prefix):])
        except ValueError:
            continue
        if cached_k >= k and manager.exists(name) and (
            best is None or cached_k < best
        ):
            best = cached_k
    if best is not None:
        out = manager.load(spark, f"{prefix}{best}")
        if best > k:
            from pyspark.sql import functions as F

            out = out.filter(F.col("rank") <= k)
        return out
    out = pipe(queries)
    if "rank" not in out.columns:
        from warp_pipes_spark.core.fingerprint import combine_fingerprints

        return manager.get_or_compute(
            spark,
            combine_fingerprints(input_fp, pipe.fingerprint),
            lambda: out,
            meta={"pipe": type(pipe).__name__},
        )
    return manager.store(
        out, f"{prefix}{k}", meta={"pipe": type(pipe).__name__, "k": k}
    )
