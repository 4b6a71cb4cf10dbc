"""Index orchestrator: corpus + engine chain.

Capability parity with the reference's ``Index``
(``warp_pipes/search/index.py:38-248``): own a corpus, build a chain of
engines, run queries through the chain where each engine sees the previous
engine's results (re-rankers consume them; retrievers optionally merge with
them by score-sum, the reference's ``merge_previous_results``).

Here "build" materializes DataFrames (and can persist them under the pipe
fingerprint via the cache manager); "query" is a lazy transform chain."""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warp_pipes_spark.core.pipe import Pipe
from warp_pipes_spark.core.fingerprint import combine_fingerprints
from warp_pipes_spark.search.result import merge_results, topk_results
from warp_pipes_spark.search.topk import TopkSearch


class Index(Pipe):
    """``engines``: sequence of Pipes producing long-form results
    (query_id, idx, score[, rank]) from a query DataFrame. Re-rank engines
    (``TopkSearch``) are fed the previous results instead of the queries."""

    def __init__(
        self,
        corpus: DataFrame,
        engines: Sequence[Pipe],
        k: int = 10,
        merge_previous_results: bool = False,
        merge_strategy: str = "sum",
        rrf_c: float = 60.0,
        rrf_depth: int = 100,
        **kwargs,
    ):
        if merge_strategy not in ("sum", "rrf"):
            raise ValueError(f"merge_strategy must be 'sum' or 'rrf', got {merge_strategy!r}")
        super().__init__(**kwargs)
        self.corpus = corpus
        self.engines = list(engines)
        self.k = k
        self.merge_previous_results = merge_previous_results
        # 'sum' = the reference's merge_previous_results score addition;
        # 'rrf' = reciprocal-rank fusion (scale-free — correct when the
        # chained engines score on incomparable scales, e.g. BM25 + cosine);
        # each side contributes its top-rrf_depth ranks
        self.merge_strategy = merge_strategy
        self.rrf_c = rrf_c
        self.rrf_depth = rrf_depth

    _no_fingerprint = ("corpus",)

    @property
    def build_fingerprint(self) -> str:
        return combine_fingerprints(*[e.fingerprint for e in self.engines])

    def _transform(self, queries: DataFrame, **kwargs) -> DataFrame:
        # every engine scans the query frame (BM25 alone scans it three
        # times); a caller's frame is usually an uncached Python source or
        # UDF, and each Python task costs a fixed worker start-up, so
        # checkpoint it: the first engine action materializes the batch
        # once and every later scan reads its blocks
        queries = queries.localCheckpoint(eager=False)
        prev: Optional[DataFrame] = None
        # k of the trailing TopkSearch (if any): when the chain already ends
        # in a re-rank to <= self.k, the final window would re-sort an
        # already-ranked set — skip it (one shuffle+sort saved per query
        # batch; the driver-visible result is identical)
        ranked_k: Optional[int] = None
        for engine in self.engines:
            if isinstance(engine, TopkSearch):
                if prev is None:
                    raise ValueError("re-ranker engine requires previous results")
                prev = engine.transform(prev)
                ranked_k = engine.k
                continue
            ranked_k = None
            out = engine.transform(queries)
            if "idx" not in out.columns and "neighbor_id" in out.columns:
                # dense engines emit the reference's neighbor_id naming;
                # normalize to the (query_id, idx, score) result convention
                out = out.withColumnRenamed("neighbor_id", "idx")
            if prev is not None and self.merge_previous_results and getattr(
                engine, "merge_previous_results", True
            ):
                cur = out.select("query_id", "idx", "score")
                if self.merge_strategy == "rrf":
                    from warp_pipes_spark.search.result import rrf_fuse

                    prev = rrf_fuse(
                        topk_results(prev, self.rrf_depth),
                        topk_results(cur, self.rrf_depth),
                        c=self.rrf_c,
                        k=self.rrf_depth,
                    ).select("query_id", "idx", F.col("rrf").alias("score"))
                else:
                    prev = merge_results(prev, cur)
            else:
                prev = out.select("query_id", "idx", "score")
        if ranked_k is not None and ranked_k <= self.k:
            return prev
        return topk_results(prev, self.k)
