"""Index orchestrator: corpus + engine chain.

Capability parity with the reference's ``Index``
(``warp_pipes/search/index.py:38-248``): own a corpus, build a chain of
engines, run queries through the chain where each engine sees the previous
engine's results (re-rankers consume them; retrievers optionally merge with
them by score-sum, the reference's ``merge_previous_results``).

Here "build" materializes DataFrames (and can persist them under the pipe
fingerprint via the cache manager); "query" is a lazy transform chain. A
query batch that fits the driver is collected once and the chain answers
it from a driver-local relation; a larger batch runs the chain over the
caller's frame. When every engine of the chain has a driver kernel, the
local batch is answered on the driver from the engines' index artifacts
and fused there, and the batch collect is the only Spark job."""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from warp_pipes_spark.core.pipe import Pipe
from warp_pipes_spark.core.fingerprint import combine_fingerprints
from warp_pipes_spark.io import BoundedCollect, local_frame
from warp_pipes_spark.search.result import (
    merge_local,
    merge_results,
    rrf_fuse,
    rrf_local,
    topk_local,
    topk_results,
)
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
        self._result_schemas: dict = {}

    _no_fingerprint = ("corpus",)

    # the largest query batch served from a driver-local relation, in rows
    # and in Arrow bytes (a batch of long texts or wide embeddings runs
    # the chain over the caller's frame); the batch collect holds at most
    # _LOCAL_MAX_ROWS plus one row per partition before the byte check.
    # 2,048 rows is the largest batch measured to gain: over an 800-doc
    # BM25 + IVF index on 4 vCPU, CPU per batch fell 34% at 16 queries,
    # 22% at 256 and 16% at 2,048
    _LOCAL_MAX_ROWS = 2_048
    _LOCAL_MAX_BYTES = 32 << 20

    @property
    def build_fingerprint(self) -> str:
        return combine_fingerprints(*[e.fingerprint for e in self.engines])

    def _merges(self, engine: Pipe) -> bool:
        return self.merge_previous_results and getattr(engine, "merge_previous_results", True)

    def _steps(self) -> list:
        """The chain as ``(engine, op)`` steps. ``op`` is 'rerank' (a
        ``TopkSearch`` over the previous results), 'set' (the engine's
        results replace them), or 'sum' / 'rrf' (merged into them). A
        retriever whose results the next retriever replaces unmerged is
        left out: it is never built (BM25 runs jobs while it plans)."""
        steps: list = []
        for i, engine in enumerate(self.engines):
            if isinstance(engine, TopkSearch):
                if not steps:
                    raise ValueError("re-ranker engine requires previous results")
                steps.append((engine, "rerank"))
                continue
            nxt = self.engines[i + 1] if i + 1 < len(self.engines) else None
            if nxt is not None and not isinstance(nxt, TopkSearch) and not self._merges(nxt):
                continue
            merges = bool(steps) and self._merges(engine)
            steps.append((engine, self.merge_strategy if merges else "set"))
        return steps

    def _ranked(self, steps: list) -> bool:
        """Whether the chain already ends in a re-rank to <= k, so the
        final top-k would re-sort an already-ranked set (skipped: one
        shuffle + sort saved per batch, identical rows)."""
        engine, op = steps[-1]
        return op == "rerank" and engine.k <= self.k

    def _chain(self, queries: DataFrame) -> DataFrame:
        """The engine chain over ``queries`` as one plan."""
        steps = self._steps()
        prev: Optional[DataFrame] = None
        for engine, op in steps:
            if op == "rerank":
                prev = engine.transform(prev)
                continue
            out = engine.transform(queries)
            if "idx" not in out.columns and "neighbor_id" in out.columns:
                # dense engines emit the reference's neighbor_id naming;
                # normalize to the (query_id, idx, score) result convention
                out = out.withColumnRenamed("neighbor_id", "idx")
            cur = out.select("query_id", "idx", "score")
            if op == "set":
                prev = cur
            elif op == "rrf":
                prev = rrf_fuse(
                    topk_results(prev, self.rrf_depth),
                    topk_results(cur, self.rrf_depth),
                    c=self.rrf_c,
                    k=self.rrf_depth,
                ).select("query_id", "idx", F.col("rrf").alias("score"))
            else:
                prev = merge_results(prev, cur)
        return prev if self._ranked(steps) else topk_results(prev, self.k)

    def _driver_chain(self, local: DataFrame) -> Optional[dict]:
        """``_chain``'s rows for a driver-local batch computed on the
        driver, ``{query_id: [(idx, score), ...]}`` in rank order: every
        retriever answers from its index artifact (``_driver_topk``) and
        the fusion runs through ``result.py``'s driver twins. None when
        an engine has no driver kernel or declines the batch."""
        steps = self._steps()
        if not all(
            type(e) is TopkSearch and e.input_filter is None and not e.update
            if op == "rerank"
            else hasattr(e, "_driver_topk")
            for e, op in steps
        ):
            return None
        spark = local.sparkSession
        prev: Optional[dict] = None
        id_types: set = set()
        for engine, op in steps:
            if op == "rerank":
                prev = topk_local(prev, engine.k)
                continue
            cur = engine._driver_topk(local)
            if cur is None:
                return None
            # the result schema types query_id as Spark coerced it: a
            # chain whose engines disagree runs in Spark
            id_types.update(type(q) for q in cur)
            if len(id_types) > 1:
                return None
            if op == "set":
                prev = cur
            elif op == "rrf":
                prev = rrf_local(
                    topk_local(prev, self.rrf_depth),
                    topk_local(cur, self.rrf_depth),
                    spark,
                    c=self.rrf_c,
                    k=self.rrf_depth,
                )
            else:
                prev = merge_local(prev, cur)
                if prev is None:
                    return None
        return prev if self._ranked(steps) else topk_local(prev, self.k)

    def _result_schema(self, spark, batch, schema: StructType) -> StructType:
        """``_chain``'s result schema for a batch of ``schema``, memoized:
        planned once over an empty local relation (no job)."""
        key = schema.json()
        if key not in self._result_schemas:
            empty = spark.createDataFrame(batch.slice(0, 0), schema=schema)
            self._result_schemas[key] = self._chain(empty).schema
        return self._result_schemas[key]

    def _transform(self, queries: DataFrame, **kwargs) -> DataFrame:
        batch = BoundedCollect.arrow(queries, self._LOCAL_MAX_ROWS, exact=False)
        if batch is None or batch.nbytes > self._LOCAL_MAX_BYTES:
            # too large for the driver: the chain over the caller's frame.
            # Every engine scans it (BM25 alone three times), so checkpoint
            # it: the first engine action evaluates it once more, and every
            # later scan reads its blocks
            return self._chain(queries.localCheckpoint(eager=False))
        spark = queries.sparkSession
        # a JVM LocalRelation: its scans run no Python task
        local = spark.createDataFrame(batch, schema=queries.schema)
        if batch.num_rows * self.k > BoundedCollect.MAX_ROWS:
            # more result rows than a driver collect may hold
            return self._chain(local)
        ranked = self._driver_chain(local)
        if ranked is not None:
            # every engine answered from its index on the driver: the
            # batch collect was the only Spark job
            rows = [
                (q, rank, idx, score)
                for q, top in ranked.items()
                for rank, (idx, score) in enumerate(top, 1)
            ]
            return local_frame(spark, rows, self._result_schema(spark, batch, queries.schema))
        result = self._chain(local)
        # at most |Q| x k rows, returned as a local relation: the caller's
        # collect runs no job and a second scan does not re-run the chain
        return local_frame(spark, result.collect(), result.schema)
