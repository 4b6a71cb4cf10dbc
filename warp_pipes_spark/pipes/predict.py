"""Model inference with deterministic caching.

Capability parity with ``warp_pipes/pipes/predict.py`` (PredictWithoutCache
``:34-64``, PredictWithCache ``:67-255``, Predict ``:258-293``) and the
vector-cache machinery in ``warp_pipes/support/caching.py:112-201``:

- run a model over a dataset once, memoize outputs keyed by content
  fingerprint, then serve lookups — here the "store" is a Parquet table
  ``(row_id, vector)`` and "lookup" is a join on ``row_id``;
- the reference's Lightning loop + async zarr writer is replaced wholesale
  by a Pandas UDF over Arrow batches + an atomic Parquet write.

The model function runs executor-side; model weights should be broadcast or
lazily loaded per executor (see ``HFTokenizer`` for the lazy-singleton
pattern). In this container no torch/transformers exist, so ``model_fn`` is
any ``np.ndarray -> np.ndarray``-like batch function (tests use a
deterministic fake, mirroring the reference's test models)."""

from __future__ import annotations

from typing import Callable, Iterator, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warp_pipes_spark.core.fingerprint import (
    combine_fingerprints,
    fingerprint_dataframe,
    get_fingerprint,
)
from warp_pipes_spark.core.pipe import Pipe
from warp_pipes_spark.pipes.cache import CacheManager


class PredictWithoutCache(Pipe):
    """Run ``model_fn`` over ``input_col`` via mapInPandas, emitting
    ``output_col`` (array<float>). No memoization."""

    def __init__(
        self,
        model_fn: Callable,
        input_col: str = "text",
        output_col: str = "vector",
        id_col: str = "row_id",
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.model_fn = model_fn
        self.input_col = input_col
        self.output_col = output_col
        self.id_col = id_col

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        model_fn = self.model_fn

        # iterator-form scalar UDF: per-executor setup (model load) happens
        # once per partition, output is a plain withColumn — no join-back,
        # the input is scanned exactly once
        def infer(batches):
            for series in batches:
                vecs = model_fn(series.to_numpy())
                yield pd.Series([list(map(float, v)) for v in vecs])

        infer.__annotations__ = {
            "batches": Iterator[pd.Series],
            "return": Iterator[pd.Series],
        }
        udf = pandas_udf(infer, "array<double>")
        return df.withColumn(self.output_col, udf(F.col(self.input_col)))


class Predict(Pipe):
    """Cache-or-compute (reference ``Predict``, ``predict.py:258-293``):
    if the vectors table for ``hash(model_fp, input_fp, output_col)`` exists,
    join it; else run inference, write it, then join. The join on ``row_id``
    replaces the reference's positional ``store[idx]`` reads."""

    def __init__(
        self,
        model_fn: Callable,
        manager: CacheManager,
        model_fingerprint: Optional[str] = None,
        input_fingerprint: Optional[str] = None,
        input_col: str = "text",
        output_col: str = "vector",
        id_col: str = "row_id",
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.inner = PredictWithoutCache(
            model_fn, input_col=input_col, output_col=output_col, id_col=id_col
        )
        self.manager = manager
        self.model_fingerprint = model_fingerprint or get_fingerprint(model_fn)
        self.input_fingerprint = input_fingerprint
        self.output_col = output_col
        self.id_col = id_col

    _no_fingerprint = ("manager", "inner")

    def cache_fingerprint(self, df: DataFrame) -> str:
        # the content fingerprint, not ``semanticHash``: a plan over a
        # rewritten source hashes the same, and the hash differs per JVM
        input_fp = self.input_fingerprint or fingerprint_dataframe(df)
        return combine_fingerprints(self.model_fingerprint, input_fp, self.output_col)

    def cache(self, df: DataFrame) -> DataFrame:
        """Materialize the vectors table (reference ``.cache(dataset)``,
        ``predict.py:151-191``); idempotent."""
        fp = self.cache_fingerprint(df)
        return self.manager.get_or_compute(
            df.sparkSession,
            fp,
            lambda: self.inner.transform(df).select(self.id_col, self.output_col),
            meta={"kind": "vectors", "output_col": self.output_col},
        )

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        vectors = self.cache(df)
        return df.join(vectors, on=self.id_col, how="inner")
