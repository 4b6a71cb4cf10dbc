"""The operator interface: a fingerprintable ``DataFrame -> DataFrame`` transform.

Capability parity with the reference's ``Pipe``
(``warp_pipes/core/pipe.py:39-333``), re-thought for Spark:

- The reference eagerly processes columnar dict-batches; here ``__call__``
  just *builds a lazy Catalyst plan*. No batches, no ``num_proc``, no dill
  checks — Spark's planner/scheduler replaces the whole ``_call_dataset``
  machinery (``pipe.py:187-283``).
- ``input_filter`` (column pruning, ``pipe.py:105-106``) becomes a driver-side
  ``select`` — which Catalyst then pushes down to the Parquet scan, so pruning
  reaches storage for free.
- ``update=True`` (merge output into input, ``pipe.py:112-114``) merges output
  columns over the unfiltered input. Row-preserving pipes implement
  ``_columns(df)`` (a dict of named Column expressions) and get update-merge
  via ``withColumns`` — one projection node, no join, no shuffle. Pipes that
  change cardinality implement ``_transform`` and cannot be update-merged.
- Fingerprints key the memoization layer (see ``warp_pipes_spark.pipes.cache``).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import Column, DataFrame

from warp_pipes_spark.core.condition import Condition, as_condition, select_columns
from warp_pipes_spark.core.fingerprint import fingerprint_struct


class Pipe:
    """Base operator. Subclasses implement ``_columns`` (row-preserving,
    column-wise — preferred, enables update-merge) or ``_transform``
    (general DataFrame → DataFrame)."""

    def __init__(
        self,
        *,
        input_filter: Optional[Condition] = None,
        update: bool = False,
        id: Optional[str] = None,
    ):
        self.input_filter = as_condition(input_filter) if input_filter is not None else None
        self.update = update
        self.id = id or type(self).__name__

    # -- plan building ----------------------------------------------------

    def __call__(self, df: DataFrame, **kwargs) -> DataFrame:
        return self.transform(df, **kwargs)

    def transform(self, df: DataFrame, **kwargs) -> DataFrame:
        cols = self._columns(df, **kwargs)
        if cols is not None:
            if self.update:
                return df.withColumns(cols)
            return df.select(*[expr.alias(name) for name, expr in cols.items()])
        filtered = self._filter_input(df)
        out = self._transform(filtered, **kwargs)
        if self.update:
            if out is filtered or set(df.columns) <= set(out.columns):
                return out if out is not filtered else df
            raise ValueError(
                f"{self.id}: update=True requires a row-preserving pipe "
                f"(implement _columns) or an output containing the input columns"
            )
        return out

    def _filter_input(self, df: DataFrame) -> DataFrame:
        if self.input_filter is None:
            return df
        keep = select_columns(df.columns, self.input_filter)
        # backtick-quote: dotted field names (`document.text`) are plain
        # column names here, not struct paths
        from pyspark.sql import functions as F

        return df.select(*[F.col(f"`{c}`") for c in keep])

    def _columns(self, df: DataFrame, **kwargs) -> Optional[Dict[str, Column]]:
        """Row-preserving column semantics: return ``{name: Column}`` or None
        if this pipe is not column-wise."""
        return None

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        raise NotImplementedError(f"{type(self).__name__} implements neither _columns nor _transform")

    # -- eager dict-batch convenience --------------------------------------

    def run_batch(self, batch: Dict[str, list], spark=None, **kwargs) -> Dict[str, list]:
        """Eager columnar-dict convenience mirroring the reference's
        ``pipe(batch)`` overload (``warp_pipes/core/pipe.py:95-118``):
        build a local DataFrame from ``{column: [values]}``, run this
        pipe's (lazy) plan on it, collect back to a columnar dict — the
        interactive/debug workflow. Row order is preserved for
        row-preserving pipes (single local partition, no exchange); pipes
        that aggregate/join define their own output order. The distributed
        path is ``transform(df)``."""
        from pyspark.sql import Row, SparkSession

        if not batch:
            raise ValueError("run_batch needs a non-empty columnar dict")
        sizes = {k: len(v) for k, v in batch.items()}
        if len(set(sizes.values())) > 1:
            raise ValueError(f"ragged batch columns: {sizes}")
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("no active SparkSession; pass spark=")
        cols = list(batch)
        rows = [Row(**dict(zip(cols, vals))) for vals in zip(*batch.values())]
        out = self.transform(spark.createDataFrame(rows), **kwargs)
        collected = out.collect()
        return {c: [r[c] for r in collected] for c in out.columns}

    # -- fingerprinting ----------------------------------------------------

    _no_fingerprint: tuple = ()

    def to_json_struct(self) -> dict:
        """JSON-struct reflection of the operator config (drives fingerprints),
        mirroring the reference's ``Fingerprintable.to_json_struct``."""
        state = {}
        for k, v in vars(self).items():
            if k.startswith("_") or k in self._no_fingerprint:
                continue
            state[k] = v
        return {"__pipe__": type(self).__name__, **{k: _struct(v) for k, v in state.items()}}

    @property
    def fingerprint(self) -> str:
        return fingerprint_struct(self.to_json_struct())

    def __repr__(self) -> str:
        return f"{type(self).__name__}(id={self.id!r})"


def _struct(v):
    from warp_pipes_spark.core.fingerprint import _stable_json

    return _stable_json(v)


class AsPipe(Pipe):
    """Wrap a plain ``DataFrame -> DataFrame`` function as a Pipe."""

    def __init__(self, fn, **kwargs):
        super().__init__(**kwargs)
        self.fn = fn

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        return self.fn(df, **kwargs) if kwargs else self.fn(df)
