"""Sources / sinks and the stable row-id contract.

The reference relies on implicit positional row indices
(``with_indices=True``, ``warp_pipes/core/pipe.py:277``); Spark has no row
order, so every dataset in this engine carries an explicit ``row_id``
(natural key where the source has one, else assigned once at ingest with
``monotonically_increasing_id`` — unique and stable within the materialized
snapshot, assigned without any shuffle).
"""

from __future__ import annotations

import os
import weakref
from typing import Any, Callable, Dict, Hashable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from warp_pipes_spark.core.fingerprint import snapshot_token

# natural stable keys in the driver testdata
NATURAL_KEYS: Dict[str, str] = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


# per-session {(abs path, tag) -> (snapshot token, value)}: the one memo
# for everything derived from an on-disk Parquet snapshot (artifact
# loads, base-table plans, the BM25 termdf dict). Re-opening a path costs
# a file listing, a footer read and several py4j round trips (~50-150 ms
# of driver time) to rebuild a PLAN that is identical for the life of the
# snapshot; this memoizes plans, never results (execution still reads
# the files). The token is core.fingerprint.snapshot_token, so any
# rewrite of a data file misses; keying one slot per (path, tag) drops
# the superseded plan, and weak session keys never pin a stopped
# session's DataFrames.
_snapshot_memo: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def memo_on_snapshot(
    spark: SparkSession, path: str, build: Callable[[], Any], tag: Hashable = None
) -> Any:
    """``build()``, memoized per ``spark`` session on ``path``'s current
    snapshot (and ``tag``, for several values derived from one path).
    Unmemoized when the path is not a local snapshot."""
    slot = (os.path.abspath(path), tag)
    # token BEFORE build: a rewrite racing the build can only make the
    # stored token older than the plan, which costs one rebuild
    token = snapshot_token(slot[0])
    try:
        per_session = _snapshot_memo.setdefault(spark, {})
    except TypeError:  # non-weakrefable session stub
        per_session = None
    if token is None or per_session is None:
        return build()
    hit = per_session.get(slot)
    if hit is not None and hit[0] == token:
        return hit[1]
    value = build()
    per_session[slot] = (token, value)
    return value


class BoundedCollect:
    """A driver-side collect that holds at most ``MAX_ROWS`` rows (or the
    caller's own cap), in ONE narrow job: every partition sends at most
    its share of the cap, plus one row marking it as over. A ``limit``
    collect would scan partitions in growing rounds, one job each. When a
    partition overflows its share, an exact count decides (unless the
    caller passes ``exact=False``), so a skewed frame under the cap is
    still collected. The share needs the frame's partition count: for a
    plan with a shuffle, AQE runs the map stages to find it, and the
    collect runs them again."""

    MAX_ROWS = 65_536

    @classmethod
    def arrow(cls, df: DataFrame, max_rows: Optional[int] = None, exact: bool = True):
        """``df`` as a ``pyarrow.Table``, or None when it has more rows
        than the cap. With ``exact=False``, also None when any partition
        holds more than its share, without evaluating ``df`` again."""
        import pyarrow.compute as pc

        cap = cls.MAX_ROWS if max_rows is None else max_rows
        share = max(1, cap // max(1, df.rdd.getNumPartitions()))
        # the row's position within its partition: the low 33 bits of
        # monotonically_increasing_id
        pos = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
        got = df.select("*", pos.alias("__pos")).where(F.col("__pos") <= share).toArrow()
        if got.num_rows == 0 or pc.max(got["__pos"]).as_py() < share:
            # no partition overflowed: this is every row
            return got.drop_columns(["__pos"]) if got.num_rows <= cap else None
        if not exact:
            return None
        return df.toArrow() if df.count() <= cap else None


class DriverArtifact:
    """A published Parquet artifact read on the driver with pyarrow, with
    no Spark job. At most ``MAX_VALUES`` leaf values of the columns read
    (a BM25 posting is 3, an IVF list row dim + 3), counted from the
    files' footers before any data is read. The Arrow table lives only
    while ``prepare`` runs (33 MB for 1.25M BM25 postings); the prepared
    value, memoized per artifact snapshot, is the caller's to bound. At
    90-98% of the cap, the BM25 and IVF kernels read and prepare their
    artifact in 0.4-1.2 CPU-s and still answer a batch for a fraction of
    the Spark chain's CPU (README, "Serving a query batch")."""

    MAX_VALUES = 1 << 22

    @classmethod
    def read(
        cls,
        spark: SparkSession,
        path: str,
        columns: list,
        prepare: Callable[[Any], Any],
        tag: Hashable,
        max_values: Optional[int] = None,
    ) -> Any:
        """``prepare(table)`` of ``columns`` of the artifact at ``path``,
        memoized on its snapshot; None when the artifact is missing,
        unreadable or over the cap."""
        cap = cls.MAX_VALUES if max_values is None else max_values

        def build() -> Any:
            import glob

            import pyarrow as pa
            import pyarrow.parquet as pq

            files = sorted(glob.glob(os.path.join(path, "*.parquet")))
            try:
                n = 0
                for f in files:
                    meta = pq.read_metadata(f)
                    for g in range(meta.num_row_groups):
                        group = meta.row_group(g)
                        for c in range(group.num_columns):
                            chunk = group.column(c)
                            if chunk.path_in_schema.split(".")[0] in columns:
                                n += chunk.num_values
                if not files or n > cap:
                    return None
                table = pa.concat_tables(pq.read_table(f, columns=columns) for f in files)
            except (OSError, pa.ArrowException):
                return None
            return prepare(table)

        return memo_on_snapshot(spark, path, build, tag=(tag, tuple(columns), cap))


def local_frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """Driver-held ``rows`` (tuples in ``schema`` order) as a JVM
    ``LocalRelation``: its scans run no Python task, and collecting a
    projection of it runs no job. (``createDataFrame`` of a Python list
    is a Python RDD, which pays a Python task on every scan.)"""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [[] for _ in arrow]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema=schema)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, memoized per snapshot."""
    return memo_on_snapshot(spark, path, lambda: spark.read.parquet(path))


def with_row_id(df: DataFrame, key: Optional[str] = None) -> DataFrame:
    """Attach a stable ``row_id`` column: alias a natural key, or assign
    ``monotonically_increasing_id`` (partition-local, no shuffle, stable for
    the life of the materialized snapshot)."""
    if "row_id" in df.columns:
        return df
    if key is not None:
        return df.withColumn("row_id", F.col(key).cast("long"))
    return df.withColumn("row_id", F.monotonically_increasing_id())


def load_table(spark: SparkSession, sf_dir: str, name: str, row_id: bool = False) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")

    def build() -> DataFrame:
        # Parquet TIMESTAMP(NANOS) (events.ts) is not a native Spark type:
        # read nanos as long, then truncate to micros — the same conversion
        # DuckDB applies when it coerces TIMESTAMP_NS to its micro TIMESTAMP.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        for field in df.schema.fields:
            if field.name == "ts" and isinstance(field.dataType, T.LongType):
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        if row_id:
            df = with_row_id(df, NATURAL_KEYS.get(name))
        return df

    # every catalog query re-opens its base tables here (250 T() sites)
    return memo_on_snapshot(spark, path, build, tag=("load_table", row_id))


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: Optional[str] = None,
    header: bool = True,
    **options,
) -> DataFrame:
    """CSV source. Pass an explicit schema at scale — inferSchema requires
    an extra full scan of the input."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: Optional[str] = None, **options
) -> DataFrame:
    """JSON-lines source. Explicit schema avoids the inference scan and
    keeps corrupt records in ``_corrupt_record`` deterministic."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols,
    n_buckets: int = 16,
    sort_cols=None,
    mode: str = "overwrite",
) -> None:
    """Save as a bucketed (and optionally sorted) managed table. Two tables
    bucketed by the same key with the same bucket count join WITHOUT a
    shuffle — the co-location is pre-paid once at write time, which is the
    right trade for fact tables joined repeatedly at 100 TB."""
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", header).csv(path)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC source (columnar, predicate-pushdown-capable like Parquet)."""
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        partition_by = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_text(spark: SparkSession, path: str, whole_text: bool = False) -> DataFrame:
    """Raw text source: one row per line (``value string``), or one row per
    FILE with ``whole_text`` — the ingest shape for unstructured LLM corpus
    shards before tokenization/dedup."""
    return spark.read.text(path, wholetext=whole_text)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)
