"""Scalar quantization for embedding columns — the storage/memory lever
for ANN at 100 TB.

A float32 corpus of 100 TB becomes ~25 TB of uint8 codes under per-dimension
scalar quantization: code_i = round((x_i - min_i) / step_i) with
step_i = (max_i - min_i) / 255. Training is ONE aggregation producing
2*dim numbers (per-dimension min/max — a constant-size driver result, no
collect of rows); encode/decode are codegen'd array expressions. Dequantized
search plugs into the existing exact/LSH/IVF operators unchanged — the
standard faiss ``SQ8`` design re-expressed relationally.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warp_pipes_spark.core.pipe import Pipe


class ScalarQuantizer:
    """Per-dimension 8-bit scalar quantizer (faiss-SQ8 shape).

    ``fit`` computes per-dimension (min, step) from the corpus in one
    bounded aggregation; ``encode`` maps ``array<float>`` to
    ``array<smallint>`` codes (0..255); ``decode`` reconstructs the
    midpoint approximation min + code*step. Codes are exact fixed-point:
    encode(decode(encode(x))) == encode(x) (idempotent round-trip)."""

    def __init__(self, dim: int, levels: int = 256):
        self.dim = dim
        self.levels = levels
        self.mins: List[float] = []
        self.steps: List[float] = []

    def fit(self, corpus: DataFrame, col: str = "embedding") -> "ScalarQuantizer":
        aggs = []
        for i in range(self.dim):
            aggs.append(F.min(F.col(col)[i]).alias(f"mn{i}"))
            aggs.append(F.max(F.col(col)[i]).alias(f"mx{i}"))
        row = corpus.agg(*aggs).collect()[0]
        self.mins, self.steps = [], []
        for i in range(self.dim):
            mn, mx = float(row[f"mn{i}"]), float(row[f"mx{i}"])
            self.mins.append(mn)
            span = mx - mn
            self.steps.append(span / (self.levels - 1) if span > 0 else 1.0)
        return self

    def _check_fitted(self):
        if not self.mins:
            raise RuntimeError("ScalarQuantizer.fit must run before encode/decode")

    def encode_expr(self, col: Column) -> Column:
        self._check_fitted()
        mins = F.array(*[F.lit(m) for m in self.mins])
        steps = F.array(*[F.lit(s) for s in self.steps])
        lv = self.levels - 1
        return F.zip_with(
            col,
            F.zip_with(mins, steps, lambda m, s: F.struct(m.alias("m"), s.alias("s"))),
            lambda x, ms: F.least(
                F.lit(lv),
                F.greatest(
                    F.lit(0), F.round((x - ms["m"]) / ms["s"]).cast("int")
                ),
            ).cast("smallint"),
        )

    def decode_expr(self, col: Column) -> Column:
        self._check_fitted()
        mins = F.array(*[F.lit(m) for m in self.mins])
        steps = F.array(*[F.lit(s) for s in self.steps])
        return F.zip_with(
            col,
            F.zip_with(mins, steps, lambda m, s: F.struct(m.alias("m"), s.alias("s"))),
            lambda c, ms: (ms["m"] + c.cast("double") * ms["s"]).cast("float"),
        )

    def encode(self, df: DataFrame, col: str = "embedding", out: str = "codes") -> DataFrame:
        return df.withColumn(out, self.encode_expr(F.col(col)))

    def decode(self, df: DataFrame, col: str = "codes", out: str = "embedding") -> DataFrame:
        return df.withColumn(out, self.decode_expr(F.col(col)))


def quantized_corpus(
    corpus: DataFrame, dim: int, col: str = "embedding"
) -> Tuple[DataFrame, "ScalarQuantizer"]:
    """Fit + encode in one call: returns (codes DataFrame, quantizer).
    The codes table is what you'd write to storage at scale (4x smaller);
    search decodes on the fly inside the scan projection."""
    sq = ScalarQuantizer(dim).fit(corpus, col)
    return sq.encode(corpus, col).drop(col), sq


def _pq_kmeans(X, m, k, iters, seed, dsub, normalize):
    """Per-subspace seeded k-means core shared by the Spark trainer
    (:meth:`ProductQuantizer.fit`) and the pure-Python replica
    (:func:`train_pq_local`): same sample matrix in the same row order =>
    bit-identical float64 codebooks."""
    import numpy as np

    if normalize:
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
    rng = np.random.RandomState(seed)
    books = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        kk = min(k, len(S))
        C = S[rng.choice(len(S), size=kk, replace=False)]
        s2 = (S**2).sum(1)[:, None]
        for _ in range(iters):
            # ||x||^2 + ||c||^2 - 2 x.C^T: one BLAS matmul instead of an
            # [n, k, dsub] broadcast temporary (the memory-traffic saving
            # is ~dsub x; argmin is unchanged up to ~1e-14 cancellation,
            # the usual measure-zero tie exposure)
            d2 = s2 + (C**2).sum(1)[None, :] - 2.0 * (S @ C.T)
            assign = d2.argmin(1)
            # vectorized mean update (np.add.at accumulates in row order;
            # both trainers share this core, so parity is by construction)
            sums = np.zeros((kk, S.shape[1]))
            np.add.at(sums, assign, S)
            counts = np.bincount(assign, minlength=kk)
            nz = counts > 0
            C[nz] = sums[nz] / counts[nz, None]
        books.append(C)
    return np.stack(books)  # [m, k, dsub]


def train_pq_local(
    parquet_path: str,
    dim: int,
    m: int = 8,
    k: int = 256,
    iters: int = 10,
    seed: int = 42,
    train_sample: int = 4096,
    normalize: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Bit-exact pure-Python replica of :meth:`ProductQuantizer.fit`
    (the shared md5 Parquet sampler + the shared per-subspace k-means
    core) — the honest-codebook-literals source for the q95 DuckDB
    oracle, exactly the q47 IVF pattern."""
    from warp_pipes_spark.ml.similarity import md5_sample_parquet

    X = md5_sample_parquet(parquet_path, seed, train_sample, id_col, vec_col)
    return _pq_kmeans(X, m, k, iters, seed, dim // m, normalize)


class ProductQuantizer:
    """m-subspace product quantizer (the faiss ``PQm`` shape): the vector
    splits into ``m`` contiguous sub-vectors, each quantized to one of
    ``k`` (<=256) per-subspace centroids — dim floats become m uint8 codes
    (e.g. 64 floats -> 8 bytes, 32x), with far better reconstruction than
    scalar quantization at the same budget because the codebooks adapt to
    the data distribution.

    Training is bounded: per-subspace k-means on a deterministic
    hash-sampled subset (same sampling rule as the IVF trainer — a
    TakeOrderedAndProject, never a full scan into the driver). Seeded =>
    identical codebooks on any cluster layout."""

    def __init__(self, dim: int, m: int = 8, k: int = 256, iters: int = 10, seed: int = 42):
        import numpy as np

        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m {m}")
        self.dim, self.m, self.k, self.iters, self.seed = dim, m, k, iters, seed
        self.dsub = dim // m
        self.codebooks: "np.ndarray" = None  # [m, k, dsub]

    def fit(
        self,
        corpus: DataFrame,
        col: str = "embedding",
        id_col: str = "vec_id",
        train_sample: int = 4096,
        normalize: bool = True,
    ) -> "ProductQuantizer":
        import numpy as np

        # md5-ordered sample: the engine-portable hash family (Spark ==
        # hashlib == DuckDB on the same strings), so train_pq_local can
        # reproduce the exact sample order — and therefore bit-identical
        # codebooks — straight from the Parquet file (same contract as the
        # IVF trainer)
        pdf = (
            corpus.select(F.col(id_col).alias("id"), F.col(col).cast("array<double>").alias("v"))
            .orderBy(
                F.md5(F.concat(F.lit(f"{self.seed}:"), F.col("id").cast("string")))
            )
            .limit(train_sample)
            .toPandas()  # Arrow transfer; row order = the sort order
        )
        X = np.array([list(v) for v in pdf["v"]], dtype=np.float64)
        self.codebooks = _pq_kmeans(
            X, self.m, self.k, self.iters, self.seed, self.dsub, normalize
        )
        self.normalize = normalize
        return self

    def encode_udf(self):
        """pandas UDF: array<float> vector -> array<smallint> of m codes."""
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        books, m, dsub, norm = self.codebooks, self.m, self.dsub, self.normalize

        def enc(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            V = np.stack(vecs.to_numpy()).astype(np.float64)
            if norm:
                V = V / np.linalg.norm(V, axis=1, keepdims=True)
            out = np.empty((len(V), m), dtype=np.int16)
            for j in range(m):
                S = V[:, j * dsub : (j + 1) * dsub]
                B = books[j]
                d2 = (
                    (S**2).sum(1)[:, None]
                    + (B**2).sum(1)[None, :]
                    - 2.0 * (S @ B.T)
                )
                out[:, j] = d2.argmin(1)
            return pd.Series(list(out))

        enc.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
        return pandas_udf(enc, "array<smallint>")


class PqCosineTopK(Pipe):
    """PQ-ADC approximate cosine top-k (faiss ``IndexPQ`` search shape):
    the corpus lives as m-byte codes; each Arrow batch scores candidates
    with asymmetric distance — one per-query lookup table of subspace dot
    products against the codebooks (m*k dots, computed ONCE per batch),
    then every candidate scores as m table lookups instead of a dim-wide
    dot. Partial per-batch top-k merges through a global window, the same
    exact-merge pattern as the BLAS brute-force path. Vectors are
    normalized at encode/query time, so the ADC dot approximates cosine;
    recall vs the exact oracle is pinned in tests."""

    def __init__(
        self,
        corpus: DataFrame,
        k: int = 10,
        m: int = 8,
        n_codes: int = 256,
        train_sample: int = 4096,
        seed: int = 42,
        query_id: str = "vec_id",
        query_vec: str = "embedding",
        corpus_id: str = "vec_id",
        corpus_vec: str = "embedding",
        exclude_self: bool = True,
        index_cache_dir: str | None = None,
        materialize_index: bool = True,
        max_query_rows: int = 100_000,
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.corpus = corpus
        self.k = k
        self.m = m
        self.max_query_rows = max_query_rows
        self.n_codes = n_codes
        self.train_sample = train_sample
        self.seed = seed
        self.query_id = query_id
        self.query_vec = query_vec
        self.corpus_id = corpus_id
        self.corpus_vec = corpus_vec
        self.exclude_self = exclude_self
        self.index_cache_dir = index_cache_dir
        self.materialize_index = materialize_index

    _no_fingerprint = ("corpus", "index_cache_dir")

    def _index(self, dim: int):
        """(codebooks, codes df) — the faiss ``IndexPQ`` state as two
        fingerprint-keyed Parquet artifacts. Encoding is the expensive
        per-call pass (a pandas-UDF scan over EVERY corpus vector, the
        ``add()`` step); materializing the m-byte codes completes the
        index-once-query-many contract of the other engines. The codes
        table is ~dim*4/m times smaller than the corpus — the artifact
        IS the compression."""
        import numpy as np

        if not self.materialize_index:
            pq = ProductQuantizer(dim, m=self.m, k=self.n_codes, seed=self.seed).fit(
                self.corpus, self.corpus_vec, self.corpus_id, self.train_sample
            )
            codes = self.corpus.select(
                F.col(self.corpus_id).alias("neighbor_id"),
                pq.encode_udf()(F.col(self.corpus_vec)).alias("codes"),
            )
            return pq.codebooks, codes

        import os
        import tempfile

        from warp_pipes_spark.core.fingerprint import (
            fingerprint_dataframe,
            get_fingerprint,
        )
        from warp_pipes_spark.pipes.cache import CacheManager

        spark = self.corpus.sparkSession
        manager = CacheManager(
            self.index_cache_dir
            or os.path.join(tempfile.gettempdir(), "warp_pipes_spark_pq_index")
        )
        fp = get_fingerprint(
            {
                "op": "pq_index_v2",
                "corpus": fingerprint_dataframe(self.corpus),
                "vec": self.corpus_vec,
                "id": self.corpus_id,
                "m": self.m,
                "n_codes": self.n_codes,
                "train_sample": self.train_sample,
                "seed": self.seed,
            }
        )
        if not (manager.exists(fp + "_codes") and manager.exists(fp + "_books")):
            # the freshly trained codebooks serve THIS call (float64
            # round-trips Parquet exactly) and the codes are read back from
            # their published artifact; later sessions load both
            pq = ProductQuantizer(dim, m=self.m, k=self.n_codes, seed=self.seed).fit(
                self.corpus, self.corpus_vec, self.corpus_id, self.train_sample
            )
            book_rows = [
                (j, c, [float(x) for x in pq.codebooks[j][c]])
                for j in range(pq.codebooks.shape[0])
                for c in range(pq.codebooks.shape[1])
            ]
            manager.store(
                spark.createDataFrame(
                    book_rows, "j int, c int, centroid array<double>"
                ),
                fp + "_books",
            )
            codes = manager.store(
                self.corpus.select(
                    F.col(self.corpus_id).alias("neighbor_id"),
                    pq.encode_udf()(F.col(self.corpus_vec)).alias("codes"),
                ),
                fp + "_codes",
            )
            return pq.codebooks, codes
        book_rows = sorted(
            manager.load(spark, fp + "_books").collect(),
            key=lambda r: (r["j"], r["c"]),
        )
        n_j = max(r["j"] for r in book_rows) + 1
        books = np.array([r["centroid"] for r in book_rows], dtype=np.float64)
        codebooks = books.reshape(n_j, len(book_rows) // n_j, dim // self.m)
        return codebooks, manager.load(spark, fp + "_codes")

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        import numpy as np
        import pandas as pd

        from pyspark.sql import Window

        dim = len(
            self.corpus.select(self.corpus_vec).first()[0]
        )  # bounded probe: one row
        codebooks, codes = self._index(dim)
        from warp_pipes_spark.ml.similarity import collect_bounded

        q_rows = collect_bounded(
            df.select(
                F.col(self.query_id).alias("query_id"),
                F.col(self.query_vec).cast("array<double>").alias("qv"),
            ),
            self.max_query_rows,
            "PqCosineTopK",
        )
        qids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
        qmat = np.array([r["qv"] for r in q_rows], dtype=np.float64)
        qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
        spark = df.sparkSession
        b = spark.sparkContext.broadcast((qids, qmat, codebooks))
        k, m, dsub = self.k, self.m, dim // self.m
        exclude_self = self.exclude_self

        def score_batches(batches):
            qi, qm, books = b.value
            # LUT[q, j, c] = dot(q_sub_j, codebook_j[c]) — once per worker call
            lut = np.einsum("qjd,jcd->qjc", qm.reshape(len(qm), m, dsub), books)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                cids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
                C = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # [n, m]
                # scores[q, n] = sum_j lut[q, j, C[n, j]], then quantized to
                # DECIMAL(18,6) semantics (round half away from zero) BEFORE
                # the per-batch partial selection: ADC scores of distinct
                # code vectors can collide at 1e-6 granularity, and the
                # partial top-k must use the same (rounded score,
                # neighbor_id) order as the global window and the SQL
                # oracle, or a rounding-tied candidate could be dropped at
                # a batch boundary
                scores = lut[:, np.arange(m)[None, :], C].sum(-1)
                scores = np.sign(scores) * np.floor(np.abs(scores) * 1e6 + 0.5) / 1e6
                if exclude_self:
                    scores[qi[:, None] == cids[None, :]] = -np.inf
                kk = min(k, scores.shape[1])
                part = np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
                out = []
                for i in range(len(qi)):
                    # argpartition picks an ARBITRARY subset among candidates
                    # tied at the kk-th boundary score; widen to every
                    # candidate at or above the boundary so the lexsort
                    # below (not partition luck) resolves rounded-score ties
                    # by neighbor_id, matching the global window / oracle
                    boundary = scores[i, part[i]].min()
                    cand = np.nonzero(scores[i] >= boundary)[0]
                    order = np.lexsort((cids[cand], -scores[i, cand]))
                    sel = cand[order][:kk]
                    keep = scores[i, sel] > -np.inf
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": qi[i],
                                "neighbor_id": cids[sel][keep],
                                "score": scores[i, sel][keep],
                            }
                        )
                    )
                yield pd.concat(out, ignore_index=True)

        partials = codes.mapInPandas(
            score_batches, schema="query_id long, neighbor_id long, score double"
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
        return (
            partials.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
            .select("query_id", "rank", "neighbor_id", "score")
        )


def sq8_topk_sql(
    dim: int = 64,
    k: int = 5,
    levels: int = 256,
    queries_where: str = "vec_id % 25 = 0",
    table: str = "embeddings",
) -> str:
    """DuckDB oracle for SQ8-quantized cosine top-k (q67): the quantizer
    fit (per-dimension min/max), the clamped fixed-point encode, the
    midpoint decode through FLOAT, and the decimal-rounded cosine ranking
    are all reproduced with the engine's exact arithmetic."""
    lv = levels - 1
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}),
dims AS (SELECT unnest(generate_series(1, {dim})) AS i),
stats AS (
  SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
  FROM e CROSS JOIN dims GROUP BY i
),
sq AS (
  SELECT list(mn ORDER BY i) AS mins,
         list(CASE WHEN mx - mn > 0 THEN (mx - mn) / {float(lv)} ELSE 1.0 END
              ORDER BY i) AS steps
  FROM stats
),
recon AS (
  SELECT vec_id,
         list_transform(generate_series(1, {dim}), i ->
           CAST(CAST(sq.mins[i]
             + CAST(least({lv}, greatest(0,
                 CAST(round((v[i] - sq.mins[i]) / sq.steps[i]) AS INTEGER)))
               AS DOUBLE) * sq.steps[i] AS FLOAT) AS DOUBLE)) AS rv
  FROM e CROSS JOIN sq
),
q AS (SELECT vec_id, v FROM e WHERE {queries_where}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_dot_product(q.v, c.rv) /
              (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.rv, c.rv)))
           AS DECIMAL(18,6)) AS score
  FROM q CROSS JOIN recon c WHERE q.vec_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, CAST(score AS DOUBLE) AS score
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


def pq_topk_sql(
    sf_dir: str,
    dim: int = 64,
    k: int = 5,
    m: int = 8,
    n_codes: int = 256,
    iters: int = 10,
    seed: int = 42,
    train_sample: int = 4096,
    queries_where: str = "vec_id % 25 = 0",
    table: str = "embeddings",
) -> str:
    """DuckDB oracle for :class:`PqCosineTopK` (q95): retrains the
    per-subspace codebooks bit-identically from ``{sf_dir}/{table}.parquet``
    (:func:`train_pq_local`), embeds them as literals, and replays encode
    (argmin over subspace squared distances, ties -> lowest code, exactly
    numpy argmin), the per-query subspace lookup table, ADC score
    accumulation and the DECIMAL(18,6)-quantized (score DESC, neighbor_id)
    ranking. Sums fold in different orders across engines (~1e-16 apart);
    a flipped code or rank needs a tie below that — the same measure-zero
    exposure the LSH/IVF oracles document."""
    import os as _os

    C = train_pq_local(
        _os.path.join(sf_dir, f"{table}.parquet"),
        dim=dim,
        m=m,
        k=n_codes,
        iters=iters,
        seed=seed,
        train_sample=train_sample,
    )
    dsub = dim // m
    rows = ",\n  ".join(
        "({}, {}, [{}]::DOUBLE[])".format(
            j, c, ", ".join(repr(float(x)) for x in C[j][c])
        )
        for j in range(C.shape[0])
        for c in range(C.shape[1])
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS raw FROM {table}),
nrm AS (
  SELECT vec_id,
         list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw))) AS v
  FROM e
),
books(j, c, cv) AS (VALUES
  {rows}
),
dists AS (
  SELECT n.vec_id, b.j, b.c,
         list_sum(list_transform(generate_series(1, {dsub}),
           i -> (list_slice(n.v, b.j * {dsub} + 1, (b.j + 1) * {dsub})[i] - b.cv[i]) ^ 2)) AS d2
  FROM nrm n CROSS JOIN books b
),
codes AS (
  SELECT vec_id, j, c AS code FROM (
    SELECT vec_id, j, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rk
    FROM dists) WHERE rk = 1
),
q AS (SELECT vec_id, v FROM nrm WHERE {queries_where}),
lut AS (
  SELECT q.vec_id AS qid, b.j, b.c,
         list_dot_product(list_slice(q.v, b.j * {dsub} + 1, (b.j + 1) * {dsub}), b.cv) AS dot
  FROM q CROSS JOIN books b
),
scores AS (
  SELECT l.qid AS query_id, cd.vec_id AS neighbor_id,
         CAST(SUM(l.dot) AS DECIMAL(18,6)) AS score
  FROM codes cd JOIN lut l ON l.j = cd.j AND l.c = cd.code
  WHERE l.qid <> cd.vec_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
  FROM scores
)
SELECT query_id, rank, neighbor_id, CAST(score AS DOUBLE) AS score
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# random projection (Johnson-Lindenstrauss sign matrix)
# ---------------------------------------------------------------------------


def _rp_sign(seed: int, i: int, j: int) -> int:
    """Deterministic ±1 from md5 — the Achlioptas (2001) sign-matrix JL
    variant, reproducible in any engine with md5."""
    import hashlib

    h = hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 0 else -1


class RandomProjection(Pipe):
    """Johnson-Lindenstrauss dimensionality reduction with a ±1 sign
    matrix (Achlioptas 2001): ``proj_j = (1/sqrt(k)) * sum_i s_ij x_i``
    — the cheapest pre-ANN compression step (64 -> 16 dims = 4x less
    shuffle/memory for every downstream cosine), distance-preserving in
    expectation with distortion ~ 1/sqrt(out_dim).

    The sign matrix derives from md5(seed:i:j) at PLAN time and rides
    a broadcast literal table: components explode to (row, i, x) once,
    join the (in_dim x out_dim) sign table, and hash-aggregate back per
    (row, j) — the shape that scales to arbitrary matrix sizes (an
    unrolled in_dim x out_dim expression tree was measured spending
    ~5 s per run in Janino compilation alone at 64x16, and would not
    compile at all much past that). Components round through
    DECIMAL(18,6) FIRST — from DOUBLE, never from float32 directly
    (float->decimal casts disagree across engines: Spark rounds the
    shortest repr, DuckDB the binary value; float->double is exact and
    double->decimal can never hit a rounding tie because dyadic values
    have no finite-5 denominator) — so the per-(row, j) sum is exact
    decimal in ANY aggregation order. One multiply by the 1/sqrt(k)
    literal + the engine-standard rounding finishes each coordinate;
    the DuckDB oracle reproduces all of them bit-for-bit. No UDF, no
    stored model artifact (the matrix is the hash function).
    """

    def __init__(
        self,
        in_dim: int,
        out_dim: int,
        vec_col: str = "embedding",
        out_col: str = "proj",
        seed: int = 5,
        id_col: str = "vec_id",
        **kwargs,
    ):
        if not (0 < out_dim <= in_dim):
            raise ValueError(f"need 0 < out_dim <= in_dim, got {out_dim}, {in_dim}")
        kwargs.setdefault("update", True)
        super().__init__(**kwargs)
        self.in_dim = in_dim
        self.out_dim = out_dim
        self.vec_col = vec_col
        self.out_col = out_col
        self.seed = seed
        # the explode/aggregate/join-back round trip is keyed on id_col
        # ALONE — it must be unique and non-null. Keying on every
        # passthrough column (the pre-round-5 behavior) silently merged
        # rows that happened to share the passthrough tuple (their decimal
        # sums combined into one wrong projection) and dropped rows with a
        # NULL in any passthrough column on the way back (round-4 advisor
        # finding).
        self.id_col = id_col

    def signs(self):
        return [
            [_rp_sign(self.seed, i, j) for i in range(self.in_dim)]
            for j in range(self.out_dim)
        ]

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        import math

        spark = df.sparkSession
        scale = 1.0 / math.sqrt(self.out_dim)
        sign_rows = [
            (i, j, row[i])
            for j, row in enumerate(self.signs())
            for i in range(self.in_dim)
        ]
        signs = spark.createDataFrame(sign_rows, "i int, j int, s int")
        if self.id_col not in df.columns:
            raise ValueError(
                f"RandomProjection needs a unique row id column "
                f"({self.id_col!r} not in {df.columns}); pass id_col="
            )
        ex = df.select(
            self.id_col, F.posexplode(self.vec_col).alias("__i", "__x")
        ).select(
            self.id_col,
            F.col("__i").alias("i"),
            F.col("__x").cast("double").cast("decimal(18,6)").alias("__xd"),
        )
        keys = [self.id_col]
        agg = (
            ex.join(F.broadcast(signs), "i")
            .groupBy(*keys, "j")
            .agg(F.sum(F.col("__xd") * F.col("s")).alias("__s"))
        )
        comp = (
            (F.col("__s").cast("double") * F.lit(scale))
            .cast("decimal(18,6)")
            .cast("double")
        )
        packed = agg.groupBy(*keys).agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("j"), comp.alias("v")))
                ),
                lambda x: x["v"],
            ).alias(self.out_col)
        )
        return df.join(packed, keys)


def random_projection_sql(
    table_sql: str,
    in_dim: int,
    out_dim: int,
    vec: str = "embedding",
    out_col: str = "proj",
    seed: int = 5,
    columns: str = "vec_id, label",
) -> str:
    """DuckDB oracle for :class:`RandomProjection`: identical sign
    matrix, summation order, scale and rounding."""
    import math

    rp = RandomProjection(in_dim, out_dim, seed=seed)
    scale = 1.0 / math.sqrt(out_dim)
    sign_vals = ", ".join(
        f"({i}, {j}, {row[i]})"
        for j, row in enumerate(rp.signs())
        for i in range(in_dim)
    )
    comp = (
        f"CAST(CAST(CAST(SUM(xd * s) AS DOUBLE) * {scale!r} "
        f"AS DECIMAL(18,6)) AS DOUBLE)"
    )
    return f"""
WITH signs(i, j, s) AS (VALUES {sign_vals}),
ex AS (
  SELECT {columns}, g.i,
         CAST(CAST({vec}[g.i + 1] AS DOUBLE) AS DECIMAL(18,6)) AS xd
  FROM ({table_sql}) t,
       LATERAL (SELECT unnest(range({in_dim})) AS i) g
),
agg AS (
  SELECT {columns}, j, {comp} AS v
  FROM ex JOIN signs USING (i)
  GROUP BY {columns}, j
)
SELECT {columns}, list(v ORDER BY j) AS {out_col}
FROM agg GROUP BY {columns}
"""
