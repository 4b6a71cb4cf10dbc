"""Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty 2001).

The language-modeling alternative to BM25 — the second classic lexical
ranker every retrieval stack A/B-tests against (reference analogue: the
ES engine surface `support/elasticsearch.py`, which exposes exactly one
ranking family; this extends the repo's engine set the way `search/mmr.py`
and `search/prf.py` extend its fusion set). Scores the RANK-EQUIVALENT
Dirichlet QL decomposition:

    score(q, d) = sum_{t in q, tf>0} ln(1 + tf_td * T / (mu * cf_t))
                  + |q_v| * ln(mu / (dl_d + mu))

where cf_t is the collection frequency, T the collection token count and
|q_v| the count of the query's IN-VOCABULARY distinct terms (the constant
sum_t ln(mu*cf_t/T) is dropped — it shifts every candidate of a query
equally, so rankings are unchanged; documented deviation from the full
log-likelihood). OOV query terms contribute nothing (their smoothed
probability is 0 under the pure Dirichlet collection model).

Exactness: both log arguments are ratios of exact BIGINT products
((mu*cf + tf*T) / (mu*cf) and mu / (dl + mu)), so the engines feed libm
identical doubles; each contribution is DECIMAL(18,6)-rounded and summed
exactly (scaled longs here, DECIMAL in the oracle — the same integers),
and the final score is the one correctly-rounded long/1e6 division.

Shares the tokenization-keyed raw-postings Parquet artifact with
:class:`~warp_pipes_spark.search.bm25.Bm25Search` — building a QL engine
over an already-BM25-indexed corpus re-tokenizes NOTHING; collection
stats are one aggregation over the cached postings.

Scale shape: contributions AND the per-doc norm are baked into a
fingerprint-cached scored-postings artifact at build time (query time
joins NO vocabulary table — measured: a query-time cf join riding the
360M-row fan-out cost ~8x the whole BM25 pass at sf1); query time is
broadcast query terms ⋈ scored postings, one (query, doc) aggregation,
and a NORM-ADJUSTED seed-threshold prune before the top-k window. The
prune is the BM25 maxscore argument with one twist: matched partials
alone cannot bound totals (the dl-dependent norm is negative), but the
norm is EXACT per (query, doc) — it depends only on dl and the query's
in-vocabulary term count, not on which terms matched — so
theta = k-th best (seed partial + exact norm) still lower-bounds the
true k-th best total, and filtering exact totals >= theta is lossless
(unit-tested against the exhaustive path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from warp_pipes_spark.core.pipe import Pipe
from warp_pipes_spark.pipes.cache import CacheManager
from warp_pipes_spark.search.bm25 import Bm25Search, _default_index_cache_dir
from warp_pipes_spark.text.analysis import tokens_expr, tokens_sql


class DirichletQLSearch(Pipe):
    """Query pipe: input df = queries (query_id, text); returns
    (query_id, rank, idx, score) long-form top-k, ranked by Dirichlet
    query likelihood with smoothing parameter ``mu``."""

    def __init__(
        self,
        corpus: DataFrame,
        k: int = 10,
        mu: int = 2000,
        corpus_id: str = "doc_id",
        corpus_text: str = "text",
        query_id: str = "query_id",
        query_text: str = "text",
        index_cache_dir: str | None = None,
        prune: bool = True,
        **kwargs,
    ):
        if mu <= 0:
            raise ValueError(f"mu must be a positive integer, got {mu}")
        super().__init__(**kwargs)
        self.prune = prune
        self.corpus = corpus
        self.k = k
        self.mu = int(mu)
        self.corpus_id = corpus_id
        self.corpus_text = corpus_text
        self.query_id = query_id
        self.query_text = query_text
        self.index_cache_dir = index_cache_dir

    # prune/cache-dir don't change results (prune is lossless), so they
    # stay out of the operator fingerprint like Bm25Search's maxscore
    _no_fingerprint = ("corpus", "index_cache_dir", "prune")

    def _bm(self) -> Bm25Search:
        # postings provider only — shares the tokenization-keyed artifact
        return Bm25Search(
            corpus=self.corpus,
            corpus_id=self.corpus_id,
            corpus_text=self.corpus_text,
            index_cache_dir=self.index_cache_dir,
        )

    def _ql_fingerprint(self) -> str:
        """Content key for the QL-scored postings artifact: the corpus
        identity plus mu (contributions bake mu, cf and the collection
        total into each posting row)."""
        from warp_pipes_spark.core.fingerprint import (
            fingerprint_dataframe,
            get_fingerprint,
        )

        return get_fingerprint(
            {
                "op": "ql_index_v1",
                "corpus": fingerprint_dataframe(self.corpus),
                "id": self.corpus_id,
                "text": self.corpus_text,
                "mu": self.mu,
            }
        )

    def _scored_postings(self) -> DataFrame:
        """(term, doc_id, dl, ts, norm) — the per-posting matched-term
        contribution ln((mu*cf + tf*T)/(mu*cf)) AND the per-doc norm
        ln(mu/(dl+mu)), both DECIMAL(18,6)-rounded scaled longs, baked at
        BUILD time (cf, T and dl are corpus constants). Query time is
        then ONE broadcast join + aggregate — no vocabulary join rides
        the fan-out (measured: the query-time cf join cost ~8x the whole
        BM25 pass at sf1). Fingerprint-cached next to the BM25 index."""
        mu = self.mu

        def bake() -> DataFrame:
            raw = self._bm()._raw_postings()  # (term, doc_id, dl, tf)
            cf = (
                raw.where(F.col("term").isNotNull())
                .groupBy("term")
                .agg(F.sum("tf").alias("cf"))
            )
            tot = cf.agg(F.sum("cf").alias("t_coll"))
            arg = (
                (
                    F.lit(mu) * F.col("cf") + F.col("tf") * F.col("t_coll")
                ).cast("double")
                / (F.lit(mu) * F.col("cf")).cast("double")
            )
            ts = (F.log(arg).cast("decimal(18,6)") * F.lit(1000000)).cast("long")
            norm = (
                F.log(
                    F.lit(mu).cast("double")
                    / (F.col("dl") + F.lit(mu)).cast("double")
                ).cast("decimal(18,6)")
                * F.lit(1000000)
            ).cast("long")
            return (
                raw.where(F.col("term").isNotNull())
                .join(cf, "term")
                .crossJoin(F.broadcast(tot))
                .select(
                    "term",
                    "doc_id",
                    "dl",
                    ts.alias("ts"),
                    norm.alias("norm"),
                )
            )

        return CacheManager(
            self.index_cache_dir or _default_index_cache_dir()
        ).get_or_compute(
            self.corpus.sparkSession, self._ql_fingerprint() + "_postings", bake
        )

    def _seed_table(self, scored: DataFrame) -> DataFrame:
        """Per-term champion lists for the threshold prune: top
        ``C = max(k, 16)`` postings per term by matched contribution
        (doc_id tiebreak), carrying the doc norm. Parquet-cached."""
        C = max(self.k, 16)

        def build() -> DataFrame:
            wc = Window.partitionBy("term").orderBy(
                F.desc("ts"), F.asc("doc_id")
            )
            return (
                scored.withColumn("__cr", F.row_number().over(wc))
                .filter(F.col("__cr") <= C)
                .drop("__cr", "dl")
            )

        return CacheManager(
            self.index_cache_dir or _default_index_cache_dir()
        ).get_or_compute(
            self.corpus.sparkSession, self._ql_fingerprint() + f"_seed_{C}", build
        )

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        scored = self._scored_postings()

        q_terms = F.broadcast(
            df.select(
                F.col(self.query_id).alias("query_id"),
                F.explode(
                    F.array_distinct(tokens_expr(F.col(self.query_text)))
                ).alias("term"),
            )
        )

        # per-query in-vocabulary term count (the doc-norm multiplier);
        # the scored artifact's term set IS the vocabulary
        vocab = scored.select("term").distinct()
        nqt = (
            q_terms.join(vocab, "term", "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_qt"))
        )

        # ---- lossless seed-threshold prune (the BM25 maxscore argument,
        # norm-adjusted): for any doc, a seed PARTIAL matched sum is <=
        # its exact matched sum, and the doc norm n_qt*norm(dl) is EXACT
        # on both sides (it depends only on (query, doc), not on which
        # terms matched) — so theta = k-th best (partial + norm) lower-
        # bounds the true k-th best total, and filtering exact totals
        # >= theta keeps every true top-k doc (ties kept by >=).
        theta = None
        if self.prune:
            seed = self._seed_table(scored)
            partial = (
                q_terms.join(seed, "term")
                .groupBy("query_id", "doc_id")
                .agg(F.sum("ts").alias("ps"), F.max("norm").alias("norm"))
            )
            partial = partial.join(F.broadcast(nqt), "query_id").select(
                "query_id",
                "doc_id",
                (F.col("ps") + F.col("n_qt") * F.col("norm")).alias("pt"),
            )
            wk = Window.partitionBy("query_id").orderBy(
                F.desc("pt"), F.asc("doc_id")
            )
            theta = (
                partial.withColumn("__rk", F.row_number().over(wk))
                .filter(F.col("__rk") == self.k)
                .select("query_id", F.col("pt").alias("__theta"))
            )

        # physical strategy (the Bm25Search maxscore planner, verbatim
        # logic): the (query, doc) aggregation over the fan-out needs a
        # clustering exchange SOMEWHERE — compare the two exact shuffle
        # volumes from the vocabulary-sized df table and move the smaller
        # side. Dense regime (sum df(query terms) > |postings|): hash the
        # POSTINGS by doc once (doc-hash clusters the grouping-key
        # subset, so the aggregate runs exchange-free and only ~k
        # theta-survivors per query ever shuffle again).
        bm = self._bm()
        stats = bm._term_stats(bm._raw_postings())
        # index-intrinsic scalar memoized in the termdf artifact meta
        # (see Bm25Search._n_postings) — only the first batch per index
        # pays the probe job
        n_postings = bm._n_postings(stats)
        # driver-side df-dict sum after one narrow term collect (see
        # Bm25Search._fan_est) — the join+AQE probe only for huge vocabs
        fan_est = bm._fan_est(q_terms, stats)
        doc_major = fan_est > n_postings
        fan_src = scored
        # pinned width: AQE would coalesce the (small) repartition
        # exchange and cripple the huge downstream join + aggregate;
        # width adapts to the exact fan-out so the per-partition
        # aggregate never spills (see bm25.fanout_width)
        from warp_pipes_spark.search.bm25 import fanout_width

        n_width = fanout_width(df.sparkSession, fan_est)
        if doc_major:
            fan_src = scored.repartition(n_width, "doc_id")
        full = q_terms.join(fan_src, "term").select(
            "query_id",
            F.col("doc_id").alias("idx"),
            "ts",
            "norm",
        )
        if not doc_major:
            full = full.repartition(n_width, "query_id")
        sums = full.groupBy("query_id", "idx").agg(
            F.sum("ts").alias("s_match"), F.max("norm").alias("norm")
        )
        scores = sums.join(F.broadcast(nqt), "query_id").withColumn(
            "__total", F.col("s_match") + F.col("n_qt") * F.col("norm")
        )
        if theta is not None:
            scores = scores.join(F.broadcast(theta), "query_id", "left").filter(
                F.col("__theta").isNull()
                | (F.col("__total") >= F.col("__theta"))
            )
        scores = scores.select(
            "query_id",
            "idx",
            (F.col("__total") / F.lit(1000000.0)).alias("score"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("idx")
        )
        return (
            scores.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
            .select("query_id", "rank", "idx", "score")
        )


def ql_oracle_sql(
    corpus_table: str,
    queries_cte: str,
    k: int = 10,
    mu: int = 2000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle for :class:`DirichletQLSearch` — identical
    tokenization, exact-integer log arguments, rounded per-term
    contributions summed exactly."""
    toks = tokens_sql(text_col)
    return f"""
WITH queries AS ({queries_cte}),
doc_tokens AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens FROM {corpus_table}
),
postings AS (
  SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term FROM doc_tokens
),
tf AS (
  SELECT term, doc_id, dl, COUNT(*) AS tf FROM postings GROUP BY ALL
),
cf AS (SELECT term, SUM(tf) AS cf FROM tf GROUP BY 1),
tot AS (SELECT SUM(cf) AS t_coll FROM cf),
q_terms AS (
  SELECT query_id, unnest(list_distinct({tokens_sql('qtext')})) AS term
  FROM queries
),
nqt AS (
  SELECT query_id, COUNT(*) AS n_qt
  FROM q_terms WHERE term IN (SELECT term FROM cf)
  GROUP BY 1
),
sums AS (
  SELECT q.query_id, t.doc_id AS idx,
         SUM(CAST(ln(CAST({mu} * c.cf + t.tf * s.t_coll AS DOUBLE)
                     / CAST({mu} * c.cf AS DOUBLE)) AS DECIMAL(18,6)))
           AS s_match,
         MAX(t.dl) AS dl
  FROM q_terms q
  JOIN tf t ON q.term = t.term
  JOIN cf c ON t.term = c.term
  CROSS JOIN tot s
  GROUP BY 1, 2
),
scores AS (
  SELECT s.query_id, s.idx,
         s.s_match + n.n_qt * CAST(ln(CAST({mu} AS DOUBLE)
                                      / CAST(s.dl + {mu} AS DOUBLE))
                                   AS DECIMAL(18,6)) AS score
  FROM sums s JOIN nqt n ON s.query_id = n.query_id
),
ranked AS (
  SELECT query_id, idx, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, idx) AS rank
  FROM scores
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, idx,
       CAST(CAST(score AS DECIMAL(18,6)) AS DOUBLE) AS score
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""
