"""In-engine BM25 lexical search (no external Elasticsearch).

Capability parity with the reference's ES engine
(``warp_pipes/search/elasticsearch.py:98-341``): BM25 ranking with optional
auxiliary-query boosting and term filters — but computed *inside* the engine
as DataFrame ops over an inverted index, instead of shipping the corpus to an
external server over HTTP (``support/elasticsearch.py:283-322``).

Formula (Lucene/ES default, k1=1.2, b=0.75)::

    idf(t)        = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(q, d)   = Σ_{t ∈ q ∩ d} idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

Scale notes: the inverted index ``(term, doc_id, tf, dl)`` is partitioned by
term, so the query-term join shuffles only matching postings; per-term scores
are cast to DECIMAL before the final sum so results are bit-stable regardless
of aggregation order (needed for the differential oracle and for
deterministic re-runs at any parallelism).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from warp_pipes_spark.core.fingerprint import get_fingerprint
from warp_pipes_spark.core.pipe import Pipe
from warp_pipes_spark.text.analysis import tokens_expr, tokens_sql

K1 = 1.2
B = 0.75


def _default_index_cache_dir() -> str:
    return os.path.join(tempfile.gettempdir(), "warp_pipes_spark_bm25_index")


# fan-out rows a single aggregate partition should absorb before the
# planner widens the shuffle: sized so the per-partition hash table of
# (query, doc) partial sums stays comfortably in executor memory
FANOUT_ROWS_PER_PARTITION = 8_000_000


def fanout_width(spark, fan_est: int) -> int:
    """Shuffle width for a scoring fan-out of ``fan_est`` rows: never
    below the configured ``spark.sql.shuffle.partitions`` (the pinned
    minimum that defeats AQE's input-byte coalescing — the explosion is
    invisible to AQE), and widened so no partition's aggregate absorbs
    more than ~FANOUT_ROWS_PER_PARTITION fan-out rows. Fixed-width
    partitions at a fixed per-query batch keep this CONSTANT in corpus
    size on a real cluster; it grows only when the fan-out itself does
    (measured: the 30x soak's ~4G-row fan-out over 32 partitions spent
    more time spilling the hash aggregate than scoring — 413 s vs 123 s
    clean-quadratic expectation; widening restores the n^2 line)."""
    base = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    need = int(fan_est // FANOUT_ROWS_PER_PARTITION) + 1
    return max(base, min(4096, need))


def build_inverted_index(
    corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """corpus -> postings (term, doc_id, tf, dl), pure whole-stage-codegen:
    tokenize + explode + hash-aggregate. Per-doc term frequencies combine
    MAP-SIDE (Spark's partial HashAggregate runs before the exchange), so
    only distinct (term, doc_id) groups ever shuffle — the same tuples a
    per-doc Counter would emit — with zero Python/Arrow in the path.
    Empty docs get a NULL-term sentinel row so corpus stats (n_docs, avgdl)
    derive from postings alone; a NULL term never matches a query-term join.
    Materialize (e.g. write partitioned by term bucket) to amortize across
    query batches."""
    from warp_pipes_spark.text.analysis import tokens_expr
    from warp_pipes_spark.text.dedup import widen_partitions

    # widen single-row-group local reads so every downstream stage (persist,
    # df join, scoring) parallelizes; no-op on cluster reads already wide
    narrow = widen_partitions(
        corpus.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("__text"),
        )
    )
    toks = narrow.select(
        "doc_id", tokens_expr(F.col("__text")).alias("__toks")
    )
    # ONE corpus scan: explode_outer emits the empty-doc sentinel (NULL
    # term, dl 0) in the same pass instead of a second filter branch that
    # re-scans + re-tokenizes the corpus under the union. count(term)
    # ignores NULLs, so the sentinel group's tf is 0 exactly like the old
    # literal. NULL-token-array rows (NULL text) are dropped by the size
    # guard in both formulations (size(NULL) is NULL).
    return (
        toks.filter(F.size("__toks") >= 0)
        .select(
            "doc_id",
            F.size("__toks").alias("dl"),
            F.explode_outer("__toks").alias("term"),
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.col("term")).alias("tf"))
        .select("term", "doc_id", "dl", "tf")
    )


class Bm25Search(Pipe):
    """Query pipe: input df = queries (query_id, text); returns long-form
    results (query_id, idx, score DECIMAL, rank <= k).

    ``aux_text_col``/``aux_weight`` reproduce the reference's
    auxiliary-query boosting (``support/elasticsearch.py:189-248``);
    ``filter_key`` reproduces the ES term filter as an equi-join predicate."""

    def __init__(
        self,
        corpus: DataFrame,
        k: int = 10,
        corpus_id: str = "doc_id",
        corpus_text: str = "text",
        query_id: str = "query_id",
        query_text: str = "text",
        aux_text_col: str | None = None,
        aux_weight: float = 1.0,
        scale_aux_weight: bool = False,
        filter_key: str | None = None,
        corpus_filter_key: str | None = None,
        k1: float = K1,
        b: float = B,
        temperature: float = 1.0,
        broadcast_queries: bool = True,
        persist: bool = True,
        index_cache_dir: str | None = None,
        materialize_index: bool = True,
        champion_size: int | None = None,
        maxscore: bool = True,
        **kwargs,
    ):
        if champion_size is not None and champion_size < 1:
            raise ValueError(f"champion_size must be >= 1, got {champion_size}")
        super().__init__(**kwargs)
        self.corpus = corpus
        self.k = k
        self.corpus_id = corpus_id
        self.corpus_text = corpus_text
        self.query_id = query_id
        self.query_text = query_text
        self.aux_text_col = aux_text_col
        self.aux_weight = aux_weight
        # reference parity (support/elasticsearch.py:384-398): scale the
        # auxiliary weight per query by the log of the query/aux length
        # ratio — w = 1 + max(aux_weight * ln(max(|q|/|aux|, 1)), 0), or 0
        # when the aux query is empty
        self.scale_aux_weight = scale_aux_weight
        self.filter_key = filter_key
        self.corpus_filter_key = corpus_filter_key or filter_key
        self.k1 = k1
        self.b = b
        # reference parity: ES scores divided by temperature
        # (warp_pipes/search/elasticsearch.py:289-292)
        self.temperature = temperature
        self.broadcast_queries = broadcast_queries
        self.persist = persist
        self.materialize_index = materialize_index
        # champion lists (impact-ordered index truncation, Manning et al.
        # IIR §7.1.3): keep only the top-`champion_size` postings per term
        # by baked score. The candidate join then touches <= |q| * C rows
        # per query batch instead of the full Zipf-tail posting lists —
        # the standard top-k lexical-retrieval scale lever. Deterministic
        # (score desc, doc_id tiebreak), so results stay bit-exact
        # oracle-able; semantically it is approximate BM25 top-k (a doc
        # outside every query term's champion list cannot be retrieved),
        # and with `filter_key` the approximation worsens (capping happens
        # before filtering). None = exact.
        self.champion_size = champion_size
        # MaxScore dynamic pruning (Turtle & Flood 1995; the WAND family,
        # Broder et al. 2003) — LOSSLESS top-k acceleration, enabled by
        # default on every non-negative-contribution path: plain,
        # aux-boosted (weight >= 0), term-filtered and BM25F queries
        # (champion-capped engines stay exhaustive — the cap already
        # bounds the window input, so the theta pass is pure overhead).
        # Results are bit-identical to the exhaustive
        # join; only the physical plan changes. See `_maxscore_eligible`
        # for the precise preconditions and `_transform_maxscore` for
        # the algebra and the safety argument.
        self.maxscore = maxscore
        self.index_cache_dir = index_cache_dir or _default_index_cache_dir()

    # maxscore is fingerprint-exempt: it is a pure physical-plan choice
    # (bit-identical results), so it must not invalidate caches
    _no_fingerprint = ("corpus", "index_cache_dir", "maxscore")

    def _postings(self) -> DataFrame:
        return build_inverted_index(self.corpus, self.corpus_id, self.corpus_text)

    def _tok_fingerprint(self) -> str:
        """Tokenization-only identity (no ranking constants): keys the RAW
        postings artifact, which ``append`` reuses across k1/b/champion
        re-configurations and incremental corpus growth."""
        from warp_pipes_spark.core.fingerprint import fingerprint_dataframe

        return get_fingerprint(
            {
                "op": "bm25_tok_v1",
                "corpus": fingerprint_dataframe(self.corpus),
                "id": self.corpus_id,
                "text": self.corpus_text,
            }
        )

    # set by append(): (base_engine, new_docs) — the union engine's raw
    # postings then serve as base-raw-artifact ∪ delta-only artifact
    _append_from = None

    def _raw_postings(self) -> DataFrame:
        """Raw (term, doc_id, dl, tf) postings, served from the
        tokenization-keyed Parquet cache — the expensive corpus pass.
        Scoring (idf/length-norm bake) is cheap and derived from these.

        Append engines pay ONLY their delta: the base engine's raw
        artifact is unioned with a delta-only tokenization pass stored
        under the union fingerprint's ``_rawdelta`` key — the old form
        rewrote the whole merged raw artifact per append, an index-sized
        I/O pass the incremental append exists to avoid. The scored bake
        still reads every posting row (global idf/avgdl shift), so
        results are unchanged."""
        from warp_pipes_spark.pipes.cache import CacheManager

        if not self.materialize_index:
            return self._postings()
        manager = CacheManager(self.index_cache_dir)
        fp_raw = self._tok_fingerprint() + "_raw"
        if manager.exists(fp_raw):
            return manager.load(self.corpus.sparkSession, fp_raw)
        ap = getattr(self, "_append_from", None)
        if ap is not None:
            base_eng, new_docs = ap
            fp_delta = fp_raw + "delta"
            if not manager.exists(fp_delta):
                new_raw = type(self)(
                    corpus=new_docs, **self._ctor_kwargs()
                )._postings()
                manager.store(new_raw, fp_delta)
            return base_eng._raw_postings().unionByName(
                manager.load(self.corpus.sparkSession, fp_delta)
            )
        raw = self._postings().persist(StorageLevel.MEMORY_AND_DISK)
        out = manager.store(raw, fp_raw)
        raw.unpersist()
        return out

    def _ctor_kwargs(self) -> dict:
        return dict(
            k=self.k,
            corpus_id=self.corpus_id,
            corpus_text=self.corpus_text,
            query_id=self.query_id,
            query_text=self.query_text,
            aux_text_col=self.aux_text_col,
            aux_weight=self.aux_weight,
            scale_aux_weight=self.scale_aux_weight,
            filter_key=self.filter_key,
            corpus_filter_key=self.corpus_filter_key,
            k1=self.k1,
            b=self.b,
            temperature=self.temperature,
            broadcast_queries=self.broadcast_queries,
            persist=self.persist,
            index_cache_dir=self.index_cache_dir,
            materialize_index=self.materialize_index,
            champion_size=self.champion_size,
            maxscore=self.maxscore,
        )

    def append(self, new_docs: DataFrame) -> "Bm25Search":
        """Incremental index maintenance: an engine over ``corpus ∪
        new_docs`` whose raw postings are the CACHED old postings plus one
        tokenization pass over only the new documents — the daily-crawl
        append that never re-tokenizes the existing corpus. Global stats
        (N, avgdl, df -> idf) shift with every append, so scores re-bake
        from the merged raw postings: results are bit-identical to a
        from-scratch engine on the concatenated corpus (tested), not a
        stale-idf approximation. Caller contract: ``new_docs`` has the
        corpus schema and disjoint ids."""
        union = self.corpus.unionByName(new_docs)
        out = type(self)(corpus=union, **self._ctor_kwargs())
        # delta-only raw materialization happens lazily in _raw_postings
        # (base artifact ∪ delta artifact) — no merged index-sized rewrite
        out._append_from = (self, new_docs)
        return out

    def _index_fingerprint(self) -> str:
        """Content key for the materialized index: the corpus plan + source
        file stats (``fingerprint_dataframe``, cross-session stable) plus the
        tokenization-relevant constructor args. Index-once-query-many is the
        reference's core ES capability (``warp_pipes/search/index.py:148-156``:
        build once, every query batch reuses it)."""
        from warp_pipes_spark.core.fingerprint import fingerprint_dataframe

        return get_fingerprint(
            {
                "op": "bm25_index_v2",
                "corpus": fingerprint_dataframe(self.corpus),
                "id": self.corpus_id,
                "text": self.corpus_text,
                # per-posting scores are baked at build time, so the ranking
                # constants are part of the index identity
                "k1": self.k1,
                "b": self.b,
                "champion_size": self.champion_size,
            }
        )

    def _index(self) -> DataFrame:
        """Scored postings ``(term, doc_id, score_d)`` — the per-posting BM25
        term score is baked at BUILD time (idf, length norm and the k1/b
        constants are all per-corpus), so a query batch is only
        broadcast-join → weight-multiply → sum → window: no stats join, no
        per-candidate idf/norm math at query time. Served from a
        fingerprint-keyed Parquet cache so repeated query batches (and other
        ``Bm25Search`` instances over the same corpus) never re-tokenize the
        corpus. At cluster scale point ``index_cache_dir`` at shared storage
        and the postings become the written, term-partitioned artifact every
        executor reads locally."""
        from warp_pipes_spark.pipes.cache import CacheManager

        spark = self.corpus.sparkSession
        if not self.materialize_index:
            postings = self._postings()
            if self.persist:
                # eager localCheckpoint (not a bare persist): the returned
                # plan references the postings lazily, so an un-unpersisted
                # cache would leak for the session's lifetime
                postings = postings.localCheckpoint()
            return self._champion_cap(self._score_postings(postings))

        manager = CacheManager(self.index_cache_dir)
        fp_post = self._index_fingerprint() + "_postings"
        if not manager.exists(fp_post):
            # raw postings come from their own tokenization-keyed cache
            # (parquet-backed), so re-baking scores — e.g. after an append
            # shifted idf, or under different k1/b — never re-tokenizes
            postings = self._raw_postings().persist(StorageLevel.MEMORY_AND_DISK)
            # corpus stats as literals: memoized in the raw artifact's
            # sidecar meta, so every re-bake over the same tokenization
            # (appends re-key; k1/b/champion re-configs don't) skips the
            # doc-level distinct pass AND the bake plan loses the stats
            # crossJoin subtree
            fp_raw = self._tok_fingerprint() + "_raw"
            stats = manager.read_meta(fp_raw).get("stats")
            if stats is None:
                stats = self._corpus_stats(postings)
                if manager.exists(fp_raw):
                    manager.update_meta(fp_raw, {"stats": stats})
            scored = self._champion_cap(self._score_postings(postings, stats=stats))
            # no repartition on write: the query join broadcasts the query
            # terms and STREAMS the postings, so postings-side co-location
            # buys nothing — writing map-side output avoids a full shuffle
            manager.store(scored, fp_post)
            postings.unpersist()
        return manager.load(spark, fp_post)

    def _champion_cap(self, scored: DataFrame) -> DataFrame:
        """Per-term champion list: top-``champion_size`` postings by baked
        score (doc_id tiebreak — deterministic). Applied at BUILD time, so
        the cached artifact is already truncated; a no-op when unset."""
        if self.champion_size is None:
            return scored
        w = Window.partitionBy("term").orderBy(
            F.desc("score_d"), F.asc("doc_id")
        )
        return (
            scored.withColumn("__cr", F.row_number().over(w))
            .filter(F.col("__cr") <= self.champion_size)
            .drop("__cr")
        )

    def _corpus_stats(self, postings: DataFrame) -> dict:
        """Index-intrinsic corpus scalars — ONE tiny agg over the (ideally
        persisted) raw postings, memoized in the raw artifact's sidecar
        meta by `_index` so score re-bakes (appends, k1/b re-configs)
        never repeat the doc-level distinct pass. Values are the exact
        doubles the old broadcast-stats crossJoin carried (JSON round-
        trips doubles exactly), so literal injection is bit-identical."""
        row = (
            postings.select("doc_id", "dl")
            .distinct()
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
            )
        ).collect()[0]
        return {
            "n_docs": int(row["n_docs"]),
            "avgdl": None if row["avgdl"] is None else float(row["avgdl"]),
        }

    def _score_postings(self, postings: DataFrame, stats: dict = None) -> DataFrame:
        """postings (term, doc_id, dl, tf) -> (term, doc_id, score_d DOUBLE).
        The arithmetic is the oracle's expression tree verbatim (ln / mul /
        div over exact ints + corpus stats), so the double is bit-identical
        across engines. NULL-term sentinel rows (token-less docs) feed the
        stats, then drop out in the df inner join.

        With ``stats`` (the `_corpus_stats` scalars), n_docs/avgdl fold in
        as LITERALS — the doc-level distinct+agg pass and the stats
        crossJoin vanish from the bake plan; without it (non-materialized
        one-shot engines) the stats stay a fused broadcast subtree."""
        if stats is not None:
            n_docs_d = F.lit(float(stats["n_docs"]))
            avgdl_d = F.lit(stats["avgdl"]).cast("double")
        else:
            stats_df = (
                postings.select("doc_id", "dl")
                .distinct()
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
                )
            )
            n_docs_d = F.col("n_docs").cast("double")
            avgdl_d = F.col("avgdl")
        df_counts = (
            postings.where(F.col("term").isNotNull())
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        enriched = postings.join(df_counts, "term")
        if stats is None:
            enriched = enriched.crossJoin(F.broadcast(stats_df))
        idf = F.log(
            F.lit(1.0)
            + (n_docs_d - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        tf = F.col("tf").cast("double")
        norm = tf + F.lit(self.k1) * (
            F.lit(1.0) - F.lit(self.b) + F.lit(self.b) * F.col("dl") / avgdl_d
        )
        score_d = idf * tf * F.lit(self.k1 + 1.0) / norm
        return enriched.select("term", "doc_id", score_d.alias("score_d"))

    def _aux_weight_expr(self):
        """Per-query scaled aux weight (reference
        ``support/elasticsearch.py:384-398``), as a column over the query
        row: lengths use the engine's tokenizer (the reference tokenizes
        with its ES analyzer — same spirit, documented deviation)."""
        qlen = F.size(tokens_expr(F.col(self.query_text))).cast("double")
        alen = F.size(tokens_expr(F.col(self.aux_text_col))).cast("double")
        scaled = F.lit(1.0) + F.greatest(
            F.lit(self.aux_weight) * F.log(F.greatest(qlen / alen, F.lit(1.0))),
            F.lit(0.0),
        )
        return F.when((F.lit(self.aux_weight) > 0) & (alen > 0), scaled).otherwise(
            F.lit(0.0)
        )

    def _scored(
        self,
        queries: DataFrame,
        query_text_col: str,
        weight,
        postings: DataFrame,
    ) -> DataFrame:
        weight_col = F.lit(weight) if isinstance(weight, (int, float)) else weight
        q_terms = queries.select(
            F.col(self.query_id).alias("query_id"),
            *( [F.col(self.filter_key).alias("__qfilter")] if self.filter_key else [] ),
            weight_col.alias("__w"),
            F.explode(
                F.array_distinct(tokens_expr(F.col(query_text_col)))
            ).alias("term"),
        )
        # with a bounded query batch over a huge corpus, broadcasting the
        # exploded query terms keeps the postings side shuffle-free
        if self.broadcast_queries:
            q_terms = F.broadcast(q_terms)
        if self.filter_key:
            # the doc's filter value becomes a JOIN KEY (not a post-join
            # predicate): the (term, filter) equi-join drops non-matching
            # fan-out rows at the join itself — with L distinct filter
            # values, ~(L-1)/L of the candidate fan-out never materializes
            doc_filters = self.corpus.select(
                F.col(self.corpus_id).alias("doc_id"),
                F.col(self.corpus_filter_key).alias("__qfilter"),
            )
            postings = postings.join(doc_filters, "doc_id")
            joined = q_terms.join(postings, on=["term", "__qfilter"])
        else:
            joined = q_terms.join(postings, on="term")
        # per-posting score precomputed at build; decimal-round per TERM
        # contribution (the oracle's CAST point) so the sum stays order-free.
        # The scale-6 decimal is then carried as a scaled LONG (value * 1e6,
        # exact): long hash-agg + double window sort are several times
        # cheaper than their decimal equivalents on millions of candidates,
        # with bit-identical results (exact integer sum; the final
        # long/1e6 double division is the correctly-rounded decimal value)
        term_score = (
            (F.col("score_d") * F.col("__w")).cast("decimal(18,6)") * F.lit(1000000)
        ).cast("long")
        return joined.select("query_id", F.col("doc_id").alias("idx"), term_score.alias("ts"))

    # --- seed-threshold dynamic pruning (lossless top-k) ----------------

    def _maxscore_eligible(self) -> bool:
        """Lossless-prune preconditions. The theta argument (any subset
        partial <= the exact sum, so the k-th best seed partial lower-
        bounds the true k-th best score) needs every per-(term, doc)
        contribution to be NON-NEGATIVE and the ranking to be on the
        exact sums themselves:

        * aux legs: supported — theta sums seed partials over BOTH legs
          with the legs' exact weights, valid because the main weight is
          1 and the aux weight is >= 0 (scaled weights are >= 0 by
          construction; a raw negative ``aux_weight`` disables the prune).
        * term filters: supported — seed partials are restricted to docs
          whose filter value matches the query's, so theta bounds the
          k-th best score WITHIN the filtered candidate set.
        * champion truncation: excluded as NOT WORTH IT (correct but
          measured slower): the cap already bounds the ranking-window
          input to <= |q| x C rows per query, the same order as the
          theta pass's own seed join + window — pruning pays a second
          pass to shrink work that is already small (q106 0.8 -> 1.6 s,
          q174's feedback pass 6.1 -> 6.75 s at sf0.1 when enabled).
        * temperature != 1: excluded — the exhaustive path decimal-rounds
          score/T AFTER summation, which can merge distinct sums into
          ties whose idx tie-break the pre-rounding prune cannot see.
        * k1 < 0 or b outside [0, 1]: excluded — a negative length norm
          could make contributions negative, breaking partial <= exact.
        """
        aux_ok = (
            self.aux_text_col is None
            or self.scale_aux_weight
            or self.aux_weight >= 0
        )
        return (
            self.maxscore
            and aux_ok
            and self.champion_size is None
            and self.temperature == 1.0
            and self.k1 >= 0
            and 0.0 <= self.b <= 1.0
        )

    @staticmethod
    def _ts_long(score_col):
        """Per-posting contribution in the engine's exact units: the
        DECIMAL(18,6)-rounded score carried as a scaled long (value*1e6),
        identical to `_scored` with weight 1.0."""
        return (score_col.cast("decimal(18,6)") * F.lit(1000000)).cast("long")

    def _seed_table(self, postings: DataFrame) -> DataFrame:
        """Champion seed lists for the threshold bound: the top
        ``C = max(k, 16)`` postings per term by baked score (doc_id
        tiebreak). One window pass over the scored postings, parquet-cached
        beside the index, so query batches pay zero build cost after the
        first. Term-sized x C rows — tiny next to the index.

        Stores the RAW ``score_d`` (not a pre-rounded contribution): the
        aux leg rounds ``score_d * w`` with a per-QUERY weight, so the
        decimal cast must happen at query time, after the weight multiply
        — identical to `_scored`'s expression (weight 1.0 multiplies
        exactly, so the plain path is unchanged)."""
        from warp_pipes_spark.pipes.cache import CacheManager

        C = max(self.k, 16)
        scored = postings.select("term", "doc_id", "score_d")
        wc = Window.partitionBy("term").orderBy(
            F.desc("score_d"), F.asc("doc_id")
        )
        seed = (
            scored.withColumn("__cr", F.row_number().over(wc))
            .filter(F.col("__cr") <= C)
            .drop("__cr")
        )
        if self.materialize_index:
            manager = CacheManager(self.index_cache_dir)
            fp_seed = self._index_fingerprint() + f"_seedv2_{C}"
            if not manager.exists(fp_seed):
                manager.store(seed, fp_seed)
            seed = manager.load(self.corpus.sparkSession, fp_seed)
        return seed

    def _n_postings(self, stats: DataFrame) -> int:
        """Total posting count ``sum(df)`` — an index-intrinsic scalar the
        term/doc-major strategy chooser needs per query batch. Memoized in
        the termdf artifact's sidecar meta: the FIRST batch over a given
        index pays the one-row probe job and writes the scalar back; every
        later batch (and every other engine sharing the index) reads the
        local JSON with zero Spark jobs."""
        from warp_pipes_spark.pipes.cache import CacheManager

        manager = fp = None
        if self.materialize_index:
            manager = CacheManager(self.index_cache_dir)
            fp = self._index_fingerprint() + "_termdf"
            cached = manager.read_meta(fp).get("n_postings")
            if cached is not None:
                return cached
        n = stats.agg(F.sum("df")).collect()[0][0] or 0
        if manager is not None:
            manager.update_meta(fp, {"n_postings": int(n)})
        return int(n)

    # vocabulary cap for holding the termdf table as a driver dict
    # (~tens of MB at the cap); larger vocabularies keep the Spark-side
    # join probe. Module-level so tests can monkeypatch the threshold.
    _TERMDF_MAP_MAX_ROWS = 262_144

    def _termdf_map(self) -> "dict | None":
        """term -> df as a driver dict, read straight from the termdf
        artifact's Parquet files with pyarrow — ZERO Spark jobs — and
        memoized per artifact snapshot (``io.memo_on_snapshot``, so a
        republish invalidates). None when the index is unmaterialized,
        the artifact is missing, or the vocabulary exceeds the
        driver-memory cap."""
        if not self.materialize_index:
            return None
        from warp_pipes_spark.io import memo_on_snapshot
        from warp_pipes_spark.pipes.cache import CacheManager

        manager = CacheManager(self.index_cache_dir)
        fp = self._index_fingerprint() + "_termdf"
        if not manager.exists(fp):
            return None
        path = manager.path_for(fp)
        cap = self._TERMDF_MAP_MAX_ROWS

        def build() -> "dict | None":
            try:
                import glob as _glob

                import pyarrow.parquet as pq

                files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
                if sum(pq.read_metadata(f).num_rows for f in files) > cap:
                    return None
                result = {}
                for f in files:
                    t = pq.read_table(f, columns=["term", "df"])
                    result.update(
                        zip(t.column("term").to_pylist(),
                            t.column("df").to_pylist())
                    )
                return result
            except Exception:
                return None

        return memo_on_snapshot(
            self.corpus.sparkSession, path, build, tag=("termdf_map", cap)
        )

    def _fan_est(self, qterms: DataFrame, stats: DataFrame) -> int:
        """Exact scoring fan-out Σ df(t) over the batch's query-term
        rows — the strategy chooser's input. With the termdf dict
        available the sum runs driver-side after ONE narrow collect of
        the term rows (no join, no AQE shuffle stages: 3 jobs -> 1 per
        batch); otherwise the vocabulary-sized join probe. Identical
        arithmetic: the inner join drops unindexed terms = .get(t, 0),
        and duplicate term rows (multi-leg queries) count once per
        row in both forms."""
        dfmap = self._termdf_map()
        if dfmap is not None:
            rows = qterms.select("term").collect()
            return sum(dfmap.get(r[0], 0) for r in rows)
        return qterms.join(stats, "term").agg(F.sum("df")).collect()[0][0] or 0

    def _term_stats(self, postings: DataFrame) -> DataFrame:
        """Per-term document frequency ``(term, df)`` — the vocabulary-sized
        statistics table the query planner reads to choose between the
        term-major and doc-major physical strategies. Parquet-cached beside
        the index (one aggregation pass at build, scalar-sized reads per
        query batch)."""
        from warp_pipes_spark.pipes.cache import CacheManager

        stats = (
            postings.where(F.col("term").isNotNull())
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        if self.materialize_index:
            manager = CacheManager(self.index_cache_dir)
            fp = self._index_fingerprint() + "_termdf"
            if not manager.exists(fp):
                manager.store(stats, fp)
            stats = manager.load(self.corpus.sparkSession, fp)
        return stats

    def _transform_maxscore(self, df: DataFrame, postings: DataFrame) -> DataFrame:
        """Top-k retrieval with champion-seeded threshold pruning — the
        initial-threshold idea of the MaxScore/WAND family (Turtle & Flood
        1995; Broder et al. 2003), adapted to a shuffle engine:
        bit-identical results to the exhaustive path, with the top-k
        window running over ~k rows per query instead of every matching
        document.

        Algebra (all scores in exact scaled-long units, so every
        inequality is exact, not float-fuzzy):

        1. theta(q) = the k-th best PARTIAL score over the seed champion
           lists (top-C postings per term, C >= k). Partials are subset
           sums of non-negative contributions, so theta is a LOWER bound
           on the true k-th best score: any true top-k doc scores >=
           true-kth >= theta.
        2. The exhaustive join + aggregation runs unchanged (it is the
           irreducible work — every matching posting contributes to some
           candidate's exact score), but the per-(query, doc) sums are
           filtered to ``sum >= theta`` (exact integer compare, >= keeps
           ties) BEFORE the ranking window. The window — the single most
           expensive stage of the exhaustive plan at scale, a full sort
           of every (query, doc) score — collapses to ~k rows per query.

        A full MaxScore essential-term prune (skip postings of low-ceiling
        terms entirely) was measured on this corpus and rejected: with a
        synthetic near-uniform vocabulary the ceiling test keeps ~80% of
        terms essential, so it adds candidate-set stages without removing
        fan-out. The threshold filter is the part of the family whose win
        is distribution-independent.

        Queries with fewer than k seed candidates get theta = NULL and
        keep every scored doc — exactly the queries with almost no
        matches, so their window input is tiny anyway.

        VARIANTS (round-6 extension; same theta argument throughout):
        aux-boosted queries contribute a second leg of (term, weight)
        rows — both the seed partials and the exact sums round
        ``score_d * w`` per contribution exactly like `_scored`, and the
        bound holds because both legs' weights are >= 0. Term-filtered
        queries restrict BOTH the seed partials and the candidate set to
        docs whose filter value matches the query's, so theta bounds the
        k-th best score within the filtered universe. Single-leg
        configs keep the round-5 posting-side precomputed contribution
        (one decimal cast per INDEX row); only aux configs round
        ``score_d * w`` per fan-out row, because the weight is per-query.

        PHYSICAL STRATEGY — the contribution fan-out (one row per query
        term x matching posting) must be aggregated per (query, doc); the
        planner here chooses WHERE that aggregation's exchange happens by
        comparing the two exact shuffle volumes, both available from the
        vocabulary-sized df table:

        * term-major (sparse regime, sum df(query terms) <= |postings|):
          the classic broadcast-terms plan — fan-out rows shuffle to
          (query)-hash. Right when query terms are selective, i.e. any
          real Zipf vocabulary at 100 TB.
        * doc-major (dense regime, sum df(query terms) > |postings|):
          repartition the POSTINGS by doc (the strictly smaller shuffle),
          then the per-(query, doc) hash-aggregate runs exchange-free
          (doc-hash clusters the grouping key subset) and only the
          theta-survivors — ~k rows per query — ever shuffle again.
          Measured at the sf1 soak (dense synthetic vocabulary, 360M-row
          fan-out over a 1.16M-row index): the fan-out shuffle was 20.7 s
          of a 44 s pass; this plan removes it entirely."""
        seed = self._seed_table(postings)
        qterms = self._query_legs(df)
        if self.broadcast_queries:
            qterms = F.broadcast(qterms)
        # per-contribution units: round AFTER the leg-weight multiply,
        # exactly `_scored`'s cast point. Single-leg configs have a
        # constant weight 1.0, so the cast moves to the POSTINGS side —
        # one decimal round per index row instead of per fan-out row
        # (multiplying by 1.0 is an IEEE identity, so both cast points
        # round the same value)
        single_leg = self.aux_text_col is None
        ts = self._ts_long(F.col("score_d") * F.col("__w"))
        doc_filters = None
        join_keys = ["term"]
        if self.filter_key:
            # doc filter value as a JOIN KEY (the `_scored` trick): with L
            # distinct filter values ~(L-1)/L of the candidate fan-out
            # never materializes. One index ⋈ corpus-projection join per
            # batch; seeds reuse the same enriched frame (term-sized x C)
            doc_filters = self.corpus.select(
                F.col(self.corpus_id).alias("doc_id"),
                F.col(self.corpus_filter_key).alias("__qfilter"),
            )
            seed = seed.join(doc_filters, "doc_id")
            join_keys = ["term", "__qfilter"]

        # theta: k-th best seed partial per query (deterministic); with a
        # term filter, only filter-satisfying docs may seed the bound
        partial = (
            qterms.join(seed, join_keys)
            .select("query_id", "doc_id", ts.alias("ts"))
            .groupBy("query_id", "doc_id")
            .agg(F.sum("ts").alias("ps"))
        )
        wk = Window.partitionBy("query_id").orderBy(
            F.desc("ps"), F.asc("doc_id")
        )
        theta = (
            partial.withColumn("__rk", F.row_number().over(wk))
            .filter(F.col("__rk") == self.k)
            .select("query_id", F.col("ps").alias("__theta"))
        )

        # strategy choice: both sides of the inequality are exact row
        # counts from the vocabulary-sized df table (two scalar probes);
        # qterms carries one row per (query, leg, term), so the join-sum
        # counts the true fan-out across legs
        stats = self._term_stats(postings)
        n_postings = self._n_postings(stats)
        fan_est = self._fan_est(qterms, stats)
        doc_major = fan_est > n_postings

        if single_leg:
            scored = postings.select(
                "term", "doc_id", self._ts_long(F.col("score_d")).alias("__pts")
            )
            fan_ts = F.col("__pts")
        else:
            scored = postings.select("term", "doc_id", "score_d")
            fan_ts = ts
        if doc_filters is not None:
            # doc-keyed enrichment; clustering on doc_id survives into the
            # doc-major aggregate below
            scored = scored.join(doc_filters, "doc_id")
        # explicit partition count: the repartition exchange moves only
        # the (small) index / per-query keys, so AQE would coalesce it —
        # and the huge join + in-place aggregate downstream would inherit
        # that crippled parallelism (measured: 16 of 32 cores at the sf1
        # soak). Width adapts to the exact fan-out estimate so the
        # per-partition aggregate hash tables never spill (the 30x soak's
        # superlinear wall — see fanout_width).
        n_width = fanout_width(df.sparkSession, fan_est)
        if doc_major:
            scored = scored.repartition(n_width, "doc_id")
        full = qterms.join(scored, join_keys).select(
            "query_id",
            F.col("doc_id").alias("idx"),
            fan_ts.alias("ts"),
        )
        if not doc_major:
            full = full.repartition(n_width, "query_id")
        sums = full.groupBy("query_id", "idx").agg(F.sum("ts").alias("__sum"))
        scores = (
            sums.join(F.broadcast(theta), "query_id", "left")
            .filter(F.col("__theta").isNull() | (F.col("__sum") >= F.col("__theta")))
            .select(
                "query_id",
                "idx",
                (F.col("__sum") / F.lit(1000000.0)).alias("score"),
            )
        )
        return self._finalize(scores)

    def _query_legs(self, df: DataFrame) -> DataFrame:
        """(query_id, [__qfilter,] __w, term) rows for every scoring leg —
        the main query text at weight 1 plus the optional aux leg at its
        (possibly per-query log-length-scaled) weight. Mirrors `_scored`'s
        per-leg explosion so the pruned path rounds identical
        contributions; a term appearing in both legs yields two rows whose
        contributions ADD, matching the exhaustive union-of-legs plan."""
        fsel = (
            [F.col(self.filter_key).alias("__qfilter")]
            if self.filter_key
            else []
        )

        def leg(text_col, w):
            wcol = F.lit(float(w)) if isinstance(w, (int, float)) else w
            return df.select(
                F.col(self.query_id).alias("query_id"),
                *fsel,
                wcol.alias("__w"),
                F.explode(
                    F.array_distinct(tokens_expr(F.col(text_col)))
                ).alias("term"),
            )

        out = leg(self.query_text, 1.0)
        if self.aux_text_col:
            aux_w = (
                self._aux_weight_expr()
                if self.scale_aux_weight
                else self.aux_weight
            )
            out = out.unionByName(leg(self.aux_text_col, aux_w))
        return out

    def _finalize(self, scores: DataFrame) -> DataFrame:
        """Shared tail: temperature scaling + deterministic top-k window."""
        if self.temperature != 1.0:
            # reference parity (elasticsearch.py:289-292); decimal-rounded
            # for run-to-run stability (no oracled query uses temperature)
            scores = scores.withColumn(
                "score",
                (F.col("score") / F.lit(self.temperature))
                .cast("decimal(18,6)")
                .cast("double"),
            )
        # score is the exact decimal sum rendered as double (long/1e6 is
        # correctly rounded); scale-6 decimals at score magnitudes map to
        # distinct doubles, so ranking on the double matches the oracle's
        # decimal ranking
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("idx"))
        return (
            scores.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.k)
            .select("query_id", "rank", "idx", "score")
        )

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        # the scored postings come from the fingerprint-keyed Parquet index
        # (built once per corpus); a query batch is then just broadcast-join
        # + weight + sum + window — no corpus pass at all
        postings = self._index()
        if self._maxscore_eligible():
            return self._transform_maxscore(df, postings)
        parts = [self._scored(df, self.query_text, 1.0, postings)]
        if self.aux_text_col:
            aux_w = (
                self._aux_weight_expr()
                if self.scale_aux_weight
                else self.aux_weight
            )
            parts.append(self._scored(df, self.aux_text_col, aux_w, postings))
        all_terms = parts[0]
        for p in parts[1:]:
            all_terms = all_terms.unionByName(p)
        # ONE exchange for agg + window: hash-partitioning on query_id alone
        # satisfies both the (query_id, idx) grouping (subset-key clustered
        # distribution) and the window's partitionBy(query_id) — without it
        # Spark plans two back-to-back shuffles. Partial aggregation loses
        # nothing: input arrives term-partitioned, so a (query_id, idx) pair
        # almost never repeats within a map partition anyway.
        scores = all_terms.repartition("query_id").groupBy("query_id", "idx").agg(
            (F.sum("ts") / F.lit(1000000.0)).alias("score")
        )
        return self._finalize(scores)


class Bm25FSearch(Bm25Search):
    """Multi-field BM25F ranking (Zaragoza et al., "Microsoft Cambridge at
    TREC-13"): per-field length-normalized term frequencies are combined
    with field weights BEFORE saturation, so a term hit in a short weighted
    field (title) outscores the same hit diluted in a long body — the
    behavior ES ``multi_match(type=cross_fields)`` approximates. Extension
    beyond the reference's single-field match+aux queries.

    Formula (per field f with weight w_f and normalization b_f)::

        tfn(t,d,f) = tf(t,d,f) / (1 - b_f + b_f * dl_f(d)/avgdl_f)
        ctf(t,d)   = Σ_f w_f * tfn(t,d,f)          -- decimal-summed, order-free
        score(q,d) = Σ_{t ∈ q∩d} idf(t) * ctf * (k1+1) / (k1 + ctf)
        idf(t)     = ln(1 + (N - df + 0.5)/(df + 0.5)),  df over ANY field

    Everything after tokenization is corpus-level, so the per-posting score
    bakes at build time exactly like single-field BM25 — the materialized
    index is the same ``(term, doc_id, score_d)`` shape and the query path
    (broadcast terms -> join -> sum -> window) is inherited unchanged.

    ``fields`` maps corpus column -> weight; ``field_b`` optionally
    overrides per-field b (defaults to the shared ``b``)."""

    def __init__(
        self,
        corpus: DataFrame,
        fields: dict[str, float],
        field_b: dict[str, float] | None = None,
        **kwargs,
    ):
        if not fields:
            raise ValueError("Bm25FSearch needs at least one field")
        super().__init__(corpus=corpus, **kwargs)
        self.fields = dict(fields)
        self.field_b = {f: (field_b or {}).get(f, self.b) for f in fields}

    def _postings(self) -> DataFrame:
        # ONE corpus scan for every field: the fields stack into an
        # exploded (field, text) array so a derived corpus projection
        # (q88 computes title/body by tokenizing the full text) is
        # evaluated once, not once per field — the old per-field
        # build_inverted_index union re-scanned the corpus |fields|
        # times. Row-for-row identical to the union (A/B exceptAll = 0
        # both ways): per (doc, field), dl/tf/sentinel semantics are
        # build_inverted_index's verbatim, including the explode_outer
        # NULL-term sentinel for token-less fields and the NULL-text
        # drop via the size guard.
        from warp_pipes_spark.text.analysis import tokens_expr
        from warp_pipes_spark.text.dedup import widen_partitions

        narrow = widen_partitions(
            self.corpus.select(
                F.col(self.corpus_id).cast("long").alias("doc_id"),
                *[F.col(f) for f in self.fields],
            )
        )
        stacked = narrow.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(f).alias("field"),
                            F.col(f).alias("__ftext"),
                        )
                        for f in self.fields
                    ]
                )
            ).alias("fx"),
        ).select(
            "doc_id",
            F.col("fx.field").alias("field"),
            tokens_expr(F.col("fx.__ftext")).alias("__toks"),
        )
        return (
            stacked.filter(F.size("__toks") >= 0)
            .select(
                "doc_id",
                "field",
                F.size("__toks").alias("dl"),
                F.explode_outer("__toks").alias("term"),
            )
            .groupBy("term", "doc_id", "dl", "field")
            .agg(F.count(F.col("term")).alias("tf"))
            .select("term", "doc_id", "dl", "tf", "field")
        )

    def _index_fingerprint(self) -> str:
        from warp_pipes_spark.core.fingerprint import fingerprint_dataframe

        return get_fingerprint(
            {
                "op": "bm25f_index_v1",
                "corpus": fingerprint_dataframe(self.corpus),
                "id": self.corpus_id,
                "fields": sorted(self.fields.items()),
                "field_b": sorted(self.field_b.items()),
                "k1": self.k1,
                "champion_size": self.champion_size,
            }
        )

    def _tok_fingerprint(self) -> str:
        from warp_pipes_spark.core.fingerprint import fingerprint_dataframe

        return get_fingerprint(
            {
                "op": "bm25f_tok_v1",
                "corpus": fingerprint_dataframe(self.corpus),
                "id": self.corpus_id,
                "fields": sorted(self.fields),
            }
        )

    def _ctor_kwargs(self) -> dict:
        base = super()._ctor_kwargs()
        base["fields"] = dict(self.fields)
        base["field_b"] = dict(self.field_b)
        return base

    def _maxscore_eligible(self) -> bool:
        """BM25F contributions are non-negative iff every field weight is
        >= 0 and every per-field b stays in [0, 1] (a b > 1 can drive a
        short field's tfn — and with it ctf and the score — negative)."""
        return (
            super()._maxscore_eligible()
            and all(w >= 0 for w in self.fields.values())
            and all(0.0 <= v <= 1.0 for v in self.field_b.values())
        )

    def _corpus_stats(self, postings: DataFrame) -> dict:
        """Per-field avgdl + corpus n_docs scalars (two tiny aggs over the
        persisted raw), exactly the doubles the old broadcast joins
        carried."""
        avg_rows = (
            postings.select("field", "doc_id", "dl")
            .distinct()
            .groupBy("field")
            .agg((F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"))
        ).collect()
        n_docs = (
            postings.select("doc_id")
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_docs"))
        ).collect()[0]["n_docs"]
        return {
            "n_docs": int(n_docs),
            "avgdl_f": {
                r["field"]: (None if r["avgdl"] is None else float(r["avgdl"]))
                for r in avg_rows
            },
        }

    def _score_postings(self, postings: DataFrame, stats: dict = None) -> DataFrame:
        """(term, doc_id, dl, tf, field) -> (term, doc_id, score_d). The
        field combination ``ctf`` is summed in DECIMAL so the result is
        independent of which field's row arrives first; df counts a doc
        once however many fields hit. Sentinel NULL-term rows keep every
        (field, doc) in the per-field avgdl.

        With ``stats`` the per-field avgdl becomes a literal map lookup
        (like w/b) and n_docs a literal — the doc-level distinct passes
        and two broadcast joins vanish from the bake plan; values are the
        identical doubles, so scores are bit-identical."""
        real = postings.where(F.col("term").isNotNull())
        df_counts = (
            real.select("term", "doc_id").distinct().groupBy("term").agg(
                F.count(F.lit(1)).alias("df")
            )
        )
        w_map = F.create_map(
            *[x for f, w in sorted(self.fields.items()) for x in (F.lit(f), F.lit(float(w)))]
        )
        b_map = F.create_map(
            *[x for f, b in sorted(self.field_b.items()) for x in (F.lit(f), F.lit(float(b)))]
        )
        if stats is not None:
            if stats["avgdl_f"]:
                avgdl_map = F.create_map(
                    *[
                        x
                        for f, a in sorted(stats["avgdl_f"].items())
                        for x in (F.lit(f), F.lit(a).cast("double"))
                    ]
                )
                avgdl_d = avgdl_map[F.col("field")]
            else:  # empty corpus: no per-field rows, postings are empty
                avgdl_d = F.lit(None).cast("double")
            n_docs_d = F.lit(float(stats["n_docs"]))
        else:
            avgdl_d = F.col("avgdl")
            n_docs_d = F.col("n_docs").cast("double")
        tfn = (
            F.col("tf").cast("double")
            / (
                F.lit(1.0)
                - b_map[F.col("field")]
                + b_map[F.col("field")] * F.col("dl") / avgdl_d
            )
        ) * w_map[F.col("field")]
        ctf_src = real
        if stats is None:
            avgdl_f = (
                postings.select("field", "doc_id", "dl")
                .distinct()
                .groupBy("field")
                .agg((F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"))
            )
            ctf_src = real.join(F.broadcast(avgdl_f), "field")
        ctf = ctf_src.groupBy("term", "doc_id").agg(
            F.sum(tfn.cast("decimal(18,8)")).cast("double").alias("ctf")
        )
        enriched = ctf.join(df_counts, "term")
        if stats is None:
            n_docs_df = postings.select("doc_id").distinct().agg(
                F.count(F.lit(1)).alias("n_docs")
            )
            enriched = enriched.crossJoin(F.broadcast(n_docs_df))
        idf = F.log(
            F.lit(1.0)
            + (n_docs_d - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        score_d = (
            idf * F.col("ctf") * F.lit(self.k1 + 1.0) / (F.lit(self.k1) + F.col("ctf"))
        )
        return enriched.select("term", "doc_id", score_d.alias("score_d"))


def bm25f_oracle_sql(
    corpus_table: str,
    queries_cte: str,
    fields: dict[str, float],
    k: int = 10,
    k1: float = K1,
    b: float = B,
    field_b: dict[str, float] | None = None,
    id_col: str = "doc_id",
    field_exprs: dict[str, str] | None = None,
) -> str:
    """DuckDB oracle for :class:`Bm25FSearch` — identical tokenization,
    identical decimal cast points (ctf at DECIMAL(18,8), per-term score at
    DECIMAL(18,6)). ``field_exprs`` optionally maps field name -> SQL
    expression deriving it from the corpus row (defaults to the column)."""
    field_b = {f: (field_b or {}).get(f, b) for f in fields}
    field_exprs = field_exprs or {f: f for f in fields}
    per_field_tokens = ", ".join(
        f"{tokens_sql(field_exprs[f])} AS toks_{f}" for f in sorted(fields)
    )
    field_posts = "\n  UNION ALL\n".join(
        f"  SELECT '{f}' AS field, doc_id, len(toks_{f}) AS dl, unnest(toks_{f}) AS term"
        f" FROM doc_tokens"
        for f in sorted(fields)
    )
    field_lens = "\n  UNION ALL\n".join(
        f"  SELECT '{f}' AS field, doc_id, len(toks_{f}) AS dl FROM doc_tokens"
        for f in sorted(fields)
    )
    w_case = " ".join(f"WHEN '{f}' THEN {float(w)}" for f, w in sorted(fields.items()))
    b_case = " ".join(f"WHEN '{f}' THEN {float(v)}" for f, v in sorted(field_b.items()))
    return f"""
WITH queries AS ({queries_cte}),
doc_tokens AS (
  SELECT {id_col} AS doc_id, {per_field_tokens} FROM {corpus_table}
),
field_lens AS (
{field_lens}
),
avgdl_f AS (
  SELECT field, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM field_lens GROUP BY 1
),
posts AS (
{field_posts}
),
tf AS (
  SELECT field, term, doc_id, dl, COUNT(*) AS tf FROM posts GROUP BY ALL
),
stats AS (SELECT COUNT(*) AS n_docs FROM doc_tokens),
dfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1
),
ctf AS (
  SELECT t.term, t.doc_id,
         CAST(SUM(CAST(
           (CASE t.field {w_case} END)
           * CAST(t.tf AS DOUBLE)
           / (1.0 - (CASE t.field {b_case} END)
              + (CASE t.field {b_case} END) * t.dl / a.avgdl)
         AS DECIMAL(18,8))) AS DOUBLE) AS ctf
  FROM tf t JOIN avgdl_f a ON t.field = a.field
  GROUP BY 1, 2
),
term_scores AS (
  SELECT q.query_id, c.doc_id AS idx,
         CAST(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * c.ctf * {k1 + 1.0} / ({k1} + c.ctf)
         AS DECIMAL(18,6)) AS ts
  FROM (SELECT query_id, unnest(list_distinct({tokens_sql('qtext')})) AS term
        FROM queries) q
  JOIN ctf c ON q.term = c.term
  JOIN dfreq d ON c.term = d.term
  CROSS JOIN stats s
),
scores AS (
  SELECT query_id, idx, SUM(ts) AS score FROM term_scores GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, idx, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, idx) AS rank
  FROM scores
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, idx,
       CAST(CAST(score AS DECIMAL(18,6)) AS DOUBLE) AS score
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


def bm25_oracle_sql(
    corpus_table: str,
    queries_cte: str,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    id_col: str = "doc_id",
    text_col: str = "text",
    aux_weight: float | None = None,
    filter_col: str | None = None,
    scale_aux: bool = False,
    champion_size: int | None = None,
) -> str:
    """DuckDB oracle implementing the identical formula over the identical
    tokenization. ``queries_cte`` must yield (query_id, qtext[, qaux when
    aux_weight is set][, qfilter when filter_col is set]); ``filter_col``
    names the corpus column a query's qfilter must equal (the reference's ES
    term filter); ``aux_weight`` scores the qaux terms as a second weighted
    query (the reference's auxiliary-query boost); ``scale_aux`` applies the
    reference's per-query log length-ratio scaling to that weight;
    ``champion_size`` truncates each term's scored postings to its top-C
    champion list before the query join (same deterministic cap as the
    engine — score desc, doc_id tiebreak)."""
    toks = tokens_sql(text_col)
    fcol_sel = f", {filter_col} AS fval" if filter_col else ""
    fcol_carry = ", fval" if filter_col else ""
    q_fcol = ", qfilter" if filter_col else ""
    fjoin = " AND q.qfilter = t.fval" if filter_col else ""

    def _branch(qtext_expr: str, weight_sql: str) -> str:
        if champion_size is not None:
            cjoin = " AND q.qfilter = c.fval" if filter_col else ""
            return f"""
  SELECT q.query_id, c.doc_id AS idx,
         CAST(c.score_d * q.w AS DECIMAL(18,6)) AS ts
  FROM (SELECT query_id{q_fcol}, {weight_sql} AS w,
        unnest(list_distinct({tokens_sql(qtext_expr)})) AS term FROM queries) q
  JOIN champ c ON q.term = c.term{cjoin}"""
        return f"""
  SELECT q.query_id, t.doc_id AS idx,
         CAST(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * CAST(t.tf AS DOUBLE) * {k1 + 1.0}
           / (CAST(t.tf AS DOUBLE) + {k1} * (1.0 - {b} + {b} * t.dl / s.avgdl))
           * q.w
         AS DECIMAL(18,6)) AS ts
  FROM (SELECT query_id{q_fcol}, {weight_sql} AS w,
        unnest(list_distinct({tokens_sql(qtext_expr)})) AS term FROM queries) q
  JOIN tf t ON q.term = t.term{fjoin}
  JOIN dfreq d ON t.term = d.term
  CROSS JOIN stats s"""

    branches = [_branch("qtext", "1.0")]
    if aux_weight is not None:
        if scale_aux:
            qlen = f"CAST(len({tokens_sql('qtext')}) AS DOUBLE)"
            alen = f"CAST(len({tokens_sql('qaux')}) AS DOUBLE)"
            aux_w_sql = (
                f"CASE WHEN {aux_weight} > 0 AND {alen} > 0 THEN "
                f"1.0 + greatest({aux_weight} * ln(greatest({qlen} / {alen}, 1.0)), 0.0) "
                f"ELSE 0.0 END"
            )
        else:
            aux_w_sql = str(aux_weight)
        branches.append(_branch("qaux", aux_w_sql))
    term_scores = "\n  UNION ALL\n".join(branches)
    if champion_size is not None:
        sp_fcol = ", t.fval" if filter_col else ""
        champ_ctes = f"""
sp AS (
  SELECT t.term, t.doc_id{sp_fcol},
         ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
         * CAST(t.tf AS DOUBLE) * {k1 + 1.0}
         / (CAST(t.tf AS DOUBLE) + {k1} * (1.0 - {b} + {b} * t.dl / s.avgdl))
           AS score_d
  FROM tf t JOIN dfreq d ON t.term = d.term CROSS JOIN stats s
),
champ AS (
  SELECT * FROM sp
  QUALIFY ROW_NUMBER() OVER (PARTITION BY term
                             ORDER BY score_d DESC, doc_id) <= {champion_size}
),"""
    else:
        champ_ctes = ""
    return f"""
WITH queries AS ({queries_cte}),
doc_tokens AS (
  SELECT {id_col} AS doc_id, {toks} AS tokens{fcol_sel} FROM {corpus_table}
),
postings AS (
  SELECT doc_id, len(tokens) AS dl{fcol_carry}, unnest(tokens) AS term FROM doc_tokens
),
tf AS (
  SELECT term, doc_id, dl{fcol_carry}, COUNT(*) AS tf FROM postings GROUP BY ALL
),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(tokens)) AS DOUBLE) / COUNT(*) AS avgdl
  FROM doc_tokens
),
dfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1
),{champ_ctes}
term_scores AS ({term_scores}
),
scores AS (
  SELECT query_id, idx, SUM(ts) AS score FROM term_scores GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, idx, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, idx) AS rank
  FROM scores
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, idx,
       CAST(CAST(score AS DECIMAL(18,6)) AS DOUBLE) AS score
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""
