"""Index-accelerated literal substring search (the pg_trgm pattern).

A `WHERE contains(text, pattern)` over a 100 TB corpus is a full scan
per query batch; the classic fix (PostgreSQL's pg_trgm, Elasticsearch
wildcard fields) is a character-trigram inverted index: a document can
contain the pattern only if it contains EVERY trigram of the pattern,
so the index bounds the verify set to documents matching all pattern
trigrams, and one exact ``contains`` pass over that bounded set gives
scan-identical results.

Plan shape (the part that matters at 100 TB):

* the posting table (distinct char-trigram, doc_id) is built ONCE per
  corpus fingerprint and materialized to Parquet, range-clustered and
  sorted by gram (the ``search/bm25.py`` ``_raw_postings``
  index-once-query-many convention) — repeated query batches never
  re-explode the corpus;
* each query batch's selected grams (<= |patterns| x ``prune_grams``
  rows) both BROADCAST into the posting scan and, when the distinct
  gram set is driver-small, push down as a literal ``IN`` predicate —
  the gram-sorted Parquet then prunes row groups by min/max stats, so
  candidate generation reads only the rare grams' posting slices
  instead of the whole index;
* a candidate survives only if it matched ALL of its query's selected
  grams (count == n_need — trigram containment is necessary, never
  sufficient);
* the exact ``contains`` verify joins the bounded candidate set back to
  the corpus text — the only row-text access after the scan.

Both input-contract guards (pattern length >= 3, unique query ids)
ride the single query-side planning job that also collects the
pushdown gram list — no separate driver-blocking probe job runs before
the query.

The DuckDB oracle is the NAIVE scan (``JOIN ON contains(text,
pattern)``), so the differential proves the indexed path returns
scan-identical matches.

Reference anchor: search-family extension (``search/bm25.py`` builds
the word-granular inverted index; this is its character-granular
sibling for substring/infix workloads the tokenizer can't serve).
"""

from __future__ import annotations

import os
import tempfile
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warp_pipes_spark.core.pipe import Pipe
from warp_pipes_spark.pipes.cache import CacheManager
from warp_pipes_spark.search.masks import query_masks_fit


def trigram_cache_dir() -> str:
    """Override with ``WPS_TRIGRAM_CACHE_DIR`` (point at shared storage
    on a cluster so every driver reuses the same posting index)."""
    return os.environ.get(
        "WPS_TRIGRAM_CACHE_DIR",
        os.path.join(tempfile.gettempdir(), "warp_pipes_spark_trigram"),
    )


def grams_expr(col: Column) -> Column:
    """Distinct character trigrams of ``col``; EMPTY array below 3 chars
    (``sequence(1, 0)`` would otherwise step DOWNWARD and emit junk
    sub-3-char 'grams' that bloat the posting for nothing)."""
    seq = F.sequence(F.lit(1), F.length(col) - F.lit(2))
    arr = F.array_distinct(F.transform(seq, lambda i: col.substr(i, F.lit(3))))
    return F.when(F.length(col) >= 3, arr).otherwise(
        F.array().cast("array<string>")
    )


def grams_udf():
    """Vectorized trigram kernel (pandas UDF): same values and the same
    first-occurrence order as :func:`grams_expr` (asserted in tests), but
    ~3x faster on the corpus-sized posting build — Spark's higher-order
    array functions are interpreted per element, a Python loop over Arrow
    batches wins (the ``shingles_udf`` precedent in ``text/dedup.py``).
    Used for the EXPLODED posting builds only; query-side gram arrays
    keep the pure-expression form."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def kernel(texts):
        out = []
        for t in texts:
            if t is None or len(t) < 3:
                out.append([])
            else:
                out.append(
                    list(dict.fromkeys(t[i : i + 3] for i in range(len(t) - 2)))
                )
        return pd.Series(out)

    kernel.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(kernel, "array<string>")


class TrigramSubstringSearch(Pipe):
    """Input df = (``query_id``, ``pattern``) literal patterns (unique
    ids; length >= 3 — shorter patterns have no trigram and would need
    the full scan this operator exists to avoid; both contract
    violations raise eagerly from the planning job); output =
    (query_id, doc_id) for every corpus document whose text contains
    the pattern, identical to the naive scan.

    The (gram, doc_id) posting is built once per corpus fingerprint,
    range-clustered by gram, and every later query batch is served from
    the Parquet artifact — the pg_trgm index-size-for-query-speed
    tradeoff (the posting holds one row per distinct (doc, trigram),
    several times the corpus text's cardinality; disk is the cheap axis
    at 100 TB, repeated corpus scans are not)."""

    def __init__(
        self,
        corpus: DataFrame,
        corpus_id: str = "doc_id",
        corpus_text: str = "text",
        query_id: str = "query_id",
        pattern_col: str = "pattern",
        prune_grams: int = 3,
        index_cache_dir: Optional[str] = None,
        **kwargs,
    ):
        super().__init__(**kwargs)
        self.corpus = corpus
        self.corpus_id = corpus_id
        self.corpus_text = corpus_text
        self.query_id = query_id
        self.pattern_col = pattern_col
        # trigram CONTAINMENT is a necessary condition for ANY subset of
        # the pattern's trigrams, so the filter only needs each query's
        # K rarest grams (pg_trgm's actual trick): the candidate-join
        # fan-out is bounded by the K-th rarest gram's document
        # frequency instead of growing with pattern length x corpus
        # (measured at sf1: all-grams 110 s -> rarest-3 ~8 s, identical
        # results — the verify pass is exact either way). 0 = use all
        # grams (the sweep's stress configuration).
        self.prune_grams = prune_grams
        self.index_cache_dir = index_cache_dir or trigram_cache_dir()

    _no_fingerprint = ("corpus",)

    # when the batch's distinct selected grams fit under this cap, they
    # also become a literal IN predicate on the posting scan — against
    # the gram-sorted index Parquet that's row-group min/max pruning, the
    # scan reads only the matched grams' slices. Larger batches keep the
    # full scan; tests set 0 to force that plan.
    _GRAM_PUSHDOWN_MAX = 4096

    # dense-gate weight: measured sparse-aggregate-row vs pair-predicate
    # unit-cost ratio (see the strategy comment in _transform)
    _DENSE_FAN_WEIGHT = 4

    # subclass hooks: the wildcard engine reuses the whole candidate /
    # prune / pushdown / verify machinery and swaps only these three
    # seams (gram extraction, the guard's "has trigram signal" length,
    # and the exact verify predicate)
    _SHORT_MSG = (
        "TrigramSubstringSearch: pattern shorter than 3 chars has no"
        " trigram — it would need the full scan this index exists to"
        " avoid. Filter or route short patterns to a direct contains()"
        " scan."
    )

    def _qgram_expr(self, col: Column) -> Column:
        return grams_expr(col)

    def _guard_len_expr(self, col: Column) -> Column:
        return F.length(col)

    def _check_extra_guards(self, plan_row) -> None:
        return None

    def _extra_inner_guard_aggs(self) -> list:
        return []

    def _extra_outer_guard_aggs(self) -> list:
        return []

    def _verify_cond(self, txt: Column, pat: Column) -> Column:
        return F.contains(txt, pat)

    def _index_fingerprint(self) -> str:
        from warp_pipes_spark.core.fingerprint import (
            fingerprint_dataframe,
            get_fingerprint,
        )

        return get_fingerprint(
            {
                "op": "trigram_posting_v1",
                "corpus": fingerprint_dataframe(self.corpus),
                "id": self.corpus_id,
                "text": self.corpus_text,
            }
        )

    # set by append(): (base_engine, delta_docs) — the posting then
    # merges the base engine's artifact with a delta-only explode
    _append_from = None

    def append(self, new_docs: DataFrame) -> "TrigramSubstringSearch":
        """Incremental index growth (the ``search/bm25.py`` ``append``
        convention): returns an engine over corpus ∪ new_docs whose
        posting is the BASE engine's materialized artifact unioned with
        an explode of ONLY the new documents — the existing corpus is
        never re-tokenized. The merged posting materializes under the
        union corpus' own fingerprint, so chained appends each pay only
        their delta, and results are identical to a full rebuild (the
        posting rows are per-doc facts, unlike BM25's global stats —
        no re-bake needed)."""
        eng = type(self)(
            corpus=self.corpus.select(
                F.col(self.corpus_id), F.col(self.corpus_text)
            ).unionByName(
                new_docs.select(
                    F.col(self.corpus_id), F.col(self.corpus_text)
                )
            ),
            corpus_id=self.corpus_id,
            corpus_text=self.corpus_text,
            query_id=self.query_id,
            pattern_col=self.pattern_col,
            prune_grams=self.prune_grams,
            index_cache_dir=self.index_cache_dir,
        )
        eng._append_from = (self, new_docs)
        return eng

    def _posting(self) -> DataFrame:
        """(gram, doc_id) posting — the index. grams_expr is per-doc
        array_distinct, so the exploded posting is already
        (doc_id, gram)-unique; a global .distinct() would shuffle the
        corpus-sized character posting for nothing (measured: sf1 q228
        101.9 s with it). Materialized once per corpus fingerprint,
        range-partitioned + sorted by gram so literal gram predicates
        prune row groups on every later read."""
        def explode(docs: DataFrame) -> DataFrame:
            return docs.select(
                F.col(self.corpus_id).alias("doc_id"),
                F.explode(grams_udf()(F.col(self.corpus_text))).alias("gram"),
            )

        def clustered(docs: DataFrame) -> DataFrame:
            return explode(docs).repartitionByRange("gram").sortWithinPartitions("gram")

        # getattr: TrigramSimilaritySearch borrows this method without
        # inheriting the class attribute
        if getattr(self, "_append_from", None) is not None:
            # append pays ONLY its delta: the base engine's posting (its
            # already-gram-clustered artifact) is UNIONED with a
            # delta-only explode, and only the DELTA slice is
            # materialized (keyed under the union corpus fingerprint, so
            # chained appends and re-runs invalidate correctly). The old
            # form re-ran repartitionByRange over base ∪ delta — a
            # full index-sized shuffle + rewrite per append, exactly the
            # corpus-proportional cost an incremental append exists to
            # avoid. Gram predicates (the literal-IN pushdown) push
            # through the Union into BOTH clustered scans, so row-group
            # pruning is preserved on each side.
            base_eng, delta = self._append_from
            # delta-sized shuffle: cluster just the new rows by gram
            delta_posting = CacheManager(self.index_cache_dir).get_or_compute(
                self.corpus.sparkSession,
                self._index_fingerprint() + "_delta",
                lambda: clustered(delta),
            )
            return base_eng._posting().unionByName(delta_posting)
        # one-time corpus-sized shuffle to gram-cluster the index files;
        # every later batch reads back a pruned slice
        return CacheManager(self.index_cache_dir).get_or_compute(
            self.corpus.sparkSession,
            self._index_fingerprint(),
            lambda: clustered(self.corpus),
        )

    def _gram_df(self, posting: DataFrame) -> DataFrame:
        """gram -> document frequency stats (vocabulary-sized), derived
        from the materialized posting and cached under the same corpus
        fingerprint — the rarest-gram prune reads this, never the
        corpus."""
        def build() -> DataFrame:
            return posting.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))

        return CacheManager(self.index_cache_dir).get_or_compute(
            self.corpus.sparkSession, self._index_fingerprint() + "_df", build
        )

    def _n_docs(self, posting: DataFrame) -> int:
        """|distinct indexed docs| — the dense-regime pair-count factor.
        Index-intrinsic, so the first batch pays the probe job and
        memoizes the scalar in the gram-df artifact's sidecar meta."""

        def probe() -> int:
            return posting.select("doc_id").distinct().count()

        return CacheManager(self.index_cache_dir).meta_value(
            self._index_fingerprint() + "_df", "n_docs", probe
        )

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        qg = df.select(
            F.col(self.query_id).alias("query_id"),
            self._qgram_expr(F.col(self.pattern_col)).alias("__g"),
        )
        qgrams = qg.select("query_id", F.explode("__g").alias("gram"))
        posting = self._posting()
        if self.prune_grams:
            from pyspark.sql import Window

            # one map-side-combined pass over the posting gives the
            # trigram document frequencies (vocabulary-sized output,
            # served from the corpus-fingerprint-keyed Parquet cache —
            # the BM25 index-once-query-many convention); keep each
            # query's K rarest grams — deterministic (df, gram) order,
            # though ANY subset yields the same final answer. A query
            # gram ABSENT from the corpus keeps df = 0 and is kept
            # first: no doc can hit it, so count == n_need correctly
            # empties that query's candidates.
            df_tbl = self._gram_df(posting)
            w = Window.partitionBy("query_id").orderBy(
                F.asc("__df"), F.asc("gram")
            )
            sel0 = (
                qgrams.join(df_tbl, "gram", "left")
                .na.fill({"__df": 0})
                .withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= self.prune_grams)
                .select("query_id", "gram", "__df")
            )
            sel = sel0.select("query_id", "gram")
        else:
            sel0 = None
            sel = qgrams
        # ONE tiny query-side planning job carries BOTH input-contract
        # guards (pattern length >= 3 — an empty trigram set would
        # silently match nothing; unique query ids — duplicates would
        # POOL their patterns' grams into one n_need and silently
        # under-match) AND, when enabled, the distinct selected grams
        # for the index-scan pushdown. Deliberately NOT raise_error
        # expressions inside the candidate plan: codegen subexpression
        # elimination hoists a repeated raise_error CASE above the
        # short-circuiting AND of any filter it's pushed into (observed
        # via InferFiltersFromGenerate), and AQE's empty-relation
        # propagation elides branches entirely when a join side is
        # empty — a plan-folded guard both misfires and fails to fire.
        guards = df.groupBy(F.col(self.query_id).alias("query_id")).agg(
            F.count(F.lit(1)).alias("__npat"),
            F.min(
                self._guard_len_expr(F.col(self.pattern_col))
            ).alias("__minlen"),
            *self._extra_inner_guard_aggs(),
        ).groupBy().agg(
            F.max("__npat").alias("max_dup"),
            F.min("__minlen").alias("min_len"),
            F.count(F.lit(1)).alias("n_q"),
            *self._extra_outer_guard_aggs(),
        )
        pushdown = bool(self.prune_grams)
        if pushdown:
            # bounded by |queries| x prune_grams distinct grams; the
            # slice caps what reaches the driver. The same rows carry
            # the EXACT candidate fan-out Σ df(selected grams) — the
            # dense/sparse strategy scalar (similarity/boolean
            # convention).
            guards = guards.crossJoin(
                sel0.groupBy().agg(
                    F.slice(
                        F.sort_array(F.collect_set("gram")),
                        1,
                        self._GRAM_PUSHDOWN_MAX + 1,
                    ).alias("__grams"),
                    F.sum("__df").alias("__fan"),
                )
            )
        plan_row = guards.collect()[0]
        if plan_row["min_len"] is not None and plan_row["min_len"] < 3:
            raise ValueError(self._SHORT_MSG)
        self._check_extra_guards(plan_row)
        if plan_row["max_dup"] is not None and plan_row["max_dup"] > 1:
            raise ValueError(
                "TrigramSubstringSearch: duplicate query_id — each id"
                " must map to ONE pattern (pooled grams would"
                " under-match)."
            )
        grams = list(plan_row["__grams"]) if pushdown else []
        bounded = pushdown and len(grams) <= self._GRAM_PUSHDOWN_MAX
        # DENSE regime (the similarity/boolean engines' convention,
        # chosen per batch from exact scalars): when the candidate
        # fan-out Σ df(selected grams) approaches |queries| x |docs| —
        # near-uniform gram dfs, where almost every (query, doc) pair
        # shares a selected gram — the count==n_need aggregate shuffles
        # nearly pair-many rows. Pack each doc's selected-gram set into
        # ceil(n/64) longs in one pass over the pruned posting and
        # evaluate the conjunction as a per-row subset test over a
        # broadcast pair enumeration: (doc_mask & query_mask) ==
        # query_mask. A bit is set iff the (gram, doc) posting row
        # exists, so the subset test holds iff the hit count equals
        # n_need — result-identical by construction (absent-from-corpus
        # grams keep df 0, their bit is never set by any doc, and the
        # query correctly matches nothing). The n_docs probe reads the
        # FULL posting (an index fact), memoized in the gram-df sidecar.
        # _DENSE_FAN_WEIGHT: a shuffled + hash-aggregated fan-out row
        # costs ~4x a codegen'd pair-mask predicate evaluation (measured
        # at sf1, OPTIMIZATION_r09.md: fan 91M sparse 33-38 s vs pairs
        # 94M dense 8-12 s; fan 42M sparse 9-10 s vs dense 2-4 s), so
        # the dense plan wins well below fan == pairs. Truly selective
        # batches (fan << pairs/4 — rare grams, the classic pg_trgm
        # case) keep the aggregate, which shuffles only the few
        # matching slices instead of enumerating every pair.
        dense = (
            bounded
            and grams
            and query_masks_fit(plan_row["n_q"], grams)
            and (plan_row["__fan"] or 0) * self._DENSE_FAN_WEIGHT
            > plan_row["n_q"] * self._n_docs(posting)
        )
        if bounded and grams:
            # a literal IN predicate on the gram-sorted index Parquet
            # prunes row groups by min/max stats — the scan reads only
            # the selected grams' posting slices
            posting = posting.filter(F.col("gram").isin(grams))
        if dense:
            from warp_pipes_spark.search.masks import (
                bit_rows,
                doc_masks,
                mask_aggs,
                n_buckets,
                superset_of,
            )

            spark = posting.sparkSession
            nb = n_buckets(grams)
            pos = spark.createDataFrame(
                bit_rows(grams), "gram string, __b int, __v long"
            )
            dm = doc_masks(posting, pos, "gram", nb, "dm")
            qm = (
                sel.join(F.broadcast(pos), "gram")
                .groupBy("query_id")
                .agg(*mask_aggs(nb, "qm"))
            )
            cand = (
                dm.crossJoin(F.broadcast(qm))
                .filter(superset_of(nb, "dm", "qm"))
                .select("query_id", "doc_id")
            )
        else:
            need = sel.groupBy("query_id").agg(
                F.count(F.lit(1)).alias("n_need")
            )
            cand = (
                posting.join(F.broadcast(sel), "gram")
                .groupBy("query_id", "doc_id")
                .agg(F.count(F.lit(1)).alias("hit"))
                .join(F.broadcast(need), "query_id")
                .filter(F.col("hit") == F.col("n_need"))
                .select("query_id", "doc_id")
            )
        pat = df.select(
            F.col(self.query_id).alias("query_id"),
            F.col(self.pattern_col).alias("__pat"),
        )
        txt = self.corpus.select(
            F.col(self.corpus_id).alias("doc_id"),
            F.col(self.corpus_text).alias("__txt"),
        )
        return (
            cand.join(F.broadcast(pat), "query_id")
            .join(txt, "doc_id")
            .filter(self._verify_cond(F.col("__txt"), F.col("__pat")))
            .select("query_id", "doc_id")
        )


def trigram_search_sql(
    corpus_table: str,
    queries_sql: str,
    corpus_id: str = "doc_id",
    corpus_text: str = "text",
    query_id: str = "query_id",
    pattern: str = "pattern",
) -> str:
    """DuckDB oracle for :class:`TrigramSubstringSearch` — the NAIVE
    full-scan join the index path must exactly reproduce."""
    return f"""
SELECT q.{query_id} AS query_id, d.{corpus_id} AS doc_id
FROM ({queries_sql}) q
JOIN {corpus_table} d ON contains(d.{corpus_text}, q.{pattern})
"""


class TrigramSimilaritySearch(Pipe):
    """pg_trgm's ``%`` operator as a Spark operator: trigram-set Jaccard
    similarity search. Input df = (``query_id``, ``pattern``) strings;
    output = (query_id, doc_id, sim) for every corpus document whose
    DISTINCT-trigram Jaccard similarity with the pattern is >= ``tau``
    (PostgreSQL's ``similarity() >= pg_trgm.similarity_threshold``).

    Two physical strategies, chosen per batch from EXACT scalars (the
    ``search/bm25.py`` term-major/doc-major convention; both are
    result-identical by construction):

    * SPARSE regime (selective grams — any real Zipf corpus): any doc
      with sim >= tau > 0 shares at least one trigram with the query,
      so the candidate set is exactly the inverted-index join — the
      query's grams broadcast into the (materialized, gram-clustered)
      posting, a map-side-combined count gives the intersection size
      per (query, doc), and per-doc distinct-gram counts come from a
      corpus-fingerprint-cached stats table, so the similarity is
      computed WITHOUT touching document text. The batch's distinct
      grams also push down as a literal IN predicate, pruning the
      index scan to the queried grams' row groups.
    * DENSE regime (fan-out Σ_q Σ_g df(g) exceeds |queries| x |docs| —
      a corpus whose gram dfs are near-uniform, where nearly every
      (query, doc) pair shares a gram and the fan-out aggregate
      shuffles an order of magnitude more rows than there are pairs):
      the batch's distinct grams (<= ``_MASK_GRAMS_MAX``) get driver-
      assigned bit positions; ONE bounded pass over the pruned posting
      packs each doc's queried-gram set into ceil(|grams|/64) longs,
      and the exact intersection is popcount(doc_mask & query_mask)
      over a broadcast nested-loop pair enumeration — no corpus-sized
      aggregate, no shuffle after the doc-count-sized mask build.
      (A rarest-prefix candidate prune + contains() verify — pg_trgm's
      short-circuit — was measured first and REJECTED on this shape:
      with near-uniform dfs the prefix drops almost no candidates and
      the text verify pays |pairs| x n_q contains() calls; fixed-batch
      exponent went 1.22 -> 1.9. The mask path replaces it.)

    Either way sim = inter / (n_q + n_d - inter) over the SAME exact
    integer inputs with ONE division rounded through DECIMAL(18,6)
    (engine-neutral), so the two strategies are bit-identical.

    The DuckDB oracle replays the same distinct-gram Jaccard over the
    naive (queries x corpus) cross join, so the differential proves the
    index path loses no document above the threshold.

    Reference anchor: search-family extension alongside
    :class:`TrigramSubstringSearch` (``search/bm25.py`` is the
    word-granular scored sibling)."""

    def __init__(
        self,
        corpus: DataFrame,
        tau: float = 0.3,
        corpus_id: str = "doc_id",
        corpus_text: str = "text",
        query_id: str = "query_id",
        pattern_col: str = "pattern",
        index_cache_dir: Optional[str] = None,
        **kwargs,
    ):
        if not 0.0 < tau <= 1.0:
            raise ValueError(f"tau must be in (0, 1], got {tau}")
        super().__init__(**kwargs)
        self.corpus = corpus
        self.tau = tau
        self.corpus_id = corpus_id
        self.corpus_text = corpus_text
        self.query_id = query_id
        self.pattern_col = pattern_col
        self.index_cache_dir = index_cache_dir or trigram_cache_dir()

    _no_fingerprint = ("corpus",)

    # cap on the batch's DISTINCT gram count for (a) the literal-IN
    # pushdown onto the gram-sorted index Parquet and (b) the dense
    # regime's bitmask width (ceil(n/64) longs per doc). Batches with
    # more distinct grams fall back to the sparse plan with no pushdown;
    # tests set 0 to force that plan.
    _MASK_GRAMS_MAX = 4096

    # share the posting/stats builders (and their cache keys) with the
    # substring engine — one index serves both operators
    _index_fingerprint = TrigramSubstringSearch._index_fingerprint
    _posting = TrigramSubstringSearch._posting
    _gram_df = TrigramSubstringSearch._gram_df

    def _doc_gram_counts(self, posting: DataFrame) -> DataFrame:
        """doc_id -> distinct-trigram count, derived from the posting
        (already per-doc distinct) and cached under the corpus
        fingerprint like the gram-df stats table."""
        def build() -> DataFrame:
            return posting.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("__nd")
            )

        return CacheManager(self.index_cache_dir).get_or_compute(
            self.corpus.sparkSession, self._index_fingerprint() + "_ndoc", build
        )

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        import math

        D = "decimal(18,6)"
        qarr = df.select(
            F.col(self.query_id).alias("query_id"),
            grams_expr(F.col(self.pattern_col)).alias("__g"),
        ).withColumn("__nq", F.size("__g"))
        qg = qarr.select(
            "query_id", "__nq", F.explode("__g").alias("gram")
        )
        posting = self._posting()
        df_tbl = self._gram_df(posting)
        nd = self._doc_gram_counts(posting)
        # ONE planning job collects every strategy scalar: the nq band
        # (pg_trgm's length filter: tau * nq <= nd <= nq / tau, widened
        # one integer outward so float rounding never excludes a
        # boundary document), the batch's distinct grams (sliced one
        # past the cap so truncation is detectable), the EXACT fan-out
        # sum df(g) over every query gram (the sparse plan's aggregate
        # input size), |queries| and |docs with grams| (the dense
        # plan's pair count).
        plan = (
            qarr.groupBy()
            .agg(
                F.min("__nq").alias("lo"),
                F.max("__nq").alias("hi"),
                F.count(F.lit(1)).alias("n_q"),
            )
            .crossJoin(
                qg.join(df_tbl, "gram", "left")
                .na.fill({"__df": 0})
                .groupBy()
                .agg(
                    F.sum("__df").alias("fan_est"),
                    F.slice(
                        F.sort_array(F.collect_set("gram")),
                        1,
                        self._MASK_GRAMS_MAX + 1,
                    ).alias("__grams"),
                )
            )
            .crossJoin(
                nd.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
            )
        )
        row = plan.collect()[0]
        if row["lo"] is not None:
            lo = math.floor(self.tau * row["lo"])
            hi = math.ceil(row["hi"] / self.tau)
            nd = nd.filter(F.col("__nd").between(lo, hi))
        grams = list(row["__grams"] or [])
        bounded = len(grams) <= self._MASK_GRAMS_MAX
        if bounded and grams:
            # literal IN on the gram-sorted index Parquet: row groups
            # outside the queried grams' slices are skipped by min/max
            # stats (lossless for both strategies — only batch grams
            # can join or set mask bits)
            posting = posting.filter(F.col("gram").isin(grams))
        dense = (
            bounded
            and grams
            and query_masks_fit(row["n_q"], grams)
            and (row["fan_est"] or 0) > row["n_q"] * row["n_docs"]
        )
        if dense:
            return self._transform_masks(qg, posting, nd, grams)
        # SPARSE plan: nd rides the posting INTO the gram join (the
        # banded stats table is doc-count-sized), so the intersection
        # groupBy carries __nd and no post-aggregation join remains
        inter = (
            posting.join(nd, "doc_id")
            .join(F.broadcast(qg), "gram")
            .groupBy("query_id", "doc_id", "__nq", "__nd")
            .agg(F.count(F.lit(1)).alias("__inter"))
        )
        sim = (
            F.col("__inter").cast("double")
            / (F.col("__nq") + F.col("__nd") - F.col("__inter")).cast(
                "double"
            )
        ).cast(D)
        return inter.select(
            "query_id",
            "doc_id",
            sim.cast("double").alias("sim"),
        ).filter(F.col("sim") >= F.lit(float(self.tau)))

    def _transform_masks(
        self, qg: DataFrame, posting: DataFrame, nd: DataFrame, grams: list
    ) -> DataFrame:
        """DENSE plan: exact intersections via packed gram bitmasks (see
        class docstring). ``posting`` arrives already pruned to the
        batch's grams; ``nd`` already carries the lossless length band."""
        from warp_pipes_spark.search.masks import (
            bit_rows,
            doc_masks,
            mask_aggs,
            n_buckets,
            popcount_and,
        )

        D = "decimal(18,6)"
        spark = posting.sparkSession
        nb = n_buckets(grams)
        pos = spark.createDataFrame(
            bit_rows(grams), "gram string, __b int, __v long"
        )
        dm = doc_masks(posting, pos, "gram", nb, "dm").join(nd, "doc_id")
        qm = (
            qg.join(F.broadcast(pos), "gram")
            .groupBy("query_id", "__nq")
            .agg(*mask_aggs(nb, "qm"))
        )
        inter = popcount_and(nb, "dm", "qm")
        sim = (
            F.col("__inter").cast("double")
            / (F.col("__nq") + F.col("__nd") - F.col("__inter")).cast(
                "double"
            )
        ).cast(D)
        return (
            dm.crossJoin(F.broadcast(qm))
            .withColumn("__inter", inter)
            .select(
                "query_id",
                "doc_id",
                sim.cast("double").alias("sim"),
            )
            .filter(F.col("sim") >= F.lit(float(self.tau)))
        )


def trigram_similarity_sql(
    corpus_table: str,
    queries_sql: str,
    tau: float = 0.3,
    corpus_id: str = "doc_id",
    corpus_text: str = "text",
    query_id: str = "query_id",
    pattern: str = "pattern",
) -> str:
    """DuckDB oracle for :class:`TrigramSimilaritySearch` — the NAIVE
    cross-join distinct-trigram Jaccard the index path must exactly
    reproduce (same single DECIMAL(18,6)-rounded division)."""

    def grams(col: str) -> str:
        return (
            f"list_distinct(list_transform(range(1, length({col}) - 1),"
            f" i -> substr({col}, CAST(i AS INTEGER), 3)))"
        )

    return f"""
WITH q AS (SELECT {query_id} AS query_id,
                  {grams(pattern)} AS qg
           FROM ({queries_sql})),
d AS (SELECT {corpus_id} AS doc_id,
             {grams(corpus_text)} AS dg
      FROM {corpus_table}),
pairs AS (
  SELECT q.query_id, d.doc_id,
         len(list_intersect(q.qg, d.dg)) AS inter,
         len(q.qg) AS nq, len(d.dg) AS nd
  FROM q CROSS JOIN d
)
SELECT query_id, doc_id,
       CAST(CAST(CAST(inter AS DOUBLE)
                 / CAST(nq + nd - inter AS DOUBLE)
            AS DECIMAL(18,6)) AS DOUBLE) AS sim
FROM pairs
WHERE inter > 0
  AND CAST(CAST(CAST(inter AS DOUBLE)
                / CAST(nq + nd - inter AS DOUBLE)
           AS DECIMAL(18,6)) AS DOUBLE) >= {tau}
"""


class WildcardLikeSearch(TrigramSubstringSearch):
    """Index-accelerated infix wildcard search: input df =
    (``query_id``, ``pattern``) SQL LIKE patterns (``%`` = any gap,
    ``_`` = any single char), output = (query_id, doc_id) for every
    corpus document whose text matches ``LIKE '%' || pattern || '%'``,
    identical to the naive scan — pg_trgm's LIKE acceleration
    (PostgreSQL rewrites ``col LIKE '%foo%bar%'`` into a trigram-index
    bitmap scan) re-expressed on the same materialized posting
    :class:`TrigramSubstringSearch` builds (one index, three engines).

    Necessity argument: a document matching the pattern contains every
    maximal LITERAL RUN (the ``[%_]``-free stretches) as a substring,
    hence every trigram of every run >= 3 chars — so the pooled run
    grams drive the exact same rarest-K candidate join, and one bounded
    LIKE verify restores the in-order/gap semantics trigrams can't see.

    Contract guards (same single planning job): every pattern needs at
    least one literal run >= 3 chars (otherwise the index has no
    signal) and may not contain a backslash (Spark's default LIKE
    escape — DuckDB without an ESCAPE clause treats it literally, so
    the differential would diverge on escaped patterns).

    Reference anchor: the ES ``wildcard`` query surface next to the
    ``match``/``match_phrase`` engines (``warp_pipes/support/
    elasticsearch.py`` es_search bodies)."""

    _SHORT_MSG = (
        "WildcardLikeSearch: pattern has no literal run of >= 3 chars"
        " — the trigram index has no signal to prune with. Route such"
        " patterns to a direct LIKE scan."
    )

    def _qgram_expr(self, col: Column) -> Column:
        runs = F.filter(
            F.split(col, r"[%_]"), lambda s: F.length(s) >= 3
        )
        return F.array_distinct(
            F.flatten(
                F.transform(
                    runs,
                    lambda s: F.transform(
                        F.sequence(F.lit(1), F.length(s) - 2),
                        lambda i: s.substr(i, F.lit(3)),
                    ),
                )
            )
        )

    def _guard_len_expr(self, col: Column) -> Column:
        # longest literal run: >= 3 means the pattern has index signal
        return F.array_max(
            F.transform(F.split(col, r"[%_]"), lambda s: F.length(s))
        )

    def _extra_inner_guard_aggs(self) -> list:
        return [
            F.max(
                F.contains(F.col(self.pattern_col), F.lit("\\"))
            ).alias("__esc")
        ]

    def _extra_outer_guard_aggs(self) -> list:
        return [F.max("__esc").alias("has_esc")]

    def _check_extra_guards(self, plan_row) -> None:
        if plan_row["has_esc"]:
            raise ValueError(
                "WildcardLikeSearch: backslash in pattern — Spark's"
                " default LIKE escape has no DuckDB-oracle equivalent"
                " without an ESCAPE clause; strip or pre-escape."
            )

    def _verify_cond(self, txt: Column, pat: Column) -> Column:
        return F.like(
            txt, F.concat(F.lit("%"), pat, F.lit("%"))
        )


def wildcard_search_sql(
    corpus_table: str,
    queries_sql: str,
    corpus_id: str = "doc_id",
    corpus_text: str = "text",
    query_id: str = "query_id",
    pattern: str = "pattern",
) -> str:
    """DuckDB oracle for :class:`WildcardLikeSearch` — the NAIVE
    full-scan LIKE join the index path must exactly reproduce."""
    return f"""
SELECT q.{query_id} AS query_id, d.{corpus_id} AS doc_id
FROM ({queries_sql}) q
JOIN {corpus_table} d
  ON d.{corpus_text} LIKE '%' || q.{pattern} || '%'
"""
