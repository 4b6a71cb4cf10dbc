"""Config-sweep parity harness (round-6 judge task #3): re-run each
parameterized oracled operator family at 2-3 NON-DEFAULT configs and
compare Spark vs the DuckDB oracle built by the SAME parameterized
builder. Every decimal-tie / rounding / clamp trap found so far (PSI
round-5, argpartition round-3, integer-div negatives, the round-6
LshSCurveAudit hard-coded decile) surfaced only when a config or scale
changed — the default-config oracle suite cannot see those by
construction.

Each cell = (family, config label, Spark plan, oracle SQL); comparison
is the driver's own (sorted stringified rows + sorted column names).
Writes CONFIG_SWEEP.json.

Usage: python tools/config_sweep.py [sf_dir] [cell-substring]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _cells():
    """Build the (name, make(spark, sf) -> DataFrame, oracle_sql) list.
    Lambdas bind their config via default args (the classic closure trap)."""
    from pyspark.sql import functions as F

    from warp_pipes_spark.queries import (
        BM25_QUERIES_CTE,
        BM25F_QUERIES_CTE,
        BM25S_QUERIES_CTE,
        T,
        _bm25_queries,
        _copurchase_edges,
        _copurchase_edges_sql,
    )
    from warp_pipes_spark.text.analysis import tokens_expr, tokens_sql

    cells = []

    def add(name, make, sql):
        cells.append((name, make, sql))

    # ---- graph: k-core over (k, rounds, support) --------------------------
    from warp_pipes_spark.ml.graph import (
        KCore,
        hash_min_components,
        hash_min_components_sql,
        kcore_sql,
    )

    for k, rounds, sup in [(2, 6, 2), (4, 8, 2), (40, 8, 1), (80, 10, 1)]:
        add(
            f"kcore_k{k}_r{rounds}_s{sup}",
            lambda spark, sf, k=k, r=rounds, s=sup: KCore(
                k=k, rounds=r, out_id="part_id"
            )(_copurchase_edges(spark, sf, min_support=s)),
            kcore_sql(
                _copurchase_edges_sql(sup), k=k, rounds=rounds, out_id="part_id"
            ),
        )

    # ---- graph: connected components over iters ---------------------------
    def _cc_spark(spark, sf, iters):
        pairs = _copurchase_edges(spark, sf, min_support=2)
        edges = pairs.select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ).unionAll(
            pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
        return hash_min_components(edges, iters=iters)

    cc_edges_cte = (
        f"e0 AS ({_copurchase_edges_sql(2)}), "
        "edges AS (SELECT u AS src, v AS dst FROM e0 "
        "UNION ALL SELECT v, u FROM e0)"
    )
    for iters in (2, 6):
        add(
            f"connected_components_iters{iters}",
            lambda spark, sf, i=iters: _cc_spark(spark, sf, i),
            hash_min_components_sql(cc_edges_cte, iters=iters),
        )

    # ---- BM25 family -------------------------------------------------------
    from warp_pipes_spark.search.bm25 import (
        Bm25FSearch,
        Bm25Search,
        bm25_oracle_sql,
        bm25f_oracle_sql,
    )

    def _docs(spark, sf):
        return T(spark, sf, "documents")

    def _aux_queries(spark, sf):
        docs = _docs(spark, sf)
        toks = tokens_expr(F.col("text"))
        return docs.filter(F.col("doc_id") % 25 == 0).select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(toks, 1, 5), " ").alias("text"),
            F.array_join(F.slice(toks, 6, 3), " ").alias("aux"),
            F.col("lang").alias("qfilter"),
        )

    for k in (5, 25):
        add(
            f"bm25_k{k}",
            lambda spark, sf, k=k: Bm25Search(corpus=_docs(spark, sf), k=k)(
                _bm25_queries(spark, sf)
            ),
            bm25_oracle_sql("documents", BM25_QUERIES_CTE, k=k),
        )
    add(
        "bm25_k1_0.9_b_0.4",
        lambda spark, sf: Bm25Search(
            corpus=_docs(spark, sf), k=10, k1=0.9, b=0.4,
        )(_bm25_queries(spark, sf)),
        bm25_oracle_sql("documents", BM25_QUERIES_CTE, k=10, k1=0.9, b=0.4),
    )
    add(
        "bm25_champion4",
        lambda spark, sf: Bm25Search(
            corpus=_docs(spark, sf), k=10, champion_size=4,
        )(_bm25_queries(spark, sf)),
        bm25_oracle_sql("documents", BM25_QUERIES_CTE, k=10, champion_size=4),
    )
    add(
        "bm25_aux1.25_filtered",
        lambda spark, sf: Bm25Search(
            corpus=_docs(spark, sf), k=10, aux_text_col="aux",
            aux_weight=1.25, filter_key="qfilter", corpus_filter_key="lang",
        )(_aux_queries(spark, sf)),
        bm25_oracle_sql(
            "documents", BM25F_QUERIES_CTE, k=10, aux_weight=1.25,
            filter_col="lang",
        ),
    )
    add(
        "bm25_scaled_aux0.3",
        lambda spark, sf: Bm25Search(
            corpus=_docs(spark, sf), k=10, aux_text_col="aux",
            aux_weight=0.3, scale_aux_weight=True,
        )(
            _docs(spark, sf)
            .filter(F.col("doc_id") % 50 == 0)
            .select(
                F.col("doc_id").alias("query_id"),
                F.array_join(
                    F.slice(tokens_expr(F.col("text")), 1, 5), " "
                ).alias("text"),
                F.array_join(
                    F.slice(tokens_expr(F.col("text")), 6, 2), " "
                ).alias("aux"),
            )
        ),
        bm25_oracle_sql(
            "documents", BM25S_QUERIES_CTE, k=10, aux_weight=0.3,
            scale_aux=True,
        ),
    )

    def _bm25f_corpus(spark, sf):
        toks = tokens_expr(F.col("text"))
        return _docs(spark, sf).select(
            "doc_id",
            F.array_join(F.slice(toks, 1, 6), " ").alias("title"),
            F.array_join(
                F.slice(toks, 7, F.greatest(F.size(toks), F.lit(1))), " "
            ).alias("body"),
        )

    _f_exprs = {
        "title": f"array_to_string(({tokens_sql('text')})[1:6], ' ')",
        "body": f"array_to_string(({tokens_sql('text')})[7:], ' ')",
    }
    add(
        "bm25f_w_title3_body0.5",
        lambda spark, sf: Bm25FSearch(
            corpus=_bm25f_corpus(spark, sf),
            fields={"title": 3.0, "body": 0.5}, k=10,
        )(_bm25_queries(spark, sf)),
        bm25f_oracle_sql(
            "documents", BM25_QUERIES_CTE,
            fields={"title": 3.0, "body": 0.5}, k=10, field_exprs=_f_exprs,
        ),
    )
    add(
        "bm25f_field_b_0.3_0.9",
        lambda spark, sf: Bm25FSearch(
            corpus=_bm25f_corpus(spark, sf),
            fields={"title": 2.0, "body": 1.0},
            field_b={"title": 0.3, "body": 0.9}, k=10,
        )(_bm25_queries(spark, sf)),
        bm25f_oracle_sql(
            "documents", BM25_QUERIES_CTE,
            fields={"title": 2.0, "body": 1.0}, k=10,
            field_b={"title": 0.3, "body": 0.9}, field_exprs=_f_exprs,
        ),
    )

    # ---- dedup family ------------------------------------------------------
    from warp_pipes_spark.text.dedup import (
        LshSCurveAudit,
        MaximalSpanDedup,
        MinHashDedup,
        NgramJaccardDedup,
        SimHashDedup,
        Winnowing,
        lsh_s_curve_sql,
        maximal_span_sql,
        minhash_dedup_sql,
        ngram_jaccard_sql,
        simhash_sql,
        winnowing_sql,
    )

    for n, th, pf in [(2, 0.3, False), (4, 0.6, True)]:
        add(
            f"ngram_jaccard_n{n}_t{th}_pf{int(pf)}",
            lambda spark, sf, n=n, t=th, p=pf: NgramJaccardDedup(
                n=n, threshold=t, prefix_filter=p, materialize_shingles=False
            )(_docs(spark, sf)),
            ngram_jaccard_sql(n=n, threshold=th),
        )
    for n, nh, bs, th in [(3, 16, 8, 0.4), (2, 64, 4, 0.6)]:
        add(
            f"minhash_n{n}_h{nh}_b{bs}_t{th}",
            lambda spark, sf, n=n, h=nh, b=bs, t=th: MinHashDedup(
                n=n, n_hashes=h, band_size=b, threshold=t,
                hash_family="md5", materialize_shingles=False,
            )(_docs(spark, sf)),
            minhash_dedup_sql(n=n, n_hashes=nh, band_size=bs, threshold=th),
        )
    for nb, mh in [(8, 2), (2, 1)]:
        add(
            f"simhash_b{nb}_h{mh}",
            lambda spark, sf, nb=nb, mh=mh: SimHashDedup(
                n_bands=nb, max_hamming=mh, hash_family="md5",
                materialize_signatures=False,
            )(_docs(spark, sf)),
            simhash_sql(n_bands=nb, max_hamming=mh),
        )
    for k, w in [(4, 6), (2, 8)]:
        add(
            f"winnowing_k{k}_w{w}",
            lambda spark, sf, k=k, w=w: Winnowing(k=k, w=w)(_docs(spark, sf)),
            winnowing_sql(k=k, w=w),
        )
    for ml, mc in [(6, 2), (15, 3)]:
        add(
            f"maximal_spans_len{ml}_cnt{mc}",
            lambda spark, sf, m=ml, c=mc: MaximalSpanDedup(
                min_len=m, min_count=c
            )(_docs(spark, sf)),
            maximal_span_sql(min_len=ml, min_count=mc),
        )
    # sample_fraction is itself a swept config (deterministic md5 gate);
    # it also bounds the near-quadratic unsampled pair universe at sf0.01
    for buckets, bs, frac in [(5, 4, 0.6), (20, 8, 0.5)]:
        add(
            f"lsh_s_curve_buckets{buckets}_band{bs}_f{frac}",
            lambda spark, sf, b=buckets, s=bs, f=frac: LshSCurveAudit(
                n=3, band_size=s, floor=0.05, buckets=b, sample_fraction=f
            )(_docs(spark, sf)),
            lsh_s_curve_sql(
                "documents", n=3, band_size=bs, floor=0.05, buckets=buckets,
                sample_fraction=frac,
            ),
        )

    # ---- sketches ----------------------------------------------------------
    from warp_pipes_spark.ml.sketches import (
        HistogramQuantiles,
        KmvSketch,
        histogram_quantiles_sql,
        kmv_overlap_sql,
    )

    add(
        "hist_quantiles_bins256_q25_75",
        lambda spark, sf: HistogramQuantiles(
            value_col="l_extendedprice", group_cols=("l_returnflag",),
            n_bins=256, quantiles=(0.25, 0.5, 0.75),
        )(T(spark, sf, "lineitem")),
        histogram_quantiles_sql(n_bins=256, quantiles=(0.25, 0.5, 0.75)),
    )
    add(
        "kmv_k16_seed3",
        lambda spark, sf: KmvSketch(group_col="source", k=16, seed=3)(
            _docs(spark, sf)
        ),
        kmv_overlap_sql("documents", group_col="source", k=16, seed=3),
    )

    # ---- sampling / mixtures ----------------------------------------------
    from warp_pipes_spark.pipes.sampling import (
        GroupCap,
        TemperatureMixture,
        TokenBudgetPlan,
        group_cap_sql,
        temperature_mixture_sql,
        token_budget_sql,
    )

    # temperature is an exponent in (0, 1] by the operator's contract
    for temp in (0.3, 0.9):
        add(
            f"temperature_mix_t{temp}",
            lambda spark, sf, t=temp: TemperatureMixture(temperature=t)(
                _docs(spark, sf).select("doc_id", "source")
            ).select("doc_id", "source", "mix_weight", "copy_idx"),
            temperature_mixture_sql(
                "documents", temperature=temp, columns="doc_id, source"
            ),
        )
    for cap in (5, 40):
        add(
            f"group_cap_{cap}",
            lambda spark, sf, c=cap: GroupCap(cap=c)(_docs(spark, sf)).select(
                "doc_id", "source"
            ),
            group_cap_sql("documents", cap=cap),
        )
    add(
        "token_budget_50k_t0.3",
        lambda spark, sf: TokenBudgetPlan(
            budget_tokens=50_000, temperature=0.3
        )(_docs(spark, sf)),
        token_budget_sql("documents", budget_tokens=50_000, temperature=0.3),
    )

    # ---- quantize / packing / analysis -------------------------------------
    from warp_pipes_spark.ml.quantize import (
        RandomProjection,
        random_projection_sql,
    )

    add(
        "random_projection_d8_seed11",
        lambda spark, sf: RandomProjection(in_dim=64, out_dim=8, seed=11)(
            T(spark, sf, "embeddings")
        ).select("vec_id", "label", "proj"),
        random_projection_sql(
            "SELECT vec_id, label, embedding FROM embeddings",
            in_dim=64, out_dim=8, seed=11,
        ),
    )

    from warp_pipes_spark.text.packing import BestFitPack, best_fit_pack_sql

    _sized_sql = (
        f"SELECT doc_id, source, len({tokens_sql('text')}) AS n_tokens "
        "FROM documents"
    )
    for cap in (128, 2048):
        add(
            f"bfd_pack_cap{cap}",
            lambda spark, sf, c=cap: BestFitPack(capacity=c)(
                _docs(spark, sf).select(
                    "doc_id", "source",
                    F.size(tokens_expr(F.col("text"))).alias("n_tokens"),
                )
            ),
            best_fit_pack_sql(_sized_sql, capacity=cap),
        )

    from warp_pipes_spark.text.analysis import ZipfFit, zipf_fit_sql

    for r in (50, 200):
        add(
            f"zipf_top{r}",
            lambda spark, sf, r=r: ZipfFit(top_r=r)(_docs(spark, sf)),
            zipf_fit_sql("documents", top_r=r),
        )

    # ---- calibration / drift (the round-6 ADVICE families) -----------------
    from warp_pipes_spark.ml.metrics import (
        CalibrationReport,
        calibration_report_sql,
    )
    from warp_pipes_spark.text.classifier import (
        HashedLinearClassifier,
        classifier_sql,
    )

    def _scored(spark, sf):
        return HashedLinearClassifier(dim=64)(_docs(spark, sf)).select(
            "score",
            F.when(F.col("lang") == "en", F.lit(1))
            .otherwise(F.lit(0))
            .alias("y"),
        )

    _scored_sql = (
        "SELECT c.score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y "
        f"FROM ({classifier_sql('documents', dim=64)}) c "
        "JOIN documents d USING (doc_id)"
    )
    for nb in (4, 16):
        add(
            f"calibration_bins{nb}",
            lambda spark, sf, b=nb: CalibrationReport(
                score_col="score", label_col="y", n_bins=b
            )(_scored(spark, sf)),
            calibration_report_sql(
                _scored_sql, score="score", label="y", n_bins=nb
            ),
        )

    from warp_pipes_spark.ml.drift import EmbeddingDrift, embedding_drift_sql

    for nb in (5, 20):
        add(
            f"embedding_drift_bins{nb}",
            lambda spark, sf, b=nb: EmbeddingDrift(
                reference=T(spark, sf, "embeddings").filter(
                    F.col("vec_id") % 2 == 0
                ),
                n_bins=b,
            )(T(spark, sf, "embeddings").filter(F.col("vec_id") % 2 == 1)),
            embedding_drift_sql(
                "SELECT embedding FROM embeddings WHERE vec_id % 2 = 0",
                "SELECT embedding FROM embeddings WHERE vec_id % 2 = 1",
                n_bins=nb,
            ),
        )

    # ---- round-6 additions: new operator families at non-default configs --
    from warp_pipes_spark.text.dedup import (
        ChunkDedupStats,
        ContainmentPairs,
        chunk_dedup_sql,
        containment_pairs_sql,
    )

    for ne in (0.7, 0.95):
        add(
            f"containment_ne{ne}",
            lambda spark, sf, n=ne: ContainmentPairs(
                n=3, threshold=0.4, near_equal=n
            )(_docs(spark, sf)),
            containment_pairs_sql(
                "documents", n=3, threshold=0.4, near_equal=ne
            ),
        )
    for cs in (8, 32):
        add(
            f"chunk_dedup_cs{cs}",
            lambda spark, sf, c=cs: ChunkDedupStats(chunk_size=c)(
                _docs(spark, sf)
            ),
            chunk_dedup_sql("documents", chunk_size=cs),
        )

    from warp_pipes_spark.text.analysis import (
        KneserNeyScore,
        TermBurstiness,
        kneser_ney_sql,
        term_burstiness_sql,
    )

    for d in (0.25, 0.9):
        add(
            f"kneser_ney_d{d}",
            lambda spark, sf, dd=d: KneserNeyScore(discount=dd)(
                _docs(spark, sf)
            ),
            kneser_ney_sql("documents", discount=d),
        )
    for mdf, k in [(5, 10), (50, 40)]:
        add(
            f"burstiness_df{mdf}_k{k}",
            lambda spark, sf, m=mdf, kk=k: TermBurstiness(min_df=m, k=kk)(
                _docs(spark, sf)
            ),
            term_burstiness_sql("documents", min_df=mdf, k=k),
        )

    from warp_pipes_spark.ml.kmeans import LloydKMeans, kmeans_sql

    for k, iters, dim in [(4, 2, 4), (16, 4, 8)]:
        add(
            f"kmeans_k{k}_i{iters}_d{dim}",
            lambda spark, sf, a=k, b=iters, c=dim: LloydKMeans(
                k=a, iters=b, dim=c
            )(T(spark, sf, "embeddings")),
            kmeans_sql("embeddings", k=k, iters=iters, dim=dim),
        )

    from warp_pipes_spark.ml.metrics import BootstrapCI, bootstrap_ci_sql
    from warp_pipes_spark.text.analysis import tokens_expr as _te

    for B, lo, hi in [(16, 1, 16), (128, 4, 125)]:
        add(
            f"bootstrap_B{B}",
            lambda spark, sf, b=B, l=lo, h=hi: BootstrapCI(
                value_col="n_tokens", n_replicas=b, lo_rank=l, hi_rank=h
            )(
                _docs(spark, sf).select(
                    "doc_id", F.size(_te(F.col("text"))).alias("n_tokens")
                )
            ),
            bootstrap_ci_sql(
                "SELECT doc_id, text FROM documents",
                value_expr=f"len({tokens_sql('text')})",
                n_replicas=B,
                lo_rank=lo,
                hi_rank=hi,
            ),
        )

    from warp_pipes_spark.ml.drift import KsDrift, ks_drift_sql
    from warp_pipes_spark.plans.layout import hilbert_frame, hilbert_sql

    add(
        "ks_drift_tokens",
        lambda spark, sf: KsDrift(value_col="n_tokens", group_col="lang")(
            _docs(spark, sf).select(
                "lang", F.size(_te(F.col("text"))).alias("n_tokens")
            )
        ),
        ks_drift_sql(
            f"(SELECT lang, len({tokens_sql('text')}) AS n_tokens "
            "FROM documents) t",
            value_expr="n_tokens",
            group_col="lang",
        ),
    )
    for bits in (6, 10):
        add(
            f"hilbert_bits{bits}",
            lambda spark, sf, b=bits: hilbert_frame(
                _docs(spark, sf).select("doc_id", "n_chars"),
                F.col("doc_id") % (1 << b),
                F.col("n_chars") % (1 << b),
                bits=b,
                out_col="h",
            ).select("doc_id", "h"),
            hilbert_sql(
                f"SELECT doc_id, doc_id % {1 << bits} AS hx0, "
                f"n_chars % {1 << bits} AS hy0 FROM documents",
                "hx0",
                "hy0",
                bits=bits,
                out_cols="doc_id",
            ),
        )

    # ---- round-6 session-2 additions (q212-q221 families) -----------------
    from warp_pipes_spark.text.analysis import (
        ContingencyPanel,
        contingency_panel_sql,
    )

    add(
        "contingency_lang_source",
        lambda spark, sf: ContingencyPanel(row_col="lang", col_col="source")(
            _docs(spark, sf)
        ),
        contingency_panel_sql("documents", row="lang", col="source"),
    )

    from warp_pipes_spark.plans.skew import KeySkewProfile, key_skew_sql

    for key in ("event_type", "l_partkey"):
        table = "events" if key == "event_type" else "lineitem"
        add(
            f"key_skew_{key}",
            lambda spark, sf, k=key, t=table: KeySkewProfile(key_col=k)(
                T(spark, sf, t)
            ),
            key_skew_sql(table, key=key),
        )

    from warp_pipes_spark.pipes.sampling import (
        NeymanAllocation,
        neyman_allocation_sql,
    )

    add(
        "neyman_lang_b100",
        lambda spark, sf: NeymanAllocation(
            value_col="n_chars", group_col="lang", budget=100
        )(_docs(spark, sf)),
        neyman_allocation_sql("documents", value="n_chars", group="lang", budget=100),
    )

    from warp_pipes_spark.ml.pca import PowerIterationPCA, power_pca_sql

    for dim, iters in [(4, 6), (8, 20)]:
        add(
            f"power_pca_d{dim}_i{iters}",
            lambda spark, sf, d=dim, i=iters: PowerIterationPCA(
                dim=d, iters=i
            )(T(spark, sf, "embeddings")),
            power_pca_sql("embeddings", vec="embedding", dim=dim, iters=iters),
        )

    from warp_pipes_spark.search.ql import DirichletQLSearch, ql_oracle_sql

    for mu in (500, 5000):
        add(
            f"dirichlet_ql_mu{mu}",
            lambda spark, sf, m=mu: DirichletQLSearch(
                corpus=_docs(spark, sf), k=10, mu=m
            )(_bm25_queries(spark, sf)),
            ql_oracle_sql("documents", BM25_QUERIES_CTE, k=10, mu=mu),
        )

    from warp_pipes_spark.pipes.validate import BenfordAudit, benford_sql

    add(
        "benford_narrow_range",
        lambda spark, sf: BenfordAudit(value_col="value", lo_exp=0, hi_exp=2)(
            T(spark, sf, "events")
        ),
        benford_sql("events", value="value", lo_exp=0, hi_exp=2),
    )

    from warp_pipes_spark.ml.metrics import WilsonRates, wilson_rates_sql
    from warp_pipes_spark.text.analysis import (
        GopherQualityFilter,
        gopher_sql as _gq,
    )

    add(
        "wilson_lang_keep",
        lambda spark, sf: WilsonRates(flag_col="keep", group_col="lang")(
            GopherQualityFilter()(_docs(spark, sf))
        ),
        wilson_rates_sql(
            f"(SELECT lang, ({_gq()['keep']}) AS keep FROM documents)",
            flag="keep",
            group="lang",
        ),
    )

    # ---- session-3 families at non-default configs ------------------------
    from warp_pipes_spark.text.analysis import (
        VocabularyProfile,
        vocabulary_profile_sql,
    )

    for grp in ("lang", "source"):
        add(
            f"vocab_profile_{grp}",
            lambda spark, sf, g=grp: VocabularyProfile(group_col=g)(
                _docs(spark, sf)
            ),
            vocabulary_profile_sql("documents", group=grp, text="text"),
        )

    from warp_pipes_spark.ml.metrics import SpearmanPanel, spearman_panel_sql

    def _spearman_feats(spark, sf, grp):
        d = _docs(spark, sf)
        toks = tokens_expr(F.col("text"))
        return d.select(
            grp,
            F.length("text").alias("len_chars"),
            F.size(toks).alias("len_tokens"),
        )

    for grp in ("lang", "source"):
        add(
            f"spearman_2col_{grp}",
            lambda spark, sf, g=grp: SpearmanPanel(
                cols=["len_chars", "len_tokens"], group_col=g
            )(_spearman_feats(spark, sf, g)),
            spearman_panel_sql(
                f"(SELECT {grp}, LENGTH(text) AS len_chars,"
                f" len({tokens_sql('text')}) AS len_tokens FROM documents)",
                cols=["len_chars", "len_tokens"],
                group=grp,
            ),
        )

    from warp_pipes_spark.pipes.sampling import (
        MixtureConcentration,
        mixture_concentration_sql,
    )

    add(
        "mixture_conc_source_by_lang",
        lambda spark, sf: MixtureConcentration(
            stratum_col="source", source_col="lang"
        )(_docs(spark, sf)),
        mixture_concentration_sql(
            "documents", stratum="source", source="lang"
        ),
    )

    # ---- round-7: non-default cells for the round-6 stat panels ----
    # (ties in midranks, bucket/decade bounds, Wilson small-n/k=0, and
    # transposed/degenerate contingency tables are the classic
    # config-dependent traps)

    from warp_pipes_spark.text.analysis import (
        ContingencyPanel,
        contingency_panel_sql,
    )

    add(
        "contingency_lang_by_source",
        lambda spark, sf: ContingencyPanel(row_col="lang", col_col="source")(
            _docs(spark, sf)
        ),
        contingency_panel_sql("documents", row="lang", col="source"),
    )
    add(
        # degenerate perfect dependence: row == col, NMI must be 1
        "contingency_source_by_source",
        lambda spark, sf: ContingencyPanel(
            row_col="source", col_col="source"
        )(_docs(spark, sf)),
        contingency_panel_sql("documents", row="source", col="source"),
    )

    from warp_pipes_spark.pipes.sampling import NeymanAllocation

    add(
        "neyman_source_b10",
        lambda spark, sf: NeymanAllocation(
            value_col="n_chars", group_col="source", budget=10
        )(_docs(spark, sf)),
        neyman_allocation_sql(
            "documents", value="n_chars", group="source", budget=10
        ),
    )
    add(
        "neyman_lang_b50000",
        lambda spark, sf: NeymanAllocation(
            value_col="n_chars", group_col="lang", budget=50_000
        )(_docs(spark, sf)),
        neyman_allocation_sql(
            "documents", value="n_chars", group="lang", budget=50_000
        ),
    )

    from warp_pipes_spark.ml.metrics import WilsonRates, wilson_rates_sql

    add(
        "wilson_long_docs_by_lang",
        lambda spark, sf: WilsonRates(flag_col="flag", group_col="lang")(
            _docs(spark, sf).withColumn("flag", F.col("n_chars") > 500)
        ),
        wilson_rates_sql(
            "(SELECT lang, n_chars > 500 AS flag FROM documents)",
            flag="flag",
            group="lang",
        ),
    )
    add(
        # k = 0 in every group: the Wilson lower bound must clamp sanely
        "wilson_k0_edge",
        lambda spark, sf: WilsonRates(flag_col="flag", group_col="source")(
            _docs(spark, sf).withColumn(
                "flag", F.col("n_chars") > F.lit(10**9)
            )
        ),
        wilson_rates_sql(
            "(SELECT source, n_chars > 1000000000 AS flag FROM documents)",
            flag="flag",
            group="source",
        ),
    )

    from warp_pipes_spark.pipes.validate import BenfordAudit, benford_sql

    def _events(spark, sf):
        return T(spark, sf, "events")

    add(
        "benford_narrow_decades",
        lambda spark, sf: BenfordAudit(value_col="value", lo_exp=0, hi_exp=3)(
            _events(spark, sf)
        ),
        benford_sql("events", value="value", lo_exp=0, hi_exp=3),
    )
    add(
        "benford_nchars",
        lambda spark, sf: BenfordAudit(
            value_col="n_chars", lo_exp=0, hi_exp=6
        )(_docs(spark, sf)),
        benford_sql("documents", value="n_chars", lo_exp=0, hi_exp=6),
    )
    add(
        # decade range excludes everything: all-NULL digit rows, the
        # n_analyzed accounting must still agree
        "benford_empty_range",
        lambda spark, sf: BenfordAudit(
            value_col="value", lo_exp=10, hi_exp=12
        )(_events(spark, sf)),
        benford_sql("events", value="value", lo_exp=10, hi_exp=12),
    )

    from warp_pipes_spark.ml.metrics import SpearmanPanel, spearman_panel_sql

    add(
        "spearman_two_cols_by_lang",
        lambda spark, sf: SpearmanPanel(
            cols=["n_chars", "mod7"], group_col="lang"
        )(
            _docs(spark, sf).select(
                "lang",
                "n_chars",
                (F.col("doc_id") % 7).alias("mod7"),
            )
        ),
        spearman_panel_sql(
            "(SELECT lang, n_chars, doc_id % 7 AS mod7 FROM documents)",
            cols=["n_chars", "mod7"],
            group="lang",
        ),
    )
    add(
        # a constant feature: zero variance, rho must be NULL
        "spearman_constant_col",
        lambda spark, sf: SpearmanPanel(
            cols=["n_chars", "const1"], group_col="source"
        )(
            _docs(spark, sf).select(
                "source", "n_chars", F.lit(1).alias("const1")
            )
        ),
        spearman_panel_sql(
            "(SELECT source, n_chars, 1 AS const1 FROM documents)",
            cols=["n_chars", "const1"],
            group="source",
        ),
    )
    add(
        # heavy ties: n_chars banded to 10 buckets, midrank algebra under
        # massive tie groups
        "spearman_banded_ties",
        lambda spark, sf: SpearmanPanel(
            cols=["band", "n_chars"], group_col="source"
        )(
            _docs(spark, sf).select(
                "source",
                "n_chars",
                (F.col("n_chars") % 10).alias("band"),
            )
        ),
        spearman_panel_sql(
            "(SELECT source, n_chars, n_chars % 10 AS band FROM documents)",
            cols=["band", "n_chars"],
            group="source",
        ),
    )

    from warp_pipes_spark.ml.metrics import BootstrapCI, bootstrap_ci_sql

    add(
        "bootstrap_b32_cap5",
        lambda spark, sf: BootstrapCI(
            value_col="n_chars",
            n_replicas=32,
            lo_rank=1,
            hi_rank=31,
            w_cap=5,
        )(_docs(spark, sf)),
        bootstrap_ci_sql(
            "SELECT doc_id, n_chars FROM documents",
            value_expr="n_chars",
            n_replicas=32,
            lo_rank=1,
            hi_rank=31,
            w_cap=5,
        ),
    )
    add(
        "bootstrap_seed23_median",
        lambda spark, sf: BootstrapCI(
            value_col="n_chars",
            n_replicas=64,
            lo_rank=32,
            hi_rank=33,
            seed=23,
        )(_docs(spark, sf)),
        bootstrap_ci_sql(
            "SELECT doc_id, n_chars FROM documents",
            value_expr="n_chars",
            n_replicas=64,
            lo_rank=32,
            hi_rank=33,
            seed=23,
        ),
    )

    from warp_pipes_spark.text.analysis import KneserNeyScore, kneser_ney_sql

    add(
        "kneser_ney_d05",
        lambda spark, sf: KneserNeyScore(discount=0.5)(_docs(spark, sf)),
        kneser_ney_sql("documents", discount=0.5),
    )
    add(
        "kneser_ney_d09",
        lambda spark, sf: KneserNeyScore(discount=0.9)(_docs(spark, sf)),
        kneser_ney_sql("documents", discount=0.9),
    )

    # ---- round-7 additions: non-default cells for the new operators ----

    from warp_pipes_spark.ml.metrics import RboAgreement, rbo_sql
    from warp_pipes_spark.search.bm25 import bm25_oracle_sql
    from warp_pipes_spark.search.ql import DirichletQLSearch, ql_oracle_sql

    def _rbo_cell(k, p):
        def make(spark, sf, k=k, p=p):
            from warp_pipes_spark.search.bm25 import Bm25Search

            docs = _docs(spark, sf)
            qs = _bm25_queries(spark, sf)
            bm = Bm25Search(corpus=docs, k=k)(qs)
            ql = DirichletQLSearch(corpus=docs, k=k, mu=2000)(qs)
            return RboAgreement(other=ql, k=k, p=p)(bm)

        return make, rbo_sql(
            bm25_oracle_sql("documents", BM25_QUERIES_CTE, k=k),
            ql_oracle_sql("documents", BM25_QUERIES_CTE, k=k, mu=2000),
            k=k,
            p=p,
        )

    for k, p in [(5, 0.5), (20, 0.98)]:
        make, sql = _rbo_cell(k, p)
        add(f"rbo_k{k}_p{str(p).replace('.', '')}", make, sql)

    from warp_pipes_spark.pipes.validate import RobustStats, robust_stats_sql

    add(
        "robust_lang_thr2",
        lambda spark, sf: RobustStats(
            value_col="n_chars", group_col="lang", threshold=2
        )(_docs(spark, sf)),
        robust_stats_sql("documents", value="n_chars", group="lang", threshold=2),
    )
    add(
        "robust_thr10",
        lambda spark, sf: RobustStats(
            value_col="n_chars", group_col="source", threshold=10
        )(_docs(spark, sf)),
        robust_stats_sql(
            "documents", value="n_chars", group="source", threshold=10
        ),
    )

    from warp_pipes_spark.search.trigram import (
        TrigramSubstringSearch,
        trigram_search_sql,
    )

    def _trigram_cell(start, width, mod):
        cte = (
            f"SELECT doc_id AS query_id, substring(text, {start}, {width})"
            f" AS pattern FROM documents WHERE doc_id % {mod} = 0"
            f" AND length(text) >= {start + width - 1}"
        )

        def make(spark, sf, start=start, width=width, mod=mod):
            docs = _docs(spark, sf)
            qs = docs.filter(
                (F.col("doc_id") % mod == 0)
                & (F.length("text") >= start + width - 1)
            ).select(
                F.col("doc_id").alias("query_id"),
                F.substring("text", start, width).alias("pattern"),
            )
            return TrigramSubstringSearch(corpus=docs)(qs)

        return make, trigram_search_sql("documents", cte)

    for name, (start, width, mod) in {
        "trigram_w5": (10, 5, 25),      # short patterns: many matches
        "trigram_w30": (5, 30, 50),     # long patterns: near-unique
    }.items():
        make, sql = _trigram_cell(start, width, mod)
        add(name, make, sql)

    def _trigram_prune_cell(prune):
        cte = (
            "SELECT doc_id AS query_id, substring(text, 50, 40)"
            " AS pattern FROM documents WHERE doc_id % 25 = 0"
            " AND length(text) >= 90"
        )

        def make(spark, sf, prune=prune):
            docs = _docs(spark, sf)
            qs = docs.filter(
                (F.col("doc_id") % 25 == 0) & (F.length("text") >= 90)
            ).select(
                F.col("doc_id").alias("query_id"),
                F.substring("text", 50, 40).alias("pattern"),
            )
            return TrigramSubstringSearch(corpus=docs, prune_grams=prune)(qs)

        return make, trigram_search_sql("documents", cte)

    for prune in (0, 1):  # all-grams stress path; weakest-filter path
        make, sql = _trigram_prune_cell(prune)
        add(f"trigram_prune{prune}", make, sql)

    # ---- round-8 additions ------------------------------------------------

    # RBO p -> 1 edge: weights flatten toward uniform 1/k — the classic
    # geometric-series degeneracy (round-7 judge ask)
    make, sql = _rbo_cell(10, 0.999)
    add("rbo_k10_p0999", make, sql)

    # RobustStats MAD = 0 group: every customer name has the same length,
    # so median = the constant, MAD = 0, and NO value can exceed 3*0 —
    # the degenerate-scale trap (round-7 judge ask)
    add(
        "robust_mad0_constant",
        lambda spark, sf: RobustStats(
            value_col="name_len", group_col="c_mktsegment"
        )(
            T(spark, sf, "customer").select(
                "c_mktsegment", F.length("c_name").alias("name_len")
            )
        ),
        robust_stats_sql(
            "(SELECT c_mktsegment, CAST(length(c_name) AS BIGINT)"
            " AS name_len FROM customer) tsub",
            value="name_len",
            group="c_mktsegment",
        ),
    )
    # RobustStats nullable value column: NULLs split out as n_null on
    # both engines (Spark NULLS FIRST vs DuckDB NULLS LAST would
    # otherwise shift the lower-median selection — round-7 ADVICE)
    add(
        "robust_nullable",
        lambda spark, sf: RobustStats(value_col="v", group_col="source")(
            _docs(spark, sf).select(
                "source",
                F.when(F.col("doc_id") % 7 == 0, None)
                .otherwise(F.col("n_chars"))
                .alias("v"),
            )
        ),
        robust_stats_sql(
            "(SELECT source, CASE WHEN doc_id % 7 = 0 THEN NULL"
            " ELSE n_chars END AS v FROM documents) tsub",
            value="v",
            group="source",
        ),
    )

    from warp_pipes_spark.search.trigram import (
        TrigramSimilaritySearch,
        trigram_similarity_sql,
    )

    def _trgm_sim_cell(tau):
        cte = (
            "SELECT doc_id AS query_id, substring(text, 50, 40)"
            " AS pattern FROM documents WHERE doc_id % 25 = 0"
            " AND length(text) >= 90"
        )

        def make(spark, sf, tau=tau):
            docs = _docs(spark, sf)
            qs = docs.filter(
                (F.col("doc_id") % 25 == 0) & (F.length("text") >= 90)
            ).select(
                F.col("doc_id").alias("query_id"),
                F.substring("text", 50, 40).alias("pattern"),
            )
            return TrigramSimilaritySearch(corpus=docs, tau=tau)(qs)

        return make, trigram_similarity_sql("documents", cte, tau=tau)

    for tau in (0.15, 0.35):  # dense-match and sparse-match regimes
        make, sql = _trgm_sim_cell(tau)
        add(f"trgm_sim_tau{str(tau).replace('.', '')}", make, sql)

    from warp_pipes_spark.search.fuzzy import (
        EditDistanceJoin,
        edit_distance_join_sql,
    )

    add(
        "fuzzy_cust_d2",
        lambda spark, sf: EditDistanceJoin(d=2)(
            T(spark, sf, "customer").select(
                F.col("c_custkey").alias("id"), F.col("c_name").alias("s")
            )
        ),
        edit_distance_join_sql(
            "SELECT c_custkey AS id, c_name AS s FROM customer", d=2
        ),
    )
    add(
        "fuzzy_supplier_d1",
        lambda spark, sf: EditDistanceJoin(d=1)(
            T(spark, sf, "supplier").select(
                F.col("s_suppkey").alias("id"), F.col("s_name").alias("s")
            )
        ),
        edit_distance_join_sql(
            "SELECT s_suppkey AS id, s_name AS s FROM supplier", d=1
        ),
    )

    from warp_pipes_spark.search.phrase import PhraseSearch, phrase_search_sql

    def _phrase_cell(lo, n, mod):
        cte = (
            "SELECT doc_id AS query_id, "
            f"array_to_string(list_slice({tokens_sql('text')}, {lo},"
            f" {lo + n - 1}), ' ') AS phrase FROM documents"
            f" WHERE doc_id % {mod} = 0"
        )

        def make(spark, sf, lo=lo, n=n, mod=mod):
            docs = _docs(spark, sf)
            qs = docs.filter(F.col("doc_id") % mod == 0).select(
                F.col("doc_id").alias("query_id"),
                F.array_join(
                    F.slice(tokens_expr(F.col("text")), lo, n), " "
                ).alias("phrase"),
            )
            return PhraseSearch(corpus=docs)(qs)

        return make, phrase_search_sql("documents", cte)

    for name, (lo, n, mod) in {
        "phrase_bigram": (1, 2, 25),   # short phrases: many matches
        "phrase_5gram_mid": (3, 5, 50),  # mid-document 5-token phrases
    }.items():
        make, sql = _phrase_cell(lo, n, mod)
        add(name, make, sql)

    # ---- round-8b additions (wildcard / textrank / entity resolution) ----
    from warp_pipes_spark.search.fuzzy import (
        EntityResolution,
        entity_resolution_sql,
    )
    from warp_pipes_spark.search.trigram import (
        WildcardLikeSearch,
        wildcard_search_sql,
    )
    from warp_pipes_spark.text.textrank import TextRankKeywords, textrank_sql

    def _wild_cell(expr_sql, expr_spark_fn, mod, minlen):
        cte = (
            f"SELECT doc_id AS query_id, {expr_sql} AS pattern"
            f" FROM documents WHERE doc_id % {mod} = 0"
            f" AND length(text) >= {minlen}"
        )

        def make(spark, sf, mod=mod, minlen=minlen):
            docs = _docs(spark, sf)
            qs = docs.filter(
                (F.col("doc_id") % mod == 0)
                & (F.length("text") >= minlen)
            ).select(
                F.col("doc_id").alias("query_id"),
                expr_spark_fn().alias("pattern"),
            )
            return WildcardLikeSearch(corpus=docs)(qs)

        return make, wildcard_search_sql("documents", cte)

    # three literal runs, any-gap in-order semantics
    make, sql = _wild_cell(
        "substring(text, 30, 8) || '%' || substring(text, 50, 8)"
        " || '%' || substring(text, 70, 8)",
        lambda: F.concat(
            F.substring("text", 30, 8),
            F.lit("%"),
            F.substring("text", 50, 8),
            F.lit("%"),
            F.substring("text", 70, 8),
        ),
        50,
        90,
    )
    add("wildcard_3runs", make, sql)
    # '_' single-char wildcard inside the pattern (skips position 49)
    make, sql = _wild_cell(
        "substring(text, 45, 4) || '_' || substring(text, 50, 5)",
        lambda: F.concat(
            F.substring("text", 45, 4),
            F.lit("_"),
            F.substring("text", 50, 5),
        ),
        25,
        60,
    )
    add("wildcard_underscore", make, sql)

    def _textrank_cell(k, iters, damping, minlen):
        def make(spark, sf, k=k, iters=iters, damping=damping,
                 minlen=minlen):
            return TextRankKeywords(
                k=k, iters=iters, damping=damping, min_token_len=minlen
            )(_docs(spark, sf))

        return make, textrank_sql(
            "SELECT text FROM documents",
            k=k,
            iters=iters,
            damping=damping,
            min_token_len=minlen,
        )

    make, sql = _textrank_cell(20, 2, 0.85, 3)   # wide graph, short chain
    add("textrank_minlen3", make, sql)
    make, sql = _textrank_cell(30, 4, 0.5, 4)    # low damping
    add("textrank_damp05", make, sql)

    def _er_cell(rows_spark, rows_sql, d):
        def make(spark, sf, d=d):
            return EntityResolution(d=d, iters=4)(rows_spark(spark, sf))

        return make, entity_resolution_sql(rows_sql, d=d, iters=4)

    def _part_typos(spark, sf):
        base = T(spark, sf, "part").select(
            F.col("p_partkey").alias("id"), F.col("p_name").alias("s")
        )
        typos = base.filter(F.col("id") % 3 == 0).select(
            (F.col("id") + F.lit(10000000)).alias("id"),
            F.concat(
                F.substring("s", 1, 4),
                F.lit("x"),
                F.expr("substring(s, 6)"),
            ).alias("s"),
        )
        return base.unionAll(typos)

    _PART_TYPOS_SQL = (
        "SELECT p_partkey AS id, p_name AS s FROM part "
        "UNION ALL SELECT p_partkey + 10000000,"
        " substring(p_name, 1, 4) || 'x' || substring(p_name, 6)"
        " FROM part WHERE p_partkey % 3 = 0"
    )
    # d=2: typo'd variants also chain to near-miss part names
    make, sql = _er_cell(_part_typos, _PART_TYPOS_SQL, 2)
    add("entity_resolution_d2", make, sql)
    # dense distance-1 graph (zero-padded supplier ids differ by one
    # digit): giant near-clique components stress the bounded-hop
    # contract — oracle unrolls the SAME hops, so exact by construction
    make, sql = _er_cell(
        lambda spark, sf: T(spark, sf, "supplier").select(
            F.col("s_suppkey").alias("id"), F.col("s_name").alias("s")
        ),
        "SELECT s_suppkey AS id, s_name AS s FROM supplier",
        1,
    )
    add("entity_resolution_dense", make, sql)

    # ---- round-8c additions (rolling robust / spell lookup / append) ----
    from warp_pipes_spark.pipes.validate import (
        RollingRobust,
        rolling_robust_sql,
    )

    def _rolling_cell(w, z):
        def make(spark, sf, w=w, z=z):
            return RollingRobust(w=w, z=z)(T(spark, sf, "events"))

        return make, rolling_robust_sql("events", w=w, z=z)

    make, sql = _rolling_cell(1, 3.0)   # minimal windows (n = 2..3)
    add("rolling_w1", make, sql)
    make, sql = _rolling_cell(5, 2.0)   # wide window, aggressive z
    add("rolling_w5_z2", make, sql)

    from warp_pipes_spark.search.fuzzy import (
        EditDistanceLookup,
        edit_distance_lookup_sql,
    )
    from warp_pipes_spark.text.analysis import (
        tokens_expr as _tk,
        tokens_sql as _tksql,
    )

    def _lookup_d2_make(spark, sf):
        docs = _docs(spark, sf)
        vocab = (
            docs.select(F.explode(_tk(F.col("text"))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("freq"))
        )
        tok1 = F.get(_tk(F.col("text")), 0)
        qs = docs.filter(
            (F.col("doc_id") % 5 == 0) & (F.length(tok1) >= 6)
        ).select(
            F.col("doc_id").alias("query_id"),
            # two edits: chars 3 and 5 -> 'x'/'q'
            F.concat(
                F.substring(tok1, 1, 2),
                F.lit("x"),
                F.substring(tok1, 4, 1),
                F.lit("q"),
                F.substring(tok1, 6, 1000),
            ).alias("term"),
        )
        return EditDistanceLookup(vocab=vocab, d=2)(qs)

    _TOK1S = f"({_tksql('text')})[1]"
    add(
        "lookup_d2",
        _lookup_d2_make,
        edit_distance_lookup_sql(
            "SELECT term, COUNT(*) AS freq FROM (SELECT"
            f" unnest({_tksql('text')}) AS term FROM documents)"
            " GROUP BY 1",
            f"SELECT doc_id AS query_id, substring({_TOK1S}, 1, 2) || 'x'"
            f" || substring({_TOK1S}, 4, 1) || 'q'"
            f" || substring({_TOK1S}, 6) AS term FROM documents"
            f" WHERE doc_id % 5 = 0 AND length({_TOK1S}) >= 6",
            d=2,
        ),
    )

    from warp_pipes_spark.search.trigram import TrigramSubstringSearch

    def _append_5050_make(spark, sf):
        docs = _docs(spark, sf)
        base = docs.filter(F.col("doc_id") % 2 == 0)
        delta = docs.filter(F.col("doc_id") % 2 == 1)
        qs = docs.filter(
            (F.col("doc_id") % 25 == 0) & (F.length("text") >= 90)
        ).select(
            F.col("doc_id").alias("query_id"),
            F.substring("text", 50, 40).alias("pattern"),
        )
        return TrigramSubstringSearch(corpus=base).append(delta)(qs)

    add(
        "trigram_append_5050",
        _append_5050_make,
        trigram_search_sql(
            "documents",
            "SELECT doc_id AS query_id, substring(text, 50, 40) AS"
            " pattern FROM documents WHERE doc_id % 25 = 0 AND"
            " length(text) >= 90",
        ),
    )

    return cells


def main() -> None:
    import duckdb

    from warp_pipes_spark.session import get_spark

    want = sys.argv[2] if len(sys.argv) > 2 else ""
    cells = [c for c in _cells() if want in c[0]]
    spark = get_spark(app_name="config-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    results, n_pass = {}, 0
    for name, make, sql in cells:
        t0 = time.perf_counter()
        try:
            sdf = make(spark, SF_DIR)
            cols = sorted(sdf.columns)
            srows = sorted(
                tuple(str(r[c]) for c in cols) for r in sdf.collect()
            )
            con = duckdb.connect()
            con.execute("SET temp_directory='/tmp/duck_spill'")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
                )
            cur = con.execute(sql)
            ocols = [d[0] for d in cur.description]
            idx = [ocols.index(c) for c in sorted(ocols)]
            orows = sorted(
                tuple(str(row[i]) for i in idx) for row in cur.fetchall()
            )
            con.close()
            ok = srows == orows and sorted(ocols) == cols
            results[name] = {
                "status": "pass" if ok else "FAIL",
                "rows": len(srows),
                "sec": round(time.perf_counter() - t0, 2),
            }
            n_pass += ok
        except Exception as e:  # noqa: BLE001
            results[name] = {
                "status": "ERROR",
                "error": f"{type(e).__name__}: {e}"[:300],
            }
        print(f"SWEEP {name} {results[name]['status']}", flush=True)
        spark.catalog.clearCache()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "CONFIG_SWEEP.json")
    # MERGE into the existing artifact (filtered re-runs must not erase
    # the other cells' rows — the parity_sweep rule)
    merged = results
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f).get("cells", {})
        prev.update(results)
        merged = prev
    out = {
        "sf_dir": SF_DIR,
        "n_pass": sum(1 for v in merged.values() if v.get("status") == "pass"),
        "n_total": len(merged),
        "cells": merged,
    }
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"DONE {n_pass}/{len(cells)} (artifact {out['n_pass']}/{out['n_total']})")


if __name__ == "__main__":
    main()
