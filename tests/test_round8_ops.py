"""Round-8 behavioral tests: trigram index materialization + in-plan
contract guards, gram-literal scan pruning, and the posting's short-doc
hygiene (ADVICE round 7)."""

import pytest
from pyspark.sql import functions as F


def test_trigram_duplicate_query_id_raises(spark):
    from warp_pipes_spark.search.trigram import TrigramSubstringSearch

    docs = spark.createDataFrame(
        [(1, "the quick brown fox")], ["doc_id", "text"]
    )
    dup = spark.createDataFrame(
        [(7, "quick"), (7, "brown")], ["query_id", "pattern"]
    )
    with pytest.raises(ValueError, match="duplicate query_id"):
        TrigramSubstringSearch(corpus=docs)(dup)


def test_trigram_short_docs_emit_no_posting_rows(spark):
    # round-7 ADVICE: sequence(1, 0) steps DOWNWARD, so unguarded grams
    # emitted junk sub-3-char 'grams' for short/empty docs
    from warp_pipes_spark.search.trigram import grams_expr

    df = spark.createDataFrame(
        [("ab",), ("",), ("x",), ("abc",)], ["text"]
    )
    rows = df.select(
        grams_expr(F.col("text")).alias("g")
    ).collect()
    assert [r["g"] for r in rows] == [[], [], [], ["abc"]]


def test_trigram_short_docs_never_match_but_dont_pollute(spark):
    from warp_pipes_spark.search.trigram import TrigramSubstringSearch

    docs = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, "abcdef")], ["doc_id", "text"]
    )
    qs = spark.createDataFrame([(1, "bcd")], ["query_id", "pattern"])
    out = TrigramSubstringSearch(corpus=docs)(qs).collect()
    assert [tuple(r) for r in out] == [(1, 3)]


def test_trigram_pushdown_and_materialization_invariance(
    spark, tmp_path, monkeypatch
):
    # same answers with/without the gram-literal IN pushdown and with/
    # without the rarest-gram prune; and the materialized index is REUSED
    # (the posting parquet exists after the first run)
    import os

    from warp_pipes_spark.search.trigram import TrigramSubstringSearch

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "pack my box with five dozen jugs"),
            (3, "sphinx of black quartz judge my vow"),
            (4, "quick quartz fox"),
        ],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame(
        [(10, "quick"), (20, "quartz"), (30, "zebra")],
        ["query_id", "pattern"],
    )
    cache = str(tmp_path / "trgm")
    default_max = TrigramSubstringSearch._GRAM_PUSHDOWN_MAX
    configs = [
        (default_max, {}),
        (0, {}),  # no batch fits the cap: no gram pushdown
        (default_max, dict(prune_grams=0)),
    ]
    outs = []
    for pushdown_max, cfg in configs:
        monkeypatch.setattr(
            TrigramSubstringSearch, "_GRAM_PUSHDOWN_MAX", pushdown_max
        )
        eng = TrigramSubstringSearch(corpus=docs, index_cache_dir=cache, **cfg)
        outs.append(sorted(map(tuple, eng(qs).collect())))
    assert all(o == outs[0] for o in outs)
    assert outs[0] == [(10, 1), (10, 4), (20, 3), (20, 4)]
    # the index artifact landed on disk and is corpus-fingerprint-keyed
    entries = [
        d
        for d in os.listdir(cache)
        if not d.startswith(".") and os.path.isdir(os.path.join(cache, d))
    ]
    assert len(entries) >= 2  # posting + gram-df stats


def test_robust_stats_nullable_value_col(spark):
    # round-7 ADVICE: Spark sorts NULLS FIRST ascending, DuckDB NULLS
    # LAST — NULLs are now split out before the cumulative windows and
    # reported as n_null, so the median/MAD selection is engine-neutral
    from warp_pipes_spark.pipes.validate import RobustStats

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("a", None), ("a", None),
         ("b", 5), ("b", None)],
        "source string, x int",
    )
    rows = {
        r["source"]: r
        for r in RobustStats(value_col="x", group_col="source")(df).collect()
    }
    a = rows["a"]
    # non-null values 1,2,3: n=3, lower median 2, deviations {1,0,1}
    # -> MAD 1, no value beyond 3*MAD=3 of the median
    assert (a["n"], a["n_null"], a["median"], a["mad"], a["n_outliers"]) == (
        3, 2, 2, 1, 0,
    )
    b = rows["b"]
    assert (b["n"], b["n_null"], b["median"], b["mad"]) == (1, 1, 5, 0)


def test_results_cache_k_prefix_serving(spark, tmp_path):
    # a ranking cached at k=10 serves any k' <= 10 as a rank slice
    # (deterministic tie-break => top-k' is a prefix of top-k); a k' > 10
    # request recomputes and stores its own depth
    import os

    from warp_pipes_spark.search.bm25 import Bm25Search
    from warp_pipes_spark.search.cached import cached_results

    docs = spark.createDataFrame(
        [
            (i, f"token{i % 7} token{i % 3} alpha beta gamma delta")
            for i in range(40)
        ],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame(
        [(1, "token1 alpha"), (2, "token2 beta")], ["query_id", "text"]
    )
    cache = str(tmp_path / "results")
    r10 = cached_results(
        Bm25Search(corpus=docs, k=10), qs, cache_dir=cache
    ).collect()
    entries = sorted(os.listdir(cache))
    assert len(entries) == 1 and entries[0].split("_k")[-1] == "10"
    # k=5 request: served by slicing the k=10 entry — no new entry
    r5 = cached_results(
        Bm25Search(corpus=docs, k=5), qs, cache_dir=cache
    ).collect()
    assert sorted(os.listdir(cache)) == entries
    direct5 = Bm25Search(corpus=docs, k=5)(qs).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["idx"]) for r in rows)
    assert key(r5) == key(direct5)
    assert key(r5) == key([r for r in r10 if r["rank"] <= 5])
    # k=20 request: deeper than anything cached -> recompute + store
    cached_results(
        Bm25Search(corpus=docs, k=20), qs, cache_dir=cache
    ).collect()
    assert any(e.endswith("_k20") for e in os.listdir(cache))
    # a DIFFERENT engine config (b changed) must not serve from the family
    cached_results(
        Bm25Search(corpus=docs, k=5, b=0.5), qs, cache_dir=cache
    ).collect()
    assert len(os.listdir(cache)) == 3


def test_prf_results_cache_route_matches_direct(spark):
    from warp_pipes_spark.search.prf import PrfBm25Search

    docs = spark.createDataFrame(
        [
            (i, f"alpha{i % 5} beta{i % 3} gamma delta epsilon zeta")
            for i in range(30)
        ],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame(
        [(1, "alpha1 gamma"), (2, "beta2 delta")], ["query_id", "text"]
    )
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["idx"]) for r in rows
    )
    direct = PrfBm25Search(corpus=docs, k=5, fb_k=3, fb_terms=2)(qs).collect()
    routed = PrfBm25Search(
        corpus=docs, k=5, fb_k=3, fb_terms=2, use_results_cache=True
    )(qs).collect()
    assert key(direct) == key(routed)


def test_trigram_similarity_closed_form(spark, tmp_path):
    from warp_pipes_spark.search.trigram import TrigramSimilaritySearch

    docs = spark.createDataFrame(
        [(1, "abcdef"), (2, "abcxyz"), (3, "zzzzzz")], ["doc_id", "text"]
    )
    # query 'abcd': grams {abc,bcd} (nq=2)
    # doc 1 grams {abc,bcd,cde,def} (nd=4): inter=2 -> 2/(2+4-2)=0.5
    # doc 2 grams {abc,bcx,cxy,xyz} (nd=4): inter=1 -> 1/(2+4-1)=0.2
    # doc 3 grams {zzz} : inter=0 -> excluded
    qs = spark.createDataFrame([(9, "abcd")], ["query_id", "pattern"])
    cache = str(tmp_path / "trgm")
    out = {
        r["doc_id"]: r["sim"]
        for r in TrigramSimilaritySearch(
            corpus=docs, tau=0.2, index_cache_dir=cache
        )(qs).collect()
    }
    assert out == {1: 0.5, 2: 0.2}
    # tau above 0.2 drops doc 2
    out2 = TrigramSimilaritySearch(
        corpus=docs, tau=0.21, index_cache_dir=cache
    )(qs).collect()
    assert [(r["doc_id"], r["sim"]) for r in out2] == [(1, 0.5)]
    import pytest

    with pytest.raises(ValueError, match="tau"):
        TrigramSimilaritySearch(corpus=docs, tau=0.0)


def test_edit_distance_join_closed_form(spark):
    from warp_pipes_spark.search.fuzzy import EditDistanceJoin

    rows = [
        (1, "customer_001"),
        (2, "customer_002"),   # dist 1 to id 1
        (3, "customer_0021"),  # dist 1 to id 2 (insert '1') AND to id 1 (insert '2')
        (4, "completely_other"),
    ]
    df = spark.createDataFrame(rows, ["id", "s"])
    out = sorted(
        (r["id_a"], r["id_b"], r["dist"])
        for r in EditDistanceJoin(d=1)(df).collect()
    )
    assert out == [(1, 2, 1), (1, 3, 1), (2, 3, 1)]
    out2 = sorted(
        (r["id_a"], r["id_b"], r["dist"])
        for r in EditDistanceJoin(d=2)(df).collect()
    )
    assert out2 == [(1, 2, 1), (1, 3, 1), (2, 3, 1)]


def test_edit_distance_join_repetitive_short_bucket(spark):
    # 'aaaa' vs 'aaba': ed = 1 but they share ZERO trigrams — only the
    # <=3d-distinct-grams short bucket can find this pair; a pure
    # prefix-filter join would silently miss it
    from warp_pipes_spark.search.fuzzy import EditDistanceJoin

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaba"), (3, "ab"), (4, "ba"), (5, "wholly_unrelated_string")],
        ["id", "s"],
    )
    out = sorted(
        (r["id_a"], r["id_b"], r["dist"])
        for r in EditDistanceJoin(d=1)(df).collect()
    )
    # (1,2): ed 1 via short bucket; (3,4): 'ab'->'ba' is ed 2, excluded;
    # grams of 'ab'/'ba' are empty -> short bucket handles them too
    assert out == [(1, 2, 1)]
    out2 = sorted(
        (r["id_a"], r["id_b"], r["dist"])
        for r in EditDistanceJoin(d=2)(df).collect()
    )
    assert (3, 4, 2) in out2 and (1, 2, 1) in out2


def test_phrase_search_closed_form_and_guards(spark, tmp_path):
    import pytest

    from warp_pipes_spark.search.phrase import PhraseSearch

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "brown quick the fox"),       # all terms, wrong order
            (3, "THE   Quick, Brown dog"),    # normalization: matches 'the quick brown'
            (4, "the quick quick brown fox"), # repeated term between -> no adjacency
        ],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame(
        [(10, "The Quick  BROWN"), (20, "quick brown fox"), (30, "fox jumps")],
        ["query_id", "phrase"],
    )
    cache = str(tmp_path / "phrase")
    out = sorted(
        map(tuple, PhraseSearch(corpus=docs, index_cache_dir=cache)(qs).collect())
    )
    assert out == [(10, 1), (10, 3), (20, 1), (20, 4), (30, 1)]
    # repeated-token phrase: adjacency must require BOTH offsets
    rep = spark.createDataFrame([(1, "quick quick")], ["query_id", "phrase"])
    out2 = PhraseSearch(corpus=docs, index_cache_dir=cache)(rep).collect()
    assert [tuple(r) for r in out2] == [(1, 4)]
    with pytest.raises(ValueError, match="ZERO tokens"):
        PhraseSearch(corpus=docs, index_cache_dir=cache)(
            spark.createDataFrame([(1, "!!!")], ["query_id", "phrase"])
        )
    with pytest.raises(ValueError, match="duplicate query_id"):
        PhraseSearch(corpus=docs, index_cache_dir=cache)(
            spark.createDataFrame(
                [(1, "quick"), (1, "brown")], ["query_id", "phrase"]
            )
        )


def test_wildcard_search_closed_form_and_guards(spark, tmp_path):
    from warp_pipes_spark.search.trigram import WildcardLikeSearch

    docs = spark.createDataFrame(
        [
            (1, "alpha bridge gamma"),
            (2, "gamma bridge alpha"),  # runs present but out of order
            (3, "alpha x gamma"),
            (4, "alphagamma"),          # no gap at all still matches %
            (5, "alpha only"),
        ],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame(
        [(10, "alpha%gamma")], ["query_id", "pattern"]
    )
    cache = str(tmp_path / "trgm")
    out = WildcardLikeSearch(corpus=docs, index_cache_dir=cache)(qs)
    assert sorted(tuple(r) for r in out.collect()) == [
        (10, 1),
        (10, 3),
        (10, 4),
    ]
    # '_' is a single-char LIKE wildcard, honored by the verify
    qs2 = spark.createDataFrame(
        [(11, "alpha _ gamma")], ["query_id", "pattern"]
    )
    out2 = WildcardLikeSearch(corpus=docs, index_cache_dir=cache)(qs2)
    assert sorted(tuple(r) for r in out2.collect()) == [(11, 3)]
    # guard: no literal run >= 3 chars -> no index signal -> raise
    short = spark.createDataFrame(
        [(12, "ab%cd")], ["query_id", "pattern"]
    )
    with pytest.raises(ValueError, match="literal run"):
        WildcardLikeSearch(corpus=docs, index_cache_dir=cache)(short)
    # guard: backslash escape has no oracle equivalent -> raise
    esc = spark.createDataFrame(
        [(13, "alpha\\%gamma")], ["query_id", "pattern"]
    )
    with pytest.raises(ValueError, match="backslash"):
        WildcardLikeSearch(corpus=docs, index_cache_dir=cache)(esc)


def test_textrank_closed_form_and_partition_invariance(spark):
    from warp_pipes_spark.text.textrank import TextRankKeywords

    # two docs, shared hub word "spark": it must out-rank the leaves
    docs = spark.createDataFrame(
        [
            (1, "spark shuffle spark join spark window"),
            (2, "spark codegen"),
            (3, "tiny"),  # one filtered token -> no pairs (guard path)
        ],
        ["doc_id", "text"],
    )
    out = TextRankKeywords(k=10, iters=3)(docs).collect()
    words = [r["word"] for r in out]
    assert words[0] == "spark"
    assert set(words) == {
        "spark", "shuffle", "join", "window", "codegen"
    }
    assert [r["rk"] for r in out] == list(range(1, len(out) + 1))
    # bit-stable under any partitioning (floor-scaled BIGINT discipline)
    out1 = TextRankKeywords(k=10, iters=3)(docs.repartition(7)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out1))


def test_entity_resolution_closed_form(spark):
    from warp_pipes_spark.search.fuzzy import EntityResolution

    rows = spark.createDataFrame(
        [
            (1, "acme corp"),
            (2, "acme c0rp"),   # dist 1 of #1
            (3, "acme c0rq"),   # dist 1 of #2, dist 2 of #1 (transitive)
            (4, "zeta systems"),  # singleton
            (5, "acme corp"),   # exact dup of #1 (dist 0)
        ],
        ["id", "s"],
    )
    out = {r["id"]: (r["entity"], r["n_members"]) for r in
           EntityResolution(d=1, iters=4)(rows).collect()}
    assert out == {
        1: (1, 4),
        2: (1, 4),
        3: (1, 4),
        4: (4, 1),
        5: (1, 4),
    }


def test_trigram_append_equals_full_rebuild(spark, tmp_path):
    from warp_pipes_spark.search.trigram import TrigramSubstringSearch

    cache = str(tmp_path / "trgm")
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "pack my box with five dozen jugs"),
            (3, "sphinx of black quartz judge my vow"),
            (4, "quick quartz fox"),
        ],
        ["doc_id", "text"],
    )
    base = docs.filter(F.col("doc_id") <= 2)
    delta = docs.filter(F.col("doc_id") >= 3)
    qs = spark.createDataFrame(
        [(10, "quick"), (11, "quartz")], ["query_id", "pattern"]
    )
    base_eng = TrigramSubstringSearch(corpus=base, index_cache_dir=cache)
    base_eng(qs).collect()  # materializes the base posting artifact
    import os

    n_before = len(os.listdir(cache))
    assert n_before >= 1
    appended = sorted(
        tuple(r) for r in base_eng.append(delta)(qs).collect()
    )
    full = sorted(
        tuple(r)
        for r in TrigramSubstringSearch(
            corpus=docs, index_cache_dir=cache
        )(qs).collect()
    )
    assert appended == full == [(10, 1), (10, 4), (11, 3), (11, 4)]
    # the merged posting materialized as a NEW artifact next to the base
    assert len(os.listdir(cache)) > n_before
    # append pays only its delta: the union posting is served as
    # base-artifact ∪ delta-artifact — the merged engine must NOT have
    # materialized a full index-sized posting under its own fingerprint
    merged = base_eng.append(delta)
    fp = merged._index_fingerprint()
    assert os.path.exists(os.path.join(cache, fp + "_delta"))
    assert not os.path.exists(os.path.join(cache, fp))


def test_rolling_robust_closed_form_and_invariance(spark):
    from warp_pipes_spark.pipes.validate import RollingRobust

    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    # user 1: flat series with one spike at event 5
    for i in range(10):
        rows.append(
            (i, t0 + datetime.timedelta(minutes=i), 1,
             100.0 if i == 5 else 10.0)
        )
    # user 2: constant series (MAD = 0) with one deviation -> flags
    for i in range(10, 17):
        rows.append((i, t0 + datetime.timedelta(minutes=i), 2,
                     5.0 if i != 13 else 5.1))
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "value"]
    )
    out = sorted(
        (r["entity"], r["id"]) for r in RollingRobust(w=3, z=3.0)(df).collect()
    )
    assert out == [(1, 5), (2, 13)]
    out2 = sorted(
        (r["entity"], r["id"])
        for r in RollingRobust(w=3, z=3.0)(df.repartition(5)).collect()
    )
    assert out2 == out


def test_edit_distance_lookup_closed_form(spark):
    from warp_pipes_spark.search.fuzzy import EditDistanceLookup

    vocab = spark.createDataFrame(
        [("spark", 10), ("sparky", 3), ("shark", 10), ("abc", 2)],
        ["term", "freq"],
    )
    qs = spark.createDataFrame(
        [
            (1, "spxrk"),   # dist 1 of spark only
            (2, "spark"),   # dist 0 exact beats dist-1 neighbors
            (3, "zzzzz"),   # no match within 1 -> dropped
            (4, "ab"),      # short bucket (no trigram): abc at dist 1
            (5, "shark"),   # dist 0; 'spark' also dist... no (dist 2)
        ],
        ["query_id", "term"],
    )
    out = {r["query_id"]: (r["suggestion"], r["dist"], r["freq"])
           for r in EditDistanceLookup(vocab=vocab, d=1)(qs).collect()}
    assert out == {
        1: ("spark", 1, 10),
        2: ("spark", 0, 10),
        4: ("abc", 1, 2),
        5: ("shark", 0, 10),
    }


def test_edit_distance_lookup_tie_breaks(spark):
    from warp_pipes_spark.search.fuzzy import EditDistanceLookup

    vocab = spark.createDataFrame(
        [("datum", 5), ("datus", 9), ("datuq", 9)], ["term", "freq"]
    )
    qs = spark.createDataFrame([(1, "datux")], ["query_id", "term"])
    # all three are dist 1; freq desc prefers 9s; lexicographic breaks
    # datuq < datus
    [r] = EditDistanceLookup(vocab=vocab, d=1)(qs).collect()
    assert (r["suggestion"], r["dist"], r["freq"]) == ("datuq", 1, 9)


def test_boolean_search_closed_form_and_guards(spark, tmp_path):
    from warp_pipes_spark.search.boolean import BooleanSearch

    docs = spark.createDataFrame(
        [
            (1, "spark shuffle join window"),
            (2, "spark shuffle codegen"),
            (3, "shuffle join spark"),
            (4, "spark only"),
        ],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame(
        [
            (10, ["spark", "shuffle"], ["codegen"]),  # 1, 3 (2 excluded)
            (11, ["join"], []),                        # 1, 3
            (12, ["spark", "zzz"], []),                # nothing
        ],
        "query_id int, must array<string>, must_not array<string>",
    )
    cache = str(tmp_path / "bool")
    out = sorted(
        tuple(r)
        for r in BooleanSearch(corpus=docs, index_cache_dir=cache)(
            qs
        ).collect()
    )
    assert out == [(10, 1), (10, 3), (11, 1), (11, 3)]
    # guards: duplicate id / empty must raise from the planning job
    dup = spark.createDataFrame(
        [(1, ["a"], []), (1, ["b"], [])],
        "query_id int, must array<string>, must_not array<string>",
    )
    with pytest.raises(ValueError, match="duplicate query_id"):
        BooleanSearch(corpus=docs, index_cache_dir=cache)(dup)
    empty = spark.createDataFrame(
        [(1, [], ["a"])],
        "query_id int, must array<string>, must_not array<string>",
    )
    with pytest.raises(ValueError, match="empty must"):
        BooleanSearch(corpus=docs, index_cache_dir=cache)(empty)


def test_leakage_safe_split_cluster_coherent(spark):
    from warp_pipes_spark.pipes.sampling import LeakageSafeSplit

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 21)], ["doc_id", "text"]
    )
    # two clusters: {1,2,3} (chain) and {10, 11}; rest singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    out = LeakageSafeSplit(
        pairs=pairs, splits={"validation": 0.3, "test": 0.3}, seed=3
    )(docs).collect()
    by_id = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in out}
    assert by_id[1][0] == by_id[2][0] == by_id[3][0] == 1
    assert by_id[10][0] == by_id[11][0] == 10
    # the leakage property: same cluster -> same split, always
    assert by_id[1][1] == by_id[2][1] == by_id[3][1]
    assert by_id[10][1] == by_id[11][1]
    # singletons keep their own id
    assert by_id[7] == (7, by_id[7][1])
    assert len(out) == 20


def test_grams_udf_matches_grams_expr(spark):
    """The vectorized posting kernel must produce the same arrays (values
    AND first-occurrence order) as the expression form it replaced on the
    posting build, including the short/empty/NULL-doc guards."""
    from pyspark.sql import functions as F

    from warp_pipes_spark.search.trigram import grams_expr, grams_udf

    rows = [
        (1, "abcdefg"),
        (2, "ababab"),          # repeated grams: first-occurrence order
        (3, "ab"),              # shorter than 3 -> []
        (4, ""),                # empty -> []
        (5, None),              # NULL -> []
        (6, "aaa"),             # exactly 3
        (7, "héllo wörld"),     # non-ASCII code points
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", grams_udf()(F.col("text")).alias("g")).collect()
    }
    want = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", grams_expr(F.col("text")).alias("g")).collect()
    }
    # NULL input: expr form yields [] via the otherwise-branch; kernel too
    assert got == want


def test_gopher_masses_kernel_matches_exploded_formulation(spark):
    """GopherRepetition's row-local masses kernel must produce the exact
    per-(doc, n) integers the old explode -> (doc, n, gram) aggregate
    computed — including the (cnt, chars, gram) tie-break — on ties,
    case folding, short/empty/NULL docs and non-ASCII text."""
    from warp_pipes_spark.text.analysis import (
        GOPHER_DUP_NS,
        GOPHER_TOP_NS,
        GopherRepetition,
        tokens_expr,
    )

    rows = [
        (1, "spam ham " * 20),                      # heavy repetition
        (2, "aa bb aa bb cc dd cc dd ee"),          # count ties for top-2
        (3, "x yy x yy x zz"),                       # tie broken on chars
        (4, "single"),                               # no grams at all
        (5, ""),                                     # empty
        (6, None),                                   # NULL text
        (7, "Héllo WÖRLD Héllo wörld mixed CASE mixed case"),  # non-ASCII
        (8, "alpha beta gamma delta epsilon zeta " * 3 + "tail"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    ns = list(GOPHER_TOP_NS) + list(GOPHER_DUP_NS)

    # --- old exploded formulation (per-(doc, n) masses), verbatim shape
    toks = F.col("__l")

    def grams(n):
        def gram(x, i):
            parts = [x]
            for d in range(1, n):
                parts.extend([F.lit(" "), F.element_at(toks, i + d + 1)])
            return F.concat(*parts)

        return F.transform(
            F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0))),
            gram,
        )

    def tagged(n):
        return F.transform(
            grams(n), lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))
        )

    d = df.select("doc_id", tokens_expr(F.col("text")).alias("__l"))
    ex = d.select(
        "doc_id", F.explode(F.concat(*[tagged(n) for n in ns])).alias("t")
    ).select("doc_id", "t.n", "t.gram")
    counts = ex.groupBy("doc_id", "n", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    chars = (F.length("gram") - (F.col("n") - 1)).cast("long")
    per_n = (
        counts.groupBy("doc_id", "n")
        .agg(
            F.max(F.struct(F.col("cnt"), chars.alias("ch"), F.col("gram"))).alias(
                "__top"
            ),
            F.sum(
                F.when(F.col("cnt") >= 2, F.col("cnt") * chars).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("dm"),
        )
        .select(
            "doc_id",
            "n",
            (F.col("__top.cnt") * F.col("__top.ch")).alias("tm"),
            "dm",
        )
    )
    old = {(r["doc_id"], r["n"]): (r["tm"], r["dm"]) for r in per_n.collect()}

    # --- kernel
    got = df.select(
        "doc_id", GopherRepetition._masses_udf()(F.col("text")).alias("m")
    ).collect()
    for r in got:
        for n in ns:
            tm = r["m"][f"m{n}_tm"]
            dm = r["m"][f"m{n}_dm"]
            # gram-less (doc, n) was absent from the old aggregate and
            # coalesced to 0 downstream; the kernel emits 0 directly
            assert (tm, dm) == old.get((r["doc_id"], n), (0, 0)), (
                r["doc_id"],
                n,
            )


def test_bm25f_one_pass_postings_match_per_field_union(spark):
    """The stacked one-scan BM25F posting build must be row-identical to
    the old per-field build_inverted_index union, including NULL-field
    drops and the empty-field NULL-term sentinel."""
    from warp_pipes_spark.search.bm25 import Bm25FSearch, build_inverted_index

    corpus = spark.createDataFrame(
        [
            (1, "Quick Fox", "jumps over the lazy dog"),
            (2, "", "pack my box"),           # empty title -> sentinel row
            (3, None, "five dozen jugs"),     # NULL title -> title row dropped
            (4, "sphinx of quartz", None),    # NULL body -> body row dropped
            (5, None, None),
        ],
        ["doc_id", "title", "body"],
    )
    eng = Bm25FSearch(
        corpus=corpus, fields={"title": 2.0, "body": 1.0}, k=3
    )
    got = eng._postings()
    want = None
    for col in eng.fields:
        part = build_inverted_index(corpus, "doc_id", col).withColumn(
            "field", F.lit(col)
        )
        want = part if want is None else want.unionByName(part)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # sentinel present for the empty (non-NULL) field, absent for NULLs
    rows = {(r["doc_id"], r["field"]) for r in got.where(F.col("term").isNull()).collect()}
    assert rows == {(2, "title")}


def test_bm25_append_materializes_only_the_delta(spark, tmp_path):
    """BM25 append must not rewrite the merged raw posting artifact: the
    union engine serves base-raw ∪ delta-raw, and results stay identical
    to a from-scratch engine over the concatenated corpus."""
    import os

    from warp_pipes_spark.search.bm25 import Bm25Search

    cache = str(tmp_path / "bm25")
    docs = spark.createDataFrame(
        [(i, f"alpha{i % 4} beta{i % 3} gamma delta") for i in range(20)],
        ["doc_id", "text"],
    )
    base = docs.filter(F.col("doc_id") < 15)
    delta = docs.filter(F.col("doc_id") >= 15)
    qs = spark.createDataFrame(
        [(1, "alpha1 gamma"), (2, "beta2 delta")], ["query_id", "text"]
    )
    base_eng = Bm25Search(corpus=base, k=5, index_cache_dir=cache)
    base_eng(qs).collect()
    merged = base_eng.append(delta)
    got = sorted((r["query_id"], r["rank"], r["idx"]) for r in merged(qs).collect())
    fresh = Bm25Search(corpus=docs, k=5, index_cache_dir=cache)
    want = sorted((r["query_id"], r["rank"], r["idx"]) for r in fresh(qs).collect())
    assert got == want
    fp_raw = merged._tok_fingerprint() + "_raw"
    assert os.path.exists(os.path.join(cache, fp_raw + "delta"))
    assert not os.path.exists(os.path.join(cache, fp_raw))
