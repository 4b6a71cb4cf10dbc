"""Cache-manager + Predict tests (mirrors reference cache correctness:
cached vectors == direct outputs; idempotent re-runs hit the cache)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from warp_pipes_spark.core.fingerprint import (
    combine_fingerprints,
    fingerprint_path,
    fingerprint_struct,
)
from warp_pipes_spark.pipes.basics import Apply
from warp_pipes_spark.pipes.cache import CachedPipe, CacheManager
from warp_pipes_spark.pipes.predict import Predict, PredictWithoutCache


def fake_model(texts):
    """Deterministic fake embedding model (hash -> 4-dim vector)."""
    out = []
    for t in texts:
        h = abs(hash(str(t))) % 1000
        out.append([float(h), float(h % 7), float(h % 13), 1.0])
    return np.array(out)


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(20)], "row_id long, text string"
    )


def test_fingerprint_deterministic():
    a = fingerprint_struct({"x": 1, "y": [1, 2, {"z": "s"}]})
    b = fingerprint_struct({"y": [1, 2, {"z": "s"}], "x": 1})
    assert a == b
    assert a != fingerprint_struct({"x": 2})
    assert combine_fingerprints(a, b) == combine_fingerprints(a, b)


def test_fingerprint_path_changes_with_content(tmp_path):
    p = tmp_path / "data.txt"
    p.write_text("hello")
    fp1 = fingerprint_path(str(p))
    import os, time

    time.sleep(0.01)
    p.write_text("hello world")
    os.utime(p, (1e9, 2e9))
    assert fingerprint_path(str(p)) != fp1


def test_fingerprint_subsecond_same_size_rewrite(spark, tmp_path):
    """A same-size rewrite whose mtime moves by less than one second is a
    new snapshot: fingerprint_path and a fresh read's
    fingerprint_dataframe both change (whole-second keys kept the old
    fingerprint and served a stale artifact)."""
    import os

    from warp_pipes_spark.core.fingerprint import fingerprint_dataframe

    p = str(tmp_path / "t.parquet")
    spark.range(4).coalesce(1).write.parquet(p)
    (part,) = [
        os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")
    ]
    base = 1_700_000_000 * 10**9
    os.utime(part, ns=(base, base + 100_000_000))
    fp1 = fingerprint_path(p)
    df1 = fingerprint_dataframe(spark.read.parquet(p))
    with open(part, "rb") as f:
        data = f.read()
    with open(part, "wb") as f:  # same-size rewrite
        f.write(data)
    os.utime(part, ns=(base, base + 600_000_000))
    assert fingerprint_path(p) != fp1
    assert fingerprint_dataframe(spark.read.parquet(p)) != df1


def test_cache_dir_spellings_share_entries(spark, docs, tmp_path, monkeypatch):
    """Two spellings of one cache dir (relative with a trailing slash,
    absolute) address one entry, and the second load is a memo hit."""
    import os

    monkeypatch.chdir(tmp_path)
    rel = CacheManager("x/")
    absolute = CacheManager(os.path.abspath("x"))
    assert rel.cache_dir == absolute.cache_dir
    rel.store(docs, "shared")
    assert absolute.exists("shared")
    assert absolute.load(spark, "shared") is rel.load(spark, "shared")


def test_fingerprint_dataframe_lambda_counter_invariant(spark, tmp_path):
    """PySpark numbers higher-order-function lambda variables with a
    session-GLOBAL counter (``lambda x_1`` in a fresh session, ``x_417``
    after other queries ran). The plan canonicalization must scrub it, or
    every fingerprint over a transform/filter/aggregate-lambda plan misses
    its own cross-session cache and silently rebuilds (regression:
    BM25F/SimHash index caches rewrote per bench run)."""
    from warp_pipes_spark.core.fingerprint import fingerprint_dataframe

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, ["a", "bb"])], "id long, xs array<string>").write.parquet(p)

    def mk():
        df = spark.read.parquet(p)
        return df.select("id", F.transform("xs", lambda x: F.length(x)).alias("ls"))

    fp1 = fingerprint_dataframe(mk())
    # burn a few lambda-counter slots in unrelated plans
    for _ in range(3):
        spark.range(1).select(F.transform(F.array(F.lit("z")), lambda x: x)).collect()
    fp2 = fingerprint_dataframe(mk())
    assert fp1 == fp2
    # different lambda BODY must still change the fingerprint
    df = spark.read.parquet(p)
    other = df.select("id", F.transform("xs", lambda x: F.upper(x)).alias("ls"))
    assert fingerprint_dataframe(other) != fp1


def test_cached_pipe_idempotent(spark, docs, tmp_path):
    mgr = CacheManager(str(tmp_path / "cache"))
    pipe = Apply({"n": F.length("text")})
    cached = CachedPipe(pipe, mgr, input_fingerprint="docs-v1")
    out1 = sorted(tuple(r) for r in cached(docs).collect())
    fp = combine_fingerprints("docs-v1", pipe.fingerprint)
    assert mgr.exists(fp)
    # second run must serve from cache (drop a marker to prove no recompute)
    out2 = sorted(tuple(r) for r in cached(docs).collect())
    assert out1 == out2


def test_predict_cache_equals_direct(spark, docs, tmp_path):
    mgr = CacheManager(str(tmp_path / "cache"))
    direct = PredictWithoutCache(fake_model)(docs)
    cached = Predict(fake_model, mgr, model_fingerprint="fake-v1", input_fingerprint="docs-v1")
    out1 = cached(docs)
    d = {r["row_id"]: r["vector"] for r in direct.collect()}
    c = {r["row_id"]: r["vector"] for r in out1.collect()}
    assert d == c
    # cache hit on re-run returns identical vectors
    out2 = cached(docs)
    c2 = {r["row_id"]: r["vector"] for r in out2.collect()}
    assert c2 == c
    fp = cached.cache_fingerprint(docs)
    assert mgr.exists(fp)


def test_predict_misses_after_source_rewrite(spark, tmp_path):
    """Without an input_fingerprint, Predict keys its vectors on the
    input's content fingerprint: rewriting the Parquet source in place
    must miss the cache (``semanticHash`` is equal for both reads, so the
    old vectors came back)."""

    def length_model(texts):
        return np.array([[float(len(t)), 1.0] for t in texts])

    src = str(tmp_path / "docs.parquet")
    predict = Predict(
        length_model, CacheManager(str(tmp_path / "cache")), model_fingerprint="len-v1"
    )

    def run(texts):
        spark.createDataFrame(
            list(enumerate(texts)), "row_id long, text string"
        ).write.mode("overwrite").parquet(src)
        out = predict(spark.read.parquet(src)).collect()
        return {r["row_id"]: r["vector"][0] for r in out}

    assert run(["a", "bb"]) == {0: 1.0, 1: 2.0}
    assert run(["cccc", "ddddd"]) == {0: 4.0, 1: 5.0}


def test_cache_vacuum_removes_only_old_entries(spark, docs, tmp_path):
    import json as _json
    import os as _os
    import time as _time

    mgr = CacheManager(str(tmp_path / "c"))
    mgr.store(docs, "fresh")
    mgr.store(docs, "stale")
    # age the 'stale' entry's metadata
    meta = _os.path.join(mgr.path_for("stale"), "_wps_meta.json")
    with open(meta) as f:
        m = _json.load(f)
    m["written_at"] = _time.time() - 3600
    with open(meta, "w") as f:
        _json.dump(m, f)
    # orphaned staging dir from a crashed writer
    _os.makedirs(_os.path.join(str(tmp_path / "c"), "x.staging-dead"))
    _os.utime(
        _os.path.join(str(tmp_path / "c"), "x.staging-dead"),
        (_time.time() - 3600, _time.time() - 3600),
    )

    deleted = mgr.vacuum(max_age_seconds=600)
    assert sorted(deleted) == ["stale", "x.staging-dead"]
    assert mgr.exists("fresh") and not mgr.exists("stale")
    assert len(mgr.load(spark, "fresh").collect()) == docs.count()


def test_cache_vacuum_bytes_evicts_oldest_until_under_budget(spark, docs, tmp_path):
    """Size-based retention: oldest-written entries go first until the
    cache fits the byte budget; newest survives; recent staging dirs from
    possibly-live writers are left alone."""
    import json as _json
    import os as _os
    import time as _time

    mgr = CacheManager(str(tmp_path / "cb"))
    sizes = {}
    for i, name in enumerate(["oldest", "middle", "newest"]):
        mgr.store(docs, name)
        meta = _os.path.join(mgr.path_for(name), "_wps_meta.json")
        with open(meta) as f:
            m = _json.load(f)
        m["written_at"] = _time.time() - (3 - i) * 1000
        with open(meta, "w") as f:
            _json.dump(m, f)
        sizes[name] = sum(
            _os.path.getsize(_os.path.join(r, f))
            for r, _d, fs in _os.walk(mgr.path_for(name))
            for f in fs
        )
    # a live writer's staging dir (recent mtime) must NOT be swept
    live = _os.path.join(str(tmp_path / "cb"), "y.staging-live")
    _os.makedirs(live)

    budget = sizes["newest"] + sizes["middle"] + sizes["oldest"] // 2
    deleted = mgr.vacuum_bytes(budget)
    assert deleted == ["oldest"]
    assert not mgr.exists("oldest")
    assert mgr.exists("middle") and mgr.exists("newest")
    assert _os.path.isdir(live)

    # everything over budget: evicts oldest-first until under (here: all)
    deleted = mgr.vacuum_bytes(0)
    assert deleted == ["middle", "newest"]
    assert not mgr.exists("middle") and not mgr.exists("newest")


def test_cache_failed_publish_recomputes(spark, docs, tmp_path, caplog, monkeypatch):
    """A failing publish (full disk, bad permissions) costs a recompute,
    never an error: get_or_compute returns the computed rows, logs a
    warning, and leaves no published entry or staging dir behind."""
    import logging
    import os as _os

    from pyspark.sql.readwriter import DataFrameWriter

    mgr = CacheManager(str(tmp_path / "cf"))

    # a read-only cache dir won't do it: tests run as root, which
    # bypasses mode bits
    def boom(self, path, *args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    with caplog.at_level(logging.WARNING, logger="warp_pipes_spark.pipes.cache"):
        out = mgr.get_or_compute(spark, "doomed", lambda: docs)
        rows = sorted(tuple(r) for r in out.collect())
    assert rows == sorted(tuple(r) for r in docs.collect())
    assert any("publish failed" in r.message for r in caplog.records)
    assert not mgr.exists("doomed")
    assert _os.listdir(mgr.cache_dir) == []


def test_meta_value_memoizes_on_published_artifacts_only(spark, docs, tmp_path):
    """An index scalar is computed once per published artifact and read
    from its sidecar meta afterwards; an unpublished artifact keeps no
    meta, so every call recomputes and nothing is written."""
    import os as _os

    mgr = CacheManager(str(tmp_path / "meta"))
    calls = []

    def probe():
        calls.append(1)
        return 42

    assert mgr.meta_value("absent", "n", probe) == 42
    assert mgr.meta_value("absent", "n", probe) == 42
    assert len(calls) == 2 and _os.listdir(mgr.cache_dir) == []
    mgr.store(docs, "idx")
    assert [mgr.meta_value("idx", "n", probe) for _ in range(3)] == [42] * 3
    assert len(calls) == 3


_CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumped over a lazy dog"),
    (3, "a slow green turtle crawls under the busy bridge"),
    (4, "lazy dogs and quick foxes share the brown field"),
    (5, "the quick brown fox jumps over the lazy dog"),
]
_NEW_DOCS = [(6, "a quick turtle jumps over the brown bridge")]


def _text_queries(spark):
    return spark.createDataFrame(
        [(0, "quick brown fox"), (1, "lazy turtle bridge")],
        "query_id long, text string",
    )


def _patterns(spark):
    return spark.createDataFrame(
        [(0, "quick brown"), (1, "turtle")], "query_id long, pattern string"
    )


def _bm25(spark, docs, new, d):
    from warp_pipes_spark.search.bm25 import Bm25Search

    return Bm25Search(corpus=docs, k=3, index_cache_dir=d)(_text_queries(spark))


def _bm25_append(spark, docs, new, d):
    from warp_pipes_spark.search.bm25 import Bm25Search

    eng = Bm25Search(corpus=docs, k=3, index_cache_dir=d).append(new)
    return eng(_text_queries(spark))


def _ql(spark, docs, new, d):
    from warp_pipes_spark.search.ql import DirichletQLSearch

    return DirichletQLSearch(corpus=docs, k=3, index_cache_dir=d)(
        _text_queries(spark)
    )


def _substring(spark, docs, new, d):
    from warp_pipes_spark.search.trigram import TrigramSubstringSearch

    return TrigramSubstringSearch(corpus=docs, index_cache_dir=d)(_patterns(spark))


def _substring_append(spark, docs, new, d):
    from warp_pipes_spark.search.trigram import TrigramSubstringSearch

    eng = TrigramSubstringSearch(corpus=docs, index_cache_dir=d).append(new)
    return eng(_patterns(spark))


def _similarity(spark, docs, new, d):
    from warp_pipes_spark.search.trigram import TrigramSimilaritySearch

    return TrigramSimilaritySearch(corpus=docs, tau=0.2, index_cache_dir=d)(
        _patterns(spark)
    )


def _boolean(spark, docs, new, d):
    from warp_pipes_spark.search.boolean import BooleanSearch

    qs = spark.createDataFrame(
        [(0, ["quick", "fox"], ["jumped"]), (1, ["lazy"], [])],
        "query_id long, must array<string>, must_not array<string>",
    )
    return BooleanSearch(corpus=docs, index_cache_dir=d)(qs)


def _phrase(spark, docs, new, d):
    from warp_pipes_spark.search.phrase import PhraseSearch

    qs = spark.createDataFrame(
        [(0, "quick brown fox"), (1, "lazy dog")], "query_id long, phrase string"
    )
    return PhraseSearch(corpus=docs, index_cache_dir=d)(qs)


def _ngram_jaccard(spark, docs, new, d):
    from warp_pipes_spark.text.dedup import NgramJaccardDedup

    return NgramJaccardDedup(
        n=3, threshold=0.5, prefix_filter=False, shingle_cache_dir=d
    )(docs)


def _simhash(spark, docs, new, d):
    from warp_pipes_spark.text.dedup import SimHashDedup

    return SimHashDedup(materialize_signatures=True, signature_cache_dir=d)(docs)


@pytest.mark.parametrize(
    "run",
    [
        _bm25,
        _bm25_append,
        _ql,
        _substring,
        _substring_append,
        _similarity,
        _boolean,
        _phrase,
        _ngram_jaccard,
        _simhash,
    ],
    ids=lambda f: f.__name__.strip("_"),
)
def test_engine_failed_publish_recomputes(spark, tmp_path, caplog, monkeypatch, run):
    """Every engine artifact (index, shingles, pairs, signatures) keeps
    the cache contract: a publish that fails costs a recompute, never a
    read of a path that was not written."""
    import logging
    import os as _os

    from pyspark.sql.readwriter import DataFrameWriter

    docs = spark.createDataFrame(_CORPUS, "doc_id long, text string")
    new = spark.createDataFrame(_NEW_DOCS, "doc_id long, text string")
    want = sorted(
        tuple(r) for r in run(spark, docs, new, str(tmp_path / "ok")).collect()
    )
    assert want

    orig = DataFrameWriter.parquet

    def flaky(self, path, *args, **kwargs):
        # only publishes fail: the engine's own reads and writes still work
        if ".staging-" in path:
            raise OSError("disk full")
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", flaky)
    doomed = str(tmp_path / "doomed")
    with caplog.at_level(logging.WARNING, logger="warp_pipes_spark.pipes.cache"):
        got = sorted(tuple(r) for r in run(spark, docs, new, doomed).collect())
    assert got == want
    assert any("publish failed" in r.message for r in caplog.records)
    assert _os.listdir(doomed) == []


def test_cache_concurrent_writers_race(spark, docs, tmp_path):
    """Two writers publishing the same fingerprint: one atomic rename wins,
    the loser discards its (content-identical) staging dir — no partial
    state, no error, artifact readable throughout."""
    import os as _os
    import threading

    from warp_pipes_spark.pipes.cache import CacheManager

    mgr = CacheManager(str(tmp_path / "race"))
    errs = []

    def writer():
        try:
            mgr.store(docs, "contended")
        except Exception as e:  # pragma: no cover - the assertion target
            errs.append(e)

    threads = [threading.Thread(target=writer) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    assert mgr.exists("contended")
    # exactly one published dir, zero staging leftovers
    entries = _os.listdir(str(tmp_path / "race"))
    assert entries == ["contended"]
    assert len(mgr.load(spark, "contended").collect()) == docs.count()
    # a late (losing) writer after publish is also safe
    mgr.store(docs, "contended")
    assert mgr.exists("contended")


def test_bounded_query_collect_guard(spark):
    """The pandas-BLAS / PQ query paths broadcast the collected query
    batch; the contract is now a CHECK, not a comment."""
    import pytest as _pytest

    from warp_pipes_spark.ml.similarity import BruteForceCosineTopK

    rows = [(i, [float(i), 1.0]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    eng = BruteForceCosineTopK(corpus=emb, k=2, strategy="pandas", max_query_rows=10)
    with _pytest.raises(ValueError, match="max_query_rows"):
        eng(emb)
    # under the cap it works
    small = emb.limit(5)
    assert BruteForceCosineTopK(
        corpus=emb, k=2, strategy="pandas", max_query_rows=10
    )(small).count() > 0
