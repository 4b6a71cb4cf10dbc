"""The benchmark workloads: ``curate`` (batch curation of crawl shards)
and ``serve`` (query batches against a prebuilt index; a traced run also
applies an increment of new documents, timed on a clock of its own).

Each is driven by one closed-loop client: the next operation starts only
after the previous one finished. An operation is one curation pass over a
shard (``curate``) or one fresh query batch (``serve``). Inputs for an
operation are generated and written before its clock starts; everything
the engine does with them is timed.

Every call into ``warp_pipes_spark`` goes through ``Tracer.stage`` under
the name of the module it calls, so a traced run attributes time, jobs,
shuffle and spill to that layer. Untraced, ``stage`` is a plain call and
the stages fuse into the same lazy plans a user's job would build.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from warp_pipes_spark.ml.similarity import IvfCosineTopK
from warp_pipes_spark.pipes.basics import AddPrefix, ReplaceInKeys
from warp_pipes_spark.pipes.cache import CacheManager, clear_all_artifact_caches
from warp_pipes_spark.pipes.cdc import MergeUpsert
from warp_pipes_spark.pipes.collate import CollateField
from warp_pipes_spark.pipes.nesting import Nest
from warp_pipes_spark.pipes.passages import GeneratePassages
from warp_pipes_spark.pipes.pipelines import Sequential
from warp_pipes_spark.pipes.predict import Predict, PredictWithoutCache
from warp_pipes_spark.pipes.tokenizer import WordPieceTokenizer
from warp_pipes_spark.search.bm25 import Bm25Search, build_inverted_index
from warp_pipes_spark.search.index import Index
from warp_pipes_spark.text.analysis import GopherQualityFilter, LangId
from warp_pipes_spark.text.bpe import train_wordpiece_vocab
from warp_pipes_spark.text.dedup import (
    DedupClusters,
    ExactDedup,
    IncrementalDedup,
    MinHashDedup,
)
from warp_pipes_spark.text.packing import PackSequences
from warp_pipes_spark.text.web import FixEncoding

import checks
import gen
from gen import Corpus, measured_shares

# input sizes per operation; "tiny" is the benchmark's own smoke test
SIZES = {
    "full": dict(shard=120, corpus=800, batch=16, increment=40),
    "tiny": dict(shard=40, corpus=200, batch=4, increment=12),
}
PASSAGE_SIZE = 64
PACK_CAPACITY = 512
TOP_K = 10
RECRAWL_RATE = 0.1
QUERY_SCHEMA = "query_id long, text string"
EMBED_IN, EMBED_OUT = 64, 16


def digest(rows) -> str:
    """Order-independent content hash of output rows."""
    import hashlib

    return hashlib.sha256(repr(sorted(map(repr, rows))).encode()).hexdigest()[:16]


def percentile(xs: list, q: float) -> float:
    """Linear-interpolated percentile of a non-empty sample."""
    return float(np.percentile(np.asarray(xs, dtype=float), q))


def write_docs(docs: list, path: str) -> None:
    """Write generated documents as one Parquet file (the crawl's output)."""
    table = pa.table(
        {
            "doc_id": pa.array([d.doc_id for d in docs], pa.int64()),
            "text": [d.text for d in docs],
            "lang": [d.lang for d in docs],
            "source": [d.source for d in docs],
            "n_chars": pa.array([len(d.text) for d in docs], pa.int32()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def make_embedder(sc):
    """A deterministic numpy text model: hashed bag of words -> fixed
    random projection. Returns (model_fn, fingerprint, rows_sent
    accumulator); the accumulator counts every row the model scores."""
    import hashlib

    W = np.random.default_rng(1234).standard_normal((EMBED_IN, EMBED_OUT)) / 8.0
    weights = sc.broadcast(W)
    sent = sc.accumulator(0)
    split = re.compile("[^a-z]+")

    def embed(texts):
        sent.add(len(texts))
        X = np.zeros((len(texts), EMBED_IN))
        for i, t in enumerate(texts):
            for tok in split.split(t.lower()):
                if tok:
                    X[i, zlib.crc32(tok.encode()) % EMBED_IN] += 1.0
        return X @ weights.value

    return embed, hashlib.md5(W.tobytes()).hexdigest(), sent


class Bench:
    """State shared by a run: session, tracer, scratch space, op ledger."""

    def __init__(self, spark, tracer, work: str, seed: int, size: str):
        self.spark = spark
        self.t = tracer
        self.work = work
        self.seed = seed
        self.size = SIZES[size]
        self.attempted = 0
        self.failed = 0
        self.checks: dict = {}
        self.embed, self.embed_fp, self.rows_sent = make_embedder(spark.sparkContext)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def check(self, name: str, ok: bool, detail="") -> None:
        """One untimed output check = one op; a mismatch is a failed op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
        self.checks[name] = {"ok": bool(ok), "detail": detail}

    def fresh_caches(self) -> None:
        """Drop every artifact cache so the next pass builds from inputs."""
        clear_all_artifact_caches()
        shutil.rmtree(self.path("cache"), ignore_errors=True)


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


class Curate:
    """One batch curation pass per op over a fresh crawl shard, written to
    Parquet: repair -> quality + language -> exact dedup -> MinHash dedup
    + clusters -> WordPiece vocab + tokenize -> passages -> collate ->
    per-document re-nest -> pack. Artifact caches are cleared before every
    pass, so nothing a previous pass built is reused."""

    item = "docs"
    min_ops = 2

    def __init__(self, b: Bench):
        self.b = b
        self.shards: list = []

    def setup(self) -> None:
        """Clear every artifact cache and run one warm-up pass over a
        shard of the timed size (a smaller one leaves the first timed pass
        slower than the rest). Its output is checked like the others."""
        self.gen = gen.Generator(self.b.seed)
        self.b.fresh_caches()
        self.op(self.next_input())

    def planted(self) -> dict:
        return measured_shares(Corpus(
            [d for s in self.shards for d in s["corpus"].docs],
            [p for s in self.shards for p in s["corpus"].near_dup_pairs],
        ))

    def _shard(self, name: str, n: int) -> dict:
        shard = {
            "name": name,
            "corpus": self.gen.corpus(n),
            "src": self.b.path("curate", f"{name}.parquet"),
            "out": self.b.path("curate", f"{name}.out"),
        }
        write_docs(shard["corpus"].docs, shard["src"])
        return shard

    def next_input(self) -> dict:
        shard = self._shard(f"shard{len(self.shards)}", self.b.size["shard"])
        self.shards.append(shard)
        self.b.fresh_caches()
        return shard

    def op(self, shard: dict) -> int:
        b, spark, T = self.b, self.b.spark, self.b.t
        docs = spark.read.parquet(shard["src"])
        fixed = T.stage("text.web", lambda: FixEncoding()(docs))
        kept = T.stage(
            "text.analysis",
            lambda: Sequential(
                GopherQualityFilter(text_col="fixed_text", stopwords=gen.ALL_STOPWORDS),
                LangId(text_col="fixed_text"),
            )(fixed).filter(F.col("keep")),
        )
        T.add("text.analysis.rows_in", len(shard["corpus"].docs))
        T.add("text.analysis.rows_kept", T.last_rows)
        # the accepted documents land in the corpus store; tokenization
        # reads them back, as a second job of the user's pipeline would
        acc_path = b.path("curate", f"{shard['name']}.accepted")
        T.stage(
            "text.dedup",
            lambda: self._dedup(kept).select(
                "doc_id", F.col("fixed_text").alias("text"), "lang", "source", "n_chars"),
            force=lambda df: df.write.mode("overwrite").parquet(acc_path),
        )
        accepted = spark.read.parquet(acc_path)
        vocab = T.stage(
            "text.bpe",
            lambda: train_wordpiece_vocab(
                accepted, text_col="text", n_merges=80, max_words=2000),
            force=lambda v: v,
        )
        tokenized = T.stage(
            "pipes.tokenizer",
            lambda: WordPieceTokenizer(vocab, text_col="text", add_special_tokens=False)(
                accepted)
            .select("doc_id", "source", "input_ids", "attention_mask")
            .withColumn("n_src", F.size("input_ids")),
        )
        if T.enabled:
            T.add("pipes.tokenizer.tokens_out",
                  tokenized.agg(F.sum("n_src")).collect()[0][0] or 0)
        passages = T.stage(
            "pipes.passages",
            lambda: GeneratePassages(
                token_col="input_ids",
                size=PASSAGE_SIZE,
                stride=PASSAGE_SIZE,
                field_cols=["attention_mask"],
                global_cols=["doc_id", "source", "n_src"],
                start_tokens={"input_ids": [2], "attention_mask": [1]},
            )(tokenized),
        )
        T.add("pipes.passages.passages_out", T.last_rows)
        collated = T.stage(
            "pipes.collate",
            lambda: Sequential(
                AddPrefix("document."),
                CollateField(
                    "document",
                    pad_keys=["input_ids", "attention_mask", "passage_mask"],
                    length=PASSAGE_SIZE,
                ),
                ReplaceInKeys("document.", ""),
            )(passages),
        )
        nested = T.stage(
            "pipes.nesting",
            lambda: Nest(
                "passage",
                group_cols=["doc_id", "source", "n_src"],
                order_col="passage_idx",
                out_col="passages",
            )(
                collated.select(
                    "doc_id", "source", "n_src", "passage_idx",
                    F.struct("input_ids", "attention_mask", "passage_mask").alias("passage"),
                )
            ).withColumn(
                "n_tok",
                F.aggregate(
                    "passages", F.lit(0),
                    lambda acc, p: acc + F.aggregate(p["passage_mask"], F.lit(0), lambda a, m: a + m),
                ),
            ),
        )

        def write(packed):
            nested.join(packed, ["doc_id", "source"]).write.mode("overwrite").parquet(shard["out"])
            return packed

        T.stage(
            "text.packing",
            lambda: PackSequences(
                capacity=PACK_CAPACITY, token_col="n_tok", shard_col="source", order_col="doc_id"
            )(nested).drop("n_tokens"),
            force=write,
        )
        return len(shard["corpus"].docs)

    def traced_build(self) -> float:
        return 0.0  # nothing is built before the passes

    def increments(self) -> list:
        return []  # curation takes no increments

    def _dedup(self, kept):
        groups = ExactDedup(key_col="fixed_text", id_col="doc_id")(kept)
        drop = (
            kept.join(
                groups.select(F.col("fixed_text").alias("__t"), "canonical_id"),
                kept["fixed_text"] == F.col("__t"),
            )
            .filter(F.col("doc_id") != F.col("canonical_id"))
            .select("doc_id")
        )
        unique = kept.join(drop, "doc_id", "left_anti")
        # one pass over each shard: no other operator reuses the shingle
        # table, so it is not published to the artifact cache
        pairs = MinHashDedup(
            text_col="fixed_text", id_col="doc_id", n=3, threshold=0.5,
            materialize_shingles=False,
        )(unique).select("doc_a", "doc_b")
        if self.b.t.enabled:
            pairs = pairs.persist()
            self.b.t.add("text.dedup.pairs_out", pairs.count())
        clusters = DedupClusters()(pairs)
        return (
            unique.join(clusters, "doc_id", "left")
            .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
            .filter(F.col("doc_id") == F.col("cluster_id"))
            .drop("cluster_id")
        )

    def finish(self, samples: dict) -> dict:
        """Untimed checks over what every pass wrote."""
        b = self.b
        found = total = 0
        for shard in self.shards:
            rows = pq.read_table(
                shard["out"], columns=["doc_id", "source", "n_src", "n_tok", "start_pack",
                                       "pack_offset", "end_pack", "passages"]
            ).to_pylist()
            kept = {r["doc_id"] for r in rows}
            for a, c in shard["corpus"].near_dup_pairs:
                total += 1
                found += a in kept and c not in kept
            name = shard["name"]
            b.check(f"passages_own_each_token[{name}]", *checks.passages_own_tokens(rows))
            b.check(f"packs_within_capacity[{name}]",
                    *checks.packs_within_capacity(rows, PACK_CAPACITY))
        first = pq.read_table(self.shards[0]["out"]).to_pylist()
        checks.dedup_oracles(b, b.spark, self.shards[0]["corpus"])
        recall = found / total if total else 1.0
        return {
            "recall": recall,
            "digest": digest(tuple(sorted(r.items())) for r in first),
            "report": {
                "docs_per_s": (samples["items_per_s"], "docs/s"),
                "dup_recall": (recall, "ratio"),
                "planted_pairs": (total, "count"),
                "passes": (samples["n_ops"], "count"),
            },
        }


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


class Serve:
    """Query serving over a prebuilt index. Set-up builds the index cold
    over a base corpus: ``Predict`` of the corpus vectors, BM25 postings,
    IVF training + assignment. Each timed op is then a fresh batch of
    Zipf-drawn queries, embedded by ``PredictWithoutCache``, answered by
    ``Index([Bm25Search, IvfCosineTopK], merge_strategy="rrf")`` and
    collected to the driver; no batch repeats, so the results cache is
    bypassed.

    A traced run also calls ``increments``: one increment of new
    documents plus re-crawls (the write path), timed on its own clock:
    gate -> ``IncrementalDedup`` -> ``MergeUpsert`` ->
    ``Bm25Search.append`` -> ``Predict`` (the base is a cache hit, only new
    rows miss) -> one BM25 batch that must retrieve the new documents."""

    item = "queries"
    # the query path keeps warming for several batches after set-up: a
    # fixed floor of batches times the same stretch of that curve each run
    min_ops = 4

    def __init__(self, b: Bench):
        self.b = b
        self.next_qid = 0
        self.first_batch = None
        self.first_out = None
        self.first_inc = None
        self.n_inc = 0
        self.recrawls = self.recrawls_dropped = 0

    def setup(self) -> None:
        """Start the service: generate the base corpus, clear every
        artifact cache, build the index cold and answer one untimed batch,
        so the serving path is warm when timing starts."""
        b = self.b
        self.gen = gen.Generator(b.seed)
        self.corpus = self.gen.corpus(b.size["corpus"])
        self.known = [d for d in self.corpus.docs if d.kind == "original"]
        self.corpus_path = b.path("serve", "corpus.parquet")
        write_docs(self.corpus.docs, self.corpus_path)
        b.fresh_caches()
        self.manager = CacheManager(b.path("cache", "predict"))
        self.index_build_s = self.build()
        self.op(self.next_input())

    def planted(self) -> dict:
        return measured_shares(self.corpus)

    def _predict(self, df):
        b = self.b
        return Predict(
            b.embed, self.manager, model_fingerprint=b.embed_fp, input_col="text",
            output_col="embedding", id_col="doc_id",
        )(df)

    def build(self) -> float:
        """Cold index build over the base corpus; returns its seconds."""
        b, T, spark = self.b, self.b.t, self.b.spark
        t0 = time.perf_counter()
        self.base = spark.read.parquet(self.corpus_path)
        vec_dir = b.path("serve", "vectors")
        vec_path = os.path.join(vec_dir, "embeddings.parquet")

        def vectors():
            self._predict(self.base).select(
                F.col("doc_id").alias("vec_id"), "embedding"
            ).write.mode("overwrite").parquet(vec_path)
            return spark.read.parquet(vec_path)

        sent0 = b.rows_sent.value
        self.dv = T.stage("pipes.predict", vectors)
        T.add("pipes.predict.rows_sent", b.rows_sent.value - sent0)
        T.add("pipes.predict.new_rows", len(self.corpus.docs))
        self.vec_dir = vec_dir
        self.bm25 = Bm25Search(corpus=self.base, k=TOP_K)
        self.ivf = IvfCosineTopK(
            corpus=self.dv, k=TOP_K, n_centroids=16, n_probe=4, query_id="query_id",
            query_vec="embedding", exclude_self=False,
        )
        # one query batch per engine forces the BM25 postings and the IVF
        # centroids + cell assignment: the build is done when both answer
        q = spark.createDataFrame(self.gen.query_batch(-100, 4), QUERY_SCHEMA)
        qv = PredictWithoutCache(
            b.embed, input_col="text", output_col="embedding", id_col="query_id"
        )(q)
        T.stage("search.bm25", lambda: self.bm25(q), force=lambda df: df.collect())
        T.stage("ml.similarity", lambda: self.ivf(qv), force=lambda df: df.collect())
        if T.enabled:
            T.add("search.bm25.postings_rows",
                  build_inverted_index(self.base, "doc_id", "text").count())
        self.snapshot = self.base
        self.snapshot_path = self.corpus_path
        self.engine = self.bm25
        self.snap_rows = len(self.corpus.docs)
        self.index = Index(
            corpus=self.base, engines=[self.bm25, self.ivf], k=TOP_K,
            merge_previous_results=True, merge_strategy="rrf",
        )
        return time.perf_counter() - t0

    def traced_build(self) -> float:
        """A second cold build and warm-up batch, so the traced run sees
        the build layers; returns their seconds."""
        t0 = time.perf_counter()
        self.b.fresh_caches()
        self.build()
        self.op(self.next_input())
        return time.perf_counter() - t0

    def next_input(self) -> list:
        rows = self.gen.query_batch(self.next_qid, self.b.size["batch"])
        self.next_qid += len(rows)
        return rows

    def op(self, rows: list) -> int:
        b, T, spark = self.b, self.b.t, self.b.spark
        sent0 = b.rows_sent.value
        q = spark.createDataFrame(rows, QUERY_SCHEMA)
        qv = T.stage(
            "pipes.predict",
            lambda: PredictWithoutCache(
                b.embed, input_col="text", output_col="embedding", id_col="query_id"
            )(q),
        )
        res = T.stage("search.index", lambda: self.index(qv), force=lambda df: df)
        out = T.stage("driver.collect", lambda: res.collect(), force=lambda r: r)
        T.add("pipes.predict.rows_sent", b.rows_sent.value - sent0)
        T.add("pipes.predict.new_rows", len(rows))
        if self.first_batch is None:
            self.first_batch = rows
            self.first_out = [tuple(r) for r in out]
        ids = {r[0] for r in rows}
        if not all(r["query_id"] in ids and 1 <= r["rank"] <= TOP_K for r in out):
            raise ValueError("result row outside the batch or rank range")
        return len(rows)

    def increments(self) -> list:
        """Apply one increment on its own clock (its input is written
        before the clock starts); returns its seconds as a list."""
        name = f"inc{self.n_inc}"
        self.n_inc += 1
        inc = self.gen.crawl_shard(self.b.size["increment"], RECRAWL_RATE, self.known)
        path = self.b.path("serve", f"{name}.parquet")
        write_docs(inc.docs, path)
        lat: list = []
        timed_op(self.b, lat, lambda: self._increment(name, inc, path))
        return lat

    def _increment(self, name: str, inc, path: str) -> None:
        b, T, spark = self.b, self.b.t, self.b.spark
        batch = spark.read.parquet(path)
        fixed = T.stage("text.web", lambda: FixEncoding()(batch))
        cleaned = T.stage(
            "text.analysis",
            lambda: GopherQualityFilter(text_col="fixed_text", stopwords=gen.ALL_STOPWORDS)(
                fixed).filter(F.col("keep")),
        )
        T.add("text.analysis.rows_in", len(inc.docs))
        T.add("text.analysis.rows_kept", T.last_rows)
        # accepted documents land in the corpus store: every later plan
        # (snapshot merge, index append, vectors) reads them from a file
        new_path = b.path("serve", f"{name}.new")
        T.stage(
            "text.dedup",
            lambda: IncrementalDedup(corpus=self.snapshot)(
                cleaned.select("doc_id", F.col("fixed_text").alias("text"), "lang",
                               "source", "n_chars")),
            force=lambda df: df.write.mode("overwrite").parquet(new_path),
        )
        new_docs = spark.read.parquet(new_path)
        new_ids = {r[0] for r in new_docs.select("doc_id").collect()}
        changes = new_docs.select(
            "doc_id", F.lit(self.n_inc).cast("long").alias("seq"), F.lit("I").alias("op"),
            "text", "lang", "source", "n_chars",
        )
        snap_path = b.path("serve", f"{name}.snapshot")
        T.stage(
            "pipes.cdc",
            lambda: MergeUpsert(snapshot=self.snapshot, keys=["doc_id"])(changes),
            force=lambda df: df.write.mode("overwrite").parquet(snap_path),
        )
        self.snapshot = spark.read.parquet(snap_path)
        self.snapshot_path = snap_path
        self.engine = T.stage("search.bm25", lambda: self.engine.append(new_docs),
                              force=lambda e: e)
        if T.enabled:
            T.add("search.bm25.postings_rows",
                  build_inverted_index(new_docs, "doc_id", "text").count())
        sent0 = b.rows_sent.value
        n_vec = T.stage(
            "pipes.predict",
            lambda: self._predict(self.base).select("doc_id", "embedding").unionByName(
                self._predict(new_docs).select("doc_id", "embedding")),
            force=lambda df: df.count(),
        )
        sent = b.rows_sent.value - sent0
        fresh = [d for d in inc.docs if d.doc_id in new_ids]
        T.add("pipes.predict.new_rows", len(new_ids))
        T.add("pipes.predict.rows_sent", sent)
        T.add("new_text_mb", sum(len(d.text.encode()) for d in fresh) / 1e6)
        sample = fresh[:: max(1, len(fresh) // 8)][:8]
        q = spark.createDataFrame(
            [(d.doc_id, self.gen.own_query(d)) for d in sample], QUERY_SCHEMA
        )
        got = T.stage("search.bm25", lambda: self.engine(q), force=lambda df: df.collect())
        hits = {(r["query_id"], r["idx"]) for r in got}
        if self.first_inc is None:
            self.first_inc = [*sorted(new_ids), *(tuple(r) for r in got)]
        recrawl_ids = {d.doc_id for d in inc.docs if d.kind == "recrawl"}
        self.recrawls += len(recrawl_ids)
        self.recrawls_dropped += len(recrawl_ids - new_ids)
        self.snap_rows += len(new_ids)
        problems = []
        if any((d.doc_id, d.doc_id) not in hits for d in sample):
            problems.append("an appended doc was not retrieved by its own query")
        if sent != len(new_ids):
            problems.append(f"model scored {sent} rows, {len(new_ids)} were new")
        if n_vec != len(self.corpus.docs) + len(new_ids):
            problems.append("vector count != base + new rows")
        if recrawl_ids & new_ids:
            problems.append("a re-crawl survived IncrementalDedup")
        if problems:
            raise ValueError("; ".join(problems))

    def finish(self, samples: dict) -> dict:
        b = self.b
        recall = checks.serve_oracles(self, TOP_K)
        # BM25 over the base plus the appended documents
        checks.bm25_oracle(b, self.engine, self.snapshot_path, self.first_batch, TOP_K)
        n_snap = self.snapshot.count()
        b.check("snapshot_rows", n_snap == self.snap_rows, f"{n_snap} vs {self.snap_rows}")
        report = {
            "index_build_s": (self.index_build_s, "s"),
            "queries_per_s": (samples["items_per_s"], "queries/s"),
            "batch_p50_s": (samples["batch_p50_s"], "s"),
            "batch_p90_s": (samples["batch_p90_s"], "s"),
            "query_batches": (samples["n_ops"], "count"),
            "recall_at_10": (recall, "ratio"),
        }
        inc = samples.get("increment_s")
        if inc:  # traced runs only
            report["increment_p50_s"] = (statistics.median(inc), "s")
            report["increments"] = (len(inc), "count")
            report["recrawl_recall"] = (self.recrawls_dropped / self.recrawls, "ratio")
        return {
            "recall": recall,
            "digest": digest([*self.first_out, *(self.first_inc or [])]),
            "report": report,
        }


WORKLOADS = {"curate": Curate, "serve": Serve}


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant: the JVM, the Python workers, and the reaped children of
    each."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(name)] = int(fields[1])
        cpu[int(name)] = sum(int(x) for x in fields[11:15])
    children: dict = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def host_ticks() -> tuple:
    """(steal, total) CPU ticks of this machine since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(since: tuple) -> float:
    """Share of the machine's CPU time since ``since`` (a ``host_ticks``
    value) that the hypervisor gave to other guests."""
    steal, total = host_ticks()
    return (steal - since[0]) / max(1, total - since[1])


def timed_op(b: Bench, lat: list, fn, cpu: list | None = None) -> int:
    """Run one op on its own clock, appending its seconds to ``lat``; a
    raised op counts as failed and returns no items.

    With ``cpu``, also append the op's CPU seconds over the whole process
    tree, net of host steal. On a shared host the CPU time charged to a
    process grows with the hypervisor's steal (x1.25 at 20% steal, in
    runs of this benchmark), so the stolen share is taken out."""
    b.attempted += 1
    c0, h0 = tree_cpu_s(), host_ticks()
    t0 = time.perf_counter()
    try:
        n = fn()
    except Exception as e:  # a failed op is a result, not a crash
        b.failed += 1
        b.checks.setdefault("op_errors", {"ok": False, "detail": []})["detail"].append(
            f"{type(e).__name__}: {str(e)[:200]}")
        n = 0
    lat.append(time.perf_counter() - t0)
    if cpu is not None:
        cpu.append((tree_cpu_s() - c0) * (1 - steal_share(h0)))
    return n


def run_ops(wl, seconds: float, min_ops: int) -> dict:
    """Closed loop of the workload's op: back to back until ``seconds`` of
    wall time have passed and at least ``min_ops`` ops ran. Every op is of
    one kind; at the benchmark's run length the floor, not the deadline,
    ends the loop on most runs. Input preparation is outside each op's
    clock."""
    lat: list = []
    cpu: list = []
    items = 0
    steal0 = host_ticks()
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(lat) < min_ops:
        inp = wl.next_input()
        n = timed_op(wl.b, lat, lambda: wl.op(inp), cpu)
        if n:
            cpu[-1] /= n
        else:  # a failed op has no items to charge its CPU time to
            cpu.pop()
        items += n
    busy = sum(lat)
    return {
        "n_ops": len(lat),
        "n_items": items,
        "busy_s": busy,
        "items_per_s": items / busy,
        "batch_p50_s": statistics.median(lat),
        "batch_p90_s": percentile(lat, 90),
        "latencies": lat,
        "cpu_per_item_s": cpu,
        "cpu_ms_per_item": 1e3 * statistics.median(cpu) if cpu else 0.0,
        "steal_share": steal_share(steal0),
    }
