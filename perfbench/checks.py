"""Untimed output checks for the workload benchmark.

Each check is one op in the run's ledger; a mismatch is a failed op. The
oracle checks replay a sampled slice through the repository's DuckDB
oracles (``bm25_oracle_sql``, ``ivf_topk_sql``, ``minhash_dedup_sql``,
``dedup_clusters_sql``) and require identical rows; the invariant checks
read what the timed ops wrote.
"""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb
from pyspark.sql import functions as F

from warp_pipes_spark.ml.similarity import BruteForceCosineTopK, IvfCosineTopK, ivf_topk_sql
from warp_pipes_spark.pipes.predict import PredictWithoutCache
from warp_pipes_spark.search.bm25 import bm25_oracle_sql
from warp_pipes_spark.text.dedup import (
    DedupClusters,
    MinHashDedup,
    dedup_clusters_sql,
    minhash_dedup_sql,
)

import gen

DEDUP_SLICE = 30
RECALL_QUERIES = 64


def passages_own_tokens(rows: list) -> tuple:
    """Every source token is owned by exactly one passage: per document,
    the ownership masks of its passages add up to its token count."""
    bad = [
        r["doc_id"]
        for r in rows
        if sum(sum(p["passage_mask"]) for p in r["passages"]) != r["n_src"]
        or r["n_tok"] != r["n_src"]
    ]
    return not bad, f"{len(bad)} of {len(rows)} documents mis-owned"


def packs_within_capacity(rows: list, capacity: int) -> tuple:
    """Replay the packing per shard in ``doc_id`` order: every document
    starts where the previous one ended, and no pack holds more than
    ``capacity`` tokens."""
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r["source"]].append(r)
    problems = 0
    for docs in by_shard.values():
        pos = 0
        fill = defaultdict(int)
        for r in sorted(docs, key=lambda r: r["doc_id"]):
            n = r["n_tok"]
            if r["start_pack"] * capacity + r["pack_offset"] != pos or not (
                0 <= r["pack_offset"] < capacity
            ):
                problems += 1
            if n > 0 and r["end_pack"] != (pos + n - 1) // capacity:
                problems += 1
            p = pos
            while p < pos + n:
                take = min(capacity - p % capacity, pos + n - p)
                fill[p // capacity] += take
                p += take
            pos += n
        problems += sum(v > capacity for v in fill.values())
    return problems == 0, f"{problems} packing violations"


def _rows(df, cols: list) -> list:
    return sorted(
        tuple(round(float(v), 6) if isinstance(v, float) or hasattr(v, "as_tuple") else v
              for v in (r[c] for c in cols))
        for r in df.collect()
    )


def _sql_rows(con, sql: str) -> list:
    return sorted(
        tuple(round(float(v), 6) if isinstance(v, float) else v for v in row)
        for row in con.execute(sql).fetchall()
    )


def dedup_oracles(b, spark, corpus) -> None:
    """MinHash pairs (md5 family) and their clusters on a slice of a
    curate shard, against ``minhash_dedup_sql`` / ``dedup_clusters_sql``."""
    from workloads import write_docs

    # planted pairs first, so a small slice still holds many true pairs
    # (the oracle's cost grows faster than the slice)
    by_id = {d.doc_id: d for d in corpus.docs}
    ids = [i for pair in corpus.near_dup_pairs for i in pair]
    ids += [d.doc_id for d in corpus.docs]
    picked = list(dict.fromkeys(ids))[:DEDUP_SLICE]
    docs = sorted((by_id[i] for i in picked), key=lambda d: d.doc_id)
    path = b.path("check", "dedup_slice.parquet")
    write_docs(docs, path)
    df = spark.read.parquet(path)
    pairs = MinHashDedup(
        text_col="text", id_col="doc_id", n=3, threshold=0.5, hash_family="md5",
        materialize_shingles=False,
    )(df).select("doc_a", "doc_b").persist()
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW slice_docs AS SELECT * FROM read_parquet('{path}')")
        sql = minhash_dedup_sql(table="slice_docs", text="text", id_col="doc_id", n=3, threshold=0.5)
        # materialized once: the recursive cluster CTE would re-run it
        con.execute(f"CREATE TABLE oracle_pairs AS {sql}")
        want = _sql_rows(con, "SELECT doc_a, doc_b FROM oracle_pairs")
        got = _rows(pairs, ["doc_a", "doc_b"])
        b.check("minhash_dedup_vs_duckdb", got == want, f"{len(got)} vs {len(want)} pairs")
        want = _sql_rows(con, dedup_clusters_sql("SELECT doc_a, doc_b FROM oracle_pairs"))
        got = _rows(DedupClusters()(pairs), ["doc_id", "cluster_id"])
        b.check("dedup_clusters_vs_duckdb", got == want, f"{len(got)} vs {len(want)} rows")
    pairs.unpersist()


def bm25_oracle(b, engine, corpus_path: str, rows: list, k: int) -> None:
    """A served query batch through ``engine`` against ``bm25_oracle_sql``
    over the corpus file the engine indexes."""
    spark = b.spark
    values = ", ".join(f"({qid}, '{text}')" for qid, text in rows)
    queries = f"SELECT * FROM (VALUES {values}) t(query_id, qtext)"
    if os.path.isdir(corpus_path):  # a Spark-written table directory
        corpus_path = os.path.join(corpus_path, "*.parquet")
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW corpus AS SELECT * FROM read_parquet('{corpus_path}')")
        want = _sql_rows(con, bm25_oracle_sql("corpus", queries, k=k))
    q = spark.createDataFrame(rows, "query_id long, text string")
    got = _rows(engine(q), ["query_id", "rank", "idx", "score"])
    b.check("bm25_vs_duckdb", got == want, f"{len(got)} vs {len(want)} rows")


def serve_oracles(serve, k: int) -> float:
    """IVF on a corpus slice against its DuckDB oracle; returns IVF
    recall@k against brute force on a fixed query sample."""
    b = serve.b
    spark = b.spark
    ivf = IvfCosineTopK(corpus=serve.dv, k=k, n_centroids=16, n_probe=4)
    got = _rows(
        ivf(serve.dv.filter(F.col("vec_id") % 50 == 0)),
        ["query_id", "rank", "neighbor_id", "score"],
    )
    with duckdb.connect() as con:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{serve.vec_dir}/embeddings.parquet/*.parquet')"
        )
        want = _sql_rows(
            con,
            ivf_topk_sql(serve.vec_dir, k=k, n_centroids=16, n_probe=4,
                         queries_where="vec_id % 50 = 0"),
        )
    b.check("ivf_vs_duckdb", got == want, f"{len(got)} vs {len(want)} rows")

    sample = gen.Generator(b.seed + 1).query_batch(0, RECALL_QUERIES)
    qv = PredictWithoutCache(
        b.embed, input_col="text", output_col="embedding", id_col="query_id"
    )(spark.createDataFrame(sample, "query_id long, text string")).persist()
    exact = BruteForceCosineTopK(
        corpus=serve.dv, k=k, query_id="query_id", query_vec="embedding",
        corpus_id="vec_id", corpus_vec="embedding", exclude_self=False,
    )
    truth = defaultdict(set)
    for r in exact(qv).collect():
        truth[r["query_id"]].add(r["neighbor_id"])
    approx = defaultdict(set)
    for r in serve.ivf(qv).select("query_id", "neighbor_id").collect():
        approx[r["query_id"]].add(r["neighbor_id"])
    qv.unpersist()
    hit = sum(len(truth[q] & approx[q]) for q in truth)
    total = sum(len(v) for v in truth.values())
    return hit / total if total else 1.0

