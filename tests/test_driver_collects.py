"""Every driver-side collect in the query paths states its bound.

A ``.collect()``, ``.toArrow()`` or ``.toPandas()`` brings a frame to the
driver; in ``search/``, ``ml/`` and ``text/`` each such call site must be
listed below with the reason its row count is bounded. A new site, or a
second site in a listed function, fails until it is listed; a listed site
that is gone fails until its entry is removed."""

import ast
import collections
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "warp_pipes_spark"
SCANNED = ("search", "ml", "text")
DRIVER_CALLS = ("collect", "toArrow", "toPandas")

# (file, enclosing function, call) -> (number of sites, why it is bounded)
ALLOWED = {
    ("search/bm25.py", "Bm25Search._corpus_stats", "collect"):
        (1, "one row: a global aggregate of the postings"),
    ("search/bm25.py", "Bm25Search._n_postings.probe", "collect"):
        (1, "one row: sum(df)"),
    ("search/bm25.py", "Bm25Search._fan_est", "collect"):
        (1, "one row: the join probe's sum (term rows go through io.BoundedCollect)"),
    ("search/bm25.py", "Bm25Search._local_terms", "collect"):
        (1, "a projection of a local batch: at most Index._LOCAL_MAX_ROWS rows, no job"),
    ("search/bm25.py", "Bm25FSearch._corpus_stats", "collect"):
        (2, "one row per corpus field, and one global row"),
    ("search/boolean.py", "BooleanSearch._transform", "collect"):
        (1, "one row: the batch's plan guards"),
    ("search/index.py", "Index._transform", "collect"):
        (1, "|Q| x k rows, only when batch rows x k <= BoundedCollect.MAX_ROWS"),
    ("search/phrase.py", "PhraseSearch._transform", "collect"):
        (1, "one row: the batch's probe counts"),
    ("search/trigram.py", "TrigramSubstringSearch._transform", "collect"):
        (1, "one row: the batch's plan guards"),
    ("search/trigram.py", "TrigramSimilaritySearch._transform", "collect"):
        (1, "one row: the batch's plan guards"),
    ("ml/kmeans.py", "LloydKMeans._recenter", "collect"):
        (1, "k rows: one per cell"),
    ("ml/kmeans.py", "LloydKMeans._transform", "collect"):
        (1, "k rows: limit(k)"),
    ("ml/quantize.py", "ScalarQuantizer.fit", "collect"):
        (1, "one row: per-dimension min and max"),
    ("ml/quantize.py", "ProductQuantizer.fit", "toPandas"):
        (1, "train_sample rows: limit(train_sample)"),
    ("ml/quantize.py", "PqCosineTopK._index", "collect"):
        (1, "m x k codebook rows"),
    ("ml/similarity.py", "IvfCosineTopK._centroids.build", "collect"):
        (1, "n_centroids rows"),
    ("ml/similarity.py", "IvfCosineTopK._train_centroids", "collect"):
        (1, "train_sample rows: limit(train_sample)"),
    ("ml/similarity.py", "IvfCosineTopK._driver_topk", "collect"):
        (1, "a projection of a local batch: at most Index._LOCAL_MAX_ROWS rows, no job"),
    ("ml/similarity.py", "IvfCosineTopK._local_probes", "collect"):
        (1, "a projection of a local batch: at most Index._LOCAL_MAX_ROWS rows, no job"),
    ("ml/sketches.py", "merge_histogram_counts", "collect"):
        (1, "at most 5 rows: limit(5)"),
    ("text/bpe.py", "train_bpe", "collect"):
        (1, "max_words rows: limit(max_words)"),
    ("text/bpe.py", "train_wordpiece_vocab", "collect"):
        (1, "max_words rows: limit(max_words)"),
    ("text/dedup.py", "DedupClusters._transform", "collect"):
        (2, "one row each: the sum of the labels"),
}


def _driver_call_sites() -> collections.Counter:
    sites: collections.Counter = collections.Counter()
    for sub in SCANNED:
        for path in sorted((PACKAGE / sub).rglob("*.py")):
            rel = path.relative_to(PACKAGE).as_posix()
            scope: list = []

            def visit(node):
                named = isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
                if named:
                    scope.append(node.name)
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in DRIVER_CALLS
                ):
                    sites[(rel, ".".join(scope), node.func.attr)] += 1
                for child in ast.iter_child_nodes(node):
                    visit(child)
                if named:
                    scope.pop()

            visit(ast.parse(path.read_text()))
    return sites


def test_driver_collect_sites_are_bounded():
    sites = _driver_call_sites()
    unlisted = {k: n for k, n in sites.items() if n != ALLOWED.get(k, (0,))[0]}
    assert not unlisted, (
        "driver-side collect sites not on the allowlist (or a listed count "
        f"changed); state each one's bound in ALLOWED: {unlisted}"
    )
    gone = sorted(set(ALLOWED) - set(sites))
    assert not gone, f"allowlisted collect sites no longer exist: {gone}"
    assert all(reason for _n, reason in ALLOWED.values())
