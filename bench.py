#!/usr/bin/env python
"""Benchmark harness: runs the full query catalog at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
SHORT JSON line with the headline totals, last on standard output:
{"metric": ..., "value": total_sec, "unit": "sec", "value_r01_subset": ...,
"sf": ..., "n_queries": ...}. Before it comes one compact per-query line,
{"per_query_ds": {name: deciseconds}}; the full per-query timing map
(seconds, plus any failures) is written to BENCH_DETAIL.json next to this
file.

Each query is timed to FULL materialization through Spark's no-op batch
sink (df.write.format("noop")): every output column is computed and
consumed, nothing is serialized to the driver or disk. A bare .count()
(rounds 1-6a) is NOT a faithful forcing — Catalyst prunes columns and
eliminates cardinality-preserving joins under it, so a query whose row
count is derivable without its expensive branch times near-zero (measured:
q151 count 2.0 s vs real 104 s at the 10x soak). Times include Catalyst
planning + execution but not JVM startup; the round-1 baseline subset was
count()-forced, so subset comparisons across that boundary are
conservative (noop can only be slower)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from warp_pipes_spark.queries import QUERIES
from warp_pipes_spark.session import get_spark

import re

# q01..q53 — the query set BENCH_r01.json (the operative baseline) timed
_R01_PAT = re.compile(r"^q(0[1-9]|[1-4][0-9]|5[0-3])_")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(app_name="warp-pipes-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # wipe EVERY on-disk artifact cache (retrieval results, index
    # postings, vector codebooks, shingle tables) so this invocation
    # computes everything from the parquet inputs: the first payer of
    # each index/ranking is a true cold build and within-run reuse is
    # exactly what a production panel would see. Clearing only the
    # results cache (rounds 6-7) left the index caches warm across
    # invocations — a second bench run never paid the posting builds.
    from warp_pipes_spark.pipes.cache import clear_all_artifact_caches

    clear_all_artifact_caches()

    # warm up the JVM + parquet footers with a trivial action, and spin up
    # the Python worker pool once (pandas/numpy import + Arrow channel) so
    # the first pandas-UDF query is charged for its work, not for
    # interpreter startup — on a real cluster the pool outlives any query
    spark.range(1).count()
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def _warm(x):
        return x

    _warm.__annotations__ = {"x": pd.Series, "return": pd.Series}
    spark.range(64).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))).select(
        pandas_udf(_warm, "double")(F.col("id").cast("double"))
    ).count()

    # optional subset filter (comma-separated names or a regex), e.g. the
    # sf1 soak runs only the most expensive families
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    items = QUERIES.items()
    if only:
        if "," in only or only in QUERIES:
            names = {n.strip() for n in only.split(",")}
            items = [(n, s) for n, s in items if n in names]
        else:
            pat = re.compile(only)
            items = [(n, s) for n, s in items if pat.search(n)]

    timings = {}
    failures = {}
    for qi, (name, spec) in enumerate(items):
        if qi and qi % 15 == 0:
            # nudge the JVM so ContextCleaner promptly drops the previous
            # queries' shuffle files / broadcasts (cleanup is weak-ref
            # driven; without GC pressure a long catalog run accumulates
            # state that inflates late-query timings)
            spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        try:
            df = spec.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 4)
        except Exception as exc:  # noqa: BLE001
            failures[name] = f"{type(exc).__name__}: {exc}"
        finally:
            # operators persist intermediates (postings, shingle tables);
            # release them between queries so later timings aren't skewed by
            # accumulated storage-memory pressure
            spark.catalog.clearCache()
    total = round(sum(timings.values()), 4)
    # the round-1 baseline (BENCH_r01.json) covered q01-q53; the catalog has
    # since doubled, so the raw total is not comparable round-over-round.
    # Emit the same-53-query subtotal for an apples-to-apples reading.
    r01_subset = round(
        sum(t for name, t in timings.items() if _R01_PAT.match(name)), 4
    )
    out = {
        "metric": "catalog_total_wall",
        "value": total,
        "unit": "sec",
        "value_r01_subset": r01_subset,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(timings),
    }
    if failures:
        out["n_failures"] = len(failures)
    # the full per-query map is too big for the driver's bounded stdout tail
    # capture (it truncated BENCH_r02/r03); park it in a sidecar file instead
    detail = dict(out)
    detail["queries"] = timings
    if failures:
        detail["failures"] = failures
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    # one compact per-query line (integer deciseconds) so a scale run can
    # be read per query from stdout alone
    print(json.dumps(
        {"per_query_ds": {n: round(t * 10) for n, t in timings.items()}},
        separators=(",", ":"),
    ))
    # the short totals line goes LAST on stdout so a tail capture keeps it
    print(json.dumps(out))


if __name__ == "__main__":
    main()
