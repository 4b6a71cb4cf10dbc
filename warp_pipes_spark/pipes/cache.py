"""Fingerprint-keyed Parquet memoization — the reference's core value prop.

Capability parity with the reference's caching chain: every dataset
transform is memoized under ``hash(input_fingerprint, pipe_fingerprint)``
(``warp_pipes/core/pipe.py:223-243``), and model vector caches are keyed by
``hash(model, output_key, dataset fingerprint)`` (``predict.py:212-221``,
``caching.py:144-157``). HF datasets gives the reference this for free;
Spark has no content-addressed cross-session cache, so this module is the
custom piece: a driver-side manager mapping fingerprints to Parquet paths.

Publishing is synchronous and has one path, :meth:`CacheManager.store`:
the call that computes an artifact writes it to a staging dir, renames
it into place and returns the published Parquet. No background thread
is started. A publish that fails (full disk, bad permissions) is logged
and costs a recompute on the next call, never an error. Loads go
through ``io.read_parquet``'s per-session memo, keyed on the artifact's
snapshot token, so a republished artifact is never served stale.

Completeness: the reference validates its zarr store by scanning for
all-zero chunks (``caching.py:237-260``); Parquet writes are atomic at the
job level (output committer), so existence of ``_SUCCESS`` is the
completeness check — no data scan needed.
"""

from __future__ import annotations

import json
import logging
import os
import time
from typing import Callable, Optional

logger = logging.getLogger(__name__)

from pyspark.sql import DataFrame, SparkSession

from warp_pipes_spark.core.fingerprint import (
    combine_fingerprints,
    fingerprint_dataframe,
)
from warp_pipes_spark.core.pipe import Pipe
from warp_pipes_spark.io import read_parquet


def clear_all_artifact_caches() -> None:
    """Wipe EVERY on-disk engine artifact cache (index postings, vector
    codebooks, shingle tables, results cache) so the next run rebuilds
    everything from its parquet inputs.

    Measurement honesty: the index-once-query-many caches are a real
    production design (an index outliving one driver is the point), but a
    TIMED bench/soak run must not inherit a previous invocation's
    artifacts — ``bench.py`` and the soak harness call this first so every
    timed invocation is cold-start self-contained: index builds are paid
    inside the run they benefit."""
    import glob
    import shutil
    import tempfile

    for d in glob.glob(
        os.path.join(tempfile.gettempdir(), "warp_pipes_spark_*")
    ):
        shutil.rmtree(d, ignore_errors=True)
    for env in (
        "WPS_RESULTS_CACHE_DIR",
        "WPS_TRIGRAM_CACHE_DIR",
        "WPS_PHRASE_CACHE_DIR",
        "WPS_BOOL_CACHE_DIR",
    ):
        d = os.environ.get(env)
        if d:
            shutil.rmtree(d, ignore_errors=True)


class CacheManager:
    """Content-addressed Parquet cache: ``cache_dir/<fingerprint>/``.

    ``store`` is ATOMIC at the directory level: the dataset is written to a
    private staging dir and published with one ``os.rename``, so a
    concurrent reader either sees the complete published artifact (with
    ``_SUCCESS``) or nothing — never a half-written cache entry. If two
    writers race, the loser keeps the winner's (content-identical)
    artifact and discards its own staging dir."""

    def __init__(self, cache_dir: str):
        self.cache_dir = os.path.abspath(cache_dir)
        os.makedirs(self.cache_dir, exist_ok=True)

    def path_for(self, fingerprint: str) -> str:
        return os.path.join(self.cache_dir, fingerprint)

    def exists(self, fingerprint: str) -> bool:
        return os.path.exists(os.path.join(self.path_for(fingerprint), "_SUCCESS"))

    def load(self, spark: SparkSession, fingerprint: str) -> DataFrame:
        return read_parquet(spark, self.path_for(fingerprint))

    def update_meta(self, fingerprint: str, extra: dict) -> None:
        """Merge scalar fields into a published artifact's sidecar meta.
        Used to lazily memoize index-intrinsic statistics (e.g. total
        posting count) computed by the first query batch, so every later
        batch skips that probe job. Last-writer-wins on the tiny JSON is
        safe: all writers compute the same values from the same artifact."""
        path = os.path.join(self.path_for(fingerprint), "_wps_meta.json")
        try:
            meta = self.read_meta(fingerprint)
            meta.update(extra)
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, path)
        except OSError:
            pass

    def read_meta(self, fingerprint: str) -> dict:
        """Driver-side sidecar metadata written by ``store`` — scalar
        index statistics live here so warm query paths read a tiny local
        JSON instead of running a Spark probe job."""
        try:
            with open(
                os.path.join(self.path_for(fingerprint), "_wps_meta.json")
            ) as f:
                return json.load(f)
        except Exception:
            return {}

    def store(self, df: DataFrame, fingerprint: str, meta: Optional[dict] = None) -> DataFrame:
        """Publish ``df`` under ``fingerprint`` and return the published
        artifact. A failed publish returns ``df`` itself, unpublished: the
        cache is a memo, not the result, so the next call recomputes."""
        import shutil
        import uuid

        path = self.path_for(fingerprint)
        staging = f"{path}.staging-{uuid.uuid4().hex}"
        try:
            df.write.mode("overwrite").parquet(staging)
            with open(os.path.join(staging, "_wps_meta.json"), "w") as f:
                json.dump({"fingerprint": fingerprint, "written_at": time.time(), **(meta or {})}, f)
            os.rename(staging, path)  # atomic publish
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)
            if not self.exists(fingerprint):
                logger.warning(
                    "cache publish failed for %s (artifact will be rebuilt "
                    "on next use)",
                    fingerprint,
                    exc_info=True,
                )
                return df
            # a concurrent writer published first: same fingerprint = same
            # content — use theirs, drop ours
        return self.load(df.sparkSession, fingerprint)

    def get_or_compute(
        self,
        spark: SparkSession,
        fingerprint: str,
        compute: Callable[[], DataFrame],
        meta: Optional[dict] = None,
    ) -> DataFrame:
        if self.exists(fingerprint):
            return self.load(spark, fingerprint)
        return self.store(compute(), fingerprint, meta)

    # staging dirs younger than this may belong to a LIVE writer (it
    # publishes via a single rename only once the write completes); both
    # retention paths leave them alone and reclaim older leftovers
    STAGING_GRACE_SECONDS = 900.0

    def _scan_entries(self, staging_horizon: float):
        """Shared retention walk: sweeps abandoned staging dirs older
        than ``staging_horizon`` and yields (written_at, name, path) for
        every published entry. Returns (entries, swept_names)."""
        import shutil

        now = time.time()
        entries, swept = [], []
        for name in sorted(os.listdir(self.cache_dir)):
            path = os.path.join(self.cache_dir, name)
            if not os.path.isdir(path):
                continue
            if ".staging-" in name:
                if now - os.path.getmtime(path) > staging_horizon:
                    shutil.rmtree(path, ignore_errors=True)
                    swept.append(name)
                continue
            try:
                with open(os.path.join(path, "_wps_meta.json")) as f:
                    written = json.load(f).get("written_at", 0)
            except (OSError, ValueError):
                written = os.path.getmtime(path)
            entries.append((written, name, path))
        return entries, swept

    def vacuum(self, max_age_seconds: float) -> list:
        """Delete published entries whose ``written_at`` is older than
        ``max_age_seconds`` (content-addressed caches never go stale, but
        superseded fingerprints — old corpus snapshots, retired configs —
        accumulate forever without retention). Also sweeps orphaned
        staging dirs from crashed writers (same age horizon). Returns the
        deleted entry names."""
        import shutil

        now = time.time()
        entries, deleted = self._scan_entries(staging_horizon=max_age_seconds)
        for written, name, path in entries:
            if now - written > max_age_seconds:
                shutil.rmtree(path, ignore_errors=True)
                deleted.append(name)
        return sorted(deleted)

    def vacuum_bytes(self, max_total_bytes: int) -> list:
        """Size-based retention: delete the OLDEST published entries
        (by ``written_at``) until the cache's total on-disk size fits
        within ``max_total_bytes``. Complements the age-based ``vacuum``
        for deployments whose artifact cache lives on a bounded volume:
        age alone can't stop a hot cache from filling the disk. Abandoned
        staging dirs (past ``STAGING_GRACE_SECONDS``) are swept first.
        Returns the deleted entry names, oldest first."""
        import shutil

        def _dir_bytes(path: str) -> int:
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
            return total

        entries, deleted = self._scan_entries(
            staging_horizon=self.STAGING_GRACE_SECONDS
        )
        sized = [(w, name, path, _dir_bytes(path)) for w, name, path in entries]
        total = sum(size for _, _, _, size in sized)
        for written, name, path, size in sorted(sized):
            if total <= max_total_bytes:
                break
            shutil.rmtree(path, ignore_errors=True)
            deleted.append(name)
            total -= size
        return deleted


class CachedPipe(Pipe):
    """Wrap any pipe with fingerprint memoization: the output of
    ``pipe(df)`` is written once under ``hash(input_fp, pipe_fp)`` and
    served from Parquet afterwards — idempotent re-runs hit the cache
    (mirrors ``Pipe._call_dataset``'s new_fingerprint machinery).

    ``input_fingerprint``: pass the source snapshot fingerprint
    (``fingerprint_path(dir)``) when known; defaults to
    ``fingerprint_dataframe`` (canonicalized plan + source file stats —
    cross-session stable for file-backed inputs)."""

    def __init__(self, pipe: Pipe, manager: CacheManager, input_fingerprint: Optional[str] = None, **kwargs):
        super().__init__(**kwargs)
        self.pipe = pipe
        self.manager = manager
        self.input_fingerprint = input_fingerprint

    _no_fingerprint = ("manager",)

    def _transform(self, df: DataFrame, **kwargs) -> DataFrame:
        input_fp = self.input_fingerprint or fingerprint_dataframe(df)
        fp = combine_fingerprints(input_fp, self.pipe.fingerprint)
        return self.manager.get_or_compute(
            df.sparkSession,
            fp,
            lambda: self.pipe.transform(df, **kwargs),
            meta={"pipe": type(self.pipe).__name__},
        )

    def to_json_struct(self) -> dict:
        return {"__pipe__": "CachedPipe", "pipe": self.pipe.to_json_struct()}
