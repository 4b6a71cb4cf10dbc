"""Deterministic content fingerprinting.

Capability parity with the reference's fingerprint support
(``warp_pipes/support/fingerprint.py:19-87`` and
``warp_pipes/core/fingerprintable.py:32-260``): every operator, config and
dataset gets a stable hash so transformed outputs can be memoized and reused
across runs. The reference hashes via HF ``datasets.fingerprint.Hasher`` /
xxhash over pickled state; we hash a *stable JSON rendering* of plain-Python
config trees with blake2b (stdlib, no extra deps) — same capability,
different machinery.

Design notes for scale: fingerprints are computed driver-side over tiny
config structures (never over data). Dataset fingerprints hash file-level
metadata (path, size, mtime_ns) rather than content, so fingerprinting a
100 TB input is O(#files) metadata calls, not an O(data) scan.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
from typing import Any

FINGERPRINT_BYTES = 8  # 16 hex chars, same display width as the reference


def _stable_json(obj: Any) -> Any:
    """Render an arbitrary config tree into a JSON-serializable structure
    deterministically (dicts sorted, sets ordered, callables by source)."""
    if obj is None or isinstance(obj, (bool, int, float, str)):
        return obj
    if isinstance(obj, bytes):
        return {"__bytes__": hashlib.blake2b(obj, digest_size=8).hexdigest()}
    if isinstance(obj, dict):
        return {str(k): _stable_json(v) for k, v in sorted(obj.items(), key=lambda kv: str(kv[0]))}
    if isinstance(obj, (list, tuple)):
        return [_stable_json(x) for x in obj]
    if isinstance(obj, (set, frozenset)):
        return sorted(_stable_json(x) for x in obj)
    # Fingerprintable objects (e.g. Pipe) expose their own struct
    to_struct = getattr(obj, "to_json_struct", None)
    if callable(to_struct):
        return to_struct()
    if callable(obj):
        # hash callables by qualified name + source text when available so
        # editing a lambda changes the fingerprint (cache invalidation)
        name = getattr(obj, "__qualname__", repr(obj))
        try:
            src = inspect.getsource(obj)
        except (OSError, TypeError):
            src = ""
        return {"__callable__": name, "__src__": src}
    return {"__repr__": repr(obj)}


def fingerprint_struct(obj: Any) -> str:
    """Hash any JSON-able config tree to a 16-hex-char fingerprint."""
    payload = json.dumps(_stable_json(obj), sort_keys=True, ensure_ascii=False)
    return hashlib.blake2b(payload.encode("utf-8"), digest_size=FINGERPRINT_BYTES).hexdigest()


def get_fingerprint(obj: Any) -> str:
    """Fingerprint an arbitrary object (config, pipe, path...)."""
    fp = getattr(obj, "fingerprint", None)
    if isinstance(fp, str):
        return fp
    return fingerprint_struct(obj)


def snapshot_token(path: str):
    """Which snapshot of ``path`` is on disk: a sorted tuple of the data
    files' ``(relative name, size, st_mtime_ns)``. Names starting with
    ``_`` or ``.`` (``_SUCCESS``, ``_wps_meta.json``, ``.crc`` sidecars)
    are skipped at every level, as Spark's file readers skip them, so
    rewriting such a sidecar keys nothing new while any rewrite of a part
    file does, even within one second. O(#files) ``os.stat`` calls, never
    a data scan. None when ``path`` is not a local file or directory (or
    vanishes mid-walk): callers then neither memoize nor trust a key."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
        if not os.path.isdir(path):
            return None
        entries = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(root, f))
                rel = os.path.relpath(os.path.join(root, f), path)
                entries.append((rel, st.st_size, st.st_mtime_ns))
        return tuple(sorted(entries))
    except OSError:
        return None


def fingerprint_path(path: str) -> str:
    """Cheap stable snapshot hash of an on-disk dataset (its
    :func:`snapshot_token`). Replaces the reference's HF dataset
    `_fingerprint` for Parquet inputs; O(#files), never scans data."""
    token = snapshot_token(path)
    if token is None:
        token = [("__missing__", path, 0)]
    return fingerprint_struct(token)


import weakref

# DataFrame-object -> fingerprint memo. Computing the fingerprint costs a
# full analyzed-plan toString through py4j plus an inputFiles listing and
# an os.stat sweep (~50-150 ms driver-side); index-backed engines call it
# 4-6x while CONSTRUCTING one query (index fp, tokenization fp, seed fp,
# stats fp ...), always on the same DataFrame object. A DataFrame's plan
# is immutable, so per-object memoization is exact; keyed weakly so the
# memo never pins a plan alive. Source files changing on disk under an
# ALIVE DataFrame object would be stale — but a source rewrite always goes
# through a fresh read (new object) in this engine.
_df_fp_memo: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def fingerprint_dataframe(df: Any) -> str:
    try:
        memo = _df_fp_memo.get(df)
    except TypeError:  # non-weakref-able stand-in (tests)
        memo = None
    if memo is not None:
        return memo
    out = _fingerprint_dataframe_uncached(df)
    try:
        _df_fp_memo[df] = out
    except TypeError:
        pass
    return out


def _fingerprint_dataframe_uncached(df: Any) -> str:
    """Cross-session-stable fingerprint of a DataFrame's *contents as
    declared by its plan*: the canonicalized analyzed-plan string (exprIds
    stripped — they are session-assigned) plus per-file (path, size,
    mtime_ns) stats of the plan's inputs (an overwritten source changes
    the key, even within one second). ``DataFrame.semanticHash()`` is NOT
    stable across JVMs (observed: same read, different hash), so it is used
    only for in-memory relations, which cannot outlive the session anyway.

    Two session-assigned counters are scrubbed from the plan text:
    ``#<exprId>`` attribute ids, and higher-order-function lambda variable
    names (``lambda x_<n>#<id>`` — PySpark numbers lambda args with a
    session-GLOBAL counter, so the same ``F.transform`` call renders as
    ``x_1`` in a fresh session and ``x_417`` after other queries ran;
    without scrubbing, every fingerprint over a lambda-bearing plan misses
    its own cross-session cache and rebuilds the artifact)."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        import re

        canon = re.sub(r"#\d+L?", "#", plan)
        canon = re.sub(r"(lambda [A-Za-z]+)_\d+", r"\1_", canon)
    except Exception:  # Spark Connect or API change: session-scoped fallback
        canon = None
    files = sorted(df.inputFiles())
    stats = []
    for f in files:
        local = f[len("file://"):] if f.startswith("file://") else f
        try:
            st = os.stat(local)
            stats.append((f, st.st_size, st.st_mtime_ns))
        except OSError:  # non-local FS: the name alone still keys rewrites
            stats.append((f, -1, -1))
    struct: dict = {"plan": canon, "files": stats}
    if not files or canon is None:
        # in-memory relation (plan strings may truncate local data): fall
        # back to the plan-identity hash, valid within this session only.
        # semanticHash is salted with the session's applicationId because
        # Parquet artifact caches OUTLIVE the session while the hash is
        # only session-unique (LogicalRDD hashes by RDD id, which restarts
        # per JVM) — without the salt a later session can COLLIDE with a
        # different in-memory corpus and silently serve a stale index
        # (observed round 8: a 4-doc test corpus served a 1-doc corpus's
        # cached trigram posting).
        try:
            app_id = df.sparkSession.sparkContext.applicationId
        except Exception:  # Spark Connect: no sparkContext on the client
            app_id = None
        struct["semantic"] = [df.semanticHash(), app_id]
    return fingerprint_struct(struct)


def combine_fingerprints(*fps: str) -> str:
    """Chain fingerprints: hash(input_fp, pipe_fp) keys the memoized output,
    mirroring the reference's new-fingerprint computation for dataset maps."""
    return fingerprint_struct(list(fps))
