"""In-memory span tracing for the workload benchmark's traced runs.

A span is opened around each call the benchmark makes into a layer of
``warp_pipes_spark`` and is named after that layer's module (``text.dedup``,
``search.bm25`` ...). Spans nest per thread: a ``core.fingerprint`` or
``pipes.cache`` span opened by the timing wrappers inside a ``search.bm25``
call on the same thread is that span's child, so every span's self time
excludes the work its children did. A wrapper span opened on another
thread (a write-behind cache publish) is detached: it runs concurrently
with its spawner, so it is not subtracted from the spawner's self time,
but its jobs, shuffle and spill are charged to the stage whose job group
the thread inherited.

Each stage span runs under its own Spark job group; after the session
stops, the Spark event log is parsed and every job, task time, shuffle byte
and spilled byte is attributed to the span whose group launched it.
Everything stays in memory until ``metrics`` is called at the end.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict

# layers whose calls the benchmark wraps as stages, each timed as
# construct (the Pipe call) + exec (forcing its output)
STAGE_LAYERS = (
    "text.web",
    "text.analysis",
    "text.dedup",
    "text.bpe",
    "pipes.tokenizer",
    "pipes.passages",
    "pipes.nesting",
    "pipes.collate",
    "text.packing",
    "pipes.predict",
    "search.bm25",
    "ml.similarity",
    "search.index",
    "driver.collect",
    "pipes.cdc",
)
STAGE_STATS = (
    ("construct_s", "s"),
    ("exec_s", "s"),
    ("self_s", "s"),
    ("jobs", "count"),
    ("core_util", "ratio"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
)
# per-layer counters beyond the stage stats: (name, unit)
EXTRA_METRICS = (
    ("core.fingerprint.calls", "count"),
    ("core.fingerprint.seconds", "s"),
    ("pipes.cache.exists_calls", "count"),
    ("pipes.cache.load_calls", "count"),
    ("pipes.cache.store_calls", "count"),
    ("pipes.cache.seconds", "s"),
    ("pipes.cache.hit_ratio", "ratio"),
    ("pipes.cache.mb_written", "MB"),
    ("pipes.cache.mb_written_per_new_text_mb", "ratio"),
    ("text.analysis.keep_ratio", "ratio"),
    ("text.dedup.pairs_out", "count"),
    ("pipes.tokenizer.tokens_out", "count"),
    ("pipes.passages.passages_out", "count"),
    ("pipes.predict.rows_sent", "count"),
    ("pipes.predict.new_row_ratio", "ratio"),
    ("search.bm25.postings_rows", "count"),
    ("trace.overhead_ratio", "ratio"),
    ("trace.uncovered_s", "s"),
    ("trace.uncovered_share", "ratio"),
)


def per_layer_metric_units() -> dict:
    """Every per-layer metric name -> unit, in report order."""
    out = {}
    for layer in STAGE_LAYERS:
        for stat, unit in STAGE_STATS:
            out[f"{layer}.{stat}"] = unit
    out.update(dict(EXTRA_METRICS))
    return out


class Span:
    __slots__ = ("name", "group", "parent", "detached", "start", "end", "construct_s",
                 "exec_s", "children")

    def __init__(self, name, group, parent, detached, start):
        self.name = name
        self.group = group
        self.parent = parent  # the span jobs are charged to, None at top level
        self.detached = detached  # opened on another thread than its parent
        self.start = start
        self.end = start
        self.construct_s = 0.0
        self.exec_s = 0.0
        self.children = []  # same-thread children, nested inside this span

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - sum(c.duration for c in self.children)


class Tracer:
    """Collects spans and counters; inert (no job groups, no wrappers,
    no forcing) when ``enabled`` is false."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self.counters: dict = defaultdict(float)
        self.last_rows = 0
        self._seq = itertools.count(1)
        self._local = threading.local()  # .stack: this thread's open spans
        self._by_group: dict = {}
        self._lock = threading.Lock()
        self._sc = None
        self._thread = threading.get_ident()  # the thread driving the ops
        self._restore: list = []

    # ---- spans -------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        prev_group = None
        if self._sc is not None:
            prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
        detached = not stack and threading.get_ident() != self._thread
        if stack:
            parent = stack[-1]
        else:
            # on a spawned thread the inherited job group names the stage
            # that started it
            parent = self._by_group.get(prev_group) if detached else None
        group = f"{name}#{next(self._seq)}"
        sp = Span(name, group, parent, detached, time.perf_counter())
        if parent is not None and not detached:
            parent.children.append(sp)
        self._by_group[group] = sp
        self.spans.append(sp)
        stack.append(sp)
        if self._sc is not None:
            self._sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def stage(self, layer: str, fn, force=None):
        """Call ``fn()`` (a call into ``layer``) and pass its result through
        ``force`` when given. Traced: the call is timed as construct_s and
        the forcing as exec_s; without ``force`` a DataFrame result is
        persisted and counted, so the next stage reads materialized input."""
        if not self.enabled:
            out = fn()
            return force(out) if force is not None else out
        with self.span(layer) as sp:
            t0 = time.perf_counter()
            out = fn()
            t1 = time.perf_counter()
            if force is not None:
                out = force(out)
            elif hasattr(out, "persist"):
                out = out.persist()
                self.last_rows = out.count()
            t2 = time.perf_counter()
            sp.construct_s = t1 - t0
            sp.exec_s = t2 - t1
        return out

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:  # wrappers also run on publish threads
                self.counters[name] += value

    # ---- timing wrappers installed in this process --------------------
    def install(self, sc) -> None:
        """Wrap ``fingerprint_dataframe`` (every module that imported it)
        and ``CacheManager.exists/load/store`` with counting spans."""
        if not self.enabled:
            return
        self._sc = sc
        from warp_pipes_spark.core import fingerprint as fpmod
        from warp_pipes_spark.pipes.cache import CacheManager

        orig_fp = fpmod.fingerprint_dataframe
        tracer = self

        def fingerprint_dataframe(df):
            t0 = time.perf_counter()
            with tracer.span("core.fingerprint"):
                out = orig_fp(df)
            tracer.add("core.fingerprint.calls", 1)
            tracer.add("core.fingerprint.seconds", time.perf_counter() - t0)
            return out

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("warp_pipes_spark") and getattr(
                mod, "fingerprint_dataframe", None
            ) is orig_fp:
                self._restore.append((mod, "fingerprint_dataframe", orig_fp))
                setattr(mod, "fingerprint_dataframe", fingerprint_dataframe)

        def wrap(method: str):
            orig = getattr(CacheManager, method)

            def wrapped(mgr, *args, **kwargs):
                t0 = time.perf_counter()
                with tracer.span("pipes.cache"):
                    out = orig(mgr, *args, **kwargs)
                tracer.add(f"pipes.cache.{method}_calls", 1)
                tracer.add("pipes.cache.seconds", time.perf_counter() - t0)
                if method == "exists" and out:
                    tracer.add("pipes.cache.exists_hits", 1)
                if method == "store":
                    tracer.add(
                        "pipes.cache.mb_written", _dir_mb(mgr.path_for(args[1]))
                    )
                return out

            self._restore.append((CacheManager, method, orig))
            setattr(CacheManager, method, wrapped)

        for m in ("exists", "load", "store"):
            wrap(m)

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._restore):
            setattr(obj, attr, orig)
        self._restore.clear()
        self._sc = None

    # ---- report -------------------------------------------------------
    def metrics(self, event_dir: str, n_cores: int, op_wall_s: float,
                untraced_op_s: float, traced_op_s: float) -> dict:
        """Per-layer metrics from the spans, counters and the event log.
        ``op_wall_s`` is the traced ops' total wall time; the part of it no
        top-level span covers is reported as uncovered."""
        jobs = _parse_event_log(event_dir)
        out = {k: 0.0 for k in per_layer_metric_units()}
        busy = defaultdict(float)
        span_s = defaultdict(float)
        for sp in self.spans:
            j = jobs.get(sp.group)
            if sp.name in STAGE_LAYERS:
                out[f"{sp.name}.construct_s"] += sp.construct_s
                out[f"{sp.name}.exec_s"] += sp.exec_s
                out[f"{sp.name}.self_s"] += sp.self_s
                span_s[sp.name] += sp.duration
            if j is not None:
                # jobs of wrapper spans (a cache store's parquet write)
                # belong to the stage that called the wrapper
                owner = sp
                while owner is not None and owner.name not in STAGE_LAYERS:
                    owner = owner.parent
                if owner is None:
                    continue
                q = owner.name
                out[f"{q}.jobs"] += j["jobs"]
                out[f"{q}.shuffle_mb"] += j["shuffle_bytes"] / 1e6
                out[f"{q}.spill_mb"] += j["spill_bytes"] / 1e6
                busy[q] += j["task_s"]
        # some layers run their jobs while the Pipe is called (driver-side
        # training, eager probes), so utilization is over the whole span
        for layer in STAGE_LAYERS:
            out[f"{layer}.core_util"] = _ratio(busy[layer], span_s[layer] * n_cores)
        c = self.counters
        for k in ("core.fingerprint.calls", "core.fingerprint.seconds",
                  "pipes.cache.exists_calls", "pipes.cache.load_calls",
                  "pipes.cache.store_calls", "pipes.cache.seconds",
                  "pipes.cache.mb_written", "text.dedup.pairs_out",
                  "pipes.tokenizer.tokens_out", "pipes.passages.passages_out",
                  "pipes.predict.rows_sent", "search.bm25.postings_rows"):
            out[k] = c.get(k, 0.0)
        out["pipes.cache.hit_ratio"] = _ratio(
            c.get("pipes.cache.exists_hits", 0), c.get("pipes.cache.exists_calls", 0))
        out["pipes.cache.mb_written_per_new_text_mb"] = _ratio(
            c.get("pipes.cache.mb_written", 0), c.get("new_text_mb", 0))
        out["text.analysis.keep_ratio"] = _ratio(
            c.get("text.analysis.rows_kept", 0), c.get("text.analysis.rows_in", 0))
        out["pipes.predict.new_row_ratio"] = _ratio(
            c.get("pipes.predict.new_rows", 0), c.get("pipes.predict.rows_sent", 0))
        covered = sum(sp.duration for sp in self.spans if sp.parent is None and not sp.detached)
        out["trace.uncovered_s"] = max(0.0, op_wall_s - covered)
        out["trace.uncovered_share"] = _ratio(out["trace.uncovered_s"], op_wall_s)
        out["trace.overhead_ratio"] = _ratio(traced_op_s, untraced_op_s)
        return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total / 1e6


def _parse_event_log(event_dir: str) -> dict:
    """job group -> {jobs, task_s, shuffle_bytes, spill_bytes} from every
    Spark event log file in ``event_dir`` (read after the session stops,
    when the log is flushed)."""
    stage_group: dict = {}
    out: dict = defaultdict(
        lambda: {"jobs": 0, "task_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}
    )
    paths = sorted(
        os.path.join(root, f) for root, _dirs, files in os.walk(event_dir) for f in files
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    rec = out[group]
                    rec["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(out)
