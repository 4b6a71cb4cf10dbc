"""Smoke tests for the workload benchmark: tiny-size runs of every
workload through the real command line.

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from spans import Tracer  # noqa: E402


def bench(workload: str, seed: int = 3, trace: int = 0, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py",
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines


def check_result(line: str, metric_specs: list) -> dict:
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in metric_specs}
    for m in metric_specs:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    return out


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric_and_passes_checks(workload):
    rc, lines = bench(workload)
    assert rc == 0
    check_result(lines[-1], SPEC["end_to_end"])
    report = json.loads(lines[-2])
    assert all(c["ok"] for c in report["checks"].values()), report["checks"]
    rc, again = bench(workload)
    assert rc == 0
    assert json.loads(again[-2])["output_digest"] == report["output_digest"]


def test_traced_run_prints_every_per_layer_metric():
    rc, lines = bench("serve", trace=1)
    assert rc == 0
    out = check_result(lines[-1], SPEC["per_layer"])
    assert out["metrics"]["search.bm25.exec_s"]["value"] > 0
    assert out["metrics"]["core.fingerprint.calls"]["value"] > 0
    assert out["metrics"]["pipes.cdc.exec_s"]["value"] > 0
    report = json.loads(lines[-2])
    assert "tracing_overhead_ratio" in report
    assert report["workload_metrics"]["increments"]["value"] == 1
    assert report["workload_metrics"]["increment_p50_s"]["value"] > 0


def test_refuses_a_directory_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    rc, lines = bench("curate", cwd=str(tmp_path))
    assert rc != 0
    assert lines == []


class FakeContext:
    """Per-thread Spark local properties, copied into a new thread when it
    starts, as pyspark's ``InheritableThread`` does."""

    def __init__(self):
        self._local = threading.local()

    def props(self) -> dict:
        if not hasattr(self._local, "props"):
            self._local.props = {}
        return self._local.props

    def getLocalProperty(self, key):
        return self.props().get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props().pop(key, None)
        else:
            self.props()[key] = value

    def setJobGroup(self, group, description):
        self.props()["spark.jobGroup.id"] = group

    def thread(self, target):
        inherited = dict(self.props())

        def run():
            self.props().update(inherited)
            target()

        return threading.Thread(target=run)


def test_span_opened_on_a_publish_thread_is_detached_from_the_driving_stack(tmp_path):
    tracer = Tracer(enabled=True)
    sc = tracer._sc = FakeContext()
    started, release = threading.Event(), threading.Event()

    def publish():
        with tracer.span("pipes.cache"):
            started.set()
            release.wait(5)

    with tracer.span("ml.similarity") as stage:
        worker = sc.thread(publish)
        worker.start()
        assert started.wait(5)
    # the stage ended while its publish still runs; the next stage opens
    # at the top level and the publish ends inside it
    with tracer.span("search.index") as later:
        time.sleep(0.05)
        release.set()
        worker.join(5)
    assert not worker.is_alive()
    cache = next(sp for sp in tracer.spans if sp.name == "pipes.cache")
    assert cache.detached and cache.parent is stage
    assert stage.children == [] and later.parent is None and later.children == []
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert min(stage.self_s, later.self_s) >= 0
    # wall time the driving thread spent outside its spans stays uncovered
    wall = stage.duration + later.duration + 1.0
    out = tracer.metrics(str(tmp_path), 4, wall, 1.0, 1.0)
    assert out["trace.uncovered_s"] == pytest.approx(1.0)
