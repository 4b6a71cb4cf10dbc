"""Workload benchmark for warp_pipes_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload {curate,serve} --seed N \
        --seconds S --trace {0,1} [--size {full,tiny}]

Prints a human-readable report (planted input shares, the workload's own
metrics with units, every check) and, as the last line of standard output,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of ``BENCHMARK.json``;
with ``--trace 1`` they are its per-layer metrics, taken from a traced
run. Exits non-zero, printing no result, when the checkout holds no
``warp_pipes_spark`` package. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("curate", "serve"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A driver heap well below physical memory (the engine's default is
    sized for a large server)."""
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(4, int(phys_gb // 4)))}g"


def prepare_env(root: str, work: str, cores: int) -> None:
    """Process settings the engine reads at import or session start; all
    scratch space lives under ``work`` inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # pandas-UDF workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    tempfile.tempdir = tmp
    sys.path[:0] = [root, HERE]


def start_session(work: str, cores: int, traced: bool):
    from warp_pipes_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": " ".join(
            [
                f"-Dderby.system.home={work}/derby",
                f"-Dderby.stream.error.file={work}/derby.log",
                f"-Djava.io.tmpdir={work}/tmp",
                "-XX:ReservedCodeCacheSize=640m",
                "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
                # a heap committed up front with a fixed young generation:
                # without them peak RSS follows the collector's resizing
                # and spread 0.1-0.2 between runs; with them 0.01-0.02.
                # An allocation cut below this floor barely moves it.
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
                "-Xmn512m",
            ]
        ),
    }
    if traced:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/events",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the JVM plus this Python driver."""
    pids = [os.getpid(), int(spark._jvm.java.lang.ProcessHandle.current().pid())]
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "warp_pipes_spark", "__init__.py")):
        print(
            "perfbench: run from the root of a checkout that holds the "
            "warp_pipes_spark package",
            file=sys.stderr,
        )
        return 2
    cores = n_cores()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(root, work, cores)
    try:
        return run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def log(t0: float, what: str) -> None:
    print(f"perfbench: {time.perf_counter() - t0:7.1f}s {what}", file=sys.stderr, flush=True)


def run(args, work: str, cores: int) -> int:
    from workloads import host_ticks, steal_share

    h0 = host_ticks()
    t0 = time.perf_counter()
    spark = start_session(work, cores, traced=bool(args.trace))
    session_s = time.perf_counter() - t0

    from spans import Tracer, per_layer_metric_units
    from workloads import WORKLOADS, Bench, run_ops

    tracer = Tracer(enabled=False)
    b = Bench(spark, tracer, work, args.seed, args.size)
    wl = WORKLOADS[args.workload](b)
    # one set-up per run: a second one in the same JVM would run warm and
    # measure something else
    t = time.perf_counter()
    wl.setup()
    workload_setup_s = time.perf_counter() - t
    setup_wall_s = session_s + workload_setup_s
    # net of the hypervisor's steal, which moved the raw figure by up to a
    # fifth between runs of the same code
    setup_steal = steal_share(h0)
    setup_s = setup_wall_s * (1 - setup_steal)
    log(t0, "set up")

    if args.trace:
        # the report's figures come from the untraced half. Increments
        # (serve's write path) run in traced runs only: no end-to-end
        # metric gates them, and at ~10 s each they would not fit the
        # time budget of a full sweep in every run
        samples = run_ops(wl, args.seconds / 2, min_ops=1)
        samples["increment_s"] = wl.increments()
        tracer.enabled = True
        tracer.install(spark.sparkContext)
        build_s = wl.traced_build()
        traced = run_ops(wl, args.seconds / 2, min_ops=1)
        inc_s = sum(wl.increments())
        tracer.uninstall()
        tracer.enabled = False
    else:
        samples = run_ops(wl, args.seconds, min_ops=wl.min_ops)
    # before the checks, whose oracles are not the user's memory
    rss = peak_rss_mb(spark)
    log(t0, "timed ops done")
    fin = wl.finish(samples)
    log(t0, "checks done")
    stop_session(spark)
    log(t0, "session stopped")

    if args.trace:
        wall = traced["busy_s"] + build_s + inc_s
        metrics = tracer.metrics(
            os.path.join(work, "events"), cores, wall,
            samples["busy_s"] / samples["n_ops"], traced["busy_s"] / traced["n_ops"],
        )
        units = per_layer_metric_units()
        result = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    else:
        result = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "cpu_ms_per_item": {"value": samples["cpu_ms_per_item"], "unit": "ms"},
            "recall": {"value": fin["recall"], "unit": "ratio"},
        }

    ops_ratio = b.failed / b.attempted if b.attempted else 0.0
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "planted": wl.planted(),
        "session_start_s": session_s,
        "workload_setup_s": workload_setup_s,
        "setup_wall_s": setup_wall_s,
        "setup_steal_share": setup_steal,
        "ops": samples["n_ops"],
        "item": wl.item,
        "op_s": samples["latencies"],
        "op_p50_s": samples["batch_p50_s"],
        "op_cpu_ms_per_item": [1e3 * c for c in samples["cpu_per_item_s"]],
        "ops_steal_share": samples["steal_share"],
        "ops_attempted": b.attempted,
        "ops_failed": b.failed,
        "ops_failed_ratio": ops_ratio,
        "workload_metrics": {k: {"value": v, "unit": u} for k, (v, u) in fin["report"].items()},
        "output_digest": fin["digest"],
        "checks": b.checks,
    }
    if args.trace:
        report["tracing_overhead_ratio"] = result["trace.overhead_ratio"]["value"]
        report["uncovered_s"] = result["trace.uncovered_s"]["value"]
    print(json.dumps(report, default=str))
    correct = b.failed == 0 and all(c["ok"] for c in b.checks.values())
    print(json.dumps({"correct": correct, "attempted": b.attempted,
                      "failed": b.failed, "metrics": result}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
