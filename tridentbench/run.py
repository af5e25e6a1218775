#!/usr/bin/env python3
"""Trident micro-batch + DRPC and analytics-catalog benchmark for storm_spark.

Run from the root of a checkout::

    python3 tridentbench/run.py --workload trident --seed 1 --seconds 14 --trace 0

The last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` the per-layer metrics. The line before it is a ``detail``
object: host, sample counts, tails, the named headline figures and, when
traced, the tracing overhead. A wrong answer makes the exit code 1.
Everything the run writes stays under ``<checkout>/.bench_work``.
See METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from statistics import median

T_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("trident", "catalog")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.seconds <= 0:
        ap.error("--seconds must be positive")
    return a


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session(cpus: int, work: str, event_log: str | None):
    """A session sized to the box: ``cpus`` cores, a driver heap well below
    RAM, every scratch directory inside the run's work directory."""
    from storm_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    mem_mb = min(4096, host_memory_mb() // 4)
    return get_spark("tridentbench", cpus=cpus, driver_memory=f"{mem_mb}m", extra_conf=conf)


def stop_jvm() -> None:
    """Stop the JVM the sessions ran in and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def e2e_metrics(win, setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_op": (median(win.cpu_ms), "ms"),
    }


# the headline figures by name, all printed for every workload in the detail
# line (None where the workload does not exercise one)
NAMED_METRICS = {
    "setup_s": "s",
    "ingest_tuples_per_s": "tuples/s",
    "batch_latency_p50_ms": "ms",
    "batch_latency_tail_ms": "ms",
    "drpc_requests_per_s": "req/s",
    "drpc_latency_p50_ms": "ms",
    "drpc_latency_tail_ms": "ms",
    "catalog_round_s": "s",
    "failed_op_ratio": "ratio",
    "peak_rss_mb": "MB",
}


def named_metrics(wl, win, setup_s: float, peak_rss_mb: float) -> dict:
    from stats import tail

    v: dict = {
        "setup_s": {"value": setup_s},
        "failed_op_ratio": {"value": wl.failed / max(wl.attempted, 1)},
        "peak_rss_mb": {"value": peak_rss_mb},
    }

    def lat(name: str, xs: list[float]) -> None:
        t, p, n = tail(xs)
        v[f"{name}_p50_ms"] = {"value": median(xs), "n": n}
        v[f"{name}_tail_ms"] = {"value": t, "percentile": p, "n": n}

    if wl.name == "trident":
        batch, drpc = win.extra_ms["batch_ms"], win.extra_ms["drpc_ms"]
        v["ingest_tuples_per_s"] = {"value": win.work / win.elapsed_s}
        lat("batch_latency", batch)
        lat("drpc_latency", drpc)
        v["drpc_requests_per_s"] = {"value": 1000.0 * len(drpc) / sum(drpc), "clients": 1}
    else:
        v["catalog_round_s"] = {"value": median(win.op_ms) / 1000.0, "rounds": len(win.op_ms)}
    return {k: {"value": None, "unit": u} | v.get(k, {}) for k, u in NAMED_METRICS.items()}


def workload_detail(wl, win) -> dict:
    """Figures behind the headline ones: step wall and CPU times, the share
    of CPU time the host stole, and per-query medians or the epoch-only
    ingest rate (comparable with the 1-core reference)."""
    d: dict = {"op_p50_ms": median(win.op_ms), "step_ms": win.op_ms, "step_cpu_ms": win.cpu_ms,
               "cpu_steal_pct": 100.0 * win.steal[0] / max(win.steal[1], 1)}
    if wl.name == "trident":
        d["epoch_tuples_per_s"] = 1000.0 * win.work / sum(win.extra_ms["batch_ms"])
    else:
        d["query_p50_ms"] = {q: median(win.extra_ms[q]) for q in sorted(wl.order)}
    return d


def layer_tracer(wl):
    """Spans on the calls into each layer the workloads reach."""
    from spans import Tracer
    from storm_spark import LocalCluster
    from storm_spark.state import ParquetMapState
    from storm_spark.stream import Stream

    tr = Tracer()
    tr.patch(LocalCluster, "feed_dataframe", "topology.feed")
    tr.patch(LocalCluster, "execute_drpc", "topology.drpc")
    tr.patch(LocalCluster, "drpc_dataframe", "topology.drpc_plan")
    tr.patch(Stream, "build", "stream.build")
    tr.patch(ParquetMapState, "update_from_agg", "state.merge")
    disk = getattr(wl, "disk", None)
    # count what each commit publishes, outside the commit's own span
    tr.patch(ParquetMapState, "commit", "state.commit",
             before=disk.before_commit if disk is not None else None)
    return tr


def reference_1cpu(work: str, seed: int, epochs: int = 2) -> dict:
    """The single-threaded baseline: a fresh ingest (epochs only, no DRPC)
    on ``local[1]``, timed over ``epochs`` epochs after one warm-up epoch.
    It runs on a new SparkContext in the JVM the measured run warmed. A
    reference only, not a gated workload."""
    from workloads import Trident, Window

    spark = session(1, work, None)
    wl = Trident(spark, os.path.join(work, "ref1"), seed)
    try:
        wl.setup(warm_cycles=1, requests=False)
        win = Window()
        for _ in range(epochs):
            wl.run_step(win)
        wl.check()
    finally:
        wl.close()
        spark.stop()
    return {
        "cpus": 1,
        "epoch_tuples_per_s": 1000.0 * win.work / sum(win.op_ms),
        "batch_latency_p50_ms": median(win.op_ms),
        "epochs": epochs,
        "attempted": wl.attempted,
        "failed": wl.failed,
    }


def run(args, work: str, detail: dict):
    """Set up, measure and check one workload, sampling memory throughout.
    Returns (workload, window, setup_s, per-layer metrics or None,
    peak_rss_mb)."""
    from spans import RssSampler

    with RssSampler() as rss:
        try:
            measured = measure(args, work, detail)
        finally:
            stop_jvm()
    return (*measured, rss.peak_mb)


def measure(args, work: str, detail: dict):
    """The body of ``run``, in one JVM. Returns (workload, window, setup_s,
    per-layer metrics or None)."""
    from workloads import Catalog, Trident

    cpus = os.cpu_count() or 1
    event_log = os.path.join(work, "eventlog") if args.trace else None
    wl_dir = os.path.join(work, args.workload)
    t0 = time.time()
    spark = session(cpus, work, event_log)
    session_start_s = time.time() - t0
    wl = (Catalog(spark, wl_dir, args.seed, ROOT) if args.workload == "catalog"
          else Trident(spark, wl_dir, args.seed))
    try:
        wl.setup()
        setup_s = time.time() - T_START
        detail["host"] = {
            "cores": cpus,
            "memory_mb": host_memory_mb(),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }
        detail["session_start_s"] = session_start_s
        detail["cold_first_op_ms"] = wl.cold_ms
        if not args.trace:
            win, _ = wl.measure(args.seconds)
            wl.check()
            return wl, win, setup_s, None
        # twice the window, every second step traced: each half gets about
        # --seconds of samples from the same phase of the run
        tr = layer_tracer(wl)
        win, traced = wl.measure(2 * args.seconds, tr)
        wl.check()
        from layers import span_metrics, state_metrics, streaming_metrics

        layer = span_metrics(tr)
        if wl.name == "trident":
            layer.update(streaming_metrics(wl.progress()))
            layer.update(state_metrics(wl.disk.writes, wl.keys_updated, wl.disk.live()))
    finally:
        wl.close()
        spark.stop()  # closes the event log
    from layers import spark_metrics

    layer.update(spark_metrics(event_log, tr))
    layer["session.start_s"] = session_start_s
    tr.dump(os.path.join(os.path.dirname(work), f"spans-{args.workload}-s{args.seed}.json"))
    base, with_spans = median(win.op_ms), median(traced.op_ms)
    layer["trace.overhead_pct"] = 100.0 * (with_spans / base - 1.0)
    detail["tracing_overhead"] = {
        "op_p50_ms": {"untraced": base, "traced": with_spans, "unit": "ms"},
        "cpu_ms_per_op": {"untraced": median(win.cpu_ms), "traced": median(traced.cpu_ms),
                          "unit": "ms"},
    }
    if wl.name == "trident":
        detail["reference_1cpu"] = ref = reference_1cpu(work, args.seed)
        wl.attempted += ref["attempted"]
        wl.failed += ref["failed"]
    return wl, win, setup_s, layer


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "storm_spark")):
        print(f"tridentbench: no storm_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # every JVM, the launcher's too: temp files in the work directory and no
    # hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        wl, win, setup_s, layer, peak = run(args, work, detail)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = e2e_metrics(win, setup_s)
    detail["metrics"] = named_metrics(wl, win, setup_s, peak)
    detail.update(workload_detail(wl, win))
    if wl.failures:
        detail["failures"] = wl.failures
    if layer is not None:
        from layers import PER_LAYER

        out = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}
    correct = wl.failed == 0
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": wl.attempted, "failed": wl.failed,
                      "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
