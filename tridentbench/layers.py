"""Per-layer metrics of a traced measurement.

Every traced run reports every name in ``PER_LAYER``. A layer the workload
does not call reports 0 (no spans, no work); METRICS.md lists which workload
each metric belongs to and the end-to-end metric it should move.
"""

from __future__ import annotations

import statistics

from spans import PROBE, Span, Tracer, read_event_log, spark_per_op
from workloads import CATALOG_MIX

# name -> unit
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.overhead_ms": "ms",
    "topology.feed_ms": "ms",
    "topology.feed_self_ms": "ms",
    "topology.drpc_plan_ms": "ms",
    "topology.drpc_exec_ms": "ms",
    "stream.build_ms": "ms",
    "state.merge_ms": "ms",
    "state.commit_ms": "ms",
    "state.bytes_written": "bytes",
    "state.rows_rewritten": "count",
    "state.keys_updated": "count",
    "state.write_amplification": "ratio",
    "state.buckets_touched": "count",
    "state.files_live": "count",
    "state.keys_total": "count",
    "state.bytes_total": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.jobs_per_request": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    **{f"functions.{q}_ms": "ms" for q in CATALOG_MIX},
    "trace.overhead_pct": "%",
}

# operation kinds whose Spark jobs are reported per operation
UNIT_OPS = ("batch", "query")


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def span_metrics(tr: Tracer) -> dict[str, float]:
    """Per-operation medians of the span-timed layers."""
    m: dict[str, float] = {}
    feeds = tr.named("topology.feed")
    by_op: dict[str, list[Span]] = {}
    for s in feeds:
        by_op.setdefault(s.op, []).append(s)

    def own_ms(s: Span) -> float:  # without the benchmark's probes
        return s.ms - sum(c.ms for c in tr.children(s, PROBE))

    m["topology.feed_ms"] = _med(sum(own_ms(s) for s in v) for v in by_op.values())
    m["topology.feed_self_ms"] = _med(sum(tr.self_ms(s) for s in v) for v in by_op.values())
    plans = {s.op: s.ms for s in tr.named("topology.drpc_plan")}
    drpc = tr.named("topology.drpc")
    m["topology.drpc_plan_ms"] = _med(plans.get(s.op, 0.0) for s in drpc)
    m["topology.drpc_exec_ms"] = _med(s.ms - plans.get(s.op, 0.0) for s in drpc)
    # plan building on the read path: per DRPC request or catalog query
    reads = {s.op for s in tr.spans if s.name in ("request", "query")}
    builds = tr.per_op_sum("stream.build", outermost=True)
    m["stream.build_ms"] = _med(v for op, v in builds.items() if op in reads)
    m["state.merge_ms"] = _med(tr.per_op_sum("state.merge").values())
    m["state.commit_ms"] = _med(tr.per_op_sum("state.commit").values())
    for q in CATALOG_MIX:
        m[f"functions.{q}_ms"] = _med(s.ms for s in tr.named(f"functions.{q}"))
    return m


def spark_metrics(event_log_dir: str, tr: Tracer) -> dict[str, float]:
    """Jobs, stages, tasks, shuffle bytes, CPU, skew and GC from the event
    log, attributed to the traced operations."""
    log = read_event_log(event_log_dir)
    ops = [s for s in tr.spans if s.name in UNIT_OPS + ("request",) and s.end]
    per = spark_per_op(log, ops)
    kind = {s.op: s.name for s in ops}
    units = [v for k, v in per.items() if kind[k] in UNIT_OPS]
    reqs = [v for k, v in per.items() if kind[k] == "request"]
    skews = [x for v in per.values() for x in v["skews"]]
    return {
        "spark.jobs": _med(v["jobs"] for v in units),
        "spark.stages": _med(v["stages"] for v in units),
        "spark.tasks": _med(v["tasks"] for v in units),
        "spark.jobs_per_request": _med(v["jobs"] for v in reqs),
        "spark.shuffle_read_bytes": _med(v["shuffle_read"] for v in units),
        "spark.shuffle_write_bytes": _med(v["shuffle_write"] for v in units),
        "spark.task_skew": _med(skews),
        "spark.executor_cpu_ms": _med(v["cpu_ms"] for v in units),
        "spark.gc_ms": float(sum(v["gc_ms"] for v in per.values())),
    }


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    """Structured Streaming's per-epoch trigger and addBatch durations;
    their difference is the streaming driver's own overhead per epoch."""
    trig = [p["durationMs"]["triggerExecution"] for p in progress]
    add = [p["durationMs"]["addBatch"] for p in progress]
    return {
        "streaming.trigger_ms": _med(trig),
        "streaming.add_batch_ms": _med(add),
        "streaming.overhead_ms": _med(t - a for t, a in zip(trig, add)),
    }


def state_metrics(writes: list[tuple[int, int, int]], keys_updated: list[int],
                  live: tuple[int, int, int]) -> dict[str, float]:
    """Write amplification per commit: rows rewritten over keys the batch
    updated; and the live state size at the end of the window."""
    m = {
        "state.rows_rewritten": _med(w[0] for w in writes),
        "state.bytes_written": _med(w[1] for w in writes),
        "state.buckets_touched": _med(w[2] for w in writes),
        "state.keys_updated": _med(keys_updated),
        "state.files_live": float(live[0]),
        "state.keys_total": float(live[1]),
        "state.bytes_total": float(live[2]),
    }
    m["state.write_amplification"] = (
        m["state.rows_rewritten"] / m["state.keys_updated"] if m["state.keys_updated"] else 0.0
    )
    return m
