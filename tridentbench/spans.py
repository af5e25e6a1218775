"""Spans around the calls into each layer, Spark event-log accounting, and
process-tree memory sampling.

Spans are recorded from the benchmark's side only: ``Tracer.patch`` names a
public method of the program to wrap, ``Tracer.install`` wraps them all for a
traced step and ``Tracer.uninstall`` restores them. Each span holds its name,
wall-clock start and end, the span that caused it (per thread), and the
benchmark operation (batch, request or query) in progress when it started.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


# span of the benchmark's own measuring work inside a traced call
PROBE = "trace.probe"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None  # operations run one at a time
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._specs: list[tuple[object, str, str, object]] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        with self._lock:
            sid = len(self.spans)
            sp = Span(sid, name, time.time(), 0.0, stack[-1] if stack else None, self.op)
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()

    @contextmanager
    def operation(self, op_id: str, name: str):
        """One benchmark operation: every span started inside it, in any
        thread, carries ``op_id``."""
        self.op = op_id
        try:
            with self.span(name) as sp:
                yield sp
        finally:
            self.op = None

    def patch(self, owner, attr: str, name: str, before=None) -> None:
        """Register a span named ``name`` around ``owner.attr``, applied by
        ``install()``. ``before()``, if given, runs ahead of each call in a
        span of its own, ``PROBE``, so callers' times can leave it out."""
        self._specs.append((owner, attr, name, before))

    def install(self) -> None:
        tracer = self
        for owner, attr, name, before in self._specs:
            orig = getattr(owner, attr)

            def wrapped(*args, _orig=orig, _name=name, _before=before, **kwargs):
                if _before is not None:
                    with tracer.span(PROBE):
                        _before()
                with tracer.span(_name):
                    return _orig(*args, **kwargs)

            functools.update_wrapper(wrapped, orig)
            self._patches.append((owner, attr, orig))
            setattr(owner, attr, wrapped)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- queries over recorded spans ----------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def outermost(self, name: str) -> list[Span]:
        """Spans of ``name`` not nested in another span of the same name."""
        by_id = {s.id: s for s in self.spans}
        out = []
        for s in self.named(name):
            p = by_id.get(s.parent) if s.parent is not None else None
            while p is not None and p.name != name:
                p = by_id.get(p.parent) if p.parent is not None else None
            if p is None:
                out.append(s)
        return out

    def children(self, span: Span, name: str | None = None) -> list[Span]:
        return [c for c in self.spans
                if c.parent == span.id and c.end and (name is None or c.name == name)]

    def self_ms(self, span: Span) -> float:
        """Duration minus the time its direct children cover."""
        kids = sorted((c.start, c.end) for c in self.children(span))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.ms - covered * 1000.0

    def per_op_sum(self, name: str, outermost: bool = False) -> dict[str, float]:
        spans = self.outermost(name) if outermost else self.named(name)
        acc: dict[str, float] = {}
        for s in spans:
            if s.op is not None:
                acc[s.op] = acc.get(s.op, 0.0) + s.ms
        return acc

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# -- Spark event log ---------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task metrics from the Spark event log(s) in ``log_dir``.

    Returns ``{"jobs": {job_id: {"submit": s, "stages": [...]}}, "stages":
    {stage_id: [task, ...]}}`` where a task is ``(duration_ms, cpu_ms, gc_ms,
    shuffle_read_bytes, shuffle_write_bytes)``. Only completed stages are kept,
    so stages skipped by shuffle reuse do not count."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[tuple]] = {}
    done: set[int] = set()
    for path in glob.glob(os.path.join(log_dir, "*")):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": list(ev["Stage IDs"]),
                    }
                elif kind == "SparkListenerStageCompleted":
                    done.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    tasks.setdefault(ev["Stage ID"], []).append((
                        info["Finish Time"] - info["Launch Time"],
                        m.get("Executor CPU Time", 0) / 1e6,
                        m.get("JVM GC Time", 0),
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        sw.get("Shuffle Bytes Written", 0),
                    ))
    return {"jobs": jobs, "stages": {s: t for s, t in tasks.items() if s in done}}


def spark_per_op(log: dict, ops: list[Span]) -> dict[str, dict]:
    """Attribute each job to the operation whose span contains its submission
    (operations run one at a time) and total its stages and tasks."""
    ops = sorted(ops, key=lambda s: s.start)
    out = {o.op: {"jobs": 0, "stages": 0, "tasks": 0, "cpu_ms": 0.0, "gc_ms": 0.0,
                  "shuffle_read": 0, "shuffle_write": 0, "skews": []} for o in ops}
    for job in log["jobs"].values():
        owner = next((o for o in ops if o.start <= job["submit"] <= o.end), None)
        if owner is None:
            continue
        acc = out[owner.op]
        acc["jobs"] += 1
        for sid in job["stages"]:
            ts = log["stages"].get(sid)
            if not ts:
                continue
            acc["stages"] += 1
            acc["tasks"] += len(ts)
            acc["cpu_ms"] += sum(t[1] for t in ts)
            acc["gc_ms"] += sum(t[2] for t in ts)
            acc["shuffle_read"] += sum(t[3] for t in ts)
            acc["shuffle_write"] += sum(t[4] for t in ts)
            if len(ts) > 1:
                durs = sorted(t[0] for t in ts)
                mid = durs[len(durs) // 2]
                acc["skews"].append(durs[-1] / max(mid, 1))
    return out


# -- memory --------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces: ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root_pid: int) -> list[int]:
    kids = _children()
    todo, out = [root_pid], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and its descendants, the
    exited ones included (as reaped children of a live process). Time the
    host steals from this machine's CPUs is not counted."""
    ticks = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_steal_share() -> tuple[int, int]:
    """(steal ticks, all ticks) since boot, summed over this machine's CPUs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants, in MB."""
    total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Background sampler of the whole process tree's peak resident memory
    (this interpreter, the JVM it launched, and the JVM's Python workers)."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
