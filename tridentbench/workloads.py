"""The benchmark's workloads, each driven through the program's public API.

A workload object is built on a live SparkSession; ``setup()`` builds its
topology and warms it, ``measure(seconds)`` runs closed-loop steps (the next
starts when the previous returned, as with Trident's default
``max.spout.pending`` of one batch) until ``seconds`` have passed, and
``check()`` compares the program's final state with the generator's oracle.
Every reply is checked as it arrives; a wrong reply or an exception counts as
a failed operation.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time
import traceback
from collections import Counter
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import inputs
from spans import Tracer, cpu_steal_share, tree_cpu_s


@dataclass
class Window:
    """One measurement window: per-step latencies and completed work."""

    op_ms: list[float] = field(default_factory=list)
    cpu_ms: list[float] = field(default_factory=list)  # process-tree CPU per step
    work: int = 0  # tuples folded into state, or queries answered
    elapsed_s: float = 0.0
    steal: list[int] = field(default_factory=lambda: [0, 0])  # stolen, all CPU ticks
    extra_ms: dict[str, list[float]] = field(default_factory=dict)

    def add(self, key: str, ms: float) -> None:
        self.extra_ms.setdefault(key, []).append(ms)


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.dir = work_dir
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.cold_ms: float | None = None
        self.tracer: Tracer | None = None
        self._clock = [0.0, 0.0, 0, 0]  # this step's wall ms, CPU ms, stolen, all ticks

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)
        print(f"FAILED {self.name}: {what}", file=sys.stderr)

    def measure(self, seconds: float, tracer: Tracer | None = None) -> tuple[Window, Window]:
        """Run steps for ``seconds``. With a tracer, every second step runs
        traced, so both windows see the same phase of the run; returns
        (untraced window, traced window), the second empty without a tracer."""
        plain, traced = Window(), Window()
        t0 = time.perf_counter()
        k = 0
        while time.perf_counter() - t0 < seconds:
            on = tracer is not None and k % 2 == 1
            if on:
                tracer.install()
                self.tracer = tracer
            try:
                self.run_step(traced if on else plain)
            finally:
                if on:
                    self.tracer = None
                    tracer.uninstall()
            k += 1
        return plain, traced

    def run_step(self, win: Window) -> None:
        """One step, timed by its ``timed()`` regions."""
        self._clock = [0.0, 0.0, 0, 0]
        self.step(win)
        wall, cpu, stolen, ticks = self._clock
        win.op_ms.append(wall)
        win.cpu_ms.append(cpu)
        win.elapsed_s += wall / 1000.0
        win.steal[0] += stolen
        win.steal[1] += ticks

    @contextmanager
    def timed(self):
        """Count a region toward the step's wall and CPU time. The
        benchmark's own input generation and answer checking stay outside."""
        pid = os.getpid()
        c0, (s0, a0), t0 = tree_cpu_s(pid), cpu_steal_share(), time.perf_counter()
        try:
            yield
        finally:
            s1, a1 = cpu_steal_share()
            self._clock[0] += (time.perf_counter() - t0) * 1000.0
            self._clock[1] += (tree_cpu_s(pid) - c0) * 1000.0
            self._clock[2] += s1 - s0
            self._clock[3] += a1 - a0

    def op(self, op_id: str, kind: str):
        """Span for one operation when traced; a no-op otherwise."""
        return self.tracer.operation(op_id, kind) if self.tracer else nullcontext()

    def step(self, win: Window) -> None:
        raise NotImplementedError

    def close(self) -> None:
        pass


def count_mismatches(spark, state_df, expected: Counter) -> int:
    """Keys whose stored count differs from the oracle, or that only one
    side holds: one Spark job, the oracle shipped as a DataFrame."""
    from pyspark.sql import functions as F

    exp = spark.createDataFrame(pd.DataFrame({
        "word": list(expected),
        "exp": np.fromiter(expected.values(), np.int64, len(expected)),
    }))
    j = state_df.join(exp, on="word", how="full_outer")
    return j.filter(
        F.col("count").isNull() | F.col("exp").isNull() | (F.col("count") != F.col("exp"))
    ).count()


def _seq_stats(seq_dir: str, buckets: list[str] | None = None) -> tuple[int, int, int, int]:
    """(files, rows, bytes, bucket dirs) of the parquet data under one state
    write sequence, optionally only the listed bucket directories."""
    files = rows = size = dirs = 0
    for b in os.listdir(seq_dir):
        if not b.startswith("__bucket__=") or (buckets is not None and b not in buckets):
            continue
        dirs += 1
        bdir = os.path.join(seq_dir, b)
        for f in os.listdir(bdir):
            if f.endswith(".parquet"):
                p = os.path.join(bdir, f)
                files += 1
                size += os.path.getsize(p)
                rows += pq.read_metadata(p).num_rows
    return files, rows, size, dirs


class StateDisk:
    """Reads a ParquetMapState's on-disk layout (``data/s<seq>/__bucket__=<b>``
    plus the ``_VERSION.json`` manifest) to count what each commit wrote."""

    def __init__(self, state_dir: str) -> None:
        self.path = state_dir
        self.writes: list[tuple[int, int, int]] = []  # (rows, bytes, buckets) per commit

    def _manifest(self) -> dict[str, int]:
        try:
            with open(os.path.join(self.path, "_VERSION.json")) as f:
                return json.load(f)["buckets"]
        except FileNotFoundError:
            return {}

    def before_commit(self) -> None:
        """Record the write sequence the pending commit will publish: the one
        on disk that the current manifest does not reference yet."""
        data = os.path.join(self.path, "data")
        live = set(self._manifest().values())
        for d in os.listdir(data):
            if d.startswith("s") and d[1:].isdigit() and int(d[1:]) not in live:
                _, rows, size, buckets = _seq_stats(os.path.join(data, d))
                self.writes.append((rows, size, buckets))

    def live(self) -> tuple[int, int, int]:
        """(files, keys, bytes) the committed manifest references."""
        by_seq: dict[int, list[str]] = {}
        for b, seq in self._manifest().items():
            by_seq.setdefault(seq, []).append(f"__bucket__={b}")
        files = keys = size = 0
        for seq, buckets in by_seq.items():
            f, r, s, _ = _seq_stats(os.path.join(self.path, "data", f"s{seq}"), buckets)
            files, keys, size = files + f, keys + r, size + s
        return files, keys, size


class Trident(Workload):
    """TridentWordCount served while it ingests.

    Structured Streaming (``StreamingTopologyRunner.start_files``) drains one
    seeded parquet file per epoch into ``persistent_aggregate(ParquetMapState,
    Count)``; the next file lands when the previous epoch has committed. After
    each epoch, ``requests_per_batch`` DRPC ``words`` lookups
    (Split -> stateQuery(MapGet) -> FilterNull -> Sum) run through a
    ``LocalCluster`` on the same topology. The key space is heavy-tailed and
    large, so the state grows all run and every lookup reads a growing state.

    The opaque replay path is exercised outside the timed window: the last
    warm-up epoch and the last measured epoch are fed again under their own
    txid through ``LocalCluster.feed_dataframe``. A replay that counted twice
    shows in the next DRPC replies and in the final state check.
    """

    name = "trident"
    n_sentences = 20_000  # x 8 words = 160k tuples per epoch
    vocab = 4_000_000
    zipf_a = 1.1
    requests_per_batch = 2
    warm_cycles = 2

    def __init__(self, spark, work_dir: str, seed: int) -> None:
        super().__init__(spark, work_dir, seed)
        self.expected: Counter = Counter()
        self.batch_no = 0
        self.request_no = 0
        self.requests = True
        self.traced_batches: list[int] = []
        self.keys_updated: list[int] = []  # distinct keys of each traced batch
        self.disk = StateDisk(os.path.join(work_dir, "state"))

    def setup(self, warm_cycles: int | None = None, requests: bool = True) -> None:
        from storm_spark import LocalCluster
        from storm_spark.streaming.driver import StreamingTopologyRunner

        self.topo, self.feeder, self.wc = word_count_topology(
            self.spark, os.path.join(self.dir, "state")
        )
        self.in_dir = os.path.join(self.dir, "in")
        self.stage_dir = os.path.join(self.dir, "stage")
        os.makedirs(self.in_dir)
        os.makedirs(self.stage_dir)
        runner = StreamingTopologyRunner(self.topo, self.feeder)
        self.query = runner.start_files(
            self.in_dir, self.feeder.schema(), checkpoint_dir=os.path.join(self.dir, "ckpt")
        )
        # replays and DRPC: a second driver over the same topology and state
        self.cluster = LocalCluster(self.topo)
        self.requests = requests
        w = Window()
        for _ in range(self.warm_cycles if warm_cycles is None else warm_cycles):
            self.run_step(w)
        self.cold_ms = w.op_ms[0]
        self.replay_last()

    def _file(self, i: int) -> str:
        return os.path.join(self.in_dir, f"f{i:05d}.parquet")

    def replay_last(self) -> None:
        """Feed the last epoch's file again under its txid. One file per epoch
        from epoch 0 and txid = epoch id + 1, so file i committed as txid i+1."""
        i = self.batch_no - 1
        self.attempted += 1
        try:
            self.cluster.feed_dataframe(self.feeder, self.spark.read.parquet(self._file(i)), txid=i + 1)
        except Exception:
            self.fail(f"replay of epoch {i} raised:\n" + traceback.format_exc())

    def step(self, win: Window) -> None:
        i = self.batch_no
        self.batch_no += 1
        sents = inputs.sentences(self.seed, i, self.n_sentences, self.vocab, self.zipf_a)
        staged = os.path.join(self.stage_dir, f"f{i:05d}.parquet")
        pd.DataFrame({"sentence": sents}).to_parquet(staged, index=False)
        counts = inputs.expected_counts([sents])
        n_requests = self.requests_per_batch if self.requests else 0
        args = [inputs.drpc_args(self.seed, self.request_no + k, self.vocab, self.zipf_a)
                for k in range(n_requests)]
        self.attempted += 1 + n_requests
        replies = []
        with self.timed():
            t0 = time.perf_counter()
            with self.op(f"b{i}", "batch"):
                os.rename(staged, self._file(i))
                self.query.processAllAvailable()
            win.add("batch_ms", (time.perf_counter() - t0) * 1000.0)
            for a in args:
                replies.append(self.request(win, a))
        win.work += sum(counts.values())
        self.expected.update(counts)
        if self.tracer is not None:
            self.traced_batches.append(i)
            self.keys_updated.append(len(counts))
        for a, got in zip(args, replies):
            want = [[inputs.expected_drpc(self.expected, a)]]
            if got is not None and got != want:
                self.fail(f"drpc {a!r} after epoch {i}: got {got}, want {want}")

    def request(self, win: Window, args: str):
        """One DRPC ``words`` call; its reply, or None if it raised."""
        r = self.request_no
        self.request_no += 1
        t0 = time.perf_counter()
        try:
            with self.op(f"r{r}", "request"):
                got = self.cluster.execute_drpc("words", args)
        except Exception:
            self.fail(f"drpc {args!r} raised:\n" + traceback.format_exc())
            return None
        win.add("drpc_ms", (time.perf_counter() - t0) * 1000.0)
        return got

    def progress(self) -> list[dict]:
        """Structured Streaming's own timings of the traced epochs (one file
        per epoch, so an epoch's batch id is its file index)."""
        traced = set(self.traced_batches)
        return [p for p in self.query.recentProgress if p["batchId"] in traced]

    def check(self) -> None:
        """Replay the last epoch, then compare the whole state with the
        generator's count of every tuple emitted."""
        self.replay_last()
        self.attempted += 1
        try:
            bad = count_mismatches(self.spark, self.wc.dataframe(), self.expected)
        except Exception:
            self.fail("final state check raised:\n" + traceback.format_exc())
            return
        if bad:
            self.fail(f"final state differs from the oracle on {bad} of {len(self.expected)} keys")

    def close(self) -> None:
        if hasattr(self, "query"):
            self.query.stop()


def word_count_topology(spark, state_dir: str):
    """TridentWordCount: Split -> groupBy(word) -> persistentAggregate(Count)
    into a ParquetMapState, plus the ``words`` DRPC stream
    Split -> stateQuery(MapGet) -> FilterNull -> Sum."""
    from storm_spark import FeederSource, Topology
    from storm_spark.operations import Count, FilterNull, MapGet, Split, Sum
    from storm_spark.state import ParquetMapState

    topo = Topology(spark)
    feeder = FeederSource(["sentence"])
    wc = (
        topo.new_stream("sentences", feeder)
        .each(["sentence"], Split(), ["word"])
        .group_by(["word"])
        .persistent_aggregate(ParquetMapState.factory(state_dir), ["word"], Count(), ["count"])
    )
    (
        topo.new_drpc_stream("words")
        .each(["args"], Split(), ["word"])
        .group_by(["word"])
        .state_query(wc, ["word"], MapGet(), ["count"])
        .each(["count"], FilterNull())
        .aggregate(["count"], Sum("bigint"), ["sum"])
    )
    return topo, feeder, wc


# -- the analytics catalog ----------------------------------------------------

# Eight of the catalog's queries, one or two per analytics module, sized so a
# cold round and two warm rounds fit one run (see METRICS.md for the cut).
CATALOG_MIX = [
    "q1",                # Stream filter + chained aggregation
    "tpch_q5",           # six-table join
    "window_hourly",     # Stream.window_aggregate
    "sessionize",        # functions.temporal
    "percentile_exact",  # exact percentiles
    "minhash_lsh",       # functions.dedup
    "tfidf_top_terms",   # functions.text
    "cosine_topk",       # functions.similarity
]
CATALOG_SCALE = 5000  # orders; lineitem ~4x, events 2x, documents/embeddings /5


def _load_check_correctness(root: str):
    """The repository's own DuckDB-oracle canonicalisation
    (``tools/check_correctness.py``), so the benchmark hashes results the
    same way the correctness gate does."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Catalog(Workload):
    """Warm rounds over a fixed mix of catalog queries on seeded tables, each
    round in the seed's order; every answer is hashed against its DuckDB
    oracle. Whole rounds only, so every window times the same mix."""

    name = "catalog"

    def __init__(self, spark, work_dir: str, seed: int, root: str) -> None:
        super().__init__(spark, work_dir, seed)
        self.root = root
        perm = np.random.default_rng([seed, 4]).permutation(len(CATALOG_MIX))
        self.order = [CATALOG_MIX[k] for k in perm]
        self.pos = 0

    def setup(self) -> None:
        import duckdb

        from storm_spark.queries import ORACLES, QUERIES

        self.queries = QUERIES
        self.cc = _load_check_correctness(self.root)
        self.data = inputs.write_catalog(self.seed, CATALOG_SCALE, os.path.join(self.dir, "tables"))
        con = duckdb.connect()
        try:
            for t in self.cc.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            self.want = {}
            for q in CATALOG_MIX:
                tbl = con.sql(ORACLES[q]).fetch_arrow_table()
                cols = tbl.column_names
                rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
                self.want[q] = (len(rows), sorted(cols), self.cc.table_hash(cols, rows))
        finally:
            con.close()
        cold = Window()
        self.run_step(cold)  # cold round: JIT and worker warm-up
        self.cold_ms = cold.op_ms[0]

    def step(self, win: Window) -> None:
        """One round: every query of the mix once, in the seed's order. The
        round, not the query, is the timed step: query latencies are eight
        clusters, and a median over them falls in a gap between two."""
        for q in self.order:
            self.query(q, win)

    def query(self, q: str, win: Window) -> None:
        self.pos += 1
        self.attempted += 1
        try:
            with self.timed(), self.op(f"q{self.pos}", "query"):
                with self.tracer.span(f"functions.{q}") if self.tracer else nullcontext():
                    t0 = time.perf_counter()
                    sdf = self.queries[q](self.spark, self.data)
                    cols = sdf.columns
                    rows = [tuple(r) for r in sdf.collect()]
                    self.spark.catalog.clearCache()
                    ms = (time.perf_counter() - t0) * 1000.0
        except Exception:
            self.fail(f"{q} raised:\n" + traceback.format_exc())
            return
        got = (len(rows), sorted(cols), self.cc.table_hash(cols, rows))
        if got != self.want[q]:
            self.fail(f"{q}: got {got}, oracle {self.want[q]}")
        win.add(q, ms)
        win.work += 1

    def check(self) -> None:
        pass  # every answer was checked as it arrived
