"""LinearDRPCTopologyBuilder — the pre-Trident linear DRPC pipeline.

Parity: ``backtype/storm/drpc/LinearDRPCTopologyBuilder.java:48-95`` and its
helper bolts ``PrepareRequest.java`` (request-id assignment; args / return /
id streams), ``JoinResult.java`` (pair each request's single result tuple
with its return info), ``KeyedFairBolt.java`` (per-key round-robin
interleave), plus the ``IBatchBolt`` contract
(``coordination/IBatchBolt.java``: ``prepare(id)`` / ``execute(tuple)`` /
``finishBatch``) whose per-request batches the reference assembles with
``CoordinatedBolt``.

Spark-first mapping — requests are ROWS, not threads:

- ``PrepareRequest`` = a ``(request bigint, args string)`` DataFrame, one row
  per in-flight request; many concurrent requests ride ONE plan execution.
- The bolt chain compiles onto the Trident-layer :class:`Stream` exactly like
  the core-Storm facade (``builder._run_bolt``): BasicBolts run Arrow-batched
  with replacement output fields; groupings become repartitions.
- ``IBatchBolt``'s per-request batch (CoordinatedBolt's tracked completion)
  is ``groupBy(request).applyInPandas`` — Spark's bounded batch makes the
  completion protocol (SourceArgs.single/all, the coordination stream)
  unnecessary: a group IS a finished batch. Batch composition matches the
  reference at parallelism 1 (the whole request in one batch); the scale path
  for heavy per-request aggregation is the Trident layer
  (``Topology.new_drpc_stream``), as in the reference post-deprecation.
- ``JoinResult`` + ``ReturnResults`` = join the terminal ``(id, result)``
  frame back to the args frame on request id; the caller gets each request's
  single result value.

The reference marks this builder ``@Deprecated`` ("Trident subsumes the
functionality"); it is ported because reference users still run these
topologies.
"""

from __future__ import annotations

import copy as _copy
from typing import Any, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from storm_spark.builder import BasicBolt, BoltCollector, _run_bolt
from storm_spark.operations.base import TridentTuple
from storm_spark.stream import Context, Stream, _parse_ddl
from storm_spark.topology import LocalCluster, Topology


class BatchBolt:
    """Parity: ``coordination/IBatchBolt.java`` — one instance per request
    batch. ``prepare(request_id)`` → ``execute(tuple)`` per tuple →
    ``finish_batch(collector)`` emits. Output fields REPLACE input fields
    (core-Storm contract). The first input field is always the request id
    (``PrepareRequest`` convention, carried through the chain)."""

    out_fields: list[str] = []
    out_types: list[str] = []

    def prepare(self, request_id: Any) -> None:
        pass

    def execute(self, tup: TridentTuple) -> None:
        raise NotImplementedError

    def finish_batch(self, collector: BoltCollector) -> None:
        raise NotImplementedError


class KeyedFairBolt:
    """Parity: ``KeyedFairBolt.java:31-60`` — wraps a bolt so concurrent
    requests are serviced round-robin per key instead of FIFO. Fairness is a
    single-task *scheduling* concern in the reference (a KeyedRoundRobinQueue
    feeding one executor thread); under Spark every in-flight request is a
    row group processed in parallel by the task scheduler, so the wrapper is
    semantically a pass-through — kept so reference topologies compile
    unchanged."""

    def __init__(self, delegate):
        self.delegate = delegate


class _Component:
    def __init__(self, bolt):
        self.bolt = bolt
        self.groupings: list[tuple] = []  # applied to this bolt's INPUT


class _LinearInputDeclarer:
    """Parity: ``LinearDRPCInputDeclarer`` (inner interface of
    ``LinearDRPCTopologyBuilder.java``) — fluent groupings on the implicit
    edge from the previous component."""

    def __init__(self, component: _Component):
        self._c = component

    def fields_grouping(self, fields: Sequence[str]) -> "_LinearInputDeclarer":
        self._c.groupings.append(("fields", list(fields)))
        return self

    def global_grouping(self) -> "_LinearInputDeclarer":
        self._c.groupings.append(("global",))
        return self

    def shuffle_grouping(self) -> "_LinearInputDeclarer":
        return self  # per-batch semantics need no repartition

    def none_grouping(self) -> "_LinearInputDeclarer":
        return self

    def local_or_shuffle_grouping(self) -> "_LinearInputDeclarer":
        return self

    def all_grouping(self) -> "_LinearInputDeclarer":
        return self


class LocalDRPC:
    """Parity: ``ILocalDRPC`` / ``LocalDRPC.execute`` — the in-process DRPC
    client handle returned by ``create_local_topology``."""

    def __init__(self, topology: Topology, function: str, terminal: Stream):
        self._topology = topology
        self._function = function
        self._terminal = terminal  # fields: [request, result]

    def _requests(self, args_list: Sequence[str]) -> tuple[DataFrame, DataFrame]:
        """The ``(request, args)`` frame and the terminal's ``(request,
        result)`` plan over it — one request id per element, so duplicate
        args are distinct requests."""
        spark = self._topology.spark
        adf = spark.createDataFrame(
            [(i, a) for i, a in enumerate(args_list)],
            StructType().add("request", _parse_ddl("bigint")).add("args", _parse_ddl("string")),
        )
        ctx = Context(spark, {f"__lineardrpc__:{self._function}": adf}, 0)
        return adf, self._terminal.build(ctx)

    def dataframe(self, args_list: Sequence[str]) -> DataFrame:
        """All requests as one plan execution: ``(args, result)`` rows —
        JoinResult's pairing, uncollected for composition into larger plans."""
        adf, res = self._requests(args_list)
        return adf.join(res, "request", "left").select("args", "result")

    def execute(self, args: str) -> Any:
        """One request → its single result value (the reference returns the
        stringified result over the DRPC return channel)."""
        rows = self.dataframe([args]).collect()
        return rows[0]["result"] if rows else None

    def execute_many(self, args_list: Sequence[str]) -> list[Any]:
        """N concurrent requests, one execution — returns one result per
        request, aligned to ``args_list`` order (JoinResult keys on request
        id, so duplicate args are distinct requests with their own results)."""
        _, res = self._requests(args_list)
        m = {r["request"]: r["result"] for r in res.collect()}
        return [m.get(i) for i in range(len(args_list))]


class LinearDRPCTopologyBuilder:
    """Parity: ``LinearDRPCTopologyBuilder.java:48-95``."""

    def __init__(self, topology: Topology, function: str):
        self._topology = topology
        self._function = function
        self._components: list[_Component] = []

    def add_bolt(self, bolt, parallelism: int = 1) -> _LinearInputDeclarer:
        """Accepts a :class:`BasicBolt` (``addBolt(IBasicBolt)``), a
        :class:`BatchBolt` (``addBolt(IBatchBolt)``), or either wrapped in
        :class:`KeyedFairBolt`. ``parallelism`` is API parity; Spark owns
        task counts."""
        c = _Component(bolt)
        self._components.append(c)
        return _LinearInputDeclarer(c)

    def create_local_topology(self, cluster: LocalCluster | None = None) -> LocalDRPC:
        """Parity: ``createLocalTopology(ILocalDRPC)`` — compiles the chain,
        registers the terminal so ``LocalCluster.execute_drpc`` also routes to
        it, and returns the :class:`LocalDRPC` client."""
        if not self._components:
            raise RuntimeError("LinearDRPCTopologyBuilder needs at least one bolt")
        terminal = self._compile()
        self._topology._register_drpc_terminal(
            self._function, _as_trident_terminal(terminal, self._topology, self._function)
        )
        return LocalDRPC(self._topology, self._function, terminal)

    # -- compile -------------------------------------------------------------

    def _compile(self) -> Stream:
        topo = self._topology
        binding = f"__lineardrpc__:{self._function}"

        def build_source(ctx: Context) -> DataFrame:
            adf = ctx.bindings.get(binding)
            if adf is None:
                # Trident-path entry (execute_drpc) binds an args-only frame;
                # PrepareRequest assigns ids deterministically.
                adf = ctx.bindings.get(f"__drpc__:{self._function}")
            if adf is None:
                return topo.spark.createDataFrame(
                    [], StructType().add("request", _parse_ddl("bigint")).add("args", _parse_ddl("string"))
                )
            if "request" not in adf.columns:
                adf = adf.withColumn(
                    "request", F.row_number().over(Window.orderBy("args")).cast("bigint")
                )
            return adf.select("request", "args")

        s = Stream(topo, build_source, ["request", "args"], f"lineardrpc:{self._function}")

        for c in self._components:
            for g in c.groupings:
                if g[0] == "fields":
                    s = s.partition_by(g[1])
                elif g[0] == "global":
                    s = s.global_()
            bolt = c.bolt.delegate if isinstance(c.bolt, KeyedFairBolt) else c.bolt
            if isinstance(bolt, BatchBolt):
                s = _run_batch_bolt(s, bolt)
            elif isinstance(bolt, BasicBolt):
                streams = _run_bolt(s, bolt)
                if set(streams) != {"default"}:
                    raise RuntimeError(
                        "Must declare exactly one stream from last bolt in LinearDRPCTopology"
                        if c is self._components[-1]
                        else f"LinearDRPC bolts use the default stream; got {sorted(streams)}"
                    )
                s = streams["default"]
            else:
                raise TypeError(f"unsupported bolt type: {type(bolt)}")

        if len(s.fields) != 2:
            # Parity: the reference's RuntimeException on the last component.
            raise RuntimeError(
                "Output stream of last component in LinearDRPCTopology must "
                "contain exactly two fields. The first should be the request "
                "id, and the second should be the result."
            )
        id_f, res_f = s.fields

        def build_joined(ctx: Context, _s=s) -> DataFrame:
            # JoinResult: one result tuple per request id.
            return _s.build(ctx).select(
                F.col(id_f).cast("bigint").alias("request"), F.col(res_f).alias("result")
            )

        return Stream(topo, build_joined, ["request", "result"], f"lineardrpc-join:{self._function}")


def _as_trident_terminal(terminal: Stream, topo: Topology, function: str) -> Stream:
    """Project the result column only, so the Trident-entry
    ``LocalCluster.execute_drpc(function, args)`` returns ``[[result]]`` like
    ``ReturnResults`` (the request id is plumbing, not payload)."""

    def build(ctx: Context) -> DataFrame:
        return terminal.build(ctx).select("result")

    return Stream(topo, build, ["result"], f"lineardrpc-return:{function}")


def _run_batch_bolt(stream: Stream, bolt: BatchBolt) -> Stream:
    """Per-request batch execution: ``groupBy(request).applyInPandas`` — one
    fresh bolt instance per request batch (``IBatchBolt`` is one-instance-
    per-batch in the reference; ``BatchBoltExecutor.execute`` routes on batch
    id). Output fields replace input fields."""
    import pandas as pd

    out_fields = list(bolt.out_fields)
    out_schema = StructType()
    for n, t in zip(out_fields, bolt.out_types):
        out_schema = out_schema.add(n, _parse_ddl(t))
    in_fields = list(stream.fields)
    request_field = in_fields[0]

    def build(ctx: Context) -> DataFrame:
        df = stream._build(ctx)
        idx = {f: i for i, f in enumerate(in_fields)}

        def run(key, pdf):
            b = _copy.deepcopy(bolt)
            b.prepare(key[0])
            coll = BoltCollector()
            for row in pdf[in_fields].itertuples(index=False, name=None):
                b.execute(TridentTuple(list(row), idx))
            b.finish_batch(coll)
            return pd.DataFrame(coll.rows, columns=out_fields)

        return df.groupBy(request_field).applyInPandas(run, out_schema)

    return Stream(stream._topology, build, out_fields, "batchbolt")
