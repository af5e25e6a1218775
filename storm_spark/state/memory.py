"""In-memory MapState — test/demo backend (driver-side dict).

Parity: ``trident/testing/MemoryMapState.java:33-41`` + the map wrappers
``OpaqueMap.java:27-120`` / ``TransactionalMap.java:27-109``. Each key stores
an :class:`~storm_spark.state.opaque.OpaqueValue` and every update goes
through the protocol's scalar form in ``opaque.py``
(``value.update(txid, combine(value.get(txid), delta))``); the column form of
the same decision is :class:`storm_spark.state.parquet_state.ParquetMapState`,
the scale backend with identical semantics.
"""

from __future__ import annotations

from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from storm_spark.state.base import MapState, StateType
from storm_spark.state.opaque import OpaqueValue

_ABSENT = OpaqueValue(None, None)


class MemoryMapState(MapState):
    def __init__(
        self,
        key_schema: StructType,
        value_field: str,
        value_type: str,
        state_type: StateType = StateType.OPAQUE,
    ):
        self.key_schema = key_schema
        self.value_field = value_field
        self.value_type = value_type
        self.state_type = state_type
        self._map: dict[tuple, OpaqueValue] = {}
        self._cur_txid: int | None = None
        self._last_committed: int | None = None
        # keys already updated during the current commit attempt — later
        # updates in the same attempt accumulate instead of re-triggering the
        # replay protocol (parity: CachedBatchReadsMap.java:27 intra-batch
        # read-your-writes; cleared on beginCommit)
        self._batch_updated: set[tuple] = set()

    @classmethod
    def factory(cls, state_type: StateType = StateType.OPAQUE) -> Callable:
        def make(key_schema: StructType, value_field: str, value_type: str) -> "MemoryMapState":
            return cls(key_schema, value_field, value_type, state_type)

        return make

    # lifecycle ------------------------------------------------------------
    def begin_commit(self, txid: int) -> None:
        self._cur_txid = txid
        self._batch_updated = set()

    def commit(self, txid: int) -> None:
        self._last_committed = txid
        self._cur_txid = None
        self._batch_updated = set()

    # point API ------------------------------------------------------------
    def multi_get(self, keys: Sequence[tuple]) -> list[Any]:
        out = []
        for k in keys:
            k = tuple(k)
            s = self._map.get(k)
            if s is None:
                out.append(None)
            elif (
                self.state_type is StateType.OPAQUE
                and self._cur_txid is not None
                and s.curr_txid == self._cur_txid
                and k not in self._batch_updated
            ):
                # replayed txid, not yet updated this attempt: the read sees
                # the pre-update value (parity: OpaqueValue.java:49-58)
                out.append(s.prev)
            else:
                out.append(s.curr)
        return out

    def multi_put(self, keys: Sequence[tuple], vals: Sequence[Any]) -> None:
        """Set values through the same replay-aware path as multi_update (a
        put is an update whose combine ignores the stored value): a REPLAYED
        txid must keep the original pre-batch ``prev`` (not the prior
        attempt's own write), and the keys must register as batch-updated so
        later reads/updates in this attempt see the new value."""
        self.multi_update(keys, list(vals), lambda _cur, v: v, zero=None)

    def multi_update(
        self,
        keys: Sequence[tuple],
        deltas: Sequence[Any],
        combine: Callable[[Any, Any], Any],
        zero: Any = None,
    ) -> list[Any]:
        # NON_TRANSACTIONAL keeps no txid chain: updating under txid None
        # never replays and never fails the stale check
        t = None if self.state_type is StateType.NON_TRANSACTIONAL else self._cur_txid
        out = []
        for k, d in zip(keys, deltas):
            k = tuple(k)
            s = self._map.get(k)
            if s is not None and k in self._batch_updated:
                # second update within the same commit attempt: plain
                # accumulate (parity: CachedBatchReadsMap intra-batch cache)
                s.curr = combine(s.curr, d)
                out.append(s.curr)
                continue
            s = s or _ABSENT
            replay = t is not None and s.curr_txid == t
            if replay and self.state_type is StateType.TRANSACTIONAL:
                # parity: TransactionalMap.multiUpdate skip (TransactionalMap.java:66-76)
                # — do NOT mark updated: later calls keep skipping
                out.append(s.curr)
                continue
            # parity: OpaqueMap.multiUpdate (OpaqueMap.java:54-85) — get()
            # is prev on a replay, curr otherwise, and fails fast on a txid
            # behind the stored one
            base = s.get(t)
            nv = s.update(t, combine(zero if base is None else base, d))
            self._map[k] = nv
            out.append(nv.curr)
            self._batch_updated.add(k)
        return out

    # set API --------------------------------------------------------------
    def update_from_agg(self, agg_df: DataFrame, agg, txid: int) -> None:
        """Driver-side merge: collects the *aggregated* batch (small by
        definition — one row per touched key). Test fixture only; the scale
        path is ParquetMapState."""
        key_names = [f.name for f in self.key_schema.fields]
        rows = agg_df.collect()
        keys = [tuple(r[k] for k in key_names) for r in rows]
        deltas = [r["__delta__"] for r in rows]
        zero = agg.zero() if hasattr(agg, "zero") else None
        self.multi_update(keys, deltas, agg.combine, zero)

    def dataframe(self, spark: SparkSession) -> DataFrame:
        from storm_spark.stream import _parse_ddl

        schema = StructType(self.key_schema.fields.copy()).add(
            self.value_field, _parse_ddl(self.value_type)
        )
        rows = [(*k, s.curr) for k, s in self._map.items()]
        return spark.createDataFrame(rows, schema)

    def as_dict(self) -> dict[tuple, Any]:
        return {k: s.curr for k, s in self._map.items()}


class LRUMemoryMapState(MemoryMapState):
    """Bounded-memory variant: at most ``max_size`` keys are retained; the
    least-recently-used keys are EVICTED (their state silently restarts from
    zero if written again) — parity:
    ``trident/testing/LRUMemoryMapState.java:34-97`` (LRUMap backing)."""

    def __init__(
        self,
        key_schema: StructType,
        value_field: str,
        value_type: str,
        state_type: StateType = StateType.OPAQUE,
        max_size: int = 1000,
    ):
        from collections import OrderedDict

        super().__init__(key_schema, value_field, value_type, state_type)
        self._map = OrderedDict()
        self.max_size = max_size

    @classmethod
    def factory(
        cls, max_size: int = 1000, state_type: StateType = StateType.OPAQUE
    ) -> Callable:
        def make(key_schema: StructType, value_field: str, value_type: str) -> "LRUMemoryMapState":
            return cls(key_schema, value_field, value_type, state_type, max_size)

        return make

    def _touch_and_evict(self, keys: Sequence[tuple]) -> None:
        for k in keys:
            kt = tuple(k)
            if kt in self._map:
                self._map.move_to_end(kt)
        while len(self._map) > self.max_size:
            self._map.popitem(last=False)

    def multi_get(self, keys: Sequence[tuple]) -> list[Any]:
        out = super().multi_get(keys)
        for k in keys:
            kt = tuple(k)
            if kt in self._map:
                self._map.move_to_end(kt)
        return out

    def multi_put(self, keys: Sequence[tuple], vals: Sequence[Any]) -> None:
        super().multi_put(keys, vals)
        self._touch_and_evict(keys)

    def multi_update(
        self,
        keys: Sequence[tuple],
        deltas: Sequence[Any],
        combine: Callable[[Any, Any], Any],
        zero: Any = None,
    ) -> list[Any]:
        out = super().multi_update(keys, deltas, combine, zero)
        self._touch_and_evict(keys)
        return out
