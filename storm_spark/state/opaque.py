"""OpaqueValue / TransactionalValue — per-value exactly-once protocol.

Parity: ``trident/state/OpaqueValue.java:22-58`` and
``trident/state/TransactionalValue.java:23-44``. This is the protocol's one
scalar form — :class:`storm_spark.state.memory.MemoryMapState` stores
``OpaqueValue`` records and applies them exactly like ``OpaqueMap``:
``value.update(txid, combine(value.get(txid), delta))``. The one column form
is the ``__curr__/__prev__/__txid__`` decision in
:class:`storm_spark.state.parquet_state.ParquetMapState`.
"""

from __future__ import annotations

from typing import Any


class OpaqueValue:
    """``{curr_txid, curr, prev}`` — updatable even when replayed batches
    differ: an update under the stored txid recomputes from ``prev``."""

    def __init__(self, curr_txid: int | None, curr: Any, prev: Any = None):
        self.curr_txid = curr_txid
        self.curr = curr
        self.prev = prev

    def update(self, batch_txid: int | None, value: Any) -> "OpaqueValue":
        """Parity: ``OpaqueValue.java:37-47`` — including the ``:44`` fail-fast
        when the batch txid is *behind* the stored txid (e.g. a restart with a
        fresh checkpoint whose epoch ids reset to 0 against existing state):
        silently treating it as a new transaction would corrupt the prev/curr
        replay chain."""
        if batch_txid is not None and batch_txid == self.curr_txid:
            return OpaqueValue(batch_txid, value, self.prev)
        self._check_behind(batch_txid)
        return OpaqueValue(batch_txid, value, self.curr)

    def get(self, txid: int | None) -> Any:
        """Parity: ``OpaqueValue.java:49-58`` — reading under the txid that
        produced ``curr`` sees ``prev``; older txids are an error."""
        if txid is not None and txid == self.curr_txid:
            return self.prev
        self._check_behind(txid)
        return self.curr

    def _check_behind(self, txid: int | None) -> None:
        if txid is not None and self.curr_txid is not None and txid < self.curr_txid:
            raise ValueError(
                f"Current batch ({txid}) is behind state's batch "
                f"({self.curr_txid}): refusing to update (stale/reset txid)"
            )

    def get_curr(self) -> Any:
        return self.curr

    def get_prev(self) -> Any:
        return self.prev

    def __repr__(self) -> str:
        return f"OpaqueValue(txid={self.curr_txid}, curr={self.curr!r}, prev={self.prev!r})"


class TransactionalValue:
    """``{txid, val}`` — skip the update when the stored txid matches
    (requires replayed batches to be identical).
    Parity: ``TransactionalValue.java:23-44``."""

    def __init__(self, txid: int | None, val: Any):
        self.txid = txid
        self.val = val

    def __repr__(self) -> str:
        return f"TransactionalValue(txid={self.txid}, val={self.val!r})"
