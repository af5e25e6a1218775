"""ParquetMapState — the scale-path keyed state table.

The column form of the reference's opaque/transactional value protocol
(``OpaqueValue.java:37-58``, ``OpaqueMap.java:54-85``,
``TransactionalMap.java:66-76``; the scalar form is
:mod:`storm_spark.state.opaque`) on a bucket-versioned parquet table:

    state table columns: <key cols...>, __curr__, __prev__, __txid__
    layout:  <path>/data/s<seq>/__bucket__=<b>/*.parquet
    pointer: <path>/_VERSION.json  {"txid": t, "buckets": {"<b>": seq, ...}}

Keys are hash-bucketed (``pmod(hash(keys), num_buckets)``). Per epoch the
engine computes the batch's per-key partial aggregate (one row per touched
key — Spark's partial+final hash agg), finds the TOUCHED buckets, and FULL
OUTER joins only those buckets' state with the batch, deciding per key::

    no stored row          -> curr = combine(zero, delta);       prev = null
    stored.txid == txid    -> curr = combine(prev, delta)        (replay: redo
                              from prev — idempotent even if the batch changed)
    stored.txid <  txid    -> prev = curr; curr = combine(curr, delta)
    stored.txid >  txid    -> error (stale/reset txid)
    delta is null          -> row untouched

TRANSACTIONAL skips the update when stored.txid == txid; NON_TRANSACTIONAL
always combines. The decision is the same for every aggregator; only
``combine`` differs — a Catalyst ``combine_expr`` (one projection over the
join) or, for reducers and python-only combiners, the python ``combine`` in
one Arrow kernel.

The new bucket files land under a fresh write sequence;
``commit(txid)`` atomically flips the manifest so each bucket points at its
latest sequence — untouched buckets carry forward BY REFERENCE, so per-epoch
I/O is O(touched buckets), not O(total state). At cluster scale this becomes
a Delta/Iceberg MERGE (jars not in this image; the merge logic is identical —
the manifest plays the role of the table snapshot).

A replayed txid reads the previously committed manifest while writing its own
sequence, so replay isolation holds even mid-crash. Unreferenced sequences
are garbage-collected at commit.

Scale notes: the merge is one shuffle on the key columns; hot-key batches
touch few buckets; a uniform batch over all keys degrades to a full rewrite
(the same cost as a naive full-state merge). Nothing collects to the driver
except the touched-bucket id list (<= num_buckets ints).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from storm_spark.operations.base import CombinerAggregator
from storm_spark.state.base import MapState, StateType

CURR, PREV, TXID = "__curr__", "__prev__", "__txid__"
BUCKET = "__bucket__"


class ParquetMapState(MapState):
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_schema: StructType,
        value_field: str,
        value_type: str,
        state_type: StateType = StateType.OPAQUE,
        num_buckets: int = 32,
    ):
        self.spark = spark
        self.path = path
        self.key_schema = key_schema
        self.key_names = [f.name for f in key_schema.fields]
        self.value_field = value_field
        self.value_type = value_type
        self.state_type = state_type
        self.num_buckets = num_buckets
        self._cur_txid: int | None = None
        self._pending: dict[str, int] | None = None
        os.makedirs(self._data_dir(), exist_ok=True)

    @classmethod
    def factory(
        cls,
        path: str,
        state_type: StateType = StateType.OPAQUE,
        num_buckets: int = 32,
    ) -> Callable:
        def make(key_schema: StructType, value_field: str, value_type: str) -> "ParquetMapState":
            from storm_spark.session import get_spark

            spark = SparkSession.getActiveSession() or get_spark()
            return cls(spark, path, key_schema, value_field, value_type, state_type, num_buckets)

        return make

    # -- manifest ----------------------------------------------------------

    def _data_dir(self) -> str:
        return os.path.join(self.path, "data")

    def _seq_dir(self, seq: int) -> str:
        return os.path.join(self._data_dir(), f"s{seq}")

    def _meta_path(self) -> str:
        return os.path.join(self.path, "_VERSION.json")

    def _manifest(self) -> dict[str, int]:
        """bucket id (str) -> committed write sequence holding its data."""
        try:
            with open(self._meta_path()) as f:
                return json.load(f)["buckets"]
        except (FileNotFoundError, json.JSONDecodeError, KeyError):
            return {}

    def _next_seq(self) -> int:
        existing = [
            int(d[1:])
            for d in os.listdir(self._data_dir())
            if d.startswith("s") and d[1:].isdigit()
        ]
        return (max(existing) + 1) if existing else 1

    def _full_schema(self) -> StructType:
        from storm_spark.stream import _parse_ddl

        vt = _parse_ddl(self.value_type)
        s = StructType(self.key_schema.fields.copy())
        return s.add(CURR, vt).add(PREV, vt).add(TXID, LongType())

    def _bucket_col(self) -> F.Column:
        return F.pmod(F.hash(*[F.col(k) for k in self.key_names]), F.lit(self.num_buckets))

    def _read_buckets(self, manifest: dict[str, int], buckets: list[int] | None = None) -> DataFrame:
        """Scan the manifest's (bucket -> seq) partition directories — one
        multi-path parquet scan; partition pruning via the explicit dir list."""
        wanted = [str(b) for b in buckets] if buckets is not None else list(manifest)
        dirs = [
            os.path.join(self._seq_dir(manifest[b]), f"{BUCKET}={b}")
            for b in wanted
            if b in manifest
        ]
        dirs = [d for d in dirs if os.path.isdir(d)]
        if not dirs:
            return self.spark.createDataFrame([], self._full_schema())
        # recursiveFileLookup disables partition discovery — the bucket id is
        # derivable from the keys, so the partition column isn't needed and
        # mixed-sequence dir lists would otherwise conflict
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(*dirs)
            .select(*self.key_names, CURR, PREV, TXID)
        )

    # -- lifecycle ---------------------------------------------------------
    def begin_commit(self, txid: int) -> None:
        self._cur_txid = txid
        self._pending = None

    def commit(self, txid: int) -> None:
        if self._pending is not None:
            tmp = self._meta_path() + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"version": max(self._pending.values(), default=0),
                           "txid": txid, "buckets": self._pending}, f)
            os.replace(tmp, self._meta_path())
            # GC: drop write sequences no longer referenced by any bucket
            referenced = {self._pending[b] for b in self._pending}
            for d in os.listdir(self._data_dir()):
                if d.startswith("s") and d[1:].isdigit() and int(d[1:]) not in referenced:
                    shutil.rmtree(os.path.join(self._data_dir(), d), ignore_errors=True)
        self._cur_txid = None
        self._pending = None

    # -- set-oriented merge (the hot path) ---------------------------------
    def update_from_agg(self, agg_df: DataFrame, agg, txid: int) -> None:
        """Merge one epoch's per-key partial aggregates (``__delta__`` col)
        into the touched buckets only."""
        manifest = self._manifest()
        # the batch agg feeds two consumers (touched-bucket discovery + the
        # merge join) — persist so the upstream aggregation runs once
        batch = (
            agg_df.withColumnRenamed("__delta__", "__b__")
            .withColumn(BUCKET, self._bucket_col())
            .persist()
        )
        touched = [r[0] for r in batch.select(BUCKET).distinct().collect()]
        if not touched:
            batch.unpersist()
            self._pending = dict(manifest)  # empty batch: carry all forward
            return
        state = self._read_buckets(manifest, touched)
        j = state.join(batch.drop(BUCKET), on=self.key_names, how="full_outer")
        self._write_merged(self._merge(j, agg, txid), manifest, touched)
        batch.unpersist()

    def _merge(self, j: DataFrame, agg, txid: int) -> DataFrame:
        """The replay decision as columns over the (state FULL OUTER batch)
        join — the column form of ``OpaqueMap``/``TransactionalMap``:

        * ``fold``: combine this row (false for untouched keys and for a
          TRANSACTIONAL same-txid replay; raises on a txid behind the
          stored one — parity: ``OpaqueValue.java:44``, a reset epoch
          counter against existing state would corrupt the replay chain)
        * ``base``: ``prev`` on an OPAQUE same-txid replay, else ``curr``
          (null for a new key: the combine starts from the aggregator's zero)
        * the new ``__prev__`` / ``__txid__``

        Only the combine step differs between aggregators: Catalyst
        ``combine_expr`` when the aggregator defines one (one projection, no
        Python), else the python ``combine`` in one Arrow kernel (reducers
        and python-only combiners)."""
        vt = self.value_type
        s_curr, s_prev, s_txid = F.col(CURR), F.col(PREV), F.col(TXID)
        b = F.col("__b__")
        t = F.lit(txid)
        has_delta = b.isNotNull()
        replay = s_txid == t
        skip = ~has_delta
        if self.state_type is StateType.TRANSACTIONAL:
            skip = skip | replay  # TransactionalMap.java:66-76
        fold = F.when(skip, F.lit(False))
        if self.state_type is not StateType.NON_TRANSACTIONAL:
            fold = fold.when(
                s_txid > t,
                F.raise_error(
                    F.concat(
                        F.lit("Current batch ("),
                        t.cast("string"),
                        F.lit(") is behind state's batch ("),
                        s_txid.cast("string"),
                        F.lit("): refusing to update (stale/reset txid)"),
                    )
                ),
            )
        fold = fold.otherwise(F.lit(True))
        if self.state_type is StateType.OPAQUE:
            base = F.when(replay, s_prev).otherwise(s_curr)
            new_prev = F.when(~has_delta | replay, s_prev).otherwise(s_curr)
        else:
            base, new_prev = s_curr, F.lit(None)
        new_txid = F.when(has_delta, t).otherwise(s_txid)

        def state_cols(curr):
            return [
                *self.key_names,
                curr.cast(vt).alias(CURR),
                new_prev.cast(vt).alias(PREV),
                new_txid.cast("bigint").alias(TXID),
            ]

        if _has_combine_expr(agg):
            combined = agg.combine_expr(F.coalesce(base, agg.zero_expr().cast(vt)), b.cast(vt))
            curr = F.when(fold, combined).otherwise(s_curr)
            return j.select(*state_cols(curr), self._bucket_col().alias(BUCKET))
        decided = j.select(
            *state_cols(s_curr), fold.alias("__fold__"), base.cast(vt).alias("__base__"), b
        )
        return decided.mapInArrow(_python_combine(agg), self._full_schema()).withColumn(
            BUCKET, self._bucket_col()
        )

    def _write_merged(self, out: DataFrame, manifest: dict[str, int], touched: list[int]) -> None:
        seq = self._next_seq()
        (
            out.repartition(len(touched), BUCKET)
            .write.mode("overwrite")
            .partitionBy(BUCKET)
            .parquet(self._seq_dir(seq))
        )
        pending = dict(manifest)
        for bkt in touched:
            pending[str(bkt)] = seq
        self._pending = pending

    # -- point API (parity / tests; batched through the JVM) ---------------
    def multi_get(self, keys: Sequence[tuple]) -> list[Any]:
        df = self.dataframe(self.spark)
        key_rows = self.spark.createDataFrame(
            [tuple(k) for k in keys], StructType(self.key_schema.fields.copy())
        )
        got = {
            tuple(r[k] for k in self.key_names): r[self.value_field]
            for r in key_rows.join(df, on=self.key_names, how="inner").collect()
        }
        return [got.get(tuple(k)) for k in keys]

    def multi_put(self, keys: Sequence[tuple], vals: Sequence[Any]) -> None:
        raise NotImplementedError("use update_from_agg / partition_persist")

    def dataframe(self, spark: SparkSession) -> DataFrame:
        return self._read_buckets(self._manifest()).select(
            *self.key_names, F.col(CURR).alias(self.value_field)
        )

    def as_dict(self) -> dict[tuple, Any]:
        return {
            tuple(r[k] for k in self.key_names): r[self.value_field]
            for r in self.dataframe(self.spark).collect()
        }


def _has_combine_expr(agg) -> bool:
    """Whether ``agg`` merges as a Catalyst expression (its own
    ``combine_expr``) rather than only through python ``combine``."""
    fn = getattr(type(agg), "combine_expr", None)
    return fn is not None and fn is not CombinerAggregator.combine_expr


def _python_combine(agg) -> Callable:
    """Arrow kernel for the combine step of aggregators without
    ``combine_expr``: ``__curr__ = agg.combine(base or agg.zero(), delta)`` on
    the rows the decision folds. ``mapInArrow`` hands over exact python
    values (ints stay ints, nulls are None); the decision columns
    (``__fold__``, ``__base__``, ``__b__``) follow the state columns and are
    dropped."""
    import pyarrow as pa

    def kernel(batches):
        for rb in batches:
            fold, base, delta, curr = (
                rb.column(n).to_pylist() for n in ("__fold__", "__base__", "__b__", CURR)
            )
            new_curr = [
                agg.combine(agg.zero() if x is None else x, d) if f else c
                for f, x, d, c in zip(fold, base, delta, curr)
            ]
            n_out = rb.num_columns - 3
            cols = rb.columns[:n_out]
            i = rb.schema.get_field_index(CURR)
            cols[i] = pa.array(new_curr, type=cols[i].type)
            yield pa.RecordBatch.from_arrays(cols, names=rb.schema.names[:n_out])

    return kernel
