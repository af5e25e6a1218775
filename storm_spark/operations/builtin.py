"""Built-in operations — parity with ``storm/trident/operation/builtin/*``.

Each class cites its reference counterpart. All hot-path builtins compile to
Catalyst expressions (JVM-side, codegen'd); none execute python per row.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from storm_spark.operations.base import (
    CombinerAggregator,
    ExprFilter,
    ExprFunction,
    PandasFunction,
    TridentCollector,
    TridentTuple,
)

# ---------------------------------------------------------------------------
# Aggregators (CombinerAggregator builtins)
# ---------------------------------------------------------------------------


class Count(CombinerAggregator):
    """Row count. Parity: ``trident/operation/builtin/Count.java:24``."""

    value_type = "bigint"

    def agg_expr(self, cols: list[Column]) -> Column:
        return F.count(F.lit(1))

    def combine_expr(self, a: Column, b: Column) -> Column:
        return a + b

    # python path
    def init(self, tup: TridentTuple) -> int:
        return 1

    def combine(self, a: int, b: int) -> int:
        return a + b

    def zero(self) -> int:
        return 0


class Sum(CombinerAggregator):
    """Sum of the first input column.

    Parity: ``trident/operation/builtin/Sum.java:25`` (``Numbers.add`` handles
    int/long/double — here the Spark type system does).
    """

    def __init__(self, value_type: str = "double"):
        self.value_type = value_type

    def agg_expr(self, cols: list[Column]) -> Column:
        return F.sum(cols[0])

    def combine_expr(self, a: Column, b: Column) -> Column:
        return a + b

    def init(self, tup: TridentTuple) -> Any:
        return tup[0]

    def combine(self, a: Any, b: Any) -> Any:
        return a + b

    def zero(self) -> Any:
        return 0


class Min(CombinerAggregator):
    """Min (engine builtin; the reference has no Min/Max — free Spark win)."""

    def __init__(self, value_type: str = "double"):
        self.value_type = value_type

    def agg_expr(self, cols: list[Column]) -> Column:
        return F.min(cols[0])

    def combine_expr(self, a: Column, b: Column) -> Column:
        return F.least(a, b)

    def zero_expr(self) -> Column:
        return F.lit(None).cast(self.value_type)  # empty batch -> null


class Max(CombinerAggregator):
    def __init__(self, value_type: str = "double"):
        self.value_type = value_type

    def agg_expr(self, cols: list[Column]) -> Column:
        return F.max(cols[0])

    def combine_expr(self, a: Column, b: Column) -> Column:
        return F.greatest(a, b)

    def zero_expr(self) -> Column:
        return F.lit(None).cast(self.value_type)


class Avg(CombinerAggregator):
    """Mean (engine builtin).

    A mean is not state-mergeable as a scalar, so the persistent-state path
    uses the COMPOSITE state protocol (``state_*`` hooks): the stored value
    is a ``struct<s,c>`` Sum+Count pair merged exactly across batches, and
    reads finish it to ``s / c``. ``persistent_aggregate(..., Avg(), ...)``
    therefore Just Works — users never see the pair."""

    value_type = "double"

    def agg_expr(self, cols: list[Column]) -> Column:
        return F.avg(cols[0])

    def zero_expr(self) -> Column:
        return F.lit(None).cast(self.value_type)

    # -- composite state protocol ------------------------------------------
    state_value_type = "struct<s:double,c:bigint>"

    def state_agg_expr(self, cols: list[Column]) -> Column:
        return F.struct(
            F.sum(cols[0].cast("double")).alias("s"), F.count(cols[0]).alias("c")
        )

    def state_zero_expr(self) -> Column:
        return F.struct(F.lit(0.0).alias("s"), F.lit(0).cast("bigint").alias("c"))

    def state_combine_expr(self, a: Column, b: Column) -> Column:
        return F.struct((a["s"] + b["s"]).alias("s"), (a["c"] + b["c"]).alias("c"))

    def finish_expr(self, v: Column) -> Column:
        return v["s"] / v["c"]

    # python twins (MemoryMapState path; values arrive as Row/tuple pairs)
    def state_zero(self):
        return (0.0, 0)

    def state_combine(self, a, b):
        a = a or (0.0, 0)
        b = b or (0.0, 0)
        return (a[0] + b[0], a[1] + b[1])


# ---------------------------------------------------------------------------
# Filters
# ---------------------------------------------------------------------------


class FilterNull(ExprFilter):
    """Drop the row if any selected column is null.

    Parity: ``trident/operation/builtin/FilterNull.java:23``.
    """

    def condition(self, cols: list[Column]) -> Column:
        cond = F.lit(True)
        for c in cols:
            cond = cond & c.isNotNull()
        return cond


class Equals(ExprFilter):
    """Keep if all selected columns are pairwise equal (null-safe).

    Parity: ``trident/operation/builtin/Equals.java:24``.
    """

    def condition(self, cols: list[Column]) -> Column:
        cond = F.lit(True)
        for a, b in zip(cols, cols[1:]):
            cond = cond & a.eqNullSafe(b)
        return cond


class Negate(ExprFilter):
    """Logical NOT of an expression filter.

    Parity: ``trident/operation/builtin/Negate.java:25``.
    """

    def __init__(self, inner: ExprFilter):
        self._inner = inner

    def condition(self, cols: list[Column]) -> Column:
        return ~self._inner.condition(cols)


class TrueFilter(ExprFilter):
    """Identity / planner no-op. Parity: ``operation/impl/TrueFilter.java``."""

    def condition(self, cols: list[Column]) -> Column:
        return F.lit(True)


class Debug(TrueFilter):
    """Pass-through marker. The reference prints each tuple
    (``builtin/Debug.java:23``); in a lazy engine use ``Stream.peek()`` /
    ``df.show()`` at action time instead — this filter is a plan no-op."""


# ---------------------------------------------------------------------------
# Functions
# ---------------------------------------------------------------------------


class Split(ExprFunction):
    """Split a string on single spaces, one row per token.

    Parity: ``trident/testing/Split.java:25-35`` (skips empty tokens).
    """

    def columns(self, cols: list[Column]) -> list[Column]:
        parts = F.filter(F.split(cols[0], " "), lambda x: x != F.lit(""))
        return [F.explode(parts)]


class StringLength(ExprFunction):
    """Parity: ``trident/testing/StringLength.java:25``."""

    def columns(self, cols: list[Column]) -> list[Column]:
        return [F.length(cols[0]).cast("bigint")]


class TuplifyArgs(PandasFunction):
    """Parse a JSON string of rows (``[["a","b"],["c","d"]]``) into tuples.

    Parity: ``trident/testing/TuplifyArgs.java:26`` — used to turn DRPC args
    into multiple input rows.
    """

    def __init__(self, n_out: int = 1):
        self.out_types = ["string"] * n_out

    def execute(self, tup: TridentTuple, collector: TridentCollector) -> None:
        import json

        for row in json.loads(tup[0]):
            collector.emit([str(v) for v in row])


# ---------------------------------------------------------------------------
# State query functions (used with Stream.state_query)
# ---------------------------------------------------------------------------


class QueryFunction:
    """Marker base. Parity: ``trident/state/QueryFunction.java`` — the engine
    replaces batched ``batchRetrieve`` with a join against the state table."""


class MapGet(QueryFunction):
    """Key lookup against a keyed state (left join; null when absent).

    Parity: ``trident/operation/builtin/MapGet.java:28``.
    """


class SnapshotGet(QueryFunction):
    """Append the global snapshot value to every row (cross join with the
    1-row state). Parity: ``trident/operation/builtin/SnapshotGet.java:28``."""


class TupleCollectionGet(QueryFunction):
    """Emit the entire state contents per input tuple (state scan).

    Parity: ``trident/operation/builtin/TupleCollectionGet.java:29``.
    """


# ---------------------------------------------------------------------------
# FirstN (top-k assembly)
# ---------------------------------------------------------------------------


class FirstN:
    """Top-/bottom-N assembly.

    Parity: ``trident/operation/builtin/FirstN.java:31-124`` — per-partition N
    then global N. Spark's ``orderBy().limit()`` compiles to
    ``TakeOrderedAndProject`` which performs the identical partial/final trick;
    the unsorted variant is ``limit(n)``.

    Apply via ``stream.apply_assembly(FirstN(5, "count", reverse=True))``.
    """

    def __init__(self, n: int, sort_field: str | None = None, reverse: bool = False):
        self.n = n
        self.sort_field = sort_field
        self.reverse = reverse

    def apply(self, stream):  # -> Stream
        # Lazy: compose on the deferred plan, never materialize stream.df here
        # (an eager build would capture an empty Context and freeze a
        # Feeder/DRPC-bound stream to its empty first snapshot).
        if self.sort_field is not None:
            order = F.col(self.sort_field).desc() if self.reverse else F.col(self.sort_field).asc()
            return stream._with(
                lambda ctx, _s=stream: _s._build(ctx).orderBy(order).limit(self.n)
            )
        return stream._with(lambda ctx, _s=stream: _s._build(ctx).limit(self.n))
