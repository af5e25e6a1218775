"""Ports of the reference's state-semantics tests.

Source: ``storm-core/test/clj/storm/trident/state_test.clj:33-115`` — scripted
beginCommit/update/commit sequences including replayed txids, for opaque vs
transactional maps, plus the same scripts against the parquet-backed scale
state (set-oriented merge path).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from storm_spark.operations import Count
from storm_spark.operations.base import CombinerAggregator, ReducerAggregator
from storm_spark.state import (
    MemoryMapState,
    OpaqueValue,
    ParquetMapState,
    StateType,
)


def _count_combine(a, b):
    return (a or 0) + (b or 0)


def single_get(m, key):
    return m.multi_get([(key,)])[0]


def single_update(m, key, amt):
    return m.multi_update([(key,)], [amt], _count_combine, 0)[0]


def _key_schema():
    return StructType().add("k", "string")


def test_opaque_value():
    # state_test.clj:33-58
    opqval = OpaqueValue(8, "v1", "v0")
    upval0 = opqval.update(8, "v2")
    upval1 = opqval.update(9, "v2")
    assert opqval.get(None) == "v1"
    assert opqval.get(100) == "v1"
    assert opqval.get(9) == "v1"
    assert opqval.get(8) == "v0"
    with pytest.raises(ValueError):
        opqval.get(7)
    assert opqval.get_prev() == "v0"
    assert opqval.get_curr() == "v1"
    # update with current txid keeps prev; new txid rolls curr into prev
    assert upval0.get_prev() == "v0" and upval0.get_curr() == "v2"
    assert upval1.get_prev() == "v1" and upval1.get_curr() == "v2"


def test_opaque_map():
    # state_test.clj:60-77
    m = MemoryMapState(_key_schema(), "count", "bigint", StateType.OPAQUE)
    m.begin_commit(1)
    assert single_get(m, "a") is None
    # intra-batch accumulation (read-your-writes cache)
    assert single_update(m, "a", 1) == 1
    assert single_update(m, "a", 2) == 3
    m.commit(1)
    # replay of txid 1: recompute from prev
    m.begin_commit(1)
    assert single_get(m, "a") is None
    assert single_update(m, "a", 2) == 2
    m.commit(1)
    m.begin_commit(2)
    assert single_get(m, "a") == 2
    assert single_update(m, "a", 3) == 5
    assert single_update(m, "a", 1) == 6
    m.commit(2)


def test_transactional_map():
    # state_test.clj:79-98
    m = MemoryMapState(_key_schema(), "count", "bigint", StateType.TRANSACTIONAL)
    m.begin_commit(1)
    assert single_get(m, "a") is None
    assert single_update(m, "a", 1) == 1
    assert single_update(m, "a", 2) == 3
    m.commit(1)
    m.begin_commit(1)
    assert single_get(m, "a") == 3
    # same-txid replay: updates are no-ops
    assert single_update(m, "a", 1) == 3
    assert single_update(m, "a", 2) == 3
    m.commit(1)
    m.begin_commit(2)
    assert single_get(m, "a") == 3
    assert single_update(m, "a", 3) == 6
    assert single_update(m, "a", 1) == 7
    m.commit(2)


# ---------------------------------------------------------------------------
# Same protocols on the parquet scale path (set-oriented epoch merges)
# ---------------------------------------------------------------------------


def _batch(spark, pairs):
    return spark.createDataFrame(
        [(k, v) for k, v in pairs],
        StructType().add("k", "string").add("__delta__", "long"),
    )


def test_parquet_opaque_replay_with_changed_batch(spark, tmp_path):
    """Opaque: replaying a txid with *different* batch content recomputes
    from prev — the defining opaque-source guarantee (OpaqueMap.java:54-85)."""
    st = ParquetMapState(
        spark, str(tmp_path / "s1"), _key_schema(), "count", "bigint", StateType.OPAQUE, 4
    )
    agg = Count()
    st.begin_commit(1)
    st.update_from_agg(_batch(spark, [("a", 2), ("b", 1)]), agg, 1)
    st.commit(1)
    assert st.as_dict() == {("a",): 2, ("b",): 1}

    st.begin_commit(2)
    st.update_from_agg(_batch(spark, [("a", 3)]), agg, 2)
    st.commit(2)
    assert st.as_dict() == {("a",): 5, ("b",): 1}

    # replay txid 2 with DIFFERENT content: a+10 instead of a+3, plus new key c
    st.begin_commit(2)
    st.update_from_agg(_batch(spark, [("a", 10), ("c", 7)]), agg, 2)
    st.commit(2)
    assert st.as_dict() == {("a",): 12, ("b",): 1, ("c",): 7}

    # replay again with the original content: converges to the original result
    st.begin_commit(2)
    st.update_from_agg(_batch(spark, [("a", 3)]), agg, 2)
    st.commit(2)
    assert st.as_dict() == {("a",): 5, ("b",): 1, ("c",): 7}


def test_parquet_transactional_replay_skips(spark, tmp_path):
    st = ParquetMapState(
        spark,
        str(tmp_path / "s2"),
        _key_schema(),
        "count",
        "bigint",
        StateType.TRANSACTIONAL,
        4,
    )
    agg = Count()
    st.begin_commit(1)
    st.update_from_agg(_batch(spark, [("a", 2)]), agg, 1)
    st.commit(1)
    st.begin_commit(2)
    st.update_from_agg(_batch(spark, [("a", 3), ("b", 4)]), agg, 2)
    st.commit(2)
    assert st.as_dict() == {("a",): 5, ("b",): 4}
    # identical replay of txid 2: stored txid matches -> skip
    st.begin_commit(2)
    st.update_from_agg(_batch(spark, [("a", 3), ("b", 4)]), agg, 2)
    st.commit(2)
    assert st.as_dict() == {("a",): 5, ("b",): 4}


def test_parquet_multi_get(spark, tmp_path):
    st = ParquetMapState(
        spark, str(tmp_path / "s3"), _key_schema(), "count", "bigint", StateType.OPAQUE, 4
    )
    st.begin_commit(1)
    st.update_from_agg(_batch(spark, [("x", 5), ("y", 6)]), Count(), 1)
    st.commit(1)
    assert st.multi_get([("x",), ("nope",), ("y",)]) == [5, None, 6]


def test_parquet_incremental_bucket_rewrite(spark, tmp_path):
    """The scale property: an epoch touching one key rewrites ONLY that key's
    bucket — untouched buckets carry forward by manifest reference."""
    import json
    import os

    path = str(tmp_path / "s4")
    st = ParquetMapState(
        spark, path, _key_schema(), "count", "bigint", StateType.OPAQUE, 8
    )
    # epoch 1: many keys spread over several buckets
    keys = [(f"k{i}", 1) for i in range(40)]
    st.begin_commit(1)
    st.update_from_agg(_batch(spark, keys), Count(), 1)
    st.commit(1)
    m1 = json.load(open(os.path.join(path, "_VERSION.json")))["buckets"]
    seqs1 = set(m1.values())
    assert len(seqs1) == 1  # all buckets written by the first sequence

    # epoch 2: touch a single key
    st.begin_commit(2)
    st.update_from_agg(_batch(spark, [("k3", 9)]), Count(), 2)
    st.commit(2)
    m2 = json.load(open(os.path.join(path, "_VERSION.json")))["buckets"]
    new_seqs = {b for b, s in m2.items() if s not in seqs1}
    assert len(new_seqs) == 1  # exactly one bucket advanced
    carried = {b for b, s in m2.items() if s in seqs1}
    assert len(carried) == len(m2) - 1  # the rest carried forward by reference

    # values unaffected by the layout mechanics
    d = st.as_dict()
    assert d[("k3",)] == 10
    assert d[("k7",)] == 1
    assert len(d) == 40


def test_parquet_empty_batch_preserves_state(spark, tmp_path):
    """Empty epoch: state unchanged, commit still succeeds (verify probe)."""
    st = ParquetMapState(
        spark, str(tmp_path / "s5"), _key_schema(), "count", "bigint", StateType.OPAQUE, 4
    )
    st.begin_commit(1)
    st.update_from_agg(_batch(spark, [("a", 2)]), Count(), 1)
    st.commit(1)
    st.begin_commit(2)
    st.update_from_agg(_batch(spark, []), Count(), 2)
    st.commit(2)
    assert st.as_dict() == {("a",): 2}


class ConcatReducer(ReducerAggregator):
    """ReducerAggregator: fold words into a '+'-joined string (order within a
    batch follows the fold; deterministic for single-partition feeds)."""

    value_type = "string"

    def init(self):
        return ""

    def reduce(self, curr, tup):
        w = tup["word"]
        return w if not curr else f"{curr}+{w}"


def test_reducer_persistent_aggregate_memory(spark):
    from storm_spark import FeederSource, LocalCluster, Topology
    from storm_spark.state import MemoryMapState

    topo = Topology(spark)
    feeder = FeederSource(["word"])
    st = (
        topo.new_stream("s", feeder)
        .group_by(["word"])
        .persistent_aggregate(MemoryMapState.factory(), ["word"], ConcatReducer(), ["joined"])
    )
    cluster = LocalCluster(topo)
    cluster.feed(feeder, [["a"], ["b"], ["a"]])
    d1 = {k[0]: v for k, v in st.state.as_dict().items()}
    assert d1 == {"a": "a+a", "b": "b"}
    cluster.feed(feeder, [["a"]])
    d2 = {k[0]: v for k, v in st.state.as_dict().items()}
    assert d2 == {"a": "a+a+a", "b": "b"}


def test_reducer_persistent_aggregate_parquet_opaque_replay(spark, tmp_path):
    """Reducer fold over ParquetMapState: opaque replay with CHANGED batch
    content recomputes from prev (MapReducerAggStateUpdater + OpaqueMap)."""
    from storm_spark import FeederSource, LocalCluster, Topology

    topo = Topology(spark)
    feeder = FeederSource(["word"])
    st = (
        topo.new_stream("s", feeder)
        .group_by(["word"])
        .persistent_aggregate(
            ParquetMapState.factory(str(tmp_path / "red")), ["word"], ConcatReducer(), ["joined"]
        )
    )
    cluster = LocalCluster(topo)
    t1 = cluster.feed(feeder, [["a"], ["a"], ["b"]])
    d1 = {k[0]: v for k, v in st.state.as_dict().items()}
    assert d1 == {"a": "a+a", "b": "b"}

    t2 = cluster.feed(feeder, [["a"]])
    assert {k[0]: v for k, v in st.state.as_dict().items()}["a"] == "a+a+a"
    # replay txid 2 with DIFFERENT content: recompute from prev ("a+a")
    cluster.feed(feeder, [["a"], ["a"]], txid=t2)
    d3 = {k[0]: v for k, v in st.state.as_dict().items()}
    assert d3["a"] == "a+a+a+a"
    assert d3["b"] == "b"


# ---------------------------------------------------------------------------
# Composite state (Avg -> Sum+Count struct behind one persistent_aggregate)
# ---------------------------------------------------------------------------


def test_persistent_avg_memory(spark):
    from storm_spark.operations import Avg, MapGet
    from storm_spark.topology import FeederSource, LocalCluster, Topology

    topo = Topology(spark)
    feeder = FeederSource(["k", "v"], ["string", "bigint"])
    st = (
        topo.new_stream("s", feeder)
        .group_by(["k"])
        .persistent_aggregate(MemoryMapState.factory(), ["v"], Avg(), ["avg_v"])
    )
    cluster = LocalCluster(topo)
    cluster.feed(feeder, [["a", 10], ["a", 20], ["b", 7]])
    cluster.feed(feeder, [["a", 60], ["b", 1]])
    got = {r["k"]: r["avg_v"] for r in st.dataframe().collect()}
    assert got == {"a": 30.0, "b": 4.0}


def test_persistent_avg_parquet_with_replay(spark, tmp_path):
    from storm_spark.operations import Avg
    from storm_spark.topology import FeederSource, LocalCluster, Topology

    topo = Topology(spark)
    feeder = FeederSource(["k", "v"], ["string", "bigint"])
    st = (
        topo.new_stream("s", feeder)
        .group_by(["k"])
        .persistent_aggregate(
            ParquetMapState.factory(str(tmp_path / "avg")), ["v"], Avg(), ["avg_v"]
        )
    )
    cluster = LocalCluster(topo)
    cluster.feed(feeder, [["a", 10], ["a", 20]])
    t2 = cluster.feed(feeder, [["a", 60]])
    got = {r["k"]: r["avg_v"] for r in st.dataframe().collect()}
    assert got == {"a": 30.0}
    # opaque replay of t2 with CHANGED content: recompute from prev pair
    cluster.feed(feeder, [["a", 90], ["b", 5]], txid=t2)
    got = {r["k"]: r["avg_v"] for r in st.dataframe().collect()}
    assert got == {"a": 40.0, "b": 5.0}  # (10+20+90)/3


def test_persistent_avg_snapshot_global(spark):
    from storm_spark.operations import Avg
    from storm_spark.topology import FeederSource, LocalCluster, Topology

    topo = Topology(spark)
    feeder = FeederSource(["v"], ["bigint"])
    st = topo.new_stream("s", feeder).persistent_aggregate(
        MemoryMapState.factory(), ["v"], Avg(), ["avg_v"]
    )
    cluster = LocalCluster(topo)
    cluster.feed(feeder, [[4], [8]])
    cluster.feed(feeder, [[12]])
    rows = st.dataframe().collect()
    assert len(rows) == 1 and rows[0]["avg_v"] == 8.0


# ---------------------------------------------------------------------------
# CachedMap (LRU read cache) + LRUMemoryMapState
# ---------------------------------------------------------------------------


def _mk_memory():
    return MemoryMapState(
        StructType().add("k", "string"), "count", "bigint", StateType.OPAQUE
    )


def test_cached_map_serves_hits_and_writes_through():
    from storm_spark.state import CachedMap

    inner = _mk_memory()
    cm = CachedMap(inner, cache_size=3)
    cm.begin_commit(1)
    cm.multi_update([("a",), ("b",)], [2, 3], _count_combine, 0)
    cm.commit(1)
    # first read of c misses (and caches the None, like the reference's
    # LRUMap); a/b were cached by the update write-through
    assert cm.multi_get([("a",), ("b",), ("c",)]) == [2, 3, None]
    h0, m0 = cm.cache_hits, cm.cache_misses
    assert (h0, m0) == (2, 1)
    # repeat: all hits, no delegate traffic change
    assert cm.multi_get([("a",), ("b",)]) == [2, 3]
    assert cm.cache_hits == h0 + 2 and cm.cache_misses == m0


def test_cached_map_lru_evicts_and_replay_reads_prev():
    from storm_spark.state import CachedMap

    inner = _mk_memory()
    cm = CachedMap(inner, cache_size=2)
    cm.begin_commit(1)
    cm.multi_update([("a",), ("b",), ("c",)], [1, 1, 1], _count_combine, 0)
    cm.commit(1)
    # cache holds only 2 entries (b, c) after the 3-key write-through
    assert len(cm._cache) == 2
    # replay txid 1: begin_commit clears the cache, so the read sees the
    # delegate's PREV value (opaque replay contract), not a stale cached curr
    cm.begin_commit(1)
    assert cm.multi_get([("a",)]) == [None]


def test_lru_memory_map_state_evicts_cold_keys():
    from storm_spark.state import LRUMemoryMapState

    st = LRUMemoryMapState(
        StructType().add("k", "string"), "count", "bigint", StateType.OPAQUE, max_size=2
    )
    st.begin_commit(1)
    st.multi_update([("a",), ("b",)], [1, 1], _count_combine, 0)
    st.commit(1)
    st.begin_commit(2)
    st.multi_get([("a",)])  # touch a: b becomes the LRU key
    st.multi_update([("c",)], [1], _count_combine, 0)
    st.commit(2)
    assert set(st.as_dict()) == {("a",), ("c",)}  # b evicted
    # evicted key restarts from zero on the next write
    st.begin_commit(3)
    assert st.multi_update([("b",)], [5], _count_combine, 0) == [5]
    st.commit(3)


# ---------------------------------------------------------------------------
# One replay protocol across backends and combine steps
# ---------------------------------------------------------------------------


class PyCount(CombinerAggregator):
    """Python-only combiner (no ``*_expr`` hooks): the portable slow path."""

    def init(self, tup):
        return 1

    def combine(self, a, b):
        return a + b

    def zero(self):
        return 0


class CountReducer(ReducerAggregator):
    def init(self):
        return 0

    def reduce(self, curr, tup):
        return curr + 1


def _word_state(spark, factory, agg):
    from storm_spark import FeederSource, LocalCluster, Topology

    topo = Topology(spark)
    feeder = FeederSource(["word"])
    st = (
        topo.new_stream("s", feeder)
        .group_by(["word"])
        .persistent_aggregate(factory, ["word"], agg, ["count"])
    )
    return LocalCluster(topo), feeder, st


def _words(rows):
    return [[w] for w in rows]


def _as_words(st):
    return {k[0]: v for k, v in st.state.as_dict().items()}


def test_python_combiner_into_parquet_matches_memory(spark, tmp_path):
    """A combiner with only init/combine/zero merges into ParquetMapState
    through the python combine kernel — same answer as MemoryMapState,
    including a same-txid replay with a changed batch."""
    got = []
    for factory in (
        MemoryMapState.factory(),
        ParquetMapState.factory(str(tmp_path / "pycount"), num_buckets=4),
    ):
        cluster, feeder, st = _word_state(spark, factory, PyCount())
        cluster.feed(feeder, _words("aba"))
        t2 = cluster.feed(feeder, _words("a"))
        cluster.feed(feeder, _words("ac"), txid=t2)
        got.append(_as_words(st))
    assert got[0] == got[1] == {"a": 3, "b": 1, "c": 1}


# final state after the script in test_replay_protocol_matrix: the replay of
# txid 2 adds "a" twice and a new key "c"
_MATRIX_EXPECTED = {
    StateType.OPAQUE: {"a": 4, "b": 3, "c": 1},  # replay recomputes from prev
    StateType.TRANSACTIONAL: {"a": 3, "b": 3, "c": 1},  # replay skips stored keys
    StateType.NON_TRANSACTIONAL: {"a": 5, "b": 3, "c": 1},  # replay applies again
}


@pytest.mark.parametrize("state_type", list(StateType), ids=lambda s: s.value)
@pytest.mark.parametrize("backend", ["memory", "parquet_count", "parquet_reducer"])
def test_replay_protocol_matrix(spark, tmp_path, backend, state_type):
    if backend == "memory":
        factory, agg = MemoryMapState.factory(state_type), Count()
    else:
        factory = ParquetMapState.factory(str(tmp_path / backend), state_type, num_buckets=4)
        agg = Count() if backend == "parquet_count" else CountReducer()
    cluster, feeder, st = _word_state(spark, factory, agg)
    cluster.feed(feeder, _words("aba"))
    t2 = cluster.feed(feeder, _words("ab"))
    cluster.feed(feeder, _words("aac"), txid=t2)
    t3 = cluster.feed(feeder, _words("b"))
    assert _as_words(st) == _MATRIX_EXPECTED[state_type]
    if state_type is not StateType.NON_TRANSACTIONAL:
        with pytest.raises(Exception, match="behind"):
            cluster.feed(feeder, _words("b"), txid=t3 - 1)


def test_parquet_count_merge_runs_no_python(spark, tmp_path):
    """The Count merge is one join plus one projection — no Python node;
    a reducer's combine runs in exactly one Arrow kernel."""
    from storm_spark.operations.base import ReducerStateAgg

    st = ParquetMapState(spark, str(tmp_path / "plan"), _key_schema(), "count", "bigint")

    def merge_plan(delta_type, agg):
        joined = spark.createDataFrame(
            [], f"k string, __curr__ bigint, __prev__ bigint, __txid__ bigint, __b__ {delta_type}"
        )
        return st._merge(joined, agg, 1)._jdf.queryExecution().executedPlan().toString()

    count_plan = merge_plan("bigint", Count())
    for node in ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in count_plan
    reducer = ReducerStateAgg(CountReducer(), ["word"])
    assert merge_plan("array<struct<word:string>>", reducer).count("MapInArrow") == 1
