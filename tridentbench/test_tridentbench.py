"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest tridentbench -q
"""

from __future__ import annotations

import pandas as pd
import pytest

import inputs
from spans import PROBE, Tracer
from stats import TAIL_PERCENTILES, nearest_rank, tail


def test_same_seed_same_inputs():
    a = [inputs.sentences(7, b, 50, 1000, 1.2) for b in range(3)]
    b = [inputs.sentences(7, b, 50, 1000, 1.2) for b in range(3)]
    assert a == b
    assert [inputs.drpc_args(7, r, 1000, 1.2) for r in range(5)] == [
        inputs.drpc_args(7, r, 1000, 1.2) for r in range(5)
    ]
    t1, t2 = inputs.catalog_tables(7, 200), inputs.catalog_tables(7, 200)
    assert t1.keys() == t2.keys()
    for name in t1:
        pd.testing.assert_frame_equal(t1[name], t2[name])


def test_other_seed_other_inputs():
    assert inputs.sentences(7, 0, 50, 1000, 1.2) != inputs.sentences(8, 0, 50, 1000, 1.2)
    # batch i does not depend on which batches were drawn before it
    assert inputs.sentences(7, 2, 50, 1000, 1.2) != inputs.sentences(7, 1, 50, 1000, 1.2)


def test_sentence_shape_and_key_range():
    sents = inputs.sentences(1, 0, 100, 50, 1.1)
    assert len(sents) == 100
    words = [w for s in sents for w in s.split(" ")]
    assert len(words) == 100 * inputs.WORDS_PER_SENTENCE
    assert {int(w[1:], 16) for w in words} <= set(range(50))


@pytest.mark.parametrize(
    "n, label",
    [(1, "max"), (19, "max"), (20, "p50"), (39, "p50"), (40, "p75"),
     (100, "p90"), (199, "p90"), (200, "p95"), (1000, "p99"), (10000, "p99.9")],
)
def test_tail_keeps_ten_samples_beyond(n, label):
    xs = [float(i) for i in range(n)]
    v, got_label, got_n = tail(list(reversed(xs)))
    assert (got_label, got_n) == (label, n)
    if label == "max":
        assert v == n - 1
        return
    assert sum(x > v for x in xs) >= 10
    # every higher candidate percentile would leave fewer than ten beyond it
    for p in TAIL_PERCENTILES:
        if p > float(label[1:]):
            assert n - 1 - nearest_rank(xs, p) < 10


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        tail([])


def test_expected_counts_hand_checked():
    batches = [["a b a", "c a"], ["b"]]
    c = inputs.expected_counts(batches)
    assert c == {"a": 3, "b": 2, "c": 1}
    # DRPC `words`: each argument occurrence adds its count, misses add 0
    assert inputs.expected_drpc(c, "a") == 3
    assert inputs.expected_drpc(c, "a a") == 6
    assert inputs.expected_drpc(c, "a zz") == 3
    assert inputs.expected_drpc(c, "zz yy") == 0
    assert inputs.expected_drpc(c, "a b c zz") == 6


def test_catalog_tables_have_reference_schema():
    t = inputs.catalog_tables(3, 200)
    assert set(t) == {"region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents", "embeddings"}
    li = t["lineitem"]
    assert (li.groupby("l_orderkey")["l_linenumber"].min() == 1).all()
    assert li["l_orderkey"].isin(t["orders"]["o_orderkey"]).all()
    assert (t["embeddings"]["embedding"].map(len) == 64).all()


def test_tracer_self_time_and_restore():
    class Layer:
        def outer(self, inner):
            inner.inner()
            return "done"

        def inner(self):
            return 1

    tr = Tracer()
    probes = []
    tr.patch(Layer, "outer", "outer")
    tr.patch(Layer, "inner", "inner", before=lambda: probes.append(1))
    orig = Layer.outer
    tr.install()
    try:
        with tr.operation("op1", "batch"):
            assert Layer().outer(Layer()) == "done"
    finally:
        tr.uninstall()
    assert Layer.outer is orig
    assert probes == [1]
    (outer,) = tr.named("outer")
    (inner,) = tr.named("inner")
    (probe,) = tr.named(PROBE)
    assert inner.parent == outer.id and probe.parent == outer.id
    assert {s.op for s in tr.spans} == {"op1"}
    assert tr.self_ms(outer) == pytest.approx(outer.ms - inner.ms - probe.ms, abs=1e-6)
