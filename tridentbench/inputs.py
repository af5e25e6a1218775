"""Seeded input generators and the expected-result oracles they imply.

Everything the program under test receives is made here from ``--seed``:
word-count sentences drawn from a Zipf key distribution, DRPC argument
strings, and the small star-schema tables the catalog queries read. The
oracles (``expected_counts``, ``expected_drpc``) are computed from the same
generated tuples, never from the program's own output.
"""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Iterable

import numpy as np
import pandas as pd

WORDS_PER_SENTENCE = 8


def _rng(seed: int, *stream: int) -> np.random.Generator:
    # one independent stream per (seed, purpose, index): batch i's content
    # does not depend on how many batches were drawn before it
    return np.random.default_rng([seed, *stream])


def zipf_ids(rng: np.random.Generator, n: int, vocab: int, a: float) -> np.ndarray:
    """``n`` key ids in ``[0, vocab)`` with a Zipf(a) heavy tail."""
    return (rng.zipf(a, size=n) - 1) % vocab


def words_of(ids: np.ndarray) -> np.ndarray:
    return np.char.add("w", np.char.mod("%x", ids))


def sentences(seed: int, batch: int, n_sentences: int, vocab: int, a: float) -> list[str]:
    """Batch ``batch`` of the sentence stream: ``n_sentences`` lines of
    ``WORDS_PER_SENTENCE`` space-separated words."""
    ids = zipf_ids(_rng(seed, 1, batch), n_sentences * WORDS_PER_SENTENCE, vocab, a)
    w = words_of(ids).reshape(n_sentences, WORDS_PER_SENTENCE)
    return [" ".join(row) for row in w]


def drpc_args(seed: int, request: int, vocab: int, a: float, n_words: int = 4) -> str:
    """One DRPC argument string: ``n_words`` words from the same Zipf, so
    most hit stored keys and some repeat or miss."""
    return " ".join(words_of(zipf_ids(_rng(seed, 2, request), n_words, vocab, a)))


def expected_counts(batches: Iterable[list[str]]) -> Counter:
    """Word count over the sentences of every distinct batch fed: what the
    exactly-once state must hold (a same-txid replay adds nothing)."""
    c: Counter = Counter()
    for sents in batches:
        for s in sents:
            c.update(s.split(" "))
    return c


def expected_drpc(counts: Counter, args: str) -> int:
    """TridentWordCount's ``words`` reply: Split -> MapGet -> FilterNull ->
    Sum, so every argument occurrence adds its stored count and a missing
    word adds nothing."""
    return sum(counts.get(w, 0) for w in args.split(" "))


# -- catalog tables ----------------------------------------------------------

TERMS = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark dup group query row data filter customer "
    "line value agg column vector"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["view", "click", "cart", "purchase", "signup", "error"]


def catalog_tables(seed: int, scale: int) -> dict[str, pd.DataFrame]:
    """The ten tables the query catalog reads, ``scale`` orders' worth, with
    the column names and types of the catalog's reference data. Money has two
    decimals and dates are whole days so integer-cents answers are exact."""
    rng = _rng(seed, 3)
    n_orders, n_cust, n_supp, n_part = scale, max(scale // 10, 25), max(scale // 100, 10), max(scale // 8, 25)
    day0 = np.datetime64("1992-01-01")

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(n: int, span: int) -> np.ndarray:
        return (day0 + rng.integers(0, span, n).astype("timedelta64[D]")).astype("datetime64[us]")

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:06d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:06d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999, 9999, n_supp),
    })
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": money(900, 2000, n_part),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": money(1000, 400000, n_orders),
        "o_orderdate": days(n_orders, 2400),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 100000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": days(n_li, 2500),
    })
    n_ev = scale * 2
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + rng.integers(0, 7 * 86400 * 10**6, n_ev).astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(n_ev // 20, 10), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": money(0, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_docs = max(scale // 5, 50)
    texts = [" ".join(rng.choice(TERMS, rng.integers(8, 70))) for _ in range(n_docs)]
    for i in range(0, n_docs, 10):  # near-duplicates: every 10th doc echoes its neighbour
        if i + 1 < n_docs:
            texts[i + 1] = texts[i] + " " + str(rng.choice(TERMS))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    n_vec = max(scale // 5, 50)
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_vec)
    vecs = (centers[label] + rng.normal(0, 0.8, (n_vec, 64))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vecs),
        "label": label.astype(np.int32),
    })
    return t


def write_catalog(seed: int, scale: int, out_dir: str) -> str:
    """Write the catalog tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in catalog_tables(seed, scale).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir
