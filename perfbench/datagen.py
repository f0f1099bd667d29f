"""Seeded synthetic inputs for the benchmark.

Writes the ten tables that ``__spark_entry__`` queries read (``region``
``nation`` ``customer`` ``supplier`` ``part`` ``orders`` ``lineitem``
``events`` ``documents`` ``embeddings``) as one single-row-group parquet
file each, with the column names, physical types and value ranges of the
project's TPC-H-like test data. Row counts follow the scale factor the
same way (``lineitem`` = 6,000,000 x sf). The seed drives every value, so
the same (seed, scale) always gives byte-identical tables.
``oracle.py`` calls ``write_tables``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["bolt", "gear", "gizmo", "plate", "ring", "rod", "widget", "nut"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_ORDER_DAYS = (np.datetime64("1995-01-01"), np.datetime64("2001-08-01"))
_SHIP_DAYS = (np.datetime64("1995-01-02"), np.datetime64("2001-11-04"))
_EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000
CHAIN_LEN, CHAIN_WORDS, CHAIN_STRIDE = 5, 40, 18


def row_counts(scale: float) -> dict[str, int]:
    n = lambda base: max(1, int(round(base * scale)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _days(rng, span: tuple, size: int) -> np.ndarray:
    lo, hi = span
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, size)
    return (lo + d.astype("timedelta64[D]")).astype("datetime64[us]")


def _pick(rng, values: list[str], size: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=size, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _numbered(prefix: str, size: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(size)], pa.string())


def build_tables(seed: int, scale: float, names=TABLES) -> dict[str, pa.Table]:
    """Every table in ``names``. Each table has its own RNG stream
    derived from ``seed``, so asking for a subset gives the same rows
    as asking for all of them."""
    counts = row_counts(scale)
    out: dict[str, pa.Table] = {}
    for name in names:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        out[name] = _BUILDERS[name](rng, counts)
    return out


def _region(rng, c) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })


def _nation(rng, c) -> pa.Table:
    keys = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": keys,
        "n_name": pa.array([f"NATION_{i}" for i in keys], pa.string()),
        "n_regionkey": keys % 5,
    })


def _customer(rng, c) -> pa.Table:
    n = c["customer"]
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": _numbered("Customer", n),
        "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    })


def _supplier(rng, c) -> pa.Table:
    n = c["supplier"]
    return pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": _numbered("Supplier", n),
        "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def _part(rng, c) -> pa.Table:
    n = c["part"]
    keys = np.arange(n, dtype=np.int64)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    return pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, _PART_TYPES, n),
        "p_size": rng.integers(1, 51, n, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })


def _orders(rng, c) -> pa.Table:
    n = c["orders"]
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, c["customer"], n, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, _ORDER_DAYS, n),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    })


def _lineitem(rng, c) -> pa.Table:
    # keys are drawn independently, as in the project's test data, so
    # (l_orderkey, l_linenumber) repeats: the diff's join fans out
    n = c["lineitem"]
    return pa.table({
        "l_orderkey": rng.integers(0, c["orders"], n, dtype=np.int64),
        "l_partkey": rng.integers(0, c["part"], n, dtype=np.int64),
        "l_suppkey": rng.integers(0, c["supplier"], n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, _SHIP_DAYS, n),
    })


def _events(rng, c) -> pa.Table:
    n = c["events"]
    offs = np.sort(rng.integers(0, _EVENT_SPAN_US, n))
    users = max(1, c["customer"] // 10)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _EVENT_T0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, users, n, dtype=np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.round(rng.gamma(2.0, 40.0, n), 2),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
        ),
    })


def _documents(rng, c) -> pa.Table:
    # Two kinds of near-duplicate cluster for the dedup workload:
    # - chains: n // 100 paths of CHAIN_LEN docs cut from one random word
    #   stream, each doc the next CHAIN_WORDS words after a CHAIN_STRIDE
    #   shift. Neighbours share 22 words (3-gram Jaccard ~0.36), docs two
    #   apart share 4 (~0.03, under the 0.1 threshold), so each chain is
    #   a path of diameter CHAIN_LEN - 1. Ids rise along the path, so
    #   min-label propagation needs CHAIN_LEN - 1 rounds for every seed;
    # - stars: 5% of the other docs are a copy of an earlier original
    #   (not itself a copy, not in a chain) plus " dup".
    n = c["documents"]
    lens = rng.integers(10, 101, n)
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    ids = rng.permutation(n)
    n_chain_docs = max(1, n // 100) * CHAIN_LEN
    in_chain = np.zeros(n, dtype=bool)
    in_chain[ids[:n_chain_docs]] = True
    stream_len = CHAIN_STRIDE * (CHAIN_LEN - 1) + CHAIN_WORDS
    for chain in np.sort(ids[:n_chain_docs].reshape(-1, CHAIN_LEN), axis=1):
        stream = words[rng.integers(0, len(words), stream_len)]
        for j, d in enumerate(chain):
            texts[d] = " ".join(stream[j * CHAIN_STRIDE:j * CHAIN_STRIDE + CHAIN_WORDS])
    free = np.sort(ids[n_chain_docs:])
    # free[0] is never a copy, so every copy has an original before it
    dups = np.sort(rng.choice(free[1:], size=max(1, n // 20), replace=False))
    is_dup = np.zeros(n, dtype=bool)
    is_dup[dups] = True
    for i in dups:
        src = int(rng.integers(0, i))
        while is_dup[src] or in_chain[src]:
            src = int(rng.integers(0, i))
        texts[i] = texts[src] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, c) -> pa.Table:
    n, dim = c["embeddings"], 64
    vals = rng.normal(0.0, 0.12, n * dim).astype(np.float32)
    offsets = np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(vals, pa.float32())),
        "label": rng.integers(0, 10, n, dtype=np.int32),
    })


_BUILDERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def write_tables(out_dir: str, seed: int, scale: float, names=TABLES) -> dict[str, int]:
    """Write ``<out_dir>/<name>.parquet`` per table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in build_tables(seed, scale, names).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))
        rows[name] = tbl.num_rows
    return rows

