"""Seeded synthetic corpus for the benchmark.

Writes the ten tables the engine reads (``session.TABLES``) as one
parquet file each, with the column names, arrow types and value
domains of the engine's reference corpora: a TPC-H-shaped star schema
(uniform, independent columns), an ``events`` stream sorted by ``ts``,
a ``documents`` corpus over a 30-word vocabulary with planted near- and
exact duplicates, and unit-norm 64-d ``embeddings``.

Row counts follow the TPC-H scale factor ``sf`` (lineitem = 6M * sf).
``dirty=True`` adds the defects an ETL ingest meets: exact duplicate
lineitem rows and lineitem rows whose order does not exist.

The same (sf, seed, dirty) always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EMB_DIM = 64

_US_PER_DAY = 86_400_000_000


def _dates(rng, n: int, first: str, last: str) -> np.ndarray:
    span = int((np.datetime64(last, "D") - np.datetime64(first, "D")).astype(int))
    days = rng.integers(0, span + 1, n)
    return np.datetime64(first, "us") + days.astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tpch(rng, out: str, sf: float, dirty: bool) -> None:
    n_cust, n_supp, n_part = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5), max(int(200_000 * sf), 10)
    n_ord, n_li = max(int(1_500_000 * sf), 10), max(int(6_000_000 * sf), 40)

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
    })
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500_000)),
        "o_orderdate": pa.array(_dates(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    li = {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.integers(0, 3, n_li),
        "l_linestatus": rng.integers(0, 2, n_li),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04"),
    }
    if dirty:
        # 1% orphans (orderkey past the last order), then 1% exact
        # duplicate rows appended at random positions
        orphan = rng.choice(n_li, n_li // 100, replace=False)
        li["l_orderkey"][orphan] = n_ord + rng.integers(0, n_ord, orphan.size)
        dup = rng.choice(n_li, n_li // 100, replace=False)
        order = rng.permutation(n_li + dup.size)
        li = {k: np.concatenate([v, v[dup]])[order] for k, v in li.items()}
    flags = np.array(["A", "N", "R"], dtype=object)
    status = np.array(["F", "O"], dtype=object)
    li["l_returnflag"] = flags[li["l_returnflag"]]
    li["l_linestatus"] = status[li["l_linestatus"]]
    _write(out, "lineitem", {k: pa.array(v) for k, v in li.items()})


def events(rng, out: str, sf: float) -> None:
    n = max(int(1_000_000 * sf), 100)
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(n * 3 // 200, 2), n)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, out: str, sf: float) -> None:
    n = max(int(50_000 * sf), 500)
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), (n, 100))
    vocab = np.array(VOCAB, dtype=object)
    text = [" ".join(vocab[words[i, : lens[i]]]) for i in range(n)]
    # 5% near-duplicates (a copy of another document plus a marker
    # token) and 0.2% exact copies
    for i in rng.choice(n, n // 20, replace=False):
        text[i] = text[rng.integers(0, n)] + " dup"
    for i in rng.choice(n, max(n // 500, 1), replace=False):
        text[i] = text[rng.integers(0, n)]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })


def embeddings(rng, out: str, sf: float) -> None:
    n = max(int(20_000 * sf), 500)
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMB_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def generate(out: str, sf: float, seed: int, dirty: bool) -> str:
    """Write the corpus for ``(sf, seed, dirty)`` under ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1_000_000), int(dirty)])
    tpch(rng, out, sf, dirty)
    events(rng, out, sf)
    documents(rng, out, sf)
    embeddings(rng, out, sf)
    return out
