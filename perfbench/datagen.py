"""Seeded input tables for the benchmark workloads.

The engine's graph derivations read TPC-H-shaped parquet tables
(``ugfraud_spark.sources.tables``). The benchmark may only read and write
inside its own checkout, so it writes those tables itself: numpy draws
from ``seed``, written with pyarrow. The same (sf, seed) always gives
byte-identical files. Shapes follow the engine's test data: lineitem has
``6e6·sf`` rows over ``1.5e6·sf`` orders and ``2e5·sf`` parts; documents
are 10-100 words from a 30-word vocabulary with 5% near-duplicates that
end in " dup"; events span January 2024 over ``1.5e4·sf`` users;
embeddings are unit-norm float32 vectors of width 64.

The output directory is named ``sf<sf>`` because the engine derives the
unipartite vertex modulus from that name (``tables.uni_mod_for``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the a join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
EVENT_TYPES = np.array(["click", "purchase", "error", "signup", "view"])
EMBED_DIM = 64
JAN_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
MONTH_US = 30 * 86_400 * 1_000_000


def _lineitem(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(round(6_000_000 * sf))
    n_orders = max(int(round(1_500_000 * sf)), 1)
    orderkey = np.sort(rng.integers(0, n_orders, n))
    # line numbers count up within each order
    starts = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    lens = np.diff(np.r_[starts, n])
    linenumber = (np.arange(n) - np.repeat(starts, lens) + 1).astype(np.int32)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    ship_days = rng.integers(0, 2500, n)
    return pa.table({
        "l_orderkey": orderkey.astype(np.int64),
        "l_partkey": rng.integers(0, max(int(round(200_000 * sf)), 1), n),
        "l_suppkey": rng.integers(0, max(int(round(10_000 * sf)), 1), n),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["N", "A", "R"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": pa.array(
            (np.datetime64("1995-01-01") + ship_days).astype("datetime64[us]")),
    })


def _documents(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(500, int(round(50_000 * sf)))
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     int(rng.integers(10, 100)))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": np.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(1000, int(round(1_000_000 * sf)))
    ts = np.sort(JAN_2024_US + rng.integers(0, MONTH_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, max(15, int(round(15_000 * sf))), n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _embeddings(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(500, int(round(20_000 * sf)))
    label = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, EMBED_DIM))
    x = centers[label] + rng.normal(scale=1.5, size=(n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(x.ravel()), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": label,
    })


MAKERS = {
    "lineitem": _lineitem,
    "documents": _documents,
    "events": _events,
    "embeddings": _embeddings,
}


def write_tables(root: str, sf: float, seed: int, names: list[str]) -> str:
    """Write ``names`` under ``root/sf<sf>/<name>.parquet``; returns the
    directory. Each table draws from its own stream of ``seed``, so the
    set of tables written does not change any one table's contents."""
    out = os.path.join(root, f"sf{sf:g}")
    os.makedirs(out, exist_ok=True)
    for name in names:
        stream = sorted(MAKERS).index(name)
        rng = np.random.default_rng([seed, stream])
        pq.write_table(MAKERS[name](rng, sf), os.path.join(out, f"{name}.parquet"))
    return out
