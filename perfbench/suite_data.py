"""The query_suite dataset: the ten tables the registry queries read.

Shapes and value ranges follow the repository's TPC-H-like test tables (one
parquet file per table); row counts are those of its sf0.01. The
dataset is a fixed function of ``DATA_SEED``, so the DuckDB oracles and the
recorded output hashes hold for every benchmark seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20_251_016
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 200,
}
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word salad over a 30-word vocabulary, with about 5% near-duplicates
    (an earlier document plus one word) and a few exact copies."""
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.05:
            texts.append(texts[rng.integers(i)] + " dup")
        elif i and r < 0.052:
            texts.append(texts[rng.integers(i)])
        else:
            words = rng.choice(VOCAB, size=rng.integers(10, 101))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(langs, n), pa.string()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors in 64 dimensions around ten labelled centres."""
    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n)
    v = centres[label] + rng.normal(scale=0.8, size=(n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731
    days = lambda k, span: EPOCH_1995_US + rng.integers(0, span, k) * DAY_US  # noqa: E731
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
                "c_acctbal": money(-999.99, 9999.99, n["customer"]),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    n["customer"],
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
                "s_acctbal": money(-999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(["large", "hot", "blue", "small", "red"], n["part"]),
                        rng.choice(["ring", "bolt", "nut", "gear", "pipe"], n["part"]),
                    )
                ],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
                "p_type": rng.choice(
                    ["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO", "MEDIUM"], n["part"]
                ),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
                "o_totalprice": money(1000, 500_000, n["orders"]),
                "o_orderdate": _ts(days(n["orders"], 2404)),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"]
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype("float64"),
                "l_extendedprice": money(900, 100_000, n["lineitem"]),
                "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
                "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
                "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
                "l_linestatus": rng.choice(["O", "F"], n["lineitem"]),
                "l_shipdate": _ts(days(n["lineitem"], 2500)),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n["events"]), pa.int64()),
                "ts": _ts(
                    EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n["events"]))
                ),
                "user_id": pa.array(rng.integers(0, n["events"] // 66, n["events"]), pa.int64()),
                "event_type": rng.choice(
                    ["click", "view", "purchase", "signup", "error"], n["events"]
                ),
                "value": np.round(rng.exponential(60.0, n["events"]), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return out


def tables_on_disk(dest: str) -> list[str]:
    return sorted(f[: -len(".parquet")] for f in os.listdir(dest) if f.endswith(".parquet"))


def write(dest: str, seed: int = DATA_SEED) -> None:
    """One ``<table>.parquet`` file per table under ``dest``."""
    os.makedirs(dest, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
