#!/usr/bin/env python
"""Generate a 10x (sf1.0-like) measurement dataset from /root/testdata/sf0.1.

The driver's round-end measurement escalates to a driver-generated sf1.0
(BENCH_r05.json: "sf": 1.0, sf_escalated_from 0.1) which is not kept on
disk between rounds. This script rebuilds a *representative* dataset at
that scale for the optimization round's own measurements (guide §1 —
"optimizations must hold at both sizes"). It is measurement tooling only:
nothing in the query paths reads its output unless $SPARK_GRAFT_SF_DIR
points at it.

Shape (10x sf0.1, mirroring TESTDATA.md's linear-in-sf row counts):
  lineitem 6M, orders 1.5M, events 1M, customer 150k, part 200k,
  supplier 10k, documents 50k (fresh word-salad text from the observed
  sf0.1 vocabulary + ~1% planted near-dup pairs, mirroring the planted
  corpus the dedup queries are tuned against), embeddings 20k (original
  vectors + small noise), region/nation unchanged (fixed dims).

Copy k of a fact table offsets its keys by k*STRIDE so PK/FK joins keep
the same selectivity; n_nationkey/r_regionkey stay in range.

Usage: python bench_extra_datagen.py [outdir]   (default /dev/shm/sf1.0)
Then: SPARK_GRAFT_SF_DIR=/dev/shm/sf1.0 python bench.py
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
OUT = sys.argv[1] if len(sys.argv) > 1 else "/dev/shm/sf1.0"
COPIES = 10

STRIDES = {
    "o_orderkey": 10_000_000,
    "l_orderkey": 10_000_000,
    "c_custkey": 1_000_000,
    "o_custkey": 1_000_000,
    "s_suppkey": 100_000,
    "l_suppkey": 100_000,
    "p_partkey": 1_000_000,
    "l_partkey": 1_000_000,
    "event_id": 10_000_000,
    "user_id": 1_000_000,
}


def replicate(con: duckdb.DuckDBPyConnection, table: str, cols: list[str]) -> None:
    keyed = [c for c in cols if c in STRIDES]
    selects = []
    for k in range(COPIES):
        proj = ", ".join(
            f"{c} + {k * STRIDES[c]} AS {c}" if c in keyed else c for c in cols
        )
        selects.append(f"SELECT {proj} FROM src")
    con.execute(f"CREATE OR REPLACE VIEW src AS SELECT * FROM read_parquet('{SRC}/{table}.parquet')")
    con.execute(
        f"COPY ({' UNION ALL '.join(selects)}) TO '{OUT}/{table}.parquet' (FORMAT PARQUET)"
    )


def gen_documents(con: duckdb.DuckDBPyConnection) -> None:
    rng = np.random.default_rng(420)
    base = con.sql(f"SELECT * FROM read_parquet('{SRC}/documents.parquet')").arrow()
    texts = base.column("text").to_pylist()
    langs = base.column("lang").to_pylist()
    sources = base.column("source").to_pylist()
    words: list[str] = []
    lens: list[int] = []
    for t in texts:
        ws = t.split()
        words.extend(ws)
        lens.append(len(ws))
    vocab, counts = np.unique(np.array(words), return_counts=True)
    probs = counts / counts.sum()
    lens_arr = np.array(lens)

    n_new = (COPIES - 1) * len(texts)
    new_lens = rng.choice(lens_arr, size=n_new)
    draws = rng.choice(vocab, size=int(new_lens.sum()), p=probs)
    out_texts: list[str] = []
    pos = 0
    for ln in new_lens:
        out_texts.append(" ".join(draws[pos : pos + ln]))
        pos += ln
    # plant ~1% near-dup pairs: overwrite doc i+1 with a 1-word edit of doc i
    n_pairs = n_new // 200
    idx = rng.choice(n_new - 1, size=n_pairs, replace=False)
    for i in idx:
        ws = out_texts[i].split()
        if len(ws) > 3:
            ws[int(rng.integers(len(ws)))] = str(rng.choice(vocab))
        out_texts[i + 1] = " ".join(ws)

    doc_ids = list(range(len(texts), len(texts) + n_new))
    new_langs = [langs[i % len(langs)] for i in range(n_new)]
    new_sources = [sources[i % len(sources)] for i in range(n_new)]
    tbl_new = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(out_texts, pa.string()),
            "lang": pa.array(new_langs, pa.string()),
            "source": pa.array(new_sources, pa.string()),
            "n_chars": pa.array([len(t) for t in out_texts], pa.int64()),
        }
    )
    pq.write_table(pa.concat_tables([base, tbl_new]), f"{OUT}/documents.parquet")


def gen_embeddings() -> None:
    rng = np.random.default_rng(421)
    base = pq.read_table(f"{SRC}/embeddings.parquet")
    vecs = np.array(base.column("embedding").to_pylist(), dtype=np.float32)
    labels = np.array(base.column("label").to_pylist())
    n, dim = vecs.shape
    parts = [base]
    for k in range(1, COPIES):
        noisy = vecs + rng.normal(0, 0.05, size=vecs.shape).astype(np.float32)
        parts.append(
            pa.table(
                {
                    "vec_id": pa.array(range(k * 1_000_000, k * 1_000_000 + n), pa.int64()),
                    "embedding": pa.array([v for v in noisy.tolist()], pa.list_(pa.float32())),
                    "label": pa.array(labels, pa.int32()),
                }
            )
        )
    pq.write_table(pa.concat_tables(parts), f"{OUT}/embeddings.parquet")


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    for t in ["region", "nation"]:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet')) TO '{OUT}/{t}.parquet' (FORMAT PARQUET)"
        )
    for t in ["customer", "supplier", "part", "orders", "lineitem", "events"]:
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{SRC}/{t}.parquet')"
            ).fetchall()
        ]
        replicate(con, t, cols)
        print(f"{t}: done")
    gen_documents(con)
    print("documents: done")
    gen_embeddings()
    print("embeddings: done")
    open(os.path.join(OUT, "_DONE"), "w").close()


if __name__ == "__main__":
    main()
