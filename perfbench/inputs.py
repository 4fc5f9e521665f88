"""Seeded input tables for the pipeline benchmark.

Writes the tables a workload reads (any of ``documents``, ``embeddings``,
``orders``, ``part``) as ``<out>/<name>.parquet``, with the same column names
and parquet types as the engine's synthetic test catalog, so
``tables.load_table(spark, out, name)`` and the DuckDB oracles read them
unchanged. Everything is drawn from one ``numpy`` generator seeded by
``--seed``: the same seed and sizes give byte-identical files.

Every table is written in a seeded row order, so results must not depend on
row order. ``documents`` and ``embeddings`` carry seeded near-duplicate
clusters (edited copies of earlier rows), so the dedup, clustering and
connected-components stages do real work.

Usage: python3 perfbench/inputs.py --seed 1 --out DIR \
           --sizes '{"documents": 500, "orders": 15000, "part": 2000}'
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part big "
    "sort query fast the"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
N_SOURCES = 20
NEAR_DUP_SHARE = 0.15
EXACT_DUP_SHARE = 0.03
DIM = 64
LABELS = 10
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _permuted(rng: np.random.Generator, table: pa.Table) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 10 and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), size=int(rng.integers(1, 4))):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), size=k)))
    ids = np.arange(n, dtype=np.int64)
    t = pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in ids], pa.string()),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    return _permuted(rng, t)


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, LABELS, size=n).astype(np.int32)
    vecs = 0.6 * centers[labels] + rng.normal(scale=0.1, size=(n, DIM))
    dups = np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE)
    dups = dups[dups > 0]
    src = (rng.random(len(dups)) * dups).astype(np.int64)
    vecs[dups] = vecs[src] + rng.normal(scale=0.005, size=(len(dups), DIM))
    labels[dups] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    t = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32)), flat
            ),
            "label": labels,
        }
    )
    return _permuted(rng, t)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    days = rng.integers(lo, hi, size=n).astype("timedelta64[D]")
    return pa.array(EPOCH_1995 + days, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    t = pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, max(n // 10, 1), size=n, dtype=np.int64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n).tolist()),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, 0, 2404, n),
            "o_orderpriority": pa.array(
                rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n
                ).tolist()
            ),
        }
    )
    return _permuted(rng, t)


def part(rng: np.random.Generator, n: int) -> pa.Table:
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    keys = np.arange(n, dtype=np.int64)
    t = pa.table(
        {
            "p_partkey": keys,
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(adjectives, n), rng.choice(nouns, n))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, size=n)]),
            "p_type": pa.array(
                rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n).tolist()
            ),
            "p_size": rng.integers(1, 51, size=n).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
        }
    )
    return _permuted(rng, t)


def generate(out: str, seed: int, sizes: dict[str, int]) -> dict:
    """Write each table named in ``sizes`` (table -> rows) under ``out``;
    return ``{"rows": n, "bytes": n, "sha256": hex}`` over all of them. The
    digest covers every file's name and content, so it keys cached oracle
    results to exactly this input."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    makers = {
        "documents": lambda: documents(rng, sizes["documents"]),
        "embeddings": lambda: embeddings(rng, sizes["embeddings"]),
        "orders": lambda: orders(rng, sizes["orders"]),
        "part": lambda: part(rng, sizes["part"]),
    }
    rows = nbytes = 0
    digest = hashlib.sha256()
    for name, make in makers.items():
        if name not in sizes:
            continue
        table = make()
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(table, path)
        rows += table.num_rows
        nbytes += os.path.getsize(path)
        with open(path, "rb") as f:
            digest.update(name.encode() + b"\0" + f.read())
    return {"rows": rows, "bytes": nbytes, "sha256": digest.hexdigest()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sizes", required=True, help='JSON table -> rows, e.g. {"documents": 500}')
    a = ap.parse_args()
    print(json.dumps(generate(a.out, a.seed, json.loads(a.sizes))))


if __name__ == "__main__":
    main()
